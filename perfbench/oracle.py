"""Correctness oracle for the ingest benchmark.

Expected values come from the generated rows (``gen.render``);
delivered values are read straight from the target's parquet files
with pyarrow. Neither side uses Spark or the program's own
observe-vs-read-back checksum, so a restore that verifies itself
wrongly is still caught here.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq


def row_digest(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, content checksum) of a table: the wrapping uint64 sum of
    per-row hashes over the DDL columns (``_``-prefixed engine columns
    ignored). Integers widen to int64 and timestamps become epoch
    microseconds first, so generated and delivered rows hash alike.
    A sum, not an XOR, so a duplicated row cannot cancel out."""
    norm = {}
    for c in sorted(c for c in df.columns if not c.startswith("_")):
        s = df[c].reset_index(drop=True)
        if s.dtype.kind == "M":
            s = s.astype("datetime64[us]").astype(np.int64)
        elif s.dtype.kind in "iu":
            s = s.astype(np.int64)
        elif s.dtype.kind != "f":
            s = s.astype(object)
        norm[c] = s
    h = pd.util.hash_pandas_object(pd.DataFrame(norm), index=False)
    return len(df), int(h.to_numpy(np.uint64).sum(dtype=np.uint64))


def parquet_files(table_dir: str) -> list[str]:
    return sorted(
        glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True)
    )


def delivered_digest(table_dir: str) -> tuple[int, int]:
    files = parquet_files(table_dir)
    if not files:
        return 0, 0
    frames = [pq.read_table(p).to_pandas() for p in files]
    return row_digest(pd.concat(frames, ignore_index=True))


def check(manifest: dict, table_dir: str) -> str | None:
    """None when the delivered table matches the manifest's expected
    rows and checksum, else the reason it does not."""
    rows, digest = delivered_digest(table_dir)
    if rows != manifest["expected_rows"]:
        return f"rows {rows} != expected {manifest['expected_rows']}"
    if str(digest) != manifest["expected_digest"]:
        return "content checksum differs from the generated rows"
    return None
