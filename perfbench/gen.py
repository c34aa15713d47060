"""Deterministic inputs for the ingest benchmark.

The tables are TPC-H-shaped (``lineitem``, ``orders``) and come from a
fixed base seed, so every run restores the same rows. The run's
``--seed`` only decides how rows are spread over the dump files and,
for the replace workload, which keys get a later duplicate row. The
program under test sees nothing but the rendered mydumper directory.

The expected outcome of a restore (row count and content checksum) is
computed here from the generated rows, without Spark (``oracle.py``).
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from oracle import row_digest

BASE_SEED = 42
N_FILES = 8
SQL_ROWS_PER_INSERT = 200

LINEITEM_DDL = """CREATE TABLE lineitem (
  l_orderkey BIGINT NOT NULL, l_partkey BIGINT NOT NULL,
  l_suppkey BIGINT NOT NULL, l_linenumber INT NOT NULL,
  l_quantity DOUBLE NOT NULL, l_extendedprice DOUBLE NOT NULL,
  l_discount DOUBLE NOT NULL, l_tax DOUBLE NOT NULL,
  l_returnflag VARCHAR(1) NOT NULL, l_linestatus VARCHAR(1) NOT NULL,
  l_shipdate DATETIME NOT NULL{keys})"""
LINEITEM_KV_KEYS = (
    ",\n  PRIMARY KEY (l_orderkey, l_linenumber),\n  KEY (l_partkey)"
)
ORDERS_DDL = """CREATE TABLE orders (
  o_orderkey BIGINT PRIMARY KEY, o_custkey BIGINT,
  o_orderstatus VARCHAR(1), o_totalprice DOUBLE,
  o_orderdate DATETIME, o_orderpriority VARCHAR(20))"""

PRIORITIES = np.array(
    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], object
)
_DAY_US = 86_400_000_000
_EPOCH_1992 = 8035  # days from 1970-01-01 to 1992-01-01


def _dates(rng: np.random.Generator, n: int) -> np.ndarray:
    days = _EPOCH_1992 + rng.integers(0, 3650, n)
    return (days * _DAY_US).astype("datetime64[us]")


def lineitem(rows: int) -> pd.DataFrame:
    """``rows`` lineitem rows, unique on (l_orderkey, l_linenumber)."""
    rng = np.random.default_rng(BASE_SEED)
    per_order = rng.integers(1, 8, rows)  # 1..7 lines, mean 4
    per_order = per_order[: np.searchsorted(np.cumsum(per_order), rows) + 1]
    per_order[-1] -= per_order.sum() - rows
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    orderkey = np.repeat(np.arange(len(per_order), dtype=np.int64), per_order)
    linenumber = (np.arange(rows) - starts + 1).astype(np.int32)
    qty = rng.integers(1, 51, rows).astype(np.float64)
    df = pd.DataFrame(
        {
            "l_orderkey": orderkey,
            "l_partkey": rng.integers(0, max(rows // 30, 1), rows),
            "l_suppkey": rng.integers(0, max(rows // 600, 1), rows),
            "l_linenumber": linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2000, rows), 2),
            "l_discount": rng.integers(0, 11, rows) / 100,
            "l_tax": rng.integers(0, 9, rows) / 100,
            "l_returnflag": rng.choice(np.array(["R", "A", "N"], object), rows),
            "l_linestatus": rng.choice(np.array(["O", "F"], object), rows),
            "l_shipdate": _dates(rng, rows),
        }
    )
    return df.iloc[rng.permutation(rows)].reset_index(drop=True)


def orders(rows: int, rng: np.random.Generator | None = None) -> pd.DataFrame:
    """``rows`` orders with unique ``o_orderkey``; a caller-supplied
    ``rng`` draws fresh non-key values (the changed duplicates)."""
    base = rng is None
    rng = rng or np.random.default_rng(BASE_SEED + 1)
    df = pd.DataFrame(
        {
            "o_orderkey": rng.permutation(rows).astype(np.int64) if base else 0,
            "o_custkey": rng.integers(0, max(rows // 10, 1), rows),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"], object), rows),
            "o_totalprice": np.round(rng.uniform(800, 500_000, rows), 2),
            "o_orderdate": _dates(rng, rows),
            "o_orderpriority": rng.choice(PRIORITIES, rows),
        }
    )
    return df


def _fmt(col: pd.Series, quote: bool) -> np.ndarray:
    """Render one column as MySQL dump tokens (object array of str)."""
    if col.dtype.kind == "M":
        out = col.dt.strftime("%Y-%m-%d %H:%M:%S").to_numpy(object)
    elif col.dtype.kind == "f":
        out = np.array([repr(v) for v in col.tolist()], object)
    else:
        out = col.astype(str).to_numpy(object)
    if quote and col.dtype.kind in "MO":
        out = "'" + out + "'"
    return out


def render_lines(df: pd.DataFrame, fmt: str) -> np.ndarray:
    """One dump line per row: a CSV record or a ``(...)`` SQL tuple.
    Values hold no separator, quote or escape byte, so no escaping."""
    cols = [_fmt(df[c], fmt == "sql") for c in df.columns]
    out = cols[0]
    for c in cols[1:]:
        out = out + "," + c
    return "(" + out + ")" if fmt == "sql" else out


def write_dump(
    out_dir: str,
    table: str,
    ddl: str,
    lines: np.ndarray,
    file_of: np.ndarray,
    fmt: str,
) -> list[str]:
    """Write a mydumper layout: schema files plus ``N_FILES`` data
    files, row ``i`` going to file ``file_of[i]`` (stable order)."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "bench-schema-create.sql"), "w") as f:
        f.write("CREATE DATABASE IF NOT EXISTS `bench`;\n")
    with open(os.path.join(out_dir, f"bench.{table}-schema.sql"), "w") as f:
        f.write(ddl + ";\n")
    paths = []
    order = np.argsort(file_of, kind="stable")
    bounds = np.searchsorted(file_of[order], np.arange(N_FILES + 1))
    for k in range(N_FILES):
        part = lines[order[bounds[k] : bounds[k + 1]]]
        path = os.path.join(out_dir, f"bench.{table}.{k:04d}.{fmt}")
        with open(path, "w", encoding="utf-8", newline="") as f:
            if fmt == "csv":
                f.write("\n".join(part.tolist()) + "\n")
            else:
                f.write("/*!40101 SET NAMES binary*/;\n")
                for i in range(0, len(part), SQL_ROWS_PER_INSERT):
                    batch = ",\n".join(part[i : i + SQL_ROWS_PER_INSERT].tolist())
                    f.write(f"INSERT INTO `{table}` VALUES\n{batch};\n")
        paths.append(path)
    return paths


def _base_lines(base: pd.DataFrame, key: str, fmt: str, cache_dir: str):
    """The base table's dump lines, rendered once per checkout: they do
    not depend on the seed, and rendering is most of the input cost."""
    path = os.path.join(cache_dir, f"base-{key}.{fmt}.txt")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as f:
            return np.array(f.read().split("\n"), object)
    lines = render_lines(base, fmt)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w", encoding="utf-8") as f:
        f.write("\n".join(lines.tolist()))
    os.replace(path + ".tmp", path)
    return lines


def render(spec, seed: int, out_dir: str, cache_dir: str) -> dict:
    """Render ``spec``'s dump for ``seed`` into ``out_dir`` and return
    its manifest: data files, source bytes, parsed rows and the
    expected (rows, checksum). A complete dump of the same workload
    and seed is reused."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    ident = {"workload": spec.name, "rows": spec.rows, "seed": seed}
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest["ident"] == ident:
            return manifest
    shutil.rmtree(out_dir, ignore_errors=True)
    rng = np.random.default_rng(seed)
    if spec.table == "lineitem":
        base = lineitem(spec.rows)
        ddl = LINEITEM_DDL.format(keys=LINEITEM_KV_KEYS if spec.keys else "")
        file_of = rng.integers(0, N_FILES, len(base))
        lines = _base_lines(base, f"lineitem-{spec.rows}", spec.fmt, cache_dir)
        expected = base
    else:
        base = orders(spec.rows)
        ddl = ORDERS_DDL
        file_of = rng.integers(0, N_FILES, len(base))
        # last-wins duplicates: a changed copy of ~dup_fraction of the
        # keys, each placed in a strictly later file than the original
        cand = np.flatnonzero(file_of < N_FILES - 1)
        pick = np.sort(
            rng.choice(cand, int(len(base) * spec.dup_fraction), replace=False)
        )
        dups = orders(len(pick), rng)
        dups["o_orderkey"] = base["o_orderkey"].to_numpy()[pick]
        lines = np.concatenate(
            [
                _base_lines(base, f"orders-{spec.rows}", spec.fmt, cache_dir),
                render_lines(dups, spec.fmt),
            ]
        )
        file_of = np.concatenate(
            [file_of, rng.integers(file_of[pick] + 1, N_FILES)]
        )
        expected = base.copy()
        for c in expected.columns:
            expected.loc[pick, c] = dups[c].to_numpy()
    paths = write_dump(out_dir, spec.table, ddl, lines, file_of, spec.fmt)
    n, digest = row_digest(expected)
    manifest = {
        "ident": ident,
        "table": f"bench.{spec.table}",
        "files": [os.path.basename(p) for p in paths],
        "source_bytes": sum(os.path.getsize(p) for p in paths),
        "parsed_rows": len(lines),
        "expected_rows": n,
        "expected_digest": str(digest),
    }
    with open(manifest_path + ".tmp", "w") as f:
        json.dump(manifest, f)
    os.replace(manifest_path + ".tmp", manifest_path)
    return manifest
