"""F4/T5: deterministic row-id assignment.

The reference gives every chunk a reserved row-id range computed at
plan time (PrevRowIDMax/RowIDMax, lightning/mydump/region.go:146-170)
and increments within the chunk (parser.go:429, csv_parser.go:97).
Ranges are *estimates* (file_size / column-width divisor), so ids are
unique and monotonic but may have gaps between chunks — exactly the
semantics we reproduce:

- ``assign_rowid``: one pass, zero shuffles. Each partition is a
  "chunk"; base = partition_id * capacity; local index via an
  Arrow-batched cumulative counter (mapInPandas). Unique +
  deterministic for a deterministic input plan, gaps allowed. This is
  the 100 TB path.

- ``assign_rowid_dense``: exact dense 1..N ids given a total order
  key — two passes (per-partition counts, then offsets), mirroring
  how the reference gets exact continuation for auto-increment
  rebase. Range-partitioned, never a single-partition window.

NOT implemented with ``monotonically_increasing_id`` (non-dense,
non-contiguous semantics are underdocumented) nor a global
``row_number()`` window (single-partition bottleneck).
"""

from __future__ import annotations

import weakref
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

ROWID = "_row_id"

#: per-session memo of the tiny per-file bases frames (see
#: _file_base_rowids) — keyed by the expanded bases mapping
_BMAP_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def metadata_df(spark, rows: list, schema) -> DataFrame:
    """Small metadata frame in ONE partition (a broadcast build
    side): plain createDataFrame splits even a 32-row list across
    defaultParallelism partitions (the broadcast then schedules 32
    near-empty tasks as an extra job per restore), and a .repartition
    to fix the layout is a shuffle AQE materializes as its own job.

    Converts through pandas/Arrow instead of parallelize(): the Arrow
    batch is built locally, so materializing the broadcast costs
    ~half the wall of the 1-task RDD scan (measured 0.52 -> 0.24 s per
    build at 32 rows; one build per table per restore). Read plans
    that map one task per entry use ``sources.map_tasks`` instead."""
    if rows:
        try:
            import pandas as pd

            names = [f.name for f in schema.fields]
            return spark.createDataFrame(
                pd.DataFrame(rows, columns=names), schema
            )
        except Exception:
            pass  # arrow/pandas conversion edge: RDD path below
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)


# 2^33 rows per partition capacity: 8.5B rows/chunk never overflows
# at 100 TB with <= 2^30 partitions.
_PARTITION_CAPACITY = 1 << 33


def _local_index_mapper(schema):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        for pdf in batches:
            n = len(pdf)
            pdf = pdf.copy()
            pdf["_local_idx"] = range(seen, seen + n)
            seen += n
            yield pdf

    return fn


def _with_local_index(df: DataFrame) -> DataFrame:
    """Add _pid + _local_idx without shuffling (Arrow batches)."""
    from pyspark.sql import types as T

    d = df.withColumn("_pid", F.spark_partition_id())
    out_schema = T.StructType(
        list(d.schema.fields) + [T.StructField("_local_idx", T.LongType(), False)]
    )
    return d.mapInPandas(_local_index_mapper(out_schema), schema=out_schema)


def assign_rowid(df: DataFrame, start: int = 1) -> DataFrame:
    """Single-pass unique row-ids with reserved per-partition ranges."""
    d = _with_local_index(df)
    return d.withColumn(
        ROWID,
        (F.col("_pid").cast("long") * F.lit(_PARTITION_CAPACITY))
        + F.col("_local_idx")
        + F.lit(start),
    ).drop("_pid", "_local_idx")


def assign_rowid_mono(df: DataFrame, start: int = 1) -> DataFrame:
    """Capacity-scheme row-ids with ZERO extra passes (all-JVM):
    ``monotonically_increasing_id`` IS ``pid * 2^33 +
    row_index_in_partition``, which is exactly the capacity scheme —
    used here ONLY for uniqueness (compressed/columnar sources where
    byte-estimate bases are unsafe), never for density or dump-order
    claims (the module-docstring caveat about mono-id is about those
    claims). Callers separate concurrent sources into disjoint id
    lanes via ``start``."""
    return df.withColumn(
        ROWID, F.monotonically_increasing_id() + F.lit(int(start))
    )


def estimate_id_ceiling(
    files: list[tuple[str, int]],
    num_columns: int,
    split_bytes: int | None = None,
) -> int:
    """Upper bound of every byte-estimate row-id this table's CSV/SQL
    frames can produce (the chained file_row_bases total) — capacity-
    scheme lanes start PAST this so mixed-source unions cannot
    collide (a fixed offset would not clear large tables).
    ``split_bytes``: account for chunk-split reads' one-extra-id-per-
    block cushion (file_row_bases_split)."""
    divisor = max(num_columns, 1)
    total = 0
    for _, sz in files:
        total += max(sz // divisor, 1) + 2
        if split_bytes:
            total += max(-(-sz // max(split_bytes, 1)), 1)
    return total + 1


def file_row_bases(
    files: list[tuple[str, int]], num_columns: int, is_sql: bool = False
) -> dict[str, int]:
    """Reserved row-id base per file, exactly the reference's scheme:
    estimated rows = file_size / divisor with divisor = #columns
    (+2 for .sql dumps), chained cumulatively
    (lightning/mydump/region.go:146-170). The estimate is a safe
    upper bound: every delimited row occupies >= divisor bytes.
    """
    divisor = max(num_columns + (2 if is_sql else 0), 1)
    bases: dict[str, int] = {}
    base = 0
    for path, size in files:
        bases[path] = base
        base += max(size // divisor, 1) + 1
    return bases


def assign_rowid_by_file(
    df: DataFrame,
    bases: dict[str, int],
    one_file_per_partition: bool = False,
) -> DataFrame:
    """Row-ids = plan-time per-file base + in-file row number.

    Matches the reference's chunk semantics (PrevRowIDMax + per-row
    increment, parser.go:429): deterministic, unique, dense within a
    file, bounded gaps between files — so ``max(rowid)`` stays O(rows)
    and AllocBase rebase behaves like the reference's.

    Pure JVM, no wide shuffle, no Python exchange:
    ``monotonically_increasing_id`` is ``(partition_id << 33) +
    row_index_in_partition`` — contiguous within a partition — and
    our file reads are unsplit (multiLine CSV / one-file-per-task
    .sql), so each file's rows are one contiguous mono-id run.
    Job 1 aggregates ``min(mono)`` per file (output: #files rows);
    job 2 computes ``rowid = base[file] + (mono - min_mono[file]) + 1``
    via a broadcast join. Data-plane cost: one extra column scan —
    no repartitioning of the 100 TB stream.

    ``one_file_per_partition=True`` (the caller guarantees each task
    owns exactly one whole file — true for multiLine CSV / .sql reads
    under the session's huge ``spark.sql.files.openCostInBytes``,
    which disables FilePartition bin-packing): then ``mono & (2^33-1)``
    IS the in-file row index and the min-agg job disappears — row-ids
    come from plan-time ``bases`` with ZERO extra jobs/scans.
    """
    if one_file_per_partition:
        local = F.monotonically_increasing_id().bitwiseAND(
            F.lit(_PARTITION_CAPACITY - 1)
        )
        return _file_base_rowids(df, bases, local)

    d = df.withColumn(
        "_fname", F.regexp_replace(F.input_file_name(), "^file:/*", "/")
    ).withColumn("_mono", F.monotonically_increasing_id())

    mins = (
        d.groupBy("_fname").agg(F.min("_mono").alias("_mn")).collect()
    )  # O(#files) rows on the driver
    spark = df.sparkSession
    base_rows = [
        (r["_fname"], int(r["_mn"]), bases.get(r["_fname"], 0)) for r in mins
    ]
    # explicit schema: zero-row input (valid empty table) yields no
    # rows to infer from, and createDataFrame([], [names]) raises
    bmap_schema = T.StructType(
        [
            T.StructField("_fname", T.StringType()),
            T.StructField("_mn", T.LongType()),
            T.StructField("_fbase", T.LongType()),
        ]
    )
    bmap = metadata_df(spark, base_rows, bmap_schema)

    return (
        d.join(F.broadcast(bmap), "_fname", "left")
        .withColumn(
            ROWID,
            F.coalesce(F.col("_fbase"), F.lit(0))
            + (F.col("_mono") - F.coalesce(F.col("_mn"), F.lit(0)))
            + F.lit(1),
        )
        .drop("_fname", "_mono", "_mn", "_fbase")
    )


def _file_base_rowids(
    df: DataFrame,
    bases: dict[str, int],
    in_file_index: "Column",
) -> DataFrame:
    """rowid = plan-time per-file base + ``in_file_index`` + 1, with
    the base broadcast-joined on ``input_file_name()``.

    Shared by the whole-file scheme (index = mono low bits) and the
    chunk-split scheme (index = chunk byte-offset base + mono low
    bits). Map keys are normalized to input_file_name()'s URI aliases
    at PLAN time ("file:///x" / raw path) so no per-row regexp runs —
    the rowid expression gets inlined into multiple downstream
    projections (CollapseProject duplicates it), so per-row cost
    matters doubly. The base table is a broadcast join, not a literal
    create_map: codegen rebuilds a literal map PER ROW (measurably
    slower even at 32 files), while the hash probe is O(1) — and
    still zero data-plane aggregation jobs."""

    def _keyed(k: str) -> list[str]:
        if "://" in k:
            return [k]
        return [f"file://{k}", k]

    expanded = {
        alias: int(v) for k, v in bases.items() for alias in _keyed(k)
    }
    if not expanded:
        return df.withColumn(ROWID, in_file_index + F.lit(1))
    spark = df.sparkSession
    # the tiny bases frame is memoized per (session, bases): the
    # createDataFrame round trips (~70ms at 32 files) would otherwise
    # repeat for every engine batch of every run of the same dump
    key = tuple(sorted(expanded.items()))
    try:
        cache = _BMAP_MEMO.setdefault(spark, {})
    except TypeError:  # pragma: no cover - mock sessions
        cache = None
    bmap = cache.get(key) if cache is not None else None
    if bmap is None:
        bmap_schema = T.StructType(
            [
                T.StructField("_fname", T.StringType()),
                T.StructField("_fbase", T.LongType()),
            ]
        )
        bmap = metadata_df(
            spark, [(k, int(v)) for k, v in expanded.items()], bmap_schema
        )
        if cache is not None:
            cache[key] = bmap
    # a caller that already materialized _fname at SCAN time (the
    # split-path window fallback — input_file_name() is only defined
    # inside the file-scan stage, not above the window's shuffle)
    # keeps its column; otherwise evaluate it here, in the scan stage
    d = df if "_fname" in df.columns else df.withColumn(
        "_fname", F.input_file_name()
    )
    return (
        d.withColumn("_local", in_file_index)
        .join(F.broadcast(bmap), "_fname", "left")
        .withColumn(
            ROWID,
            F.coalesce(F.col("_fbase"), F.lit(0))
            + F.col("_local")
            + F.lit(1),
        )
        .drop("_fname", "_local", "_fbase")
    )


def _conf_bytes(v: str) -> int:
    # JavaUtils.byteStringAsBytes subset: bare bytes or k/m/g/t
    # with optional trailing 'b' ("128m", "128mb", "134217728")
    v = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30),
        ("tb", 1 << 40), ("k", 1 << 10), ("m", 1 << 20),
        ("g", 1 << 30), ("t", 1 << 40), ("b", 1),
    ):
        if v.endswith(suf):
            v = v[: -len(suf)]
            mult = m
            break
    return int(float(v) * mult)


def split_bytes_lower_bound(spark) -> int:
    """A plan-time LOWER bound on Spark's actual file-split size:
    maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    bytesPerCore)) >= min(maxPartitionBytes, openCostInBytes)
    (FilePartition.maxSplitBytes). Used for the per-block row-id
    cushion — a lower bound on split size is an UPPER bound on block
    count, which keeps the cushion safe under any conf."""
    mpb = _conf_bytes(spark.conf.get("spark.sql.files.maxPartitionBytes"))
    oc = _conf_bytes(spark.conf.get("spark.sql.files.openCostInBytes"))
    return max(min(mpb, max(oc, 1)), 1)


def file_row_bases_split(
    files: list[tuple[str, int]],
    num_columns: int,
    split_bytes: int,
    divisor: int | None = None,
) -> dict[str, int]:
    """Per-file bases for chunk-split reads: capacity = size/divisor
    PLUS one row per block — a line straddling a block boundary makes
    that block hold up to one row more than its byte capacity implies
    (the trailing line is read past the block end), so each file
    reserves ceil(size / split_bytes) extra ids.

    ``divisor`` defaults to the column count (a delimited CSV row
    occupies >= #columns bytes); line-delimited formats with a
    different minimum row width pass it explicitly (JSONL:
    csv_blocks.JSONL_MIN_LINE_BYTES — a row is at least "{}\\n")."""
    divisor = max(num_columns if divisor is None else divisor, 1)
    bases: dict[str, int] = {}
    base = 0
    for path, size in files:
        bases[path] = base
        blocks = max(-(-size // max(split_bytes, 1)), 1)
        base += max(size // divisor, 1) + blocks + 1
    return bases


def assign_rowid_by_file_split(
    df: DataFrame,
    bases: dict[str, int],
    divisor: int,
    split_bytes: int,
) -> DataFrame:
    """Row-ids for CHUNK-SPLIT file reads (strict-format CSV): each
    byte-range block gets the reserved base

        rowid = file_base + floor(off / divisor) + floor(off / S) + i + 1

    with ``off`` the block's byte offset, ``S`` the split size and
    ``i`` the row index inside the block — the reference's
    SplitLargeFile scheme (mydump/region.go:87-143:
    chunk.PrevRowIDMax = offset/divisor, divisor = #columns). The
    byte-offset estimate is a safe capacity bound because every
    delimited row occupies >= divisor bytes; the floor(off/S) term
    adds one reserved id per preceding block, covering the boundary-
    straddling line each block may absorb from beyond its byte range
    (the reference avoids this by re-aligning chunk offsets to line
    boundaries at plan time; Spark re-syncs at READ time, so the
    cushion restores the bound). Ids are unique, monotonic in file
    order, gaps allowed — same semantics as the whole-file path, so
    AllocBase/max-rowid behaves the same. ``bases`` must come from
    file_row_bases_split with the same split_bytes.

    Fast path precondition: one block per task (the session's huge
    openCostInBytes makes every split its own FilePartition) and an
    uncompressed, splittable read (multiLine=false). ``block_start``
    comes from input_file_block_start(), so the data plane needs NO
    extra job or scan — the 100 TB path for one giant CSV.

    Session portability: when the session is NOT configured for
    one-block-per-task (openCostInBytes < maxPartitionBytes — Spark
    then PACKS several splits into one FilePartition and
    monotonically_increasing_id keeps counting across the packed
    blocks), the operator self-heals instead of raising: the in-block
    index comes from a window partitioned by (file, block_start)
    ordered by the mono id, which is exact under ANY packing. That
    fallback costs one shuffle of (ids + projected columns); the
    zero-shuffle fast path stays the default under tlr4s.session."""
    spark = df.sparkSession
    try:
        oc = spark.conf.get("spark.sql.files.openCostInBytes")
        mpb = spark.conf.get("spark.sql.files.maxPartitionBytes")
    except Exception:  # pragma: no cover - conf always readable
        oc = mpb = None
    one_block_per_task = not (
        oc is not None
        and mpb is not None
        and _conf_bytes(oc) < _conf_bytes(mpb)
    )
    if one_block_per_task:
        # fast path: each byte-range block is its own task, so the low
        # bits of the mono id ARE the in-block row index — no shuffle.
        local = F.monotonically_increasing_id().bitwiseAND(
            F.lit(_PARTITION_CAPACITY - 1)
        )
        block_off = F.expr("input_file_block_start()")
        chunk_base = (
            F.floor(block_off / F.lit(max(int(divisor), 1)))
            + F.floor(block_off / F.lit(max(int(split_bytes), 1)))
        ).cast("long")
        return _file_base_rowids(df, bases, chunk_base + local)
    # portability fallback: blocks are packed into shared tasks;
    # derive an EXACT per-block index by windowing on the block
    # identity. The mono id is monotone within a task (and hence
    # within each packed block), so ordering by it preserves in-block
    # physical row order. ALL file-context expressions must be
    # materialized at SCAN time: above the window's shuffle,
    # input_file_name()/input_file_block_start() have no file context
    # and silently return constants.
    d = (
        df.withColumn("_fname", F.input_file_name())
        .withColumn("_boff", F.expr("input_file_block_start()"))
        .withColumn("_mono", F.monotonically_increasing_id())
    )
    local = (
        F.row_number().over(
            Window.partitionBy("_fname", "_boff").orderBy("_mono")
        )
        - F.lit(1)
    ).cast("long")
    chunk_base = (
        F.floor(F.col("_boff") / F.lit(max(int(divisor), 1)))
        + F.floor(F.col("_boff") / F.lit(max(int(split_bytes), 1)))
    ).cast("long")
    return _file_base_rowids(d, bases, chunk_base + local).drop(
        "_boff", "_mono"
    )


def assign_rowid_dense(
    df: DataFrame, order_by: list[str], start: int = 1, num_partitions: int | None = None
) -> DataFrame:
    """Exact dense ids 1..N in the total order given by ``order_by``.

    Plan: range-repartition on the key -> sort within partitions ->
    local index (no shuffle) -> tiny per-partition count agg ->
    broadcast-join cumulative bases. Both passes scan the shuffled
    data; at scale, persist the sorted frame if it is reused.
    """
    cols = [F.col(c) for c in order_by]
    d = df.repartitionByRange(*( [num_partitions] if num_partitions else [] ), *cols)
    d = d.sortWithinPartitions(*cols)
    d = _with_local_index(d)

    counts = (
        d.groupBy("_pid").agg(F.count(F.lit(1)).alias("_cnt")).collect()
    )  # O(partitions) rows on the driver
    base, bases = 0, []
    for row in sorted(counts, key=lambda r: r["_pid"]):
        bases.append((row["_pid"], base))
        base += row["_cnt"]
    spark = df.sparkSession
    bases_schema = T.StructType(
        [
            T.StructField("_pid", T.IntegerType()),
            T.StructField("_base", T.LongType()),
        ]
    )
    bases_df = metadata_df(
        spark, [(int(p), int(b)) for p, b in bases], bases_schema
    )

    return (
        d.join(F.broadcast(bases_df), "_pid")
        .withColumn(ROWID, F.col("_base") + F.col("_local_idx") + F.lit(start))
        .drop("_pid", "_local_idx", "_base")
    )
