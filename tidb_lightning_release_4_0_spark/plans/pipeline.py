"""The restore controller: the reference's fixed 6-step "plan"
(RestoreController.Run, lightning/restore/restore.go:252-287)
re-expressed as per-table Spark jobs.

    [1] preflight checks        (restore.go:1117-1134)
    [2] restore schema          (restore.go:289-333)
    [3] restore tables          (restore.go:563-685)
    [4] full compact            (restore.go:1056-1070)  -> sink finalize
    [5] switch to normal mode   (restore.go:1088-1091)  -> n/a
    [6] clean checkpoints       (restore.go:1217-1236)

Per table, the reference fans out engines/chunks/encode/deliver
goroutines (restore.go:736-852,1557-1803); all of that collapses
into one Spark stage pipeline per table:
``read (S3/S4) -> permutation/cast/rowid (F3,F4,T3-T5) -> sink
write (K3) -> checksum verify (C1-C3)``. Tables are submitted
smallest-first (O3, loader.go:213-220); failures collect into the
per-table error summary (O12, restore.go:89-129).
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import Config, strict_sql_mode
from ..functions.checksum import Checksum
from ..operators.permutation import apply_permutation
from ..sinks.base import Sink
from ..sinks.memory_sink import MemorySink
from ..sinks.parquet_sink import ParquetSink
from ..sources.csv_source import read_csv
from ..sources.mydump_loader import MDTableMeta, discover_cfg
from ..sources.schema_reader import TableSchema, load_table_schema
from ..sources.sql_dump_source import (
    lexer_fallbacks,
    probe_insert_columns,
    project_fields,
    read_sql_dump,
)
from .checkpoints import CheckpointStore, Status, invalid, metric_name

log = logging.getLogger("tidb_lightning_spark")


class CheckpointInvalidError(RuntimeError):
    """Raised at run start when a previous run left errored (invalid)
    checkpoints — the reference stops the whole task to prevent data
    loss (restore.go:597-653) and prints the ctl action that resolves
    each table."""

    def __init__(self, tables: dict[str, int]):
        self.tables = tables
        lines = [
            '["TiDB Lightning has failed last time. To prevent data '
            'loss, this run will stop now. Please resolve errors '
            f'first"] [count={len(tables)}]'
        ]
        for name, status in sorted(tables.items()):
            failed_step = status * 10
            # ignore suffices for post-import steps; earlier failures
            # may have left partial data -> destroy (restore.go:629-637)
            action = (
                "ignore"
                if failed_step
                in (Status.ALTERED_AUTO_INC, Status.ANALYZED)
                else "destroy"
            )
            lines.append(
                f"[-] [table={name}] [status={status}] "
                f"[failedStep={metric_name(failed_step)}] "
                f'[recommendedAction="./ctl.py checkpoint-error-'
                f"{action} --table='{name}' ...\"]"
            )
        lines.append(
            "You may also run `./ctl.py checkpoint-error-destroy "
            "--table=all ...` to start from scratch"
        )
        lines.append(
            "For details of this failure, read the log file from the "
            "PREVIOUS run"
        )
        super().__init__("\n".join(lines))


@dataclass
class TableResult:
    table: str
    status: str  # "restored" | "failed" | "skipped"
    rows: int = 0
    checksum: Checksum | None = None
    alloc_base: int = 0
    error: str | None = None
    failed_step: int | None = None  # Status the failed step targeted
    seconds: float = 0.0
    source_bytes: int = 0
    #: .sql chunks the structural lexer declined to the tokenizer
    lexer_fallbacks: int = 0


@dataclass
class RunSummary:
    """O12 error summary (restore.go:89-129)."""

    tables: dict[str, TableResult] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(t.status != "failed" for t in self.tables.values())

    def report(self) -> str:
        lines = []
        failed = [r for r in self.tables.values() if r.status == "failed"]
        if failed:
            # restore.go:104-118 error summary header + per-table line
            lines.append(
                f'["tables failed to be imported"] [count={len(failed)}]'
            )
        for name, r in sorted(self.tables.items()):
            if r.status == "failed":
                step = metric_name(r.failed_step or 0)
                lines.append(
                    f'[-] [table={name}] [status={step}] '
                    f'[error="{r.error}"]'
                )
            else:
                mibs = (
                    r.source_bytes / r.seconds / (1 << 20) if r.seconds else 0
                )
                lines.append(
                    f"[+] [table: {name}] rows={r.rows} "
                    f"alloc_base={r.alloc_base} speed={mibs:.1f} MiB/s"
                    + (
                        f" lexer_fallbacks={r.lexer_fallbacks}"
                        if r.lexer_fallbacks
                        else ""
                    )
                )
        return "\n".join(lines)


def plan_engines(files, batch_size: int) -> list[list]:
    """S7: group a table's data files into engine batches of
    ~``batch_size`` cumulative bytes (region.go:64-133; the dynamic
    batch ramp is dropped per SURVEY §2.1 S7). Each engine is the
    unit of idempotent delivery and file-grain checkpoint resume."""
    engines: list[list] = []
    cur: list = []
    size = 0
    for f in files:
        cur.append(f)
        size += f.size
        if size >= batch_size:
            engines.append(cur)
            cur, size = [], 0
    if cur:
        engines.append(cur)
    return engines


class _ProgressTicker:
    """O7: periodic progress logging — restored bytes / total, speed
    and ETA on a daemon timer (the reference's logProgress ticker,
    restore.go:443-501). ``add`` is called per delivered engine batch
    (file grain) or per restored table (single-shot grain)."""

    def __init__(self, total_bytes: int, interval: float):
        self.total = max(int(total_bytes), 1)
        self.done = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._t0 = time.monotonic()
        self._thread = threading.Thread(
            target=self._loop, args=(float(interval),), daemon=True
        )

    def start(self) -> "_ProgressTicker":
        self._thread.start()
        return self

    def add(self, nbytes: int) -> None:
        with self._lock:
            self.done += int(nbytes)

    def _loop(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.emit()

    def emit(self) -> None:
        with self._lock:
            done = self.done
        dt = max(time.monotonic() - self._t0, 1e-9)
        mib = 1 << 20
        pct = min(100.0 * done / self.total, 100.0)
        speed = done / dt / mib
        if done:
            eta = f"{(self.total - done) / (done / dt):.0f}s"
        else:
            eta = "..."
        log.info(
            "progress: %.1f%% (%.1f/%.1f MiB), speed %.2f MiB/s, ETA %s",
            pct, done / mib, self.total / mib, speed, eta,
        )

    def stop(self) -> None:
        self._stop.set()


class RestoreController:
    def __init__(
        self,
        spark: SparkSession,
        cfg: Config,
        sink: Sink | None = None,
        checkpoints: CheckpointStore | None = None,
        pauser=None,
        progress=None,
        cancel_event: threading.Event | None = None,
        job_group: str | None = None,
    ):
        self.spark = spark
        self.cfg = cfg.adjust()
        # O4: cooperative pause gate, honored before each table and
        # each engine batch (NewRestoreControllerWithPauser,
        # restore.go:158-161; deliver-loop wait restore.go:1692)
        self.pauser = pauser
        # task preemption (server DELETE of the running task,
        # lightning.go:427-441): the event aborts at table/engine
        # boundaries; the Spark job group lets cancelJobGroup kill
        # the in-flight job itself
        self.cancel_event = cancel_event
        self.job_group = job_group
        # web-progress broadcaster (server.TaskProgress; the analog
        # of web.Broadcast* calls in restore.go) — optional
        self.progress = progress
        self.sink = sink or self._default_sink()
        self.cp = checkpoints or CheckpointStore(
            cfg.checkpoint_path or None, enabled=cfg.checkpoint_enable
        )
        # freeze CURRENT_TIMESTAMP once per TASK, not per controller:
        # a resumed task must fill identical default timestamps
        # (reference stores the task checkpoint's timestamp —
        # tests/checkpoint_timestamp/run.sh asserts one distinct ts
        # across a crash-resume cycle)
        saved_ts = self.cp.task_meta("job_timestamp")
        if saved_ts:
            self.job_timestamp = _dt.datetime.fromisoformat(saved_ts)
        else:
            self.job_timestamp = _dt.datetime.now(_dt.timezone.utc).replace(
                tzinfo=None, microsecond=0
            )
            self.cp.set_task_meta(
                "job_timestamp", self.job_timestamp.isoformat()
            )
        self._ticker: _ProgressTicker | None = None

    def _default_sink(self) -> Sink:
        if self.cfg.backend == "parquet":
            return ParquetSink(
                self.cfg.target_dir,
                self.cfg.on_duplicate,
                sorted_output=self.cfg.sorted_output,
                bucket_buckets=self.cfg.bucket_buckets,
                incremental=self.cfg.incremental,
                zorder_columns=self.cfg.zorder_columns,
            )
        if self.cfg.backend == "jdbc":
            from ..sinks.jdbc_sink import JDBCSink

            t = self.cfg.tidb
            return JDBCSink(
                url=f"jdbc:mysql://{t.host}:{t.port}",
                user=t.user,
                password=t.password,
                on_duplicate=self.cfg.on_duplicate,
            )
        if self.cfg.backend == "memory":
            return MemorySink(self.cfg.on_duplicate)
        raise ValueError(f"unknown backend: {self.cfg.backend!r}")

    # -- [2] schema restore ------------------------------------------------
    def load_schemas(self) -> dict[str, tuple[MDTableMeta, TableSchema]]:
        out = {}
        for db in discover_cfg(self.cfg):
            for tbl in db.tables.values():
                name = f"{db.name}.{tbl.name}"
                if self.cfg.mydumper.no_schema:
                    # no-schema mode: the target table already exists;
                    # take its schema from the sink (config.go:143,
                    # tests/no_schema/run.sh)
                    schema = self._schema_from_sink(name)
                    if schema is None:
                        log.warning("no target table for %s (no-schema)", name)
                        continue
                elif tbl.schema_file is None:
                    log.warning("missing schema file for %s", name)
                    continue
                else:
                    schema = load_table_schema(
                        tbl.schema_file, self.cfg.mydumper.character_set
                    )
                out[name] = (tbl, schema)
        return out

    def _schema_from_sink(self, name: str) -> TableSchema | None:
        """Build a TableSchema from an existing sink table's Spark
        schema (the LoadSchemaInfo-from-target analog,
        lightning/restore/tidb.go:154-208)."""
        from ..sources.schema_reader import ColumnSpec
        from pyspark.sql import types as T

        try:
            df = self.sink.read_back(self.spark, name)
        except Exception:
            return None
        spark_to_mysql = {
            T.ByteType: "tinyint", T.ShortType: "smallint",
            T.IntegerType: "int", T.LongType: "bigint",
            T.FloatType: "float", T.DoubleType: "double",
            T.StringType: "varchar", T.BinaryType: "blob",
            T.TimestampType: "datetime", T.DateType: "date",
            T.BooleanType: "tinyint",
        }
        cols = []
        for f in df.schema.fields:
            if f.name.startswith("_"):
                continue
            mysql_t = (
                "decimal"
                if isinstance(f.dataType, T.DecimalType)
                else spark_to_mysql.get(type(f.dataType), "varchar")
            )
            cols.append(
                ColumnSpec(
                    name=f.name,
                    mysql_type=mysql_t,
                    spark_type=f.dataType,
                    nullable=f.nullable,
                )
            )
        return TableSchema(name=name.split(".")[-1], columns=cols)

    # -- [3] per-table restore --------------------------------------------
    def read_table(
        self,
        meta: MDTableMeta,
        schema: TableSchema,
        only: set[str] | None = None,
    ) -> DataFrame:
        """Source read + permutation/cast/rowid; one Spark plan.

        ``only`` restricts the READ to a subset of the table's data
        files (one engine batch) while row-id bases stay computed
        over the FULL file list — a file's ids must not depend on
        which other files ride along, or checkpoint resume would
        renumber rows (restore.go:861-870 parity)."""
        # Whole-plan memo (session lifetime): repeated loads of the
        # same files rebuild an identical plan through several
        # hundred py4j round trips (~0.2-0.3 s/table measured at
        # steady state). DataFrames are immutable plan handles, so
        # the finished read plan is cached keyed on EVERYTHING that
        # shapes it: file list with sizes+mtimes (a cached scan pins
        # its listing snapshot), the engine-batch subset, the DDL
        # schema, csv/charset/sql-mode config, the file-split confs
        # (row-id bases depend on them at plan time), and the job
        # timestamp when a column default-fills CURRENT_TIMESTAMP.
        from ..operators.permutation import session_plan_cache

        _plan_key = None
        try:
            _files_key = tuple(
                (f.path, f.size, os.stat(f.path).st_mtime_ns)
                for f in meta.data_files
            )
            _ts_key = (
                self.job_timestamp
                if any(c.default_current_ts for c in schema.columns)
                else None
            )
            _plan_key = (
                "read_table",
                _files_key,
                frozenset(only) if only is not None else None,
                tuple(repr(c) for c in schema.columns),
                tuple(schema.primary_key or ()),
                schema.has_int_pk,
                repr(self.cfg.mydumper.csv),
                self.cfg.mydumper.character_set,
                self.cfg.tidb.sql_mode,
                self.spark.conf.get("spark.sql.files.maxPartitionBytes"),
                self.spark.conf.get("spark.sql.files.openCostInBytes"),
                _ts_key,
            )
            _plan_cache = session_plan_cache(self.spark)
            if _plan_cache is not None:
                _hit = _plan_cache.get(_plan_key)
                if _hit is not None:
                    return _hit
        except Exception:
            _plan_key = _plan_cache = None
        all_csv = [
            f
            for f in meta.data_files
            if f.path.lower().endswith((".csv", ".csv.gz"))
        ]
        all_sql = [f for f in meta.data_files if f.path.lower().endswith(".sql")]
        all_pq = [
            f for f in meta.data_files if f.path.lower().endswith(".parquet")
        ]
        all_jsonl = [
            f
            for f in meta.data_files
            if f.path.lower().endswith((".jsonl", ".jsonl.gz"))
        ]
        csv_files = [f for f in all_csv if only is None or f.path in only]
        sql_files = [f for f in all_sql if only is None or f.path in only]
        pq_files = [f for f in all_pq if only is None or f.path in only]
        jsonl_files = [
            f for f in all_jsonl if only is None or f.path in only
        ]
        strict = strict_sql_mode(self.cfg.tidb.sql_mode)
        frames: list[DataFrame] = []

        # capacity-scheme id lanes for sources without safe byte-
        # estimate bases (parquet, gzip): each lane starts past the
        # table's whole byte-estimate id range AND in its own band,
        # so mixed-source unions can never collide
        from ..operators.rowid import estimate_id_ceiling

        _ncols_all = len(schema.columns)
        from ..operators.rowid import split_bytes_lower_bound

        _split_bytes = (
            split_bytes_lower_bound(self.spark)
            if self.cfg.mydumper.csv.strict_format
            else None
        )
        _ceiling = estimate_id_ceiling(
            [(f.path, f.size) for f in all_csv + all_sql],
            _ncols_all,
            split_bytes=_split_bytes,
        )
        GZ_LANE = _ceiling + 1
        PQ_LANE = _ceiling + (1 << 61) + 1
        JSONL_LANE = _ceiling + (1 << 62) + 1

        if pq_files:
            # Spark-native source extension: columnar dumps are
            # already typed, so the ladder is align-to-DDL (reorder,
            # default-fill missing columns, cast to the DDL types) —
            # NOT apply_permutation, whose mysql_cast layer is
            # string-token-oriented; typed input casts directly (under
            # strict sql_mode a null-after-cast on a non-null source
            # raises, so narrowing corruption still errors; numeric
            # values parquet already holds are otherwise trusted —
            # documented deviation for this beyond-reference format).
            # Row-ids use the capacity scheme in the parquet LANE —
            # past the table's whole byte-estimate id range and in a
            # different band than the gz lane (the byte estimate
            # itself is UNSAFE for compressed columnar files, where a
            # row can occupy less than a byte): ids are unique,
            # deterministic, gaps allowed, and DISJOINT from every
            # other frame of the same table (mixed-source dumps
            # union cleanly).
            # Documented deviation: replace/ignore dup "arrival order"
            # for parquet rows follows the scan's partition order, not
            # the dump's file sequence the CSV/SQL paths guarantee —
            # columnar dumps carry no inherent row sequence.
            from ..operators.permutation import ROWID_COL, default_column
            from ..operators.rowid import assign_rowid_mono

            pdf = self.spark.read.parquet(*[f.path for f in pq_files])
            by_lower = {c.lower(): c for c in pdf.columns}
            explicit_rowid = by_lower.get(ROWID_COL)
            needs_rowid = (
                not schema.has_int_pk
                or bool(schema.auto_increment_column)
                or bool(csv_files or sql_files or jsonl_files)  # union needs _row_id
            )
            if needs_rowid:
                pdf = assign_rowid_mono(pdf, start=PQ_LANE)

            def _typed(src: Column, spec) -> Column:
                # try_cast: lenient mode null-fills like MySQL coerces
                # (ANSI plain cast would throw even when lenient);
                # strict mode rejects the null-fill explicitly
                casted = src.try_cast(spec.spark_type)
                if strict:
                    return F.when(
                        src.isNotNull() & casted.isNull(),
                        F.raise_error(
                            F.lit(
                                f"strict sql_mode: value not valid for "
                                f"column {spec.name!r}"
                            )
                        ).cast(spec.spark_type),
                    ).otherwise(casted)
                return casted

            cols = []
            for spec in schema.columns:
                src_name = by_lower.get(spec.name.lower())
                if src_name is not None:
                    src = _typed(F.col(src_name), spec)
                    if spec.auto_increment and needs_rowid:
                        src = F.coalesce(
                            src, F.col("_row_id").cast(spec.spark_type)
                        )
                    cols.append(src.alias(spec.name))
                elif spec.auto_increment and needs_rowid:
                    cols.append(
                        F.col("_row_id").cast(spec.spark_type).alias(spec.name)
                    )
                else:
                    cols.append(
                        default_column(spec, self.job_timestamp).alias(
                            spec.name
                        )
                    )
            extra = []
            if not schema.has_int_pk:
                # an explicit _tidb_rowid in the file wins
                # (restore.go:1381-1388 parity, as apply_permutation)
                if explicit_rowid is not None:
                    extra.append(
                        F.col(explicit_rowid).cast("long").alias(ROWID_COL)
                    )
                elif needs_rowid:
                    extra.append(
                        F.col("_row_id").cast("long").alias(ROWID_COL)
                    )
            if needs_rowid:
                extra.append(F.col("_row_id"))
            frames.append(pdf.select(*cols, *extra))

        jl_strict_blocks = False
        if jsonl_files and self.cfg.mydumper.csv.strict_format:
            # r11 determinism fix (found by the resume_64x_jsonl kill
            # proof): strict-format JSONL must take the SAME
            # SplitLargeFile block row-id scheme the checkpointed
            # block-engine lane uses — the old routing sent the
            # no-checkpoint run through the capacity-scheme mono lane
            # (2^62 band), so _tidb_rowid (and hence kv_crc64)
            # depended on whether checkpointing was on. Same gates as
            # the block lane: plain .jsonl only (the byte-range
            # reader seeks), one scheme per table (no mixed sources),
            # supported line terminators.
            from ..sources.csv_blocks import (
                files_use_supported_terminators,
                plan_file_blocks,
            )

            jl_strict_blocks = (
                bool(meta.data_files)
                and all(
                    f.path.lower().endswith(".jsonl")
                    for f in meta.data_files
                )
                and files_use_supported_terminators(
                    [(f.path, f.size) for f in jsonl_files]
                )
            )
            if jl_strict_blocks:
                jl_split = _split_bytes  # same geometry as the planner
                frames.append(
                    self._jsonl_block_frame(
                        meta,
                        schema,
                        plan_file_blocks(
                            [(f.path, f.size) for f in jsonl_files],
                            jl_split,
                        ),
                        jl_split,
                    )
                )
        if jsonl_files and not jl_strict_blocks:
            # Beyond-reference source: JSON-Lines parts (the
            # training-data handoff format; curation.export_jsonl is
            # the matching writer). Fields are read BY NAME as strings
            # (exact-name match to the DDL; extra keys ignored,
            # missing keys arrive NULL and take column defaults) and
            # run the SAME MySQL cast ladder as CSV — typing semantics
            # are identical by construction. The JSON reader decodes
            # real UTF-8, so the latin1 re-decode stays off. Row-ids
            # use the capacity scheme in their own lane (splittable
            # named-record files have no per-file dump order to
            # preserve; documented like the parquet lane).
            from ..operators.rowid import assign_rowid_mono
            from ..sources.jsonl_source import (
                read_jsonl,
                resolve_field_names,
            )
            from ..sources.sql_dump_source import MISSING_FIELD

            # case-insensitive key match via a driver-side head probe
            # of EVERY part (Spark's JSON parser matches schema names
            # EXACTLY; the parquet path is case-insensitive — so is
            # this one). Probing only part 0 would silently read a
            # differently-cased later part as all-NULL rows; instead
            # parts are grouped by their resolved casing and each
            # group gets its own exact-name reader schema. A part
            # whose keys match NO target column raises (require_match).
            ddl_names = [c.name for c in schema.columns]
            groups: dict = {}
            for f in jsonl_files:
                fmap_f = resolve_field_names(
                    ddl_names, f.path, require_match=True
                )
                key = tuple(fmap_f[n] for n in ddl_names)
                groups.setdefault(key, []).append(f)
            # read_jsonl = FAILFAST: a malformed line ERRORS the table
            # restore (surfacing in the O12 summary) instead of
            # materializing as an all-null row that the default-fill
            # ladder would silently fabricate into real data
            jdfs = []
            for key in sorted(groups):
                jname_schema = T.StructType(
                    [
                        T.StructField(k, T.StringType(), True)
                        for k in key
                    ]
                )
                jdfs.append(
                    read_jsonl(
                        self.spark,
                        [f.path for f in groups[key]],
                        jname_schema,
                    ).select(
                        *[
                            F.col(k).alias(n)
                            for k, n in zip(key, ddl_names)
                        ]
                    )
                )
            jdf = jdfs[0]
            for other in jdfs[1:]:
                jdf = jdf.unionByName(other)
            jdf = assign_rowid_mono(jdf, start=JSONL_LANE)
            # JSON cannot distinguish an absent key from an explicit
            # null; for NOT NULL columns a null is invalid anyway, so
            # it maps to the missing sentinel and takes the column
            # DEFAULT (the absent-trailing-field CSV semantics);
            # nullable columns keep real NULLs
            jdf = jdf.select(
                *[
                    (
                        F.coalesce(
                            F.col(c.name), F.lit(MISSING_FIELD)
                        ).alias(c.name)
                        if not c.nullable
                        else F.col(c.name)
                    )
                    for c in schema.columns
                ],
                F.col("_row_id"),
            )
            frames.append(
                apply_permutation(
                    jdf,
                    schema,
                    [c.name for c in schema.columns],
                    rowid=F.col("_row_id"),
                    job_timestamp=self.job_timestamp,
                    strict=strict,
                    keep=["_row_id"],
                    charset=self.cfg.mydumper.character_set,
                    missing_sentinel=MISSING_FIELD,
                )
            )
        has_gz = any(f.path.lower().endswith(".csv.gz") for f in csv_files)
        if has_gz and self.cfg.mydumper.csv.strict_parser:
            raise ValueError(
                "strict_parser reads raw bytes and does not decompress; "
                "gunzip .csv.gz parts first or disable csv.strict-parser"
            )
        if csv_files and self.cfg.mydumper.csv.strict_parser:
            from ..sources.csv_strict import read_csv_strict

            csv_cfg = self.cfg.mydumper.csv
            ncols = len(schema.columns)
            raw, header_cols = read_csv_strict(
                self.spark,
                [(f.path, f.size) for f in csv_files],
                csv_cfg,
                ncols,
            )
            file_columns = header_cols or [c.name for c in schema.columns]
            df = project_fields(raw, len(file_columns))
            df = df.toDF(*(["_row_id"] + file_columns))
            from ..sources.sql_dump_source import MISSING_FIELD

            # project_fields marks short rows with the sentinel:
            # LOAD DATA fills defaults for missing trailing fields
            frames.append(
                apply_permutation(
                    df,
                    schema,
                    file_columns,
                    rowid=F.col("_row_id"),
                    job_timestamp=self.job_timestamp,
                    strict=strict,
                    keep=["_row_id"],
                    source_latin1=True,
                    charset=self.cfg.mydumper.character_set,
                    missing_sentinel=MISSING_FIELD,
                )
            )
        elif csv_files:
            csv_cfg = self.cfg.mydumper.csv
            ncols = len(schema.columns)
            from ..operators.rowid import (
                assign_rowid_by_file,
                assign_rowid_by_file_split,
                assign_rowid_mono,
                file_row_bases,
                file_row_bases_split,
            )

            split_mode = (
                self.cfg.mydumper.csv.strict_format and not has_gz
            )
            if has_gz:
                bases = None
            elif split_mode:
                bases = file_row_bases_split(
                    [(f.path, f.size) for f in all_csv],
                    ncols,
                    _split_bytes,
                )
            else:
                bases = file_row_bases(
                    [(f.path, f.size) for f in all_csv], ncols, is_sql=False
                )

            def _rowids(df: DataFrame) -> DataFrame:
                if has_gz:
                    # compressed sizes cannot bound row counts, so the
                    # byte-estimate bases are unsafe: capacity-scheme
                    # ids in the gz lane (unique, zero extra jobs).
                    # Documented deviation: replace/ignore "arrival
                    # order" then follows scan partition order, not
                    # the dump part sequence — gunzip the parts when
                    # logical dup order matters
                    return assign_rowid_mono(df, start=GZ_LANE)
                if split_mode:
                    # strict-format: files are chunk-split at byte
                    # ranges (multiLine=false), one huge CSV fans out
                    # across tasks; per-block row-id bases mirror the
                    # reference's SplitLargeFile offset/divisor scheme
                    return assign_rowid_by_file_split(
                        df, bases, max(ncols, 1), _split_bytes
                    )
                return assign_rowid_by_file(
                    df, bases, one_file_per_partition=True
                )
            # strict sql_mode keeps the fast path for ints/dates
            # (every natively-rejected token re-parses through
            # mysql_cast(strict=True), which raises exactly like the
            # string path) but float/double columns drop to the
            # string path: Double.parseDouble accepts NaN/Infinity/
            # hex-float literals strict MySQL must reject — see
            # native_read_type
            native_ok = (
                csv_cfg.native_typed
                and not csv_cfg.header
                and not csv_cfg.not_null
                and csv_cfg.null != ""
            )
            if native_ok:
                # typed fast path: vectorized JVM parse for clean
                # rows; corrupt-record fallback through mysql_cast
                from ..sources.csv_source import read_csv_native

                nf = read_csv_native(
                    self.spark,
                    [f.path for f in csv_files],
                    csv_cfg,
                    schema.columns,
                    strict=strict,
                )
                # multiLine CSV reads are whole-file, and the
                # session's openCostInBytes disables file packing ->
                # one file per task, so row-ids need no extra job
                df = _rowids(nf.df)
                frames.append(
                    apply_permutation(
                        df,
                        schema,
                        [c.name for c in schema.columns],
                        rowid=F.col("_row_id"),
                        job_timestamp=self.job_timestamp,
                        strict=strict,
                        keep=["_row_id"],
                        source_latin1=True,
                        charset=self.cfg.mydumper.character_set,
                        native_frame=nf,
                    )
                )
            else:
                file_cols = (
                    None  # header row names columns; read by reader
                    if csv_cfg.header
                    else [c.name for c in schema.columns]
                )
                df = read_csv(
                    self.spark,
                    [f.path for f in csv_files],
                    csv_cfg,
                    column_names=file_cols,
                    num_columns=None if file_cols else ncols,
                )
                df = _rowids(df)
                file_columns = (
                    [c for c in df.columns if c != "_row_id"]
                    if csv_cfg.header
                    else file_cols
                )
                frames.append(
                    apply_permutation(
                        df,
                        schema,
                        [c for c in file_columns if c != "_row_id"],
                        rowid=F.col("_row_id"),
                        job_timestamp=self.job_timestamp,
                        strict=strict,
                        keep=["_row_id"],
                        source_latin1=True,
                        charset=self.cfg.mydumper.character_set,
                    )
                )
        if sql_files:
            # column list from the first INSERT's header, read
            # driver-side (64 KiB peek — no Spark job); else table
            # order (the common mydumper case)
            file_columns = probe_insert_columns(
                sql_files[0].path, self.cfg.mydumper.character_set
            ) or [c.name for c in schema.columns]
            df = read_sql_dump(
                self.spark,
                [(f.path, f.size) for f in sql_files],
                self.cfg.mydumper.character_set,
                num_columns=len(file_columns),
                columnar=True,
                all_files=[(f.path, f.size) for f in all_sql],
            )
            df = df.toDF(*(["_row_id"] + file_columns))
            from ..sources.sql_dump_source import MISSING_FIELD

            frames.append(
                apply_permutation(
                    df,
                    schema,
                    file_columns,
                    rowid=F.col("_row_id"),
                    job_timestamp=self.job_timestamp,
                    strict=strict,
                    keep=["_row_id"],
                    missing_sentinel=MISSING_FIELD,
                )
            )
        if not frames:
            # schema-only (empty) table, or a data file with zero
            # rows: the table must still be created in the target
            # (reference tests/tool_241 — dumps full of empty tables).
            # Shape must match what apply_permutation would emit —
            # including the hidden _tidb_rowid for tables without an
            # integer PK — so the delivered schema equals the
            # catalog registration.
            from ..operators.permutation import ROWID_COL

            struct = schema.struct_type
            if not schema.has_int_pk:
                struct = struct.add(ROWID_COL, T.LongType(), False)
            struct = struct.add("_row_id", T.LongType())
            return self.spark.createDataFrame([], schema=struct)
        df = frames[0]
        for f in frames[1:]:
            df = df.unionByName(f)
        if _plan_key is not None and _plan_cache is not None:
            _plan_cache[_plan_key] = df
            # cap retained read plans: each pins a FileIndex listing
            # snapshot, and a long-lived task server would otherwise
            # accumulate one per dump it ever loaded (FIFO eviction;
            # dicts iterate in insertion order)
            rt_keys = [
                k
                for k in _plan_cache
                if isinstance(k, tuple) and k and k[0] == "read_table"
            ]
            for k in rt_keys[: max(len(rt_keys) - 64, 0)]:
                _plan_cache.pop(k, None)
        return df

    def _observe_write(
        self,
        df: DataFrame,
        name: str,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
        tag: str = "",
    ):
        """Attach an Observation computing (C1 checksum triple?, row
        count, max alloc-id) INSIDE the write job — the Spark analog
        of the reference computing checksums in the deliver loop
        (restore.go:1557-1638): no separate source scan, ever."""
        from pyspark.sql import Observation

        df, metrics = self._write_metric_exprs(
            df, cols, schema, want_checksum
        )
        obs = Observation(f"write:{name}{tag}")
        df = df.observe(obs, *metrics).drop(
            *[c for c in ("_h", "_len") if c in df.columns]
        )
        return df, obs

    def _write_metric_exprs(
        self,
        df: DataFrame,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
    ):
        """The (df', aggregate exprs) pair behind both metric paths:
        observed inside the write job (DataFrame-action sinks) or
        aggregated eagerly (foreachPartition sinks, whose RDD action
        never fires an Observation listener)."""
        metrics = []
        if want_checksum:
            # row hash projected ONCE into _h (+_len for the
            # canonical modes); the aggregates only touch those
            # columns, so hashing runs once per row
            df = self._with_row_hash(df, cols, schema)
            metrics += [
                F.bit_xor(F.col("_h")).alias("crc_xor"),
                (
                    F.sum("_len").cast("long")
                    if "_len" in df.columns
                    else F.lit(-1).cast("long")
                ).alias("total_bytes"),
            ]
        metrics.append(F.count(F.lit(1)).alias("total_kvs"))
        id_col = self._alloc_id_column(df, schema)
        if id_col:
            metrics.append(F.max(F.col(id_col).cast("long")).alias("max_id"))
        return df, metrics

    def _eager_write_metrics(
        self,
        df: DataFrame,
        cols: list[str],
        schema: TableSchema,
        want_checksum: bool,
    ) -> dict:
        """Metrics for sinks whose write is NOT a DataFrame action
        (JDBC foreachPartition delivery): a DataFrame Observation
        would never fire there — obs.get blocks forever — so the
        same aggregates run as their own job before delivery. One
        extra source scan, paid only on the SQL-statement path (the
        reference's tidb backend is likewise its slow path; the bulk
        path keeps the in-write observe) — and only when something
        beyond the row count is needed: with checksum off and no
        alloc-id column, the delivery accumulator already counts
        rows, so no job runs at all."""
        if not want_checksum and self._alloc_id_column(df, schema) is None:
            return {}
        mdf, metrics = self._write_metric_exprs(
            df, cols, schema, want_checksum
        )
        row = mdf.agg(*metrics).first()
        return row.asDict()

    @staticmethod
    def _merge_ck(a: Checksum | None, b: Checksum) -> Checksum:
        """XOR-monoid merge of engine checksums; a -1 byte count is
        the xxdirect 'bytes not tracked' sentinel and must stay -1."""
        if a is None:
            return b
        nbytes = (
            -1
            if (a.total_bytes < 0 or b.total_bytes < 0)
            else a.total_bytes + b.total_bytes
        )
        return Checksum(
            a.crc_xor ^ b.crc_xor, nbytes, a.total_kvs + b.total_kvs
        )

    def _check_cancelled(self) -> None:
        if self.cancel_event is not None and self.cancel_event.is_set():
            raise RuntimeError("task cancelled")

    def _gate(self) -> None:
        """Pause gate that stays cancellable: a DELETE of a PAUSED
        task must not leave the worker parked forever (the
        reference's context cancellation interrupts Pauser.Wait,
        pause.go:108-115)."""
        self._check_cancelled()
        if self.pauser is None:
            return
        while not self.pauser.wait(timeout=0.2):
            self._check_cancelled()

    # Byte-semantics version per checksum algo: bump when an algo's
    # bytes change without a rename (r7 added index KVs + CanSkip +
    # the NilFlag empty row to kv_crc64/kv_crc64_v2; r8 added the
    # ENUM/SET/BIT/JSON/TIME datum kinds — a type previously
    # rejected, so r8 values where r7 produced any are identical, but
    # the version records the contract). Algos not listed are
    # version None (stable since introduction).
    _CHECKSUM_CODEC_VERSION = {"kv_crc64": 2, "kv_crc64_v2": 2}

    # -- delivered-table checksum sidecar (incremental C2/C3) ---------
    # The reference compares the run's local checksum with ADMIN
    # CHECKSUM over the live table (restore.go:971-1010); for
    # incremental bulk-file merges the expected value is prior XOR
    # batch, so the delivered checksum is persisted next to the data
    # (underscore-prefixed: parquet readers ignore it).

    def _checksum_sidecar(self, name: str) -> str | None:
        if not isinstance(self.sink, ParquetSink):
            return None
        return os.path.join(self.sink._path(name), "_checksum.json")

    def _load_prior_checksum(self, name: str) -> Checksum | None:
        """The delivered table's checksum before this run: the monoid
        identity for a fresh table; None when data exists but its
        checksum is unknown (delivered without a sidecar, or the
        algo changed) — the merge comparison is then skipped."""
        sc = self._checksum_sidecar(name)
        if sc is None:
            return None
        # finish any crash-interrupted merge publish BEFORE deciding
        # whether prior data exists — a stranded .merged would read
        # as "fresh table" (identity checksum) here while the sink's
        # own recovery later restored the rows, failing verification
        ParquetSink._recover_merge(os.path.dirname(sc))
        if not ParquetSink._has_data(os.path.dirname(sc)):
            return Checksum(0, 0, 0)
        try:
            with open(sc) as f:
                d = json.load(f)
            if d.get("algo") != self.cfg.checksum_algo:
                return None
            # byte-semantics version: a sidecar persisted by an older
            # codec (e.g. pre-index-KV kv_crc64 bytes under the same
            # algo name) must read as "unknown prior", not as a value
            # the next incremental run fails verification against
            if d.get("codec_version") != self._CHECKSUM_CODEC_VERSION.get(
                self.cfg.checksum_algo
            ):
                return None
            return Checksum(
                int(d["crc_xor"]),
                int(d["total_bytes"]),
                int(d["total_kvs"]),
            )
        except (OSError, ValueError, KeyError):
            return None

    def _store_checksum_sidecar(self, name: str, ck: Checksum) -> None:
        sc = self._checksum_sidecar(name)
        if sc is None or not os.path.isdir(os.path.dirname(sc)):
            return
        tmp = sc + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "algo": self.cfg.checksum_algo,
                    "codec_version": self._CHECKSUM_CODEC_VERSION.get(
                        self.cfg.checksum_algo
                    ),
                    "crc_xor": ck.crc_xor,
                    "total_bytes": ck.total_bytes,
                    "total_kvs": ck.total_kvs,
                },
                f,
            )
        os.replace(tmp, sc)

    def _drop_checksum_sidecar(self, name: str) -> None:
        sc = self._checksum_sidecar(name)
        if sc and os.path.exists(sc):
            os.remove(sc)

    def _restore_single(
        self, name: str, meta: MDTableMeta, schema: TableSchema, cols: list[str]
    ):
        """Whole-table single write job (table-grain resume)."""
        df = self.read_table(meta, schema)
        self.cp.set_table_status(name, Status.LOADED)
        if getattr(self.sink, "observes_write_action", True):
            df, obs = self._observe_write(
                df, name, cols, schema, self.cfg.checksum
            )
            res = self.sink.write(df, name)
            m = obs.get
        else:
            m = self._eager_write_metrics(
                df, cols, schema, self.cfg.checksum
            )
            res = self.sink.write(df, name)
        local = (
            Checksum(
                m["crc_xor"] or 0,
                m["total_bytes"],
                m["total_kvs"] * self._kv_mult(schema),
            )
            if self.cfg.checksum
            else None
        )
        rows = res.rows if res.rows >= 0 else m.get("total_kvs", -1)
        self.cp.mark_chunks(
            name, [f.path for f in meta.data_files], Status.ALL_WRITTEN
        )
        if self._ticker:
            self._ticker.add(meta.total_size)
        if self.progress:
            self.progress.table_written(name, meta.total_size)
        return local, rows, m.get("max_id")

    def _restore_engines(
        self,
        name: str,
        meta: MDTableMeta,
        schema: TableSchema,
        cols: list[str],
        engines: list[list],
    ):
        """File-grain checkpoint resume (O5): one idempotent
        write-engine job per batch, each batch's files marked
        ALL_WRITTEN with the engine's checksum-so-far persisted
        (checkpoints.go:92-130); a resumed run skips delivered
        engines without re-reading their data (restore.go:861-870),
        rebuilding the table's local checksum from the stored
        triples."""
        want_cs = self.cfg.checksum
        total: Checksum | None = None
        rows = 0
        max_id: int | None = None
        loaded = False
        for eid, files in enumerate(engines):
            self._gate()  # park between deliver batches (cancellable)
            paths = [f.path for f in files]
            saved = self.cp.engine_state(name, eid)
            delivered = saved is not None and all(
                self.cp.chunk_status(name, p) >= Status.ALL_WRITTEN
                for p in paths
            )
            if delivered:
                if want_cs and saved.get("crc_xor") is not None:
                    total = self._merge_ck(
                        total,
                        Checksum(
                            saved["crc_xor"],
                            saved["total_bytes"],
                            saved["total_kvs"],
                        ),
                    )
                rows += int(saved.get("rows") or 0)
                if saved.get("max_id") is not None:
                    max_id = max(max_id or 0, int(saved["max_id"]))
                log.info(
                    "[table: %s] engine %d already delivered, skipping "
                    "%d file(s)", name, eid, len(paths)
                )
                continue
            df = self.read_table(meta, schema, only=set(paths))
            if not loaded:
                self.cp.set_table_status(name, Status.LOADED)
                loaded = True
            df, obs = self._observe_write(
                df, name, cols, schema, want_cs, tag=f":e{eid}"
            )
            self.sink.write_engine(df, name, eid)
            m = obs.get
            rec = {
                "rows": int(m["total_kvs"]),
                "max_id": int(m["max_id"]) if m.get("max_id") is not None else None,
                # engine -> chunk mapping for the /progress/table
                # marshal (the reference's TableCheckpoint.Engines)
                "files": paths,
            }
            if want_cs:
                ck = Checksum(
                    int(m["crc_xor"] or 0),
                    int(m["total_bytes"]),
                    int(m["total_kvs"]) * self._kv_mult(schema),
                )
                rec.update(
                    crc_xor=ck.crc_xor,
                    total_bytes=ck.total_bytes,
                    total_kvs=ck.total_kvs,
                )
                total = self._merge_ck(total, ck)
            rows += int(m["total_kvs"])
            if rec["max_id"] is not None:
                max_id = max(max_id or 0, rec["max_id"])
            # write THEN record, like the reference's deliver loop
            # (restore.go:1601-1634): a crash in between re-runs the
            # engine, whose directory-replace delivery is idempotent
            self.cp.set_engine_state(name, eid, rec)
            self.cp.mark_chunks(name, paths, Status.ALL_WRITTEN)
            if self._ticker:
                self._ticker.add(sum(f.size for f in files))
            if self.progress:
                self.progress.table_written(
                    name, sum(f.size for f in files)
                )
        return total, rows, max_id

    def _csv_block_frame(
        self,
        meta: MDTableMeta,
        schema: TableSchema,
        blocks: list[tuple[str, int, int]],
        split_bytes: int,
    ) -> DataFrame:
        """The read->permute->cast ladder over an explicit byte-range
        block list (csv_blocks.read_csv_blocks): same all-string
        shape, same SplitLargeFile row-id formula, same cast ladder
        as the whole-file strict-format path — so an engine produces
        identical rows whether it ran in the first attempt or in a
        mid-file resume."""
        from ..operators.rowid import file_row_bases_split
        from ..sources.csv_blocks import read_csv_blocks

        csv_cfg = self.cfg.mydumper.csv
        ncols = len(schema.columns)
        strict = strict_sql_mode(self.cfg.tidb.sql_mode)
        # bases over the FULL file list: a block's ids must not
        # depend on which blocks ride along (resume-renumber parity,
        # as read_table's `only` contract)
        bases = file_row_bases_split(
            [(f.path, f.size) for f in meta.data_files],
            ncols,
            split_bytes,
        )
        df = read_csv_blocks(
            self.spark, blocks, csv_cfg, ncols, bases, split_bytes
        )
        file_cols = [c.name for c in schema.columns]
        df = df.toDF(*(["_row_id"] + file_cols))
        return apply_permutation(
            df,
            schema,
            file_cols,
            rowid=F.col("_row_id"),
            job_timestamp=self.job_timestamp,
            strict=strict,
            keep=["_row_id"],
            source_latin1=True,
            charset=self.cfg.mydumper.character_set,
        )

    def _jsonl_block_frame(
        self,
        meta: MDTableMeta,
        schema: TableSchema,
        blocks: list[tuple[str, int, int]],
        split_bytes: int,
    ) -> DataFrame:
        """The JSONL analog of _csv_block_frame: read an explicit
        byte-range block list (csv_blocks.read_jsonl_blocks) into the
        batch JSONL lane's all-string DDL-named shape — same per-file
        key-casing groups, same NOT NULL missing-sentinel coalesce,
        same cast ladder — plus SplitLargeFile row-ids with the JSONL
        minimum-line divisor. Resumed and fresh engines produce
        identical rows."""
        from ..operators.rowid import file_row_bases_split
        from ..sources.csv_blocks import (
            JSONL_MIN_LINE_BYTES,
            read_jsonl_blocks,
        )
        from ..sources.jsonl_source import resolve_field_names
        from ..sources.sql_dump_source import MISSING_FIELD

        strict = strict_sql_mode(self.cfg.tidb.sql_mode)
        ddl_names = [c.name for c in schema.columns]
        # bases over the FULL file list (resume-renumber parity)
        bases = file_row_bases_split(
            [(f.path, f.size) for f in meta.data_files],
            len(schema.columns),
            split_bytes,
            divisor=JSONL_MIN_LINE_BYTES,
        )
        # per-file key casing, grouped exactly like the batch lane
        # (a differently-cased later part must not read all-NULL)
        fmap_by_path = {
            f.path: resolve_field_names(
                ddl_names, f.path, require_match=True
            )
            for f in meta.data_files
        }
        groups: dict[tuple, list[tuple[str, int, int]]] = {}
        for b in blocks:
            key = tuple(fmap_by_path[b[0]][n] for n in ddl_names)
            groups.setdefault(key, []).append(b)
        jdfs = []
        for key in sorted(groups):
            jdfs.append(
                read_jsonl_blocks(
                    self.spark,
                    groups[key],
                    ddl_names,
                    list(key),
                    bases,
                    split_bytes,
                )
            )
        jdf = jdfs[0]
        for other in jdfs[1:]:
            jdf = jdf.unionByName(other)
        # JSON null vs absent-key: same sentinel rule as the batch
        # lane — NOT NULL columns take the column DEFAULT
        jdf = jdf.select(
            *[
                (
                    F.coalesce(
                        F.col(c.name), F.lit(MISSING_FIELD)
                    ).alias(c.name)
                    if not c.nullable
                    else F.col(c.name)
                )
                for c in schema.columns
            ],
            F.col("_row_id"),
        )
        return apply_permutation(
            jdf,
            schema,
            ddl_names,
            rowid=F.col("_row_id"),
            job_timestamp=self.job_timestamp,
            strict=strict,
            keep=["_row_id"],
            charset=self.cfg.mydumper.character_set,
            missing_sentinel=MISSING_FIELD,
        )

    def _restore_engines_blocks(
        self,
        name: str,
        meta: MDTableMeta,
        schema: TableSchema,
        cols: list[str],
        engines: list[list[tuple[str, int, int]]],
        split_bytes: int,
    ):
        """BLOCK-grain checkpoint resume (O5 at the reference's chunk
        key grain, checkpoints.go:92-130): one idempotent write-engine
        job per contiguous block range of a strict-format CSV, each
        delivered block marked under its (path, byte-offset) chunk key
        with the engine's checksum-so-far persisted. A mid-FILE crash
        then loses at most one engine of work — the resume plans only
        the pending byte ranges and never re-reads delivered blocks
        (restore.go:1265-1266 resumes a chunk from its offset the
        same way)."""
        want_cs = self.cfg.checksum
        total: Checksum | None = None
        rows = 0
        max_id: int | None = None
        loaded = False
        for eid, blocks in enumerate(engines):
            self._gate()
            saved = self.cp.engine_state(name, eid)
            delivered = saved is not None and all(
                self.cp.chunk_status(name, p, off) >= Status.ALL_WRITTEN
                for p, off, _ in blocks
            )
            if delivered:
                if want_cs and saved.get("crc_xor") is not None:
                    total = self._merge_ck(
                        total,
                        Checksum(
                            saved["crc_xor"],
                            saved["total_bytes"],
                            saved["total_kvs"],
                        ),
                    )
                rows += int(saved.get("rows") or 0)
                if saved.get("max_id") is not None:
                    max_id = max(max_id or 0, int(saved["max_id"]))
                log.info(
                    "[table: %s] block engine %d already delivered, "
                    "skipping %d block(s)", name, eid, len(blocks)
                )
                continue
            if meta.data_files and meta.data_files[0].path.lower().endswith(
                ".jsonl"
            ):
                df = self._jsonl_block_frame(
                    meta, schema, blocks, split_bytes
                )
            else:
                df = self._csv_block_frame(
                    meta, schema, blocks, split_bytes
                )
            if not loaded:
                self.cp.set_table_status(name, Status.LOADED)
                loaded = True
            df, obs = self._observe_write(
                df, name, cols, schema, want_cs, tag=f":be{eid}"
            )
            self.sink.write_engine(df, name, eid)
            m = obs.get
            rec = {
                "rows": int(m["total_kvs"]),
                "max_id": (
                    int(m["max_id"]) if m.get("max_id") is not None else None
                ),
                "chunks": [[p, int(off)] for p, off, _ in blocks],
            }
            if want_cs:
                ck = Checksum(
                    int(m["crc_xor"] or 0),
                    int(m["total_bytes"]),
                    int(m["total_kvs"]) * self._kv_mult(schema),
                )
                rec.update(
                    crc_xor=ck.crc_xor,
                    total_bytes=ck.total_bytes,
                    total_kvs=ck.total_kvs,
                )
                total = self._merge_ck(total, ck)
            rows += int(m["total_kvs"])
            if rec["max_id"] is not None:
                max_id = max(max_id or 0, rec["max_id"])
            self.cp.set_engine_state(name, eid, rec)
            self.cp.mark_block_chunks(
                name,
                [(p, off) for p, off, _ in blocks],
                Status.ALL_WRITTEN,
            )
            nbytes = sum(ln for _, _, ln in blocks)
            if self._ticker:
                self._ticker.add(nbytes)
            if self.progress:
                self.progress.table_written(name, nbytes)
        return total, rows, max_id

    def restore_table(
        self, name: str, meta: MDTableMeta, schema: TableSchema
    ) -> TableResult:
        """One table's restore as (ideally) two data passes:

        pass 1 — read -> transform -> WRITE (one job per engine
        batch; a single batch for most tables), with the C1 checksum
        triple + row count + max alloc-id computed *during* the write
        via ``df.observe``;

        pass 2 — sink read-back computing (checksum, row count) in a
        single aggregate: C2 remote checksum + C4 AllocBase together
        (restore.go:998-1053 runs these as separate post-process
        steps against TiDB; one scan serves both here). When checksum
        verification is off and no dedup mode can drop rows, pass 2
        is SKIPPED entirely — the write job's observation already
        carries rows + max-id, so the restore is one data pass.
        """
        t0 = time.monotonic()
        # The step being attempted, as its success status: a failure
        # records invalid(attempt) = attempt/10 in the checkpoint
        # (saveStatusCheckpoint + StatusCheckpointMerger.SetInvalid,
        # restore.go:345-358) so the next run can refuse to proceed
        # and recommend the matching ctl action.
        attempt = Status.IMPORTED
        try:
            if self.job_group:
                # per-thread: table_concurrency workers each set the
                # group so cancelJobGroup reaches their jobs too
                self.spark.sparkContext.setJobGroup(
                    self.job_group, f"restore {name}", True
                )
            self._gate()
            if self.progress:
                self.progress.table_start(name)
                # expose this table's checkpoint ladder to the task
                # server (GET /progress/table?t=, lightning.go:466-476
                # — BroadcastTableCheckpoint analog; marshal-on-read
                # instead of a broadcast copy)
                attach = getattr(
                    self.progress, "attach_checkpoints", None
                )
                if attach:
                    attach(name, self.cp)
            if self.cp.table_status(name) >= Status.CHECKSUMMED:
                if self.progress:
                    self.progress.table_end(name)
                return TableResult(table=name, status="skipped")
            cols = [c.name for c in schema.columns]
            keys = schema.primary_key
            # one accumulator per SparkContext: the delta is this table's
            # count when tables restore one at a time (table_concurrency=1)
            has_sql = any(
                f.path.lower().endswith(".sql") for f in meta.data_files
            )
            fallbacks = lexer_fallbacks(self.spark) if has_sql else None
            fallbacks0 = fallbacks.value if fallbacks else 0
            if isinstance(self.sink, ParquetSink):
                if keys:
                    self.sink.key_columns[name] = keys
                if schema.partition_col and schema.partition_count:
                    # PARTITION BY HASH/KEY target -> partitioned
                    # parquet layout (tests/partitioned-table)
                    self.sink.partition_spec[name] = (
                        schema.partition_col,
                        schema.partition_count,
                    )
            dedup_may_drop = (
                bool(keys)
                and self.cfg.on_duplicate in ("replace", "ignore")
            ) or self.cfg.incremental
            # incremental merges change the delivered row set, so rows
            # and alloc_base must come from the read-back aggregate
            # (same path replace/ignore dedup already uses)
            prior_ck = None
            if self.cfg.incremental and self.cfg.checksum:
                # the sidecar must be read BEFORE the sink rewrites
                # the table dir (the merge replaces it, sidecar and
                # all)
                prior_ck = self._load_prior_checksum(name)

            engines = plan_engines(
                meta.data_files, self.cfg.mydumper.batch_size
            )
            # engine grain needs: >1 batch, a checkpoint store to
            # record progress in, a sink with idempotent engine
            # delivery, and no cross-engine keyed dedup (replace/
            # ignore rewrite rows across the whole table -> those
            # stay single-shot; dup=error is verified post-hoc below)
            engine_grain = (
                len(engines) > 1
                and self.cp.enabled
                and not dedup_may_drop
                # bucket layout is a whole-table invariant: the
                # bucketed write repartitions everything anyway, so an
                # engine split would just be overwritten; incremental
                # merges are likewise single-shot per run
                and not self.cfg.bucket_buckets
                and not self.cfg.incremental
                and not self.cfg.mydumper.csv.strict_parser
                and type(self.sink).write_engine is not Sink.write_engine
                # parquet/gzip sources have no plan-time per-file id
                # bases (byte estimates are unsafe for compressed or
                # columnar files), so their capacity-scheme ids are
                # only unique within ONE read — engine-split reads
                # would collide: single-shot
                and not any(
                    f.path.lower().endswith(
                        (".parquet", ".csv.gz", ".jsonl", ".jsonl.gz")
                    )
                    for f in meta.data_files
                )
            )
            # BLOCK-grain engines: a strict-format CSV table larger
            # than batch_size splits into byte-range engines, so a
            # mid-FILE crash resumes from the last delivered block
            # range instead of re-running whole files (checkpoints.go
            # chunk keys; restore.go:1265-1266). Same gating as
            # engine_grain plus: strict-format, plain .csv only (the
            # byte-range reader seeks uncompressed files), no header
            # (a header row is file-scoped state a block can't see).
            block_engines = None
            block_split = None
            if (
                self.cfg.mydumper.csv.strict_format
                and self.cp.enabled
                and not dedup_may_drop
                and not self.cfg.bucket_buckets
                and not self.cfg.incremental
                and not self.cfg.mydumper.csv.strict_parser
                and not self.cfg.mydumper.csv.header
                and type(self.sink).write_engine is not Sink.write_engine
                and meta.data_files
                and (
                    all(
                        f.path.lower().endswith(".csv")
                        for f in meta.data_files
                    )
                    # JSONL is line-delimited, hence byte-range
                    # splittable under the same Hadoop line geometry;
                    # uncompressed .jsonl only (the reader seeks), and
                    # never mixed with other formats in one table
                    # (block row-id bases are one scheme per table)
                    or all(
                        f.path.lower().endswith(".jsonl")
                        for f in meta.data_files
                    )
                )
            ):
                from ..operators.rowid import split_bytes_lower_bound
                from ..sources.csv_blocks import (
                    files_use_supported_terminators,
                    group_blocks_into_engines,
                    plan_file_blocks,
                )

                # BOTH geometry inputs are pinned in the checkpoint:
                # a resume MUST re-plan the exact block geometry, id
                # bases, AND engine grouping of the first run even if
                # the session conf or config changed in between —
                # otherwise delivered chunk keys would not match, row-
                # id bases would shift, and (for batch_size) old
                # engine_state records would be merged onto engines
                # now holding DIFFERENT blocks, duplicating or losing
                # rows
                skey = f"split_bytes:{name}"
                persisted = self.cp.task_meta(skey)
                if persisted:
                    bsplit = int(persisted)
                else:
                    bsplit = split_bytes_lower_bound(self.spark)
                bkey = f"block_batch_size:{name}"
                persisted_bs = self.cp.task_meta(bkey)
                if persisted_bs:
                    bsize = int(persisted_bs)
                else:
                    bsize = self.cfg.mydumper.batch_size
                file_sizes = [(f.path, f.size) for f in meta.data_files]
                blocks = plan_file_blocks(file_sizes, bsplit)
                bengines = group_blocks_into_engines(blocks, bsize)
                if len(bengines) > 1 and not files_use_supported_terminators(
                    file_sizes
                ):
                    # lone-\r line endings: the block reader's line
                    # geometry would diverge from the native
                    # splittable scan — stay on the engine-grain path
                    log.warning(
                        "table %s: CR line terminators detected; "
                        "block-grain resume disabled for this table",
                        name,
                    )
                    bengines = []
                if len(bengines) > 1:
                    if not persisted:
                        self.cp.set_task_meta(skey, str(bsplit))
                    if not persisted_bs:
                        self.cp.set_task_meta(bkey, str(bsize))
                    block_engines = bengines
                    block_split = bsplit

            if block_engines is not None:
                engine_grain = True  # post-hoc dup check applies
                local, rows, obs_max_id = self._restore_engines_blocks(
                    name, meta, schema, cols, block_engines, block_split
                )
            elif engine_grain:
                local, rows, obs_max_id = self._restore_engines(
                    name, meta, schema, cols, engines
                )
            else:
                local, rows, obs_max_id = self._restore_single(
                    name, meta, schema, cols
                )
            self.cp.set_table_status(name, Status.IMPORTED)
            attempt = Status.CHECKSUMMED

            # pass 2 (only when something must be read back)
            need_remote = self.cfg.checksum and local is not None
            post_dup_check = engine_grain and bool(keys) and (
                self.cfg.on_duplicate == "error"
            )
            base = 1
            inc_verifiable = False
            expected_ck = local
            if need_remote or dedup_may_drop or post_dup_check:
                back = self.sink.read_back(self.spark, name)
                if post_dup_check:
                    dup = (
                        back.groupBy(*keys)
                        .count()
                        .filter(F.col("count") > 1)
                        .limit(1)
                        .collect()
                    )
                    if dup:
                        raise ValueError(
                            f"Duplicate entry for key {dup[0]}"
                        )
                id_col = self._alloc_id_column(back, schema)
                # incremental C2/C3: when the merge cannot drop rows
                # (error mode rejects overlap; PK-less appends), the
                # delivered table's checksum must equal prior XOR
                # batch — the same monoid the reference's local/remote
                # comparison rests on (checksum.go:77-86)
                inc_verifiable = (
                    prior_ck is not None
                    and local is not None
                    and (self.cfg.on_duplicate == "error" or not keys)
                )
                expected_ck = (
                    self._merge_ck(prior_ck, local)
                    if inc_verifiable
                    else local
                )
                aggs = []
                proj = back
                if need_remote and (not dedup_may_drop or inc_verifiable):
                    proj = self._with_row_hash(back, cols, schema)
                    aggs += [
                        F.bit_xor(F.col("_h")).alias("crc_xor"),
                        (
                            F.sum("_len").cast("long")
                            if "_len" in proj.columns
                            else F.lit(-1).cast("long")
                        ).alias("total_bytes"),
                        F.count(F.lit(1)).alias("total_kvs"),
                    ]
                if id_col:
                    aggs.append(
                        F.max(F.col(id_col).cast("long")).alias("max_id")
                    )
                if dedup_may_drop:
                    # observation counted pre-dedup rows; report the
                    # sink's actual row count instead
                    aggs.append(F.count(F.lit(1)).alias("sink_rows"))
                if aggs:
                    row = proj.agg(*aggs).collect()[0]
                    if "sink_rows" in row.__fields__:
                        rows = row["sink_rows"]
                    if "crc_xor" in row.__fields__:
                        remote = Checksum(
                            row["crc_xor"] or 0,
                            row["total_bytes"],
                            row["total_kvs"] * self._kv_mult(schema),
                        )
                        if remote != expected_ck:
                            raise ValueError(
                                f"checksum mismatched remote vs local => "
                                f"(checksum: {remote.crc_xor} vs "
                                f"{expected_ck.crc_xor}) "
                                f"(total_kvs: {remote.total_kvs} vs "
                                f"{expected_ck.total_kvs}) "
                                f"(total_bytes: {remote.total_bytes} vs "
                                f"{expected_ck.total_bytes})"
                            )
                    if id_col:
                        base = (row["max_id"] or 0) + 1
                    if rows < 0 and "total_kvs" in row.__fields__:
                        rows = row["total_kvs"]
            elif obs_max_id is not None:
                # no read-back needed: nothing was dropped, so the
                # write job's observed max id IS the alloc base (C4
                # with zero extra jobs)
                base = int(obs_max_id) + 1
            # persist the delivered-table checksum so the NEXT
            # incremental run can verify prior XOR batch == read-back
            if (
                self.cfg.checksum
                and local is not None
                and isinstance(self.sink, ParquetSink)
            ):
                if dedup_may_drop and not inc_verifiable:
                    # replace/ignore merges drop rows: the delivered
                    # checksum is unknown — a stale sidecar would make
                    # a later error-mode increment fail C3
                    self._drop_checksum_sidecar(name)
                else:
                    self._store_checksum_sidecar(name, expected_ck)
            self.cp.set_alloc_base(name, base)
            if self.cfg.checksum:
                self.cp.set_table_status(name, Status.CHECKSUMMED)
            else:
                self.cp.set_table_status(name, Status.CHECKSUM_SKIPPED)
            attempt = Status.ANALYZED
            if self.cfg.index_engine:
                self._write_index_engines(name, schema)
            if self.cfg.compact:
                # post-restore full compaction is opt-in, like the
                # reference (config.go:122-123 default false)
                self.sink.finalize(self.spark, name)
            # C5: ANALYZE actually runs (restore.go:1038-1050) — the
            # ANALYZED status is only recorded when the sink computed
            # statistics. analyze_mode="auto": when this run already
            # holds an exact delivered row count (write-job observe,
            # or the checksum read-back which counts every row), the
            # row-count scan of a full ANALYZE is a redundant THIRD
            # pass over the table — size-only NOSCAN stats suffice
            # and cost zero jobs.
            noscan = (
                getattr(self.cfg, "analyze_mode", "auto") == "auto"
                and rows >= 0
            )
            if self.cfg.analyze and self.sink.analyze(
                self.spark, name, noscan=noscan
            ):
                self.cp.set_table_status(name, Status.ANALYZED)
            else:
                self.cp.set_table_status(name, Status.ANALYZE_SKIPPED)
            if self.progress:
                self.progress.table_end(name)
            declined = fallbacks.value - fallbacks0 if fallbacks else 0
            if has_sql:
                log.info("[table: %s] sql lexer fallbacks: %d", name, declined)
            return TableResult(
                table=name,
                status="restored",
                rows=rows,
                checksum=local,
                alloc_base=base,
                seconds=time.monotonic() - t0,
                source_bytes=meta.total_size,
                lexer_fallbacks=declined,
            )
        except Exception as e:  # O12: collect, don't abort the run
            log.exception("restore failed for %s", name)
            # record the aborted step (status/10) so the next run
            # refuses to continue until ctl resolves it
            # (restore.go:352-358, checkpoints.go:55-57)
            self.cp.set_table_status(name, invalid(attempt))
            if self.progress:
                self.progress.table_end(name, str(e))
            return TableResult(
                table=name,
                status="failed",
                error=str(e),
                failed_step=int(attempt),
                seconds=time.monotonic() - t0,
            )

    def _write_index_engines(self, name: str, schema) -> None:
        """T8: deliver each secondary index as its own sorted engine
        (the reference classifies row KVs vs index KVs and ships them
        to separate engines, sql2kv.go:218-239). The projection reads
        the DELIVERED table (one sink scan per index), keyed by the
        handle — int PK when present, else `_tidb_rowid`."""
        from ..operators.permutation import ROWID_COL

        sink = self.sink
        if not hasattr(sink, "write_index"):
            return
        secondary = [ix for ix in schema.indexes if not ix.primary]
        if not secondary:
            return
        delivered = sink.read_back(self.spark, name)
        pk = schema.primary_key
        if schema.has_int_pk and pk and pk[0] in delivered.columns:
            handle = pk[0]
        elif ROWID_COL in delivered.columns:
            handle = ROWID_COL
        else:
            handle = None
        for ix in secondary:
            cols = [c for c in ix.columns if c in delivered.columns]
            if not cols:
                continue
            extra = [handle] if handle and handle not in cols else []
            sink.write_index(
                delivered.select(*cols, *extra), name, ix.name, cols
            )

    def _kv_index_specs(self, schema: TableSchema | None):
        """The secondary indexes the kv_crc64 encode emits a KV for,
        as (index_id, columns, unique): every DDL index except a
        PK-is-handle primary (which lives in the record key and
        consumes no index id). Ids are 1-based in DDL order, exactly
        how TiDB allocates them at CREATE TABLE; a non-int-handle
        PRIMARY KEY is a unique index like the reference's
        non-clustered tables."""
        if schema is None:
            return []
        specs = []
        iid = 0
        for ix in schema.indexes:
            if ix.primary and schema.has_int_pk:
                continue
            iid += 1
            ents = [
                (c, pl) if (pl := ix.prefix_len(i)) is not None else c
                for i, c in enumerate(ix.columns)
            ]
            specs.append((iid, ents, ix.unique or ix.primary))
        return specs

    def _kv_mult(self, schema: TableSchema | None) -> int:
        """KV pairs per row: 1 data KV + one per emitted index KV.
        The reference's total_kvs counts every pair across the data
        and index engines (ClassifyAndAppend updates both checksums,
        sql2kv.go:218-239), while the pipeline's count(*) aggregate
        counts rows — this is the bridge."""
        algo = getattr(self.cfg, "checksum_algo", "xxdirect")
        if algo in ("kv_crc64", "kv_crc64_v2"):
            return 1 + len(self._kv_index_specs(schema))
        return 1

    def _with_row_hash(
        self, df: DataFrame, cols: list[str], schema: TableSchema | None = None
    ) -> DataFrame:
        """Project the per-row checksum hash `_h` (+ `_len` for the
        canonical-serialization modes) — C1's map side.

        Modes (cfg.checksum_algo):
        - ``xxdirect`` (default, the 100 TB path): xxhash64 straight
          over the typed columns — no string canonicalization at all;
          byte accounting not tracked (total_bytes = -1). Valid
          because both sides of the compare (observe vs read-back)
          use the identical function.
        - ``xxhash64`` / ``hash60`` / ``crc64``: canonical-string
          serialization then hash; hash60 is ANSI-oracle-portable,
          crc64 is bit-compatible with the reference
          (verification/checksum.go:37).
        - ``kv_crc64`` / ``kv_crc64_v2``: FULL reference parity — the
          row is encoded into the exact TiKV KV bytes: the record KV
          (row format v1 / v2 with the tables.CanSkip NULL-default
          rule, functions/kv_codec.py, golden-tested against
          sql2kv_test.go fixtures) plus one index KV per DDL
          secondary index (tablecodec index keys, '0'/handle
          values), each pair hashed with crc64-ECMA like
          verification/checksum.go:47-75 — the same pair set the
          reference's data+index engines checksum
          (sql2kv.go:218-239). The slow-exact path (per-row Python
          encode over Arrow batches).
        """
        algo = getattr(self.cfg, "checksum_algo", "xxdirect")
        if algo in ("kv_crc64", "kv_crc64_v2"):
            from ..functions.kv_codec import kv_hash_columns
            from ..operators.permutation import ROWID_COL

            if schema is not None and schema.has_int_pk and schema.primary_key:
                handle = schema.primary_key[0]
            elif ROWID_COL in df.columns:
                handle = ROWID_COL
            else:
                raise ValueError(
                    "kv_crc64 checksum needs a handle column "
                    "(single-int PK or _tidb_rowid)"
                )
            # PKIsHandle semantics: the handle lives in the KEY, so
            # the row VALUE encodes every column except it — but a
            # DDL column keeps its DDL-position id even when it is
            # the handle (TiDB ids are 1..N in creation order)
            ddl_ids = (
                {c.name: i + 1 for i, c in enumerate(schema.columns)}
                if schema is not None
                else {c: i + 1 for i, c in enumerate(cols)}
            )
            value_cols = [
                c for c in cols if c != handle and c != ROWID_COL
            ]
            # CanSkip rule 2 (tables.CanSkip via sql2kv.go:202's
            # AddRecord): NULL datums in columns whose DDL default is
            # NULL (no DEFAULT clause / DEFAULT NULL) are dropped from
            # the encoded value. CURRENT_TIMESTAMP and literal
            # defaults are non-NULL, so those columns keep their NULL
            # datums in the encoding.
            if schema is not None:
                default_null_ids = frozenset(
                    ddl_ids[c.name]
                    for c in schema.columns
                    if c.name in ddl_ids
                    and not (
                        c.has_default
                        and (c.default is not None or c.default_current_ts)
                    )
                )
            else:
                default_null_ids = None  # no DDL: every default NULL
            # the reference reads real table ids from the target
            # cluster; here an explicit per-table mapping (for
            # ADMIN CHECKSUM comparability against a live TiDB) can
            # be supplied via cfg.kv_table_ids, defaulting to 1
            tid = 1
            if schema is not None:
                ids = getattr(self.cfg, "kv_table_ids", {}) or {}
                # keys may be bare table names or db-qualified
                tid = ids.get(schema.name) or next(
                    (
                        v
                        for k, v in ids.items()
                        if k.endswith("." + schema.name)
                    ),
                    1,
                )
            # BIGINT UNSIGNED columns ride Spark as DecimalType(20,0)
            # but encode as KindUint64 datums
            # ANY unsigned integer column is a KindUint64 datum in
            # TiDB (not just BIGINT UNSIGNED): `Age int(10) UNSIGNED`
            # in the reference's own tbl_multi_index example encodes
            # uvarint/uintFlag, never signed varint. Non-bigint
            # unsigned columns ride Spark as the next-wider signed
            # type, so their values are always in uint64 range.
            uint64_cols = (
                frozenset(
                    c.name
                    for c in schema.columns
                    if c.unsigned
                    and c.mysql_type
                    in (
                        "tinyint", "smallint", "mediumint",
                        "int", "integer", "bigint",
                    )
                )
                if schema is not None
                else frozenset()
            )
            # ENUM/SET/BIT/JSON/TIME columns ride Spark as strings
            # (longs for BIT) but encode as their KindMysqlX datums —
            # the kinds the reference's cast layer hands its encoder
            # (tests/various_types covers all of them)
            mysql_kinds = {}
            if schema is not None:
                for c in schema.columns:
                    if c.mysql_type in ("enum", "set"):
                        mysql_kinds[c.name] = (
                            c.mysql_type, tuple(c.enum_members),
                        )
                    elif c.mysql_type == "bit":
                        mysql_kinds[c.name] = ("bit",)
                    elif c.mysql_type == "json":
                        mysql_kinds[c.name] = ("json",)
                    elif c.mysql_type == "time":
                        mysql_kinds[c.name] = ("time",)
            pair = kv_hash_columns(
                df,
                value_cols,
                handle,
                col_ids=[ddl_ids[c] for c in value_cols],
                table_id=tid,
                row_format_version=2 if algo.endswith("v2") else 1,
                default_null_ids=default_null_ids,
                indexes=self._kv_index_specs(schema),
                uint64_cols=uint64_cols,
                mysql_kinds=mysql_kinds,
            )
            return (
                df.withColumn("_kvp", pair)
                .withColumn("_h", F.col("_kvp.h"))
                .withColumn("_len", F.col("_kvp.n").cast("long"))
                .drop("_kvp")
            )
        if algo == "xxdirect":
            return df.withColumn(
                "_h", F.xxhash64(*[F.col(c) for c in cols])
            )
        from ..functions.checksum import canonical_row

        if algo == "hash60":
            from ..functions.hashing import hash60 as fn
        elif algo == "crc64":
            from ..functions.hashing import crc64 as fn
        else:
            fn = F.xxhash64
        canon = canonical_row(df, cols)
        return df.withColumn("_h", fn(canon)).withColumn(
            "_len", F.length(canon)
        )

    @staticmethod
    def _alloc_id_column(df: DataFrame, schema: TableSchema) -> str | None:
        """Column feeding AllocBase (C4): auto-inc, _tidb_rowid, or
        the single-int PK (allocator.go:40-52 semantics)."""
        from ..operators.permutation import ROWID_COL

        for c in (schema.auto_increment_column, ROWID_COL):
            if c and c in df.columns:
                return c
        pk = schema.primary_key
        if pk and schema.has_int_pk and pk[0] in df.columns:
            return pk[0]
        return None

    def run(self) -> RunSummary:
        """[3] restoreTables: small-first submission (O3), up to
        ``table_concurrency`` tables in flight (O1: the reference's
        table worker pool, config.go:373-386 — here Spark's scheduler
        multiplexes the concurrent jobs across executor cores)."""
        import concurrent.futures as cf

        # [1] preflight requirement checks (O10, restore.go:1117-1134):
        # fail the whole task early if the sink is unreachable, instead
        # of recording one failure per table
        self.sink.probe(self.spark)

        summary = RunSummary()
        schemas = self.load_schemas()
        # refuse to continue over errored checkpoints from a previous
        # run (restore.go:597-653): partial data may exist and blind
        # re-import could lose or duplicate rows
        bad = {
            name: st
            for name in schemas
            if 0 < (st := self.cp.table_status(name)) <= Status.MAX_INVALID
        }
        if bad:
            err = CheckpointInvalidError(bad)
            log.error("%s", err)
            raise err
        # [2] schema restore (K5, restore.go:329-373): apply each
        # dump DDL to the target catalog before any data lands
        if not self.cfg.mydumper.no_schema:
            for name, (meta, schema) in schemas.items():
                # resume: a completed table's catalog entry carries the
                # DELIVERED schema + ANALYZE stats (finalize) — do not
                # drop/recreate it from the DDL prediction
                if self.cp.table_status(name) >= Status.CHECKSUMMED:
                    continue
                self.sink.init_schema(
                    self.spark, name, schema, getattr(schema, "raw_ddl", None)
                )
        ordered = sorted(
            schemas.items(), key=lambda kv: kv[1][0].total_size
        )
        if self.progress:
            # BroadcastStartTask + BroadcastInitProgress
            # (web/progress.go:116-146)
            self.progress.start_task(
                {name: meta.total_size for name, (meta, _s) in ordered}
            )
        interval = float(getattr(self.cfg, "progress_interval", 0) or 0)
        if interval > 0 and ordered:
            self._ticker = _ProgressTicker(
                sum(meta.total_size for _, (meta, _s) in ordered), interval
            ).start()
        try:
            conc = max(int(getattr(self.cfg, "table_concurrency", 1)), 1)
            if conc == 1 or len(ordered) <= 1:
                for name, (meta, schema) in ordered:
                    summary.tables[name] = self.restore_table(
                        name, meta, schema
                    )
            else:
                with cf.ThreadPoolExecutor(max_workers=conc) as pool:
                    futs = {
                        pool.submit(
                            self.restore_table, name, meta, schema
                        ): name
                        for name, (meta, schema) in ordered
                    }
                    for fut in cf.as_completed(futs):
                        summary.tables[futs[fut]] = fut.result()
        finally:
            if self._ticker:
                self._ticker.emit()  # final progress line
                self._ticker.stop()
                self._ticker = None
            if self.progress:
                failed = [
                    n
                    for n, r in summary.tables.items()
                    if r.status == "failed"
                ]
                self.progress.end_task(
                    f"tables failed: {', '.join(sorted(failed))}"
                    if failed
                    else ""
                )
        if summary.ok:
            self.cp.clean()  # [6]
        return summary
