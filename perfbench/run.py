"""Ingest benchmark: one workload per invocation, in fresh JVMs.

Run from the repository root:

    python3 perfbench/run.py --workload csv_lineitem --seed 1 --seconds 4 --trace 0

The run renders the workload's mydumper dump from ``--seed`` (cached
under ``.perfbench_work/``), then, ``SESSIONS`` times over, starts a
``local[nproc]`` session in a new JVM through the package's
``get_spark``, restores once cold, and restores again and again for its
share of ``--seconds``. Every restore is checked against the
oracle (``oracle.py``). With ``--trace 1`` the run also records spans
around each layer's public call and reads Spark's event log.

Output: one ``{"perfbench_report": ...}`` line with every figure and
the raw samples, then, as the last line, the result object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics, or with ``--trace 1`` the per-layer ones. The exit code is 0
only when every restore was delivered correctly; a workload that
cannot run reports ``{"skipped": reason}`` on stderr and exits 2.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402
import oracle  # noqa: E402
from tracing import (  # noqa: E402
    GroupStats,
    Tracer,
    event_log_conf,
    read_event_log,
    uncovered_seconds,
)
from workloads import WORKLOADS  # noqa: E402

PACKAGE = "tidb_lightning_release_4_0_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
MIB = 1 << 20
#: fresh JVMs per run, one after the other: each gives one setup and one
#: cold-restore sample and restores for its share of ``--seconds``, so
#: one slow JVM moves a run's medians less
SESSIONS = 2

#: (name, unit) printed with --trace 0; BENCHMARK.json declares these
END_TO_END = (
    ("source_mib_s", "MiB/s"),
    ("restore_s_p50", "s"),
    ("cold_restore_s", "s"),
    ("setup_s", "s"),
    ("stored_bytes_per_source_byte", "ratio"),
)
#: reported in perfbench_report only (see README.md, "Metrics")
END_TO_END_REPORT_ONLY = (
    ("jvm_peak_rss_mib", "MiB"),
    ("restore_s_tail", "s"),
    ("failed_fraction", "ratio"),
)
#: (name, unit) printed with --trace 1
PER_LAYER = (
    ("plans.read_plan_s", "s"),
    ("sources.parse_s", "s"),
    ("sources.parse_mib_s_per_core", "MiB/s"),
    ("operators.cast_rowid_s", "s"),
    ("functions.checksum_s", "s"),
    ("functions.kv_checksum_s", "s"),
    ("functions.kv_pairs", "count"),
    ("sinks.write_s", "s"),
    ("sinks.read_back_s", "s"),
    ("sinks.bytes_written", "B"),
    ("sinks.files_written", "count"),
    ("sinks.rows_kept_ratio", "ratio"),
    ("plans.restore_s", "s"),
    ("plans.layer_sum_s", "s"),
    ("plans.driver_s", "s"),
    ("plans.jobs", "count"),
    ("plans.stages", "count"),
    ("plans.tasks", "count"),
    ("plans.executor_cpu_s", "s"),
    ("plans.gc_s", "s"),
    ("plans.python_worker_s", "s"),
    ("plans.shuffle_write_bytes", "B"),
    ("plans.spill_bytes", "B"),
)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: steal is time the host gave
    this machine's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields)


def skip(workload: str, reason: str) -> int:
    print(json.dumps({"workload": workload, "skipped": reason}), file=sys.stderr)
    return 2


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it,
    never below the median: with fewer than 21 samples no tail can be
    told apart from the median, and the median is reported."""
    s = sorted(samples)
    n = len(s)
    k = max(n - 11, (n - 1) // 2)
    return {"value": s[k], "pct": round(100 * (k + 1) / n, 1), "n": n}


class Run:
    """One workload, in ``SESSIONS`` fresh sessions one after the other."""

    def __init__(self, wl, manifest: dict, work: str, trace: bool):
        self.wl = wl
        self.manifest = manifest
        self.work = work
        self.trace = trace
        self.dump_dir = os.path.join(work, "dump")
        self.sink_root = os.path.join(work, "sink")
        self.table_dir = os.path.join(self.sink_root, manifest["table"])
        self.checkpoint = os.path.join(work, "checkpoint.json")
        self.cpus = len(os.sched_getaffinity(0))
        self.reps: list[dict] = []
        self.session = -1
        self.tracer = Tracer(None, trace)
        #: event-log job groups of every session, and jobs in none
        self.groups: dict[str, GroupStats] = {}
        self.unattributed_jobs = 0

    # -- session -----------------------------------------------------
    def prepare(self) -> None:
        """Environment for the sessions, then the program's import
        (its session module reads ``SPARK_GRAFT_CPUS`` on import)."""
        tmp = os.path.join(self.work, "tmp")
        local = os.path.join(self.work, "spark-local")
        for d in (tmp, local):
            os.makedirs(d, exist_ok=True)
        os.environ.update(
            SPARK_GRAFT_CPUS=str(self.cpus),
            SPARK_LOCAL_DIRS=local,
            TMPDIR=tmp,
            SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
            PYTHONPATH=os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        )
        tempfile.tempdir = tmp
        self.tmp = tmp
        from tidb_lightning_release_4_0_spark import session

        self.get_spark = session.get_spark

    def start_session(self) -> None:
        """A new session in a new JVM."""
        self.session += 1
        tmp = self.tmp
        conf = {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_dir = os.path.join(self.work, "events", str(self.session))
        shutil.rmtree(self.event_dir, ignore_errors=True)
        if self.trace:
            conf.update(event_log_conf(self.event_dir))
        self.spark = self.get_spark(
            app_name=f"perfbench-{self.wl.name}", extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.spark = self.spark

    def jvm_peak_rss_mib(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    def stop_session(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None and gateway.proc is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=120)
        # the next session launches a new JVM instead of reusing this one
        SparkContext._gateway = None
        SparkContext._jvm = None
        if self.trace:  # the event log is complete once the session stops
            groups = read_event_log(self.event_dir)
            self.unattributed_jobs += groups.pop("", GroupStats()).jobs
            self.groups.update(groups)

    # -- restores ----------------------------------------------------
    def config(self, target_dir: str, checkpoints: bool):
        from tidb_lightning_release_4_0_spark.config import Config, MydumperConfig

        return Config(
            mydumper=MydumperConfig(source_dir=self.dump_dir),
            backend="parquet",
            target_dir=target_dir,
            checkpoint_enable=checkpoints,
            checkpoint_path=self.checkpoint if checkpoints else "",
            **self.wl.config,
        )

    def restore(self, span: str) -> dict:
        """One timed restore plus its oracle check."""
        from tidb_lightning_release_4_0_spark.plans.pipeline import (
            RestoreController,
        )

        shutil.rmtree(self.sink_root, ignore_errors=True)
        if os.path.exists(self.checkpoint):
            os.remove(self.checkpoint)  # else: skipped as CHECKSUMMED
        cfg = self.config(self.sink_root, self.wl.checkpoints)
        error = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(span):
                summary = RestoreController(self.spark, cfg).run()
        except Exception:  # a failed restore is counted, not fatal
            summary, error = None, traceback.format_exc(limit=3)
        seconds = time.perf_counter() - t0
        if summary is not None:
            res = summary.tables.get(self.manifest["table"])
            if res is None or res.status != "restored":
                error = "restore did not deliver: " + summary.report()
            else:
                error = oracle.check(self.manifest, self.table_dir)
        rep = {"s": seconds, "ok": error is None, "session": self.session}
        if error:
            rep["error"] = error
        self.reps.append(rep)
        return rep

    # -- traced layer calls --------------------------------------------
    def layer_pass(self) -> dict:
        """Each layer's public call on its own, under its own span and
        job group. The restore fuses these into one job, so they are
        re-executions and need not sum to the restore."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from tidb_lightning_release_4_0_spark.config import strict_sql_mode
        from tidb_lightning_release_4_0_spark.plans.pipeline import (
            RestoreController,
        )
        from tidb_lightning_release_4_0_spark.sinks.parquet_sink import ParquetSink
        from tidb_lightning_release_4_0_spark.sources.csv_source import (
            read_csv_native,
        )
        from tidb_lightning_release_4_0_spark.sources.schema_reader import (
            parse_create_table,
        )
        from tidb_lightning_release_4_0_spark.sources.sql_dump_source import (
            read_sql_dump,
        )

        tr, spark, table = self.tracer, self.spark, self.manifest["table"]
        layer_root = os.path.join(self.work, "layer-sink")
        shutil.rmtree(layer_root, ignore_errors=True)
        cfg = self.config(layer_root, checkpoints=False)
        ctl = RestoreController(spark, cfg)
        meta, schema = ctl.load_schemas()[table]
        out: dict = {}

        def timed(name: str, fn):
            with tr.span(name):
                t0 = time.perf_counter()
                value = fn()
                out[name] = time.perf_counter() - t0
            return value

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        typed = timed("plans.read_plan", lambda: ctl.read_table(meta, schema))
        files = [(f.path, f.size) for f in meta.data_files]
        if self.wl.fmt == "sql":
            raw = read_sql_dump(
                spark,
                files,
                cfg.mydumper.character_set,
                num_columns=len(schema.columns),
                columnar=True,
            )
        else:
            raw = read_csv_native(
                spark,
                [p for p, _ in files],
                cfg.mydumper.csv,
                schema.columns,
                strict=strict_sql_mode(cfg.tidb.sql_mode),
            ).df
        parsed = Observation("parsed")
        timed("sources.parse", lambda: noop(raw.observe(parsed, F.count(F.lit(1)).alias("n"))))
        timed("operators.cast_rowid_total", lambda: noop(typed))

        with tr.span("sinks.prepare"):  # typed rows in memory, untimed
            typed = typed.cache()
            typed.count()
        sink = ParquetSink(layer_root, cfg.on_duplicate)
        if schema.primary_key:
            sink.key_columns[table] = schema.primary_key
        res = timed("sinks.write", lambda: sink.write(typed, table))
        typed.unpersist()
        back = sink.read_back(spark, table)
        kept = Observation("kept")
        timed("sinks.read_back", lambda: noop(back.observe(kept, F.count(F.lit(1)).alias("n"))))
        # the reference-parity KV checksum, with the indexes of the kv
        # workload's DDL on lineitem; the workload's own checksum unless
        # that is the default xxhash
        kv_schema = (
            parse_create_table(gen.LINEITEM_DDL.format(keys=gen.LINEITEM_KV_KEYS))
            if self.wl.table == "lineitem"
            else schema
        )
        kv_h, kv_mult = kv_hash(back, kv_schema)
        kv_rows = timed("functions.kv_checksum", lambda: checksum_rows(back, kv_h))
        if cfg.checksum_algo.startswith("kv_crc64"):
            out["functions.checksum"] = out["functions.kv_checksum"]
        else:
            xx = F.xxhash64(*[F.col(c.name) for c in schema.columns])
            timed("functions.checksum", lambda: checksum_rows(back, xx))
        out.update(
            parsed_rows=parsed.get["n"],
            delivered_rows=kept.get["n"],
            kv_pairs=kv_rows * kv_mult,
            bytes_written=res.bytes_written,
            files_written=len(oracle.parquet_files(os.path.join(layer_root, table))),
        )
        return out


def checksum_rows(df, h) -> int:
    """Run the checksum aggregate of per-row hash ``h``; rows hashed."""
    from pyspark.sql import functions as F

    ck = df.select(h.alias("_h")).agg(
        F.expr("bit_xor(_h)"), F.count(F.lit(1)).alias("n")
    )
    return ck.collect()[0]["n"]


def kv_hash(df, schema):
    """The kv_crc64 hash of each row of ``df`` under DDL ``schema``, as
    the restore computes it: record KV plus one KV per index (ids in
    DDL order, a PK-is-handle primary excluded), handle the integer PK
    or ``_tidb_rowid``. Returns (hash column, KV pairs per row)."""
    from tidb_lightning_release_4_0_spark.functions.kv_codec import kv_hash_columns

    handle = schema.primary_key[0] if schema.has_int_pk else "_tidb_rowid"
    ids = {c.name: i + 1 for i, c in enumerate(schema.columns)}
    cols = [c.name for c in schema.columns if c.name != handle]
    indexes = []
    for ix in schema.indexes:
        if ix.primary and schema.has_int_pk:
            continue
        ents = [
            (c, pl) if (pl := ix.prefix_len(i)) is not None else c
            for i, c in enumerate(ix.columns)
        ]
        indexes.append((len(indexes) + 1, ents, ix.unique or ix.primary))
    h = kv_hash_columns(
        df,
        cols,
        handle,
        col_ids=[ids[c] for c in cols],
        default_null_ids=frozenset(
            ids[c.name]
            for c in schema.columns
            if not (c.has_default and (c.default is not None or c.default_current_ts))
        ),
        indexes=indexes,
    ).h
    return h, 1 + len(indexes)


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def plan_stats(run: Run, spans) -> dict:
    """Per-restore figures from the event log, median over ``spans``."""
    groups = run.groups
    rows = []
    for sp in spans:
        g = groups.get(sp.group)
        if g is None:
            continue
        rows.append(
            {
                "jobs": g.jobs,
                "stages": g.stages,
                "tasks": g.tasks,
                "executor_cpu_s": g.executor_cpu_s,
                "gc_s": g.gc_s,
                "python_worker_s": g.python_worker_s,
                "shuffle_write_bytes": g.shuffle_write_bytes,
                "spill_bytes": g.spill_bytes,
                "driver_s": uncovered_seconds(sp.start, sp.end, g.job_intervals),
            }
        )
    return {
        "per_restore": {k: median([r[k] for r in rows]) for k in rows[0]}
        if rows
        else {},
        "read_plan_jobs": sum(
            groups[s.group].jobs
            for s in run.tracer.by_name("plans.read_plan")
            if s.group in groups
        ),
        "unattributed_jobs": run.unattributed_jobs,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="fraction of the workload's rows (smoke tests use a small one)",
    )
    args = ap.parse_args(argv)
    wl = WORKLOADS[args.workload]
    if args.scale != 1.0:
        wl = type(wl)(**{**wl.__dict__, "rows": max(int(wl.rows * args.scale), 100)})

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        return skip(wl.name, f"package {PACKAGE} not found under {ROOT}")
    work = os.path.join(WORK, f"{wl.name}-{wl.rows}")
    t0 = time.perf_counter()
    try:
        manifest = gen.render(
            wl, args.seed, os.path.join(work, "dump"), os.path.join(WORK, "cache")
        )
    except (OSError, ValueError) as e:
        return skip(wl.name, f"inputs could not be rendered: {e!r}")
    render_s = time.perf_counter() - t0
    missing = [
        f for f in manifest["files"] if not os.path.isfile(os.path.join(work, "dump", f))
    ]
    if missing:
        return skip(wl.name, f"rendered inputs missing: {missing}")

    run = Run(wl, manifest, work, bool(args.trace))
    load_before, ticks_before = os.getloadavg(), cpu_ticks()
    run.prepare()
    # process start to the program imported, minus rendering the inputs
    import_s = time.perf_counter() - T_START - render_s
    session_s, colds, steady_reps, rss, layers = [], [], [], [], []
    for _ in range(SESSIONS):
        t0 = time.perf_counter()
        run.start_session()
        session_s.append(time.perf_counter() - t0)
        try:
            colds.append(run.restore("plans.restore_cold"))
            t_window = time.perf_counter()
            first = len(steady_reps)
            while (
                len(steady_reps) == first
                or time.perf_counter() - t_window < args.seconds / SESSIONS
            ):
                steady_reps.append(run.restore("plans.restore"))
                if run.trace:
                    layers.append(run.layer_pass())
            rss.append(run.jvm_peak_rss_mib())
        finally:
            run.stop_session()
    load_after, ticks_after = os.getloadavg(), cpu_ticks()

    steady = [r["s"] for r in steady_reps]
    failed = sum(not r["ok"] for r in run.reps)
    src = manifest["source_bytes"]
    p50 = median(steady)
    stored = sum(os.path.getsize(p) for p in oracle.parquet_files(run.table_dir))
    values = {
        "source_mib_s": src / p50 / MIB,
        "restore_s_p50": p50,
        "cold_restore_s": median([r["s"] for r in colds]),
        # process start to a ready get_spark() session, the session
        # start sampled once per JVM
        "setup_s": import_s + median(session_s),
        "stored_bytes_per_source_byte": stored / src,
        "jvm_peak_rss_mib": median(rss),
        "restore_s_tail": tail(steady)["value"],
        "failed_fraction": failed / len(run.reps),
    }
    report = {
        "workload": wl.name,
        "why": wl.why,
        "heavy_layers": wl.heavy,
        "light_layers": wl.light,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": run.cpus,
        "rows": wl.rows,
        "source_bytes": src,
        "parsed_rows": manifest["parsed_rows"],
        "render_s": render_s,
        "loadavg_before": load_before,
        "loadavg_after": load_after,
        "steal_share": (ticks_after[0] - ticks_before[0])
        / max(ticks_after[1] - ticks_before[1], 1),
        "sessions": SESSIONS,
        "import_s": import_s,
        "session_start_s": session_s,
        "cold": colds,
        "steady": steady_reps,
        "restore_s_tail": tail(steady),
    }
    declared = END_TO_END
    if run.trace:
        layer_values, report["event_log"] = traced_values(run, layers, p50)
        values.update(layer_values)
        report["tracing_overhead"] = tracing_overhead(work, p50)
        run.tracer.dump(os.path.join(work, "spans.json"))
        declared = PER_LAYER
    else:
        with open(os.path.join(work, "untraced.json"), "w") as f:
            json.dump({"seed": args.seed, "restore_s_p50": p50}, f)
    units = dict(END_TO_END + END_TO_END_REPORT_ONLY + PER_LAYER)
    report["metrics"] = {
        k: {"value": v, "unit": units[k]} for k, v in values.items()
    }
    print(json.dumps({"perfbench_report": report}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(run.reps),
                "failed": failed,
                "metrics": {n: report["metrics"][n] for n, _ in declared},
            }
        )
    )
    return 0 if failed == 0 else 1


def traced_values(run: Run, layers: list[dict], restore_p50: float):
    """(per-layer metric values, event-log attribution counts)."""

    def med(key):
        return median([lp[key] for lp in layers])

    parse_s = med("sources.parse")
    plans = plan_stats(run, run.tracer.by_name("plans.restore"))
    per = plans["per_restore"]
    layer_keys = (
        "plans.read_plan",
        "operators.cast_rowid_total",
        "sinks.write",
        "sinks.read_back",
        "functions.checksum",
    )
    values = {
        "plans.read_plan_s": med("plans.read_plan"),
        "sources.parse_s": parse_s,
        "sources.parse_mib_s_per_core": run.manifest["source_bytes"]
        / MIB
        / parse_s
        / run.cpus,
        "operators.cast_rowid_s": med("operators.cast_rowid_total") - parse_s,
        "functions.checksum_s": med("functions.checksum"),
        "functions.kv_checksum_s": med("functions.kv_checksum"),
        "functions.kv_pairs": med("kv_pairs"),
        "sinks.write_s": med("sinks.write"),
        "sinks.read_back_s": med("sinks.read_back"),
        "sinks.bytes_written": med("bytes_written"),
        "sinks.files_written": med("files_written"),
        "sinks.rows_kept_ratio": med("delivered_rows") / med("parsed_rows"),
        "plans.restore_s": restore_p50,
        "plans.layer_sum_s": median([sum(lp[k] for k in layer_keys) for lp in layers]),
        **{f"plans.{k}": v for k, v in per.items()},
    }
    return values, {k: plans[k] for k in ("read_plan_jobs", "unattributed_jobs")}


def tracing_overhead(work: str, traced_p50: float) -> dict:
    """Traced restore p50 against the last untraced run of the same
    workload in this checkout (tracing is a session setting, so one
    run cannot measure both)."""
    path = os.path.join(work, "untraced.json")
    if not os.path.exists(path):
        return {"gap_s": None, "reason": "no untraced run of this workload yet"}
    with open(path) as f:
        base = json.load(f)
    gap = traced_p50 - base["restore_s_p50"]
    return {
        "gap_s": gap,
        "share": gap / base["restore_s_p50"],
        "traced_p50": traced_p50,
        "untraced_p50": base["restore_s_p50"],
        "untraced_seed": base["seed"],
    }


if __name__ == "__main__":
    sys.exit(main())
