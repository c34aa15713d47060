"""Tracing for the ingest benchmark, kept entirely outside the package.

Spans are recorded around the benchmark's own calls into each layer
and kept in memory until the run ends. Executor-side figures come from
Spark's own event log: every traced call runs under a job group named
after its span, so a ``StageCompleted`` record can be attributed to
the call that caused it.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with event-log timestamps
    end: float
    parent: str | None
    group: str  # Spark job group of the jobs this span ran


class Tracer:
    """In-memory span recorder; each span sets the Spark job group."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[str] = []
        self._n = 0

    @contextlib.contextmanager
    def span(self, name: str):
        self._n += 1
        group = f"perfbench:{name}:{self._n}"
        parent = self._stack[-1] if self._stack else None
        if self.enabled:
            self.spark.sparkContext.setJobGroup(group, name, False)
        self._stack.append(group)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spark.sparkContext.setJobGroup(parent or "", "", False)
            self.spans.append(Span(name, start, end, parent, group))

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# event-log accumulables summed per job group
_STAGE_SUMS = {
    "executor_cpu_s": ("internal.metrics.executorCpuTime", 1e-9),
    "gc_s": ("internal.metrics.jvmGCTime", 1e-3),
    "shuffle_write_bytes": ("internal.metrics.shuffle.write.bytesWritten", 1),
    "spill_bytes": ("internal.metrics.diskBytesSpilled", 1),
}
# SQL metric of the Python exec nodes (ArrowEvalPython, MapInPandas,
# ...), in ms: task time spent running Python workers
_PYTHON_METRIC = "time to run Python workers"


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(log_dir),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    python_worker_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0
    #: (submitted, completed) of each job, epoch seconds
    job_intervals: list = field(default_factory=list)


def _acc_value(acc: dict) -> float:
    try:
        return float(acc.get("Value", 0))
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per job group totals from the (uncompressed) event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                jid = ev["Job ID"]
                job_group[jid] = group
                job_start[jid] = ev["Submission Time"] / 1e3
                stats[group].jobs += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                stats[job_group[jid]].job_intervals.append(
                    (job_start[jid], ev["Completion Time"] / 1e3)
                )
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stats[stage_group.get(info["Stage ID"], "")]
                st.stages += 1
                st.tasks += info.get("Number of Tasks", 0)
                accs = {a.get("Name"): a for a in info.get("Accumulables", [])}
                for attr, (name, scale) in _STAGE_SUMS.items():
                    if name in accs:
                        v = _acc_value(accs[name]) * scale
                        setattr(st, attr, getattr(st, attr) + v)
                if _PYTHON_METRIC in accs:
                    st.python_worker_s += _acc_value(accs[_PYTHON_METRIC]) / 1e3
    return dict(stats)


def uncovered_seconds(start: float, end: float, intervals) -> float:
    """Time in [start, end] not covered by any interval: the driver-only
    part of a span whose jobs ran in ``intervals``."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(end - start - covered, 0.0)
