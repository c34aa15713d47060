"""Smoke test of the ingest benchmark itself, at a tiny scale.

Run from the repository root (about three minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q

``--scale 0.03`` restores 6,000 lineitem rows (the sf0.001 size) and
4,500 orders, each workload once with tracing on, so one run shows
every end-to-end and per-layer metric.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import run as bench  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SCALE = 0.03


def _run(cwd: str, workload: str, *extra: str):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.fixture(scope="module", params=sorted(WORKLOADS))
def traced(request):
    out = _run(ROOT, request.param, "--trace", "1", "--scale", str(SCALE))
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    report = json.loads(lines[-2])["perfbench_report"]
    return request.param, report, json.loads(lines[-1])


def test_every_metric_present_with_unit(traced):
    _, report, result = traced
    every = bench.END_TO_END + bench.END_TO_END_REPORT_ONLY + bench.PER_LAYER
    for name, unit in every:
        assert report["metrics"][name]["unit"] == unit, name
        assert isinstance(report["metrics"][name]["value"], (int, float)), name
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    assert list(result["metrics"]) == [n for n, _ in bench.PER_LAYER]


def test_oracle_fires_on_one_corrupted_row(traced):
    workload, report, _ = traced
    work = os.path.join(bench.WORK, f"{workload}-{report['rows']}")
    with open(os.path.join(work, "dump", "manifest.json")) as f:
        manifest = json.load(f)
    delivered = os.path.join(work, "sink", manifest["table"])
    assert oracle.check(manifest, delivered) is None

    corrupt = os.path.join(work, "corrupt")
    shutil.rmtree(corrupt, ignore_errors=True)
    shutil.copytree(delivered, corrupt)
    path = oracle.parquet_files(corrupt)[0]
    t = pq.read_table(path)
    name = next(n for n in t.column_names if not n.startswith("_"))
    col = t.column(name).to_pylist()
    col[0] += 1  # the first DDL column is an integer key
    t = t.set_column(t.column_names.index(name), name, pa.array(col, t.schema.field(name).type))
    pq.write_table(t, path)
    assert oracle.check(manifest, corrupt) is not None
    shutil.rmtree(corrupt)


def test_benchmark_json_declares_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(bench.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(bench.PER_LAYER)
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "csv_lineitem", "--trace", "0")
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
    assert json.loads(out.stderr.strip().splitlines()[-1])["skipped"]
