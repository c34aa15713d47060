"""The ingest benchmark's workloads.

Each workload is one mydumper dump restored by ``RestoreController``
into a parquet target. They differ in which layer carries the restore,
so a change to one layer shows on the workload that loads it and stays
flat on the others. README.md maps every per-layer metric to the
end-to-end metric and workload it should move.

BENCHMARK.json lists ``csv_lineitem`` and ``sql_orders_replace``.
``csv_lineitem_kv`` runs by name only: its restores vary by ~15% run to
run, and the runs it would need to be steady do not fit the benchmark's
time budget. Its codec layer stays measured on ``csv_lineitem`` as
``functions.kv_checksum_s`` (README.md, "Workloads").
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    table: str  # "lineitem" | "orders"
    fmt: str  # dump data format: "csv" | "sql"
    rows: int  # distinct rows delivered
    #: Config overrides; everything else is the package default
    config: dict = field(default_factory=dict)
    keys: bool = False  # lineitem DDL with PRIMARY KEY + secondary KEY
    dup_fraction: float = 0.0  # share of keys given a later duplicate
    checkpoints: bool = False
    heavy: tuple[str, ...] = ()  # layers that carry this workload
    light: tuple[str, ...] = ()  # layers it barely touches


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="csv_lineitem",
            why=(
                "Headline path: mydumper CSV of lineitem, physical dup mode,"
                " default xxdirect checksum; cast, parquet write and"
                " read-back verify carry the restore"
            ),
            table="lineitem",
            fmt="csv",
            rows=200_000,
            config={"on_duplicate": "physical"},
            heavy=("operators", "sinks"),
            light=("sources", "functions"),
        ),
        Workload(
            name="sql_orders_replace",
            why=(
                "Default Config (replace) over a mydumper .sql INSERT dump"
                " with ~1% later duplicates: Python lexer and keyed window"
            ),
            table="orders",
            fmt="sql",
            rows=150_000,
            dup_fraction=0.01,
            checkpoints=True,
            heavy=("sources", "sinks"),
            light=("functions",),
        ),
        Workload(
            name="csv_lineitem_kv",
            why=(
                "csv_lineitem's rows with PK + secondary KEY and the"
                " kv_crc64 checksum: isolates the TiKV KV codec"
            ),
            table="lineitem",
            fmt="csv",
            rows=200_000,
            keys=True,
            config={"on_duplicate": "physical", "checksum_algo": "kv_crc64"},
            heavy=("functions",),
            light=("sources",),
        ),
    )
}
