"""Sources: dump-dir discovery, CSV/SQL-dump readers, testdata loader."""

from __future__ import annotations


def map_tasks(spark, tasks: list, fn, schema):
    """Run ``fn(tasks[i])`` as Spark task ``i``; one Python stage.

    The plan is a JVM ``spark.range`` with one id per partition under
    ``mapInArrow``: task ``i`` looks its work up in ``tasks``, which
    the closure carries. ``fn`` yields ``pyarrow.RecordBatch``es of
    ``schema``. No pickled RDD of the task list, so no second Python worker
    per task and no ``Scan ExistingRDD`` in the plan.
    """

    def run(batches):
        for batch in batches:
            for i in batch.column(0).to_pylist():
                yield from fn(tasks[i])

    n = len(tasks)
    return spark.range(0, n, 1, max(n, 1)).mapInArrow(run, schema)
