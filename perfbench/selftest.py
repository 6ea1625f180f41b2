"""Self-tests of the benchmark's own instruments.

    python3 perfbench/selftest.py

1. The event-log reader counts the jobs, tasks and shuffle bytes of plans
   whose counts are known, attributes them to the right time window, and
   sees the bytes a pandas UDF sends to the Python workers.
2. The output checks flag a perturbed output, a missing row and a missed
   recall pair, and pass the unperturbed output in any row order.

Exits 0 when every check holds.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as R  # noqa: E402

FAILED = []


def expect(cond: bool, what: str) -> None:
    print(f"[{'ok' if cond else 'FAIL'}] {what}")
    if not cond:
        FAILED.append(what)


def eventlog_checks(spark) -> None:
    from pyspark.sql import functions as F

    from perfbench.eventlog import EventLog

    log = EventLog.open(os.path.join(R.WORK, "eventlog"), spark.sparkContext.applicationId)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    # AQE off: one job, 4 map tasks + `parts` reduce tasks, one shuffle
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    t0 = time.time() * 1000
    spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    t1 = time.time() * 1000
    log.poll(spark)
    tasks = log.tasks_in(t0, t1)
    expect(log.jobs_in(t0, t1) == 1, "one job for a one-shuffle aggregate")
    expect(len(tasks) == 4 + parts, f"{4 + parts} tasks (4 map + {parts} reduce)")
    expect(sum(t.shuffle_write for t in tasks) > 0, "shuffle bytes written")

    # AQE on: stage jobs carry no job group but fall in the time window
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    t2 = time.time() * 1000
    spark.range(0, 10_000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
    t3 = time.time() * 1000
    log.poll(spark)
    expect(log.jobs_in(t2, t3) >= 2, "AQE stage jobs attributed by submission time")
    expect(log.jobs_in(t0, t1) == 1, "earlier window unchanged by later jobs")

    @F.pandas_udf("long")
    def plus_one(s):
        return s + 1

    t4 = time.time() * 1000
    spark.range(0, 1000, 1, 2).select(plus_one("id").alias("x")).collect()
    t5 = time.time() * 1000
    log.poll(spark)
    expect(sum(t.python_bytes for t in log.tasks_in(t4, t5)) > 0,
           "bytes sent to Python workers seen for a pandas UDF")


def check_checks(spark) -> None:
    from pyspark.sql import functions as F

    from catabra_pandas_spark.sources import read_table
    from perfbench import data
    from perfbench.workloads import Query, Workload

    nation = "SELECT * FROM nation"
    pairs = "SELECT n_nationkey AS id_a, n_nationkey + 1 AS id_b FROM nation"

    def table(spark, sf):
        return read_table(spark, sf, "nation")

    def perturbed(spark, sf):
        return table(spark, sf).withColumn(
            "n_regionkey", F.when(F.col("n_nationkey") == 3, F.lit(9))
            .otherwise(F.col("n_regionkey")))

    def shuffled(spark, sf):
        return table(spark, sf).orderBy(F.col("n_nationkey").desc())

    def pairs_all(spark, sf):
        return table(spark, sf).select(F.col("n_nationkey").alias("id_a"),
                                       (F.col("n_nationkey") + 1).alias("id_b"))

    wl = Workload("selftest", [
        Query("exact", "sources", table, oracle=nation),
        Query("row_order", "sources", shuffled, oracle=nation),
        Query("perturbed_value", "sources", perturbed, oracle=nation),
        Query("missing_row", "sources",
              lambda s, sf: table(s, sf).filter("n_nationkey != 5"), oracle=nation),
        Query("recall_all", "sources", pairs_all, recall_of=pairs),
        Query("recall_missed", "sources",
              lambda s, sf: pairs_all(s, sf).filter("id_a != 7"), recall_of=pairs),
    ], {**data.SF0_001, "lineitem": 100, "orders": 50, "events": 50,
        "documents": 20, "embeddings": 20})
    run = R.Run(spark, wl, seed=1)
    try:
        run.check(run.warmup())
    finally:
        shutil.rmtree(run.table_dir, ignore_errors=True)
    bad = sorted(e.split(":")[0] for e in run.errors)
    expect(bad == ["missing_row", "perturbed_value", "recall_missed"],
           f"exactly the perturbed outputs flagged (flagged: {bad})")
    expect(run.failed == 3 and run.attempted == 6, "failures counted, not dropped")


def main() -> int:
    R._env()
    spark = R.start_spark(trace=True)
    app_log = os.path.join(R.WORK, "eventlog", spark.sparkContext.applicationId)
    try:
        eventlog_checks(spark)
        check_checks(spark)
    finally:
        R.stop_spark(spark)
        if os.path.exists(app_log):
            os.remove(app_log)
    print("selftest:", "FAILED " + "; ".join(FAILED) if FAILED else "all checks hold")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
