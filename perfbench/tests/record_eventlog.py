"""Re-record ``data/small_eventlog.json``, the parser test's fixture.

    python3 perfbench/tests/record_eventlog.py

Runs three tiny jobs under known job groups on ``local[2]``: a JVM-only
aggregate with a shuffle, a ``mapInPandas`` (Python workers) and a failing
task that is retried.  Only the job, stage and task events the parser
reads are kept, so the fixture stays small.
"""

import glob
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "data", "small_eventlog.json")
KEEP = (
    '{"Event":"SparkListenerLogStart"',
    '{"Event":"SparkListenerJob',
    '{"Event":"SparkListenerStage',
    '{"Event":"SparkListenerTask',
)


def double(batches):
    for df in batches:
        yield df.assign(id=df["id"] * 2)


def flaky(it):
    from pyspark import TaskContext

    if TaskContext.get().attemptNumber() == 0 and TaskContext.get().partitionId() == 0:
        raise RuntimeError("injected first-attempt failure")
    return it


def main() -> None:
    from pyspark.sql import SparkSession, functions as F

    logdir = os.path.join(os.path.dirname(HERE), ".work", "record_eventlog")
    shutil.rmtree(logdir, ignore_errors=True)
    os.makedirs(logdir)
    spark = (
        SparkSession.builder.master("local[2,2]")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + logdir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        sc.setJobGroup("t:agg:exec", "agg")
        spark.range(1000, numPartitions=2).groupBy((F.col("id") % 7).alias("k")).count().collect()
        sc.setJobGroup("t:py:exec", "py")
        spark.range(1000, numPartitions=2).mapInPandas(double, "id long").collect()
        sc.setJobGroup("t:retry:exec", "retry")
        sc.parallelize(range(10), 2).mapPartitions(flaky).count()
    finally:
        spark.stop()
    (path,) = glob.glob(os.path.join(logdir, "*"))
    os.makedirs(os.path.dirname(OUT), exist_ok=True)
    with open(path) as src, open(OUT, "w") as dst:
        dst.writelines(line for line in src if line.startswith(KEEP))


if __name__ == "__main__":
    sys.exit(main())
