"""Record ``bench_eventlog.jsonl``, the event log that
tests/test_bench_metrics.py reads.

One small local[2] application with an uncompressed, non-rolling
event log. Ungrouped jobs run before and after the grouped ones. Job
groups:

- ``q:scan``: a parquet scan plus a 4-partition aggregate (input,
  shuffle write and shuffle read bytes);
- ``q:skew``: a shuffled join with one hot key under AQE skew-join
  splitting (``skew=true`` in the final plan); the sorter is forced to
  spill every 2,000 records, so the join stages report spill;
- ``q:noskew``: the same join with skew-join splitting off;
- ``q:rdd``: an RDD-only job, so no SQL execution is recorded.

To keep the file small and free of host paths: the environment-update
event is dropped, SQL events lose their ``sparkPlanInfo`` tree, job
and stage properties keep only the job-group, job-description and
SQL-execution keys, and call sites are made relative to the repository
root. Everything else is kept as Spark wrote it. Run from the
repository root:

    python tests/data/make_bench_eventlog.py
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

#: property-key prefixes kept in job and stage properties
KEEP_PROPS = ("spark.jobGroup.", "spark.job.description", "spark.sql.execution.")
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE)) + os.sep
OUT = os.path.join(HERE, "bench_eventlog.jsonl")


def main() -> None:
    work = tempfile.mkdtemp(prefix="eventlog_fixture_")
    log_dir = os.path.join(work, "log")
    os.makedirs(log_dir)
    spark = (
        SparkSession.builder.master("local[2]")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64k")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
        .config("spark.shuffle.spill.numElementsForceSpillThreshold", "2000")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", "file://" + log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.eventLog.includeTaskMetricsAccumulators", "false")
        .getOrCreate()
    )
    sc = spark.sparkContext

    def grouped(name, run):
        sc.setJobGroup(name, name)
        run()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)

    def noop(df):
        df.write.mode("overwrite").format("noop").save()

    spark.range(100).count()
    src = os.path.join(work, "t.parquet")
    spark.range(0, 100_000, 1, 2).select(F.rand(7).alias("x"), (F.col("id") % 5000).alias("k")).write.parquet(src)
    grouped("q:scan", lambda: noop(spark.read.parquet(src).groupBy("k").agg(F.sum("x"))))
    hot = spark.range(0, 60_000, 1, 2).select(
        F.when(F.col("id") % 10 < 6, F.lit(0)).otherwise(F.col("id")).alias("k"), F.col("id").alias("v")
    )
    keys = spark.range(0, 60_000, 1, 2).select(F.col("id").alias("k"), (F.col("id") * 2).alias("w"))
    join = hot.join(keys, "k").groupBy().agg(F.sum("v"), F.sum("w"))
    grouped("q:skew", lambda: noop(join))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    grouped("q:noskew", lambda: noop(join))
    grouped("q:rdd", lambda: sc.parallelize(range(1000), 3).map(lambda x: (x % 5, x)).reduceByKey(max).count())
    spark.range(10).count()
    spark.stop()

    (name,) = os.listdir(log_dir)
    with open(os.path.join(log_dir, name)) as f, open(OUT, "w") as out:
        for line in f:
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerEnvironmentUpdate":
                continue
            ev.pop("sparkPlanInfo", None)
            if "Properties" in ev:
                ev["Properties"] = {k: v for k, v in ev["Properties"].items() if k.startswith(KEEP_PROPS)}
            out.write(json.dumps(ev, separators=(",", ":")).replace(ROOT, "") + "\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
