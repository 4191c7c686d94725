"""The parallelism guard must decide from plan/file metadata only — never an
eager ``.rdd`` probe that forces AQE query stages to finalize (round-4 ADVICE,
lyra_spark/pipeline/dedup.py guards + fuzzy.py)."""

import os

import pytest
from pyspark.sql import functions as F

from lyra_spark.io import _conf_bytes, planned_scan_tasks, spread_if_narrow


def test_conf_bytes_parses_spark_size_strings():
    assert _conf_bytes("134217728") == 134217728
    assert _conf_bytes("128m") == 128 << 20
    assert _conf_bytes("128MB") == 128 << 20
    assert _conf_bytes("64KB") == 64 << 10
    assert _conf_bytes("1g") == 1 << 30
    assert _conf_bytes("1t") == 1 << 40
    assert _conf_bytes("2TB") == 2 << 40
    assert _conf_bytes("1p") == 1 << 50
    assert _conf_bytes("1pb") == 1 << 50


def test_planned_scan_tasks_unparsable_size_is_none(spark, tmp_path):
    """A maxPartitionBytes value the parser cannot read makes the estimate
    unavailable (None: no spread) instead of raising out of the guard."""
    p = str(tmp_path / "one")
    spark.range(10).coalesce(1).write.parquet(p)
    real = spark.read.parquet(p)

    class Conf:
        def get(self, key, default=None):
            return "12 parsecs"

    class Session:
        conf = Conf()

    class Plan:
        sparkSession = Session()

        def inputFiles(self):
            return real.inputFiles()

    assert planned_scan_tasks(Plan()) is None


def test_planned_scan_tasks_single_small_file(spark, tmp_path):
    p = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    est = planned_scan_tasks(df)
    # one tiny file, far under maxPartitionBytes -> exactly one planned task
    assert est == 1
    # derived narrow plans (filter/select) keep the leaf estimate
    assert planned_scan_tasks(df.filter(F.col("id") > 3).select("id")) == 1


def test_planned_scan_tasks_in_memory_relation_is_none(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    assert planned_scan_tasks(df) is None


def test_spread_if_narrow_modes(spark, tmp_path):
    p = str(tmp_path / "narrow")
    spark.range(1000).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p)
    par = spark.sparkContext.defaultParallelism

    # auto: single-file input spreads to cluster width
    assert spread_if_narrow(df).rdd.getNumPartitions() == par
    # opt-out: the input plan is returned untouched (same object)
    assert spread_if_narrow(df, spread=False) is df
    # force: repartitions even when the estimate is unavailable
    mem = spark.createDataFrame([(i,) for i in range(10)], "id long")
    assert spread_if_narrow(mem, spread=True).rdd.getNumPartitions() == par
    # auto on an in-memory relation: no estimate -> untouched (createDataFrame
    # already parallelized it; repartitioning test relations is pure overhead)
    assert spread_if_narrow(mem) is mem


def test_spread_if_narrow_skips_wide_scan(spark, tmp_path):
    """A scan already planned wider than the cluster is left alone — the
    guard must not insert an O(input) shuffle on well-split tables."""
    par = spark.sparkContext.defaultParallelism
    p = str(tmp_path / "wide")
    spark.range(10_000).repartition(par * 2).write.parquet(p)
    df = spark.read.parquet(p)
    est = planned_scan_tasks(df)
    assert est is not None and est >= par
    assert spread_if_narrow(df) is df


def test_auto_probe_runs_no_job(spark, tmp_path):
    """planned_scan_tasks must not submit a Spark job (the whole point:
    the old .rdd probe finalized AQE stages eagerly)."""
    p = str(tmp_path / "nojob")
    spark.range(100).coalesce(1).write.parquet(p)
    df = spark.read.parquet(p).groupBy((F.col("id") % 7).alias("k")).count()
    tracker = spark.sparkContext.statusTracker
    before = len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))
    planned_scan_tasks(df)
    spread_if_narrow(df)
    after = len(spark.sparkContext._jsc.sc().statusTracker().getJobIdsForGroup(None))
    assert after == before


def test_planned_scan_tasks_non_splittable_counts_one(spark, tmp_path):
    """A whole-file-compressed text/json file scans as ONE partition however
    large it is — sizing it by maxPartitionBytes would over-estimate and
    wrongly skip the spread (the unsafe direction)."""
    import gzip

    p = tmp_path / "big.json.gz"
    with gzip.open(p, "wt") as f:
        for i in range(50_000):
            f.write('{"id": %d, "pad": "%s"}\n' % (i, "x" * 64))
    df = spark.read.json(str(p))
    spark.conf.set("spark.sql.files.maxPartitionBytes", "65536")
    try:
        est = lio_planned(df)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    assert est == 1  # not ceil(size / 64KB)


def lio_planned(df):
    from lyra_spark.io import planned_scan_tasks

    return planned_scan_tasks(df)
