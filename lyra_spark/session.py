"""SparkSession factory with the confs the engine requires.

AQE (incl. skew-join), Arrow transport for pandas UDFs, UTC session timezone for
deterministic timestamp semantics (BASELINE.json:6 byte-match requirement),
shuffle partitions sized to the local core count instead of the 200 default,
and, in local mode, table listing on the driver.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SHIPPED: set[int] = set()


def ensure_shipped(spark: SparkSession) -> None:
    """Ship the lyra_spark package to executor Python workers.

    pandas-UDF closures (custom predicates) pickle
    references to lyra_spark modules; executors must be able to import them.
    Under ``spark-submit --py-files dist/lyra_spark.zip`` (the production
    launch shape, BASELINE.json:14) this is a no-op; for ad-hoc sessions we
    zip the package once and ``addPyFile`` it.
    """
    # keyed on applicationId, not id(): a new SparkContext allocated at a
    # recycled object address would silently skip shipping and every
    # executor UDF would die with ModuleNotFoundError
    key = spark.sparkContext.applicationId
    if key in _SHIPPED:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    base = os.path.join(tempfile.gettempdir(), f"lyra_spark_pyfiles_{os.getpid()}")
    zip_path = shutil.make_archive(base, "zip", root_dir=os.path.dirname(pkg_dir), base_dir="lyra_spark")
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def get_spark(
    master: str | None = None,
    app_name: str = "lyra_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the validation engine.

    In local mode one JVM hosts driver + executor threads, so
    ``spark.driver.memory`` is the only memory knob. On a real cluster the same
    confs apply; executor sizing comes from spark-submit.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism: local[N] → N, local[*] → cores
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        # leading integer only: 'local[8,3]' (maxFailures) and
        # 'local-cluster[2,1,1024]' are legal masters — int('8,3') is not
        import re as _re

        m = _re.match(r"\d+", n)
        if n == "*" or m is None:
            shuffle_partitions = os.cpu_count() or 32
        else:
            shuffle_partitions = int(m.group())

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # commit algorithm v2: task commit moves files directly instead of a
        # serial driver-side rename pass — the partitioned violation sink
        # writes one file per date (hundreds+), and v1's job commit was a
        # measurable serial tail. Overwrite-mode reruns make the weaker
        # failure atomicity acceptable (Iceberg commits replace this in prod).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # local-mode split sizing: default 128m gives too few scan splits to
        # feed 32 threads on GB-scale inputs; 32m keeps every core busy while
        # staying far above the per-task fixed cost. On a real cluster the
        # input is orders of magnitude larger and 128m is fine either way.
        .config("spark.sql.files.maxPartitionBytes", os.environ.get("LYRA_MAX_PARTITION_BYTES", "33554432"))
        # local mode: one JVM hosts every executor thread. Keep the heap
        # modest and PRE-TOUCHED: this sandbox's VM faults guest pages in
        # lazily on first touch (high sys-time stalls mid-job with a big lazy
        # heap) — AlwaysPreTouch moves that cost into JVM startup.
        .config("spark.driver.memory", os.environ.get("LYRA_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Duser.timezone=UTC -XX:+AlwaysPreTouch")
    )
    if master == "local" or master.startswith("local["):
        # one JVM hosts the executors too, so a distributed listing job (one
        # task per partition dir past the default threshold of 32) only adds
        # job overhead: list every table on the driver. Cluster masters
        # (local-cluster included) keep Spark's default.
        builder = builder.config("spark.sql.sources.parallelPartitionDiscovery.threshold", str(2**31 - 1))
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensure_shipped(spark)
    return spark
