"""SparkSession factory with the confs the engine requires.

AQE (incl. skew-join), Arrow transport for pandas UDFs, UTC session timezone for
deterministic timestamp semantics (BASELINE.json:6 byte-match requirement),
shuffle partitions sized to the local core count instead of the 200 default,
a generated-code cache sized to hold a validate run's whole working set, no
Python call-site capture on Column calls (each costs py4j round trips), fair
scheduling across job pools, and, in local mode, table listing on the driver.
"""

from __future__ import annotations

import hashlib
import json
import os
import tempfile
import zipfile
from typing import Callable

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
    spark.sparkContext.addPyFile(package_zip(os.path.dirname(os.path.abspath(__file__)), tempfile.gettempdir()))
    _SHIPPED.add(key)


def package_zip(pkg_dir: str, dest_dir: str) -> str:
    """Zip the package at ``pkg_dir`` (sources only, no ``__pycache__``) to
    ``<dest_dir>/<package>_pyfiles_<content hash>.zip`` and return the path.

    The name is a hash of every file's relative path and bytes, so all
    processes running the same sources share one zip, reused when present,
    and an edited source gets a new one. The zip is written under a
    process-unique temporary name and renamed into place, so a concurrent
    reader never sees a partial file."""
    root = os.path.dirname(pkg_dir)
    files = []
    for d, subdirs, names in os.walk(pkg_dir):
        subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
        files += [os.path.join(d, n) for n in sorted(names) if not n.endswith(".pyc")]
    digest = hashlib.sha256()
    for f in files:
        digest.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            digest.update(fh.read() + b"\0")
    path = os.path.join(dest_dir, f"{os.path.basename(pkg_dir)}_pyfiles_{digest.hexdigest()[:16]}.zip")
    if not os.path.exists(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for f in files:
                zf.write(f, os.path.relpath(f, root))
        os.replace(tmp, path)
    return path


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far: the sample count of
    Spark's own ``CodegenMetrics`` compilation-time histogram. A py4j read
    on the driver, never a Spark job. In local mode the executors share the
    driver JVM, so the count covers their compiles too; on a cluster it
    covers the driver's only."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def group_job_ids(spark: SparkSession, group: str) -> set[int]:
    """The ids of the jobs of job group ``group`` that Spark's status tracker
    holds: a py4j read on the driver, never a Spark job. The tracker keeps
    the last ``spark.ui.retainedJobs`` (1000 by default) jobs. The id array
    crosses as one string: PySpark's ``StatusTracker.getJobIdsForGroup``
    copies it element by element, one py4j round trip each."""
    ids = spark.sparkContext._jsc.statusTracker().getJobIdsForGroup(group)
    return set(json.loads(spark.sparkContext._jvm.java.util.Arrays.toString(ids)))


class GroupJobs:
    """Counts the jobs a job group starts from construction on.

    ``job_ids`` returns the group's job ids the status tracker holds now
    (:func:`group_job_ids`). The tracker forgets all but the last 1,000
    jobs, so a difference of two counts undercounts once old jobs age out.
    This keeps the ids seen at the start and adds every unseen id each
    ``poll`` returns: the count is exact while fewer jobs than the tracker
    retains start between two polls."""

    def __init__(self, job_ids: Callable[[], set[int]]):
        self._job_ids = job_ids
        self._before = job_ids()
        self._new: set[int] = set()

    def poll(self) -> int:
        """The jobs started since construction, counted so far."""
        self._new |= self._job_ids() - self._before
        return len(self._new)


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
        # Spark keeps the Janino-compiled class of each generated plan stage
        # in an LRU of 100 entries by default. Measured working sets: a cold
        # 2-partition validate CLI invocation generates 118 distinct classes,
        # a 2-batch run with every optional output and check 180, and the
        # stats + drift profiling loop 58. Past 100 the LRU evicts each class
        # before its reuse, so every warm re-run of the CLI in one process
        # recompiled ~92 classes. 1000 is over 4x the largest set: Guava
        # splits the bound across 4 segments that each evict on their own.
        # A static conf, read once when the session starts.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # PySpark wraps every Column/functions call to capture its Python
        # call site for error messages: with this on (the default) each call
        # costs ~4 extra py4j round trips (active-session lookup, origin
        # lookup, conf read, set + clear). Planning one 2-partition batch of
        # the fused suite sent 2,600-3,600 py4j commands with it on and
        # ~1,170 with it off. The trade: an AnalysisException keeps its
        # message and error class but loses PySpark's "DataFrame" call-site
        # context. PySpark reads the conf once per process, on the first
        # wrapped call made under an active session.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Jobs share the executors across fair-scheduler pools. Jobs that
        # name no pool all go to the default pool, which runs them in FIFO
        # order as before; the validate CLI puts its side-thread jobs (the
        # whole-table drift pass) in a pool of their own, so its batch jobs
        # share the task slots evenly with a full-table scan instead of
        # queueing behind it. A static conf, read once when the context
        # starts.
        .config("spark.scheduler.mode", "FAIR")
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
