"""Table layer abstraction (SURVEY.md §7 risk R4).

Locally the transcript table is Hive-partitioned parquet (part_date=…/); in
production it is Iceberg (``format("iceberg")`` + snapshot-id lineage). The
engine core only sees this interface, so no Iceberg-specific code leaks in.
The sandbox image carries no Iceberg jars — the iceberg branch is exercised
only by its error message here, by design.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lyra_spark.schema import KEY_COLUMNS, PARTITION_COLUMN

_AQE_FLOOR_KEY = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
_AQE_FLOOR_VALUE = "64KB"
HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _conf_bytes(value: str) -> int:
    """Parse a Spark byte-size conf ('134217728', '128m', '64KB', '1t') to
    bytes; raises ValueError on anything else."""
    v = value.strip().lower()
    for suffix, mult in (("kb", 1 << 10), ("k", 1 << 10), ("mb", 1 << 20), ("m", 1 << 20),
                         ("gb", 1 << 30), ("g", 1 << 30), ("tb", 1 << 40), ("t", 1 << 40),
                         ("pb", 1 << 50), ("p", 1 << 50), ("b", 1)):
        if v.endswith(suffix):
            return int(float(v[: -len(suffix)])) * mult
    return int(v)


def planned_scan_tasks(df: DataFrame) -> int | None:
    """Estimate how many scan tasks the leaf file sources of ``df`` will get,
    from DRIVER-SIDE METADATA ONLY — no job runs.

    The former guard (``df.rdd.getNumPartitions()``) forced AQE to finalize
    upstream query stages at plan-build time (a surprise job whose probed
    count could also go stale). This walks ``df.inputFiles()`` (file-index
    listing, no executors) and replays Spark's FilePartition planning:

    - ``maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
      (Σsize + n·openCostInBytes) / minPartitionNum))``, where
      ``minPartitionNum`` is ``spark.sql.files.minPartitionNum``, else the
      leaf-node default parallelism;
    - each SPLITTABLE file cut into ``maxSplitBytes`` chunks; files whose
      extension marks a non-splittable compression codec (gzip & friends)
      stay one chunk regardless of size: a 1 GB .json.gz scans as a single
      partition, and sizing it as 8 would wrongly skip the spread
      (over-estimation is the UNSAFE direction for an under-parallelism
      test);
    - chunks packed largest first, next fit, a task closed when the next
      chunk would overflow ``maxSplitBytes``, ``openCostInBytes`` charged per
      chunk — so a table of many small files gets far fewer tasks than
      files. ``spark.sql.files.maxPartitionNum`` (unset by default) is not
      modelled: when set and exceeded, Spark packs fewer tasks.

    Known blind spot, documented rather than probed: the estimate describes
    the LEAF SCAN. A plan narrowed after the scan (``coalesce(1)``, a
    1-partition shuffle before the heavy map) still reports the scan's
    width — detecting that requires walking the physical plan, which under
    AQE is exactly the eager finalization this function exists to avoid.
    Callers that narrow explicitly should pass ``spread=True`` themselves.

    Returns None (— caller should NOT repartition) when the estimate is
    unavailable: non-file sources (in-memory test relations are already
    parallelized by createDataFrame), remote URIs we cannot stat (a real
    cluster's tables are well-split by the writer layout contract), or any
    stat failure, or a size conf it cannot parse.
    """
    try:
        files = df.inputFiles()
        conf = df.sparkSession.conf
        mpb = _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes", "128m"))
        open_cost = _conf_bytes(conf.get("spark.sql.files.openCostInBytes", "4m"))
        min_parts = conf.get("spark.sql.files.minPartitionNum", None) or conf.get(
            "spark.sql.leafNodeDefaultParallelism", None)
        min_parts = int(min_parts) if min_parts else df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return None
    if not files:
        return None
    non_splittable = (".gz", ".zip", ".deflate", ".zst", ".bz2", ".xz", ".lz4", ".snappy")
    sizes = []
    for uri in files:
        parsed = urllib.parse.urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        path = urllib.parse.unquote(parsed.path) or uri
        try:
            sizes.append((os.stat(path).st_size, path.lower().endswith(non_splittable)))
        except OSError:
            return None
    total = sum(size + open_cost for size, _ in sizes)
    max_split = max(1, min(mpb, max(open_cost, total // max(min_parts, 1))))
    chunks = []
    for size, whole in sizes:
        # .parquet is internally splittable whatever its codec; the
        # extension check targets whole-file-compressed text/json/csv
        if whole:
            chunks.append(size)
        else:
            chunks += [min(max_split, size - off) for off in range(0, size, max_split)]
    chunks.sort(reverse=True)

    tasks, current, open_task = 0, 0, False
    for c in chunks:
        if open_task and current + c > max_split:
            tasks, current = tasks + 1, 0
        current, open_task = current + c + open_cost, True
    return tasks + open_task


def spread_if_narrow(df: DataFrame, spread: bool | None = None) -> DataFrame:
    """Round-robin repartition a narrow file-backed input before a heavy map.

    ``spread=None`` (auto) decides from :func:`planned_scan_tasks` — a pure
    plan/metadata probe, never an eager job; ``True`` forces the spread,
    ``False`` disables it. The explicit parameter exists because the
    repartition is an O(input) shuffle a caller may know is unnecessary.
    """
    if spread is False:
        return df
    sc = df.sparkSession.sparkContext
    if spread is True:
        return df.repartition(sc.defaultParallelism)
    est = planned_scan_tasks(df)
    if est is not None and est < sc.defaultParallelism:
        return df.repartition(sc.defaultParallelism)
    return df


def read_transcripts(spark: SparkSession, uri: str) -> DataFrame:
    """uri: 'iceberg:<catalog.table>' in prod, else a parquet directory."""
    if uri.startswith("iceberg:"):
        return spark.read.format("iceberg").load(uri[len("iceberg:") :])
    return spark.read.parquet(uri)


def list_partitions(spark: SparkSession, df: DataFrame, partition_col: str = PARTITION_COLUMN) -> list[str]:
    """Distinct partition keys (Iceberg: snapshot metadata; parquet: cheap
    distinct over the partition column, which prunes to directory listing)."""
    return sorted(str(r[0]) for r in df.select(partition_col).distinct().collect())


def partition_key(partition_col: str = PARTITION_COLUMN):
    """The string key of each row's partition, as list_partitions renders
    it: the value cast to string, "None" for the NULL partition."""
    return F.coalesce(F.col(partition_col).cast("string"), F.lit("None"))


def partition_scope(
    df: DataFrame, partition_keys: str | list[str], partition_col: str = PARTITION_COLUMN
) -> DataFrame:
    """Filter on the partition column (one key or a list of keys) — Catalyst
    turns this into partition pruning, so a scoped validation run scans ONLY
    those directories.

    The key "None" (how list_partitions renders a NULL partition value)
    ALSO scopes `partition_col IS NULL`: rows written to the NULL partition
    (Hive's __HIVE_DEFAULT_PARTITION__) would otherwise match no scope and
    silently skip every check in the partition loop — the exact
    escapes-all-pruned-queries failure the placement check exists to flag.
    For a date-typed partition column "None" can only mean NULL; a
    string-typed column whose literal value is "None" shares the scope
    (and both deserve the scrutiny).
    """
    keys = [partition_keys] if isinstance(partition_keys, str) else list(partition_keys)
    cond = F.col(partition_col).cast("string").isin(keys)
    if "None" in keys:
        cond = cond | F.col(partition_col).isNull()
    return df.filter(cond)


def _partition_dirs_fs(spark: SparkSession, base: str, keys: list[str], col: str):
    """(Hadoop Path, FileSystem) of ``<base>/<col>=<key>`` per key, the key
    escaped the way ``partitionBy`` names its directories — any URI scheme."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    escape = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName
    for key in keys:
        path = jvm.org.apache.hadoop.fs.Path(base, f"{col}={escape(key)}")
        yield path, path.getFileSystem(conf)


def delete_partition_dirs(spark: SparkSession, base: str, keys: list[str], col: str) -> None:
    """Remove ``<base>/<col>=<key>`` for each key (a missing dir is a no-op)."""
    for path, fs in _partition_dirs_fs(spark, base, keys, col):
        fs.delete(path, True)


def partition_dirs(spark: SparkSession, base: str, keys: list[str], col: str) -> list[tuple[str, bool]]:
    """(dir URI, exists) of ``<base>/<col>=<key>`` per key — a partitioned
    write creates no dir for a key without rows."""
    return [(path.toString(), fs.exists(path)) for path, fs in _partition_dirs_fs(spark, base, keys, col)]


def _partition_dirs(path: str, partition_col: str) -> list[tuple[str, list[str]]] | None:
    """(partition key, parquet files) per Hive partition directory — the
    shared walk under every footer-metadata reader. Returns None when the
    layout doesn't qualify: not a local dir, no partition dirs, or a NULL
    partition dir (__HIVE_DEFAULT_PARTITION__ — its string key can never
    match str(partition value) downstream, so metadata-backed consumers must
    fall back to the distributed scan rather than silently report zeros).
    Hive URL-encodes special characters in dir names; keys are unescaped
    because downstream matches are against str(partition VALUE)."""
    import glob as _glob

    if not os.path.isdir(path):
        return None
    dirs = sorted(_glob.glob(os.path.join(path, f"{partition_col}=*")))
    if not dirs:
        return None
    out: list[tuple[str, list[str]]] = []
    for d in dirs:
        raw = os.path.basename(d).split("=", 1)[1]
        if raw == HIVE_DEFAULT_PARTITION:
            return None
        out.append((urllib.parse.unquote(raw), _glob.glob(os.path.join(d, "*.parquet"))))
    return out


def partition_row_counts(path: str, partition_col: str = PARTITION_COLUMN) -> dict[str, int] | None:
    """Per-partition row counts from TABLE METADATA — no data scan.

    On Iceberg, per-partition record counts come from manifest files; the
    local Hive-layout parquet equivalent is summing footer row counts per
    partition directory. Footers are a few KB each, so this is driver-cheap
    at benchmark scale and manifest-backed (not per-file) in production.
    Returns None when ``path`` is not a local Hive-partitioned parquet dir
    (caller falls back to a scan aggregation).
    """
    import pyarrow.parquet as pq

    dirs = _partition_dirs(path, partition_col)
    if dirs is None:
        return None
    try:
        return {
            key: sum(pq.read_metadata(f).num_rows for f in files) for key, files in dirs
        }
    except Exception:
        # a corrupt footer / in-flight write / non-parquet stray: metadata is
        # an optimization, never a correctness dependency — fall back to the
        # distributed scan roll-up rather than fail the run
        return None


def write_violations(
    violations: DataFrame,
    out_dir: str,
    partition_col: str | list[str] = PARTITION_COLUMN,
    mode: str = "overwrite",
) -> None:
    """Deterministic violation sink (BASELINE.json:6 byte-match contract).

    ``partition_col`` may list several columns, outermost directory level
    first. ``mode`` is the DataFrameWriter save mode: "overwrite" replaces
    ``out_dir``; "append" adds partition dirs beside existing ones (the
    caller clears the ones it rewrites).

    Parallelism: AQE REBALANCE on the date. Runtime shuffle sizes decide the
    layout — dates ≫ cores coalesce into shared write tasks (file count
    stays one per date, the measured optimum), while a HOT date beyond
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` splits across tasks
    (``optimizeSkewsInRebalancePartitions``), so a few hot dates can never
    serialize the sink and file sizes stay bounded by the advisory size.
    Nothing to size by hand.

    Determinism: rebalance splits and the in-partition sort are
    deterministic for a fixed shuffle-partition config and input (AQE
    decisions derive from map-output statistics, which are reproducible),
    and each file's row set is a deterministic slice of one date group — so
    every file's CONTENT is byte-stable across runs (pinned by the
    determinism test)."""
    cols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    # Parallelism floor for the write stage: AQE's coalescing normally stops
    # at minPartitionSize (1 MB), which at small violation volumes collapses
    # the write into a handful of tasks that then SERIALLY pay the
    # per-output-file fixed cost (writer init + footer + task commit — ~tens
    # of ms × one file per date dir). Dropping the floor to 64 KB lets
    # parallelismFirst spread the write over ~defaultParallelism tasks; at
    # real scale partitions are ≫ 1 MB and this is a no-op. Scoped to this
    # write: AQE reads the conf at execution time, and .parquet() below is
    # eager. The conf is SESSION-GLOBAL: a concurrent writer on the same
    # session could restore it under this write.
    conf = violations.sparkSession.conf
    prev = conf.get(_AQE_FLOOR_KEY, None)
    conf.set(_AQE_FLOOR_KEY, _AQE_FLOOR_VALUE)
    try:
        (
            violations.hint("rebalance", *cols)
            .sortWithinPartitions(*cols, *KEY_COLUMNS, "rule_id", "observed_value")
            .write.mode(mode)
            .partitionBy(*cols)
            .parquet(out_dir)
        )
    finally:
        conf.set(_AQE_FLOOR_KEY, prev) if prev is not None else conf.unset(_AQE_FLOOR_KEY)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table hash-bucketed (and optionally sorted) on the join key —
    Spark's co-location primitive. Two tables bucketed on the same key with
    the same bucket count join WITHOUT ANY EXCHANGE: each task reads bucket i
    of both sides (plan-pinned in tests), which at 100 TB turns every
    repeated fact⋈fact / fact⋈big-dim join on that key from a full shuffle
    of both sides into a local merge. The write itself costs one shuffle
    into the bucket layout — paid ONCE, amortized over every later join,
    which is exactly the trade SURVEY.md §4 prescribes for repeated
    co-located joins.

    Uses ``saveAsTable`` (bucket metadata lives in the session catalog;
    plain ``.parquet()`` paths cannot carry it). On Iceberg the equivalent is
    a ``bucket(N, col)`` partition transform over the same column set.
    """
    if num_buckets <= 0:
        raise ValueError("num_buckets must be positive")
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)


def partition_ts_range(
    path: str, ts_col: str, partition_col: str = PARTITION_COLUMN
) -> dict[str, tuple] | None:
    """Per-partition (min, max) of ``ts_col`` from TABLE METADATA — zero data
    files read. Parquet footers carry per-row-group column statistics; the
    Iceberg equivalents are the manifest's lower_bounds/upper_bounds. The
    freshness gate (stats.freshness_report) runs on this dict, so checking
    "did yesterday's data arrive, and is it current?" costs footer reads
    only — the same stance as partition_row_counts above.

    Returns None when the layout isn't Hive-partitioned local parquet or any
    footer lacks statistics (caller falls back to a scan aggregation).
    """
    import pyarrow.parquet as pq

    dirs = _partition_dirs(path, partition_col)
    if dirs is None:
        return None
    out: dict[str, tuple] = {}
    try:
        for key, files in dirs:
            lo = hi = None
            for f in files:
                md = pq.read_metadata(f)
                idx = md.schema.names.index(ts_col)
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        return None
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
            if lo is None:
                continue  # empty partition dir: no range, freshness reports absent
            out[key] = (lo, hi)
    except Exception:
        # metadata is an optimization, never a correctness dependency
        return None
    return out


class TableCatalog:
    """Catalog-metadata contract — what Iceberg's snapshot/manifest layer
    serves: snapshot lineage, the partition list, per-partition record
    counts, per-partition column bounds. Every method may return None
    ("metadata unavailable — fall back to a scan"); metadata is always an
    optimization, never a correctness dependency (the partition_row_counts
    stance). The validate CLI consumes THIS interface, so swapping the
    parquet stand-in for a real catalog is a constructor change, not an
    engine change — the seam the round-4 VERDICT asked to exercise
    end-to-end (contract test: tests/test_catalog.py drives checkpoint
    resume, metadata verdicts, and freshness through a fake).
    """

    def snapshot_id(self) -> str | None:
        """Current table snapshot/version, for checkpoint lineage."""
        return None

    def partitions(self) -> list[str] | None:
        """Sorted partition keys (str(partition value))."""
        return None

    def partition_record_counts(self) -> dict[str, int] | None:
        """{partition key: row count} from metadata, no data scan."""
        return None

    def partition_ts_range(self, ts_col: str) -> dict[str, tuple] | None:
        """{partition key: (min ts, max ts)} from metadata column bounds."""
        return None


class ParquetFooterCatalog(TableCatalog):
    """The local Hive-layout stand-in: footers serve what manifests serve in
    prod. Delegates to the module-level footer readers (shared with callers
    that use them directly)."""

    def __init__(self, path: str, partition_col: str = PARTITION_COLUMN) -> None:
        self.path = path
        self.partition_col = partition_col

    def partitions(self) -> list[str] | None:
        # Deliberately None: Hive DIRECTORY NAMES are not authoritative for
        # str(partition VALUE) — an int partition column with zero-padded
        # dirs ('part=05' vs value 5) would hand the validate loop a key
        # that partition_scope matches ZERO rows on, silently recording a
        # 0-row pass. The distinct-scan listing (list_partitions) derives
        # keys from the VALUES themselves and stays the source of truth;
        # footer COUNTS remain served (a key mismatch there only degrades a
        # metadata-backed verdict to the scan path — safe). Iceberg's
        # .partitions metadata serves VALUES, not dir names, so the real
        # catalog implements this method.
        return None

    def partition_record_counts(self) -> dict[str, int] | None:
        return partition_row_counts(self.path, self.partition_col)

    def partition_ts_range(self, ts_col: str) -> dict[str, tuple] | None:
        return partition_ts_range(self.path, ts_col, self.partition_col)


class IcebergTableCatalog(TableCatalog):
    """The production shape: Iceberg metadata tables queried through Spark
    (`<table>.snapshots`, `<table>.partitions`) — driver-side metadata
    queries, zero data-file reads. The sandbox image carries no Iceberg
    jars, so this class is exercised by the contract-test fake; on a real
    deployment the queries below are the documented public metadata-table
    interface (Iceberg spec, "Inspecting tables")."""

    def __init__(self, spark: SparkSession, table: str, partition_col: str = PARTITION_COLUMN) -> None:
        self.spark = spark
        self.table = table
        self.partition_col = partition_col

    def snapshot_id(self) -> str | None:
        try:
            rows = self.spark.sql(
                f"SELECT snapshot_id FROM {self.table}.snapshots "
                "ORDER BY committed_at DESC LIMIT 1"
            ).collect()
        except Exception as e:
            # contract: metadata is an optimization, never a correctness
            # dependency — an unpartitioned table, a differently-named
            # partition field, or absent metadata tables must degrade to
            # the scan path, not crash the run
            print(f"[lyra] WARNING: catalog snapshot query failed ({e}); continuing without")
            return None
        return str(rows[0][0]) if rows else None

    def _partition_rows(self):
        return self.spark.sql(
            f"SELECT partition.{self.partition_col} AS key, record_count "
            f"FROM {self.table}.partitions"
        ).collect()

    def partitions(self) -> list[str] | None:
        try:
            return sorted(str(r["key"]) for r in self._partition_rows())
        except Exception as e:
            print(f"[lyra] WARNING: catalog partition listing failed ({e}); falling back to scan")
            return None

    def partition_record_counts(self) -> dict[str, int] | None:
        try:
            return {str(r["key"]): int(r["record_count"]) for r in self._partition_rows()}
        except Exception as e:
            print(f"[lyra] WARNING: catalog record counts failed ({e}); falling back to scan")
            return None

    def partition_ts_range(self, ts_col: str) -> dict[str, tuple] | None:
        # Iceberg's readable_metrics on the .files table exposes per-file
        # lower/upper bounds; aggregating them per partition mirrors the
        # footer path. Left as a scan fallback (None) until run against a
        # real catalog: bounds parsing is format-version-dependent and
        # unverifiable without the jars.
        return None


def catalog_for(spark: SparkSession, uri: str, partition_col: str = PARTITION_COLUMN) -> TableCatalog:
    """The one place the table-URI scheme picks a metadata implementation —
    'iceberg:<catalog.table>' gets the metadata-table catalog, anything else
    the parquet-footer stand-in."""
    if uri.startswith("iceberg:"):
        return IcebergTableCatalog(spark, uri[len("iceberg:") :], partition_col)
    return ParquetFooterCatalog(uri, partition_col)


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    target_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table range-sorted on ``sort_cols`` — the data-SKIPPING
    layout. Parquet writes min/max statistics per row group; when a file's
    row groups cover disjoint slices of the sort key, a selective filter
    reads only the groups whose [min, max] intersect it and skips the rest
    at the footer. At 100 TB this is the difference between scanning the
    table and scanning the slice: the layout complement of
    ``write_bucketed`` (which co-locates JOINS; this prunes FILTERS — on
    Iceberg the pair is `bucket(N, col)` vs a sort order).

    One repartitionByRange exchange (range boundaries from a sample) +
    in-partition sort, both paid once at write; ``target_files`` sizes the
    output (None = session shuffle parallelism). Skew in the sort key is
    absorbed by the range partitioner's sampling — hot values span several
    consecutive files rather than one giant one.
    """
    if not sort_cols:
        raise ValueError("sort_cols must name at least one column")
    cols = [F.col(c) for c in sort_cols]
    shaped = (
        df.repartitionByRange(*( [target_files] if target_files else [] ), *cols)
        .sortWithinPartitions(*cols)
    )
    shaped.write.mode(mode).parquet(path)


def write_zorder(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    target_files: int | None = None,
    mode: str = "overwrite",
    bits: int = 8,
) -> None:
    """Persist a table Z-ORDERED on 2-4 numeric/timestamp columns — the
    MULTI-column data-skipping layout (Delta ``OPTIMIZE ZORDER BY``, an
    Iceberg multi-column sort order). ``write_sorted`` makes predicates on
    THE sort column selective but leaves every other column unsorted; a
    Morton (Z) curve interleaves the bit patterns of each column's quantile
    rank, so consecutive files cover compact HYPER-RECTANGLES of the value
    space and a selective predicate on ANY of the z-columns intersects only
    ~N^((d-1)/d) of N files' footer min/max ranges instead of all of them.

    Construction (two sketch passes, then the write itself):
    per-column quantile edges from ``approxQuantile`` (sampled, driver-side,
    2^bits-1 probes); each row's per-column rank code is a codegen'd
    comparison fold over the literal edge array (O(2^bits) ops/row, paid
    once at write); ranks bit-interleave into one long z-value; file
    boundaries are z-value quantiles (one more sketch pass); ONE exchange
    routes each row to its file + in-partition sort, the same write shape as
    ``write_sorted``, and the layout is the same on every run. NULL ranks
    as 0 (sorts first, like Spark's NULLS FIRST). Skewed columns are
    absorbed by the QUANTILE ranking — equal-mass buckets, never
    equal-width.
    """
    if not 2 <= len(zorder_cols) <= 4:
        raise ValueError("zorder needs 2-4 columns (one column: use write_sorted)")
    if not 1 <= int(bits) <= 12:
        raise ValueError("bits must be in [1, 12]")
    bits = int(bits)
    n_edges = (1 << bits) - 1
    # quantile edges over double-cast projections (timestamps/ints included);
    # non-castable columns fail loudly here, by design
    casted = df.select(
        *[F.col(c).cast("double").alias(f"__z{i}") for i, c in enumerate(zorder_cols)]
    )
    probs = [(i + 1) / (n_edges + 1) for i in range(n_edges)]
    all_edges = casted.stat.approxQuantile(
        [f"__z{i}" for i in range(len(zorder_cols))], probs, 1.0 / (4 * (n_edges + 1))
    )
    rank_cols = []
    for i, (c, edges) in enumerate(zip(zorder_cols, all_edges)):
        uniq = sorted(set(e for e in edges if e == e))  # drop dup + NaN edges
        arr = F.array(*[F.lit(float(e)) for e in uniq])
        v = F.col(c).cast("double")
        # rank = how many edges the value clears; NULL -> 0
        rank = F.coalesce(
            F.size(F.filter(arr, lambda e: v >= e)), F.lit(0)
        ).cast("long")
        rank_cols.append(rank.alias(f"__zr{i}"))
    ranked = df.select("*", *rank_cols)
    # Morton interleave: output bit (b * ncols + j) takes bit b of column j
    ncols = len(zorder_cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for j in range(ncols):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(F.col(f"__zr{j}"), b).bitwiseAND(F.lit(1)),
                    b * ncols + j,
                )
            )
    # File boundaries are z-value quantiles from the same deterministic
    # sketch as the rank edges, and each row goes to its file by id.
    # repartitionByRange would sample its own boundaries with a seed taken
    # from the RDD id, so the layout (and how many files a predicate
    # touches) would depend on how many RDDs the session built before.
    n_files = int(target_files or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    zvals = ranked.withColumn("__zval", z)
    probes = [(i + 1) / n_files for i in range(n_files - 1)]
    bounds = zvals.stat.approxQuantile("__zval", probes, 1.0 / (64 * n_files)) if probes else []
    # a row's file = how many boundaries its z-value clears
    file_id = (
        F.size(F.filter(F.array(*[F.lit(int(b)) for b in bounds]), lambda b: F.col("__zval") >= b))
        if bounds else F.lit(0)
    )
    shaped = (
        zvals.repartitionById(n_files, file_id)
        .sortWithinPartitions("__zval")
        .drop("__zval", *[f"__zr{i}" for i in range(ncols)])
    )
    shaped.write.mode(mode).parquet(path)
