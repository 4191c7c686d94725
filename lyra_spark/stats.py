"""Per-column statistics (BASELINE.json:6): null-rate, distinct-count via HLL,
min/max, length histograms — per partition and global.

All built-in Catalyst aggregates: partial (map-side) + final aggregation is
automatic, so a 1000-executor run never funnels raw rows to one node. Every
approximate distinct count in lyra is one Apache DataSketches HLL sketch
(`hll_sketch_agg` over the value's string form, SEMANTICS #98): the
`approx_distinct` estimate a profile reports and the blob `hll_sketches`
stores for cross-run merging hash the same input, so they agree.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# DataSketches HLL accepts lg_k in [4, 21]; its relative standard error is
# 1.04/√2^lg_k, so the finest sketch bounds the rsd an estimate can promise.
HLL_MAX_LG_K = 21
HLL_MIN_RSD = 1.04 / math.sqrt(2**HLL_MAX_LG_K)


def hll_lg_k(rsd: float) -> int:
    """The smallest HLL lg_k whose standard error 1.04/√2^lg_k is ≤ ``rsd``
    (at least 4): rsd 0.05 → 9, i.e. 512 registers. Raises ValueError for an
    rsd outside (0, 1) or below HLL_MIN_RSD ≈ 0.00072 (lg_k would exceed 21)."""
    if not 0.0 < rsd < 1.0:
        raise ValueError(f"rsd must be in (0, 1), got {rsd!r}")
    # the epsilon keeps rsd = 1.04/√2^k at k when the float log lands a hair above
    lg_k = max(4, math.ceil(math.log2((1.04 / rsd) ** 2) - 1e-9))
    if lg_k > HLL_MAX_LG_K:
        raise ValueError(
            f"rsd {rsd!r} needs HLL lg_k {lg_k} > {HLL_MAX_LG_K}: the smallest rsd is {HLL_MIN_RSD:.5f}"
        )
    return lg_k


def _hll_sketch(c: Column, lg_k: int, count_blank: bool = False) -> Column:
    """The one HLL sketch aggregate: values hashed by their string form; NULLs
    skipped. DataSketches skips a zero-length input too, so with
    ``count_blank`` ``''`` hashes as the byte 0xFF, which no UTF-8 string is
    (a string hashes as its UTF-8 bytes, so the binary cast keeps every
    other value's hash)."""
    s = c.cast("string")
    if count_blank:
        s = F.when(s == "", F.lit(bytearray(b"\xff"))).otherwise(s.cast("binary"))
    return F.hll_sketch_agg(s, F.lit(lg_k))


def approx_distinct(col: Column | str, rsd: float = 0.05) -> Column:
    """Approximate distinct count of ``col`` (a name or any Column, e.g. a
    ``when``-masked one) as a bigint aggregate: the estimate of an HLL sketch
    at hll_lg_k(rsd). ``''`` counts as a value; NULLs are ignored, and an
    empty or all-NULL group gives 0."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_estimate(_hll_sketch(c, hll_lg_k(rsd), count_blank=True))


def column_stats(
    df: DataFrame,
    columns: list[str],
    partition_col: str | None = "part_date",
    rsd: float = 0.05,
) -> DataFrame:
    """One row per (partition, column): null_rate, approx_distinct, min, max.

    min/max are emitted as strings so heterogeneous column types stack into one
    long-format frame.
    """
    group = [partition_col] if partition_col else []
    # ONE aggregation pass computes every column's stats (4 aggs per column in
    # a single hash-agg), then an inline unpivot to long format — at scale this
    # is one scan + one exchange, not len(columns) of each.
    aggs = [F.count(F.lit(1)).alias("row_count")]
    for c in columns:
        aggs += [
            F.avg(F.col(c).isNull().cast("double")).alias(f"__nr_{c}"),
            approx_distinct(c, rsd).alias(f"__ad_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    wide = df.groupBy(*group).agg(*aggs)
    per_col = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"__nr_{c}").alias("null_rate"),
                F.col(f"__ad_{c}").alias("approx_distinct"),
                F.col(f"__mn_{c}").alias("min_value"),
                F.col(f"__mx_{c}").alias("max_value"),
            )
            for c in columns
        ]
    )
    return wide.select(*group, "row_count", F.explode(per_col).alias("s")).select(
        *group, "s.column", "row_count", "s.null_rate", "s.approx_distinct", "s.min_value", "s.max_value"
    )


def length_histogram(
    df: DataFrame,
    column: str = "text",
    bucket_width: int = 50,
    partition_col: str | None = "part_date",
) -> DataFrame:
    """Bucketed counts of length(column) per partition (BASELINE.json:6).

    bucket = floor(length / width); long format (partition, bucket, count) —
    collect to ARRAY<STRUCT> only at report time, never mid-plan.
    """
    group = [partition_col] if partition_col else []
    return (
        df.filter(F.col(column).isNotNull())
        .select(*group, F.floor(F.length(column) / bucket_width).cast("long").alias("bucket"))
        .groupBy(*group, "bucket")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def hll_sketches(
    df: DataFrame,
    columns: list[str],
    partition_col: str | None = "part_date",
    lg_k: int = 12,
) -> DataFrame:
    """Mergeable Apache DataSketches HLL blobs per (partition, column).

    Unlike an approx_distinct estimate these persist across runs: re-validate
    only new partitions, `hll_union_agg` the stored blobs, `hll_sketch_estimate`
    the union — the incremental path at 10^12-turn scale. At lg_k=9 the
    estimate equals column_stats' approx_distinct (rsd 0.05) for a column
    without ``''``: a stored blob skips ``''``, as blobs always have.
    """
    group = [partition_col] if partition_col else []
    # one agg pass for all columns, unpivoted after (same shape as column_stats)
    aggs = [_hll_sketch(F.col(c), lg_k).alias(f"__sk_{c}") for c in columns]
    wide = df.groupBy(*group).agg(*aggs)
    per_col = F.array(
        *[F.struct(F.lit(c).alias("column"), F.col(f"__sk_{c}").alias("sketch")) for c in columns]
    )
    return wide.select(*group, F.explode(per_col).alias("s")).select(
        *group, "s.column", "s.sketch", F.hll_sketch_estimate("s.sketch").alias("estimate")
    )


def merge_hll(sketches: DataFrame, group_cols: list[str] = ("column",)) -> DataFrame:
    """Tree-wise merge of stored HLL blobs → global distinct estimates."""
    return (
        sketches.groupBy(*group_cols)
        .agg(F.hll_union_agg("sketch").alias("sketch"))
        .withColumn("estimate", F.hll_sketch_estimate("sketch"))
    )


def row_count_anomaly(
    df: DataFrame,
    partition_col: str = "part_date",
    trailing: int = 7,
    threshold: float = 0.5,
    counts: DataFrame | None = None,
    min_ref_parts: int = 1,
) -> DataFrame:
    """Partitions whose row count deviates from the trailing-``trailing``-
    partition mean by more than ``threshold`` (relative) — the Deequ-style
    anomaly gate on ingest volume: a date that suddenly has half (pipeline
    dropped a source) or triple (duplicated ingest) its recent volume should
    fail loudly even when every row in it is individually valid.

    Returns (partition_col, row_count, expected, deviation, n_ref_parts) for
    anomalous partitions, scored by _anomaly_filter. Only the FIRST partition
    has no expectation at all; early partitions score against a PARTIAL
    window (partition #2's "mean" is one sample) — ``n_ref_parts`` reports
    the window's actual (non-NULL) size and ``min_ref_parts`` suppresses
    flags until the window has at least that many partitions (default 1 =
    report from the second partition on, the caller deciding what warm-up
    noise to trust; categorical_psi_trailing exposes the same dial).

    Scale: the anomaly math runs on ONE ROW PER PARTITION — ~10⁵ rows at the
    10⁵-Iceberg-partition design point — so the unpartitioned ordering window
    (a single task) is trivially fine. What must NOT happen at scale is the
    counting scan: pass ``counts`` (partition_col, row_count) built from
    parquet footers / Iceberg manifest metadata (lyra_spark.io.
    partition_row_counts) and the whole check reads zero data files.
    """
    from pyspark.sql import Window

    if counts is None:
        counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("row_count"))
    w = Window.orderBy(partition_col).rowsBetween(-trailing, -1)
    scored = counts.select(partition_col, F.col("row_count").cast("long").alias("row_count"))
    return _anomaly_filter(scored, w, "n_ref_parts", threshold, min_ref_parts, value="row_count")


def _anomaly_filter(
    scored: DataFrame, w, n_alias: str, threshold: float, min_ref: int, keep=None,
    value: str = "value",
) -> DataFrame:
    """The one trailing-mean anomaly scorer, under row_count_anomaly,
    metric_anomaly and metrics.metric_anomalies/metric_run_anomalies: each
    row's ``value`` column against its mean over the window ``w``.
    expected / deviation are DECIDED on unrounded values (a near-zero
    trailing mean must not round to 0.0 and dodge the flag; a boundary
    deviation must not round onto the threshold) and only the REPORTED
    columns are rounded to 6 dp. ``n_alias`` counts the window's non-NULL
    values — the ones the mean averages; a NULL value and a NULL or zero
    mean never flag. ``keep`` is an optional row filter applied AFTER the window
    is materialized (run-mode: history rows feed every window but only the
    current run reports). Appends (expected, deviation, n_alias)."""
    v = F.col(value)
    exp_raw = F.avg(v).over(w)
    dev_raw = F.abs(v - exp_raw) / F.abs(exp_raw)
    out = (
        scored.withColumn("__exp", exp_raw)
        .withColumn("__dev", dev_raw)
        .withColumn("__n", F.count(v).over(w))
    )
    if keep is not None:
        out = out.filter(keep)
    return (
        out.filter(
            v.isNotNull()
            & F.col("__exp").isNotNull()
            & (F.col("__exp") != 0)
            & (F.col("__dev") > threshold)
            & (F.col("__n") >= int(min_ref))
        )
        .withColumn("expected", F.round(F.col("__exp"), 6))
        .withColumn("deviation", F.round(F.col("__dev"), 6))
        .withColumn(n_alias, F.col("__n"))
        .drop("__exp", "__dev", "__n")
    )


def frequent_values(
    df: DataFrame,
    columns: list[str],
    k: int = 10,
) -> DataFrame:
    """Exact top-``k`` most frequent values per column, long format
    (column, value, count, rank) — the heavy-hitters half of a column profile
    (column_stats covers null-rate/distinct/min/max; this names the values).

    Deterministic tie-break: count DESC, then value ASC — re-runs and engines
    agree bit-for-bit.

    Scale: one scan unpivots every profiled column into (column, value) pairs,
    ONE exchange aggregates them (map-side partials collapse hot values before
    the shuffle — the count per distinct value is a constant-size buffer), and
    the rank window partitions BY COLUMN over the already-tiny distinct-value
    counts. The expensive case is a high-cardinality column (e.g. an id):
    the aggregate output is ~its cardinality — rows, not lists, so it spills
    gracefully rather than OOMing, and every later step sees ≤ k rows per
    column. NULLs count as the literal '<NULL>' (a top value being NULL is
    exactly what a profiler must surface).
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")).alias("value"),
                    )
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value")
    counts = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("count"))
    w = Window.partitionBy("column").orderBy(F.col("count").desc(), F.col("value").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("column", "value", "count", "rank")
    )


def profile_findings(
    df: DataFrame,
    columns: list[str],
    distinct_mode: str = "approx",
    rsd: float = 0.05,
) -> DataFrame:
    """Actionable findings from a one-pass column profile, long format
    (column, finding, detail): `all_null` (no non-null values), `constant`
    (exactly one non-null value), `complete` (no NULLs at all), and
    `candidate_key` (distinct count == row count — a unique column). The
    "so what" layer over column_stats: a constant enum or an all-null FK is
    a pipeline bug regardless of any per-row rule.

    ONE aggregation pass for every column (same shape as column_stats).
    distinct_mode='approx' (default) uses approx_distinct — the only honest
    option at 10¹²-row scale, where candidate_key means "distinct within
    rsd of rows"; 'exact' uses count(DISTINCT) (Spark expands multiple
    distinct aggs over one scan) for small/oracle-checked profiles.
    """
    agg_d = (
        (lambda c: F.count_distinct(F.col(c)))
        if distinct_mode == "exact"
        else (lambda c: approx_distinct(c, rsd))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),  # non-null count
            agg_d(c).alias(f"__d_{c}"),
            F.min(F.col(c).cast("string")).alias(f"__mn_{c}"),
        ]
    wide = df.agg(*aggs)
    per_col = []
    for c in columns:
        n, nn, d, mn = F.col("__n"), F.col(f"__nn_{c}"), F.col(f"__d_{c}"), F.col(f"__mn_{c}")
        tol = F.lit(1.0) if distinct_mode == "exact" else F.lit(1.0 - rsd)
        findings = F.filter(
            F.array(
                F.when(nn == 0, F.struct(F.lit(c).alias("column"), F.lit("all_null").alias("finding"), F.lit(None).cast("string").alias("detail"))),
                F.when((nn > 0) & (d == 1), F.struct(F.lit(c).alias("column"), F.lit("constant").alias("finding"), mn.alias("detail"))),
                F.when((nn == n) & (n > 0), F.struct(F.lit(c).alias("column"), F.lit("complete").alias("finding"), F.lit(None).cast("string").alias("detail"))),
                F.when((nn == n) & (n > 0) & (d >= tol * n), F.struct(F.lit(c).alias("column"), F.lit("candidate_key").alias("finding"), F.lit(None).cast("string").alias("detail"))),
            ),
            lambda s: s.isNotNull(),
        )
        per_col.append(findings)
    return wide.select(F.explode(F.flatten(F.array(*per_col))).alias("f")).select(
        "f.column", "f.finding", "f.detail"
    )


def outlier_rows(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    partition_col: str | None = "part_date",
    z: float = 3.0,
) -> DataFrame:
    """Rows whose ``value_col`` lies more than ``z`` sample standard
    deviations from their partition's mean — the row-granular outlier check
    (row rules catch fixed-range violations; this catches values that are
    legal but wildly atypical for their cohort).

    Returns (*key_cols, [partition_col], value, zscore) with zscore rounded
    to 4 dp (the filter compares unrounded, like robust_outlier_rows).

    Scale: ONE aggregate produces one (mean, std) row per partition; the
    verdict is then a MAP-ONLY filter over the scan with that tiny frame
    broadcast back — the data never shuffles. Partitions with fewer than two
    non-null values (std undefined/zero) emit nothing.
    """
    group = [partition_col] if partition_col else []
    # join on a NULL-sentineled key: an equi-join never matches NULL = NULL,
    # which would silently exclude the NULL partition's rows from z-scoring
    if group:
        pk = F.coalesce(F.col(partition_col).cast("string"), F.lit("<NULL>"))
        src = df.withColumn("__pk", pk)
        stats_df = src.groupBy("__pk").agg(
            F.avg(value_col).alias("__mu"), F.stddev_samp(value_col).alias("__sd")
        )
        joined = src.join(F.broadcast(stats_df), "__pk").drop("__pk")
    else:
        stats_df = df.agg(
            F.avg(value_col).alias("__mu"), F.stddev_samp(value_col).alias("__sd")
        )
        joined = df.crossJoin(F.broadcast(stats_df))
    zscore = (F.col(value_col) - F.col("__mu")) / F.col("__sd")
    return (
        joined.filter(
            F.col(value_col).isNotNull()
            & F.col("__sd").isNotNull()
            & (F.col("__sd") > 0)
            & (F.abs(zscore) > z)
        )
        .select(*key_cols, *group, F.col(value_col).alias("value"), F.round(zscore, 4).alias("zscore"))
    )


def column_entropy(
    df: DataFrame,
    columns: list[str],
    partition_col: str | None = None,
) -> DataFrame:
    """Shannon entropy (nats) and distinctness ratio per categorical column,
    long format (column, entropy, distinct_count, non_null_count,
    distinctness) — the information-content half of a column profile. A
    near-zero entropy flags a column that collapsed to one value upstream; a
    distinctness near 1.0 flags an accidental id column. NULLs are excluded
    (entropy of the *observed* value distribution, the Deequ convention).

    Scale: one scan unpivots every profiled column into (column, value)
    pairs, ONE exchange aggregates them into per-value counts (map-side
    partials collapse hot values before the shuffle; buffers are constant
    size), and the entropy roll-up aggregates that already-distinct grid —
    its input is the columns' total cardinality, not the row count. Same
    shape as `frequent_values`; a 10¹²-row table costs one pass + one
    value-grid aggregation.
    """
    group = [partition_col] if partition_col else []
    pairs = df.select(
        *group,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
                    for c in columns
                ]
            )
        ).alias("p"),
    ).select(*group, "p.column", "p.value").filter(F.col("value").isNotNull())
    counts = pairs.groupBy(*group, "column", "value").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt")
    # H = ln(n) - sum(c*ln c)/n: one pass over the value grid, no join back
    # against a per-column total.
    ent = F.log(n) - F.sum(F.col("cnt") * F.log("cnt")) / n
    return counts.groupBy(*group, "column").agg(
        F.round(ent, 6).alias("entropy"),
        F.count(F.lit(1)).alias("distinct_count"),
        n.alias("non_null_count"),
        F.round(F.count(F.lit(1)) / n, 6).alias("distinctness"),
    )


def numeric_correlations(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    partition_col: str | None = None,
) -> DataFrame:
    """Pearson correlation for each (x, y) column pair, long format
    (x_col, y_col, corr, n_pairs) — the cross-column profile a validator
    needs to catch broken derived columns (price vs quantity suddenly
    uncorrelated) that every single-column stat misses.

    ONE hash-aggregation pass computes every pair's `corr` plus its non-null
    pair count (Catalyst's Pearson aggregate keeps constant-size moment
    buffers and merges them tree-wise — partial aggregation is automatic, so
    the 1000-executor plan is scan + one tiny exchange of moment buffers).
    """
    group = [partition_col] if partition_col else []
    aggs = []
    for x, y in pairs:
        both = F.col(x).isNotNull() & F.col(y).isNotNull()
        aggs += [
            F.corr(x, y).alias(f"__c_{x}_{y}"),
            F.sum(both.cast("long")).alias(f"__n_{x}_{y}"),
        ]
    wide = df.groupBy(*group).agg(*aggs)
    per_pair = F.array(
        *[
            F.struct(
                F.lit(x).alias("x_col"),
                F.lit(y).alias("y_col"),
                F.round(F.col(f"__c_{x}_{y}"), 6).alias("corr"),
                F.col(f"__n_{x}_{y}").alias("n_pairs"),
            )
            for x, y in pairs
        ]
    )
    return wide.select(*group, F.explode(per_pair).alias("s")).select(
        *group, "s.x_col", "s.y_col", "s.corr", "s.n_pairs"
    )


def percentile_stats(
    df: DataFrame,
    column: str,
    percentiles: list[float],
    partition_col: str | None = None,
) -> DataFrame:
    """Exact interpolated percentiles of a numeric column, long format
    (percentile, value) — the oracle-checkable counterpart of the KLL
    drift path (drift.py sketches approximate quantiles at scale; this pins
    the exact definition both implement: linear interpolation between order
    statistics, the Hyndman-Fan type-7 / SQL PERCENTILE_CONT rule).

    Spark's `percentile` is an exact aggregate: each task buffers its
    partition's values, partials merge tree-wise, and the final interpolation
    happens once. That makes it O(column bytes) in executor memory per group
    at the FINAL step — honest for per-partition groups and profile samples;
    at full 10¹²-row scale use the KLL sketch path and treat this as the
    ground-truth gate run on samples/partitions.
    """
    group = [partition_col] if partition_col else []
    pcts = F.percentile(F.col(column), F.array(*[F.lit(p) for p in percentiles]))
    wide = df.groupBy(*group).agg(pcts.alias("__p"))
    per_p = F.array(
        *[
            F.struct(
                F.lit(p).alias("percentile"),
                F.round(F.col("__p")[i], 6).alias("value"),
            )
            for i, p in enumerate(percentiles)
        ]
    )
    return wide.select(*group, F.explode(per_p).alias("s")).select(
        *group, "s.percentile", "s.value"
    )


def key_skew_profile(
    df: DataFrame,
    key_cols: list[str],
    p: float = 0.99,
    max_buckets: int = 256,
) -> DataFrame:
    """Skew diagnosis for a prospective shuffle/window/join key: one row with
    the key-count distribution summary and a salt-bucket recommendation —
    the introspection that decides whether the salted two-phase machinery
    (checks.with_salt, SURVEY.md §2 row 27) is worth its extra exchange.

    Shape: groupBy(key).count() collapses the table to one row per distinct
    key with constant-size buffers (a hot key partially aggregates map-side —
    counting the skew does not ITSELF skew); the summary then aggregates the
    key grid, whose cost is key cardinality, never row count. The percentile
    over per-key counts is exact interpolated (same PERCENTILE_CONT rule as
    percentile_stats, and the same honesty note: at 10^9+ distinct keys feed
    the grid to the KLL sketch path instead).

    recommended_buckets = clamp(ceil(max/mean), 1, max_buckets): enough salt
    that the hottest key's expected per-bucket share matches the average
    key's load. NULL keys are excluded (they never join/window together
    semantically; their count is the null-rate stat's job).
    """
    key_not_null = F.lit(True)
    for k in key_cols:
        key_not_null = key_not_null & F.col(k).isNotNull()
    grid = (
        df.filter(key_not_null)
        .groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    mean = F.avg("__n")
    mx = F.max("__n")
    return grid.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        mx.alias("max_count"),
        F.round(mean, 6).alias("mean_count"),
        F.round(F.percentile(F.col("__n"), F.lit(float(p))), 6).alias("p_count"),
        F.round(mx / mean, 6).alias("skew_ratio"),
        F.least(
            F.lit(int(max_buckets)),
            F.greatest(F.lit(1).cast("long"), F.ceil(mx / mean)),
        ).alias("recommended_buckets"),
    )


def key_skew_profiles(
    df: DataFrame,
    columns: list[str],
    p: float = 0.99,
    max_buckets: int = 256,
) -> DataFrame:
    """Multi-column variant of :func:`key_skew_profile` for single-column
    keys, long format (column, n_keys, n_rows, ...): ONE scan unpivots every
    profiled column into (column, value) pairs (the `column_entropy` /
    `frequent_values` shape), one exchange builds the per-(column, value)
    count grid with constant buffers, and each column's summary rolls up
    from that grid — K columns for the price of one pass, where the
    per-column loop would re-scan the table K times. Composite keys still go
    through :func:`key_skew_profile`.
    """
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
                    for c in columns
                ]
            )
        ).alias("p")
    ).select("p.column", "p.value").filter(F.col("value").isNotNull())
    grid = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("__n"))
    mean = F.avg("__n")
    mx = F.max("__n")
    return grid.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("__n").alias("n_rows"),
        mx.alias("max_count"),
        F.round(mean, 6).alias("mean_count"),
        F.round(F.percentile(F.col("__n"), F.lit(float(p))), 6).alias("p_count"),
        F.round(mx / mean, 6).alias("skew_ratio"),
        F.least(
            F.lit(int(max_buckets)),
            F.greatest(F.lit(1).cast("long"), F.ceil(mx / mean)),
        ).alias("recommended_buckets"),
    )


def freshness_report(
    df: DataFrame,
    ts_col: str = "ts",
    partition_col: str = "part_date",
    as_of=None,
    max_lag_hours: float = 24.0,
    ranges: dict | None = None,
    expected_partitions: list | None = None,
) -> DataFrame:
    """Per-partition data freshness: (max_ts, lag_seconds, stale) — the
    "did today's data actually arrive, and is it current?" gate. ``as_of``
    is the evaluation instant; None uses the freshest timestamp in the table
    (self-referential mode: lag is then "behind the newest partition", and
    the newest partition's lag is 0 by construction). A partition is
    ``stale`` when its newest row lags ``as_of`` by more than
    ``max_lag_hours``.

    Scale shape, two paths exactly like row_count_anomaly's:
      * ``ranges`` (from lyra_spark.io.partition_ts_range — parquet footer
        statistics locally, Iceberg manifest bounds in prod): ZERO data files
        read; the report is assembled driver-side from O(P) metadata and
        shipped through the Arrow local-relation path.
      * else one distributed MAX aggregate — constant buffers, map-side
        partials, a single exchange of one row per partition.

    ``ts_col`` is cast to TIMESTAMP explicitly: some writers produce
    TIMESTAMP_NTZ parquet, and unix_micros on the raw column would
    type-error there (SEMANTICS.md NTZ note).

    ``expected_partitions``: the gate's blind spot without it is the WORST
    freshness failure — a partition that never arrived has no data row, so
    a data-derived report simply omits it and every emitted row looks fresh.
    Passing the expected keys (today's date, the manifest's partition list)
    emits (max_ts NULL, lag NULL, stale TRUE) for each absent-or-empty one.
    """
    if ranges is not None:
        import pandas as pd

        from pyspark.sql.types import (
            BooleanType,
            DoubleType,
            StringType,
            StructField,
            StructType,
            TimestampType,
        )

        spark = df.sparkSession
        schema = StructType(
            [
                StructField(partition_col, StringType()),
                StructField("max_ts", TimestampType()),
                StructField("lag_seconds", DoubleType()),
                StructField("stale", BooleanType()),
            ]
        )
        missing = sorted(
            {str(p) for p in (expected_partitions or [])} - {str(k) for k in ranges}
        )
        keys = sorted(ranges)
        if not keys and not missing:
            # every partition dir was empty: an empty report, not a crash
            # (mirrors the distributed path's output on an empty table)
            return spark.createDataFrame(pd.DataFrame(columns=schema.fieldNames()), schema)
        maxes = {k: ranges[k][1] for k in keys}
        anchor = as_of if as_of is not None else (max(maxes.values()) if maxes else None)
        rows = [
            {
                partition_col: k,
                "max_ts": maxes[k],
                "lag_seconds": (anchor - maxes[k]).total_seconds(),
                "stale": (anchor - maxes[k]).total_seconds() > max_lag_hours * 3600.0,
            }
            for k in keys
        ] + [
            {partition_col: m, "max_ts": None, "lag_seconds": None, "stale": True}
            for m in missing
        ]
        rows.sort(key=lambda r: str(r[partition_col]))
        return spark.createDataFrame(pd.DataFrame(rows, columns=schema.fieldNames()), schema)

    from pyspark.sql import Window

    agg = df.groupBy(partition_col).agg(
        F.max(F.col(ts_col).cast("timestamp")).alias("max_ts")
    )
    if expected_partitions:
        import pandas as pd

        # FULL OUTER against the expected list: an expected partition with no
        # data rows gets (max_ts NULL → stale TRUE); unexpected-but-present
        # partitions still report. String-keyed on both sides.
        exp = df.sparkSession.createDataFrame(
            pd.DataFrame({partition_col: sorted({str(p) for p in expected_partitions})})
        )
        agg = (
            agg.withColumn(partition_col, F.col(partition_col).cast("string"))
            .join(exp, [partition_col], "full_outer")
        )
    wtot = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    anchor = F.lit(as_of).cast("timestamp") if as_of is not None else F.max("max_ts").over(wtot)
    lag = (F.unix_micros(anchor) - F.unix_micros(F.col("max_ts"))) / F.lit(1e6)
    return agg.select(
        partition_col,
        "max_ts",
        lag.alias("lag_seconds"),
        F.when(F.col("max_ts").isNull(), F.lit(True))
        .otherwise(lag > F.lit(max_lag_hours * 3600.0))
        .alias("stale"),
    )


def metric_anomaly(
    metrics: DataFrame,
    partition_col: str,
    value_col: str,
    trailing: int = 7,
    threshold: float = 0.5,
    min_ref_parts: int = 1,
) -> DataFrame:
    """Trailing-mean anomaly gate over ANY per-partition metric — the
    generalization of row_count_anomaly to the run-over-run quality monitor:
    feed it a (partition, metric) frame (violation rate per day from the
    verdict grid, avg quality score, null rate, mean value…) and partitions
    whose metric deviates from the trailing-``trailing`` mean by more than
    ``threshold`` (relative) flag. A rule whose violation RATE triples today
    is a pipeline regression even when every partition still "passes" its
    absolute gate.

    Input is ALREADY aggregated — one row per partition (verdict parquet,
    stats output, metadata counts), so the single-task ordering window is
    O(#partitions) and this check never touches data files. Scored by
    _anomaly_filter: only the first partition has no expectation; early
    partitions score against a PARTIAL window — ``n_ref_parts`` reports the
    window's actual (non-NULL) size and ``min_ref_parts`` suppresses warm-up
    flags (row_count_anomaly's dial).
    All-zero history (expected = 0) never flags either — a metric appearing
    for the first time is a different alert than one that moved.

    Returns (partition, metric, expected, deviation, n_ref_parts) for
    anomalous rows.
    """
    from pyspark.sql import Window

    w = Window.orderBy("partition").rowsBetween(-trailing, -1)
    scored = metrics.select(
        F.col(partition_col).alias("partition"),
        F.col(value_col).cast("double").alias("metric"),
    )
    return _anomaly_filter(scored, w, "n_ref_parts", threshold, min_ref_parts, value="metric")


def robust_outlier_rows(
    df: DataFrame,
    value_col: str,
    key_cols: list[str],
    partition_col: str | None = "part_date",
    z: float = 3.5,
    exact: bool = True,
    approx_accuracy: int = 10_000,
) -> DataFrame:
    """Rows whose MODIFIED z-score ``0.6745·(x − median)/MAD`` exceeds ``z``
    in absolute value — the robust companion of ``outlier_rows``. The
    mean/std version suffers MASKING: the outliers it should expose inflate
    the very std they are scored against, so a partition with a handful of
    10⁶× spikes can rate everything "normal". Median and MAD (median
    absolute deviation) have a 50% breakdown point; 0.6745 = Φ⁻¹(3/4)
    rescales MAD to σ-equivalents under normality (Iglewicz & Hoaglin's
    modified z-score, the public construction; |M| > 3.5 is their
    recommended cut).

    Returns (*key_cols, [partition_col], value, mod_zscore) with mod_zscore
    rounded 4 dp (the filter compares unrounded). Partitions where MAD = 0
    (a majority-constant cohort — deviation has no robust unit) or with no
    non-NULL values emit nothing, like outlier_rows' sd-degenerate case.

    Scale: two aggregate passes + one map-only verdict filter with the
    per-partition (median, MAD) frame broadcast back; the data itself never
    shuffles, but the column is scanned three times (median, deviations,
    verdict) — all column-pruned. MEMORY BOUND (the honest caveat the old
    "two tiny passes" wording hid): exact ``F.percentile`` is an order
    statistic — its aggregation buffer holds EVERY non-NULL value of a
    cohort, ~8 bytes × rows-per-partition on one executor. Fine to ~10⁸
    values/cohort; a 10^12-row table with few partitions must either pass
    ``exact=False`` (sketch-based ``percentile_approx``: constant
    ~``approx_accuracy``-sized buffers, rank error ≤ 1/accuracy — at the
    default 10⁴ the median of any real cohort moves well under the 3.5σ
    decision margin) or pre-slice cohorts finer. ``exact=True`` stays the
    default because it is the oracle-parity contract (DuckDB
    ``quantile_cont``) and bit-deterministic.
    """
    group = [partition_col] if partition_col else []
    if group:
        pk = F.coalesce(F.col(partition_col).cast("string"), F.lit("<NULL>"))
        src = df.withColumn("__pk", pk)
    else:
        src = df.withColumn("__pk", F.lit(""))
    def _median(col: Column) -> Column:
        if exact:
            return F.percentile(col, F.lit(0.5))
        return F.percentile_approx(col, F.lit(0.5), F.lit(int(approx_accuracy)))

    med = src.groupBy("__pk").agg(_median(F.col(value_col)).alias("__med"))
    mad = (
        src.join(F.broadcast(med), "__pk")
        .withColumn("__adev", F.abs(F.col(value_col) - F.col("__med")))
        .groupBy("__pk")
        .agg(
            F.max("__med").alias("__med"),
            _median(F.col("__adev")).alias("__mad"),
        )
    )
    mz = F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad")
    return (
        src.join(F.broadcast(mad), "__pk")
        .filter(
            F.col(value_col).isNotNull()
            & F.col("__mad").isNotNull()
            & (F.col("__mad") > 0)
            & (F.abs(mz) > z)
        )
        .select(
            *key_cols,
            *group,
            F.col(value_col).alias("value"),
            F.round(mz, 4).alias("mod_zscore"),
        )
    )


BENFORD_EXPECTED = [0.30103, 0.17609, 0.12494, 0.09691, 0.07918,
                    0.06695, 0.05799, 0.05115, 0.04576]


def benford_deviation(
    df: DataFrame,
    value_col: str,
    partition_col: str | None = "part_date",
    min_rows: int = 100,
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law — the classic
    fabricated-/synthetic-data audit (Nigrini's construction, public):
    naturally-generated multi-scale magnitudes follow P(d) = log10(1+1/d);
    hand-typed, capped, or copy-pasted numbers do not. Reports BOTH standard
    conformity statistics per partition: chi² = n·Σ(p−e)²/e and MAD
    (mean |p−e| over the nine digits — Nigrini's preferred cut: < 0.006
    close, > 0.015 nonconformity for general data).

    Zero and NULL values carry no first digit and are excluded; partitions
    with fewer than ``min_rows`` usable values are excluded (first-digit
    fractions are meaningless at tiny n). This is a PROFILE, not a gate —
    uniform synthetic data legitimately fails Benford; the caller decides
    what conformity means for their column.

    Scale: one exchange into the (partition × 9-digit) count grid (map-side
    partials, constant buffers); the statistics roll up from ≤ 9 rows per
    partition. First digit = ⌊|v| / 10^⌊log10 |v|⌋⌋ — pure math, no string
    formatting (engine-portable: both Spark and the oracle use correctly-
    rounded IEEE log10).
    """
    group = [partition_col] if partition_col else []
    v = F.abs(F.col(value_col).cast("double"))
    fsd = F.floor(v / F.pow(F.lit(10.0), F.floor(F.log10(v)))).cast("int")
    # NaN and ±Inf have no first digit either — and Spark's NaN > 0 is TRUE
    # (NaN sorts greatest), so the positivity filter alone would let NaN
    # through into a fabricated digit bucket
    grid = (
        df.filter(
            F.col(value_col).isNotNull()
            & ~F.isnan(v)
            & (v > 0)
            & (v < F.lit(float("inf")))
        )
        .select(*group, fsd.alias("__d"))
        .groupBy(*group, "__d")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    wide = grid.groupBy(*group).agg(
        F.sum("__c").alias("n"),
        *[
            F.sum(F.when(F.col("__d") == d, F.col("__c")).otherwise(F.lit(0))).alias(f"__c{d}")
            for d in range(1, 10)
        ],
    ).filter(F.col("n") >= min_rows)
    chi2 = sum(
        (F.col(f"__c{d}") / F.col("n") - F.lit(e)) ** 2 / F.lit(e)
        for d, e in zip(range(1, 10), BENFORD_EXPECTED)
    ) * F.col("n")
    mad = sum(
        F.abs(F.col(f"__c{d}") / F.col("n") - F.lit(e))
        for d, e in zip(range(1, 10), BENFORD_EXPECTED)
    ) / F.lit(9.0)
    return wide.select(
        *group,
        "n",
        F.round(chi2, 6).alias("chi2"),
        F.round(mad, 6).alias("mad"),
    )
