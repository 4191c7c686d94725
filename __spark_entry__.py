"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship validation suite on sf0.001. Each
``queries()[name]`` runs at sf0.01 and is compared against
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). Every query goes through the lyra_spark public API — these ARE
the engine's operators (SURVEY.md §2), not ad-hoc SQL.

Cross-engine hygiene: aggregate/computed columns aliased identically on both
sides; doubles rounded before emission; timestamps compared as epoch
microseconds (unix_micros ↔ epoch_us) — Spark session TZ is UTC.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from lyra_spark import checks
from lyra_spark import rules as R
from lyra_spark.engine import compute_verdicts, row_violations
from lyra_spark.rules import RuleSet
from lyra_spark.session import ensure_shipped
from lyra_spark.stats import column_stats, length_histogram


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{table}.parquet"))


# ---------------------------------------------------------------------------
# The events-table ruleset: thresholds chosen so violations EXIST in the
# driver-generated data (event_type enum subset, value ≤ 100, 2-digit json k).
# ---------------------------------------------------------------------------
def events_ruleset() -> RuleSet:
    return RuleSet(
        [
            R.enum("event_type", ["click", "view", "purchase", "signup"], rule_id="event_type_enum"),
            R.range_rule("value", min=0.0, max=100.0, rule_id="value_range"),
            R.pattern("props", '\\{"k": [0-9]{2}\\}', rule_id="props_pattern"),
            R.required("event_type", rule_id="event_type_required"),
        ]
    )


EVENTS_ORACLE_VIOLATIONS = """
    SELECT event_id, 'event_type_enum' AS rule_id, event_type AS observed_value
      FROM events WHERE event_type IS NOT NULL
       AND event_type NOT IN ('click','view','purchase','signup')
    UNION ALL
    SELECT event_id, 'value_range' AS rule_id, CAST(value AS VARCHAR) AS observed_value
      FROM events WHERE value IS NOT NULL AND NOT (value >= 0.0 AND value <= 100.0)
    UNION ALL
    SELECT event_id, 'props_pattern' AS rule_id, props AS observed_value
      FROM events WHERE props IS NOT NULL
       AND NOT regexp_matches(props, '^(?:\\{"k": [0-9]{2}\\})$')
    UNION ALL
    SELECT event_id, 'event_type_required' AS rule_id, CAST(NULL AS VARCHAR) AS observed_value
      FROM events WHERE event_type IS NULL
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full rule-family validation of the events table at sf0.001."""
    ensure_shipped(spark)
    events = _read(spark, "/root/testdata/sf0.001", "events")
    return row_violations(events, events_ruleset(), key_cols=["event_id"], partition_col=None)


# ---------------------------------------------------------------------------
# queries() — each is one SURVEY.md §2 operator exercised through the engine.
# ---------------------------------------------------------------------------
def q_validate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 rows 8-22: compiled rule family + violation assembly (one pass)."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events")
    return row_violations(events, events_ruleset(), key_cols=["event_id"], partition_col=None)


def q_verdicts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 34: per-partition (day) × per-rule pass/fail verdicts."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    viol = row_violations(events, events_ruleset(), key_cols=["event_id"], partition_col="day")
    rule_ids = [r.rule_id for r in events_ruleset().checks]
    return compute_verdicts(events, viol, rule_ids, partition_col="day").withColumnRenamed("pass", "passed")


def q_functional_dep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style X → Y consistency: users whose events span >1 event_type
    (constant-buffer two-phase aggregate — no value lists at any group size)."""
    ensure_shipped(spark)
    from lyra_spark.checks import functional_dependency_violations

    events = _read(spark, sf_dir, "events")
    return functional_dependency_violations(events, ["user_id"], "event_type")


def q_rowcount_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-volume anomaly gate: days whose row count deviates >5% from the
    trailing-7-day mean. The anomaly math runs on one row per partition; at
    scale the counts come from table metadata (io.partition_row_counts), not
    a scan."""
    ensure_shipped(spark)
    from lyra_spark.stats import row_count_anomaly

    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return row_count_anomaly(events, "day", trailing=7, threshold=0.05)


def q_frequent_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters per profiled column (one scan, one exchange;
    deterministic count-DESC/value-ASC tie-break)."""
    ensure_shipped(spark)
    from lyra_spark.stats import frequent_values

    events = _read(spark, sf_dir, "events")
    return frequent_values(events, ["event_type", "user_id"], k=5)


def q_schema_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-conformance report as data: the events table's ACTUAL schema
    diffed against an expected schema with planted drift — a missing column
    (session_id), a type change (value float→double), a tightened nullability
    (event_type), and an unexpected extra (props). Pure driver-side metadata,
    zero scans. The ts column is excluded on both sides: its parquet logical
    type (TIMESTAMP vs TIMESTAMP_NTZ) is a reader-config artifact, not schema
    drift, and pinning it would make the oracle host-dependent."""
    ensure_shipped(spark)
    from pyspark.sql import types as T

    from lyra_spark.schema import schema_diff

    events = _read(spark, sf_dir, "events")
    expected = T.StructType(
        [
            T.StructField("event_id", T.LongType(), True),
            T.StructField("user_id", T.LongType(), True),
            T.StructField("event_type", T.StringType(), False),
            T.StructField("value", T.FloatType(), True),
            T.StructField("session_id", T.StringType(), True),
        ]
    )
    actual = T.StructType([f for f in events.schema.fields if f.name != "ts"])
    rows = [
        (d["column"], d["status"], d["expected_type"], d["actual_type"])
        for d in schema_diff(actual, expected)
    ]
    return spark.createDataFrame(
        rows, "column string, status string, expected_type string, actual_type string"
    )


def q_violation_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded failing examples per rule (engine.violation_samples): k rows +
    the group total per rule — what a quality report shows a human. The
    sample window is pruned to k rows per task BEFORE its exchange
    (WindowGroupLimit); totals join back broadcast-small."""
    ensure_shipped(spark)
    from lyra_spark.engine import row_violations, violation_samples

    events = _read(spark, sf_dir, "events")
    viol = row_violations(events, events_ruleset(), key_cols=["event_id"], partition_col=None)
    return violation_samples(viol, k=3, key_cols=["event_id"])


def q_profile_findings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Actionable profile findings (stats.profile_findings): all-null /
    constant / complete / candidate-key columns from ONE aggregation pass.
    Two planted columns (a constant, an all-null) exercise every finding
    kind; exact distinct mode so the DuckDB oracle replicates bit-for-bit
    (approx/HLL is the documented 10¹²-row mode)."""
    ensure_shipped(spark)
    from lyra_spark.stats import profile_findings

    events = (
        _read(spark, sf_dir, "events")
        .withColumn("src", F.lit("events"))
        .withColumn("dead", F.lit(None).cast("string"))
    )
    return profile_findings(
        events, ["event_id", "event_type", "value", "src", "dead"], distinct_mode="exact"
    )


def q_suggest_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rule suggestion (suggest.suggest_rules): profile the orders table once
    and propose a runnable ruleset — required / unique / enum / range /
    length facts that hold on the data (Deequ ConstraintSuggestion shape).
    Exact distinct mode so the DuckDB oracle replicates bit-for-bit
    (approx/HLL is the documented 10¹²-row mode); pass 1 is ONE wide
    aggregate, pass 2 builds enum value lists only for columns that survive
    the cardinality cut."""
    ensure_shipped(spark)
    from lyra_spark.suggest import suggest_rules

    orders = _read(spark, sf_dir, "orders")
    return suggest_rules(
        orders,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
        distinct_mode="exact",
    )


def q_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day z-score outliers on events.value (stats.outlier_rows): one
    tiny (mean, std) aggregate per day broadcast back over the scan — the
    data never shuffles. Closest zscore to the 3.0 threshold at sf0.01 is
    3.0071, so engine float-sum ordering cannot flip the row set."""
    ensure_shipped(spark)
    from lyra_spark.stats import outlier_rows

    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return outlier_rows(events, "value", ["event_id"], partition_col="day", z=3.0)


def q_rollup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation (ROLLUP): violation-style counts by
    (day, event_type) with day subtotals and a grand total in one pass —
    Spark expands grouping sets map-side, still a single exchange."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return events.rollup("day", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.grouping_id("day", "event_type").alias("lvl"),
    )


def q_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-format pivot: one row per day, one count column per event type
    (fixed pivot values → no extra discovery pass; one exchange)."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    kinds = ["click", "view", "purchase", "signup"]
    return (
        events.groupBy("day")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .select("day", *[F.coalesce(F.col(k), F.lit(0)).alias(f"n_{k}") for k in kinds])
    )


def q_trailing_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window categorical drift (drift.categorical_psi_trailing):
    each day's event_type distribution vs the pooled previous 3 days — the
    run-over-run drift monitor (the whole-table reference dilutes a regime
    change as history grows). Raw rows shuffle once into the (day, value)
    grid; windows and roll-ups run on pre-aggregated counts. 4 dp so both
    engines' float sums compare stably."""
    ensure_shipped(spark)
    from lyra_spark.drift import categorical_psi_trailing

    events = _read(spark, sf_dir, "events").withColumn(
        "part_date", F.date_format("ts", "yyyy-MM-dd")
    )
    out = categorical_psi_trailing(events, "event_type", partition_col="part_date", k=3)
    return out.select(
        F.col("partition").alias("day"),
        F.round("psi", 4).alias("psi"),
        F.round("js", 4).alias("js"),
        "n_rows",
        "ref_rows",
        "n_ref_parts",
        "n_categories",
    )


def q_contiguity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn-index density check (checks.contiguity_violations): lineitem's
    l_linenumber is naturally dense from 1, so deleting line 3 of every 7th
    order plants gaps (orders with exactly 3 lines shrink and stay dense —
    both engines must agree on which). ONE hash-agg exchange on the
    conversation key; count(DISTINCT) keeps duplicates from masking gaps."""
    ensure_shipped(spark)
    li = _read(spark, sf_dir, "lineitem")
    planted = li.filter(~((F.col("l_orderkey") % 7 == 0) & (F.col("l_linenumber") == 3)))
    return checks.contiguity_violations(planted, "l_orderkey", "l_linenumber", base=1)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup (asof.asof_join): each event joined to the most
    recent order at-or-before its ts by the same user — the union+window
    construction: ONE exchange + ONE sort of |events|+|orders|, no join node
    (plan-pinned in tests); ties on o_orderdate break to the greatest
    o_orderkey, carried as one struct so the match is always a whole row."""
    ensure_shipped(spark)
    from lyra_spark.asof import asof_join

    events = _read(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = _read(spark, sf_dir, "orders").withColumnRenamed("o_custkey", "user_id")
    out = asof_join(
        events,
        orders,
        on=["user_id"],
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols={
            "o_orderkey": "asof_orderkey",
            "o_orderdate": "asof_orderdate",
            "o_totalprice": "asof_totalprice",
        },
        right_order_cols=["o_orderkey"],
    )
    # cast before unix_micros: some testdata tiers write TIMESTAMP_NTZ
    # parquet (UTC session ⇒ the cast is a stable bijection — same contract
    # as sessionize._us; caught by the sf0.1 cross-scale sweep)
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        "asof_orderkey",
        F.unix_micros(F.col("asof_orderdate").cast("timestamp")).alias("asof_odate_us"),
        F.round("asof_totalprice", 6).alias("asof_totalprice"),
    )


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join (ranges.interval_join): for every purchase, the
    events by the same user inside [ts, ts+1h] — the attribution-window
    shape. Time-bucketed equi-join on (user, bucket) with the range predicate
    as a join residual: never a nested loop (plan-pinned), candidates bounded
    by bucket collisions, AQE can split hot users."""
    ensure_shipped(spark)
    from lyra_spark.ranges import interval_join

    events = _read(spark, sf_dir, "events")
    points = events.select("event_id", "user_id", "ts", "value")
    anchors = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("anchor_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    joined = interval_join(
        points,
        anchors,
        on=["user_id"],
        point_ts="ts",
        start_ts="w_start",
        end_ts="w_end",
        bucket_width_sec=3600,
    )
    return joined.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_follow"),
        F.round(F.sum("value"), 6).alias("sum_value"),
    )


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size Poisson sampling
    (sample.weighted_sample_poisson): include each document with probability
    min(1, k·w/Σw) keyed on the md5 uniform — map-only, zero shuffles, and
    bit-reproducible across engines (only correctly-rounded IEEE ops after
    the hash, so the DuckDB oracle rebuilds the exact row set). The exact-k
    Efraimidis–Spirakis variant is pinned in-repo (pow() ulp caveat in its
    docstring)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import weighted_sample_poisson

    docs = _read(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars")).collect()[0][0]
    out = weighted_sample_poisson(
        docs, expected=100, weight_col="n_chars", total_weight=float(total), salt="wps"
    )
    return out.select("doc_id", "n_chars")


def q_cms_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (sketch.cms): build a 4x64 grid over user_id (ONE
    scan, constant-size shuffle), estimate every distinct user's frequency,
    and assert the CMS contract per value — estimate >= exact always,
    estimate <= exact + e*N/width (deterministic here: fixed data + fixed
    xxhash seeds). Mirrors the hll_tolerance pattern: the oracle recomputes
    the exact counts and expects every bound check TRUE."""
    ensure_shipped(spark)
    import math

    from lyra_spark.sketch.cms import cms_build, cms_estimate

    depth, width = 4, 64
    events = _read(spark, sf_dir, "events")
    sketch = cms_build(events, "user_id", depth, width)
    est = cms_estimate(sketch, events.select("user_id"), "user_id")
    exact = (
        events.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").alias("value"))
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    n_total = events.filter(F.col("user_id").isNotNull()).count()
    bound = math.e * n_total / width
    return est.join(exact, "value").select(
        "value",
        "exact_n",
        (
            (F.col("estimate") >= F.col("exact_n"))
            & (F.col("estimate") <= F.col("exact_n") + F.lit(bound))
        ).alias("ok"),
    )


def q_tdigest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketches (drift.sketch_by_partition + tree merge,
    SURVEY.md §2 rows 30-31) made driver-visible: per-returnflag KLL
    sketches of l_extendedprice merge (kll_merge_agg_double) into a global
    sketch whose quantile answers are rank-checked against the data in ONE
    aggregate pass — |rank(v_q) - q| must be <= 0.01 (measured max 6.7e-4
    over 3 runs at sf0.01, k=1000: a 15x margin, so the booleans are stable
    under KLL's randomized compaction). The name is kept from the t-digest
    sketch this query first checked. The oracle expects every check TRUE
    (hll/cms tolerance pattern)."""
    ensure_shipped(spark)
    import pandas as pd

    from lyra_spark.drift import collect_quantiles, sketch_by_partition

    li = _read(spark, sf_dir, "lineitem")
    _, gd = collect_quantiles(sketch_by_partition(li, "l_extendedprice", "l_returnflag"))
    qs = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    vals = gd.quantile(qs)
    ranks_row = (
        li.filter(F.col("l_extendedprice").isNotNull())
        .agg(
            *[
                F.avg((F.col("l_extendedprice") <= float(v)).cast("double")).alias(f"r{i}")
                for i, v in enumerate(vals)
            ]
        )
        .collect()[0]
    )
    out = pd.DataFrame(
        {
            "quantile": qs,
            "ok": [abs(ranks_row[f"r{i}"] - q) <= 0.01 for i, q in enumerate(qs)],
        }
    )
    return spark.createDataFrame(out)


def q_ks_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KS drift (drift.ks_statistic over KLL quantile grids, §2 row 32) made
    driver-visible: sketch KS vs drift.ks_exact (distinct-grid ECDF ground
    truth) on a no-drift pair (returnflag A vs N, both ~same distribution)
    and a PLANTED drift pair (A vs A-prices-scaled-1.15). Gates per pair:
    |sketch − exact| <= 0.01 (measured max 2.1e-3 over 3 runs at sf0.01:
    a ~5x margin) AND the 0.05 drift threshold classifies correctly
    (no-drift 0.006-0.007, planted 0.132).
    Oracle expects every boolean TRUE (tolerance pattern)."""
    ensure_shipped(spark)
    import pandas as pd

    from lyra_spark.drift import collect_quantiles, ks_exact, ks_statistic, sketch_by_partition

    li = _read(spark, sf_dir, "lineitem")
    base = li.filter(F.col("l_returnflag").isin("A", "N")).select(
        F.col("l_returnflag").alias("g"), F.col("l_extendedprice").alias("x")
    )
    shifted = li.filter(F.col("l_returnflag") == "A").select(
        F.lit("S").alias("g"), (F.col("l_extendedprice") * 1.15).alias("x")
    )
    comp = base.unionByName(shifted)
    digs, _ = collect_quantiles(sketch_by_partition(comp, "x", "g"))
    rows = []
    for name, pa, pb, drifted in [("same", "A", "N", False), ("shifted", "A", "S", True)]:
        approx = ks_statistic(digs[pa], digs[pb])
        exact = ks_exact(comp, "x", "g", pa, pb)
        ok = abs(approx - exact) <= 0.01 and (approx >= 0.05) == drifted
        rows.append({"pair": name, "ok": ok})
    return spark.createDataFrame(pd.DataFrame(rows))


def q_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (stats.key_skew_profile): per-key count
    grid (constant agg buffers — counting skew doesn't itself skew) rolled
    into one summary row with an exact interpolated percentile and the salt
    recommendation clamp(ceil(max/mean), 1, 256)."""
    ensure_shipped(spark)
    from lyra_spark.stats import key_skew_profile

    li = _read(spark, sf_dir, "lineitem")
    return key_skew_profile(li, ["l_partkey"], p=0.99)


def q_uniform_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k deterministic uniform sample
    (sample.deterministic_sample_exact_k): k smallest md5 draws — bit-exact
    across engines (hash + comparison only; no pow), plans as
    TakeOrderedAndProject (each task ships k rows, no full sort)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import deterministic_sample_exact_k

    docs = _read(spark, sf_dir, "documents")
    return deterministic_sample_exact_k(docs, 50, salt="uk").select("doc_id", "lang")


def q_stratified_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-PER-STRATUM deterministic sample
    (sample.stratified_sample_exact_k): the eval-set primitive — 15 docs
    from every language however lopsided the corpus; same bit-exact md5
    draw ranked per stratum (id ASC tiebreak), one exchange on the stratum
    key, output bounded at k x |strata|."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import stratified_sample_exact_k

    docs = _read(spark, sf_dir, "documents")
    return stratified_sample_exact_k(docs, 15, "lang", salt="sk").select("doc_id", "lang")


def q_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + distinctness per column (stats.column_entropy):
    one unpivot scan, ONE exchange into per-value counts, entropy rolled up
    from the distinct-value grid — never the raw rows."""
    ensure_shipped(spark)
    from lyra_spark.stats import column_entropy

    events = _read(spark, sf_dir, "events")
    return column_entropy(events, ["event_type", "user_id"])


def q_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-column Pearson correlations (stats.numeric_correlations): every
    pair's moments from ONE hash-agg pass with constant-size buffers."""
    ensure_shipped(spark)
    from lyra_spark.stats import numeric_correlations

    li = _read(spark, sf_dir, "lineitem")
    return numeric_correlations(
        li,
        [
            ("l_quantity", "l_extendedprice"),
            ("l_extendedprice", "l_discount"),
            ("l_discount", "l_tax"),
        ],
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (stats.percentile_stats) — the
    PERCENTILE_CONT ground truth the t-digest drift sketches approximate;
    partials merge tree-wise, interpolation happens once at the final step."""
    ensure_shipped(spark)
    from lyra_spark.stats import percentile_stats

    events = _read(spark, sf_dir, "events")
    return percentile_stats(events, "value", [0.1, 0.25, 0.5, 0.75, 0.9, 0.99])


def q_custom_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 row 21: custom VECTORIZED predicate (Arrow pandas UDF) end-to-end.

    The predicate pulls the numeric payload out of the props JSON with
    vectorized pandas .str ops — never per-row Python — and fails rows whose
    k ≥ 90. Oracle-checkable: the oracle recomputes the same predicate in SQL,
    so the driver verifies the Arrow crossing produces exact results."""
    ensure_shipped(spark)
    from lyra_spark.rules import RuleSet, custom

    def k_below_90(s):
        k = s.str.extract(r'"k":\s*(\d+)', expand=False).astype("float")
        return k.isna() | (k < 90)

    rs = RuleSet([custom("props", k_below_90, rule_id="props_k_lt_90")])
    events = _read(spark, sf_dir, "events")
    return row_violations(events, rs, key_cols=["event_id"], partition_col=None)


def q_null_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 23: per-group null-rate + min/max via the stats block."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events")
    s = column_stats(events, ["value"], partition_col="event_type")
    return s.select(
        "event_type",
        F.col("row_count"),
        F.round("null_rate", 6).alias("null_rate"),
        F.col("min_value"),
        F.col("max_value"),
    )


def q_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 24 (exact flavor for the oracle; HLL tested in-repo)."""
    events = _read(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_users"))


def q_hll_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 24, HLL flavor with driver-checked tolerance (SURVEY.md §6).

    Both HLL implementations — Catalyst approx_count_distinct (HLL++) and the
    DataSketches hll_sketch_agg blob path (stats.hll_sketches) — must land
    within 4·rsd of the exact distinct count per group. The estimates are
    engine-specific, so the oracle-checked signal is the boolean: the oracle
    emits TRUE and the hash only matches if every group is inside tolerance."""
    ensure_shipped(spark)
    from lyra_spark.stats import hll_sketches

    events = _read(spark, sf_dir, "events")
    base = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_exact"),
        F.approx_count_distinct("user_id", 0.05).alias("__apx"),
    )
    sk = hll_sketches(events, ["user_id"], partition_col="event_type", lg_k=12)
    return (
        base.join(sk.select("event_type", F.col("estimate").alias("__hll")), "event_type")
        .select(
            "event_type",
            "n_exact",
            # 4·rsd bounds: rsd=0.05 for HLL++, rsd≈1.04/√2¹² ≈ 0.016 for lg_k=12
            (F.abs(F.col("__apx") - F.col("n_exact")) <= 4 * 0.05 * F.col("n_exact")).alias("approx_within_rsd"),
            (F.abs(F.col("__hll") - F.col("n_exact")) <= 4 * 0.016 * F.col("n_exact")).alias("sketch_within_rsd"),
        )
    )


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 26: bucketed text-length histogram on documents."""
    ensure_shipped(spark)
    docs = _read(spark, sf_dir, "documents")
    return length_histogram(docs, "text", bucket_width=50, partition_col=None)


def q_uniqueness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 27: salted duplicate-key detection (o_custkey repeats)."""
    ensure_shipped(spark)
    orders = _read(spark, sf_dir, "orders")
    return checks.uniqueness_violations(orders, key_cols=["o_custkey"], partition_col=None, rule_id="uniq_custkey")


def q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 28: broadcast anti-join — parts never referenced by lineitem."""
    ensure_shipped(spark)
    part = _read(spark, sf_dir, "part")
    li = _read(spark, sf_dir, "lineitem").select(F.col("l_partkey").alias("p_partkey")).distinct()
    return checks.referential_violations(
        part, li, fk_col="p_partkey", dim_col="p_partkey", key_cols=["p_partkey"], partition_col=None, rule_id="part_unreferenced"
    ).select("p_partkey", "rule_id")


def q_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit conformity per year
    (stats.benford_deviation, Nigrini chi²+MAD): lineitem extended prices —
    genuinely multi-scale magnitudes — profiled per l_shipdate year. Digit
    extraction is pure log10 math (no string formatting), the grid is one
    constant-buffer exchange, and the oracle replicates both statistics
    bit-for-bit."""
    ensure_shipped(spark)
    from lyra_spark.stats import benford_deviation

    li = _read(spark, sf_dir, "lineitem").withColumn(
        "yr", F.year("l_shipdate").cast("string")
    )
    return benford_deviation(li, "l_extendedprice", partition_col="yr", min_rows=100)


def q_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score outliers (stats.robust_outlier_rows,
    Iglewicz-Hoaglin |M| > 3.5): the masking-proof companion of `outliers`
    — mean/std are dragged by the very spikes they should expose, order
    statistics are not. Exact interpolated medians (no float-sum-order
    nondeterminism); two tiny aggs + a map-only verdict."""
    ensure_shipped(spark)
    from lyra_spark.stats import robust_outlier_rows

    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    return robust_outlier_rows(events, "value", ["event_id"], partition_col="day", z=3.5)


def q_referential_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition FK coverage rate with a gate (checks.referential_coverage,
    Deequ hasReferentialIntegrity): fraction of events.user_id resolving
    against a RESTRICTED customer dimension (nations < 12) per day —
    min_coverage 0.46 splits the sf0.01 days into passing AND failing.
    One broadcast left join + one conditional agg; the fact table never
    shuffles."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    dim = _read(spark, sf_dir, "customer").filter("c_nationkey < 12").select("c_custkey")
    return checks.referential_coverage(
        events, dim, fk_col="user_id", dim_col="c_custkey",
        partition_col="day", min_coverage=0.46,
    )


def q_monotone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 row 29: monotone ordering via Window/lag — per-order line items
    whose l_shipdate precedes an earlier line's (fires ~20k rows at sf0.01)."""
    ensure_shipped(spark)
    li = _read(spark, sf_dir, "lineitem")
    v = checks.monotone_violations(
        li, group_col="l_orderkey", order_col="l_linenumber", ts_col="l_shipdate",
        key_cols=["l_orderkey", "l_linenumber"], partition_col=None, rule_id="shipdate_monotone",
    )
    return v.select("l_orderkey", "l_linenumber", "rule_id")


def q_agg_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 38: hash aggregation with partial/final (TPC-H Q1 shape)."""
    li = _read(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 36: broadcast hash join orders ⋈ customer."""
    orders = _read(spark, sf_dir, "orders")
    cust = _read(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("segment_revenue"), F.count(F.lit(1)).alias("n_orders"))
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 rows 39-40: top-2 orders per customer by totalprice (deterministic
    tie-break on o_orderkey)."""
    from pyspark.sql import Window

    orders = _read(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .select("o_custkey", "o_orderkey", F.round("o_totalprice", 4).alias("totalprice"), "rk")
    )


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 42: JSON scalar extraction on events.props."""
    events = _read(spark, sf_dir, "events")
    return (
        events.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy("event_type")
        .agg(F.round(F.avg("k"), 6).alias("avg_k"), F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis).
# ---------------------------------------------------------------------------
def q_coercion_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.2 rows 8,12,15-20: cast coercion (coerce-then-check), deny-list,
    length bounds, multiple-of, and a conditional rule — one compiled pass
    over orders with a derived mixed-type string column (same derivation in
    the oracle): every 10th key carries a non-numeric priority string."""
    ensure_shipped(spark)
    orders = _read(spark, sf_dir, "orders").withColumn(
        "pstr",
        F.when(F.col("o_orderkey") % 10 == 0, F.col("o_orderpriority")).otherwise(
            F.col("o_totalprice").cast("string")
        ),
    )
    rs = RuleSet(
        [
            R.cast("pstr", "double", rule_id="pstr_cast"),
            R.range_rule("pstr", max=300000.0, rule_id="pstr_range"),  # sees coerced double
            R.deny("o_orderpriority", ["4-NOT SPECIFIED"], when=("o_orderstatus", "==", "O"), rule_id="prio_deny"),
            R.length("o_orderpriority", min=6, max=14, rule_id="prio_len"),
            R.multiple_of("o_custkey", 3, rule_id="custkey_mod3"),
        ]
    )
    return row_violations(orders, rs, key_cols=["o_orderkey"], partition_col=None)


def q_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 rows 32-33 data path: fixed-bin length histograms per source —
    the distributed half of KS/PSI drift (bin arithmetic is driver-side)."""
    docs = _read(spark, sf_dir, "documents")
    return (
        docs.filter(F.col("text").isNotNull())
        .groupBy("source", (F.floor(F.least(F.length("text"), F.lit(1999)) / 100)).cast("long").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_regression_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4 row 41: exceptAll regression diff — violations introduced by
    tightening value_range from ≤100 to ≤90 between two runs."""
    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events")
    loose = row_violations(
        events, RuleSet([R.range_rule("value", min=0.0, max=100.0, rule_id="value_range")]),
        key_cols=["event_id"], partition_col=None,
    )
    tight = row_violations(
        events, RuleSet([R.range_rule("value", min=0.0, max=90.0, rule_id="value_range")]),
        key_cols=["event_id"], partition_col=None,
    )
    return tight.exceptAll(loose)


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash-groupBy). The driver corpus has no duplicates, so the
    query plants them deterministically (every 7th doc re-appears with a
    shifted id) — same construction in the oracle SQL."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import exact_duplicates

    docs = _read(spark, sf_dir, "documents")
    planted = docs.filter(F.col("doc_id") % 7 == 0).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    dup = exact_duplicates(docs.unionByName(planted))
    return dup.select("content_hash", "dup_count", "min_doc_id")


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-word Jaccard near-dup pairs, blocked by lang (the
    ground-truth twin of the MinHash-LSH path)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, block_col="lang", threshold=0.9, shingle_k=1)


def q_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span fractions at 5-word windows
    (pipeline.text.duplicate_span_stats, the Lee et al. 2022 duplicated-
    substring signal): the mid-document boilerplate paragraph line dedup
    (newline-aligned), repetition_stats (within-doc) and whole-doc dedup
    all miss. Only (id, span-hash) pairs shuffle; the oracle rebuilds the
    exact window inventory + doc-frequency semantics in SQL."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import duplicate_span_stats

    docs = _read(spark, sf_dir, "documents")
    return duplicate_span_stats(docs, window=5, min_docs=2)


def q_card_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-validated card-number scrub (pipeline.text.scrub_card_numbers):
    planted Visa/MC TEST numbers (valid mod-10) are detected and redacted
    while a one-digit-off twin and ordinary long digit runs are NOT — the
    checksum gate a regex-only scrub can't express. Luhn is nested pure
    Catalyst (transform/aggregate over the digit array); the oracle
    replicates candidate extraction + mod-10 + the redaction fold in SQL."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import scrub_card_numbers

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" card 4111 1111 1111 1111 ok")))
        .when(F.col("doc_id") % 7 == 1, F.concat(F.col("text"), F.lit(" card 4111 1111 1111 1112 no")))
        .when(F.col("doc_id") % 7 == 2, F.concat(F.col("text"), F.lit(" ref 5500-0000-0000-0004 and id 1234567890123456789012")))
        .otherwise(F.col("text")),
    )
    out = scrub_card_numbers(planted)
    return out.select(
        "doc_id", "n_card_numbers", F.md5("text_redacted").alias("redacted_md5")
    )


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs |A∩B|/|A| ≥ 0.8 on bigram shingles
    (pipeline.dedup.containment_pairs, SSJoin/PPJoin prefix filtering):
    the doc-quoted-inside-a-bigger-doc relation Jaccard LSH misses.
    Bigrams (not word sets) because containment must respect word ORDER —
    the fixture's template corpus shares most of its tiny vocabulary, so
    word-set containment is dense noise while bigram containment isolates
    the true near-copies. Blocking is lossless by pigeonhole (≥1 of each
    doc's ⌊(1−t)·n⌋+1 rarest shingles must hit any container), so the
    exhaustive DuckDB brute force is the definition."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import containment_pairs

    docs = _read(spark, sf_dir, "documents")
    return containment_pairs(docs, threshold=0.8, shingle_k=2)


def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64)+LSH(16 bands) near-dup pairs verified at exact jaccard ≥ 0.9
    on 3-word shingles. Oracle-checkable despite hash-dependent candidates: at
    j ≥ 0.9 a band (r=4) matches with p = j⁴ ≈ 0.66, so the 16-band miss rate
    is (1-j⁴)^16 ≈ 4e-8 — the verified output equals the exhaustive
    exact-Jaccard pair set, which is what the DuckDB oracle computes."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import minhash_near_duplicates

    docs = _read(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.9, shingle_k=3)


def q_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-vs-store dedup: docs with doc_id % 5 == 0 are the 'new crawl',
    the rest the persisted base corpus; the base contributes only its
    signature_store (id + content digest + minhash — never re-signatured) to
    the band join, and its text solely to verify candidates. Oracle-checkable
    by the same argument as minhash_neardup: at jaccard ≥ 0.9 the 16-band miss
    rate is (1-j⁴)^16 ≈ 4e-8, so the verified output equals the exhaustive
    new×base exact-Jaccard pair set DuckDB computes."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import incremental_near_duplicates, signature_store

    docs = _read(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)
    store = signature_store(base)
    return incremental_near_duplicates(new, store, base, threshold=0.9, shingle_k=3)


def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash pipeline recall, oracle-checked via PLANTED identities: every
    7th doc gets a whitespace-perturbed copy (token-list-preserving, so its
    SimHash is bit-identical → hamming 0 → the 16-bit-block multi-probe
    blocking guarantees the candidate), the FULL signature → block → probe →
    hamming-filter pipeline runs at max_hamming=7 (4 blocks, radius-1 probes),
    and candidates are verified at normalized-text equality — a pair set
    DuckDB computes exactly. (Verifying at word-Jaccard
    0.95 instead is NOT oracle-able: measured on this fixture, blocking at
    hamming ≤ 7 recalls only ~3% of those pairs — short docs put 0.95-Jaccard
    neighbors at large hamming. The hamming>0 near-dup behavior stays pinned
    by tests/test_pipeline.py against exact twins.)"""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import simhash_near_duplicates

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    perturbed = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.regexp_replace("text", " ", "   "), F.lit(" ")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(perturbed)
    cands = simhash_near_duplicates(corpus, max_hamming=7)
    norm = corpus.select(
        "doc_id",
        F.sha2(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 256).alias("n"),
    )
    return (
        cands.join(norm.withColumnsRenamed({"doc_id": "id_a", "n": "n_a"}), "id_a")
        .join(norm.withColumnsRenamed({"doc_id": "id_b", "n": "n_b"}), "id_b")
        .filter(F.col("n_a") == F.col("n_b"))
        .select("id_a", "id_b", "hamming")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: exact-Jaccard pairs (the oracle-proven ngram_jaccard
    pair set) → alternating-star connected components → (node, component =
    min doc_id reachable). The oracle computes the same transitive closure
    with a recursive CTE, so the driver verifies multi-hop merging exactly —
    the step that turns pair detection into an actual dedup decision."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import connected_components, ngram_jaccard_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, block_col="lang", threshold=0.9, shingle_k=1)
    return connected_components(pairs).select("node", "component")


def q_simsearch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (computed in double on
    both engines)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.similarity import brute_force_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return brute_force_topk(emb, queries_df, k=10)


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN plumbing, oracle-checked EXACTLY: with nprobe = k_centroids
    the inverted-file path (k-means quantizer → bucketed corpus → probe join →
    per-query window) must equal brute-force top-k — the buckets partition the
    corpus, so full probing loses and duplicates nothing. The approximate
    regime (nprobe ≪ k, recall/candidate bounds) is pinned in
    tests/test_pipeline.py on a clustered corpus."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.similarity import ivf_topk, train_ivf_centroids

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    cents = train_ivf_centroids(emb, k=8, iters=5, seed=7)
    queries_df = emb.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("query_id"), "embedding")
    return ivf_topk(emb, queries_df, cents, k=10, nprobe=8)


def q_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe hyperplane-LSH ANN plumbing, oracle-checked EXACTLY the
    ivf_topk way: with probe_radius = n_planes every bucket is probed, so the
    bucket join must reproduce brute-force top-k verbatim (buckets partition
    the corpus — full probing loses and duplicates nothing). The approximate
    regime (radius 1, recall + candidate bounds) is pinned in
    tests/test_pipeline.py."""
    ensure_shipped(spark)
    import numpy as np

    from lyra_spark.pipeline.similarity import lsh_topk

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    dim = len(emb.select("embedding").first()[0])
    planes = np.random.default_rng(11).standard_normal((6, dim))
    queries_df = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_topk(emb, queries_df, planes, k=10, probe_radius=6)


def q_dup_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded duplicate-id samples (dedup.duplicate_id_samples): up to k=3
    smallest ids per duplicate group, capped by row_number BEFORE any list
    aggregation (a 10⁸-copy group ships 3 rows, not 10⁸); same planted
    duplicates as dedup_exact. sample_ids emitted as a joined string so both
    engines hash the list identically."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import duplicate_id_samples

    docs = _read(spark, sf_dir, "documents")
    planted = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(1000000)
        )
    )
    out = duplicate_id_samples(planted, k=3)
    return out.select(
        "content_hash",
        "dup_count",
        F.array_join("sample_ids", ",").alias("sample_ids"),
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs above 0.45 (exact all-pairs at this sf;
    the LSH-bucketed variant covers scale — tested in-repo)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.similarity import all_pairs_above

    emb = _read(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return all_pairs_above(emb, threshold=0.45)


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + char stats per language."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import token_count

    docs = _read(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
            F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID distribution per source — FULLY oracle-checked: the oracle
    re-implements the public heuristic (CJK script range, else argmax stopword
    overlap with ties to the lexicographically largest language, else 'und')
    in DuckDB over the same documents, so the driver verifies the operator's
    exact per-document decisions, not just row counts. Stopword profiles are
    pure-ASCII so JVM/DuckDB lower() agree on every token that can match."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import lang_id

    docs = _read(spark, sf_dir, "documents")
    return lang_id(docs).groupBy("source", "lang_pred").agg(F.count(F.lit(1)).alias("n"))


def q_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + BPE-ish token estimate per language: the web-corpus
    filter feature block (punct/digit/stopword ratios, mean word length,
    composite score) aggregated per lang, all pure Catalyst."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import bpe_ish_token_count, quality_score

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    feat = quality_score(docs).withColumn("bpe_tokens", bpe_ish_token_count("text"))
    return feat.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("punct_ratio"), 6).alias("avg_punct_ratio"),
        F.round(F.avg("digit_ratio"), 6).alias("avg_digit_ratio"),
        F.round(F.avg("stopword_ratio"), 6).alias("avg_stopword_ratio"),
        F.round(F.avg("mean_word_len"), 6).alias("avg_word_len"),
        F.round(F.avg("quality_score"), 6).alias("avg_quality"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
    )


def q_unigram_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM (pipeline.text.unigram_logprob) — the CCNet/KenLM-style
    statistical quality signal: symbol soup and wrong-language fragments
    score far below prose with zero hand-tuned heuristics. Three
    constant-buffer exchanges (term grid, vocabulary, score roll-up);
    raw text never shuffles. Oracle replicates tokenization + MLE + the
    per-token log-mean exactly in SQL."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import unigram_logprob

    docs = _read(spark, sf_dir, "documents")
    out = unigram_logprob(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("logprob_per_token", 6).alias("logprob_per_token"),
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary plumbing, oracle-checked: documents' text UTF-8-
    encodes into an opaque binary content column (the media stand-in), flows
    through the REAL mapInPandas featurize path (Arrow binary batches →
    Python bytes → features), and the engine-agnostic outputs — byte counts
    per kind — must match DuckDB's octet_length(encode(text)) exactly. This
    pins the binary column schema, the Arrow crossing, and batch integrity;
    the codec itself stays the documented deterministic stub."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.multimodal import extract_features

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
    )
    feats = extract_features(media)
    return feats.groupBy("kind").agg(
        F.count(F.lit(1)).alias("n_media"),
        F.sum("n_bytes").alias("total_bytes"),
        F.round(F.avg("n_bytes"), 6).alias("avg_bytes"),
    )


def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (pure Catalyst sequence+explode),
    oracle-checked against DuckDB generate_series: every 10th frame index of
    synthetic per-video frame counts derived from doc_id."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.multimodal import sample_frames

    docs = _read(spark, sf_dir, "documents")
    vids = docs.filter(F.col("doc_id") % 3 == 2).select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.struct((F.col("doc_id") % 97 + 1).cast("int").alias("n_frames")).alias("meta"),
    )
    out = sample_frames(vids, every_n=10)
    return out.select("media_id", F.col("frame_idx").cast("long").alias("frame_idx"))


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-fingerprint INVARIANCE property, oracle-checked: normalization-
    equal docs (case/whitespace perturbations planted on every 7th doc) must
    get identical fingerprints. The fingerprint VALUE is engine-hash-specific
    (xxhash64), so the oracle-checked signal is the per-group boolean — the
    oracle computes the normalized groups exactly and asserts TRUE (the
    hll_tolerance pattern)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import fingerprint

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    # whitespace-only perturbation: identical normalization semantics on both
    # engines (case-folding of non-ASCII text diverges between JVM and DuckDB)
    perturbed = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.regexp_replace("text", " ", "   "), F.lit(" ")).alias("text"),
    )
    corpus = fingerprint(docs.select("doc_id", "text").unionByName(perturbed))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    return (
        corpus.groupBy(F.sha2(norm, 256).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.count_distinct(F.col("fingerprint")) == 1).alias("fp_consistent"),
        )
        .filter(F.col("n_docs") > 1)
    )


BENCH_SOURCES = ("src0", "src1", "src2", "src3")


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-2/3-gram fractions, top-
    2-gram fraction, repetitive flag) per document — explode + two-level
    hash aggregation, fully SQL-expressible for the oracle."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import repetition_features

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    return repetition_features(docs)


def q_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test decontamination (GPT-3 appendix-C n-gram overlap rule):
    corpus docs sharing any word 8-gram with a 'benchmark' split (sources
    src0-src3 stand in for an eval set). Benchmark side broadcast; the corpus
    side never shuffles before the overlap count."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import ngram_overlap_pairs

    docs = _read(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    bench = docs.filter(F.col("source").isin(*BENCH_SOURCES))
    corpus = docs.filter(~F.col("source").isin(*BENCH_SOURCES))
    return ngram_overlap_pairs(corpus, bench, n=8)


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing oracle-checked on PLANTED identifiers: every 5th doc
    gets an email and every 7th an IPv4 appended; the scrub's counts and the
    sha256 of the redacted text are compared exactly (patterns are valid in
    both Java regex and RE2, see pipeline/text.py PII_PATTERNS)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import pii_scrub

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10.1."),
                    (F.col("doc_id") % 250 + 1).cast("string"),
                    F.lit(".9"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = pii_scrub(planted)
    return scrubbed.filter((F.col("n_email") > 0) | (F.col("n_ipv4") > 0)).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        F.sha2("text_redacted", 256).alias("redacted_hash"),
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-level exact dedup, oracle-checked on PLANTED boilerplate:
    every 3rd doc gets a license banner line, every 4th a navigation line
    (both appear corpus-wide → removed), every 11th a doc-unique footer
    (appears once → survives). Exact-duplicate full docs (planted by the
    fixture) also dedup as whole lines — faithful C4 behavior. Compares
    n_lines_removed and the sha256 of the scrubbed text exactly."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import scrub_duplicate_lines

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nall rights reserved example corp"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.lit("\nnavigation home about contact"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(F.lit("\nunique footer "), F.col("doc_id").cast("string")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    out = scrub_duplicate_lines(planted, min_docs=2)
    return out.filter(F.col("n_lines_removed") > 0).select(
        "doc_id",
        "n_lines_removed",
        F.sha2("text_scrubbed", 256).alias("scrubbed_hash"),
    )


def q_url_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain URL stats on PLANTED urls (every 4th doc links one of 20
    sites, every 6th a CDN asset): (domain, n_docs, n_urls) — the aggregation
    behind domain-level filtering (blocklists, per-domain caps)."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import domain_stats

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".example.org/p"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit(" ref http://cdn.example.net/assets?q="),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return domain_stats(planted)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group document cap (RefinedWeb-style): keep at most 40 docs per
    source, deterministically by ascending doc_id; returns the surviving
    (doc_id, source) pairs plus a per-source survivor count check."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.clean import cap_per_group

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    capped = cap_per_group(docs, "source", k=40, order_col="doc_id")
    return capped.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
        F.sum("doc_id").alias("id_sum"),
    )


def q_transition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.3 sequence-structure validation (checks.transition_violations): per
    user ordered by event_id, two consecutive 'error' events are a violation
    — the transcript role-alternation check (assistant may not answer itself)
    applied to the driver's events schema. The allowed set enumerates every
    other (prev, cur) pair incl. the <NULL> token, so BOTH sides implement
    identical positive-list semantics."""
    ensure_shipped(spark)
    toks = ["click", "error", "purchase", "signup", "view", "<NULL>"]
    allowed = {(p, c) for p in toks for c in toks if not (p == c == "error")}
    events = _read(spark, sf_dir, "events")
    return checks.transition_violations(
        events,
        allowed,
        group_col="user_id",
        order_col="event_id",
        state_col="event_type",
        key_cols=["user_id", "event_id"],
        partition_col=None,
        rule_id="etype_transition",
    )


def q_markup_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markup removal (pipeline.text.strip_markup) on PLANTED html: every 5th
    doc is wrapped in tags + entities; the stripped text is value-checked via
    md5 + length so the oracle pins every byte."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import strip_markup

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit('<div class="post"><h1>T</h1><p>'),
                F.col("text"),
                F.lit("</p><br/>&amp; <b>footer</b></div>"),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    out = strip_markup(planted)
    return out.select(
        "doc_id",
        F.md5("text_plain").alias("plain_md5"),
        F.length("text_plain").alias("plain_len"),
    )


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-blocklist filtering (pipeline.text.filter_blocked_domains) on the
    same planted links as `url_stats`: docs linking site3/site7/the CDN are
    dropped via the map-only literal-array path; survivors roll up per lang."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import filter_blocked_domains

    docs = _read(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    planted = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 4 == 0,
                F.concat(
                    F.lit(" see https://site"),
                    (F.col("doc_id") % 20).cast("string"),
                    F.lit(".example.org/p"),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.concat(
                    F.lit(" ref http://cdn.example.net/assets?q="),
                    F.col("doc_id").cast("string"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    kept = filter_blocked_domains(
        planted, ["site3.example.org", "site7.example.org", "cdn.example.net"]
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-split sessionization (sessionize.sessionize): per user ordered by
    (ts, event_id), a >30-min silence starts a new session; lag + running sum
    share ONE exchange (plan-pinned in tests)."""
    ensure_shipped(spark)
    from lyra_spark.sessionize import sessionize

    events = _read(spark, sf_dir, "events")
    return sessionize(events, gap_sec=1800, order_cols=["event_id"]).select(
        "event_id", "user_id", "session_id"
    )


def q_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-LEVEL dedup: gap-split sessions whose event_type sequences
    are identical (sessionize → conversation_text → exact_duplicates). Finds
    what turn-level hashing can't: transcripts that are copies even though
    every individual turn is common. Two exchanges end to end — the session
    window and the conversation groupBy share the user key, and the dedup
    digest aggregate is constant-buffer."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.dedup import exact_duplicates
    from lyra_spark.sessionize import conversation_text, sessionize

    events = _read(spark, sf_dir, "events")
    sess = sessionize(events, gap_sec=1800, order_cols=["event_id"])
    # group on (user_id, session_id) — partitioning by user_id from the
    # session window already satisfies it, so the conversation aggregate
    # reuses the window exchange; the display key concats AFTER (map-only)
    conv = conversation_text(
        sess,
        group_cols=["user_id", "session_id"],
        order_cols=["ts", "event_id"],
        text_col="event_type",
    ).select(
        F.concat_ws("#", F.col("user_id"), F.col("session_id")).alias("sess_key"),
        "conv_text",
    )
    return exact_duplicates(conv, text_col="conv_text", id_col="sess_key").select(
        "content_hash",
        "dup_count",
        F.col("min_sess_key").alias("first_session"),
        F.col("max_sess_key").alias("last_session"),
    )


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation profile (sessionize.conversation_stats) applied to the
    events schema: user_id as the conversation, event_id as the turn order,
    event_type as the role, props presence as a tool call. Window + aggregate
    share one exchange."""
    ensure_shipped(spark)
    from lyra_spark.sessionize import conversation_stats

    events = _read(spark, sf_dir, "events")
    out = conversation_stats(
        events, group_col="user_id", order_col="event_id",
        ts_col="ts", role_col="event_type", tool_col="props",
    )
    return out.select(
        "user_id", "n_turns", "n_roles", "n_tool_calls", "first_ts", "last_ts",
        F.round("duration_sec", 6).alias("duration_sec"),
        F.round("max_gap_sec", 6).alias("max_gap_sec"),
    )


def q_categorical_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical PSI + Jensen–Shannon (drift.categorical_psi): per-source
    drift of the lang distribution vs the whole corpus — the nominal-column
    counterpart of the t-digest KS/PSI path, computed entirely on
    pre-aggregated counts (raw rows shuffle once); both metrics come out of
    ONE aggregate over the same smoothed grid. Laplace alpha=0.5 over the
    global category set; rounded to 4 dp so both engines' float sums compare
    stably."""
    ensure_shipped(spark)
    from lyra_spark.drift import categorical_psi

    docs = _read(spark, sf_dir, "documents").withColumnRenamed("source", "part_date")
    out = categorical_psi(docs, "lang")
    return out.select(
        F.col("partition").alias("source"),
        F.round("psi", 4).alias("psi"),
        F.round("js", 4).alias("js"),
        "n_rows",
        "n_categories",
    )


def q_clean_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The quarantine complement (engine.clean_rows): rows failing NO rule —
    the validated table a pipeline writes downstream. One map-only codegen
    filter on the scan, not an anti-join against the violations."""
    ensure_shipped(spark)
    from lyra_spark.engine import clean_rows

    events = _read(spark, sf_dir, "events")
    return clean_rows(events, events_ruleset()).select("event_id", "event_type", "value")


def q_quarantine_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact negation of clean_rows (engine.quarantine_rows): the FULL
    failing rows for triage — same map-only plan; clean ∪ quarantine
    partitions events exactly (the two oracles are literal negations of one
    another, so the driver checks the partition property cross-engine)."""
    ensure_shipped(spark)
    from lyra_spark.engine import quarantine_rows

    events = _read(spark, sf_dir, "events")
    return quarantine_rows(events, events_ruleset()).select("event_id", "event_type", "value")


def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (pipeline.sample.split_by_hash):
    md5-keyed Bernoulli assignment, repartition- and rerun-stable, reproduced
    bit-for-bit by the DuckDB oracle. Weights 0.75/0.125/0.125 sum exactly in
    binary so both engines compare against identical boundaries."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import split_by_hash

    docs = _read(spark, sf_dir, "documents")
    out = split_by_hash(docs, {"train": 0.75, "val": 0.125, "test": 0.125})
    return out.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("doc_id").alias("id_sum")
    )


def q_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (pipeline.pack.pack_sequences): global exclusive
    prefix sum over n_chars in doc_id order, cut every 4096 — computed as the
    distributed two-phase scan (range partition → O(P) driver offsets →
    map-only Arrow cumsum), oracled by the equivalent single-window SQL."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.pack import pack_sequences

    docs = _read(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return pack_sequences(docs, budget=4096, token_col="n_chars").select(
        "doc_id", "pack_id", "pack_offset"
    )


def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition freshness gate (stats.freshness_report): max event ts
    per day vs the table's freshest timestamp, stale when the lag exceeds
    36 h. One constant-buffer MAX aggregate (the metadata path — parquet
    footer / Iceberg manifest bounds, zero data read — is exercised by the
    in-repo test); ts cast to TIMESTAMP first per the NTZ note."""
    ensure_shipped(spark)
    from lyra_spark.stats import freshness_report

    events = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ev = events.withColumn(
        "part", F.to_date(F.col("ts").cast("timestamp")).cast("string")
    )
    return freshness_report(ev, ts_col="ts", partition_col="part", max_lag_hours=36.0)


def q_misplaced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-placement integrity (checks.misplaced_violations): rows
    whose event time does not belong to their storage partition — the rows
    every partition-pruned query silently skips. Planted: event_id % 97 == 0
    stored one day late; event_id % 997 == 0 has its ts NULLed (no defined
    home). One map-only codegen filter, zero shuffles."""
    ensure_shipped(spark)
    from lyra_spark.checks import misplaced_violations

    events = _read(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    synth = events.select(
        "event_id",
        F.when(F.col("event_id") % 997 == 0, F.lit(None)).otherwise(ts).alias("ts"),
        F.when(
            F.col("event_id") % 97 == 0, F.date_add(F.to_date(ts), 1)
        ).otherwise(F.to_date(ts)).alias("part"),
    )
    return misplaced_violations(
        synth, ts_col="ts", partition_col="part", key_cols=["event_id"]
    )


def q_metric_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run-over-run metric monitor (stats.metric_anomaly): the daily click
    RATE from events (a count ratio — engine-exact arithmetic, unlike a
    float average) plus a planted day at rate 0.9 that must be the ONLY
    flag at threshold 0.6 (organic trailing deviations measure ≤ 0.43).
    Anomaly math runs on one pre-aggregated row per partition — the
    verdict-grid / stats-output consumer shape, zero data-file reads."""
    ensure_shipped(spark)
    from lyra_spark.stats import metric_anomaly

    events = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    rates = events.groupBy(
        F.to_date(F.col("ts").cast("timestamp")).cast("string").alias("day")
    ).agg(F.avg((F.col("event_type") == "click").cast("double")).alias("rate"))
    planted = spark.range(1).select(
        F.lit("9999-12-31").alias("day"), F.lit(0.9).alias("rate")
    )
    return metric_anomaly(
        rates.unionByName(planted), "day", "rate", trailing=5, threshold=0.6
    )


def q_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-vs-sink reconciliation (checks.reconcile_tables): events vs a
    'migrated' copy with planted damage — 3 dropped rows on one day
    (count+content mismatch) and one value changed on another (count MATCH,
    content mismatch — the silent-corruption verdict row counts alone
    bless). Per-partition order-independent md5-sum checksums, map-side
    partials, one constant-buffer exchange per side."""
    ensure_shipped(spark)
    from lyra_spark.checks import reconcile_tables

    events = _read(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    ev = events.select(
        "event_id", "event_type", "value",
        F.to_date(F.col("ts").cast("timestamp")).cast("string").alias("day"),
    )
    damaged = ev.filter(
        ~((F.col("day") == "2024-01-03") & (F.col("event_id") % 500 == 0))
    ).withColumn(
        "value",
        F.when(
            (F.col("day") == "2024-01-05") & (F.col("event_id") % 777 == 0),
            F.col("value") + 1.0,
        ).otherwise(F.col("value")),
    )

    # checksum floats as scaled integers: double→string rendering differs
    # across engines (scientific-notation thresholds), floor(v*1e6) doesn't
    def scaled(df):
        return df.select(
            "event_id", "event_type",
            F.floor(F.col("value") * 1e6).cast("long").alias("value_u"), "day",
        )

    out = reconcile_tables(
        scaled(ev), scaled(damaged), key_cols=["event_id"],
        value_cols=["event_type", "value_u"], partition_col="day",
    )
    return out.select(
        "partition", "n_left", "n_right", "count_match", "content_match"
    )


def q_multi_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan multi-column drift sketching (drift.sketch_columns_by_
    partition): KLL sketches for THREE lineitem measures built in a single
    pass (the per-column path re-reads the table k times — the scan is the
    cost at 10¹² rows). Each column's merged global sketch is rank-checked
    in ONE aggregate: |rank(v_q) − q| ≤ 0.01 (tdigest_tolerance pattern;
    measured max 7.0e-4 over 3 runs at sf0.01: a 14x margin).
    Oracle expects every boolean TRUE."""
    ensure_shipped(spark)
    import pandas as pd

    from lyra_spark.drift import sketch_columns_by_partition

    li = _read(spark, sf_dir, "lineitem")
    # the TPC-H Q1 revenue measures: continuous by construction (discrete
    # columns like l_quantity put quantiles on atom boundaries where a rank
    # gate is ill-posed)
    cols = [
        "l_extendedprice",
        "l_extendedprice * (1 - l_discount)",
        "l_extendedprice * (1 - l_discount) * (1 + l_tax)",
    ]
    multi = sketch_columns_by_partition(li, cols, "l_returnflag")
    # ONE action over the multi-sketch frame: per-column .filter().collect()
    # would re-run the sketch scan k times — the exact cost this operator
    # exists to avoid; each column's partitions merge in the same aggregate
    from lyra_spark.drift import collect_quantiles

    by_col, _ = collect_quantiles(multi, key="column")
    qs = [0.05, 0.25, 0.5, 0.75, 0.95]
    checks = []  # (column, quantile, value)
    for c in cols:
        for q, v in zip(qs, by_col[c].quantile(qs)):
            checks.append((c, q, float(v)))
    ranks_row = li.agg(
        *[
            F.avg((F.expr(c).cast("double") <= F.lit(v)).cast("double")).alias(f"r{i}")
            for i, (c, _, v) in enumerate(checks)
        ]
    ).collect()[0]
    out = pd.DataFrame(
        {
            "column": [c for c, _, _ in checks],
            "quantile": [q for _, q, _ in checks],
            "ok": [abs(ranks_row[f"r{i}"] - q) <= 0.01 for i, (_, q, _) in enumerate(checks)],
        }
    )
    return spark.createDataFrame(out)


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/test split (pipeline.sample.split_leakage_safe):
    the split key is the duplicate-cluster representative (min id over the
    normalized-content sha256 group), so planted copies (doc_id%7, re-ided
    +1e6 — the dedup_exact corpus) can never straddle the train/test
    boundary. One digest exchange + map-only hash split; the oracle
    reproduces clusters, draws, and the per-split roll-up exactly."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import split_leakage_safe

    docs = _read(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )
    out = split_leakage_safe(corpus, {"train": 0.75, "test": 0.25})
    dig = F.sha2(
        F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "), 256
    )
    return out.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
        F.countDistinct(F.coalesce(dig, F.col("doc_id").cast("string"))).alias("n_clusters"),
    )


def q_numeric_trailing_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window NUMERIC drift (drift.numeric_drift_trailing): each
    ship-year's price KLL sketch KS-compared against the pooled sketch of
    the previous 3 years — ONE distributed sketch pass, the pooling a
    kll_merge_agg_double window over the per-year sketches — plus a planted
    partition '9999' (prices ×1.3) that must flag. Gates per partition:
    |sketch KS − exact trailing KS| ≤ 0.015 (measured ≤ 0.0014 over 3 runs
    at sf0.01: >10× margin) AND the sample-size-aware cut classifies
    exactly the planted partition as drift (organic years ≤ 0.018 vs cut
    0.10, planted 0.233). Oracle expects every boolean TRUE (tolerance
    pattern)."""
    ensure_shipped(spark)
    import pandas as pd

    from lyra_spark.drift import ks_exact, numeric_drift_trailing

    li = _read(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("string").alias("p"),
        F.col("l_extendedprice").alias("x"),
    )
    planted = li.filter(F.year("l_shipdate") == 2001).select(
        F.lit("9999").alias("p"), (F.col("l_extendedprice") * 1.3).alias("x")
    )
    comp = base.unionByName(planted)
    digest = numeric_drift_trailing(comp, "x", "p", k=3)
    keys = list(digest["part_key"])
    rows = []
    for i, rec in digest.iterrows():
        p = rec["part_key"]
        if rec["n_ref_parts"] == 0:
            rows.append({"part_key": p, "ok": bool(rec["pass"])})
            continue
        win = keys[max(0, i - 3) : i]
        lab = comp.withColumn(
            "g",
            F.when(F.col("p") == p, "cur").when(F.col("p").isin(win), "ref"),
        ).filter(F.col("g").isNotNull())
        exact = ks_exact(lab, "x", "g", "cur", "ref")
        ok = abs(rec["ks"] - exact) <= 0.015 and bool(rec["pass"]) == (p != "9999")
        rows.append({"part_key": p, "ok": ok})
    return spark.createDataFrame(pd.DataFrame(rows))


def q_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training export
    (pipeline.export.shuffle_index): shard = md5-uint32 mod N (map-only),
    position = rank within shard by (hash, id) — ONE exchange on the uniform
    shard key. The full (doc_id, shard, position) permutation is a pure
    function of the ids, reproduced bit-for-bit by the DuckDB oracle."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.export import shuffle_index

    docs = _read(spark, sf_dir, "documents").select("doc_id")
    return shuffle_index(docs, n_shards=16).select("doc_id", "shard", "position")


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget data mixing (pipeline.sample.mixture_sample): per-source
    keep-rates min(1, share·budget/tokens) from ONE tiny aggregate, then a
    map-only deterministic Bernoulli filter. Shares 0.5/0.25/0.25 sum exactly
    in binary and src0 saturates at rate 1.0, so both the fractional and the
    capped path are exercised; the oracle recomputes rates from the same
    totals with the same left-associated IEEE arithmetic."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.sample import mixture_sample

    docs = _read(spark, sf_dir, "documents")
    out = mixture_sample(
        docs, {"src0": 0.5, "src1": 0.25, "src2": 0.25}, budget_tokens=20000
    )
    return out.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("tok_sum"),
        F.sum("doc_id").alias("id_sum"),
    )


def _format_rules_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic format-check corpus derived from customer: email / uuid /
    ipv4 / uri columns with planted corruptions on fixed custkey residues, so
    the DuckDB oracle can rebuild the identical frame expression-for-
    expression (md5 hex, substr, concat all agree byte-for-byte)."""
    k = F.col("c_custkey")
    ks = k.cast("string")
    h = F.md5(ks)
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    return _read(spark, sf_dir, "customer").select(
        k.alias("c_custkey"),
        F.when(k % 7 == 0, F.concat(F.lit("user"), ks, F.lit("example.com")))
        .otherwise(F.concat(F.lit("user"), ks, F.lit("@example.com")))
        .alias("email"),
        F.when(k % 11 == 0, F.replace(uuid, F.lit("-"), F.lit(""))).otherwise(uuid).alias("uuid"),
        F.concat(
            (k % 256).cast("string"),
            F.lit("."),
            (F.floor(k / F.lit(256.0)) % 256).cast("string"),
            F.lit(".0."),
            F.when(k % 5 == 0, F.lit("999")).otherwise(F.lit("1")),
        ).alias("ip"),
        F.when(k % 13 == 0, F.concat(F.lit("htp:/broken/"), ks))
        .otherwise(F.concat(F.lit("https://example.com/d/"), ks))
        .alias("url"),
    )


def q_format_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lyra string format validators (.email()/.guid()/.ip()/.uri()) as the
    `format` rule kind: anchored public regexes (rules.FORMAT_REGEX, Java ∩
    RE2 subset) compiled into the same one-pass violation assembly as every
    other rule — map-only, zero exchanges."""
    ensure_shipped(spark)
    rs = RuleSet(
        [
            R.format_rule("email", "email", rule_id="email_fmt"),
            R.format_rule("uuid", "uuid", rule_id="uuid_fmt"),
            R.format_rule("ip", "ipv4", rule_id="ip_fmt"),
            R.format_rule("url", "uri", rule_id="url_fmt"),
        ]
    )
    derived = _format_rules_frame(spark, sf_dir)
    return row_violations(derived, rs, key_cols=["c_custkey"], partition_col=None)


def q_compare_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-field references (Joi.ref) as the `compare` rule kind: within-row
    column-vs-column predicates, plus a conditional (`when`-gated) compare —
    all inside the single shuffle-free validation pass."""
    ensure_shipped(spark)
    rs = RuleSet(
        [
            R.compare("l_discount", "<=", "l_tax", rule_id="disc_le_tax"),
            R.compare(
                "l_discount", ">=", "l_tax", rule_id="r_disc_ge_tax",
                when=("l_returnflag", "==", "R"),
            ),
        ]
    )
    li = _read(spark, sf_dir, "lineitem")
    return row_violations(li, rs, key_cols=["l_orderkey", "l_linenumber"], partition_col=None)


def q_severity_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Severity-aware partition gating: `warn` rules report violations but
    never fail a partition (engine.partition_pass); error rules gate. The
    per-day overall verdict separates error_violations from warn_violations."""
    import dataclasses

    from lyra_spark.engine import partition_pass, validate

    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    rs = RuleSet(
        [
            R.enum("event_type", ["click", "view", "purchase", "signup"], rule_id="event_type_enum"),
            dataclasses.replace(
                R.range_rule("value", min=0.0, max=100.0, rule_id="value_range"), severity="warn"
            ),
            R.required("event_type", rule_id="event_type_required"),
        ]
    )
    res = validate(events, rs, key_cols=["event_id"], partition_col="day")
    return partition_pass(res.verdicts, partition_col="day").withColumnRenamed("pass", "passed")


def q_tolerance_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-aware rule verdicts (Deequ/GE "mostly" semantics): a rule
    passes a day when its violation RATE is within the declared fraction —
    violation_count stays the raw report. value_range at 13% and
    event_type_enum at 20% both split the sf0.01 days into passing and
    failing; event_type_required keeps the strict 0.0 default."""
    import dataclasses

    from lyra_spark.engine import validate

    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    rs = RuleSet(
        [
            dataclasses.replace(
                R.enum("event_type", ["click", "view", "purchase", "signup"], rule_id="event_type_enum"),
                tolerance=0.20,
            ),
            dataclasses.replace(
                R.range_rule("value", min=0.0, max=100.0, rule_id="value_range"), tolerance=0.13
            ),
            R.required("event_type", rule_id="event_type_required"),
        ]
    )
    res = validate(events, rs, key_cols=["event_id"], partition_col="day")
    return res.verdicts.withColumnRenamed("pass", "passed")


def q_any_of_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Joi alternatives().try() (rules.any_of): value passes when it is an
    integer OR within [0, 1] — neither alternative alone accepts the corpus.
    Compiles to one OR'd codegen predicate inside the standard violation
    scan; NULL passes (optional semantics)."""
    ensure_shipped(spark)
    from lyra_spark.rules import RuleSet, any_of
    from lyra_spark import rules as R

    events = _read(spark, sf_dir, "events")
    rule = any_of(
        "value", [R.integer("value"), R.range_rule("value", min=0.0, max=1.0)],
        rule_id="int_or_unit",
    )
    return row_violations(events, RuleSet([rule]), key_cols=["event_id"], partition_col=None)


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k corpus bigrams (text.top_ngrams): the boilerplate
    profile. One explode + one exchange into the (ngram, count) grid, global
    top-k planned as TakeOrderedAndProject; deterministic count-then-lexical
    tie-break so both engines agree at the k-th boundary."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.text import top_ngrams

    docs = _read(spark, sf_dir, "documents")
    return top_ngrams(docs, n=2, k=20)


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (pack.chunk_documents): 64-token
    windows advancing by 48 (overlap 16) — the long-document half of
    sequence prep (pack_sequences concatenates the short half). Pure
    Catalyst map-only fan-out; ~39% of sf0.01 docs exceed one window."""
    ensure_shipped(spark)
    from lyra_spark.pipeline.pack import chunk_documents

    docs = _read(spark, sf_dir, "documents")
    return chunk_documents(docs, max_tokens=64, overlap=16)


def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance threshold self-join (fuzzy.fuzzy_join): customer
    names within Levenshtein distance 1 (ids with one typo'd digit).
    Short strings block via the FastSS deletion neighborhood (hashed
    ≤d-deletion variants — selective even under the corpus-wide
    'Customer#0000…' constant prefix that degenerates segment blocking),
    long strings via PassJoin segments (PVLDB 2011). Blocking is lossless
    — the brute-force oracle is the definition — and the all-pairs
    quadratic never materializes (equi-join + exact verify)."""
    ensure_shipped(spark)
    from lyra_spark.fuzzy import fuzzy_join

    cust = _read(spark, sf_dir, "customer")
    # customer names are known-short: method="deletion" skips the auto
    # hybrid's two (empty) long-string PassJoin branches and their scans
    out = fuzzy_join(
        cust, cust, "c_name", "c_name", 1, "c_custkey", "c_custkey", method="deletion"
    )
    return out.filter("l_id < r_id").select("l_id", "r_id", "distance")


def q_metric_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric constraint rules (Deequ hasSize/hasMean/hasStandardDeviation/
    hasCompleteness/hasDistinctCount, a Check.where-restricted mean, a
    satisfies() compliance fraction, and the grid metrics hasUniqueness/
    hasDistinctness, and an exact p90 quantile bound): eleven aggregate bounds on events per day — the moment +
    compliance metrics share ONE wide agg pass and the uniqueness-family
    ones share ONE value-grid pass (both plan-pinned in test_metric_rules).
    Bounds chosen so daily_volume, mean_value, stddev_value, purchase_mean,
    value_under_120, value_p90, user_uniqueness and user_distinctness each split the
    sf0.01 days into passing AND failing, while completeness, cardinality
    and event-id uniqueness hold everywhere."""
    from lyra_spark import metrics as M

    ensure_shipped(spark)
    events = _read(spark, sf_dir, "events").withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    rules = [
        M.size(min=320, rule_id="daily_volume"),
        M.mean("value", min=46.0, max=53.0, rule_id="mean_value"),
        M.stddev("value", max=50.0, rule_id="stddev_value"),
        M.completeness("event_type", min=0.99, rule_id="event_type_complete"),
        M.distinct_count("event_type", min=5, max=5, rule_id="event_type_card"),
        M.mean("value", min=48.0, rule_id="purchase_mean", where="event_type = 'purchase'"),
        M.compliance("value <= 120", min=0.90, rule_id="value_under_120"),
        M.quantile("value", q=0.90, max=115.0, rule_id="value_p90"),
        M.uniqueness("event_id", min=1.0, rule_id="event_id_unique"),
        M.uniqueness("user_id", min=0.12, rule_id="user_uniqueness"),
        M.distinctness("user_id", min=0.40, rule_id="user_distinctness"),
    ]
    mv = M.evaluate_metric_rules(events, rules, partition_col="day")
    return mv.withColumnRenamed("pass", "passed")


def q_nested_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested struct-path + array rule kinds (SURVEY §2 row 22d, round 5):
    a derived struct column validated through dotted-path targeting
    (Catalyst nested-field resolution — enum on meta.et, range on meta.k)
    and a derived array column through items/has/array_size (F.forall /
    F.exists — single codegen'd expressions, no explode). The WHOLE pass
    still rides engine.row_violations' one-scan array→filter→explode
    assembly. Array observed_values use Spark's native array→string cast
    ('[a, null]'); the DuckDB oracle reconstructs that rendering exactly.
    """
    ensure_shipped(spark)
    from lyra_spark.engine import row_violations

    ev = _read(spark, sf_dir, "events")
    d = (
        ev.withColumn(
            "meta",
            F.struct(
                F.get_json_object("props", "$.k").cast("int").alias("k"),
                F.col("event_type").alias("et"),
            ),
        )
        .withColumn(
            "tags",
            F.when(F.col("event_id") % 11 == 0, F.lit(None).cast("array<string>"))
            .when(F.col("event_id") % 13 == 0, F.array().cast("array<string>"))
            .otherwise(
                F.array(
                    F.col("event_type"),
                    F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("string")).otherwise(
                        F.concat(F.lit("tag"), (F.col("event_id") % 5).cast("string"))
                    ),
                )
            ),
        )
    )
    rs = RuleSet([
        R.enum("meta.et", ["click", "view", "purchase", "signup"], rule_id="et_enum"),
        R.range_rule("meta.k", min=0, max=80, rule_id="k_range"),
        R.items("tags", R.length("tags", max=6), rule_id="tags_len6"),
        R.items("tags", R.required("tags"), rule_id="tags_no_null"),
        R.has("tags", R.enum("tags", ["click", "view"]), rule_id="tags_has_cv"),
        R.array_size("tags", min=2, rule_id="tags_size2"),
    ])
    return row_violations(d, rs, key_cols=["event_id"], partition_col=None)


def q_abort_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lyra error-reporting parity (round 5): abortEarly (first failing rule
    per row, ruleset order — F.element_at(failures, 1), same one-scan plan)
    + human message templates ({value} spliced at runtime, everything else
    compile-time literals, so the oracle replicates messages as SQL string
    concatenation)."""
    ensure_shipped(spark)
    from lyra_spark.engine import row_violations
    from lyra_spark.rules import with_message

    ev = _read(spark, sf_dir, "events")
    rs = RuleSet([
        R.required("event_type"),
        with_message(
            R.enum("event_type", ["click", "view", "purchase", "signup"]),
            "bad type: {value}",
        ),
        with_message(R.range_rule("value", min=0.0, max=100.0), "value {value} outside [0, 100]"),
    ])
    return row_violations(
        ev, rs, key_cols=["event_id"], partition_col=None, messages=True, abort_early=True
    )


def q_json_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lyra object().unknown(false) parity (SURVEY §2 row 22f): the
    json_unknown_keys rule over a derived props column with planted unknown
    keys and invalid JSON — json_object_keys + F.forall, one codegen'd
    map-only pass through the standard violation assembly."""
    ensure_shipped(spark)
    from lyra_spark.engine import row_violations

    ev = _read(spark, sf_dir, "events")
    d = ev.withColumn(
        "props2",
        F.when(F.col("event_id") % 37 == 0, F.lit("not json"))
        .when(F.col("event_id") % 31 == 0, F.regexp_replace("props", r"\}$", ', "zz": 1}'))
        .otherwise(F.col("props")),
    )
    rs = RuleSet([R.json_unknown_keys("props2", ["k"], rule_id="props_keys")])
    return row_violations(d, rs, key_cols=["event_id"], partition_col=None)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the correctness driver samples the FIRST 50 entries.
    # The window leads with
    #   (a) the drift queries: the four whose quantile sketch moved from a
    #       t-digest to Spark's KLL aggregates (never driver-sampled before)
    #       and the categorical one,
    #   (b) a small representative core that stays pinned every round,
    #   (c) the block of queries first checked in round 5 (r4 registry
    #       positions 51-100),
    #   (d) the seven queries no correctness round had sampled (json_keys,
    #       violation_samples, profile_findings, cms_tolerance, dup_samples,
    #       chunk_docs, top_ngrams).
    # The back half holds queries already verified green: seven of
    # block (c) moved out to make room for (d) (rollup_counts ... key_skew,
    # green in round 5), benford, sessionize, domain_cap and unigram_quality
    # (round 5), and the rest (r4).
    return {
        # -- (a) drift: KLL sketch queries + categorical PSI --
        "tdigest_tolerance": q_tdigest_tolerance,
        "ks_tolerance": q_ks_tolerance,
        "multi_sketch": q_multi_sketch,
        "numeric_trailing_drift": q_numeric_trailing_drift,
        "categorical_drift": q_categorical_drift,
        # -- (b) pinned representative core (r4-green) --
        "validate_events": q_validate_events,
        "custom_rule": q_custom_rule,
        "minhash_neardup": q_minhash_neardup,
        # -- (c) first-time-checked block --
        "domain_blocklist": q_domain_blocklist,
        "hash_split": q_hash_split,
        "mixture_sample": q_mixture_sample,
        "leakage_safe_split": q_leakage_safe_split,
        "asof_join": q_asof_join,
        "range_join": q_range_join,
        "fuzzy_join": q_fuzzy_join,
        "metric_rules": q_metric_rules,
        "suggest_rules": q_suggest_rules,
        "tolerance_verdicts": q_tolerance_verdicts,
        "severity_verdicts": q_severity_verdicts,
        "format_rules": q_format_rules,
        "compare_columns": q_compare_columns,
        "any_of_rule": q_any_of_rule,
        "pack_chunks": q_pack_chunks,
        "shuffle_shards": q_shuffle_shards,
        "weighted_sample": q_weighted_sample,
        "uniform_exact_k": q_uniform_exact_k,
        "stratified_exact_k": q_stratified_exact_k,
        "incremental_neardup": q_incremental_neardup,
        "lsh_topk": q_lsh_topk,
        "reconcile": q_reconcile,
        "freshness": q_freshness,
        "markup_strip": q_markup_strip,
        "metric_anomaly": q_metric_anomaly,
        "misplaced_rows": q_misplaced,
        "functional_dep": q_functional_dep,
        "rowcount_anomaly": q_rowcount_anomaly,
        "frequent_values": q_frequent_values,
        "schema_check": q_schema_check,
        "conv_dedup": q_conv_dedup,
        "outliers": q_outliers,
        "trailing_drift": q_trailing_drift,
        # -- new in round 5: nested struct-path + array rule kinds, and
        #    lyra error-reporting parity (abortEarly + message templates) --
        "nested_rules": q_nested_rules,
        "abort_messages": q_abort_messages,
        # -- (d) never sampled before: sample outputs, findings, CMS
        #    tolerance, chunking and n-gram queries --
        "json_keys": q_json_keys,
        "violation_samples": q_violation_samples,
        "profile_findings": q_profile_findings,
        "cms_tolerance": q_cms_tolerance,
        "dup_samples": q_dup_samples,
        "chunk_docs": q_chunk_docs,
        "top_ngrams": q_top_ngrams,
        # ---------------- position 51+ (checked green in r4/r5) ----------
        "rollup_counts": q_rollup_counts,
        "pivot_daily": q_pivot_daily,
        "column_entropy": q_column_entropy,
        "correlation": q_correlation,
        "percentiles": q_percentiles,
        "contiguity": q_contiguity,
        "key_skew": q_key_skew,
        "benford": q_benford,
        "sessionize": q_sessionize,
        "domain_cap": q_domain_cap,
        "unigram_quality": q_unigram_quality,
        "verdicts_events": q_verdicts_events,
        "null_rate": q_null_rate,
        "distinct_exact": q_distinct_exact,
        "hll_tolerance": q_hll_tolerance,
        "length_histogram": q_length_histogram,
        "uniqueness": q_uniqueness,
        "referential": q_referential,
        "referential_coverage": q_referential_coverage,
        "robust_outliers": q_robust_outliers,
        "monotone": q_monotone,
        "agg_lineitem": q_agg_lineitem,
        "broadcast_join": q_broadcast_join,
        "window_topk": q_window_topk,
        "json_extract": q_json_extract,
        "coercion_orders": q_coercion_orders,
        "drift_bins": q_drift_bins,
        "regression_diff": q_regression_diff,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "containment": q_containment,
        "dup_spans": q_dup_spans,
        "card_scrub": q_card_scrub,
        "dedup_clusters": q_dedup_clusters,
        "simhash_neardup": q_simhash_neardup,
        "simsearch_topk": q_simsearch_topk,
        "ivf_topk": q_ivf_topk,
        "embedding_neardup": q_embedding_neardup,
        "token_stats": q_token_stats,
        "lang_id": q_lang_id,
        "quality_stats": q_quality_stats,
        "multimodal_features": q_multimodal_features,
        "frame_sampling": q_frame_sampling,
        "fingerprint": q_fingerprint,
        "repetition_stats": q_repetition_stats,
        "decontamination": q_decontamination,
        "pii_scrub": q_pii_scrub,
        "line_dedup": q_line_dedup,
        "url_stats": q_url_stats,
        "transition": q_transition,
        "clean_rows": q_clean_rows,
        "quarantine_rows": q_quarantine_rows,
        "conv_stats": q_conv_stats,
    }


_TOPK_ORACLE = """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
        SELECT q.query_id, e.vec_id,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qv), 6) AS cos_sim
        FROM embeddings e CROSS JOIN q
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


def _anchored_format_regex_sql(name: str) -> str:
    """The engine's FORMAT_REGEX pattern, anchored exactly as the compiler
    anchors it, SQL-quote-escaped for a DuckDB string literal. Same source
    table on both sides = byte-agreement by construction (the patterns live
    in the Java-regex ∩ RE2 subset)."""
    from lyra_spark.rules import FORMAT_REGEX

    return "^(?:" + FORMAT_REGEX[name].replace("'", "''") + ")$"


# sentinel-token template (NOT an f-string: the regexes contain {m,n}
# quantifiers and % characters that f-/%-formatting would mangle)
_FORMAT_RULES_ORACLE = """
    WITH h AS (
        SELECT c_custkey, CAST(c_custkey AS VARCHAR) AS ks,
               md5(CAST(c_custkey AS VARCHAR)) AS hx
        FROM customer
    ),
    derived AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 7 = 0 THEN concat('user', ks, 'example.com')
                    ELSE concat('user', ks, '@example.com') END AS email,
               CASE WHEN c_custkey % 11 = 0
                    THEN replace(concat(substr(hx,1,8),'-',substr(hx,9,4),'-',substr(hx,13,4),'-',substr(hx,17,4),'-',substr(hx,21,12)), '-', '')
                    ELSE concat(substr(hx,1,8),'-',substr(hx,9,4),'-',substr(hx,13,4),'-',substr(hx,17,4),'-',substr(hx,21,12)) END AS uuidv,
               concat(CAST(c_custkey % 256 AS VARCHAR), '.',
                      CAST(CAST(FLOOR(c_custkey / 256.0) AS BIGINT) % 256 AS VARCHAR), '.0.',
                      CASE WHEN c_custkey % 5 = 0 THEN '999' ELSE '1' END) AS ip,
               CASE WHEN c_custkey % 13 = 0 THEN concat('htp:/broken/', ks)
                    ELSE concat('https://example.com/d/', ks) END AS url
        FROM h
    )
    SELECT c_custkey, 'email_fmt' AS rule_id, email AS observed_value
      FROM derived WHERE NOT regexp_matches(email, '@EMAIL_RE@')
    UNION ALL
    SELECT c_custkey, 'uuid_fmt' AS rule_id, uuidv AS observed_value
      FROM derived WHERE NOT regexp_matches(uuidv, '@UUID_RE@')
    UNION ALL
    SELECT c_custkey, 'ip_fmt' AS rule_id, ip AS observed_value
      FROM derived WHERE NOT regexp_matches(ip, '@IPV4_RE@')
    UNION ALL
    SELECT c_custkey, 'url_fmt' AS rule_id, url AS observed_value
      FROM derived WHERE NOT regexp_matches(url, '@URI_RE@')
"""

_COMPARE_COLUMNS_ORACLE = """
    SELECT l_orderkey, l_linenumber, 'disc_le_tax' AS rule_id,
           CAST(l_discount AS VARCHAR) AS observed_value
      FROM lineitem
     WHERE l_discount IS NOT NULL AND l_tax IS NOT NULL
       AND NOT (l_discount <= l_tax)
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'r_disc_ge_tax' AS rule_id,
           CAST(l_discount AS VARCHAR) AS observed_value
      FROM lineitem
     WHERE l_returnflag = 'R'
       AND l_discount IS NOT NULL AND l_tax IS NOT NULL
       AND NOT (l_discount >= l_tax)
"""


def oracle_sql() -> dict[str, str]:
    return {
        "validate_events": EVENTS_ORACLE_VIOLATIONS,
        "custom_rule": r"""
            SELECT event_id, 'props_k_lt_90' AS rule_id, props AS observed_value
            FROM events
            WHERE props IS NOT NULL
              AND NOT COALESCE(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS DOUBLE) < 90, TRUE)
        """,
        "verdicts_events": f"""
            WITH viol AS ({EVENTS_ORACLE_VIOLATIONS}),
            ev AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
            days AS (SELECT day, COUNT(*) AS row_count FROM ev GROUP BY day),
            rules(rule_id) AS (VALUES ('event_type_enum'), ('value_range'), ('props_pattern'), ('event_type_required')),
            vc AS (
                SELECT day, rule_id, COUNT(*) AS violation_count
                FROM viol JOIN ev USING (event_id) GROUP BY day, rule_id
            )
            SELECT d.day, r.rule_id,
                   COALESCE(vc.violation_count, 0) = 0 AS passed,
                   COALESCE(vc.violation_count, 0) AS violation_count,
                   d.row_count
            FROM days d CROSS JOIN rules r
            LEFT JOIN vc ON vc.day = d.day AND vc.rule_id = r.rule_id
        """,
        "null_rate": """
            SELECT event_type,
                   COUNT(*) AS row_count,
                   ROUND(AVG(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_rate,
                   CAST(MIN(value) AS VARCHAR) AS min_value,
                   CAST(MAX(value) AS VARCHAR) AS max_value
            FROM events GROUP BY event_type
        """,
        "distinct_exact": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY event_type
        """,
        "hll_tolerance": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_exact,
                   TRUE AS approx_within_rsd, TRUE AS sketch_within_rsd
            FROM events GROUP BY event_type
        """,
        "length_histogram": """
            SELECT CAST(FLOOR(LENGTH(text) / 50) AS BIGINT) AS bucket, COUNT(*) AS count
            FROM documents WHERE text IS NOT NULL GROUP BY 1
        """,
        "uniqueness": """
            SELECT o_custkey, 'uniq_custkey' AS rule_id, CAST(COUNT(*) AS VARCHAR) AS observed_value
            FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
        """,
        "referential": """
            SELECT p_partkey, 'part_unreferenced' AS rule_id
            FROM part WHERE p_partkey NOT IN (SELECT l_partkey FROM lineitem)
        """,
        "benford": """
            WITH src AS (
                SELECT CAST(EXTRACT(year FROM l_shipdate) AS VARCHAR) AS yr,
                       abs(CAST(l_extendedprice AS DOUBLE)) AS v
                FROM lineitem
                WHERE l_extendedprice IS NOT NULL
                  AND isfinite(CAST(l_extendedprice AS DOUBLE))
                  AND abs(CAST(l_extendedprice AS DOUBLE)) > 0
            ),
            grid AS (
                SELECT yr, CAST(FLOOR(v / POWER(10.0, FLOOR(LOG10(v)))) AS INT) AS d,
                       COUNT(*) AS c
                FROM src GROUP BY yr, d
            ),
            e(d, p) AS (VALUES (1, 0.30103), (2, 0.17609), (3, 0.12494), (4, 0.09691),
                               (5, 0.07918), (6, 0.06695), (7, 0.05799), (8, 0.05115), (9, 0.04576)),
            tot AS (SELECT yr, SUM(c) AS n FROM grid GROUP BY yr),
            wide AS (
                SELECT g.yr, MAX(t.n) AS n,
                       SUM(POWER(g.c::DOUBLE / t.n - e.p, 2) / e.p) AS chi_part,
                       SUM(ABS(g.c::DOUBLE / t.n - e.p)) AS mad_part,
                       SUM(e.p) AS p_seen
                FROM grid g JOIN tot t ON g.yr IS NOT DISTINCT FROM t.yr
                JOIN e ON g.d = e.d
                GROUP BY g.yr
            )
            SELECT yr, CAST(n AS BIGINT) AS n,
                   ROUND((chi_part + (1.0 - p_seen)) * n, 6) AS chi2,
                   ROUND((mad_part + (1.0 - p_seen)) / 9.0, 6) AS mad
            FROM wide WHERE n >= 100
        """,
        "robust_outliers": """
            WITH e AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
            m AS (SELECT day, quantile_cont(value, 0.5) AS med FROM e GROUP BY day),
            d AS (SELECT e.day, MAX(m.med) AS med,
                         quantile_cont(abs(e.value - m.med), 0.5) AS mad
                  FROM e JOIN m ON e.day IS NOT DISTINCT FROM m.day GROUP BY e.day)
            SELECT e.event_id, e.day, e.value,
                   ROUND(0.6745 * (e.value - d.med) / d.mad, 4) AS mod_zscore
            FROM e JOIN d ON e.day IS NOT DISTINCT FROM d.day
            WHERE e.value IS NOT NULL AND d.mad IS NOT NULL AND d.mad > 0
              AND abs(0.6745 * (e.value - d.med) / d.mad) > 3.5
        """,
        "referential_coverage": """
            WITH d AS (SELECT DISTINCT c_custkey FROM customer WHERE c_nationkey < 12),
            j AS (
                SELECT strftime(e.ts, '%Y-%m-%d') AS day, e.user_id,
                       CASE WHEN d.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS hit
                FROM events e LEFT JOIN d ON e.user_id = d.c_custkey
            )
            SELECT day,
                   COUNT(*) AS n_rows,
                   COUNT(user_id) AS n_fk,
                   CAST(SUM(hit) AS BIGINT) AS n_matched,
                   ROUND(CASE WHEN COUNT(user_id) > 0
                              THEN SUM(hit)::DOUBLE / COUNT(user_id) END, 6) AS coverage,
                   (COUNT(user_id) = 0 OR SUM(hit)::DOUBLE / COUNT(user_id) >= 0.46) AS pass
            FROM j GROUP BY day
        """,
        "markup_strip": r"""
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 5 = 0
                            THEN '<div class="post"><h1>T</h1><p>' || text
                                 || '</p><br/>&amp; <b>footer</b></div>'
                            ELSE text END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            -- mirrors strip_markup's line-preserving chain (SEMANTICS.md 70):
            -- block closers -> \n, generic tags -> ' ', entities, collapse
            -- non-newline whitespace, trim spaces hugging newlines, collapse
            -- newline runs, strip edge whitespace
            stripped AS (
                SELECT doc_id,
                       regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                           replace(replace(replace(replace(replace(replace(
                               regexp_replace(
                                   regexp_replace(text,
                                       '(?i)</(?:p|div|li|ul|ol|h[1-6]|tr|table|blockquote|pre|section|article|header|footer)>|<br\s*/?>|<hr\s*/?>',
                                       chr(10), 'g'),
                                   '</?[A-Za-z][^>]*>', ' ', 'g'),
                               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
                               '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
                           '[^\S\n]+', ' ', 'g'),
                           ' ?\n ?', chr(10), 'g'),
                           '\n{2,}', chr(10), 'g'),
                           '^\s+|\s+$', '', 'g') AS plain
                FROM planted
            )
            SELECT doc_id, md5(plain) AS plain_md5, length(plain) AS plain_len
            FROM stripped
        """,
        "domain_blocklist": r"""
            WITH planted AS (
                SELECT doc_id, lang,
                       text
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' see https://site' || (doc_id % 20)::VARCHAR
                                    || '.example.org/p' || doc_id::VARCHAR
                               ELSE '' END
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' ref http://cdn.example.net/assets?q=' || doc_id::VARCHAR
                               ELSE '' END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            blocked_ids AS (
                SELECT DISTINCT doc_id
                FROM planted,
                     UNNEST(regexp_extract_all(text,
                         'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9./?=&%_~#+-]*)?')) AS t(u)
                WHERE lower(regexp_extract(u, '^https?://([^/]+)', 1))
                      IN ('site3.example.org', 'site7.example.org', 'cdn.example.net')
            )
            SELECT lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM planted
            WHERE doc_id NOT IN (SELECT doc_id FROM blocked_ids)
            GROUP BY lang
        """,
        "sessionize": """
            WITH lagged AS (
                SELECT event_id, user_id, ts,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            flagged AS (
                SELECT event_id, user_id, ts,
                       CASE WHEN prev IS NULL
                                 OR epoch_us(ts) - epoch_us(prev) > 1800000000
                            THEN 1 ELSE 0 END AS ns
                FROM lagged
            )
            SELECT event_id, user_id,
                   CAST(SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                       AS BIGINT) AS session_id
            FROM flagged
        """,
        "rollup_counts": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                   COUNT(*) AS n, ROUND(AVG(value), 4) AS avg_value,
                   GROUPING(strftime(ts, '%Y-%m-%d')) * 2 + GROUPING(event_type) AS lvl
            FROM events
            GROUP BY ROLLUP(strftime(ts, '%Y-%m-%d'), event_type)
        """,
        "pivot_daily": """
            SELECT strftime(ts, '%Y-%m-%d') AS day,
                   COUNT(*) FILTER (event_type = 'click') AS n_click,
                   COUNT(*) FILTER (event_type = 'view') AS n_view,
                   COUNT(*) FILTER (event_type = 'purchase') AS n_purchase,
                   COUNT(*) FILTER (event_type = 'signup') AS n_signup
            FROM events GROUP BY 1
        """,
        "trailing_drift": """
            WITH vals AS (
                SELECT strftime(ts, '%Y-%m-%d') AS p,
                       COALESCE(event_type, '<NULL>') AS v
                FROM events
            ),
            grid AS (SELECT p, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
            cats AS (SELECT DISTINCT v FROM grid),
            kc AS (SELECT COUNT(*) AS kcat FROM cats),
            parts AS (SELECT p, SUM(n) AS pn FROM grid GROUP BY 1),
            dense AS (
                SELECT parts.p, parts.pn, cats.v, COALESCE(grid.n, 0) AS n
                FROM parts CROSS JOIN cats
                LEFT JOIN grid ON grid.p = parts.p AND grid.v = cats.v
            ),
            trail AS (
                SELECT p, pn, v, n,
                       COALESCE(SUM(n) OVER (PARTITION BY v ORDER BY p
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 0) AS ref_n,
                       COUNT(*) OVER (PARTITION BY v ORDER BY p
                           ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_ref_parts
                FROM dense
            ),
            t2 AS (
                SELECT *, SUM(ref_n) OVER (PARTITION BY p) AS ref_pn
                FROM trail WHERE n_ref_parts > 0
            ),
            terms AS (
                SELECT p, pn, ref_pn, n_ref_parts,
                       (n + 0.5) / (pn + 0.5 * kcat) AS pr,
                       (ref_n + 0.5) / (ref_pn + 0.5 * kcat) AS qr
                FROM t2, kc
            )
            SELECT p AS day,
                   ROUND(SUM((pr - qr) * LN(pr / qr)), 4) AS psi,
                   ROUND(SUM((pr * LN(pr / ((pr + qr) / 2))
                              + qr * LN(qr / ((pr + qr) / 2))) / 2), 4) AS js,
                   CAST(MAX(pn) AS BIGINT) AS n_rows,
                   CAST(MAX(ref_pn) AS BIGINT) AS ref_rows,
                   CAST(MAX(n_ref_parts) AS BIGINT) AS n_ref_parts,
                   COUNT(*) AS n_categories
            FROM terms GROUP BY 1
        """,
        "asof_join": """
            WITH cand AS (
                SELECT e.event_id, o.o_orderkey, o.o_orderdate, o.o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY e.event_id
                           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
                FROM events e
                JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
            )
            SELECT e.event_id, e.user_id, epoch_us(e.ts) AS ts_us,
                   c.o_orderkey AS asof_orderkey,
                   epoch_us(c.o_orderdate) AS asof_odate_us,
                   ROUND(c.o_totalprice, 6) AS asof_totalprice
            FROM events e
            LEFT JOIN cand c ON c.event_id = e.event_id AND c.rn = 1
        """,
        "range_join": """
            SELECT p.event_id AS anchor_id,
                   COUNT(*) AS n_follow,
                   ROUND(SUM(e.value), 6) AS sum_value
            FROM events p
            JOIN events e ON e.user_id = p.user_id
               AND e.ts >= p.ts AND e.ts <= p.ts + INTERVAL 1 HOUR
            WHERE p.event_type = 'purchase'
            GROUP BY 1
        """,
        "weighted_sample": """
            WITH tw AS (SELECT CAST(SUM(n_chars) AS DOUBLE) AS t FROM documents)
            SELECT d.doc_id, d.n_chars
            FROM documents d, tw
            WHERE d.doc_id IS NOT NULL AND d.n_chars IS NOT NULL AND d.n_chars > 0
              AND ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR) || 'wps'), 1, 8))::BIGINT
                      / 4294967296.0
                  < LEAST(1.0, 100.0 * CAST(d.n_chars AS DOUBLE) / tw.t)
        """,
        "cms_tolerance": """
            SELECT user_id AS value, COUNT(*) AS exact_n, TRUE AS ok
            FROM events WHERE user_id IS NOT NULL GROUP BY 1
        """,
        "tdigest_tolerance": """
            SELECT CAST(q AS DOUBLE) AS quantile, ok
            FROM (VALUES (0.01, TRUE), (0.1, TRUE), (0.25, TRUE), (0.5, TRUE),
                         (0.75, TRUE), (0.9, TRUE), (0.99, TRUE)) AS t(q, ok)
        """,
        "ks_tolerance": """
            SELECT * FROM (VALUES ('same', TRUE), ('shifted', TRUE)) AS t(pair, ok)
        """,
        "key_skew": """
            WITH g AS (
                SELECT l_partkey, COUNT(*) AS n FROM lineitem
                WHERE l_partkey IS NOT NULL GROUP BY 1
            )
            SELECT COUNT(*) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   MAX(n) AS max_count,
                   ROUND(AVG(n), 6) AS mean_count,
                   ROUND(PERCENTILE_CONT(0.99) WITHIN GROUP (ORDER BY n), 6) AS p_count,
                   ROUND(MAX(n) / AVG(n), 6) AS skew_ratio,
                   LEAST(256, GREATEST(1, CAST(CEIL(MAX(n) / AVG(n)) AS BIGINT)))
                       AS recommended_buckets
            FROM g
        """,
        "uniform_exact_k": """
            SELECT doc_id, lang FROM documents
            WHERE doc_id IS NOT NULL
            ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'uk'), 1, 8))::BIGINT
                         / 4294967296.0 ASC,
                     doc_id ASC
            LIMIT 50
        """,
        "stratified_exact_k": """
            SELECT doc_id, lang FROM documents
            WHERE doc_id IS NOT NULL AND lang IS NOT NULL
            QUALIFY ROW_NUMBER() OVER (
                PARTITION BY lang
                ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'sk'), 1, 8))::BIGINT
                             / 4294967296.0 ASC,
                         doc_id ASC
            ) <= 15
        """,
        "lsh_topk": _TOPK_ORACLE,
        "format_rules": (
            _FORMAT_RULES_ORACLE
            .replace("@EMAIL_RE@", _anchored_format_regex_sql("email"))
            .replace("@UUID_RE@", _anchored_format_regex_sql("uuid"))
            .replace("@IPV4_RE@", _anchored_format_regex_sql("ipv4"))
            .replace("@URI_RE@", _anchored_format_regex_sql("uri"))
        ),
        "compare_columns": _COMPARE_COLUMNS_ORACLE,
        "severity_verdicts": """
            WITH ev AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
            days AS (SELECT day, COUNT(*) AS row_count FROM ev GROUP BY day),
            errv AS (
                SELECT day, COUNT(*) AS c FROM ev
                WHERE (event_type IS NOT NULL
                       AND event_type NOT IN ('click','view','purchase','signup'))
                   OR event_type IS NULL
                GROUP BY day
            ),
            warnv AS (
                SELECT day, COUNT(*) AS c FROM ev
                WHERE value IS NOT NULL AND NOT (value >= 0.0 AND value <= 100.0)
                GROUP BY day
            )
            SELECT d.day,
                   COALESCE(e.c, 0) = 0 AS passed,
                   COALESCE(e.c, 0) AS error_violations,
                   COALESCE(w.c, 0) AS warn_violations,
                   d.row_count
            FROM days d
            LEFT JOIN errv e USING (day)
            LEFT JOIN warnv w USING (day)
        """,
        "tolerance_verdicts": """
            WITH ev AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
            days AS (SELECT day, COUNT(*) AS row_count FROM ev GROUP BY day),
            enumv AS (
                SELECT day, COUNT(*) AS c FROM ev
                WHERE event_type IS NOT NULL
                  AND event_type NOT IN ('click','view','purchase','signup')
                GROUP BY day
            ),
            rangev AS (
                SELECT day, COUNT(*) AS c FROM ev
                WHERE value IS NOT NULL AND NOT (value >= 0.0 AND value <= 100.0)
                GROUP BY day
            ),
            reqv AS (
                SELECT day, COUNT(*) AS c FROM ev WHERE event_type IS NULL GROUP BY day
            ),
            grid AS (
                SELECT d.day, 'event_type_enum' AS rule_id, COALESCE(e.c, 0) AS violation_count,
                       d.row_count, CAST(0.20 AS DOUBLE) AS tolerance
                FROM days d LEFT JOIN enumv e USING (day)
                UNION ALL
                SELECT d.day, 'value_range', COALESCE(r.c, 0), d.row_count, CAST(0.13 AS DOUBLE)
                FROM days d LEFT JOIN rangev r USING (day)
                UNION ALL
                SELECT d.day, 'event_type_required', COALESCE(q.c, 0), d.row_count, CAST(0.0 AS DOUBLE)
                FROM days d LEFT JOIN reqv q USING (day)
            )
            SELECT day, rule_id,
                   violation_count <= tolerance * row_count AS passed,
                   violation_count, row_count, tolerance
            FROM grid
        """,
        "any_of_rule": """
            SELECT event_id, 'int_or_unit' AS rule_id,
                   CAST(value AS VARCHAR) AS observed_value
            FROM events
            WHERE value IS NOT NULL
              AND NOT (value = floor(value) OR (value >= 0.0 AND value <= 1.0))
        """,
        "top_ngrams": r"""
            WITH t AS (
                SELECT string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS toks
                FROM documents WHERE text IS NOT NULL
            ),
            g AS (
                SELECT toks[i + 1] || ' ' || toks[i + 2] AS ngram
                FROM t, UNNEST(generate_series(0, len(toks) - 2)) AS u(i)
                WHERE len(toks) >= 2
            )
            SELECT ngram, COUNT(*) AS count,
                   CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, ngram ASC) AS INT) AS rank
            FROM g GROUP BY ngram
            ORDER BY count DESC, ngram ASC
            LIMIT 20
        """,
        "chunk_docs": r"""
            WITH t AS (
                SELECT doc_id,
                       list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks
                FROM documents WHERE text IS NOT NULL
            ),
            t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
            w AS (
                SELECT doc_id, toks, n,
                       CASE WHEN n <= 64 THEN 0
                            ELSE CAST(ceil((n - 64) / 48.0) AS INT) END AS k
                FROM t2
            )
            SELECT doc_id,
                   CAST(i AS INT) AS chunk_idx,
                   CAST(k + 1 AS INT) AS n_chunks,
                   array_to_string(toks[i*48 + 1 : i*48 + 64], ' ') AS chunk_text,
                   CAST(LEAST(64, n - i*48) AS INT) AS n_tokens
            FROM w, UNNEST(generate_series(0, k)) AS u(i)
        """,
        "fuzzy_join": """
            SELECT a.c_custkey AS l_id, b.c_custkey AS r_id,
                   levenshtein(a.c_name, b.c_name) AS distance
            FROM customer a, customer b
            WHERE a.c_custkey < b.c_custkey
              AND abs(length(a.c_name) - length(b.c_name)) <= 1
              AND levenshtein(a.c_name, b.c_name) <= 1
        """,
        "json_keys": """
            WITH d AS (
                SELECT event_id,
                       CASE WHEN event_id % 37 = 0 THEN 'not json'
                            WHEN event_id % 31 = 0
                                 THEN regexp_replace(props, '\\}$', ', "zz": 1}')
                            ELSE props END AS props2
                FROM events
            )
            SELECT event_id, 'props_keys' AS rule_id, props2 AS observed_value
            FROM d
            WHERE props2 IS NOT NULL
              AND (NOT json_valid(props2)
                   OR json_type(props2) <> 'OBJECT'
                   OR len(list_filter(json_keys(props2), k -> k NOT IN ('k'))) > 0)
        """,
        "abort_messages": """
            SELECT event_id,
                   CASE WHEN event_type IS NULL THEN 'event_type_required'
                        WHEN event_type NOT IN ('click','view','purchase','signup')
                             THEN 'event_type_enum'
                        ELSE 'value_range' END AS rule_id,
                   CASE WHEN event_type IS NULL THEN NULL
                        WHEN event_type NOT IN ('click','view','purchase','signup')
                             THEN event_type
                        ELSE CAST(value AS VARCHAR) END AS observed_value,
                   CASE WHEN event_type IS NULL THEN '"event_type" is required'
                        WHEN event_type NOT IN ('click','view','purchase','signup')
                             THEN 'bad type: ' || event_type
                        ELSE 'value ' || CAST(value AS VARCHAR) || ' outside [0, 100]'
                   END AS message
            FROM events
            WHERE event_type IS NULL
               OR event_type NOT IN ('click','view','purchase','signup')
               OR (value IS NOT NULL AND NOT (value >= 0 AND value <= 100))
        """,
        "nested_rules": """
            WITH d AS (
                SELECT event_id,
                       CAST(json_extract_string(props, '$.k') AS INT) AS k,
                       event_type AS et,
                       CASE WHEN event_id % 11 = 0 THEN NULL
                            WHEN event_id % 13 = 0 THEN CAST([] AS VARCHAR[])
                            ELSE [event_type,
                                  CASE WHEN event_id % 7 = 0 THEN NULL
                                       ELSE 'tag' || CAST(event_id % 5 AS VARCHAR) END]
                       END AS tags
                FROM events
            ),
            rep AS (
                SELECT *,
                       CASE WHEN tags IS NULL THEN NULL
                            -- reproduce Spark's CAST(array<string> AS STRING)
                            -- rendering byte-for-byte: '[a, null, b]'
                            -- COALESCE: array_to_string([]) is NULL in
                            -- DuckDB, but Spark renders an empty array '[]'
                            ELSE '[' || COALESCE(array_to_string(
                                     list_transform(tags, x -> coalesce(x, 'null')), ', '), '')
                                 || ']' END AS tags_repr
                FROM d
            )
            SELECT event_id, 'et_enum' AS rule_id, et AS observed_value
              FROM rep WHERE et IS NOT NULL
               AND et NOT IN ('click', 'view', 'purchase', 'signup')
            UNION ALL
            SELECT event_id, 'k_range', CAST(k AS VARCHAR)
              FROM rep WHERE k IS NOT NULL AND NOT (k >= 0 AND k <= 80)
            UNION ALL
            SELECT event_id, 'tags_len6', tags_repr
              FROM rep WHERE tags IS NOT NULL
               AND len(list_filter(tags, x -> x IS NOT NULL AND length(x) > 6)) > 0
            UNION ALL
            SELECT event_id, 'tags_no_null', tags_repr
              FROM rep WHERE tags IS NOT NULL
               AND len(list_filter(tags, x -> x IS NULL)) > 0
            UNION ALL
            SELECT event_id, 'tags_has_cv', tags_repr
              FROM rep WHERE tags IS NOT NULL
               AND len(list_filter(tags, x -> x IS NOT NULL AND x IN ('click', 'view'))) = 0
            UNION ALL
            SELECT event_id, 'tags_size2', tags_repr
              FROM rep WHERE tags IS NOT NULL AND len(tags) < 2
        """,
        "metric_rules": """
            WITH ev AS (SELECT *, strftime(ts, '%Y-%m-%d') AS day FROM events),
            g AS (
                SELECT day,
                       CAST(COUNT(*) AS DOUBLE) AS n,
                       AVG(value) AS mean_v,
                       STDDEV_SAMP(value) AS sd,
                       AVG(CASE WHEN event_type IS NULL THEN 0.0 ELSE 1.0 END) AS comp,
                       CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS card,
                       AVG(CASE WHEN event_type = 'purchase' THEN value END) AS pmean,
                       AVG(CASE WHEN COALESCE(value <= 120, FALSE) THEN 1.0 ELSE 0.0 END) AS compv,
                       quantile_cont(value, 0.90) AS p90
                FROM ev GROUP BY day
            )
            SELECT day, 'daily_volume' AS rule_id, 'row_count' AS metric,
                   CAST(NULL AS VARCHAR) AS "column", ROUND(n, 6) AS value,
                   CAST(320 AS DOUBLE) AS min_bound, CAST(NULL AS DOUBLE) AS max_bound,
                   COALESCE(n >= 320, FALSE) AS passed
            FROM g
            UNION ALL
            SELECT day, 'mean_value', 'mean', 'value', ROUND(mean_v, 6),
                   46.0, 53.0, COALESCE(mean_v >= 46.0 AND mean_v <= 53.0, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'stddev_value', 'stddev', 'value', ROUND(sd, 6),
                   CAST(NULL AS DOUBLE), 50.0, COALESCE(sd <= 50.0, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'event_type_complete', 'completeness', 'event_type',
                   ROUND(comp, 6), 0.99, CAST(NULL AS DOUBLE),
                   COALESCE(comp >= 0.99, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'event_type_card', 'distinct', 'event_type',
                   ROUND(card, 6), 5.0, 5.0,
                   COALESCE(card >= 5.0 AND card <= 5.0, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'purchase_mean', 'mean', 'value',
                   ROUND(pmean, 6), 48.0, CAST(NULL AS DOUBLE),
                   COALESCE(pmean >= 48.0, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'value_under_120', 'compliance', CAST(NULL AS VARCHAR),
                   ROUND(compv, 6), 0.90, CAST(NULL AS DOUBLE),
                   COALESCE(compv >= 0.90, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'value_p90', 'quantile', 'value',
                   ROUND(p90, 6), CAST(NULL AS DOUBLE), 115.0,
                   COALESCE(p90 <= 115.0, FALSE)
            FROM g
            UNION ALL
            SELECT day, 'event_id_unique', 'uniqueness', 'event_id',
                   ROUND(u, 6), 1.0, CAST(NULL AS DOUBLE), COALESCE(u >= 1.0, FALSE)
            FROM (SELECT day, CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(c) AS u
                  FROM (SELECT day, event_id, COUNT(*) AS c FROM ev
                        WHERE event_id IS NOT NULL GROUP BY day, event_id)
                  GROUP BY day)
            UNION ALL
            SELECT day, 'user_uniqueness', 'uniqueness', 'user_id',
                   ROUND(u, 6), 0.12, CAST(NULL AS DOUBLE), COALESCE(u >= 0.12, FALSE)
            FROM (SELECT day, CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(c) AS u
                  FROM (SELECT day, user_id, COUNT(*) AS c FROM ev
                        WHERE user_id IS NOT NULL GROUP BY day, user_id)
                  GROUP BY day)
            UNION ALL
            SELECT day, 'user_distinctness', 'distinctness', 'user_id',
                   ROUND(u, 6), 0.40, CAST(NULL AS DOUBLE), COALESCE(u >= 0.40, FALSE)
            FROM (SELECT day, CAST(COUNT(*) AS DOUBLE) / SUM(c) AS u
                  FROM (SELECT day, user_id, COUNT(*) AS c FROM ev
                        WHERE user_id IS NOT NULL GROUP BY day, user_id)
                  GROUP BY day)
        """,
        "dup_samples": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ),
            hashed AS (
                SELECT doc_id,
                       sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
                FROM corpus
            ),
            capped AS (
                SELECT content_hash, doc_id,
                       ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
                       COUNT(*) OVER (PARTITION BY content_hash) AS n
                FROM hashed
            )
            SELECT content_hash,
                   MAX(n) AS dup_count,
                   STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS sample_ids
            FROM capped WHERE n > 1 AND rn <= 3
            GROUP BY content_hash
        """,
        "contiguity": """
            WITH planted AS (
                SELECT l_orderkey, l_linenumber FROM lineitem
                WHERE NOT (l_orderkey % 7 = 0 AND l_linenumber = 3)
            ),
            a AS (
                SELECT l_orderkey,
                       COUNT(DISTINCT l_linenumber) AS n_turns,
                       MIN(l_linenumber) AS min_idx,
                       MAX(l_linenumber) AS max_idx
                FROM planted GROUP BY 1
            )
            SELECT l_orderkey, n_turns, min_idx, max_idx,
                   max_idx - 1 + 1 - n_turns AS n_missing,
                   'turn_contiguity' AS rule_id
            FROM a
            WHERE min_idx <> 1 OR max_idx <> 1 + n_turns - 1
        """,
        "column_entropy": """
            WITH pairs AS (
                SELECT 'event_type' AS "column", CAST(event_type AS VARCHAR) AS value
                FROM events WHERE event_type IS NOT NULL
                UNION ALL
                SELECT 'user_id', CAST(user_id AS VARCHAR)
                FROM events WHERE user_id IS NOT NULL
            ), c AS (
                SELECT "column", value, COUNT(*) AS cnt FROM pairs GROUP BY 1, 2
            )
            SELECT "column",
                   ROUND(LN(SUM(cnt)) - SUM(cnt * LN(cnt)) / SUM(cnt), 6) AS entropy,
                   COUNT(*) AS distinct_count,
                   CAST(SUM(cnt) AS BIGINT) AS non_null_count,
                   ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(cnt), 6) AS distinctness
            FROM c GROUP BY 1
        """,
        "correlation": """
            SELECT 'l_quantity' AS x_col, 'l_extendedprice' AS y_col,
                   ROUND(corr(l_quantity, l_extendedprice), 6) AS corr,
                   CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs
            FROM lineitem
            UNION ALL
            SELECT 'l_extendedprice', 'l_discount',
                   ROUND(corr(l_extendedprice, l_discount), 6),
                   CAST(SUM(CASE WHEN l_extendedprice IS NOT NULL AND l_discount IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
            UNION ALL
            SELECT 'l_discount', 'l_tax',
                   ROUND(corr(l_discount, l_tax), 6),
                   CAST(SUM(CASE WHEN l_discount IS NOT NULL AND l_tax IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM lineitem
        """,
        "percentiles": """
            WITH q AS (
                SELECT quantile_cont(value, [0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS v
                FROM events
            )
            SELECT CAST(UNNEST([0.1, 0.25, 0.5, 0.75, 0.9, 0.99]) AS DOUBLE) AS percentile,
                   ROUND(UNNEST(v), 6) AS value
            FROM q
        """,
        "outliers": """
            WITH s AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day,
                       AVG(value) AS mu, STDDEV_SAMP(value) AS sd
                FROM events GROUP BY 1
            )
            SELECT e.event_id, s.day, e.value,
                   ROUND((e.value - s.mu) / s.sd, 4) AS zscore
            FROM events e JOIN s ON strftime(e.ts, '%Y-%m-%d') = s.day
            WHERE e.value IS NOT NULL AND s.sd IS NOT NULL AND s.sd > 0
              AND ABS(ROUND((e.value - s.mu) / s.sd, 4)) > 3.0
        """,
        "violation_samples": f"""
            WITH viol AS ({EVENTS_ORACLE_VIOLATIONS}),
            ranked AS (
                SELECT event_id, rule_id, observed_value,
                       ROW_NUMBER() OVER (PARTITION BY rule_id ORDER BY event_id, observed_value) AS sample_rank,
                       COUNT(*) OVER (PARTITION BY rule_id) AS group_total
                FROM viol
            )
            SELECT rule_id, event_id, observed_value, sample_rank, group_total
            FROM ranked WHERE sample_rank <= 3
        """,
        "profile_findings": """
            WITH s AS (
                SELECT COUNT(*) AS n,
                       COUNT(event_id) AS nn1, COUNT(DISTINCT event_id) AS d1,
                       MIN(CAST(event_id AS VARCHAR)) AS m1,
                       COUNT(event_type) AS nn2, COUNT(DISTINCT event_type) AS d2,
                       MIN(event_type) AS m2,
                       COUNT(value) AS nn3, COUNT(DISTINCT value) AS d3,
                       MIN(CAST(value AS VARCHAR)) AS m3
                FROM events
            )
            SELECT * FROM (
                SELECT 'event_id' AS "column", 'all_null' AS finding, CAST(NULL AS VARCHAR) AS detail FROM s WHERE nn1 = 0
                UNION ALL SELECT 'event_id', 'constant', m1 FROM s WHERE nn1 > 0 AND d1 = 1
                UNION ALL SELECT 'event_id', 'complete', NULL FROM s WHERE nn1 = n AND n > 0
                UNION ALL SELECT 'event_id', 'candidate_key', NULL FROM s WHERE nn1 = n AND n > 0 AND d1 >= n
                UNION ALL SELECT 'event_type', 'all_null', NULL FROM s WHERE nn2 = 0
                UNION ALL SELECT 'event_type', 'constant', m2 FROM s WHERE nn2 > 0 AND d2 = 1
                UNION ALL SELECT 'event_type', 'complete', NULL FROM s WHERE nn2 = n AND n > 0
                UNION ALL SELECT 'event_type', 'candidate_key', NULL FROM s WHERE nn2 = n AND n > 0 AND d2 >= n
                UNION ALL SELECT 'value', 'all_null', NULL FROM s WHERE nn3 = 0
                UNION ALL SELECT 'value', 'constant', m3 FROM s WHERE nn3 > 0 AND d3 = 1
                UNION ALL SELECT 'value', 'complete', NULL FROM s WHERE nn3 = n AND n > 0
                UNION ALL SELECT 'value', 'candidate_key', NULL FROM s WHERE nn3 = n AND n > 0 AND d3 >= n
                UNION ALL SELECT 'src', 'constant', 'events' FROM s WHERE n > 0
                UNION ALL SELECT 'src', 'complete', NULL FROM s WHERE n > 0
                UNION ALL SELECT 'dead', 'all_null', NULL FROM s WHERE n >= 0
            )
        """,
        "suggest_rules": """
            WITH s AS (
                SELECT COUNT(*) AS n,
                       COUNT(o_orderkey) AS nn1, COUNT(DISTINCT o_orderkey) AS d1,
                       CAST(MIN(o_orderkey) AS DOUBLE) AS mn1, CAST(MAX(o_orderkey) AS DOUBLE) AS mx1,
                       COUNT(o_custkey) AS nn2, COUNT(DISTINCT o_custkey) AS d2,
                       CAST(MIN(o_custkey) AS DOUBLE) AS mn2, CAST(MAX(o_custkey) AS DOUBLE) AS mx2,
                       COUNT(o_orderstatus) AS nn3, COUNT(DISTINCT o_orderstatus) AS d3,
                       CAST(MIN(LENGTH(o_orderstatus)) AS BIGINT) AS ln3, CAST(MAX(LENGTH(o_orderstatus)) AS BIGINT) AS lx3,
                       COUNT(o_totalprice) AS nn4, COUNT(DISTINCT o_totalprice) AS d4,
                       MIN(o_totalprice) AS mn4, MAX(o_totalprice) AS mx4,
                       COUNT(o_orderdate) AS nn5, COUNT(DISTINCT o_orderdate) AS d5,
                       CAST(MIN(o_orderdate) AS VARCHAR) AS mn5, CAST(MAX(o_orderdate) AS VARCHAR) AS mx5,
                       COUNT(o_orderpriority) AS nn6, COUNT(DISTINCT o_orderpriority) AS d6,
                       CAST(MIN(LENGTH(o_orderpriority)) AS BIGINT) AS ln6, CAST(MAX(LENGTH(o_orderpriority)) AS BIGINT) AS lx6
                FROM orders
            ),
            enums AS (
                SELECT col, array_to_string(list_sort(list(DISTINCT v)), '|') AS ev
                FROM (
                    SELECT 'o_orderstatus' AS col, o_orderstatus AS v FROM orders WHERE o_orderstatus IS NOT NULL
                    UNION ALL
                    SELECT 'o_orderpriority', o_orderpriority FROM orders WHERE o_orderpriority IS NOT NULL
                )
                GROUP BY col
                HAVING COUNT(DISTINCT v) BETWEEN 1 AND 20
            )
            SELECT * FROM (
                SELECT 'o_orderkey' AS "column", 'required' AS kind,
                       CAST(NULL AS DOUBLE) AS lo_num, CAST(NULL AS DOUBLE) AS hi_num,
                       CAST(NULL AS VARCHAR) AS lo_str, CAST(NULL AS VARCHAR) AS hi_str,
                       CAST(NULL AS BIGINT) AS len_lo, CAST(NULL AS BIGINT) AS len_hi,
                       CAST(NULL AS VARCHAR) AS vals
                  FROM s WHERE n > 0 AND nn1 = n
                UNION ALL SELECT 'o_custkey', 'required', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn2 = n
                UNION ALL SELECT 'o_orderstatus', 'required', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn3 = n
                UNION ALL SELECT 'o_totalprice', 'required', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn4 = n
                UNION ALL SELECT 'o_orderdate', 'required', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn5 = n
                UNION ALL SELECT 'o_orderpriority', 'required', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn6 = n
                UNION ALL SELECT 'o_orderkey', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn1 = n AND d1 >= n
                UNION ALL SELECT 'o_custkey', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn2 = n AND d2 >= n
                UNION ALL SELECT 'o_orderstatus', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn3 = n AND d3 >= n
                UNION ALL SELECT 'o_totalprice', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn4 = n AND d4 >= n
                UNION ALL SELECT 'o_orderdate', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn5 = n AND d5 >= n
                UNION ALL SELECT 'o_orderpriority', 'unique', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM s WHERE n > 0 AND nn6 = n AND d6 >= n
                UNION ALL SELECT 'o_orderkey', 'range', mn1, mx1, NULL, NULL, NULL, NULL, NULL FROM s WHERE nn1 > 0
                UNION ALL SELECT 'o_custkey', 'range', mn2, mx2, NULL, NULL, NULL, NULL, NULL FROM s WHERE nn2 > 0
                UNION ALL SELECT 'o_totalprice', 'range', mn4, mx4, NULL, NULL, NULL, NULL, NULL FROM s WHERE nn4 > 0
                UNION ALL SELECT 'o_orderdate', 'range', NULL, NULL, mn5, mx5, NULL, NULL, NULL FROM s WHERE nn5 > 0
                UNION ALL SELECT 'o_orderstatus', 'length', NULL, NULL, NULL, NULL, ln3, lx3, NULL FROM s WHERE nn3 > 0
                UNION ALL SELECT 'o_orderpriority', 'length', NULL, NULL, NULL, NULL, ln6, lx6, NULL FROM s WHERE nn6 > 0
                UNION ALL SELECT col, 'enum', NULL, NULL, NULL, NULL, NULL, NULL, ev FROM enums
            )
        """,
        "conv_dedup": """
            WITH lagged AS (
                SELECT event_id, user_id, ts, event_type,
                       LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            ),
            flagged AS (
                SELECT *, CASE WHEN prev IS NULL
                                    OR epoch_us(ts) - epoch_us(prev) > 1800000000
                               THEN 1 ELSE 0 END AS ns
                FROM lagged
            ),
            sess AS (
                SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                              AS session_id
                FROM flagged
            ),
            conv AS (
                SELECT user_id || '#' || session_id AS sess_key,
                       string_agg(COALESCE(event_type, ''), chr(10) ORDER BY ts, event_id) AS conv_text
                FROM sess GROUP BY user_id, session_id
            ),
            h AS (
                SELECT sess_key,
                       sha256(regexp_replace(lower(trim(conv_text)), '\\s+', ' ', 'g')) AS content_hash
                FROM conv
            )
            SELECT content_hash, COUNT(*) AS dup_count,
                   MIN(sess_key) AS first_session, MAX(sess_key) AS last_session
            FROM h GROUP BY content_hash HAVING COUNT(*) > 1
        """,
        "conv_stats": """
            WITH l AS (
                SELECT user_id, ts, event_type, props,
                       CASE WHEN ts IS NOT NULL THEN
                           epoch_us(ts) - epoch_us(LAG(ts IGNORE NULLS) OVER (
                               PARTITION BY user_id ORDER BY event_id, ts))
                       END AS gap_us
                FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            )
            SELECT user_id, COUNT(*) AS n_turns,
                   COUNT(DISTINCT event_type) AS n_roles,
                   COUNT(props) AS n_tool_calls,
                   MIN(ts) AS first_ts, MAX(ts) AS last_ts,
                   ROUND((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0, 6) AS duration_sec,
                   ROUND(MAX(gap_us) / 1000000.0, 6) AS max_gap_sec
            FROM l GROUP BY user_id
        """,
        "categorical_drift": """
            WITH vals AS (
                SELECT COALESCE(lang, '<NULL>') AS v, source AS p FROM documents
            ),
            grid AS (SELECT p, v, COUNT(*) AS n FROM vals GROUP BY 1, 2),
            gtab AS (SELECT v, SUM(n) AS gn FROM grid GROUP BY 1),
            parts AS (SELECT p, SUM(n) AS pn FROM grid GROUP BY 1),
            const AS (SELECT COUNT(*) AS k, SUM(gn) AS gtot FROM gtab),
            dense AS (
                SELECT parts.p, parts.pn, gtab.v, gtab.gn, COALESCE(grid.n, 0) AS n
                FROM parts CROSS JOIN gtab
                LEFT JOIN grid ON grid.p = parts.p AND grid.v = gtab.v
            )
            SELECT p AS source,
                   ROUND(SUM(
                       ((n + 0.5)/(pn + 0.5*k) - (gn + 0.5)/(gtot + 0.5*k))
                       * LN(((n + 0.5)/(pn + 0.5*k)) / ((gn + 0.5)/(gtot + 0.5*k)))
                   ), 4) AS psi,
                   ROUND(SUM(
                       ((n + 0.5)/(pn + 0.5*k))
                         * LN(((n + 0.5)/(pn + 0.5*k))
                              / (((n + 0.5)/(pn + 0.5*k) + (gn + 0.5)/(gtot + 0.5*k)) / 2)) / 2
                       + ((gn + 0.5)/(gtot + 0.5*k))
                         * LN(((gn + 0.5)/(gtot + 0.5*k))
                              / (((n + 0.5)/(pn + 0.5*k) + (gn + 0.5)/(gtot + 0.5*k)) / 2)) / 2
                   ), 4) AS js,
                   CAST(MAX(pn) AS BIGINT) AS n_rows,
                   COUNT(*) AS n_categories
            FROM dense CROSS JOIN const
            GROUP BY p
        """,
        "clean_rows": r"""
            SELECT event_id, event_type, value
            FROM events
            WHERE event_type IS NOT NULL
              AND event_type IN ('click','view','purchase','signup')
              AND (value IS NULL OR (value >= 0.0 AND value <= 100.0))
              AND (props IS NULL OR regexp_matches(props, '^(?:\{"k": [0-9]{2}\})$'))
        """,
        "quarantine_rows": r"""
            SELECT event_id, event_type, value
            FROM events
            WHERE NOT (event_type IS NOT NULL
              AND event_type IN ('click','view','purchase','signup')
              AND (value IS NULL OR (value >= 0.0 AND value <= 100.0))
              AND (props IS NULL OR regexp_matches(props, '^(?:\{"k": [0-9]{2}\})$')))
        """,
        "hash_split": """
            WITH f AS (
                SELECT doc_id, lang,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                           / 4294967296.0 AS frac
                FROM documents
            )
            SELECT CASE WHEN frac < 0.75 THEN 'train'
                        WHEN frac < 0.875 THEN 'val'
                        ELSE 'test' END AS split,
                   lang, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum
            FROM f GROUP BY 1, 2
        """,
        "freshness": """
            WITH p AS (
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS part, MAX(ts) AS max_ts
                FROM events WHERE ts IS NOT NULL GROUP BY 1
            ), a AS (SELECT MAX(max_ts) AS anchor FROM p)
            SELECT part, max_ts,
                   (epoch_us(anchor) - epoch_us(max_ts)) / 1000000.0 AS lag_seconds,
                   (epoch_us(anchor) - epoch_us(max_ts)) / 1000000.0 > 129600.0 AS stale
            FROM p, a
        """,
        "misplaced_rows": """
            WITH synth AS (
                SELECT event_id,
                       CASE WHEN event_id % 997 = 0 THEN NULL ELSE ts END AS ts,
                       CASE WHEN event_id % 97 = 0 THEN CAST(ts AS DATE) + 1
                            ELSE CAST(ts AS DATE) END AS part
                FROM events
            )
            SELECT event_id, part, 'partition_placement' AS rule_id,
                   COALESCE(CAST(ts AS VARCHAR), 'NULL') AS observed_value
            FROM synth
            WHERE ts IS NULL OR part IS NULL OR CAST(ts AS DATE) <> part
        """,
        "metric_anomaly": """
            WITH rates AS (
                SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
                       AVG(CASE WHEN event_type = 'click'
                                THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS rate
                FROM events WHERE ts IS NOT NULL GROUP BY 1
                UNION ALL
                SELECT '9999-12-31', CAST(0.9 AS DOUBLE)
            ),
            scored AS (
                SELECT day AS partition, rate AS metric,
                       AVG(rate) OVER (ORDER BY day
                           ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS e,
                       COUNT(rate) OVER (ORDER BY day
                           ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING) AS n_ref_parts
                FROM rates
            )
            SELECT partition, metric, ROUND(e, 6) AS expected,
                   ROUND(ABS(metric - e) / ABS(e), 6) AS deviation,
                   n_ref_parts
            FROM scored
            WHERE metric IS NOT NULL AND e IS NOT NULL AND e <> 0
              AND ABS(metric - e) / ABS(e) > 0.6
              AND n_ref_parts >= 1
        """,
        "reconcile": """
            WITH ev AS (
                SELECT event_id, event_type, value,
                       CAST(CAST(ts AS DATE) AS VARCHAR) AS day
                FROM events WHERE ts IS NOT NULL
            ),
            dam AS (
                SELECT event_id, event_type,
                       CASE WHEN day = '2024-01-05' AND event_id % 777 = 0
                            THEN value + 1.0 ELSE value END AS value,
                       day
                FROM ev
                WHERE NOT (day = '2024-01-03' AND event_id % 500 = 0)
            ),
            lh AS (
                SELECT day, COUNT(*) AS n_left,
                       SUM(('0x' || substring(md5(
                           COALESCE(CAST(event_id AS VARCHAR), '<NULL>') || chr(31) ||
                           COALESCE(event_type, '<NULL>') || chr(31) ||
                           COALESCE(CAST(CAST(FLOOR(value * 1000000.0) AS BIGINT) AS VARCHAR), '<NULL>')
                       ), 1, 15))::BIGINT) AS c_left
                FROM ev GROUP BY 1
            ),
            rh AS (
                SELECT day, COUNT(*) AS n_right,
                       SUM(('0x' || substring(md5(
                           COALESCE(CAST(event_id AS VARCHAR), '<NULL>') || chr(31) ||
                           COALESCE(event_type, '<NULL>') || chr(31) ||
                           COALESCE(CAST(CAST(FLOOR(value * 1000000.0) AS BIGINT) AS VARCHAR), '<NULL>')
                       ), 1, 15))::BIGINT) AS c_right
                FROM dam GROUP BY 1
            )
            SELECT COALESCE(lh.day, rh.day) AS partition, n_left, n_right,
                   n_left IS NOT DISTINCT FROM n_right AS count_match,
                   c_left IS NOT DISTINCT FROM c_right AS content_match
            FROM lh FULL OUTER JOIN rh ON lh.day = rh.day
        """,
        "multi_sketch": """
            SELECT * FROM (VALUES
                ('l_extendedprice', CAST(0.05 AS DOUBLE), TRUE),
                ('l_extendedprice', CAST(0.25 AS DOUBLE), TRUE),
                ('l_extendedprice', CAST(0.5 AS DOUBLE), TRUE),
                ('l_extendedprice', CAST(0.75 AS DOUBLE), TRUE),
                ('l_extendedprice', CAST(0.95 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount)', CAST(0.05 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount)', CAST(0.25 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount)', CAST(0.5 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount)', CAST(0.75 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount)', CAST(0.95 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount) * (1 + l_tax)', CAST(0.05 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount) * (1 + l_tax)', CAST(0.25 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount) * (1 + l_tax)', CAST(0.5 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount) * (1 + l_tax)', CAST(0.75 AS DOUBLE), TRUE),
                ('l_extendedprice * (1 - l_discount) * (1 + l_tax)', CAST(0.95 AS DOUBLE), TRUE)
            ) AS t("column", quantile, ok)
        """,
        "leakage_safe_split": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ),
            h AS (
                SELECT doc_id, text,
                       sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS ch
                FROM corpus
            ),
            r AS (
                SELECT doc_id, ch,
                       CASE WHEN ch IS NULL THEN doc_id
                            ELSE MIN(doc_id) OVER (PARTITION BY ch) END AS rep
                FROM h
            ),
            s AS (
                SELECT doc_id, ch, rep,
                       CASE WHEN ('0x' || substring(md5(CAST(rep AS VARCHAR)), 1, 8))::BIGINT
                                 / 4294967296.0 < 0.75
                            THEN 'train' ELSE 'test' END AS split
                FROM r
            )
            SELECT split, COUNT(*) AS n_docs, CAST(SUM(doc_id) AS BIGINT) AS id_sum,
                   COUNT(DISTINCT COALESCE(ch, CAST(doc_id AS VARCHAR))) AS n_clusters
            FROM s GROUP BY 1
        """,
        "numeric_trailing_drift": """
            SELECT * FROM (VALUES ('1995', TRUE), ('1996', TRUE), ('1997', TRUE),
                                  ('1998', TRUE), ('1999', TRUE), ('2000', TRUE),
                                  ('2001', TRUE), ('9999', TRUE)) AS t(part_key, ok)
        """,
        "shuffle_shards": """
            WITH h AS (
                SELECT doc_id,
                       ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || 'shuffle'), 1, 8))::BIGINT AS hu
                FROM documents WHERE doc_id IS NOT NULL
            )
            SELECT doc_id, hu % 16 AS shard,
                   ROW_NUMBER() OVER (PARTITION BY hu % 16 ORDER BY hu, doc_id) - 1 AS position
            FROM h
        """,
        "mixture_sample": """
            WITH tot AS (
                SELECT source AS s, SUM(COALESCE(CAST(n_chars AS DOUBLE), 0.0)) AS t
                FROM documents WHERE source IN ('src0','src1','src2') GROUP BY 1
            ), rates AS (
                SELECT s,
                       LEAST(CAST(1.0 AS DOUBLE),
                             CAST(share AS DOUBLE) * CAST(20000 AS DOUBLE) / t) AS rate
                FROM tot
                JOIN (VALUES ('src0', 0.5), ('src1', 0.25), ('src2', 0.25)) AS m(s2, share)
                  ON s = s2
            )
            SELECT d.source, COUNT(*) AS n_docs, CAST(SUM(d.n_chars) AS BIGINT) AS tok_sum,
                   CAST(SUM(d.doc_id) AS BIGINT) AS id_sum
            FROM documents d JOIN rates r ON d.source = r.s
            WHERE d.doc_id IS NOT NULL
              AND ('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                      / 4294967296.0 < r.rate
            GROUP BY 1
        """,
        "pack_chunks": """
            WITH c AS (
                SELECT doc_id,
                       COALESCE(SUM(COALESCE(n_chars, 0)) OVER (
                           ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS cum
                FROM documents WHERE doc_id IS NOT NULL
            )
            SELECT doc_id, CAST(cum // 4096 AS BIGINT) AS pack_id,
                   CAST(cum % 4096 AS BIGINT) AS pack_offset
            FROM c
        """,
        "transition": """
            WITH lagged AS (
                SELECT user_id, event_id,
                       COALESCE(event_type, '<NULL>') AS cur,
                       LAG(COALESCE(event_type, '<NULL>'))
                           OVER (PARTITION BY user_id ORDER BY event_id) AS prev
                FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL
            )
            SELECT user_id, event_id, 'etype_transition' AS rule_id,
                   prev || '->' || cur AS observed_value
            FROM lagged WHERE prev = 'error' AND cur = 'error'
        """,
        "monotone": """
            WITH ordered AS (
                SELECT l_orderkey, l_linenumber, l_shipdate,
                       LAG(l_shipdate) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_shipdate) AS prev_ts
                FROM lineitem
            )
            SELECT l_orderkey, l_linenumber, 'shipdate_monotone' AS rule_id
            FROM ordered WHERE prev_ts > l_shipdate
        """,
        "agg_lineitem": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 4) AS sum_qty,
                   ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
                   COUNT(*) AS n_rows
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "broadcast_join": """
            SELECT c_mktsegment,
                   ROUND(SUM(o_totalprice), 4) AS segment_revenue,
                   COUNT(*) AS n_orders
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "window_topk": """
            WITH ranked AS (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
                FROM orders
            )
            SELECT o_custkey, o_orderkey, ROUND(o_totalprice, 4) AS totalprice, rk
            FROM ranked WHERE rk <= 2
        """,
        "json_extract": """
            SELECT event_type,
                   ROUND(AVG(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
                   COUNT(*) AS n
            FROM events GROUP BY event_type
        """,
        "coercion_orders": """
            WITH o AS (
                SELECT *,
                       CASE WHEN o_orderkey % 10 = 0 THEN o_orderpriority
                            ELSE CAST(o_totalprice AS VARCHAR) END AS pstr
                FROM orders
            )
            SELECT o_orderkey, 'pstr_cast' AS rule_id, pstr AS observed_value
              FROM o WHERE pstr IS NOT NULL AND TRY_CAST(pstr AS DOUBLE) IS NULL
            UNION ALL
            SELECT o_orderkey, 'pstr_range' AS rule_id, pstr AS observed_value
              FROM o WHERE TRY_CAST(pstr AS DOUBLE) IS NOT NULL
               AND NOT (TRY_CAST(pstr AS DOUBLE) <= 300000.0)
            UNION ALL
            SELECT o_orderkey, 'prio_deny' AS rule_id, o_orderpriority AS observed_value
              FROM o WHERE o_orderstatus = 'O' AND o_orderpriority = '4-NOT SPECIFIED'
            UNION ALL
            SELECT o_orderkey, 'prio_len' AS rule_id, o_orderpriority AS observed_value
              FROM o WHERE o_orderpriority IS NOT NULL
               AND NOT (LENGTH(o_orderpriority) >= 6 AND LENGTH(o_orderpriority) <= 14)
            UNION ALL
            SELECT o_orderkey, 'custkey_mod3' AS rule_id, CAST(o_custkey AS VARCHAR) AS observed_value
              FROM o WHERE o_custkey IS NOT NULL AND o_custkey % 3 <> 0
        """,
        "drift_bins": """
            SELECT source,
                   CAST(FLOOR(LEAST(LENGTH(text), 1999) / 100) AS BIGINT) AS bucket,
                   COUNT(*) AS n
            FROM documents WHERE text IS NOT NULL GROUP BY 1, 2
        """,
        "regression_diff": """
            SELECT event_id, 'value_range' AS rule_id, CAST(value AS VARCHAR) AS observed_value
              FROM events WHERE value IS NOT NULL AND NOT (value >= 0.0 AND value <= 90.0)
            EXCEPT ALL
            SELECT event_id, 'value_range' AS rule_id, CAST(value AS VARCHAR) AS observed_value
              FROM events WHERE value IS NOT NULL AND NOT (value >= 0.0 AND value <= 100.0)
        """,
        "dedup_exact": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
            ),
            hashed AS (
                SELECT doc_id,
                       sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
                FROM corpus
            )
            SELECT content_hash, COUNT(*) AS dup_count, MIN(doc_id) AS min_doc_id
            FROM hashed GROUP BY content_hash HAVING COUNT(*) > 1
        """,
        "ngram_jaccard": """
            WITH t AS (
                SELECT doc_id, lang,
                       list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS ws
                FROM documents
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.ws, b.ws))::DOUBLE
                         / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 6) AS jaccard
            FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
                  / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.9
        """,
        "card_scrub": r"""
            WITH planted AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN text || ' card 4111 1111 1111 1111 ok'
                            WHEN doc_id % 7 = 1 THEN text || ' card 4111 1111 1111 1112 no'
                            WHEN doc_id % 7 = 2 THEN text || ' ref 5500-0000-0000-0004 and id 1234567890123456789012'
                            ELSE text END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            v AS (
                SELECT doc_id, text,
                       list_filter(regexp_extract_all(text, '\b\d(?:[ -]?\d)*\b'), c -> (
                           length(regexp_replace(c, '[^0-9]', '', 'g')) BETWEEN 13 AND 19 AND
                           list_sum(list_transform(range(1, length(regexp_replace(c,'[^0-9]','','g')) + 1),
                               i -> CASE WHEN (i-1) % 2 = 1
                                    THEN CASE WHEN CAST(substring(reverse(regexp_replace(c,'[^0-9]','','g')), i, 1) AS INT)*2 > 9
                                         THEN CAST(substring(reverse(regexp_replace(c,'[^0-9]','','g')), i, 1) AS INT)*2 - 9
                                         ELSE CAST(substring(reverse(regexp_replace(c,'[^0-9]','','g')), i, 1) AS INT)*2 END
                                    ELSE CAST(substring(reverse(regexp_replace(c,'[^0-9]','','g')), i, 1) AS INT) END)) % 10 = 0
                       )) AS valid
                FROM planted
            )
            SELECT doc_id,
                   len(valid) AS n_card_numbers,
                   md5(list_reduce(list_prepend(text, valid),
                                   (acc, x) -> regexp_replace(acc, '\b' || x || '\b', '[CARD]', 'g'))) AS redacted_md5
            FROM v
        """,
        "dup_spans": """
            WITH t AS (
                SELECT doc_id,
                       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
                FROM documents WHERE text IS NOT NULL
            ),
            s AS (
                SELECT doc_id,
                       list_distinct(list_transform(range(1, len(tk) - 5 + 2),
                                                    i -> array_to_string(tk[i:i+4], ' '))) AS gs
                FROM t WHERE len(tk) >= 5
            ),
            p AS (SELECT doc_id, g.g FROM s, UNNEST(gs) AS g(g)),
            d AS (SELECT g FROM p GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2)
            SELECT p.doc_id,
                   COUNT(*) AS n_spans,
                   COUNT(d.g) AS n_dup_spans,
                   ROUND(COUNT(d.g)::DOUBLE / COUNT(*), 6) AS dup_span_fraction
            FROM p LEFT JOIN d ON p.g = d.g
            GROUP BY p.doc_id
        """,
        "containment": """
            WITH t AS (
                SELECT doc_id,
                       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS tk
                FROM documents WHERE text IS NOT NULL
            ),
            s AS (
                SELECT doc_id, CASE WHEN len(tk) >= 2
                    THEN list_distinct(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]))
                    ELSE [array_to_string(tk, ' ')] END AS ws
                FROM t
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws), 6) AS containment
            FROM s a JOIN s b ON a.doc_id <> b.doc_id
            WHERE len(list_intersect(a.ws, b.ws))::DOUBLE / len(a.ws) >= 0.8
        """,
        "dedup_clusters": """
            WITH RECURSIVE t AS (
                SELECT doc_id, lang,
                       list_distinct(string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) AS ws
                FROM documents
            ),
            p AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM t a JOIN t b ON a.lang = b.lang AND a.doc_id < b.doc_id
                WHERE len(list_intersect(a.ws, b.ws))::DOUBLE
                      / (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))) >= 0.9
            ),
            edges AS (
                SELECT id_a AS u, id_b AS v FROM p
                UNION
                SELECT id_b, id_a FROM p
            ),
            reach(node, m) AS (
                SELECT u, v FROM edges
                UNION
                SELECT r.node, e.v FROM reach r JOIN edges e ON r.m = e.u
            )
            SELECT node, LEAST(node, MIN(m)) AS component FROM reach GROUP BY node
        """,
        "simsearch_topk": _TOPK_ORACLE,
        # full-probe IVF ≡ brute force (buckets partition the corpus), so the
        # exhaustive top-k oracle applies verbatim
        "ivf_topk": _TOPK_ORACLE,
        "embedding_neardup": """
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.45
        """,
        "token_stats": """
            WITH t AS (
                SELECT lang, text,
                       CASE WHEN length(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
                FROM documents
            )
            SELECT lang, COUNT(*) AS n_docs,
                   ROUND(AVG(n_tokens), 6) AS avg_tokens,
                   ROUND(AVG(LENGTH(text)), 6) AS avg_chars,
                   CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
            FROM t GROUP BY lang
        """,
        "minhash_neardup": """
            WITH t AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
                FROM documents
                WHERE text IS NOT NULL AND trim(text) <> ''
            ),
            w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM t),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 3
                            THEN list_distinct(list_transform(
                                     generate_series(1, len(ws) - 2),
                                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                            ELSE [norm] END AS sh
                FROM w
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                         / GREATEST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
            WHERE ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                        / GREATEST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)), 1), 6) >= 0.9
        """,
        "schema_check": """
            SELECT * FROM (VALUES
                ('event_type', 'nullability_tightened', 'string', 'string'),
                ('session_id', 'missing', 'string', CAST(NULL AS VARCHAR)),
                ('value', 'type_mismatch', 'float', 'double'),
                ('props', 'extra', CAST(NULL AS VARCHAR), 'string')
            ) AS t("column", status, expected_type, actual_type)
        """,
        "frequent_values": """
            WITH pairs AS (
                SELECT 'event_type' AS "column", COALESCE(event_type, '<NULL>') AS value FROM events
                UNION ALL
                SELECT 'user_id', COALESCE(CAST(user_id AS VARCHAR), '<NULL>') FROM events
            ),
            counts AS (
                SELECT "column", value, COUNT(*) AS count FROM pairs GROUP BY 1, 2
            )
            SELECT "column", value, count, rank FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY "column" ORDER BY count DESC, value ASC) AS rank
                FROM counts
            ) WHERE rank <= 5
        """,
        "functional_dep": """
            SELECT user_id, 'functional_dependency' AS rule_id,
                   COUNT(DISTINCT COALESCE(event_type, '<NULL>')) AS n_values,
                   MIN(COALESCE(event_type, '<NULL>')) AS first_value,
                   MAX(COALESCE(event_type, '<NULL>')) AS last_value,
                   COUNT(*) AS n_rows
            FROM events WHERE user_id IS NOT NULL
            GROUP BY user_id
            HAVING COUNT(DISTINCT COALESCE(event_type, '<NULL>')) > 1
        """,
        "rowcount_anomaly": """
            WITH c AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS row_count
                FROM events GROUP BY 1
            ),
            s AS (
                SELECT day, row_count,
                       AVG(row_count) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS e,
                       COUNT(row_count) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS n_ref_parts
                FROM c
            )
            SELECT day, row_count, ROUND(e, 6) AS expected,
                   ROUND(ABS(row_count - e) / ABS(e), 6) AS deviation,
                   n_ref_parts
            FROM s
            WHERE row_count IS NOT NULL AND e IS NOT NULL AND e <> 0
              AND ABS(row_count - e) / ABS(e) > 0.05
              AND n_ref_parts >= 1
        """,
        "incremental_neardup": """
            WITH t AS (
                SELECT doc_id,
                       regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
                FROM documents
                WHERE text IS NOT NULL AND trim(text) <> ''
            ),
            w AS (SELECT doc_id, norm, string_split(norm, ' ') AS ws FROM t),
            sh AS (
                SELECT doc_id,
                       CASE WHEN len(ws) >= 3
                            THEN list_distinct(list_transform(
                                     generate_series(1, len(ws) - 2),
                                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
                            ELSE [norm] END AS sh
                FROM w
            )
            SELECT n.doc_id AS new_id, b.doc_id AS base_id,
                   ROUND(len(list_intersect(n.sh, b.sh))::DOUBLE
                         / GREATEST(len(n.sh) + len(b.sh) - len(list_intersect(n.sh, b.sh)), 1), 6) AS jaccard
            FROM sh n JOIN sh b ON n.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
            WHERE ROUND(len(list_intersect(n.sh, b.sh))::DOUBLE
                        / GREATEST(len(n.sh) + len(b.sh) - len(list_intersect(n.sh, b.sh)), 1), 6) >= 0.9
        """,
        "simhash_neardup": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents
                WHERE text IS NOT NULL AND trim(text) <> ''
                UNION ALL
                SELECT doc_id + 1000000,
                       '  ' || regexp_replace(text, ' ', '   ', 'g') || ' '
                FROM documents
                WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 7 = 0
            ),
            t AS (
                SELECT doc_id,
                       sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS n
                FROM corpus
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, 0 AS hamming
            FROM t a JOIN t b ON a.n = b.n AND a.doc_id < b.doc_id
        """,
        "multimodal_features": """
            SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                   COUNT(*) AS n_media,
                   CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   ROUND(AVG(octet_length(encode(text))), 6) AS avg_bytes
            FROM documents WHERE text IS NOT NULL GROUP BY 1
        """,
        "frame_sampling": """
            SELECT doc_id AS media_id,
                   UNNEST(generate_series(0, (doc_id % 97 + 1) - 1, 10)) AS frame_idx
            FROM documents WHERE doc_id % 3 = 2
        """,
        "fingerprint": """
            WITH corpus AS (
                SELECT doc_id, text FROM documents WHERE text IS NOT NULL
                UNION ALL
                SELECT doc_id + 1000000,
                       '  ' || regexp_replace(text, ' ', '   ', 'g') || ' '
                FROM documents WHERE text IS NOT NULL AND doc_id % 7 = 0
            )
            SELECT sha256(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
                   COUNT(*) AS n_docs,
                   TRUE AS fp_consistent
            FROM corpus GROUP BY 1 HAVING COUNT(*) > 1
        """,
        # lang_id: the heuristic re-implemented in DuckDB — CJK script range
        # wins, else argmax stopword overlap over distinct lowered tokens
        # (ties to the lexicographically LARGEST language, matching Spark's
        # array_max over struct(score, lang)), else 'und'.
        "lang_id": """
            WITH t AS (
                SELECT source, text,
                       CASE WHEN text IS NULL THEN NULL
                            ELSE list_distinct(string_split_regex(lower(trim(text)), '\\s+')) END AS toks
                FROM documents
            ),
            s AS (
                SELECT source, text,
                       COALESCE(len(list_intersect(toks, ['the','a','of','and','to','in','is','it','that','for'])), 0) AS s_en,
                       COALESCE(len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','zu','mit','von'])), 0) AS s_de,
                       COALESCE(len(list_intersect(toks, ['el','la','de','que','y','en','un','es','por','con'])), 0) AS s_es,
                       COALESCE(len(list_intersect(toks, ['le','la','de','et','un','est','que','pour','dans','ce'])), 0) AS s_fr
                FROM t
            ),
            p AS (
                SELECT source,
                       CASE WHEN text IS NOT NULL AND regexp_matches(text, '[一-鿿]') THEN 'zh'
                            WHEN GREATEST(s_en, s_de, s_es, s_fr) > 0 THEN
                                 CASE GREATEST(s_en, s_de, s_es, s_fr)
                                      WHEN s_fr THEN 'fr' WHEN s_es THEN 'es'
                                      WHEN s_en THEN 'en' ELSE 'de' END
                            ELSE 'und' END AS lang_pred
                FROM s
            )
            SELECT source, lang_pred, COUNT(*) AS n FROM p GROUP BY source, lang_pred
        """,
        "unigram_quality": """
            WITH toks AS (
                SELECT doc_id, t.tok
                FROM documents,
                     UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                                        x -> x <> '')) AS t(tok)
                WHERE text IS NOT NULL
            ),
            doc_tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
            vocab AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS cnt FROM toks GROUP BY tok),
            tot AS (SELECT SUM(cnt) AS s FROM vocab)
            SELECT d.doc_id,
                   CAST(SUM(d.tf) AS BIGINT) AS n_tokens,
                   ROUND(SUM(d.tf * ln(v.cnt / t.s)) / SUM(d.tf), 6) AS logprob_per_token
            FROM doc_tf d JOIN vocab v USING (tok) CROSS JOIN tot t
            GROUP BY d.doc_id
        """,
        "quality_stats": """
            WITH t AS (
                SELECT lang, LENGTH(text) AS n_chars,
                       CASE WHEN LENGTH(trim(text)) = 0 THEN 0
                            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens,
                       ROUND(LENGTH(regexp_replace(text, '[^[:punct:]]', '', 'g'))::DOUBLE
                             / GREATEST(LENGTH(text), 1), 6) AS punct_ratio,
                       ROUND(LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))::DOUBLE
                             / GREATEST(LENGTH(text), 1), 6) AS digit_ratio,
                       len(regexp_extract_all(text, '[a-zA-Z]{1,4}|[0-9]+|[^\\sa-zA-Z0-9]')) AS bpe_tokens,
                       len(list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> list_contains(['the','a','of','and','to','in','is','it','that','for'], lower(x)))) AS n_stop
                FROM documents WHERE text IS NOT NULL
            ),
            f AS (
                SELECT lang, punct_ratio, digit_ratio, bpe_tokens,
                       ROUND(n_stop::DOUBLE / GREATEST(n_tokens, 1), 6) AS stopword_ratio,
                       ROUND((n_chars - n_tokens + 1)::DOUBLE / GREATEST(n_tokens, 1), 6) AS mean_word_len,
                       ROUND((LEAST(n_tokens / 20.0, 1.0)
                              + (1.0 - LEAST(punct_ratio * 5, 1.0))
                              + (1.0 - LEAST(digit_ratio * 5, 1.0))) / 3.0, 6) AS quality_score
                FROM t
            )
            SELECT lang, COUNT(*) AS n_docs,
                   ROUND(AVG(punct_ratio), 6) AS avg_punct_ratio,
                   ROUND(AVG(digit_ratio), 6) AS avg_digit_ratio,
                   ROUND(AVG(stopword_ratio), 6) AS avg_stopword_ratio,
                   ROUND(AVG(mean_word_len), 6) AS avg_word_len,
                   ROUND(AVG(quality_score), 6) AS avg_quality,
                   CAST(SUM(bpe_tokens) AS BIGINT) AS bpe_tokens
            FROM f GROUP BY lang
        """,
        # repetition_stats: Gopher repetition fractions re-derived with
        # unnest + two-level grouping (docs with < n words carry no n-grams)
        "repetition_stats": """
            WITH d AS (
                SELECT doc_id,
                       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
            ),
            g2 AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws)), i ->
                              ws[i] || ' ' || ws[i+1])) AS g
                FROM d WHERE len(ws) >= 2
            ),
            g3 AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(ws) - 1), i ->
                              ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
                FROM d WHERE len(ws) >= 3
            ),
            c2 AS (SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2),
            c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
            a2 AS (
                SELECT doc_id,
                       ROUND((SUM(c) - COUNT(*)) / SUM(c), 6) AS dup_2gram_frac,
                       ROUND(MAX(c) / SUM(c), 6) AS top_2gram_frac
                FROM c2 GROUP BY 1
            ),
            a3 AS (
                SELECT doc_id, ROUND((SUM(c) - COUNT(*)) / SUM(c), 6) AS dup_3gram_frac
                FROM c3 GROUP BY 1
            )
            SELECT a2.doc_id, dup_2gram_frac, top_2gram_frac, dup_3gram_frac,
                   (top_2gram_frac > 0.18
                    OR COALESCE(dup_3gram_frac > 0.30, FALSE)) AS flag_repetitive
            FROM a2 LEFT JOIN a3 ON a2.doc_id = a3.doc_id
        """,
        # decontamination: distinct word 8-grams per doc on both splits,
        # joined on the gram, counted per (corpus doc, benchmark doc)
        "decontamination": """
            WITH d AS (
                SELECT doc_id, source,
                       string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS ws
                FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
            ),
            g AS (
                SELECT doc_id, source,
                       unnest(list_distinct(list_transform(range(1, len(ws) - 6), i ->
                              list_aggregate(ws[i:i+7], 'string_agg', ' ')))) AS gram
                FROM d WHERE len(ws) >= 8
            )
            SELECT c.doc_id AS doc_id, b.doc_id AS bench_id, COUNT(*) AS shared_ngrams
            FROM g c JOIN g b ON c.gram = b.gram
            WHERE c.source NOT IN ('src0', 'src1', 'src2', 'src3')
              AND b.source IN ('src0', 'src1', 'src2', 'src3')
            GROUP BY 1, 2
        """,
        # pii_scrub: identical planting + RE2-compatible patterns, redaction
        # applied in the same order (email, then ipv4)
        "pii_scrub": r"""
            WITH planted AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' contact user' || doc_id::VARCHAR || '@example.com'
                               ELSE '' END
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' host 10.1.' || (doc_id % 250 + 1)::VARCHAR || '.9'
                               ELSE '' END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            s AS (
                SELECT doc_id,
                       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
                       len(regexp_extract_all(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
                           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4,
                       regexp_replace(
                           regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[REDACTED]', 'g'),
                           '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '[REDACTED]', 'g') AS red
                FROM planted
            )
            SELECT doc_id, n_email, n_ipv4, sha256(red) AS redacted_hash
            FROM s WHERE n_email > 0 OR n_ipv4 > 0
        """,
        # line_dedup: identical planting; dup membership decided by the line
        # STRING here vs xxhash64(line) in Spark — equivalent modulo 64-bit
        # collisions; final texts compared by sha256
        "line_dedup": r"""
            WITH planted AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 3 = 0
                               THEN chr(10) || 'all rights reserved example corp'
                               ELSE '' END
                       || CASE WHEN doc_id % 4 = 0
                               THEN chr(10) || 'navigation home about contact'
                               ELSE '' END
                       || CASE WHEN doc_id % 11 = 0
                               THEN chr(10) || 'unique footer ' || doc_id::VARCHAR
                               ELSE '' END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            norm AS (
                SELECT doc_id, trim(x) AS l
                FROM planted, UNNEST(string_split(text, chr(10))) AS t(x)
                WHERE trim(x) <> ''
            ),
            dup AS (
                SELECT list(l) AS dl FROM (
                    SELECT l FROM norm GROUP BY l HAVING count(DISTINCT doc_id) >= 2
                )
            ),
            s AS (
                SELECT p.doc_id,
                       list_filter(string_split(p.text, chr(10)),
                                   x -> trim(x) = '' OR NOT list_contains(d.dl, trim(x))) AS kept,
                       len(string_split(p.text, chr(10))) AS n_all
                FROM planted p CROSS JOIN dup d
            )
            SELECT doc_id,
                   n_all - len(kept) AS n_lines_removed,
                   sha256(coalesce(list_aggregate(kept, 'string_agg', chr(10)), '')) AS scrubbed_hash
            FROM s WHERE n_all - len(kept) > 0
        """,
        # url_stats: identical planting + RE2-compatible URL pattern; domain =
        # lowercased authority component
        "url_stats": r"""
            WITH planted AS (
                SELECT doc_id,
                       text
                       || CASE WHEN doc_id % 4 = 0
                               THEN ' see https://site' || (doc_id % 20)::VARCHAR
                                    || '.example.org/p' || doc_id::VARCHAR
                               ELSE '' END
                       || CASE WHEN doc_id % 6 = 0
                               THEN ' ref http://cdn.example.net/assets?q=' || doc_id::VARCHAR
                               ELSE '' END AS text
                FROM documents WHERE text IS NOT NULL
            ),
            m AS (
                SELECT doc_id,
                       lower(regexp_extract(u, '^https?://([^/]+)', 1)) AS domain
                FROM planted,
                     UNNEST(regexp_extract_all(text,
                         'https?://[A-Za-z0-9.-]+(?:/[A-Za-z0-9./?=&%_~#+-]*)?')) AS t(u)
            )
            SELECT domain, count(DISTINCT doc_id) AS n_docs, count(*) AS n_urls
            FROM m GROUP BY domain
        """,
        # domain_cap: same deterministic min-doc_id-first cap via row_number
        "domain_cap": r"""
            WITH capped AS (
                SELECT doc_id, source,
                       row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
                FROM documents WHERE text IS NOT NULL
            )
            SELECT source,
                   count(*) AS n_kept,
                   min(doc_id) AS min_id,
                   max(doc_id) AS max_id,
                   CAST(sum(doc_id) AS BIGINT) AS id_sum
            FROM capped WHERE rn <= 40 GROUP BY source
        """,
    }
