"""Stats block vs exact pandas computations (SURVEY.md §2.3 rows 23-26)."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyra_spark.stats import column_stats, hll_sketches, length_histogram, merge_hll


@pytest.fixture(scope="module")
def tdf(spark, fixtures_sf0001):
    return spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))


@pytest.fixture(scope="module")
def pdf(fixtures_sf0001):
    df = pd.read_parquet(os.path.join(fixtures_sf0001, "transcripts"))
    df["part_date"] = pd.to_datetime(df["part_date"].astype(str)).dt.date
    return df


def test_null_rate_min_max_exact(tdf, pdf):
    got = column_stats(tdf, ["text", "tool", "turn_idx"], partition_col=None).toPandas().set_index("column")
    assert got.loc["text", "null_rate"] == pytest.approx(pdf["text"].isna().mean())
    assert got.loc["tool", "null_rate"] == pytest.approx(pdf["tool"].isna().mean())
    assert got.loc["turn_idx", "min_value"] == str(pdf["turn_idx"].min())
    assert got.loc["turn_idx", "max_value"] == str(pdf["turn_idx"].max())
    assert int(got.loc["text", "row_count"]) == len(pdf)


def test_approx_distinct_within_rsd(tdf, pdf):
    got = column_stats(tdf, ["conv_id"], partition_col=None).toPandas().iloc[0]
    exact = pdf["conv_id"].nunique()
    assert abs(got["approx_distinct"] - exact) / exact < 0.10  # 2× the 5% rsd


def test_length_histogram_matches_exact(tdf, pdf):
    got = (
        length_histogram(tdf, "text", bucket_width=50, partition_col=None)
        .toPandas()
        .set_index("bucket")["count"]
        .sort_index()
    )
    exact = (pdf["text"].dropna().str.len() // 50).value_counts().sort_index()
    assert got.to_dict() == {int(k): int(v) for k, v in exact.items()}


def test_hll_sketch_merge_matches_direct(tdf, pdf):
    """Merging per-partition sketches ≈ direct estimate ≈ exact (mergeability)."""
    per_part = hll_sketches(tdf, ["conv_id"], partition_col="part_date")
    merged = merge_hll(per_part).toPandas().iloc[0]
    exact = pdf["conv_id"].nunique()
    assert abs(merged["estimate"] - exact) / exact < 0.10


def test_per_partition_stats_grouping(tdf, pdf):
    got = column_stats(tdf, ["text"], partition_col="part_date").toPandas()
    assert len(got) == pdf["part_date"].nunique()
    assert int(got["row_count"].sum()) == len(pdf)


# --- dataset-level reports: functional dependency + row-count anomaly -----------
def test_functional_dependency_violations(spark):
    from lyra_spark.checks import functional_dependency_violations

    df = spark.createDataFrame(
        [
            ("c1", "2024-01-01"), ("c1", "2024-01-01"),          # consistent
            ("c2", "2024-01-01"), ("c2", "2024-01-02"),          # split across dates
            ("c3", None), ("c3", "2024-01-05"), ("c3", "2024-01-09"),  # NULL counts as a value
            (None, "2024-01-01"), (None, "2024-01-02"),          # NULL determinant excluded
        ],
        "conv_id string, part_date string",
    )
    got = {r.conv_id: r for r in functional_dependency_violations(df, ["conv_id"], "part_date").collect()}
    assert set(got) == {"c2", "c3"}
    assert got["c2"].n_values == 2 and got["c2"].n_rows == 2
    assert (got["c2"].first_value, got["c2"].last_value) == ("2024-01-01", "2024-01-02")
    assert got["c3"].n_values == 3 and got["c3"].first_value == "2024-01-05"
    assert got["c3"].last_value == "<NULL>"  # sentinel sorts after dates


def test_row_count_anomaly_trailing_mean(spark):
    from lyra_spark.stats import row_count_anomaly

    rows = []
    for d, n in [("d01", 100), ("d02", 100), ("d03", 100), ("d04", 300), ("d05", 100)]:
        rows += [(d,)] * n
    df = spark.createDataFrame(rows, "day string")
    got = {r.day: r for r in row_count_anomaly(df, "day", trailing=3, threshold=0.5).collect()}
    # d01 has no trailing window; d04 is 3x the trailing mean of 100;
    # d05's trailing mean is (100+100+300)/3 = 166.67 → deviation 0.4 < 0.5
    assert set(got) == {"d04"}
    assert got["d04"].row_count == 300 and got["d04"].expected == 100.0
    assert got["d04"].deviation == 2.0

    # metadata-counts path: identical result with zero scan of df
    counts = df.groupBy("day").count().withColumnRenamed("count", "row_count")
    got2 = {r.day: r for r in row_count_anomaly(df, "day", trailing=3, threshold=0.5, counts=counts).collect()}
    assert {d: (r.row_count, r.expected, r.deviation) for d, r in got.items()} == {
        d: (r.row_count, r.expected, r.deviation) for d, r in got2.items()
    }


def test_frequent_values_exact_topk(spark):
    from lyra_spark.stats import frequent_values

    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("b", 1), ("b", 1), ("c", None), (None, 1)],
        "et string, v int",
    )
    got = frequent_values(df, ["et", "v"], k=2).collect()
    by_col = {}
    for r in got:
        by_col.setdefault(r.column, []).append((r.rank, r.value, r["count"]))
    assert sorted(by_col["et"]) == [(1, "a", 2), (2, "b", 2)]  # a before b on tie (value ASC)
    assert sorted(by_col["v"]) == [(1, "1", 4), (2, "2", 1)]
    # NULL surfaces as a countable value when it's frequent enough
    all3 = {(r.column, r.rank): r.value for r in frequent_values(df, ["et"], k=3).collect()}
    assert all3[("et", 3)] == "<NULL>"


def test_profile_findings_exact(spark):
    from lyra_spark.stats import profile_findings

    df = spark.createDataFrame(
        [(1, "x", None, "a"), (2, "x", None, "b"), (3, "x", None, "b")],
        "id int, const string, dead string, mixed string",
    )
    got = {(r.column, r.finding): r.detail
           for r in profile_findings(df, ["id", "const", "dead", "mixed"], "exact").collect()}
    assert got == {
        ("id", "complete"): None,
        ("id", "candidate_key"): None,
        ("const", "constant"): "x",
        ("const", "complete"): None,
        ("dead", "all_null"): None,
        ("mixed", "complete"): None,
    }


def test_violation_samples_bounded(spark):
    from lyra_spark.engine import violation_samples

    rows = [("c%03d" % i, i, "r1", "v") for i in range(100)]
    rows += [("c000", 0, "r2", "w")]
    viol = spark.createDataFrame(rows, "conv_id string, turn_idx int, rule_id string, observed_value string")
    got = violation_samples(viol, k=3).collect()
    by_rule = {}
    for r in got:
        by_rule.setdefault(r.rule_id, []).append((r.sample_rank, r.conv_id, r.group_total))
    assert sorted(by_rule["r1"]) == [(1, "c000", 100), (2, "c001", 100), (3, "c002", 100)]
    assert by_rule["r2"] == [(1, "c000", 1)]


def test_violation_samples_rank_is_bigint(spark):
    """sample_rank is bigint like its DuckDB oracle's ROW_NUMBER (Spark's
    row_number is int32), and the cast keeps the WindowGroupLimit pruning."""
    import contextlib
    import io

    from pyspark.sql.types import LongType

    from lyra_spark.engine import violation_samples

    viol = spark.createDataFrame(
        [("c%03d" % i, i, "r1", "v") for i in range(10)],
        "conv_id string, turn_idx int, rule_id string, observed_value string",
    )
    out = violation_samples(viol, k=3)
    assert out.schema["sample_rank"].dataType == LongType()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain()
    assert "WindowGroupLimit" in buf.getvalue()


def test_outlier_rows_zscore(spark):
    from lyra_spark.stats import outlier_rows

    rows = [("d1", i, 10.0) for i in range(10)] + [("d1", 99, 1000.0)]
    rows += [("d2", 0, 5.0)]                      # single row: sd undefined → nothing
    rows += [("d3", i, float(i)) for i in range(4)]  # spread but no outlier
    df = spark.createDataFrame(rows, "day string, event_id int, value double")
    got = outlier_rows(df, "value", ["event_id"], partition_col="day", z=3.0).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.day, r.event_id, r.value) == ("d1", 99, 1000.0)
    import statistics

    vals = [10.0] * 10 + [1000.0]
    want = round((1000.0 - statistics.mean(vals)) / statistics.stdev(vals), 4)
    assert r.zscore == want


def test_outlier_rows_gates_on_unrounded_zscore(spark):
    """z = 3.00004 at z=3.0 is an outlier even though it rounds to 3.0: the
    gate compares the unrounded score and only the output rounds, as in
    robust_outlier_rows."""
    import statistics

    from lyra_spark.stats import outlier_rows

    vals = [-1.0, 1.0] * 10 + [4.33721]
    assert 3.00004 < (vals[-1] - statistics.mean(vals)) / statistics.stdev(vals) < 3.00005
    rows = [("d1", i, v) for i, v in enumerate(vals)]
    rows += [("d2", 100 + i, 7.0) for i in range(3)]  # sd = 0: no unit, nothing
    df = spark.createDataFrame(rows, "day string, event_id int, value double")
    got = outlier_rows(df, "value", ["event_id"], partition_col="day", z=3.0).collect()
    assert [(r.event_id, r.value, r.zscore) for r in got] == [(20, 4.33721, 3.0)]


def test_column_entropy_exact(spark):
    """Entropy/distinctness vs closed-form numpy on a known distribution."""
    import math

    from lyra_spark.stats import column_entropy

    rows = [("a",)] * 4 + [("b",)] * 2 + [("c",)] * 2 + [(None,)] * 3
    df = spark.createDataFrame(rows, "v string")
    got = column_entropy(df, ["v"]).collect()[0]
    p = [0.5, 0.25, 0.25]
    expect = -sum(x * math.log(x) for x in p)
    assert got["entropy"] == pytest.approx(expect, abs=1e-6)
    assert got["distinct_count"] == 3
    assert got["non_null_count"] == 8
    assert got["distinctness"] == pytest.approx(3 / 8, abs=1e-6)


def test_numeric_correlations_exact(spark):
    """Pearson corr vs numpy on a planted linear + independent pair."""
    import numpy as np

    from lyra_spark.stats import numeric_correlations

    rng = np.random.default_rng(7)
    x = rng.normal(size=200)
    y = 3.0 * x + rng.normal(scale=0.1, size=200)
    z = rng.normal(size=200)
    df = spark.createDataFrame(
        [(float(a), float(b), float(c)) for a, b, c in zip(x, y, z)], "x double, y double, z double"
    )
    got = {
        (r["x_col"], r["y_col"]): r
        for r in numeric_correlations(df, [("x", "y"), ("x", "z")]).collect()
    }
    assert got[("x", "y")]["corr"] == pytest.approx(float(np.corrcoef(x, y)[0, 1]), abs=1e-5)
    assert got[("x", "z")]["corr"] == pytest.approx(float(np.corrcoef(x, z)[0, 1]), abs=1e-5)
    assert got[("x", "y")]["n_pairs"] == 200


def test_percentile_stats_matches_numpy(spark):
    """Exact percentiles = numpy linear interpolation (PERCENTILE_CONT)."""
    import numpy as np

    from lyra_spark.stats import percentile_stats

    vals = list(np.random.default_rng(11).normal(size=501))
    df = spark.createDataFrame([(float(v),) for v in vals] + [(None,)], "v double")
    pcts = [0.1, 0.5, 0.9]
    got = {r["percentile"]: r["value"] for r in percentile_stats(df, "v", pcts).collect()}
    for p in pcts:
        assert got[p] == pytest.approx(float(np.quantile(vals, p)), abs=1e-6)


def test_key_skew_profile(spark):
    """stats.key_skew_profile: summary of the per-key count grid with a salt
    recommendation — checked against a direct pandas computation on a
    planted hot-key corpus, and NULL keys excluded."""
    import numpy as np
    import pandas as pd

    from lyra_spark.stats import key_skew_profile

    keys = ["hot"] * 900 + [f"k{i}" for i in range(100) for _ in range(3)] + [None] * 7
    df = spark.createDataFrame(pd.DataFrame({"k": keys, "v": range(len(keys))}))
    row = key_skew_profile(df, ["k"], p=0.5).collect()[0]
    assert row.n_keys == 101
    assert row.n_rows == 1200
    assert row.max_count == 900
    assert row.mean_count == round(1200 / 101, 6)
    assert row.p_count == 3.0  # median per-key count
    assert row.skew_ratio == round(900 / (1200 / 101), 6)
    # ceil(900 / 11.88) = 76 buckets recommended, below the 256 cap
    assert row.recommended_buckets == int(np.ceil(900 / (1200 / 101)))
    # uniform key → ratio 1, one bucket (salting not worth an exchange)
    uni = spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
    urow = key_skew_profile(uni, ["k"]).collect()[0]
    assert urow.skew_ratio == 1.0 and urow.recommended_buckets == 1


def test_key_skew_profiles_matches_per_column(spark):
    """The one-scan multi-column variant must agree with key_skew_profile run
    per column (string-cast values count identically for skew purposes)."""
    import pandas as pd

    from lyra_spark.stats import key_skew_profile, key_skew_profiles

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "a": ["x"] * 50 + ["y"] * 10 + [None] * 5,
                "b": [str(i % 13) for i in range(65)],
            }
        )
    )
    multi = {r["column"]: r.asDict() for r in key_skew_profiles(df, ["a", "b"]).collect()}
    for c in ("a", "b"):
        single = key_skew_profile(df, [c]).collect()[0].asDict()
        got = {k: v for k, v in multi[c].items() if k != "column"}
        assert got == single, c


def test_freshness_report_metadata_matches_distributed(spark, fixtures_sf0001):
    """The footer-statistics path (partition_ts_range → freshness_report
    ranges=) must agree with the distributed MAX aggregate partition for
    partition — same max_ts, same lag, same verdicts — while reading zero
    data files."""
    import os as _os

    from lyra_spark.io import partition_ts_range
    from lyra_spark.stats import freshness_report

    table = _os.path.join(fixtures_sf0001, "transcripts")
    tdf = spark.read.parquet(table).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    dist = {
        r["part_date"]: (r["max_ts"], round(r["lag_seconds"], 6), r["stale"])
        for r in freshness_report(
            tdf.withColumn("part_date", F.col("part_date").cast("string")),
            ts_col="ts", partition_col="part_date", max_lag_hours=24.0,
        ).collect()
    }
    ranges = partition_ts_range(table, "ts")
    assert ranges is not None and set(ranges) == set(dist)
    meta = {
        r["part_date"]: (r["max_ts"], round(r["lag_seconds"], 6), r["stale"])
        for r in freshness_report(
            tdf, ts_col="ts", partition_col="part_date",
            max_lag_hours=24.0, ranges=ranges,
        ).collect()
    }
    assert meta == dist
    # self-referential anchor: the freshest partition lags 0 and is fresh
    freshest = max(dist, key=lambda k: dist[k][0])
    assert dist[freshest][1] == 0.0 and not dist[freshest][2]
    # with a 24h gate over a many-day table, old partitions must be stale
    assert any(v[2] for v in dist.values())


def test_freshness_report_explicit_as_of(spark):
    from datetime import datetime

    from lyra_spark.stats import freshness_report

    df = spark.range(0, 10).select(
        F.lit("d1").alias("p"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("ts"),
    )
    out = freshness_report(
        df, ts_col="ts", partition_col="p",
        as_of=datetime(2024, 1, 3, 0, 0, 0), max_lag_hours=24.0,
    ).collect()
    assert len(out) == 1
    assert out[0]["lag_seconds"] == 2 * 86400.0 and out[0]["stale"]


def test_misplaced_violations_unit(spark):
    """Rows in the wrong partition dir, NULL ts, and NULL partition all
    flag; correctly placed rows (any time of day) pass."""
    from lyra_spark.checks import misplaced_violations

    rows = [
        ("c1", 0, "2024-01-01", "2024-01-01 00:00:01"),   # ok
        ("c1", 1, "2024-01-01", "2024-01-01 23:59:59"),   # ok: same day
        ("c1", 2, "2024-01-01", "2024-01-02 00:00:00"),   # misplaced
        ("c1", 3, "2024-01-02", None),                     # NULL ts
        ("c1", 4, None, "2024-01-02 10:00:00"),            # NULL partition
        ("c1", 5, "not-a-date", "2024-01-02 10:00:00"),    # malformed partition
    ]
    df = spark.createDataFrame(
        __import__("pandas").DataFrame(
            rows, columns=["conv_id", "turn_idx", "part_date", "ts_raw"]
        )
    ).withColumn("ts", F.to_timestamp("ts_raw")).drop("ts_raw")
    out = misplaced_violations(df, ts_col="ts", partition_col="part_date")
    got = {(r["conv_id"], r["turn_idx"]): r["observed_value"] for r in out.collect()}
    assert set(got) == {("c1", 2), ("c1", 3), ("c1", 4), ("c1", 5)}
    assert got[("c1", 3)] == "NULL"
    # map-only: no Exchange in the plan
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "Exchange" not in buf.getvalue()


def test_freshness_report_empty_ranges(spark):
    """All-empty partition dirs (ranges={}) yield an empty report, not a
    max()-of-nothing crash."""
    from lyra_spark.stats import freshness_report

    df = spark.range(0)
    out = freshness_report(df, ts_col="ts", partition_col="p", ranges={})
    assert out.count() == 0
    assert out.columns == ["p", "max_ts", "lag_seconds", "stale"]


def test_reconcile_tables_unit(spark):
    """Count-match-content-mismatch (silent corruption), one-side-only
    partitions, NULL-vs-empty-string distinctness, and the all-clear."""
    from lyra_spark.checks import reconcile_tables

    left = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, None, "d2"), (4, "x", "d3")],
        "id int, v string, p string",
    )
    right = spark.createDataFrame(
        [(1, "a", "d1"), (2, "b", "d1"), (3, "", "d2"), (5, "y", "d4")],
        "id int, v string, p string",
    )
    out = {r.partition: r for r in reconcile_tables(
        left, right, ["id"], ["v"], partition_col="p"
    ).collect()}
    assert out["d1"].count_match and out["d1"].content_match
    # NULL must not collide with empty string: same count, different content
    assert out["d2"].count_match and not out["d2"].content_match
    assert out["d3"].n_right is None and not out["d3"].count_match
    assert out["d4"].n_left is None and not out["d4"].count_match
    # global mode: one row, mismatching
    g = reconcile_tables(left, right, ["id"], ["v"]).collect()
    assert len(g) == 1 and not g[0].content_match
    # identically-copied NULL-partition rows are NOT corruption: the NULL
    # partition key must match itself across sides
    ln = spark.createDataFrame([(9, "z", None)], "id int, v string, p string")
    out_n = {r.partition: r for r in reconcile_tables(
        ln, ln, ["id"], ["v"], partition_col="p"
    ).collect()}
    assert list(out_n) == ["<NULL>"]
    assert out_n["<NULL>"].count_match and out_n["<NULL>"].content_match


def test_metric_anomaly_flags_regression_only(spark):
    """The generalized run-over-run monitor: a tripled metric flags, stable
    history doesn't, the warm-up rows never flag, and all-zero history
    (expected = 0) is excluded rather than dividing by zero."""
    from lyra_spark.stats import metric_anomaly

    rows = [("d1", 0.1), ("d2", 0.1), ("d3", 0.11), ("d4", 0.09), ("d5", 0.33), ("d6", 0.1)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["day", "m"]))
    got = {r.partition: r.deviation for r in metric_anomaly(df, "day", "m", trailing=3, threshold=0.5).collect()}
    assert set(got) == {"d5"}
    assert got["d5"] == pytest.approx(2.3, abs=0.01)
    zeros = spark.createDataFrame(pd.DataFrame([("d1", 0.0), ("d2", 0.0), ("d3", 5.0)], columns=["day", "m"]))
    assert metric_anomaly(zeros, "day", "m", trailing=2).count() == 0


def _row_count_scorer(spark, values):
    from lyra_spark.stats import row_count_anomaly

    counts = spark.createDataFrame([(f"d{i:02d}", v) for i, v in enumerate(values)],
                                   "part_date string, row_count long")
    return {r["part_date"]: (r["expected"], r["deviation"], r["n_ref_parts"])
            for r in row_count_anomaly(spark.range(0), counts=counts, threshold=0.5).collect()}


def _doubles(values):
    return [None if v is None else float(v) for v in values]


def _metric_scorer(spark, values):
    from lyra_spark.stats import metric_anomaly

    df = spark.createDataFrame([(f"d{i:02d}", v) for i, v in enumerate(_doubles(values))],
                               "part_date string, value double")
    return {r["partition"]: (r["expected"], r["deviation"], r["n_ref_parts"])
            for r in metric_anomaly(df, "part_date", "value", threshold=0.5).collect()}


def _metric_rules_scorer(spark, values):
    from lyra_spark.metrics import metric_anomalies

    grid = spark.createDataFrame([(f"d{i:02d}", "r", "mean", v) for i, v in enumerate(_doubles(values))],
                                 "part_date string, rule_id string, metric string, value double")
    return {r["part_date"]: (r["expected"], r["deviation"], r["n_ref_parts"])
            for r in metric_anomalies(grid, threshold=0.5).collect()}


def _metric_runs_scorer(spark, values):
    from lyra_spark.metrics import metric_run_anomalies

    hist = spark.createDataFrame(
        [("p", "r", "mean", v, f"d{i:02d}") for i, v in enumerate(_doubles(values))],
        "part_date string, rule_id string, metric string, value double, run_id string",
    )
    current = f"d{len(values) - 1:02d}"
    # only the current run is judged, one (partition, rule) pair
    return {current: (r["expected"], r["deviation"], r["n_ref_runs"])
            for r in metric_run_anomalies(hist, current, threshold=0.5).collect()}


ANOMALY_SCORERS = {
    "row_count_anomaly": _row_count_scorer,
    "metric_anomaly": _metric_scorer,
    "metric_anomalies": _metric_rules_scorer,
    "metric_run_anomalies": _metric_runs_scorer,
}
# (values in partition/run order, the last one's (expected, deviation,
# n_ref) — it must be the only flag)
ANOMALY_BOUNDARIES = {
    # 0.5000004 > 0.5: decided unrounded, reported rounded onto the threshold
    "threshold": ([10_000_000, 15_000_004], (10_000_000.0, 0.5, 1)),
    # a 4e-7 mean reports as 0.0 but is not a zero mean
    "near_zero_mean": ([4e-7, 1.0], (0.0, 2499999.0, 1)),
    # the NULL value neither flags nor counts as a reference partition
    "null_in_window": ([10, None, 10, 30], (10.0, 2.0, 2)),
}


@pytest.mark.parametrize(
    "scorer,case",
    [(s, c) for s in ANOMALY_SCORERS for c in ANOMALY_BOUNDARIES
     # row counts are integers: no 4e-7 mean
     if (s, c) != ("row_count_anomaly", "near_zero_mean")],
)
def test_anomaly_scorers_share_boundaries(spark, scorer, case):
    """All four trailing-anomaly scorers decide on the unrounded mean and
    deviation and count only non-NULL reference values (SEMANTICS #80)."""
    values, want = ANOMALY_BOUNDARIES[case]
    got = ANOMALY_SCORERS[scorer](spark, values)
    assert got == {f"d{len(values) - 1:02d}": want}


def test_reconcile_checksum_is_order_and_layout_invariant(spark):
    """The SUM-of-row-hash checksum must not care how rows are partitioned
    or ordered — only what they are: a repartitioned, reshuffled copy of the
    same table reconciles clean."""
    from lyra_spark.checks import reconcile_tables

    base = spark.range(0, 5000).selectExpr(
        "id", "CAST(id % 37 AS STRING) AS v", "CAST(id % 5 AS STRING) AS p"
    )
    scrambled = base.repartition(17).sortWithinPartitions(F.col("v").desc())
    out = reconcile_tables(base, scrambled, ["id"], ["v"], partition_col="p").collect()
    assert len(out) == 5
    assert all(r.count_match and r.content_match for r in out)


def test_row_count_anomaly_warmup_dial(spark):
    """Partition #2 scores against a 1-sample window; n_ref_parts exposes it
    and min_ref_parts suppresses the warm-up flag."""
    from lyra_spark.stats import row_count_anomaly

    counts = spark.createDataFrame(
        [("d1", 1000), ("d2", 1600), ("d3", 1300), ("d4", 4000)],
        "part_date string, row_count long",
    )
    flagged = {r["part_date"]: r for r in
               row_count_anomaly(spark.range(0), counts=counts, threshold=0.5).collect()}
    assert "d2" in flagged and flagged["d2"]["n_ref_parts"] == 1
    assert "d4" in flagged and flagged["d4"]["n_ref_parts"] == 3
    strict = {r["part_date"] for r in
              row_count_anomaly(spark.range(0), counts=counts, threshold=0.5,
                                min_ref_parts=3).collect()}
    assert strict == {"d4"}  # the warm-up flag on d2 is suppressed


def test_freshness_report_flags_missing_expected_partition(spark, tmp_path):
    """An expected partition with NO data is the worst freshness failure —
    it must surface as stale=TRUE with NULL max_ts, on both the metadata and
    the distributed path."""
    import datetime
    import os

    from lyra_spark import io as lio
    from lyra_spark.stats import freshness_report

    t = lambda d, h: datetime.datetime(2024, 1, d, h, 0, 0)
    df = spark.createDataFrame(
        [("2024-01-01", t(1, 23)), ("2024-01-02", t(2, 23))],
        "part_date string, ts timestamp",
    )
    path = str(tmp_path / "tbl")
    df.write.partitionBy("part_date").parquet(path)
    expected = ["2024-01-01", "2024-01-02", "2024-01-03"]
    # metadata path
    ranges = lio.partition_ts_range(path, "ts", "part_date")
    got = {r["part_date"]: r for r in freshness_report(
        df, ranges=ranges, expected_partitions=expected).collect()}
    assert got["2024-01-03"]["stale"] is True and got["2024-01-03"]["max_ts"] is None
    assert got["2024-01-02"]["stale"] is False
    # distributed path
    got2 = {r["part_date"]: r for r in freshness_report(
        df, expected_partitions=expected).collect()}
    assert got2["2024-01-03"]["stale"] is True and got2["2024-01-03"]["max_ts"] is None
    assert got2["2024-01-02"]["stale"] is False


def test_referential_coverage_rates_and_vacuous_pass(spark):
    """checks.referential_coverage: per-partition matched/non-NULL-FK rates,
    NULL FKs counted neither way, zero-FK partitions pass vacuously
    (SEMANTICS.md 85), gate on the unrounded rate."""
    from lyra_spark.checks import referential_coverage

    rows = [
        ("d1", 1), ("d1", 2), ("d1", 99), ("d1", None),   # 2/3 matched
        ("d2", 1), ("d2", 2),                              # 2/2
        ("d3", None),                                      # no FKs at all
    ]
    df = spark.createDataFrame(rows, "day string, fk bigint")
    dim = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    got = {r.day: r for r in referential_coverage(
        df, dim, fk_col="fk", dim_col="k", partition_col="day", min_coverage=0.7
    ).collect()}
    d1, d2, d3 = got["d1"], got["d2"], got["d3"]
    assert (d1.n_rows, d1.n_fk, d1.n_matched) == (4, 3, 2)
    assert d1.coverage == pytest.approx(2 / 3, abs=1e-6) and d1["pass"] is False
    assert d2.coverage == 1.0 and d2["pass"] is True
    assert d3.n_fk == 0 and d3.coverage is None and d3["pass"] is True

    # whole-table mode (no partition col), no gate column without min_coverage
    whole = referential_coverage(df, dim, fk_col="fk", dim_col="k", partition_col=None)
    r = whole.collect()[0]
    assert (r.n_rows, r.n_fk, r.n_matched) == (7, 5, 4)
    assert "pass" not in whole.columns


def test_robust_outlier_rows_resists_masking(spark):
    """Median/MAD flags the spikes that drag mean/std enough to mask
    themselves; MAD=0 (majority-constant) partitions emit nothing; NULLs
    and the NULL partition behave like outlier_rows."""
    from lyra_spark.stats import outlier_rows, robust_outlier_rows

    # 20 values near 10 plus five 1e6 spikes: the spikes inflate std to
    # ~4e5, parking themselves at z ≈ 2 — BELOW the z=3 cut (masked) —
    # while their modified z-score is astronomical
    rows = [("d1", i, 10.0 + (i % 5) * 0.5) for i in range(20)]
    rows += [("d1", 100 + k, 1e6) for k in range(5)]
    rows += [("d2", 200, 7.0)] * 5          # constant cohort: MAD = 0
    rows += [("d1", 300, None), (None, 301, 1e6)]
    df = spark.createDataFrame(rows, "day string, event_id long, value double")

    masked = outlier_rows(df, "value", ["event_id"], partition_col="day", z=3.0)
    assert {r.event_id for r in masked.collect()} == set()  # masking, QED

    got = {r.event_id: r.mod_zscore for r in robust_outlier_rows(
        df, "value", ["event_id"], partition_col="day", z=3.5).collect()}
    assert set(got) == {100, 101, 102, 103, 104}
    assert all(v > 1000 for v in got.values())

    # the NULL partition is its own single-value cohort (MAD 0): no row
    got_all = robust_outlier_rows(df, "value", ["event_id"], partition_col="day", z=0.1)
    assert 301 not in {r.event_id for r in got_all.collect()}


def test_benford_deviation_conforming_vs_fabricated(spark):
    """A genuinely multi-scale series (exponential spread) scores a small
    Benford MAD; a fabricated constant-leading-digit series scores huge;
    zeros/NULLs excluded; min_rows suppresses tiny cohorts."""
    import math

    from lyra_spark.stats import benford_deviation

    rows = [("nat", i, math.exp(i / 80.0)) for i in range(720)]        # spans e^0..e^9
    rows += [("fab", 1000 + i, 500.0 + i * 0.01) for i in range(720)]  # all lead with 5
    rows += [("tiny", 2000, 123.0)] * 5
    rows += [("nat", 3000, 0.0), ("nat", 3001, None)]
    rows += [("nat", 3002, float("nan")), ("nat", 3003, float("inf"))]  # no first digit
    df = spark.createDataFrame(rows, "day string, row_id long, value double")
    got = {r.day: r for r in benford_deviation(df, "value", partition_col="day").collect()}
    assert set(got) == {"nat", "fab"}          # tiny cohort filtered
    assert got["nat"].n == 720                 # the zero/NULL rows dropped
    assert got["nat"].mad < 0.02               # near-conforming
    assert got["fab"].mad > 0.1                # single-digit pile-up
    assert got["fab"].chi2 > got["nat"].chi2 * 10


def test_robust_outlier_rows_whole_table_mode(spark):
    from lyra_spark.stats import robust_outlier_rows

    rows = [(i, 10.0 + (i % 3)) for i in range(30)] + [(99, 1e6)]
    df = spark.createDataFrame(rows, "event_id long, value double")
    got = robust_outlier_rows(df, "value", ["event_id"], partition_col=None, z=3.5)
    assert "day" not in got.columns
    assert [r.event_id for r in got.collect()] == [99]


def test_robust_outlier_rows_approx_mode_agrees_on_separated_data(spark):
    """exact=False swaps the order-statistic median (whole-cohort buffer,
    round-4 ADVICE memory caveat) for percentile_approx with constant
    buffers; on data whose outliers sit far from the 3.5 cut the verdict
    set is identical to exact mode."""
    from lyra_spark.stats import robust_outlier_rows

    rows = [(d, i, 100.0 + (i % 7)) for d in ("a", "b") for i in range(200)]
    rows += [("a", 900, 5e7), ("b", 901, -4e6)]
    df = spark.createDataFrame(rows, "day string, event_id long, value double")
    kw = dict(value_col="value", key_cols=["event_id"], partition_col="day", z=3.5)
    exact = {(r.day, r.event_id) for r in robust_outlier_rows(df, **kw).collect()}
    approx = {(r.day, r.event_id)
              for r in robust_outlier_rows(df, exact=False, **kw).collect()}
    assert exact == approx == {("a", 900), ("b", 901)}


# --- one distinct-count sketch (stats.approx_distinct, SEMANTICS #98) ---------
TYPED = ["i", "b", "d", "dt", "ts", "flag", "s"]


def _typed_frame(spark):
    """~1,000 distinct values per typed column (2 for the boolean) over 3
    partitions, plus an all-NULL and an all-empty-string column."""
    return spark.range(3000).selectExpr(
        "cast(id % 3 as string) AS part_date",
        "cast(id % 997 as int) AS i",
        "(id % 1013) * 1000000007 AS b",
        "(id % 991) / 7.0 AS d",
        "date_add(date'2020-01-01', cast(id % 983 as int)) AS dt",
        "timestamp_seconds((id % 977) * 3601) AS ts",
        "id % 2 = 0 AS flag",
        "concat('s', id % 971) AS s",
        "cast(NULL as string) AS dead",
        "'' AS blank",
    )


def test_approx_distinct_within_4rsd_on_every_type(spark):
    from lyra_spark.stats import approx_distinct

    df = _typed_frame(spark)
    row = df.agg(
        *[approx_distinct(c).alias(f"a_{c}") for c in TYPED],
        *[F.count_distinct(c).alias(f"e_{c}") for c in TYPED],
    ).collect()[0]
    for c in TYPED:
        exact = row[f"e_{c}"]
        assert abs(row[f"a_{c}"] - exact) <= 4 * 0.05 * exact, c


def test_approx_distinct_zero_on_empty_and_all_null_one_on_all_blank(spark):
    from lyra_spark.stats import approx_distinct

    df = _typed_frame(spark)
    empty = df.limit(0)
    whole = empty.agg(approx_distinct("i").alias("a"))
    assert dict(whole.dtypes)["a"] == "bigint"
    assert whole.collect()[0]["a"] == 0
    assert empty.groupBy("part_date").agg(approx_distinct("i")).count() == 0
    [row] = column_stats(empty, ["i"], partition_col=None).collect()
    assert (row["row_count"], row["null_rate"], row["approx_distinct"]) == (0, None, 0)
    per_part = df.groupBy("part_date").agg(
        approx_distinct("dead").alias("dead"),
        # DataSketches skips a zero-length input; approx_distinct adds it back
        approx_distinct("blank").alias("blank"),
        # a where-masked Column that no row satisfies (metric rules' `where`)
        approx_distinct(F.when(F.col("i") < 0, F.col("i"))).alias("masked"),
    ).collect()
    assert len(per_part) == 3
    assert all(r["dead"] == 0 and r["blank"] == 1 and r["masked"] == 0 for r in per_part)
    stats = column_stats(df, ["dead"]).collect()
    assert [r["approx_distinct"] for r in stats] == [0, 0, 0]


def test_hll_lg_k_mapping_and_rsd_range():
    import math

    from lyra_spark.stats import HLL_MIN_RSD, hll_lg_k

    assert hll_lg_k(0.05) == 9  # 512 registers, HLL++'s default p=9
    assert hll_lg_k(0.5) == 4 and hll_lg_k(0.99) == 4
    for k in range(4, 22):
        assert hll_lg_k(1.04 / math.sqrt(2**k)) == k
    assert hll_lg_k(0.00072) == 21 and hll_lg_k(HLL_MIN_RSD) == 21
    for bad in (0.0007, 0.0, -0.1, 1.0, 1.5):
        with pytest.raises(ValueError, match="rsd"):
            hll_lg_k(bad)


def test_small_rsd_raises_when_the_profile_is_built(spark):
    from lyra_spark.stats import profile_findings
    from lyra_spark.suggest import suggest_rules

    df = _typed_frame(spark)
    with pytest.raises(ValueError, match="smallest rsd"):
        column_stats(df, ["i"], rsd=0.0007)
    with pytest.raises(ValueError, match="smallest rsd"):
        profile_findings(df, ["i"], rsd=0.0007)
    with pytest.raises(ValueError, match="smallest rsd"):
        suggest_rules(df, ["i"], rsd=0.0007)
    # the finest sketch (lg_k 21) runs, and is near-exact at this size
    got = column_stats(df, ["i"], partition_col=None, rsd=0.00072).collect()[0]
    assert abs(got["approx_distinct"] - 997) <= 4 * 0.00072 * 997 + 1


def test_one_distinct_sketch_stack_in_plans(spark):
    """Every approximate distinct count plans as the DataSketches HLL sketch;
    none falls back to Catalyst's HLL++ (approx_count_distinct)."""
    from lyra_spark import metrics as M
    from lyra_spark.stats import profile_findings
    from lyra_spark.suggest import suggest_rules

    df = _typed_frame(spark)
    frames = {
        "column_stats": column_stats(df, TYPED),
        "profile_findings": profile_findings(df, TYPED, distinct_mode="approx"),
        "suggest_rules": suggest_rules(df, TYPED, distinct_mode="approx"),
        "metric_rules": M.evaluate_metric_rules(
            df, [M.distinct_count("s", min=1, approx=True, where="i > 10")], partition_col="part_date"
        ),
    }
    for name, frame in frames.items():
        # the JSON form names each expression's class (the text form prints
        # HLL++ as approx_count_distinct)
        plan = frame._jdf.queryExecution().optimizedPlan().toJSON()
        assert "HyperLogLogPlusPlus" not in plan, name
        assert "aggregate.HllSketchAgg" in plan, name


def test_column_stats_estimate_equals_stored_sketch(tdf):
    """column_stats' approx_distinct (rsd 0.05) and the stored lg_k=9 blob's
    estimate hash the same string form, so they are equal per partition."""
    cs = {
        (str(r["part_date"]), r["column"]): r["approx_distinct"]
        for r in column_stats(tdf, ["conv_id", "turn_idx", "tool"]).collect()
    }
    sk = {
        (str(r["part_date"]), r["column"]): r["estimate"]
        for r in hll_sketches(tdf, ["conv_id", "turn_idx", "tool"], lg_k=9).collect()
    }
    assert cs == sk and len(cs) > 3


def test_stored_sketch_bytes_match_the_string_hashed_sketch(tdf):
    """hll_sketches' blobs are byte-equal to hll_sketch_agg over the string
    form, the blobs earlier runs stored, so stored and new blobs merge."""
    cols = ["conv_id", "turn_idx", "tool"]
    new = {
        (str(r["part_date"]), r["column"]): bytes(r["sketch"])
        for r in hll_sketches(tdf, cols).collect()
    }
    [old_row] = tdf.groupBy().agg(
        *[F.hll_sketch_agg(F.col(c).cast("string"), F.lit(12)).alias(c) for c in cols]
    ).collect()
    per_part = tdf.groupBy("part_date").agg(
        *[F.hll_sketch_agg(F.col(c).cast("string"), F.lit(12)).alias(c) for c in cols]
    ).collect()
    old = {(str(r["part_date"]), c): bytes(r[c]) for r in per_part for c in cols}
    assert new == old and len(new) > 3
    whole = {r["column"]: bytes(r["sketch"]) for r in hll_sketches(tdf, cols, partition_col=None).collect()}
    assert whole == {c: bytes(old_row[c]) for c in cols}

def test_approx_distinct_counts_the_empty_string(spark):
    """'' is a value: profile_findings in approx mode agrees with exact mode
    on a column holding '' (the sketch alone would read {'', 'x'} as one
    value and an all-'' column as none)."""
    from lyra_spark.stats import approx_distinct, profile_findings

    df = spark.range(6).selectExpr(
        "IF(id % 2 = 0, '', 'x') AS two",
        "'' AS blank",
        "IF(id < 3, '', NULL) AS blank_or_null",
        "IF(id % 2 = 0, '', concat('v', id)) AS key_ish",
    )
    cols = df.columns
    [row] = df.agg(*[approx_distinct(c).alias(c) for c in cols]).collect()
    assert row.asDict() == {"two": 2, "blank": 1, "blank_or_null": 1, "key_ish": 4}

    def findings(mode):
        return sorted(tuple(r) for r in profile_findings(df, cols, distinct_mode=mode).collect())

    approx = findings("approx")
    assert approx == findings("exact")
    assert ("blank", "constant", "") in approx
    assert not any(r[:2] == ("two", "constant") for r in approx)
