"""Metric constraint rules (Deequ Check parity): aggregate bounds evaluated
in ONE wide agg pass, long-format verdicts, severity-aware partition gating,
JSON config round-trip."""

import contextlib
import io

import pytest

from lyra_spark import metrics as M


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def _frame(spark):
    # 2024-01-01: values 10,20,30 (mean 20); 2024-01-02: 80,100,NULL (mean 90,
    # completeness 2/3); day 2 also has a repeated category.
    rows = [
        ("2024-01-01", 10.0, "a"),
        ("2024-01-01", 20.0, "b"),
        ("2024-01-01", 30.0, "c"),
        ("2024-01-02", 80.0, "a"),
        ("2024-01-02", 100.0, "a"),
        ("2024-01-02", None, "b"),
    ]
    return spark.createDataFrame(rows, "part_date string, value double, cat string")


def test_bounds_pass_and_fail_per_partition(spark):
    rules = [
        M.mean("value", min=15.0, max=50.0, rule_id="mean_value"),
        M.size(min=3, rule_id="size"),
        M.distinct_count("cat", min=3, rule_id="cat_card"),
    ]
    mv = M.evaluate_metric_rules(_frame(spark), rules, partition_col="part_date")
    got = {(r["part_date"], r["rule_id"]): (r["pass"], r["value"]) for r in mv.collect()}
    assert got[("2024-01-01", "mean_value")] == (True, 20.0)
    assert got[("2024-01-02", "mean_value")] == (False, 90.0)
    assert got[("2024-01-01", "size")] == (True, 3.0)
    assert got[("2024-01-01", "cat_card")] == (True, 3.0)
    assert got[("2024-01-02", "cat_card")] == (False, 2.0)  # a,a,b
    # severity column absent when nothing declares one (schema stability)
    assert "severity" not in mv.columns


def test_null_metric_fails_never_passes_silently(spark):
    df = spark.createDataFrame(
        [("2024-01-01", None), ("2024-01-01", None)], "part_date string, value double"
    )
    mv = M.evaluate_metric_rules(
        df, [M.mean("value", min=0.0, rule_id="m")], partition_col="part_date"
    )
    row = mv.collect()[0]
    assert row["value"] is None and row["pass"] is False


def test_single_agg_pass_for_all_rules(spark):
    """Any number of declared metrics must cost ONE scan + ONE aggregation
    exchange — the plan has exactly one Exchange (plus AQE wrappers), never
    one per rule."""
    rules = [
        M.mean("value", min=0.0),
        M.stddev("value", max=100.0),
        M.size(min=1),
        M.completeness("value", min=0.5),
        M.total("value", min=0.0),
        M.minimum("value", min=0.0),
        M.maximum("value", max=1000.0),
    ]
    mv = M.evaluate_metric_rules(_frame(spark), rules, partition_col="part_date")
    p = plan_str(mv, "simple")
    assert p.count("Exchange") == 1, p
    assert mv.count() == 2 * len(rules)


def test_global_mode_one_row_per_rule(spark):
    rules = [M.mean("value", min=0.0, rule_id="m"), M.size(min=1, rule_id="n")]
    mv = M.evaluate_metric_rules(_frame(spark), rules, partition_col=None)
    got = {r["rule_id"]: r["value"] for r in mv.collect()}
    assert got == {"m": 48.0, "n": 6.0}


def test_completeness_and_stddev(spark):
    rules = [
        M.completeness("value", min=0.9, rule_id="comp"),
        M.stddev("value", min=5.0, max=15.0, rule_id="sd"),
    ]
    mv = M.evaluate_metric_rules(_frame(spark), rules, partition_col="part_date")
    got = {(r["part_date"], r["rule_id"]): r for r in mv.collect()}
    assert got[("2024-01-01", "comp")]["pass"] is True
    c2 = got[("2024-01-02", "comp")]
    assert c2["pass"] is False and abs(c2["value"] - 2 / 3) < 1e-6
    assert got[("2024-01-01", "sd")]["pass"] is True  # stddev_samp = 10
    assert got[("2024-01-01", "sd")]["value"] == 10.0


def test_approx_distinct_within_rsd(spark):
    df = spark.range(0, 5000).selectExpr("cast(id % 1000 as string) AS k", "'d' AS part_date")
    mv = M.evaluate_metric_rules(
        df,
        [M.distinct_count("k", min=800, max=1200, approx=True, rsd=0.05, rule_id="ad")],
        partition_col="part_date",
    )
    row = mv.collect()[0]
    assert row["metric"] == "approx_distinct"
    assert row["pass"] is True and abs(row["value"] - 1000) <= 4 * 0.05 * 1000


def test_approx_distinct_rsd_range_both_ends(spark):
    """Any rsd down to the finest HLL sketch (lg_k 21, rsd ≈ 0.00072)
    evaluates — rsd 0.5 too, which Catalyst's HLL++ rejected only when the
    query ran; a smaller rsd fails when the rule is built."""
    df = spark.range(0, 5000).selectExpr("cast(id % 1000 as string) AS k", "'d' AS part_date")
    rules = [
        M.distinct_count("k", min=1, approx=True, rsd=0.5, rule_id="coarse"),
        M.distinct_count("k", min=1, approx=True, rsd=0.00072, rule_id="fine"),
    ]
    got = {r["rule_id"]: r["value"] for r in M.evaluate_metric_rules(df, rules, "part_date").collect()}
    assert abs(got["coarse"] - 1000) <= 4 * 0.5 * 1000
    assert abs(got["fine"] - 1000) <= 4 * 0.00072 * 1000 + 1
    with pytest.raises(ValueError, match="smallest rsd"):
        M.distinct_count("k", min=1, approx=True, rsd=0.0007)
    with pytest.raises(ValueError, match="smallest rsd"):
        M.metric_rules_from_json('[{"metric": "approx_distinct", "column": "k", "min": 1, "rsd": 0.0007}]')
    with pytest.raises(ValueError, match=r"rsd must be in \(0, 1\)"):
        M.distinct_count("k", min=1, approx=True, rsd=1.0)


def test_warn_severity_reports_but_never_gates(spark):
    rules = [
        M.mean("value", min=15.0, max=50.0, rule_id="mean_value", severity="warn"),
        M.size(min=3, rule_id="size"),
    ]
    mv = M.evaluate_metric_rules(_frame(spark), rules, partition_col="part_date")
    assert "severity" in mv.columns
    pp = {r["part_date"]: r for r in M.metric_partition_pass(mv).collect()}
    # day 2's mean fails but it's warn-only → partition still passes
    assert pp["2024-01-02"]["pass"] is True
    assert pp["2024-01-02"]["warn_failed"] == 1
    assert pp["2024-01-02"]["failed_metrics"] == 0
    # flip to error severity → gates
    rules[0] = M.mean("value", min=15.0, max=50.0, rule_id="mean_value")
    mv2 = M.evaluate_metric_rules(_frame(spark), rules, partition_col="part_date")
    pp2 = {r["part_date"]: r for r in M.metric_partition_pass(mv2).collect()}
    assert pp2["2024-01-02"]["pass"] is False
    assert pp2["2024-01-02"]["failed_metrics"] == 1


def test_where_restricts_metric_in_same_pass(spark):
    """Deequ Check.where(): the predicate restricts which rows a rule
    measures via CONDITIONAL aggregation — still one Exchange for a mixed
    where'd/unrestricted ruleset, and excluded rows drop out of ratios
    entirely (they must not count as NULLs in completeness)."""
    rows = [
        ("2024-01-01", 10.0, "a"),
        ("2024-01-01", 20.0, "a"),
        ("2024-01-01", 100.0, "b"),   # excluded by where cat='a'
        ("2024-01-01", None, "b"),    # NULL value, excluded too
    ]
    df = spark.createDataFrame(rows, "part_date string, value double, cat string")
    rules = [
        M.mean("value", min=0.0, max=50.0, rule_id="mean_a", where="cat = 'a'"),
        M.size(min=2, max=2, rule_id="n_a", where="cat = 'a'"),
        M.completeness("value", min=1.0, rule_id="comp_a", where="cat = 'a'"),
        M.mean("value", min=0.0, rule_id="mean_all"),
    ]
    mv = M.evaluate_metric_rules(df, rules, partition_col="part_date")
    assert plan_str(mv, "simple").count("Exchange") == 1
    got = {r["rule_id"]: (r["pass"], r["value"]) for r in mv.collect()}
    assert got["mean_a"] == (True, 15.0)       # (10+20)/2, the 100 excluded
    assert got["n_a"] == (True, 2.0)           # row_count counts cond rows only
    assert got["comp_a"] == (True, 1.0)        # the NULL row is excluded, not incomplete
    assert abs(got["mean_all"][1] - 130.0 / 3) < 1e-6


def test_where_roundtrips_config():
    rules = [M.mean("value", min=1.0, rule_id="m", where="cat = 'a'")]
    rules2 = M.metric_rules_from_json(M.metric_rules_to_json(rules))
    assert rules2 == rules and rules2[0].where == "cat = 'a'"
    with pytest.raises(ValueError, match="where"):
        M.mean("value", min=1.0, where="   ")


def test_quantile_exact_and_approx(spark):
    """quantile = exact interpolated percentile (PERCENTILE_CONT); approx
    variant within rank tolerance; q validation; config round-trip."""
    vals = [float(i) for i in range(1, 101)]  # p90 = 90.1 (type-7)
    df = spark.createDataFrame([("d", v) for v in vals], "part_date string, value double")
    rules = [
        M.quantile("value", q=0.9, max=95.0, rule_id="p90"),
        M.quantile("value", q=0.5, min=50.0, max=51.0, rule_id="p50"),
        M.quantile("value", q=0.9, max=95.0, approx=True, accuracy=10000, rule_id="p90a"),
        M.mean("value", min=0.0, rule_id="m"),
    ]
    mv = M.evaluate_metric_rules(df, rules, partition_col="part_date")
    assert plan_str(mv, "simple").count("Exchange") == 1  # rides the one pass
    got = {r["rule_id"]: (r["pass"], r["value"]) for r in mv.collect()}
    assert got["p90"] == (True, 90.1)
    assert got["p50"] == (True, 50.5)
    assert got["p90a"][0] is True and abs(got["p90a"][1] - 90) <= 2
    with pytest.raises(ValueError, match="q in"):
        M.quantile("value", q=1.5, max=1.0)
    with pytest.raises(ValueError, match="only valid for quantile"):
        M.MetricRule(rule_id="x", metric="mean", column="v", min=0.0, q=0.5)
    rules2 = M.metric_rules_from_json(M.metric_rules_to_json(rules))
    assert rules2 == rules


def test_compliance_fraction_of_predicate(spark):
    """Deequ satisfies(): fraction of rows where a SQL predicate holds; NULL
    predicate results count as NOT satisfied; where-restriction drops rows
    from the denominator; rides the single wide agg pass."""
    rows = [
        ("2024-01-01", 10.0, "a"),   # value<=50 ok
        ("2024-01-01", 20.0, "a"),   # ok
        ("2024-01-01", 90.0, "b"),   # fails predicate
        ("2024-01-01", None, "a"),   # NULL predicate -> not satisfied
    ]
    df = spark.createDataFrame(rows, "part_date string, value double, cat string")
    rules = [
        M.compliance("value <= 50", min=0.5, rule_id="c_all"),
        M.compliance("value <= 50", min=1.0, rule_id="c_a", where="cat = 'a' AND value IS NOT NULL"),
        M.mean("value", min=0.0, rule_id="m"),
    ]
    mv = M.evaluate_metric_rules(df, rules, partition_col="part_date")
    assert plan_str(mv, "simple").count("Exchange") == 1  # still one pass
    got = {r["rule_id"]: (r["pass"], r["value"]) for r in mv.collect()}
    assert got["c_all"] == (True, 0.5)   # 2 of 4 (NULL counts in denominator, unsatisfied)
    assert got["c_a"] == (True, 1.0)     # 2 of 2 after where
    with pytest.raises(ValueError, match="compliance requires expr"):
        M.compliance("")
    with pytest.raises(ValueError, match="only valid for the compliance"):
        M.mean("value", min=0.0).__class__(rule_id="x", metric="mean", column="value", min=0.0, expr="1=1")
    rules2 = M.metric_rules_from_json(M.metric_rules_to_json(rules))
    assert rules2 == rules


def test_uniqueness_and_distinctness(spark):
    """Grid metrics: uniqueness = values occurring exactly once / non-NULL
    rows; distinctness = distinct / non-NULL rows. Day 1: a,a,b,c → uniq 2/4,
    dist 3/4. Day 2: x,x → uniq 0, dist 1/2. NULLs drop from both."""
    rows = [
        ("2024-01-01", "a"), ("2024-01-01", "a"), ("2024-01-01", "b"),
        ("2024-01-01", "c"), ("2024-01-01", None),
        ("2024-01-02", "x"), ("2024-01-02", "x"),
    ]
    df = spark.createDataFrame(rows, "part_date string, cat string")
    rules = [
        M.uniqueness("cat", min=0.4, rule_id="u"),
        M.distinctness("cat", min=0.6, rule_id="d"),
    ]
    mv = M.evaluate_metric_rules(df, rules, partition_col="part_date")
    got = {(r["part_date"], r["rule_id"]): (r["pass"], r["value"]) for r in mv.collect()}
    assert got[("2024-01-01", "u")] == (True, 0.5)
    assert got[("2024-01-01", "d")] == (True, 0.75)
    assert got[("2024-01-02", "u")] == (False, 0.0)
    assert got[("2024-01-02", "d")] == (False, 0.5)


def test_grid_metric_zero_measurable_rows_fails_not_vanishes(spark):
    """A partition whose every value is NULL (or where-excluded) must still
    emit its verdict row — metric NULL, pass False — never silently drop
    from the frame."""
    rows = [("2024-01-01", "a", "keep"), ("2024-01-02", "b", "skip"), ("2024-01-03", None, "keep")]
    df = spark.createDataFrame(rows, "part_date string, cat string, flag string")
    mv = M.evaluate_metric_rules(
        df,
        [M.uniqueness("cat", min=1.0, rule_id="u", where="flag = 'keep'")],
        partition_col="part_date",
    )
    got = {r["part_date"]: (r["pass"], r["value"]) for r in mv.collect()}
    assert got["2024-01-01"] == (True, 1.0)
    assert got["2024-01-02"] == (False, None)  # where-excluded everything
    assert got["2024-01-03"] == (False, None)  # all NULL


def test_mixed_ruleset_is_two_scans_not_per_rule(spark):
    """Moment rules share one agg pass; ALL grid rules share one value-grid
    pass — a mixed ruleset scans the source exactly twice, however many
    rules of each family it declares."""
    df = _frame(spark)
    rules = [
        M.mean("value", min=0.0), M.size(min=1), M.stddev("value", max=1e9),
        M.uniqueness("cat", min=0.0, rule_id="u1"),
        M.distinctness("cat", min=0.0, rule_id="d1"),
        M.uniqueness("value", min=0.0, rule_id="u2"),
    ]
    mv = M.evaluate_metric_rules(df, rules, partition_col="part_date")
    p = plan_str(mv, "simple")
    assert p.count("Scan ExistingRDD") == 2, p
    assert mv.count() == 2 * len(rules)


def test_metric_anomalies_trailing(spark):
    """Deequ addAnomalyCheck shape: each rule's value series is judged
    against ITS OWN trailing mean — a mean that triples flags even while
    inside its absolute bounds; the stable rule stays quiet; warm-up and
    zero-history never flag."""
    rows = []
    for i, d in enumerate(["2024-01-0%d" % k for k in range(1, 8)]):
        m = 300.0 if i == 6 else 100.0  # last day triples
        rows += [(d, m, "a"), (d, m, "b")]
    df = spark.createDataFrame(rows, "part_date string, value double, cat string")
    mv = M.evaluate_metric_rules(
        df,
        [M.mean("value", min=0.0, max=1000.0, rule_id="mean_v"),
         M.size(min=1, rule_id="n")],
        partition_col="part_date",
    )
    # absolute gate: everything passes (300 < 1000)
    assert all(r["pass"] for r in mv.collect())
    anom = M.metric_anomalies(mv, "part_date", trailing=7, threshold=0.5).collect()
    got = {(r["part_date"], r["rule_id"]) for r in anom}
    assert got == {("2024-01-07", "mean_v")}  # size series is flat -> quiet
    row = anom[0]
    assert row["value"] == 300.0 and row["expected"] == 100.0 and row["deviation"] == 2.0


def test_metric_run_anomalies_across_runs(spark, tmp_path):
    """MetricsRepository loop: each run appends its grid; the current run's
    (partition, rule) values are judged against the SAME pair's history.
    Stable reruns are quiet; a reprocessing regression (one partition's mean
    shifts between runs) flags exactly that pair."""
    hist_dir = str(tmp_path / "mhist")

    def grid(mean_d2):
        rows = [("2024-01-01", 10.0), ("2024-01-01", 20.0),
                ("2024-01-02", mean_d2 - 5), ("2024-01-02", mean_d2 + 5)]
        df = spark.createDataFrame(rows, "part_date string, value double")
        return M.evaluate_metric_rules(
            df, [M.mean("value", min=0.0, max=1e9, rule_id="m"), M.size(min=1, rule_id="n")],
            partition_col="part_date",
        )

    for rid, m in [("r2026-01-01", 50.0), ("r2026-01-02", 50.0), ("r2026-01-03", 50.0)]:
        M.append_metric_history(grid(m), hist_dir, rid)
    hist = spark.read.parquet(hist_dir)
    # stable third run: no flags
    assert M.metric_run_anomalies(hist, "r2026-01-03", min_ref_runs=2).count() == 0
    # fourth run triples day 2's mean — still inside absolute bounds
    M.append_metric_history(grid(150.0), hist_dir, "r2026-01-04")
    hist = spark.read.parquet(hist_dir)
    ra = M.metric_run_anomalies(hist, "r2026-01-04", min_ref_runs=2).collect()
    assert {(r["part_date"], r["rule_id"]) for r in ra} == {("2024-01-02", "m")}
    assert ra[0]["expected"] == 50.0 and ra[0]["value"] == 150.0
    # earlier runs are unaffected retroactively (only runs BEFORE current count)
    assert M.metric_run_anomalies(hist, "r2026-01-03", min_ref_runs=2).count() == 0
    # rerunning the same run_id overwrites its own directory, no duplicates
    M.append_metric_history(grid(150.0), hist_dir, "r2026-01-04")
    hist = spark.read.parquet(hist_dir)
    assert hist.select("run_id").distinct().count() == 4


def test_review_fixes_fail_loud_and_fail_safe(spark, tmp_path):
    """Regression battery for the review findings: empty-input grid rules
    still report, near-zero trailing means still flag, and every misuse path
    raises instead of silently doing nothing."""
    # 1. empty frame, global mode: grid rule emits NULL-metric -> fail row
    empty = spark.createDataFrame([], "part_date string, cat string")
    mv = M.evaluate_metric_rules(empty, [M.uniqueness("cat", min=1.0, rule_id="u")],
                                 partition_col=None)
    rows = mv.collect()
    assert len(rows) == 1 and rows[0]["value"] is None and rows[0]["pass"] is False
    # 2. anomaly DECISION runs on unrounded deviation: 150.00004 vs a 100.0
    #    trailing mean is deviation 0.5000004 — rounding it to 6 dp first
    #    would land exactly ON the 0.5 threshold and the strict > would
    #    silently unflag it
    seq = [("2024-01-0%d" % k, 100.0) for k in range(1, 7)] + [("2024-01-07", 150.00004)]
    df = spark.createDataFrame(seq, "part_date string, value double")
    grid = M.evaluate_metric_rules(df, [M.mean("value", min=-1e9, rule_id="m")],
                                   partition_col="part_date")
    anom = M.metric_anomalies(grid, "part_date", threshold=0.5).collect()
    assert {r["part_date"] for r in anom} == {"2024-01-07"}
    assert anom[0]["deviation"] == 0.5  # reported rounded, decided unrounded
    # 3. compliance expr must be a string at load time
    with pytest.raises(ValueError, match="compliance requires expr"):
        M.metric_rules_from_json('[{"metric": "compliance", "expr": 123, "min": 0.9}]')
    # 4. unknown current run id raises, not silently-empty
    M.append_metric_history(grid, str(tmp_path / "h"), "r1")
    hist = spark.read.parquet(str(tmp_path / "h"))
    with pytest.raises(ValueError, match="not found in the metric history"):
        M.metric_run_anomalies(hist, "r1-typo")
    # 5. partition_col colliding with a verdict column name raises up front
    with pytest.raises(ValueError, match="collides"):
        M.evaluate_metric_rules(df, [M.mean("value", min=0.0)], partition_col="value")
    # 6. run ids that would corrupt the run=<id> layout are rejected
    with pytest.raises(ValueError, match="run_id"):
        M.append_metric_history(grid, str(tmp_path / "h"), "a/b")
    # 7. tuning knobs on metrics they don't tune are config errors
    with pytest.raises(ValueError, match="rsd only applies"):
        M.metric_rules_from_json('[{"metric": "mean", "column": "v", "min": 0, "rsd": 0.1}]')
    with pytest.raises(ValueError, match="accuracy only applies"):
        M.metric_rules_from_json('[{"metric": "distinct", "column": "v", "min": 1, "accuracy": 99}]')


def test_builder_validation():
    with pytest.raises(ValueError, match="at least one"):
        M.mean("value")
    with pytest.raises(ValueError, match="min .* > max|min 5.0 > max"):
        M.mean("value", min=5.0, max=1.0)
    with pytest.raises(ValueError, match="severity"):
        M.size(min=1, severity="warning")
    with pytest.raises(ValueError, match="requires a column"):
        M.MetricRule(rule_id="x", metric="mean", min=0.0)
    with pytest.raises(ValueError, match="no column"):
        M.MetricRule(rule_id="x", metric="row_count", column="c", min=0.0)
    with pytest.raises(ValueError, match="unknown metric"):
        M.MetricRule(rule_id="x", metric="median", column="c", min=0.0)
    with pytest.raises(ValueError, match="duplicate"):
        M.evaluate_metric_rules(None, [M.size(min=1), M.size(min=2)])


def test_config_roundtrip_and_validation():
    rules = [
        M.mean("value", min=40.0, max=60.0),
        M.size(min=100),
        M.completeness("cat", min=0.99, severity="warn"),
        M.distinct_count("cat", max=10, approx=True, rsd=0.1),
    ]
    rules2 = M.metric_rules_from_json(M.metric_rules_to_json(rules))
    assert rules2 == rules
    with pytest.raises(ValueError, match="unknown metric"):
        M.metric_rules_from_json('[{"metric": "median", "column": "v", "min": 1}]')
    with pytest.raises(ValueError, match="unknown key"):
        M.metric_rules_from_json('[{"metric": "mean", "column": "v", "min": 1, "mx": 2}]')
    with pytest.raises(ValueError, match="must be a number"):
        M.metric_rules_from_json('[{"metric": "mean", "column": "v", "min": "low"}]')
    with pytest.raises(ValueError, match="duplicate"):
        M.metric_rules_from_json(
            '[{"metric": "mean", "column": "v", "min": 1, "rule_id": "a"},'
            ' {"metric": "sum", "column": "v", "min": 1, "rule_id": "a"}]'
        )


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _vrow = st.tuples(
        st.sampled_from(["d1", "d2"]),                                   # partition
        st.one_of(st.none(), st.integers(min_value=-5, max_value=5)),    # value (int-valued: no fp ambiguity)
        st.sampled_from(["a", "b", "c", None]),                          # cat
    )

    @settings(max_examples=15, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(rows=st.lists(_vrow, min_size=1, max_size=30))
    def test_metric_rules_match_pandas_oracle_hypothesis(spark, rows):
        """Adversarial fuzz: random tiny frames with NULL values, NULL
        categories, and lopsided partitions — every metric family must equal
        an independent pandas computation (within fp tolerance), including
        the NULL-metric->fail rule."""
        import math

        data = [(p, float(v) if v is not None else None, c) for p, v, c in rows]
        df = spark.createDataFrame(data, "part_date string, value double, cat string")
        rules = [
            M.mean("value", min=-100.0, rule_id="mean_v"),
            M.total("value", min=-1e9, rule_id="sum_v"),
            M.minimum("value", min=-1e9, rule_id="min_v"),
            M.maximum("value", max=1e9, rule_id="max_v"),
            M.size(min=0, rule_id="n"),
            M.completeness("value", min=0.0, rule_id="comp_v"),
            M.distinct_count("cat", min=0, rule_id="card_c"),
            M.uniqueness("cat", min=0.0, rule_id="uniq_c"),
            M.distinctness("cat", min=0.0, rule_id="dist_c"),
            M.compliance("value > 0", min=0.0, rule_id="pos_v"),
        ]
        got = {
            (r["part_date"], r["rule_id"]): r["value"]
            for r in M.evaluate_metric_rules(df, rules, partition_col="part_date").collect()
        }
        parts = sorted({p for p, _, _ in rows})
        for p in parts:
            vals = [v for q, v, _ in data if q == p]
            nn = [v for v in vals if v is not None]
            cats = [c for q, _, c in data if q == p and c is not None]
            from collections import Counter

            cc = Counter(cats)
            want = {
                "mean_v": sum(nn) / len(nn) if nn else None,
                "sum_v": sum(nn) if nn else None,
                "min_v": min(nn) if nn else None,
                "max_v": max(nn) if nn else None,
                "n": float(len(vals)),
                "comp_v": len(nn) / len(vals),
                "card_c": float(len(cc)),
                "uniq_c": (sum(1 for c in cc.values() if c == 1) / len(cats)) if cats else None,
                "dist_c": (len(cc) / len(cats)) if cats else None,
                "pos_v": sum(1 for v in vals if v is not None and v > 0) / len(vals),
            }
            for rid, exp in want.items():
                g = got[(p, rid)]
                if exp is None:
                    assert g is None, (p, rid, g)
                else:
                    assert g is not None and math.isclose(g, round(exp, 6), abs_tol=2e-6), (p, rid, g, exp)
