"""Fused two-pass suite ≡ composable multi-pass suite (lyra_spark.fused)."""

import os

from lyra_spark.presets import validate_transcripts
from tests.conftest import normalize_violations


def test_fused_equals_composable(spark, fixtures_sf0001):
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    fused = validate_transcripts(tdf, dim, fused=True)
    comp = validate_transcripts(tdf, dim, fused=False)
    assert normalize_violations(fused.violations_sorted().toPandas()) == normalize_violations(
        comp.violations_sorted().toPandas()
    )
    fv = {(str(r["part_date"]), r["rule_id"]): (r["pass"], r["violation_count"], r["row_count"]) for r in fused.verdicts.collect()}
    cv = {(str(r["part_date"]), r["rule_id"]): (r["pass"], r["violation_count"], r["row_count"]) for r in comp.verdicts.collect()}
    assert fv == cv


def test_fused_plan_shape_conv_checks(spark, fixtures_sf0001):
    """The conv-scoped pass shuffles the data exactly ONCE at runtime: the
    window stack (lag + dup-count) sorts once on the (conv_id, __bkt__)
    exchange, and the skew-proof boundary branch re-reads that SAME shuffle
    (ReusedExchange under AQE) instead of scanning the table again, then
    joins back as a broadcast at this scale."""
    from lyra_spark.fused import conv_scoped_violations

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    df = conv_scoped_violations(tdf)
    df.collect()  # AQE finalizes stage reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final[:2000]
    # the full-width data is exchanged once; the boundary reuses that stage
    assert "ReusedExchange" in final, final[:2000]
    real_repart = [
        l for l in final.splitlines() if "REPARTITION_BY_COL" in l and "ReusedExchange" not in l
    ]
    assert len(real_repart) == 1, final[:2000]
    # two window operators on the main side (lag family + dup count), one
    # tiny per-conv window on the boundary side
    assert final.count("Window") == 3, final[:2000]

def test_bucketed_lag_equals_global_window(spark, fixtures_sf0001):
    """Force tiny buckets so every conversation spans many buckets (and the
    injected turn_idx=-1 rows land in bucket -1): the bucketed two-level lag
    must reproduce the global per-conv window exactly."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from lyra_spark.fused import conv_scoped_violations

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    got = (
        conv_scoped_violations(tdf, bucket_turns=7)
        .filter(F.col("rule_id") == "ts_monotone")
        .select("conv_id", "turn_idx", "observed_value")
    )
    w = Window.partitionBy("conv_id").orderBy("turn_idx", "ts")
    want = (
        tdf.select("conv_id", "turn_idx", "ts", F.lag("ts").over(w).alias("prev"))
        .filter(F.col("prev") > F.col("ts"))
        .select("conv_id", "turn_idx", F.col("ts").cast("string").alias("observed_value"))
    )
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_fused_equals_composable_with_null_keys(spark, fixtures_sf0001):
    """NULL conv_id / turn_idx rows are excluded from per-conversation checks
    on BOTH paths (SEMANTICS.md §keys) — even when the NULL-key rows would
    collide as duplicates under NULL-safe grouping."""
    from pyspark.sql import functions as F

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    # inject NULL-key rows that would group as duplicates if NULLs compared equal
    bad = (
        tdf.limit(4)
        .withColumn("conv_id", F.lit(None).cast("string"))
        .withColumn("turn_idx", F.lit(None).cast("int"))
    )
    poisoned = tdf.unionByName(bad)
    fused = validate_transcripts(poisoned, dim, fused=True)
    comp = validate_transcripts(poisoned, dim, fused=False)
    fv = normalize_violations(fused.violations_sorted().toPandas())
    cv = normalize_violations(comp.violations_sorted().toPandas())
    assert fv == cv
    # the NULL-key rows still surface as required-rule violations, not uniq/mono
    null_key_rules = {r for c, t, r, o in fv if c == "None"}
    assert "uniq_conv_turn" not in null_key_rules and "ts_monotone" not in null_key_rules


TRANSITIONS = {
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "assistant"),
}


def test_fused_transitions_equal_composable(spark, fixtures_sf0001):
    """The transition check fused into the conv exchange must be byte-equal
    to checks.transition_violations — forced tiny buckets so the cross-bucket
    state restore and the (turn_idx, state) tiebreak are both exercised, with
    the first-turn constraint on."""
    from lyra_spark import checks
    from lyra_spark.fused import conv_scoped_violations

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    first = {"system", "user"}
    got = (
        conv_scoped_violations(tdf, bucket_turns=7, transitions=TRANSITIONS, allowed_first=first)
        .filter("rule_id = 'role_transition'")
        .select("conv_id", "turn_idx", "part_date", "observed_value")
    )
    want = checks.transition_violations(
        tdf, TRANSITIONS, allowed_first=first, partition_col="part_date", ts_col="ts"
    ).select("conv_id", "turn_idx", "part_date", "observed_value")
    assert got.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_fused_suite_with_transitions_equals_composable(spark, fixtures_sf0001):
    """validate_transcripts(transitions=...) — fused and composable paths
    produce identical violations AND verdict grids with the sequence check on."""
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    fused = validate_transcripts(tdf, dim, fused=True, transitions=TRANSITIONS)
    comp = validate_transcripts(tdf, dim, fused=False, transitions=TRANSITIONS)
    assert normalize_violations(fused.violations_sorted().toPandas()) == normalize_violations(
        comp.violations_sorted().toPandas()
    )
    fv = {(str(r["part_date"]), r["rule_id"]): (r["pass"], r["violation_count"], r["row_count"]) for r in fused.verdicts.collect()}
    cv = {(str(r["part_date"]), r["rule_id"]): (r["pass"], r["violation_count"], r["row_count"]) for r in comp.verdicts.collect()}
    assert "role_transition" in {k[1] for k in fv}
    assert fv == cv


def test_transitions_deterministic_on_duplicate_key_tie_groups(spark):
    """A tie group on (turn_idx, role) spanning many partition dates (the
    shape injected duplicates create): which physical row carries which prev
    must not depend on shuffle fetch order. Both operators order ties by the
    remaining projected columns, so output is identical across input
    partitionings AND between the fused and composable plans."""
    import datetime

    from lyra_spark import checks
    from lyra_spark.fused import conv_scoped_violations

    rows = []
    roles = ["assistant", "user", "tool", "assistant", "user", "assistant", "tool", "user"]
    for i, role in enumerate(roles * 4):
        rows.append(
            ("conv_tie", -1, role, datetime.date(2024, 1, 1 + i % 9),
             datetime.datetime(2024, 1, 1 + i % 9, i % 24, 0, 0))
        )
    rows.append(("conv_tie", 0, "user", datetime.date(2024, 1, 10), datetime.datetime(2024, 1, 10)))
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string, part_date date, ts timestamp")
    cols = ["conv_id", "turn_idx", "part_date", "observed_value"]

    def comp(d):
        return sorted(
            map(tuple, checks.transition_violations(
                d, TRANSITIONS, partition_col="part_date", ts_col="ts")
                .select(*cols).collect())
        )

    a = comp(df.repartition(13))
    b = comp(df.coalesce(1))
    assert a == b and len(a) > 0
    fused = sorted(
        map(tuple, conv_scoped_violations(df.repartition(5), bucket_turns=3, transitions=TRANSITIONS)
            .filter("rule_id = 'role_transition'").select(*cols).collect())
    )
    assert fused == a


def test_fused_transitions_equal_composable_on_misplaced_rows(spark):
    """Rows violating the part_date = date(ts) layout invariant (misplaced —
    the placement check's findings) break the shared key's (part, ts) ↔
    (ts, …, part) tie equivalence under the default partition_from_ts=True;
    with partition_from_ts=False the fused transition check must equal the
    composable operator unconditionally, misplaced duplicates included."""
    import datetime

    from lyra_spark import checks
    from lyra_spark.fused import conv_scoped_violations

    rows = []
    # duplicate turn keys where the STORED date contradicts ts ordering
    for i, (role, day, stored) in enumerate([
        ("assistant", 2, 1), ("user", 1, 2), ("assistant", 3, 9), ("user", 9, 3),
        ("tool", 5, 5), ("assistant", 4, 8), ("user", 8, 4), ("assistant", 6, 7),
    ] * 3):
        rows.append(
            ("conv_mis", i % 4, role, datetime.date(2024, 1, stored),
             datetime.datetime(2024, 1, day, i % 24, 0, 0))
        )
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, part_date date, ts timestamp"
    )
    cols = ["conv_id", "turn_idx", "part_date", "observed_value"]
    got = sorted(
        map(tuple, conv_scoped_violations(
            df, bucket_turns=2, transitions=TRANSITIONS, partition_from_ts=False)
            .filter("rule_id = 'role_transition'").select(*cols).collect())
    )
    want = sorted(
        map(tuple, checks.transition_violations(
            df, TRANSITIONS, partition_col="part_date", ts_col="ts")
            .select(*cols).collect())
    )
    assert len(want) > 0 and got == want


try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    _HAVE_HYP = True
except ImportError:  # pragma: no cover
    _HAVE_HYP = False

if _HAVE_HYP:
    _row = st.tuples(
        st.sampled_from(["cA", "cB"]),                      # conv_id
        st.integers(min_value=0, max_value=5),              # turn_idx (dups likely)
        st.sampled_from(["system", "user", "assistant", "tool", None]),  # role
        st.integers(min_value=1, max_value=4),              # ts day
        st.integers(min_value=0, max_value=23),             # ts hour
        st.integers(min_value=1, max_value=4),              # STORED day (may mismatch ts)
    )

    @settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
    @given(rows=st.lists(_row, min_size=1, max_size=40), first=st.booleans())
    def test_fused_transitions_equal_composable_hypothesis(spark, rows, first):
        """Adversarial fuzz: random tiny conversations with duplicate turn
        keys, NULL roles, and misplaced storage dates — the fused transition
        check (partition_from_ts=False, tiny buckets) must equal the
        composable operator on every input, first-turn constraint included."""
        import datetime

        from lyra_spark import checks
        from lyra_spark.fused import conv_scoped_violations

        data = [
            (c, t, r, datetime.date(2024, 1, sd), datetime.datetime(2024, 1, d, h))
            for c, t, r, d, h, sd in rows
        ]
        df = spark.createDataFrame(
            data, "conv_id string, turn_idx int, role string, part_date date, ts timestamp"
        )
        allowed_first = {"system", "user"} if first else None
        cols = ["conv_id", "turn_idx", "part_date", "observed_value"]
        got = sorted(
            map(tuple, conv_scoped_violations(
                df, bucket_turns=2, transitions=TRANSITIONS,
                allowed_first=allowed_first, partition_from_ts=False)
                .filter("rule_id = 'role_transition'").select(*cols).collect())
        )
        want = sorted(
            map(tuple, checks.transition_violations(
                df, TRANSITIONS, allowed_first=allowed_first,
                partition_col="part_date", ts_col="ts")
                .select(*cols).collect())
        )
        assert got == want


def test_fused_transitions_still_one_exchange(spark, fixtures_sf0001):
    """Enabling the fused transition check must not add a shuffle OR a window
    operator: the state lag shares the mono stack's sort (the shared key just
    extends by a suffix), so the plan has the same three Window operators and
    the one reused exchange as the two-check variant."""
    from lyra_spark.fused import conv_scoped_violations

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    df = conv_scoped_violations(tdf, transitions=TRANSITIONS)
    df.collect()  # AQE finalizes stage reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    assert "ReusedExchange" in final, final[:2000]
    real_repart = [
        l for l in final.splitlines() if "REPARTITION_BY_COL" in l and "ReusedExchange" not in l
    ]
    assert len(real_repart) == 1, final[:2000]
    assert final.count("Window") == 3, final[:2000]


def test_fused_placement_equals_composable(spark, fixtures_sf0001):
    """placement_ts fuses the placement check into the row-rule scan; its
    violations must be byte-equal to the composable misplaced_violations
    operator, on both suite paths."""
    from pyspark.sql import functions as F

    from lyra_spark import checks

    base = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    # plant misplaced rows: wrong directory date + a NULL ts (both violate)
    moved = base.limit(3).withColumn("part_date", F.date_add("part_date", 400))
    null_ts = base.limit(2).withColumn("ts", F.lit(None).cast("timestamp"))
    tdf = base.unionByName(moved).unionByName(null_ts)
    fused = validate_transcripts(tdf, dim, fused=True, placement_ts="ts")
    comp = validate_transcripts(tdf, dim, fused=False, placement_ts="ts")
    fv = normalize_violations(fused.violations_sorted().toPandas())
    assert fv == normalize_violations(comp.violations_sorted().toPandas())
    got = [t for t in fv if t[2] == "partition_placement"]
    want = normalize_violations(
        checks.misplaced_violations(tdf, partition_col="part_date").toPandas()
    )
    assert len(got) > 0 and got == want
    grid = {(str(r["part_date"]), r["rule_id"]) for r in fused.verdicts.collect()}
    assert any(rid == "partition_placement" for _, rid in grid)


def test_fused_placement_sees_raw_values_under_coercion(spark, fixtures_sf0001):
    """Placement judges the STORED value: a ruleset coercion on ts (e.g. a
    default filling NULLs — exactly the rows placement exists to flag) must
    not mask fused placement violations, and both suite paths must agree."""
    import datetime

    from pyspark.sql import functions as F

    from lyra_spark.rules import RuleSet, default, required

    base = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    null_ts = base.limit(3).withColumn("ts", F.lit(None).cast("timestamp"))
    tdf = base.unionByName(null_ts)
    rs = RuleSet([
        required("text", rule_id="text_required"),
        default("ts", datetime.datetime(2024, 1, 1)),
    ])
    fused = validate_transcripts(tdf, dim, ruleset=rs, fused=True, placement_ts="ts")
    comp = validate_transcripts(tdf, dim, ruleset=rs, fused=False, placement_ts="ts")
    fv = normalize_violations(fused.violations_sorted().toPandas())
    assert fv == normalize_violations(comp.violations_sorted().toPandas())
    placed = [t for t in fv if t[2] == "partition_placement"]
    assert len(placed) >= 3 and all(t[3] == "NULL" for t in placed)


def test_placement_without_partition_column_raises(spark, fixtures_sf0001):
    """placement compares ts against the partition value — with no partition
    column the check has no referent; the suite must say so up front."""
    import pytest

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    with pytest.raises(ValueError, match="placement_ts requires a partition column"):
        validate_transcripts(tdf, dim, partition_col=None, placement_ts="ts")


def test_fused_suite_all_checks_two_scans(spark, fixtures_sf0001):
    """The full five-check suite (row rules + referential + uniqueness +
    monotone + transitions + placement) reads the table exactly TWICE: the
    row-rule scan (placement fused in) and the conv exchange's scan
    (transitions fused in) — enabling both dataset checks adds no pass."""
    from lyra_spark.fused import validate_transcripts_fused
    from lyra_spark.presets import transcript_ruleset

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    res = validate_transcripts_fused(
        tdf, dim, transcript_ruleset(), transitions=TRANSITIONS, placement_ts="ts"
    )
    res.violations.collect()  # AQE finalizes the boundary's stage reuse only at execution
    plan = res.violations._jdf.queryExecution().executedPlan().toString()
    final = plan.split("+- == Initial Plan ==")[0]
    scans = [l for l in final.splitlines() if "Scan parquet" in l and "ReusedExchange" not in l]
    assert len(scans) == 2, final[:3000]


def test_fused_partition_from_ts_false_matches_composable(spark, fixtures_sf0001):
    """partition_from_ts=False must order equal-turn_idx ties by (turn_idx, ts)
    exactly like the composable monotone window — byte-equal violations."""
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    fused = validate_transcripts(tdf, dim, fused=True, partition_from_ts=False)
    comp = validate_transcripts(tdf, dim, fused=False)
    assert normalize_violations(fused.violations_sorted().toPandas()) == normalize_violations(
        comp.violations_sorted().toPandas()
    )
