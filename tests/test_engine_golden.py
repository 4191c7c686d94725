"""Golden end-to-end: engine vs in-repo pandas oracle on sf0.001 fixtures
(SURVEY.md §5.2/§5.4). The oracle IS the lyra-reference stand-in; the engine's
violation rows must match it exactly, including observed_value strings and
stable ordering (BASELINE.json:6,15)."""

import os

import pandas as pd
import pytest

from lyra_spark.fixtures import gen_tools_dim
from lyra_spark.fused import validate_transcripts_fused
from lyra_spark.presets import transcript_ruleset
from tests.conftest import normalize_violations
from tests.oracle import RULE_IDS, oracle_verdicts, oracle_violations


@pytest.fixture(scope="module")
def loaded(spark, fixtures_sf0001):
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    pdf = pd.read_parquet(os.path.join(fixtures_sf0001, "transcripts"))
    pdf["part_date"] = pd.to_datetime(pdf["part_date"].astype(str)).dt.date
    return tdf, dim, pdf


def test_schema_as_expected(loaded):
    tdf, _, pdf = loaded
    got = {f.name: f.dataType.simpleString() for f in tdf.schema.fields}
    assert got["conv_id"] == "string"
    assert got["turn_idx"] == "int"
    assert got["role"] == "string"
    assert got["text"] == "string"
    assert got["ts"].startswith("timestamp")
    assert len(pdf) > 3000  # ~6k spec'd; Zipf variance at 100 convs is wide


def test_violations_match_oracle(spark, loaded):
    tdf, dim, pdf = loaded
    result = validate_transcripts_fused(tdf, dim, transcript_ruleset())
    engine = result.violations_sorted().toPandas()

    tools = set(gen_tools_dim()["tool_name"])
    oracle = oracle_violations(pdf, tools)

    assert len(engine) > 0, "fixtures inject violations; engine found none"
    assert normalize_violations(engine) == normalize_violations(oracle)


def test_injected_subset_detected(spark, loaded, fixtures_sf0001):
    """Every injected corruption must be detected (injected ⊆ oracle=engine)."""
    _, _, pdf = loaded
    tools = set(gen_tools_dim()["tool_name"])
    oracle = oracle_violations(pdf, tools)
    found = {(r.conv_id, r.turn_idx, r.rule_id) for r in oracle.itertuples(index=False)}
    injected = pd.read_parquet(os.path.join(fixtures_sf0001, "injected_violations.parquet"))
    missing = [
        t
        for t in injected.itertuples(index=False)
        if (t.conv_id, t.turn_idx, t.rule_id) not in found
    ]
    assert not missing, f"injected but undetected: {missing[:10]}"


def test_verdicts_match_oracle(spark, loaded):
    tdf, dim, pdf = loaded
    result = validate_transcripts_fused(tdf, dim, transcript_ruleset())
    engine = result.verdicts.toPandas()
    engine["part_date"] = pd.to_datetime(engine["part_date"].astype(str)).dt.date

    tools = set(gen_tools_dim()["tool_name"])
    oracle = oracle_verdicts(pdf, oracle_violations(pdf, tools), RULE_IDS)

    key = ["part_date", "rule_id"]
    e = engine.sort_values(key, ignore_index=True)[key + ["pass", "violation_count", "row_count"]]
    o = oracle.sort_values(key, ignore_index=True)[key + ["pass", "violation_count", "row_count"]]
    e["violation_count"] = e["violation_count"].astype(int)
    e["row_count"] = e["row_count"].astype(int)
    pd.testing.assert_frame_equal(e, o, check_dtype=False)
    assert (~e["pass"]).any(), "fixtures must produce at least one failing verdict"


def test_determinism_two_runs_identical(spark, loaded):
    """Two full runs produce identical violation rows (BASELINE.json:6 byte-match)."""
    tdf, dim, _ = loaded
    a = validate_transcripts_fused(tdf, dim, transcript_ruleset()).violations_sorted().toPandas()
    b = validate_transcripts_fused(tdf, dim, transcript_ruleset()).violations_sorted().toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_run_suite_placement_and_transitions_options(tmp_path, spark, fixtures_sf0001):
    """Library-surface parity with the CLI flags: run_suite(check_placement,
    transitions) merges both checks into the sink AND the verdict grid."""
    import os as _os

    from lyra_spark.presets import run_suite

    table = _os.path.join(fixtures_sf0001, "transcripts")
    tdf = spark.read.parquet(table)
    dim = spark.read.parquet(_os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    allowed = {("system", "user"), ("user", "assistant"), ("assistant", "user"),
               ("assistant", "tool"), ("tool", "assistant"), ("tool", "user"),
               ("tool", "tool"), ("user", "tool")}
    viol, verd = run_suite(
        tdf, dim, str(tmp_path / "sink"), input_path=table,
        check_placement=True, transitions=allowed,
    )
    grid_rules = {r.rule_id for r in verd.select("rule_id").distinct().collect()}
    assert {"partition_placement", "role_transition"} <= grid_rules
    # fixture rows are all well-placed: placement passes everywhere
    pl = verd.filter("rule_id = 'partition_placement'").toPandas()
    assert pl["pass"].all() and (pl["violation_count"] == 0).all()
    # the injected bad roles must produce transition violations in the sink
    assert viol.filter("rule_id = 'role_transition'").count() > 0
