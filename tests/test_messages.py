"""lyra error-reporting parity: human message templates + abortEarly
(first-failure short-circuit per row). Round-4 VERDICT "what's missing" #3."""

import pytest

from lyra_spark import rules as R
from lyra_spark.rules import (
    DEFAULT_MESSAGES,
    RuleSet,
    message_template,
    ruleset_from_json,
    ruleset_to_json,
    with_message,
)
from lyra_spark.engine import row_violations


@pytest.fixture()
def df(spark):
    return spark.createDataFrame(
        [(1, None, 5.0), (2, "bad", -3.0), (3, "ok", 1.0), (4, "ok", None)],
        "id long, s string, v double",
    )


@pytest.fixture()
def rs():
    return RuleSet([
        R.required("s"),
        with_message(R.enum("s", ["ok"]), '"{column}" got {value}'),
        R.range_rule("v", min=0.0),
    ])


def test_messages_render_defaults_and_templates(spark, df, rs):
    got = {(r.id, r.rule_id): r.message for r in row_violations(
        df, rs, key_cols=["id"], partition_col=None, messages=True).collect()}
    assert got[(1, "s_required")] == '"s" is required'        # default per kind
    assert got[(2, "s_enum")] == '"s" got bad'                # custom, {value} runtime
    assert got[(2, "v_range")] == '"v" must be within the allowed range (-3.0)'
    assert (3, "s_enum") not in got and (4, "v_range") not in got  # NULL v skips


def test_abort_early_emits_first_failure_only(spark, df, rs):
    rows = row_violations(df, rs, key_cols=["id"], partition_col=None,
                          abort_early=True).collect()
    got = {r.id: r.rule_id for r in rows}
    assert len(rows) == len(got)  # exactly one per failing row
    assert got == {1: "s_required", 2: "s_enum"}  # ruleset order wins for id 2


def test_abort_early_equals_first_of_full_report(spark, df, rs):
    full = row_violations(df, rs, key_cols=["id"], partition_col=None).collect()
    order = [r.rule_id for r in rs.checks]
    first = {}
    for r in sorted(full, key=lambda r: (r.id, order.index(r.rule_id))):
        first.setdefault(r.id, (r.rule_id, r.observed_value))
    got = {r.id: (r.rule_id, r.observed_value)
           for r in row_violations(df, rs, key_cols=["id"], partition_col=None,
                                   abort_early=True).collect()}
    assert got == first


def test_abort_early_warns_of_undercounted_gates(spark, df, rs):
    """abort_early attributes a row to its first failing rule only, so the
    library itself warns that per-rule counts and gates undercount."""
    from lyra_spark.engine import validate

    with pytest.warns(UserWarning, match="undercounts"):
        validate(df, rs, key_cols=["id"], partition_col=None, abort_early=True)


def test_message_excluded_from_fingerprint():
    base = R.enum("s", ["ok"])
    assert with_message(base, "reworded").fingerprint() == base.fingerprint()
    a = RuleSet([base])
    b = RuleSet([with_message(base, "reworded")])
    assert a.fingerprint() == b.fingerprint()  # wording never invalidates checkpoints


def test_message_config_roundtrip():
    rs = RuleSet([
        with_message(R.enum("s", ["ok"]), "custom {value}"),
        R.required("s", rule_id="s_req"),
    ])
    loaded = ruleset_from_json(ruleset_to_json(rs))
    assert loaded.rules[0].message == "custom {value}"
    assert loaded.rules[1].message is None
    assert loaded.fingerprint() == rs.fingerprint()
    with pytest.raises(ValueError, match="message must be a string"):
        ruleset_from_json('[{"kind": "required", "column": "s", "message": 7}]')


def test_message_template_interpolation():
    spec = with_message(R.multiple_of("n", 4), '{column}/{rule_id}: {k} and {value}')
    # returned as segments split on the runtime token, params interpolated
    assert message_template(spec) == ['n/n_multiple_of: 4 and ', '']
    # every kind has a default template
    for kind in ("required", "enum", "range", "items", "has", "array_size", "cast"):
        assert kind in DEFAULT_MESSAGES


def test_message_template_splice_safety(spark):
    """A parameter value containing the literal '{value}' must render as that
    literal — never become a second runtime splice point — and an
    un-interpolated placeholder like '{values}' on a rule without that param
    stays literal (split-before-interpolate contract)."""
    spec = with_message(R.enum("s", ["{value}", "ok"]), "want {values}, got {value}")
    segs = message_template(spec)
    assert segs == ["want ['{value}', 'ok'], got ", ""]
    spec2 = with_message(R.required("s"), "expected {values}")
    assert message_template(spec2) == ["expected {values}"]

    df = spark.createDataFrame([(1, "bad")], "id long, s string")
    got = row_violations(df, RuleSet([spec]), key_cols=["id"], partition_col=None,
                         messages=True).collect()
    assert got[0].message == "want ['{value}', 'ok'], got bad"


def test_messages_plan_stays_single_pass(spark, df, rs):
    out = row_violations(df, rs, key_cols=["id"], partition_col=None,
                         messages=True, abort_early=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Generate" not in plan  # abort_early: element_at, no explode
    assert "EvalPython" not in plan
