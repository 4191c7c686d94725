"""Unit tests per rule compiler (SURVEY.md §5.3) — tiny frames, edge cases."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyra_spark import rules as R
from lyra_spark.engine import row_violations
from lyra_spark.rules import RuleSet


def run(spark, rows, schema, ruleset):
    df = spark.createDataFrame(rows, schema)
    v = row_violations(df, ruleset, key_cols=["id"], partition_col=None)
    return {(r.id, r.rule_id, r.observed_value) for r in v.collect()}


def test_required_and_nonempty(spark):
    got = run(
        spark,
        [(1, "hi"), (2, None), (3, ""), (4, " ")],
        "id int, text string",
        RuleSet([R.required("text", rule_id="req"), R.nonempty("text", rule_id="ne")]),
    )
    assert got == {(2, "req", None), (3, "ne", "")}


def test_enum_and_deny(spark):
    got = run(
        spark,
        [(1, "user"), (2, "robot"), (3, None), (4, "USER")],
        "id int, role string",
        RuleSet([R.enum("role", ["user", "assistant"], rule_id="enum"), R.deny("role", ["USER"], rule_id="deny")]),
    )
    assert got == {(2, "enum", "robot"), (4, "enum", "USER"), (4, "deny", "USER")}


def test_pattern_full_vs_partial(spark):
    rs = RuleSet(
        [
            R.pattern("s", "[a-z]+", rule_id="full"),
            R.pattern("s", "[a-z]+", full=False, rule_id="part"),
        ]
    )
    got = run(spark, [(1, "abc"), (2, "abc1"), (3, "123"), (4, None)], "id int, s string", rs)
    assert got == {(2, "full", "abc1"), (3, "full", "123"), (3, "part", "123")}


def test_range_strict_and_inclusive(spark):
    rs = RuleSet(
        [
            R.range_rule("v", min=0, max=10, rule_id="incl"),
            R.range_rule("v", min=0, strict_min=True, rule_id="strict"),
        ]
    )
    got = run(spark, [(1, 0), (2, 10), (3, -1), (4, 11), (5, None)], "id int, v int", rs)
    assert got == {(3, "incl", "-1"), (4, "incl", "11"), (3, "strict", "-1"), (1, "strict", "0")}


def test_length_bounds(spark):
    rs = RuleSet([R.length("s", min=2, max=4, rule_id="len")])
    got = run(spark, [(1, "ab"), (2, "a"), (3, "abcde"), (4, None), (5, "")], "id int, s string", rs)
    assert got == {(2, "len", "a"), (3, "len", "abcde"), (5, "len", "")}


def test_integer_and_multiple(spark):
    rs = RuleSet([R.integer("v", rule_id="int"), R.multiple_of("v", 2, rule_id="mul")])
    got = run(spark, [(1, 4.0), (2, 4.5), (3, 3.0), (4, None)], "id int, v double", rs)
    assert got == {(2, "int", "4.5"), (2, "mul", "4.5"), (3, "mul", "3.0")}


def test_forbidden(spark):
    rs = RuleSet([R.forbidden("s", rule_id="forb")])
    got = run(spark, [(1, None), (2, "x")], "id int, s string", rs)
    assert got == {(2, "forb", "x")}


def test_cast_convert_coerces_and_flags(spark):
    """Convert mode: un-castable ⇒ violation; downstream rules see coerced value;
    observed_value reports the ORIGINAL string (lyra reports user input)."""
    rs = RuleSet(
        [
            R.cast("v", "int", rule_id="cast"),
            R.range_rule("v", min=0, rule_id="rng"),
        ]
    )
    got = run(spark, [(1, "7"), (2, "x7"), (3, "-3"), (4, None)], "id int, v string", rs)
    assert got == {(2, "cast", "x7"), (3, "rng", "-3")}


def test_cast_strict_no_rewrite(spark):
    rs = RuleSet([R.cast("v", "int", strict=True, rule_id="cast")])
    got = run(spark, [(1, "7"), (2, "x7")], "id int, v string", rs)
    assert got == {(2, "cast", "x7")}


def test_default_and_transform_feed_later_rules(spark):
    rs = RuleSet(
        [
            R.transform("s", "trim"),
            R.transform("s", "lower", rule_id="s_lower"),
            R.default("s", "user"),
            R.enum("s", ["user", "assistant"], rule_id="enum"),
        ]
    )
    got = run(spark, [(1, " USER "), (2, None), (3, "bot")], "id int, s string", rs)
    # ' USER ' → trim→lower = 'user' passes; None → default 'user' passes; 'bot' fails.
    # observed_value reports the raw input.
    assert got == {(3, "enum", "bot")}


def test_conditional_rule(spark):
    base = R.required("tool", rule_id="tool_req")
    rs = RuleSet([R.conditional(base, when=("role", "==", "tool"))])
    got = run(
        spark,
        [(1, "tool", None), (2, "user", None), (3, "tool", "t1")],
        "id int, role string, tool string",
        rs,
    )
    assert got == {(1, "tool_req", None)}


def test_custom_pandas_predicate(spark):
    rs = RuleSet([R.custom("s", lambda s: s.str.len() % 2 == 0, rule_id="even_len")])
    got = run(spark, [(1, "ab"), (2, "abc"), (3, None)], "id int, s string", rs)
    assert got == {(2, "even_len", "abc")}


def test_custom_rule_crosses_into_python_once(spark):
    """A custom rule's pandas UDF runs in ONE ArrowEvalPython node: the
    pre-filter and the emitted struct array read the same projected verdict
    (the filter still prunes clean rows before the array is built), and the
    output matches the per-rule semantics, with abort-early and messages."""
    from test_plan_shapes import plan_str

    rs = RuleSet([
        R.custom("s", lambda s: s.str.len() % 2 == 0, rule_id="even_len"),
        R.required("s", rule_id="s_req"),
    ])
    df = spark.createDataFrame([(1, "ab"), (2, "abc"), (3, None)], "id int, s string")
    for kw in ({}, {"abort_early": True}, {"messages": True}):
        v = row_violations(df, rs, key_cols=["id"], partition_col=None, **kw)
        plan = plan_str(v, "simple")
        assert plan.count("ArrowEvalPython") == 1, plan
        assert "Filter" in plan, plan
        got = {(r.id, r.rule_id) for r in v.collect()}
        assert got == {(2, "even_len"), (3, "s_req")}


def test_duplicate_rule_id_rejected():
    with pytest.raises(ValueError):
        RuleSet([R.required("a", rule_id="x"), R.required("b", rule_id="x")])


def test_rule_order_preserved_in_output(spark):
    """Violations for one row keep ruleset order pre-sort (lyra error order)."""
    rs = RuleSet([R.length("s", min=5, rule_id="z_len"), R.pattern("s", "[0-9]+", rule_id="a_pat")])
    df = spark.createDataFrame([(1, "ab")], "id int, s string")
    v = row_violations(df, rs, key_cols=["id"], partition_col=None).collect()
    assert [r.rule_id for r in v] == ["z_len", "a_pat"]


def test_transition_violations(spark):
    """Role-alternation: disallowed (prev -> cur) pairs and a bad first role
    fire; allowed sequences are silent; NULL keys are excluded."""
    from lyra_spark import checks

    rows = [
        # c1: system, user, assistant — clean
        ("c1", 0, "system"), ("c1", 1, "user"), ("c1", 2, "assistant"),
        # c2: starts with assistant (bad first), then assistant->assistant (bad pair)
        ("c2", 0, "assistant"), ("c2", 1, "assistant"),
        # c3: user -> tool is not allowed below
        ("c3", 0, "system"), ("c3", 1, "user"), ("c3", 2, "tool"),
        # NULL-key row: excluded entirely
        (None, 0, "assistant"),
        # NULL role: surfaces as <NULL> in the pair
        ("c4", 0, "system"), ("c4", 1, None),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, role string")
    allowed = {
        ("system", "user"), ("user", "assistant"),
        ("assistant", "user"), ("assistant", "tool"), ("tool", "assistant"),
    }
    got = {
        (r.conv_id, r.turn_idx, r.observed_value)
        for r in checks.transition_violations(
            df, allowed, allowed_first={"system"}, partition_col=None
        ).collect()
    }
    assert got == {
        ("c2", 0, "<FIRST>->assistant"),
        ("c2", 1, "assistant->assistant"),
        ("c3", 2, "user->tool"),
        ("c4", 1, "system-><NULL>"),
    }


def test_transition_violations_any_first(spark):
    from lyra_spark import checks

    df = spark.createDataFrame(
        [("c1", 0, "user"), ("c1", 1, "user")], "conv_id string, turn_idx int, role string"
    )
    got = checks.transition_violations(
        df, {("user", "assistant")}, allowed_first=None, partition_col=None
    ).collect()
    assert [(r.turn_idx, r.observed_value) for r in got] == [(1, "user->user")]


def test_clean_rows_partitions_table_and_applies_coercions(spark):
    """Every row is either clean or carries >=1 violation — never both, never
    neither; clean output returns COERCED values with the input's columns."""
    from lyra_spark.engine import clean_rows

    rs = RuleSet(
        [
            R.transform("s", "trim"),
            R.required("s", rule_id="s_req"),
            R.length("s", min=2, rule_id="s_len"),
            R.range_rule("v", min=0, rule_id="v_range"),
        ]
    )
    df = spark.createDataFrame(
        [(1, "  ok ", 5), (2, "x", 5), (3, None, 5), (4, "fine", -1), (5, "a b", None)],
        "id int, s string, v int",
    )
    clean = clean_rows(df, rs)
    got = {(r.id, r.s, r.v) for r in clean.collect()}
    # id=1 survives WITH the trim applied; NULL v (id=5) passes range (not applicable)
    assert got == {(1, "ok", 5), (5, "a b", None)}
    assert clean.columns == df.columns
    dirty_ids = {r.id for r in row_violations(df, rs, key_cols=["id"], partition_col=None).collect()}
    assert dirty_ids == {2, 3, 4}
    assert dirty_ids | {r[0] for r in got} == {1, 2, 3, 4, 5}


def test_clean_rows_extra_fail(spark):
    from pyspark.sql import functions as F

    from lyra_spark.engine import clean_rows

    rs = RuleSet([R.required("s", rule_id="s_req")])
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    out = clean_rows(df, rs, extra_fail=[F.col("id") == 2])
    assert [r.id for r in out.collect()] == [1]


def test_contiguity_violations(spark):
    """Gap, head-offset, and duplicate-masking cases; clean convs absent."""
    from lyra_spark.checks import contiguity_violations

    rows = [
        ("a", 0), ("a", 1), ("a", 2),          # dense from 0 — clean
        ("b", 0), ("b", 1), ("b", 3),          # gap at 2
        ("c", 1), ("c", 2),                    # starts at 1, not 0
        ("d", 0), ("d", 0), ("d", 1),          # duplicate idx, still dense — clean here
        ("e", 0), ("e", 2), ("e", 2),          # duplicate must NOT mask the gap
        (None, 0), ("f", None),                # NULL keys excluded entirely
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int")
    got = {r.conv_id: r for r in contiguity_violations(df).collect()}
    assert set(got) == {"b", "c", "e"}
    assert got["b"].n_missing == 1 and got["b"].n_turns == 3 and got["b"].max_idx == 3
    assert got["c"].min_idx == 1 and got["c"].n_missing == 1
    assert got["e"].n_turns == 2 and got["e"].n_missing == 1
    assert "f" not in got

    # base=1 semantics (lineitem-style numbering)
    df2 = spark.createDataFrame([("x", 1), ("x", 2), ("y", 2)], "conv_id string, turn_idx int")
    got2 = {r.conv_id for r in contiguity_violations(df2, base=1).collect()}
    assert got2 == {"y"}


def test_ruleset_json_roundtrip_preserves_fingerprint():
    """Code-built → to_json → from_json must fingerprint identically —
    moving a ruleset from code to config must not invalidate checkpoints."""
    rs = RuleSet(
        [
            R.required("text", rule_id="text_required"),
            R.nonempty("text", rule_id="text_nonempty"),
            R.enum("role", ["user", "assistant", "tool", "system"], rule_id="role_enum"),
            R.range_rule("turn_idx", min=0, rule_id="turn_idx_range"),
            R.pattern("conv_id", "c[0-9]+", rule_id="conv_pat"),
            R.length("text", min=1, max=100000, rule_id="text_len"),
            R.cast("turn_idx", "int", rule_id="idx_cast"),
            R.transform("role", "lower", rule_id="role_lower"),
            R.conditional(R.required("tool", rule_id="tool_iff"), ("role", "==", "tool")),
            R.multiple_of("turn_idx", 1, rule_id="idx_mult"),
        ]
    )
    text = R.ruleset_to_json(rs)
    back = R.ruleset_from_json(text)
    assert back.fingerprint() == rs.fingerprint()
    assert [r.rule_id for r in back] == [r.rule_id for r in rs]


def test_ruleset_json_matches_preset():
    from lyra_spark.presets import transcript_ruleset

    rs = transcript_ruleset()
    assert R.ruleset_from_json(R.ruleset_to_json(rs)).fingerprint() == rs.fingerprint()


def test_ruleset_from_json_rejects_typos():
    with pytest.raises(ValueError, match="unknown kind"):
        R.ruleset_from_json('[{"kind": "requird", "column": "text"}]')
    with pytest.raises(ValueError, match="unknown parameter"):
        R.ruleset_from_json('[{"kind": "range", "column": "x", "mim": 0}]')
    with pytest.raises(ValueError, match="not registered"):
        R.ruleset_from_json('[{"kind": "custom", "column": "x", "rule_id": "nope"}]')
    with pytest.raises(ValueError, match="known op"):
        R.ruleset_from_json('[{"kind": "required", "column": "x", "when": ["y", "===", 1]}]')
    with pytest.raises(ValueError, match="column"):
        R.ruleset_from_json('[{"kind": "required"}]')


def test_ruleset_from_json_compiles_and_validates(spark, tmp_path):
    """A config-file ruleset must actually validate: load from a PATH,
    run row_violations, check the conditional fires only where 'when' holds."""
    cfg = tmp_path / "rules.json"
    cfg.write_text(
        """
        [
          {"kind": "required", "column": "text", "rule_id": "text_required"},
          {"kind": "required", "column": "tool", "rule_id": "tool_required",
           "when": ["role", "==", "tool"]}
        ]
        """
    )
    rs = R.ruleset_from_json(str(cfg))
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1", "c1"],
                "turn_idx": [0, 1, 2],
                "role": ["user", "tool", "tool"],
                "text": ["hi", "ok", None],
                "tool": [None, None, "search"],
            }
        )
    )
    out = row_violations(df, rs, key_cols=["conv_id", "turn_idx"], partition_col=None)
    got = {(r.turn_idx, r.rule_id) for r in out.collect()}
    assert got == {(1, "tool_required"), (2, "text_required")}


def test_ruleset_custom_from_config(spark):
    """custom rules load from config when the predicate is pre-registered."""
    R.custom("value", lambda s: s < 50, rule_id="under50")
    rs = R.ruleset_from_json('[{"kind": "custom", "column": "value", "rule_id": "under50"}]')
    assert rs.fingerprint() == RuleSet(
        [R.custom("value", lambda s: s < 50, rule_id="under50")]
    ).fingerprint()


def test_ruleset_from_json_rejects_non_object_items():
    with pytest.raises(ValueError, match="expected a JSON object"):
        R.ruleset_from_json('["required"]')


def test_sequence_checks_accept_out_of_key_group_columns(spark):
    """transition/monotone with a group/order column OUTSIDE key_cols
    (session-keyed sequences) must not crash with UNRESOLVED_COLUMN — the
    pre-window projection has to carry the window's own columns."""
    import datetime

    from lyra_spark.checks import monotone_violations, transition_violations

    t = lambda m: datetime.datetime(2024, 1, 1, 12, m)
    df = spark.createDataFrame(
        [("c1", 0, "s9", 0, "user", t(1)),
         ("c1", 1, "s9", 1, "assistant", t(0))],  # ts goes backward in s9
        "conv_id string, turn_idx int, session_id string, seq int, role string, ts timestamp",
    )
    tv = transition_violations(
        df, allowed={("assistant", "user")}, group_col="session_id",
        order_col="seq", partition_col=None,
    ).collect()
    assert {(r.conv_id, r.turn_idx) for r in tv} == {("c1", 1)}
    mv = monotone_violations(
        df, group_col="session_id", order_col="seq", partition_col=None
    ).collect()
    assert {(r.conv_id, r.turn_idx) for r in mv} == {("c1", 1)}


def test_any_of_alternatives(spark):
    """Joi alternatives().try(): pass iff ANY content alternative accepts;
    NULL passes (optional); when-gatable; config round-trip preserves the
    fingerprint; misuse raises at build/load."""
    import pytest as _pytest

    from lyra_spark import rules as R
    from lyra_spark.engine import row_violations
    from lyra_spark.rules import RuleSet, any_of, ruleset_from_json, ruleset_to_json

    rule = any_of(
        "v",
        [R.integer("v"), R.range_rule("v", min=0.0, max=1.0)],
        rule_id="int_or_unit",
    )
    rows = [
        (1, 3.0),    # integer -> pass
        (2, 0.25),   # in [0,1] -> pass
        (3, 2.5),    # neither -> violation
        (4, None),   # NULL -> pass (optional)
        (5, 1.0),    # both -> pass
        (6, -3.7),   # neither -> violation
    ]
    df = spark.createDataFrame(rows, "id bigint, v double")
    viol = row_violations(df, RuleSet([rule]), key_cols=["id"], partition_col=None)
    assert {r["id"] for r in viol.collect()} == {3, 6}

    # when-gating applies to the whole any_of
    gated = any_of(
        "v", [R.integer("v"), R.range_rule("v", min=0.0, max=1.0)],
        rule_id="gated", when=("id", "==", 3),
    )
    viol2 = row_violations(df, RuleSet([gated]), key_cols=["id"], partition_col=None)
    assert {r["id"] for r in viol2.collect()} == {3}

    # config round-trip: builder-built == config-built, fingerprint-equal
    rs = RuleSet([rule])
    rs2 = ruleset_from_json(ruleset_to_json(rs))
    assert rs2.fingerprint() == rs.fingerprint()
    assert rs2.rules[0].p["alts"] == rule.p["alts"]
    cfg = ruleset_to_json(rs)
    assert '"alternatives"' in cfg and '"alts"' not in cfg

    with _pytest.raises(ValueError, match="at least two"):
        any_of("v", [R.integer("v")])
    with _pytest.raises(ValueError, match="not allowed"):
        any_of("v", [R.required("v"), R.integer("v")])
    with _pytest.raises(ValueError, match="targets"):
        any_of("v", [R.integer("w"), R.integer("v")])
    with _pytest.raises(ValueError, match="own 'when'"):
        any_of("v", [R.conditional(R.integer("v"), ("id", "==", 1)), R.nonempty("v")])
    with _pytest.raises(ValueError, match="alternatives"):
        ruleset_from_json('[{"kind": "any_of", "column": "v"}]')
    with _pytest.raises(ValueError, match="kind must be one of"):
        ruleset_from_json(
            '[{"kind": "any_of", "column": "v", "alternatives": '
            '[{"kind": "custom"}, {"kind": "integer"}]}]'
        )
    with _pytest.raises(ValueError, match="unknown parameter"):
        ruleset_from_json(
            '[{"kind": "any_of", "column": "v", "alternatives": '
            '[{"kind": "range", "mim": 0}, {"kind": "integer"}]}]'
        )
