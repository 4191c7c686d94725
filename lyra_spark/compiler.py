"""RuleSpec → Catalyst Column compiler.

Each check compiles to a pair ``(pass: Column[boolean, never-null],
observed: Column[string])``; the engine assembles every pair into ONE wide
select (SURVEY.md §2 row 22) so the whole rule family evaluates in a single
shuffle-free, whole-stage-codegen'd pass over the scan. Rule predicates stay
native Column expressions (never opaque UDFs) so Catalyst keeps predicate
pushdown and column pruning (SURVEY.md §4); the single exception is the
``custom`` kind, which is an Arrow-vectorized pandas UDF by contract
(BASELINE.json:6 — never per-row Python).

Null semantics (pinned, SEMANTICS.md): ``required`` fails on NULL; every other
check passes on NULL (lyra optional semantics — validate only what's present).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lyra_spark.rules import FORMAT_REGEX, Cond, RuleSet, RuleSpec, get_custom

RAW_PREFIX = "__raw__"


@dataclass
class CompiledCheck:
    spec: RuleSpec
    passes: Column  # boolean, never null
    observed: Column  # string


def compile_cond(cond: Cond) -> Column:
    col, op, val = cond
    c = F.col(col)
    if op == "==":
        return c == F.lit(val)
    if op == "!=":
        return c != F.lit(val)
    if op == "in":
        return c.isin(*val)
    if op == "notin":
        return ~c.isin(*val)
    if op == "isnull":
        return c.isNull()
    if op == "notnull":
        return c.isNotNull()
    raise ValueError(f"unsupported condition op {op!r}")


def _skip_null_wrap(col: Column, raw_pred: Column) -> Column:
    """NULL input passes; otherwise the predicate, with predicate-NULL ⇒ fail."""
    return F.when(col.isNull(), F.lit(True)).otherwise(F.coalesce(raw_pred, F.lit(False)))


def _check_predicate(spec: RuleSpec, col: Column) -> Column:
    """Raw pass-predicate for one rule kind over the (possibly coerced) column."""
    p = spec.p
    kind = spec.kind
    if kind == "required":
        return col.isNotNull()
    if kind == "forbidden":
        return col.isNull()
    if kind == "nonempty":
        return _skip_null_wrap(col, F.length(col) > 0)
    if kind == "enum":
        return _skip_null_wrap(col, col.isin(*p["values"]))
    if kind == "deny":
        return _skip_null_wrap(col, ~col.isin(*p["values"]))
    if kind == "pattern":
        regex = p["regex"]
        if p.get("full", True):
            # \A..\z, not ^..$: Java's $ matches BEFORE a trailing newline,
            # so 'x\n' would full-match 'x' and diverge from an RE2 oracle
            # (whose un-flagged $ is end-of-text). \A/\z mean end-of-text in
            # both dialects.
            regex = f"\\A(?:{regex})\\z"
        return _skip_null_wrap(col, col.rlike(regex))
    if kind == "format":
        # named format = always-anchored pattern from the public table in
        # rules.py (Java-regex ∩ RE2 subset — cross-engine byte-agreement);
        # \A..\z anchoring for the same trailing-newline reason as `pattern`
        return _skip_null_wrap(col, col.rlike(f"\\A(?:{FORMAT_REGEX[p['name']]})\\z"))
    if kind == "compare":
        other = F.col(p["other"])
        op = p["op"]
        cmp = {
            "==": col == other,
            "!=": col != other,
            "<": col < other,
            "<=": col <= other,
            ">": col > other,
            ">=": col >= other,
        }[op]
        # skip when EITHER side is NULL (SEMANTICS.md: optional semantics on
        # both operands); _skip_null_wrap already passes a NULL left side
        return _skip_null_wrap(col, other.isNull() | cmp)
    if kind == "length":
        pred = F.lit(True)
        if p.get("min") is not None:
            pred = pred & (F.length(col) >= p["min"])
        if p.get("max") is not None:
            pred = pred & (F.length(col) <= p["max"])
        return _skip_null_wrap(col, pred)
    if kind == "range":
        pred = F.lit(True)
        if p.get("min") is not None:
            lo = F.lit(p["min"])
            pred = pred & ((col > lo) if p.get("strict_min") else (col >= lo))
        if p.get("max") is not None:
            hi = F.lit(p["max"])
            pred = pred & ((col < hi) if p.get("strict_max") else (col <= hi))
        return _skip_null_wrap(col, pred)
    if kind == "integer":
        return _skip_null_wrap(col, col == F.floor(col))
    if kind == "multiple_of":
        return _skip_null_wrap(col, F.pmod(col, F.lit(p["k"])) == 0)
    if kind == "cast":
        # pass iff NULL or castable; evaluated on the RAW column.
        return _skip_null_wrap(col, col.try_cast(p["to"]).isNotNull())
    if kind in ("items", "has"):
        # lyra/Joi array().items()/.has(): the element rule compiles through
        # THIS function against the lambda variable — one nested codegen'd
        # expression, no explode, no shuffle, no Python. Element rules are
        # restricted (rules._ITEM_SUBKINDS) to kinds whose predicates are
        # pure single-column expressions, so the recursion is always legal.
        ikind, iparams = p["item"]
        sub = RuleSpec(
            rule_id=f"{spec.rule_id}#item", kind=ikind, column=spec.column, params=iparams
        )
        if kind == "items":
            # ∀ elements; the sub-predicate is already skip-NULL-wrapped, so
            # NULL elements pass content kinds and fail only items(required).
            # forall over NULL array is NULL -> outer wrap passes it.
            return _skip_null_wrap(col, F.forall(col, lambda x: _check_predicate(sub, x)))
        # ∃ a NON-NULL witness: without the isNotNull guard a NULL element
        # would vacuously satisfy any skip-NULL-wrapped content rule.
        # exists over an EMPTY array is False -> has fails (Joi's rule).
        return _skip_null_wrap(
            col, F.exists(col, lambda x: x.isNotNull() & _check_predicate(sub, x))
        )
    if kind == "array_size":
        pred = F.lit(True)
        if p.get("min") is not None:
            pred = pred & (F.size(col) >= p["min"])
        if p.get("max") is not None:
            pred = pred & (F.size(col) <= p["max"])
        return _skip_null_wrap(col, pred)
    if kind == "json_unknown_keys":
        # json_object_keys is NULL for invalid JSON / non-objects -> the
        # isNotNull conjunct makes those FAIL (a broken "object with known
        # keys" expectation), while a NULL column value still skips via the
        # outer wrap (lyra optional semantics)
        keys = F.json_object_keys(col)
        ok = keys.isNotNull() & F.forall(keys, lambda k: k.isin(*p["allowed"]))
        return _skip_null_wrap(col, ok)
    if kind == "any_of":
        # Joi alternatives().try(): OR of the alternatives' own predicates.
        # Each sub-predicate is already skip-NULL-wrapped by its kind, so a
        # NULL value passes every branch (optional semantics) and the OR is
        # never NULL. One codegen'd expression — no extra pass per branch.
        sub_preds = [
            _check_predicate(
                RuleSpec(
                    rule_id=f"{spec.rule_id}#alt",
                    kind=akind,
                    column=spec.column,
                    params=tuple(aparams),
                ),
                col,
            )
            for akind, aparams in p["alts"]
        ]
        pred = sub_preds[0]
        for q in sub_preds[1:]:
            pred = pred | q
        return pred
    if kind == "custom":
        fn = get_custom(spec.rule_id)

        @F.pandas_udf("boolean")
        def _pred(s: pd.Series) -> pd.Series:
            mask = s.notna()
            out = pd.Series(True, index=s.index, dtype="boolean")
            if mask.any():
                out.loc[mask] = pd.Series(fn(s[mask]), index=s[mask].index, dtype="boolean")
            return out.fillna(False)

        # nondeterministic only to the optimizer: it then cannot copy the UDF
        # out of the projection that evaluates it (engine.row_violations), so
        # rows cross into Python once. The user predicate itself must still
        # be deterministic, since a retried task re-runs it.
        return F.coalesce(_pred.asNondeterministic()(col), F.lit(True))
    raise ValueError(f"unknown rule kind {spec.kind!r}")


def message_column(spec: RuleSpec, observed: Column) -> Column:
    """Render the rule's human message as a Column (lyra .messages parity).

    Compile-time placeholders ({column}, {rule_id}, parameter names) are
    already interpolated by rules.message_template; the runtime ``{value}``
    token splices the observed value in ('<NULL>' when NULL) via a literal
    F.concat — pure codegen, no Python."""
    from lyra_spark.rules import message_template

    # message_template splits on the runtime {value} token BEFORE
    # interpolating params (splice-safety — see its docstring) and returns
    # the segments directly
    parts = message_template(spec)
    if len(parts) == 1:
        return F.lit(parts[0])
    obs = F.coalesce(observed, F.lit("<NULL>"))
    segs: list[Column] = []
    for i, p in enumerate(parts):
        if i:
            segs.append(obs)
        if p:
            segs.append(F.lit(p))
    return F.concat(*segs)


def apply_coercions(df: DataFrame, ruleset: RuleSet) -> DataFrame:
    """Rewrite columns per coercion rules, preserving originals as __raw__<col>.

    Order matters (lyra sequential-rule semantics): coercions apply in ruleset
    order, each seeing the previous one's output. A pure projection — no
    shuffle, stays inside whole-stage codegen.
    """
    coerced: set[str] = set()
    for spec in ruleset.coercions:
        c = spec.column
        if "." in c:
            # Nested paths are CHECK-only in v1 (rules.py "nested paths &
            # arrays" note): rewriting a struct field needs a withField
            # chain whose __raw__ preservation has no clean column home.
            # A STRICT cast never rewrites (and needs no raw copy — the
            # field is never coerced, so the check reads it live): allow it.
            if spec.kind == "cast" and spec.p.get("strict"):
                continue
            raise ValueError(
                f"coercion rule {spec.rule_id!r} targets nested path {c!r}: "
                "coercions are top-level-only — project the field to a column "
                "first, or use cast(..., strict=True) for check-only validation"
            )
        if c not in coerced:
            df = df.withColumn(RAW_PREFIX + c, F.col(c))
            coerced.add(c)
        p = spec.p
        if spec.kind == "cast":
            if not p.get("strict"):
                df = df.withColumn(c, F.col(c).try_cast(p["to"]))
        elif spec.kind == "default":
            df = df.withColumn(c, F.coalesce(F.col(c), F.lit(p["value"])))
        elif spec.kind == "transform":
            fn = {
                "trim": F.trim,
                "lower": F.lower,
                "upper": F.upper,
                # trim + collapse internal whitespace runs to one space
                "squish": lambda col: F.regexp_replace(F.trim(col), r"\s+", " "),
            }[p["fn"]]
            df = df.withColumn(c, fn(F.col(c)))
        elif spec.kind == "replace":
            if p.get("regex"):
                df = df.withColumn(c, F.regexp_replace(F.col(c), p["search"], p["replacement"]))
            else:
                # literal substitution: F.replace treats arguments literally
                df = df.withColumn(
                    c, F.replace(F.col(c), F.lit(p["search"]), F.lit(p["replacement"]))
                )
        elif spec.kind == "truncate":
            df = df.withColumn(c, F.substring(F.col(c), 1, p["max_len"]))
    return df


def compile_checks(df: DataFrame, ruleset: RuleSet) -> list[CompiledCheck]:
    """Compile every checking rule against ``df`` (already coerced).

    ``cast`` checks evaluate on the raw column (was the original castable?);
    all other checks see the coerced value, and ``observed_value`` always
    reports the ORIGINAL input (lyra reports what the user supplied).
    """
    cols = set(df.columns)
    out: list[CompiledCheck] = []
    for spec in ruleset.checks:
        raw_name = RAW_PREFIX + spec.column if RAW_PREFIX + spec.column in cols else spec.column
        target = F.col(raw_name) if spec.kind == "cast" else F.col(spec.column)
        pred = _check_predicate(spec, target)
        if spec.when is not None:
            pred = F.when(compile_cond(spec.when), pred).otherwise(F.lit(True))
        observed = F.col(raw_name).cast("string")
        out.append(CompiledCheck(spec=spec, passes=pred, observed=observed))
    return out
