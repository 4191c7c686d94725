"""Validation engine: one-pass violation assembly + per-partition verdicts.

The whole row-rule family evaluates in a single shuffle-free select
(SURVEY.md §2 row 22): every rule contributes a struct(rule_id, ok, observed)
to an array literal; ``filter(array, x -> !x.ok)`` keeps failures; ``explode``
emits one violation row per failure with rule order preserved. At 10^12-turn
scale this is one columnar scan with zero exchanges — verdict roll-ups are the
only aggregations.
"""

from __future__ import annotations

import warnings
from collections.abc import Callable
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lyra_spark.compiler import apply_coercions, compile_checks
from lyra_spark.rules import RuleSet

KEY_COLS = ["conv_id", "turn_idx"]


def ruleset_severities(ruleset: RuleSet) -> dict[str, str] | None:
    """rule_id → severity map for the verdict grid — or None when every rule
    is default-"error", keeping the grid's historical 5-column schema (the
    severity column appears exactly when the ruleset declares non-default
    severities, so a run's verdict schema is constant per ruleset)."""
    if all(r.severity == "error" for r in ruleset.checks):
        return None
    return {r.rule_id: r.severity for r in ruleset.checks}


def ruleset_tolerances(ruleset: RuleSet) -> dict[str, float] | None:
    """rule_id → violation-rate tolerance for the verdict grid — or None when
    every rule is default-0.0 (exact same schema-stability contract as
    ruleset_severities: the tolerance column appears exactly when the ruleset
    declares non-zero tolerances)."""
    if all(r.tolerance == 0.0 for r in ruleset.checks):
        return None
    return {r.rule_id: r.tolerance for r in ruleset.checks}


@dataclass
class ValidationResult:
    violations: DataFrame  # (*key_cols, [partition_col], rule_id, observed_value)
    build_verdicts: Callable[[], DataFrame] = field(repr=False)
    key_cols: list[str]
    partition_col: str | None

    @cached_property
    def verdicts(self) -> DataFrame:
        """([partition_col], rule_id, pass, violation_count, row_count) —
        planned on first read: a caller that rolls up from a written sink
        instead never pays to plan this grid."""
        return self.build_verdicts()

    def violations_sorted(self) -> DataFrame:
        """Stable (conv_id, turn_idx, rule_id) ordering — the byte-match contract."""
        return self.violations.orderBy(*self.key_cols, "rule_id", "observed_value")


def row_violations(
    df: DataFrame,
    ruleset: RuleSet,
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    extra_checks: list[tuple] | None = None,
    messages: bool = False,
    abort_early: bool = False,
) -> DataFrame:
    """Evaluate all row-level rules; one violation row per (row, failed rule).

    ``messages=True`` adds a rendered human ``message`` column (lyra
    .messages parity — compiler.message_column; templates per rule via
    rules.with_message, defaults per kind). ``abort_early=True`` is lyra's
    abortEarly: emit only the FIRST failing rule per row in ruleset order —
    same single scan, the emit just takes element 1 of the failure array
    instead of exploding it (strictly cheaper; per-row short-circuit is
    already how the codegen'd boolean OR evaluates).

    ``extra_checks``: optional (rule_id, passes, observed) triples appended to
    the compiled rule array — the hook by which map-only dataset checks
    (partition placement) ride the SAME scan instead of unioning a second
    pass. ``passes`` must be a never-NULL boolean Column; both columns are
    evaluated on the COERCED frame (after the ruleset's cast/trim rules).

    Each rule's ``passes`` is evaluated once per row, pandas-UDF rules
    included (one ArrowEvalPython node, pinned by a plan test), so the
    pre-filter and the emitted array can never disagree about a row."""
    coerced = apply_coercions(df, ruleset)
    checks = compile_checks(coerced, ruleset)
    if not checks:
        raise ValueError("ruleset has no checking rules")
    triples = [(c.spec.rule_id, c.passes, c.observed) for c in checks] + list(extra_checks or [])
    # Each rule's verdict is projected ONCE into its own column, which both
    # the pre-filter and the struct array below read. Plain predicates cost
    # the same either way (Catalyst inlines them back), but a custom rule's
    # pandas UDF is marked nondeterministic by the compiler, so it stays in
    # this projection: one Python crossing per row, not one in the WHERE
    # plus another in the array.
    oks = [f"__ok{i}__" for i in range(len(triples))]
    evaluated = coerced.select("*", *[ok.alias(name) for (_, ok, _), name in zip(triples, oks)])
    if messages:
        from lyra_spark.compiler import message_column

        # index-aligned with `triples` (checks first, extra_checks after) —
        # never keyed by rule_id: two checks sharing an id would collapse to
        # one message
        msgs = [message_column(c.spec, c.observed) for c in checks] + [
            F.lit(f'"{rid}" failed') for rid, _, _ in (extra_checks or [])
        ]
    arr = F.array(
        *[
            F.struct(
                F.lit(rid).alias("rule_id"),
                F.col(name).alias("ok"),
                obs.alias("observed_value"),
                *([msgs[i].alias("message")] if messages else []),
            )
            for i, ((rid, _, obs), name) in enumerate(zip(triples, oks))
        ]
    )
    # Violation pre-filter: rows pass a rule unless ok is literally False
    # (NULL ok is dropped by the array filter below), so `ok == False` for ANY
    # rule is exactly the emit condition. Evaluating this cheap boolean OR
    # first means the clean ~99% of rows never build the struct array — whose
    # observed_value string-casts and per-row allocations dominate the
    # scan's CPU at 10^12 rows — and the filter prunes them in the same
    # codegen stage (no extra pass).
    any_fail = None
    for name in oks:
        cond = F.col(name).eqNullSafe(F.lit(False))
        any_fail = cond if any_fail is None else (any_fail | cond)
    keep = list(key_cols) + ([partition_col] if partition_col else [])
    out_cols = [F.col("v.rule_id").alias("rule_id"), F.col("v.observed_value").alias("observed_value")]
    if messages:
        out_cols.append(F.col("v.message").alias("message"))
    failed = F.filter(arr, lambda x: ~x["ok"])
    if abort_early:
        # the any_fail pre-filter guarantees the array is non-empty here
        picked = evaluated.where(any_fail).select(*keep, F.element_at(failed, 1).alias("v"))
    else:
        picked = evaluated.where(any_fail).select(*keep, F.explode(failed).alias("v"))
    return picked.select(*keep, *out_cols)


def clean_rows(
    df: DataFrame,
    ruleset: RuleSet,
    extra_fail: list | None = None,
) -> DataFrame:
    """The quarantine complement of row_violations: rows where NO rule fails
    — the validated table a pipeline writes downstream. Values are the
    COERCED ones (casts, trims, defaults applied), which is the point of a
    validating ingest; columns are the input's.

    Plan shape: one map-only codegen filter on the scan — NOT an anti-join
    against the violations frame (joining 10^12 rows to their own violation
    set shuffles the whole table to subtract <1% of it; re-evaluating the
    compiled predicates costs one scan and zero exchanges, and Catalyst
    shares the scan when both outputs are written in one job).

    Same semantics as row_violations' emit filter: a rule only dis-qualifies
    a row when its ``passes`` is literally False (NULL = rule not applicable
    to this row, e.g. a range rule on a NULL value). ``extra_fail`` lets
    callers AND in extra boolean Columns that also disqualify (e.g. keys
    flagged by dataset-level checks, pre-joined as a boolean)."""
    coerced, cond = _fail_condition(df, ruleset, extra_fail)
    return coerced.where(~cond).select(*df.columns)


def quarantine_rows(
    df: DataFrame,
    ruleset: RuleSet,
    extra_fail: list | None = None,
) -> DataFrame:
    """The exact complement of clean_rows: rows where AT LEAST one rule's
    ``passes`` is literally False (or any ``extra_fail`` condition holds) —
    the quarantine table an ingest routes aside for triage, with FULL
    columns (the violation sink records only keys + rule + observed value).
    Same coerced values and the same map-only codegen-filter plan as
    clean_rows; clean ∪ quarantine partitions the input exactly BY
    CONSTRUCTION — both filter the same _fail_condition, one negated, so no
    future edit can split their semantics (and no row is dropped or
    doubled, pinned in tests)."""
    coerced, cond = _fail_condition(df, ruleset, extra_fail)
    return coerced.where(cond).select(*df.columns)


def _fail_condition(df: DataFrame, ruleset: RuleSet, extra_fail: list | None):
    """(coerced frame, never-NULL boolean: does ANY rule fail this row) —
    the single source of the clean/quarantine split. A rule fails only when
    its ``passes`` is literally False (NULL = not applicable); extra_fail
    conditions coalesce NULL to False the same way."""
    coerced = apply_coercions(df, ruleset)
    checks = compile_checks(coerced, ruleset)
    if not checks:
        raise ValueError("ruleset has no checking rules")
    cond = F.lit(False)
    for c in checks:
        cond = cond | c.passes.eqNullSafe(F.lit(False))
    for extra in extra_fail or []:
        cond = cond | F.coalesce(extra, F.lit(False))
    return coerced, cond


def compute_verdicts(
    df: DataFrame,
    violations: DataFrame,
    rule_ids: list[str],
    partition_col: str | None = "part_date",
    severities: dict[str, str] | None = None,
    tolerances: dict[str, float] | None = None,
    row_counts: DataFrame | None = None,
) -> DataFrame:
    """Per (partition, rule) pass/fail with counts (BASELINE.json:6,14) — the
    one verdict-grid builder. ``partition_col=None`` builds the whole-table
    grid, one row per rule: the same plan over an empty grouping key.

    The (partitions × rules) grid is tiny (dates × ~dozen rules) — each
    partition's count row expands into one row per rule in the projection
    (no join, no rule frame to broadcast), so the whole roll-up is two small
    hash aggregations over pre-aggregated counts, never a shuffle of raw rows.

    ``severities`` (rule_id → "error"/"warn"): when given, the grid gains a
    ``severity`` column (unknown rule_ids — e.g. dataset checks — default
    "error"); ``pass`` stays FACTUAL (within tolerance) regardless —
    severity changes what GATES a partition (partition_pass), never what is
    reported. Omitted (the default), the output schema is unchanged.

    ``tolerances`` (rule_id → max violation fraction, Deequ/GE "mostly"
    semantics): when given, the grid gains a ``tolerance`` column (unknown
    rule_ids default 0.0) and ``pass`` becomes violation_count ≤
    tolerance · row_count — the rule's verdict, since a tolerance rule IS
    satisfied within threshold. violation_count stays the raw count.

    ``row_counts`` (partition_col, row_count): the grid's partitions and
    their row counts, e.g. from table metadata (see
    presets.verdicts_from_metadata), so ``df`` is never scanned for
    counting. Omitted, one count aggregate over ``df`` supplies them.

    ``violations`` may also be counted already: (partition_col, rule_id,
    violation_count) rows, one per cell, e.g. observed on the sink write
    (presets.counted_violations). A cell matches its grid row on the string
    form of the partition value, so a string key column serves any
    partition type.
    """
    keys = [partition_col] if partition_col else []
    rows = (
        row_counts
        if row_counts is not None
        else df.groupBy(*keys).agg(F.count(F.lit(1)).alias("row_count"))
    )
    cells = []
    for rid in rule_ids:
        cell = [F.lit(rid).alias("rule_id")]
        if severities is not None:
            cell.append(F.lit(severities.get(rid, "error")).alias("severity"))
        if tolerances is not None:
            cell.append(F.lit(float(tolerances.get(rid, 0.0))).alias("tolerance"))
        cells.append(F.struct(*cell))
    grid = rows.select(*keys, "row_count", F.inline(F.array(*cells)))
    vc = (
        violations
        if "violation_count" in violations.columns
        else violations.groupBy(*keys, "rule_id").agg(F.count(F.lit(1)).alias("violation_count"))
    )
    # NULL-sentineled join key: an equi-join never matches NULL = NULL, so
    # the NULL partition's violation counts would never reach its grid row
    # and it would verdict pass=True with real violations outstanding —
    # a silent false pass on exactly the stray rows partition_scope fights
    # to keep in the loop. Without a partition column the key is the
    # constant sentinel, and the join matches on rule_id alone.
    pk = F.coalesce(*[F.col(k).cast("string") for k in keys], F.lit("\x00NULL"))
    out_cols = [*keys, "rule_id", "pass", "violation_count", "row_count"]
    if severities is not None:
        out_cols.append("severity")
    if tolerances is not None:
        out_cols.append("tolerance")
    joined = (
        grid.withColumn("__pk", pk)
        .join(vc.withColumn("__pk", pk).drop(*keys), ["__pk", "rule_id"], "left")
        .drop("__pk")
        .withColumn("violation_count", F.coalesce(F.col("violation_count"), F.lit(0)))
    )
    return joined.withColumn("pass", _within_tolerance(joined.columns)).select(*out_cols)


def _within_tolerance(columns: list[str]) -> Column:
    """A verdict-grid cell's own pass: violation_count ≤ tolerance ·
    row_count when the grid (``columns``) carries a tolerance column, else
    zero violations. A NULL tolerance cell (column-mismatched unions) is
    strict."""
    vc = F.col("violation_count")
    if "tolerance" not in columns:
        return vc == 0
    return vc <= F.coalesce(F.col("tolerance"), F.lit(0.0)) * F.col("row_count")


def partition_pass(verdicts: DataFrame, partition_col: str = "part_date") -> DataFrame:
    """Per-partition overall verdict from a verdict grid: a partition passes
    iff every GATING rule is within tolerance (zero violations unless the
    grid carries a ``tolerance`` column). Rules with severity "warn" never
    gate (lyra severity semantics: warn = report, don't fail) — their counts
    still surface as ``warn_violations``. A grid without a severity column
    (compute_verdicts default) gates on every rule. Driver-scale input
    (partitions × rules), one tiny aggregation."""
    sev = (
        # coalesce: a NULL severity cell (e.g. a 5-col grid unioned into a
        # 6-col one with allowMissingColumns) must fail SAFE as gating —
        # sev != 'warn' on NULL is NULL, which would drop the row from BOTH
        # error_violations and warn_violations
        F.coalesce(F.col("severity"), F.lit("error"))
        if "severity" in verdicts.columns
        else F.lit("error")
    )
    gating = sev != "warn"
    vc = F.col("violation_count")
    return verdicts.groupBy(partition_col).agg(
        F.min(F.when(gating, _within_tolerance(verdicts.columns)).otherwise(F.lit(True))).alias("pass"),
        F.sum(F.when(gating, vc).otherwise(F.lit(0))).alias("error_violations"),
        F.sum(F.when(~gating, vc).otherwise(F.lit(0))).alias("warn_violations"),
        F.max("row_count").alias("row_count"),
    )


def verdict_gate(rows) -> bool:
    """partition_pass's gate over ONE partition's already-collected verdict
    rows (``Row``s or dicts), evaluated driver-side without a Spark job: True
    iff every gating rule is within tolerance. Same cell semantics: a "warn"
    severity never gates, a NULL severity gates, a NULL tolerance is strict,
    and without a tolerance cell a rule passes only at zero violations."""
    for r in rows:
        d = r if isinstance(r, dict) else r.asDict()
        if (d.get("severity") or "error") == "warn":
            continue
        limit = (d["tolerance"] or 0.0) * d["row_count"] if "tolerance" in d else 0
        if d["violation_count"] > limit:
            return False
    return True


def validate(
    df: DataFrame,
    ruleset: RuleSet,
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    messages: bool = False,
    abort_early: bool = False,
) -> ValidationResult:
    """Run the row-rule family and roll up per-partition verdicts (one row
    per rule when ``partition_col`` is None). The dataset-level checks join
    the suite in fused.validate_transcripts_fused, or run as the standalone
    lyra_spark.checks operators.

    ``abort_early=True`` warns: each failing row then counts toward its
    first failing rule only, so every later rule's verdict count, and any
    per-rule gate built from these violations, is an undercount.
    """
    if abort_early:
        warnings.warn(
            "abort_early attributes each row to its FIRST failing rule only; "
            "per-rule verdict counts and gates see undercounts — drop it for gating runs",
            stacklevel=2,
        )
    viol = row_violations(df, ruleset, key_cols, partition_col,
                          messages=messages, abort_early=abort_early)
    rule_ids = [r.rule_id for r in ruleset.checks]
    return ValidationResult(
        violations=viol,
        build_verdicts=lambda: compute_verdicts(df, viol, rule_ids, partition_col,
                                                severities=ruleset_severities(ruleset),
                                                tolerances=ruleset_tolerances(ruleset)),
        key_cols=list(key_cols), partition_col=partition_col,
    )


def violation_samples(
    violations: DataFrame,
    k: int = 5,
    key_cols: list[str] = KEY_COLS,
    group_cols: list[str] = ("rule_id",),
) -> DataFrame:
    """Up to ``k`` example violations per rule (or per (partition, rule) —
    pass group_cols), in stable key order, with the group's total count —
    what a human actually reads in a data-quality report. A rule violated
    10⁸ times contributes k rows + one count, never 10⁸ rows.

    Plan shape: the sample window is a pure row_number ≤ k, so Spark's
    partial WindowGroupLimit prunes each map task to k rows BEFORE its
    exchange (a count-over-group window on the same frame would defeat that
    pruning — it needs every row — so totals come from a separate groupBy
    whose output is one row per group, joined back broadcast-small)."""
    from pyspark.sql import Window

    group_cols = list(group_cols)
    # observed_value tiebreak: duplicate keys (uniqueness's finding) would
    # otherwise leave the sampled subset to shuffle arbitration — the report
    # must be byte-stable like the sink it summarizes
    w = Window.partitionBy(*group_cols).orderBy(*key_cols, "observed_value")
    # the rank casts to bigint AFTER the filter: row_number is int32, and a
    # cast inside the predicate would hide it from the WindowGroupLimit rule
    samples = violations.withColumn("sample_rank", F.row_number().over(w)).filter(
        F.col("sample_rank") <= k
    ).withColumn("sample_rank", F.col("sample_rank").cast("long"))
    totals = violations.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("group_total"))
    # no broadcast hint: totals is one row per group, usually tiny, but
    # group_cols=(partition, rule) at 10⁵ partitions is 10⁶+ rows — let AQE
    # pick broadcast from the MEASURED size instead of forcing it
    return samples.join(totals, group_cols)
