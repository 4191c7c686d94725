"""Fused full-suite validation: minimum-pass plan for the transcript suite.

The composable operators in checks.py each scan the table; correct, but at
100 TB the scan count dominates. This module computes the ENTIRE suite in:

  pass 1 (no shuffle):   row rules + referential — the tools dimension is tiny
                         (50 rows), so instead of a broadcast anti-join it is
                         collected once and compiled INTO the single-pass rule
                         select as an `isin` check (a broadcast join without
                         the join);
  pass 2 (ONE shuffle):  repartition by conv_id feeds BOTH per-conversation
                         checks — duplicate keys via a count window over
                         (conv_id, turn_idx, part_date) and monotone ordering
                         via lag over (conv_id; turn_idx, ts) — one exchange
                         instead of two.

This is the one suite planner; it needs a partition column. The checks.py
operators stay as standalone operators (and the reference the fused plan is
tested against), not as a second suite mode:
  * checks.uniqueness_violations (salted two-phase agg) is the right shape
    when duplicate multiplicity itself is skewed; the window variant puts one
    conversation in one task, which the BASELINE accepts for monotone anyway
    (hot conv ≈ 10% of rows — bounded).
  * checks.referential_violations (broadcast anti-join) is the right shape for
    dimensions too big to inline as literals (≳ thousands of values).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from lyra_spark.checks import (
    MONO_RULE,
    PLACEMENT_RULE,
    REF_RULE,
    TRANSITION_RULE,
    UNIQ_RULE,
    placement_check,
    transition_predicate,
    transition_state,
)
from lyra_spark.engine import ValidationResult, compute_verdicts, row_violations
from lyra_spark.rules import RuleSet, enum
from lyra_spark.schema import KEY_COLUMNS, PARTITION_COLUMN


def inline_referential_rule(df_dim: DataFrame, fk_col: str = "tool", dim_col: str = "tool_name", rule_id: str = REF_RULE):
    """Compile the referential check as an enum rule from the collected dim.

    Legitimate only for genuinely small dimensions — the value list becomes a
    literal in the plan (and an executor-side hash set), exactly what a
    broadcast join would ship, minus the join machinery."""
    values = [r[0] for r in df_dim.select(dim_col).distinct().collect()]
    return enum(fk_col, values, rule_id=rule_id)


def with_referential_rule(ruleset: RuleSet, tools_dim: DataFrame) -> RuleSet:
    """``ruleset`` plus the referential rule inlined from ``tools_dim``,
    unless the ruleset already carries REF_RULE (then the dim is not read)."""
    if any(r.rule_id == REF_RULE for r in ruleset.rules):
        return ruleset
    return RuleSet(ruleset.rules + [inline_referential_rule(tools_dim)])


def suite_rule_ids(ruleset: RuleSet, transitions: bool = False, placement: bool = False) -> list[str]:
    """The full suite's verdict-grid rule ids, in grid order: the ruleset's
    checks, then the referential/uniqueness/monotone dataset checks (unless
    the ruleset already carries them), then the transition and placement
    checks when enabled."""
    ids = [r.rule_id for r in ruleset.checks]
    ids += [rid for rid in (REF_RULE, UNIQ_RULE, MONO_RULE) if rid not in ids]
    if transitions:
        ids.append(TRANSITION_RULE)
    if placement:
        ids.append(PLACEMENT_RULE)
    return ids


def conv_scoped_violations(
    df: DataFrame,
    key_cols: list[str] = KEY_COLUMNS,
    partition_col: str = PARTITION_COLUMN,
    group_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    bucket_turns: int = 4096,
    partition_from_ts: bool = True,
    transitions: set | None = None,
    allowed_first: set | None = None,
    state_col: str = "role",
    transition_rule_id: str = TRANSITION_RULE,
    convs_per_partition: bool = False,
) -> DataFrame:
    """Uniqueness + monotone (+ optionally transition) violations off ONE
    exchange on (conv_id, bucket).

    ``convs_per_partition``: a conversation whose turns span several
    partitions is ordered and transition-checked within each partition
    separately, so every partition's violations depend on that partition's
    rows alone — the contract of a caller that validates a batch of
    partitions in one pass but records each partition on its own. By default
    a conversation is checked across every partition of ``df``.

    Skew-proof lag: windowing ``partitionBy(conv_id)`` puts a whole
    conversation in one task — a hot conversation holding 10% of 10^12 turns
    would pin a single executor forever. Instead turns are bucketed
    (``floor(turn_idx / bucket_turns)``) so window partitions are bounded at
    ~``bucket_turns`` rows regardless of skew, and the cross-bucket lag is
    restored from a boundary frame (one row per (conv_id, bucket): the
    bucket's last (turn_idx, ts) under the same ordering) that is ~1/4096th
    of the input — joined back via AQE (broadcast at small scale,
    co-partitioned hash join at 10^12 where the boundary itself is big).
    Both windows share the (conv_id, bucket) hash exchange: HashPartitioning
    on a subset of a window's partition keys satisfies its clustering, so
    Catalyst plans exactly one Exchange for the whole branch.

    ``transitions`` (an allowed (prev_state, state) pair set) additionally
    fuses the sequence-structure check (checks.transition_violations with
    ts_col — the chronological duplicate-key tiebreak) into the SAME window
    stack: the shared sort key merely extends by (state, remaining
    tiebreaks), a suffix that changes nothing for the mono/dup lags (rows
    tied on the mono keys are interchangeable for them), so the state lag
    joins the EXISTING window operator — zero extra sorts, zero extra
    shuffles, zero extra scans; the only cost is one extra shuffled column.
    Cross-bucket restore reuses the boundary frame (the previous non-empty
    bucket's last state rides the same max-struct), so the fused lag chain
    equals the composable per-conv global window (ts_col passed) — exactly
    when ``partition_from_ts=False``, and under the declared layout
    invariant when True: the shared key then ties by (part, ts) where the
    composable ties by (ts, ..., part), the same orders iff part = date(ts)
    — the identical caveat the mono single-sort trick documents, and rows
    violating it are precisely what the placement check flags.
    ``allowed_first`` constrains each conversation's first state as in the
    composable check.
    When ``transitions`` is None the plan is byte-identical to the
    two-check variant (no extra columns, no wider sort key).
    """
    with_tr = transitions is not None
    bkt = F.floor(F.col(order_col).cast("long") / F.lit(int(bucket_turns)))
    # Single-sort trick: when the Iceberg partition column derives
    # monotonically from ts (part_date = date(ts), the standard layout),
    # ordering by (turn_idx, part_date, ts) is the SAME total order as
    # (turn_idx, ts) — but it makes both windows' required child orderings
    # prefixes of one sort key (conv, bkt, turn, part, ts), so Catalyst plans
    # ONE sort for the whole window stack.
    mono_order = [order_col, partition_col, ts_col] if partition_from_ts else [order_col, ts_col]
    keep = [*key_cols, partition_col]
    # With transitions fused, the ONE shared sort key extends by (__cur__,
    # remaining projected tiebreaks): a suffix, so the mono/dup lags are
    # untouched (rows tied on the full mono key are interchangeable for
    # them — equal ts / turn / part throughout the tie), while the state lag
    # gets the composable check's total order — exactly when
    # partition_from_ts=False ((turn, ts, state, part) on both sides), and
    # up to the part=date(ts) layout invariant when True (mono_order then
    # ties by (part, ts) where the composable ties (ts, ..., part); see the
    # docstring caveat). Same orderSpec for every expression ⇒ ONE Window
    # operator, ONE sort.
    if with_tr:
        shared_order = mono_order + ["__cur__"] + [
            c for c in keep if c not in (group_col, order_col, *mono_order)
        ]
    else:
        shared_order = mono_order
    # per-partition scope: the conversation key gains a never-NULL partition
    # token, so the boundary equi-join below also matches the NULL partition
    conv_keys = [group_col, "__scope__"] if convs_per_partition else [group_col]
    scope_proj = (
        [F.coalesce(F.col(partition_col).cast("string"), F.lit("\x00NULL")).alias("__scope__")]
        if convs_per_partition
        else []
    )
    w_mono = Window.partitionBy(*conv_keys, "__bkt__").orderBy(*shared_order)
    # (conv, scope, bkt, turn) names the same groups as (conv, bkt, turn,
    # part) and keeps the dup window's sort a prefix of the mono window's
    w_dup = Window.partitionBy(
        *conv_keys, "__bkt__", order_col, *([] if convs_per_partition else [partition_col])
    )
    # ONE explicit exchange feeds the window stack AND the boundary aggregate
    # (ReusedExchange) — the boundary branch costs no second scan of the table.
    # The explicit NULL-key filter does two jobs: rows with NULL conv_id /
    # turn_idx are schema violations (required/row rules catch them) that have
    # no place in per-conversation checks, and it makes both consumers'
    # subplans canonically identical — the boundary join would otherwise push
    # inferred isnotnull filters into only one branch and defeat reuse.
    # __cur__ (the coalesced state string, NULL printed as the explicit
    # <NULL> token exactly like checks.transition_violations) is projected in
    # dfb itself so BOTH exchange consumers carry the identical column set —
    # pruning it from only one branch would defeat ReusedExchange.
    tr_proj = [transition_state(state_col).alias("__cur__")] if with_tr else []
    dfb = (
        df.select(*keep, ts_col, bkt.alias("__bkt__"), *tr_proj, *scope_proj)
        .filter(F.col(group_col).isNotNull() & F.col("__bkt__").isNotNull())
        .repartition(group_col, "__bkt__")
    )

    # Boundary frame: last (turn_idx, ts) of every (conv, bucket) under the
    # mono ordering, lagged to the NEXT non-empty bucket of the same conv.
    # Tiny (≤ rows/bucket_turns) — its per-conv window is skew-free by
    # construction (hot conv of 10^11 turns → ~10^7 boundary rows; boundary
    # is 1/4096 of input). groupBy keys equal the exchange keys, so the
    # aggregate runs in place with no further shuffle.
    w_bnd = Window.partitionBy(*conv_keys).orderBy("__bkt__")
    # The struct includes partition_col under partition_from_ts: same max row
    # (the ordering equivalence above), and consuming it keeps the boundary
    # branch's column set identical to the main branch's so column pruning
    # cannot differentiate the two subplans (which would defeat exchange reuse).
    # One struct under the SHARED ordering: its lexicographic max is the
    # bucket's last row, whose ts serves the mono restore and (with
    # transitions fused) whose state serves the transition restore — the
    # fused check adds no boundary aggregate of its own.
    last_struct = F.struct(*shared_order)
    boundary = (
        dfb.groupBy(*conv_keys, "__bkt__")
        .agg(F.max(last_struct).alias("__last__"))
        .select(
            *conv_keys,
            "__bkt__",
            F.lag(F.col(f"__last__.{ts_col}")).over(w_bnd).alias("__prev_bucket_ts__"),
            *(
                [F.lag(F.col("__last__.__cur__")).over(w_bnd).alias("__prev_bucket_state__")]
                if with_tr
                else []
            ),
        )
    )

    # Duplicate keys are detected from the SAME mono window: under the
    # (turn, part, ts) ordering a (conv, bkt, turn, part) group is contiguous,
    # so its head is any row whose predecessor belongs to a different group —
    # no third window (row_number over a second ordering) needed. Falls back
    # to the rank window when partition_from_ts=False (ordering by (turn, ts)
    # alone does not keep same-turn rows of different partitions contiguous).
    annotated = dfb.select(
        *keep,
        ts_col,
        "__bkt__",
        *(["__scope__"] if convs_per_partition else []),
        F.lag(ts_col).over(w_mono).alias("__prev_in_bucket__"),
        F.row_number().over(w_mono).alias("__mono_rn__"),
        F.lag(order_col).over(w_mono).alias("__prev_turn__"),
        F.lag(partition_col).over(w_mono).alias("__prev_part__"),
        F.count(F.lit(1)).over(w_dup).alias("__dup_cnt__"),
        *([] if partition_from_ts else [F.row_number().over(w_dup.orderBy(ts_col)).alias("__dup_rn__")]),
        *(
            [
                "__cur__",
                # same window, same sort — the state lag rides the existing
                # operator for free
                F.lag("__cur__").over(w_mono).alias("__prev_in_bucket_state__"),
            ]
            if with_tr
            else []
        ),
    ).join(boundary, [*conv_keys, "__bkt__"], "left").withColumn(
        "__prev_ts__",
        F.when(F.col("__mono_rn__") == 1, F.col("__prev_bucket_ts__")).otherwise(F.col("__prev_in_bucket__")),
    )
    if with_tr:
        # NULL ⟺ the conversation's genuinely-first turn: __cur__ is never
        # NULL (coalesced), so an in-bucket lag of NULL means bucket-first,
        # and a NULL boundary lag means no earlier non-empty bucket. The
        # bucket-first row is the same under the shared ordering (one
        # row_number serves both restores).
        annotated = annotated.withColumn(
            "__prev_state__",
            F.when(F.col("__mono_rn__") == 1, F.col("__prev_bucket_state__")).otherwise(
                F.col("__prev_in_bucket_state__")
            ),
        )
    # Emit BOTH violation kinds from the SAME windowed branch (array→filter→
    # explode, as in engine.row_violations): one scan, one exchange, no union.
    mono_fail = F.col("__prev_ts__") > F.col(ts_col)
    if partition_from_ts:
        dup_head = ~(
            F.col("__prev_turn__").eqNullSafe(F.col(order_col))
            & F.col("__prev_part__").eqNullSafe(F.col(partition_col))
        )
    else:
        dup_head = F.col("__dup_rn__") == 1
    dup_fail = (F.col("__dup_cnt__") > 1) & dup_head
    check_structs = [
        F.struct(
            F.lit(MONO_RULE).alias("rule_id"),
            F.coalesce(~mono_fail, F.lit(True)).alias("ok"),
            F.col(ts_col).cast("string").alias("observed_value"),
        ),
        F.struct(
            F.lit(UNIQ_RULE).alias("rule_id"),
            (~dup_fail).alias("ok"),
            F.col("__dup_cnt__").cast("string").alias("observed_value"),
        ),
    ]
    if with_tr:
        # The ONE definition of the pair semantics (checks.transition_predicate)
        # serves both operators, so they cannot drift. __prev_state__ is
        # non-null inside the predicate's guard, so tr_fail is never NULL.
        tr_fail, tr_observed = transition_predicate(
            F.col("__prev_state__"), F.col("__cur__"), transitions, allowed_first
        )
        check_structs.append(
            F.struct(
                F.lit(transition_rule_id).alias("rule_id"),
                (~tr_fail).alias("ok"),
                tr_observed.alias("observed_value"),
            )
        )
    checks_arr = F.array(*check_structs)
    # Same emit pre-filter as engine.row_violations: only rows where a check
    # is literally failing build the struct array (string casts, per-row
    # allocation); the clean bulk exits on two cheap booleans.
    any_fail = F.coalesce(mono_fail, F.lit(False)) | dup_fail
    if with_tr:
        any_fail = any_fail | tr_fail
    return annotated.where(any_fail).select(
        *keep, F.explode(F.filter(checks_arr, lambda x: ~x["ok"])).alias("v")
    ).select(*keep, F.col("v.rule_id").alias("rule_id"), F.col("v.observed_value").alias("observed_value"))


def validate_transcripts_fused(
    df: DataFrame,
    tools_dim: DataFrame,
    ruleset: RuleSet,
    partition_col: str = PARTITION_COLUMN,
    key_cols: list[str] = KEY_COLUMNS,
    bucket_turns: int = 4096,
    partition_from_ts: bool = True,
    transitions: set | None = None,
    allowed_first: set | None = None,
    placement_ts: str | None = None,
    convs_per_partition: bool = False,
) -> ValidationResult:
    """Full suite in two data passes (see module docstring).

    ``transitions``/``allowed_first`` fuse the sequence-structure check into
    the conv exchange (see conv_scoped_violations); ``placement_ts`` (a ts
    column name) fuses the partition-placement check into the row-rule scan
    (checks.placement_check riding engine.row_violations' compiled array) —
    the suite stays at two data passes and one shuffle with all five checks
    enabled. ``convs_per_partition`` scopes the conversation checks to each
    partition (see conv_scoped_violations).

    partition_from_ts declares the table-layout invariant part_date = date(ts)
    (the standard Iceberg days(ts) layout), which lets the conv checks share
    ONE sort (see conv_scoped_violations). Pass False when part_date does not
    derive from ts — equal-turn_idx ties then order by (turn_idx, ts) exactly
    as the composable monotone check does.

    There is no whole-table form: the conv exchange and the verdict grid key
    on the partition column, so ``partition_col=None`` raises before any
    Spark job."""
    if partition_col is None:
        raise ValueError(
            "the transcript suite needs a partition column (partition_col=None); for a "
            "whole-table run use engine.validate for the row rules and the standalone "
            "checks.uniqueness_violations / referential_violations / monotone_violations / "
            "transition_violations operators"
        )
    fused_rules = with_referential_rule(ruleset, tools_dim)
    extra_checks = None
    if placement_ts is not None:
        # Placement is a STORAGE-integrity check: it must judge the value as
        # stored, not as coerced. row_violations evaluates extra checks on
        # the coerced frame, where a ruleset coercion on ts/partition (e.g.
        # default('ts', ...) filling the NULLs placement exists to flag)
        # would mask violations — point the predicate at the __raw__ columns
        # apply_coercions preserves whenever the column is coerced.
        from lyra_spark.compiler import RAW_PREFIX

        coerced_cols = {spec.column for spec in fused_rules.coercions}
        ts_ref = RAW_PREFIX + placement_ts if placement_ts in coerced_cols else placement_ts
        part_ref = RAW_PREFIX + partition_col if partition_col in coerced_cols else partition_col
        ok, obs = placement_check(ts_ref, part_ref)
        extra_checks = [(PLACEMENT_RULE, ok, obs)]
    row_v = row_violations(df, fused_rules, key_cols, partition_col, extra_checks=extra_checks)
    conv_v = conv_scoped_violations(
        df, key_cols, partition_col, bucket_turns=bucket_turns,
        partition_from_ts=partition_from_ts, transitions=transitions,
        allowed_first=allowed_first, convs_per_partition=convs_per_partition,
    )
    # column order must match for union
    cols = [*key_cols, partition_col, "rule_id", "observed_value"]
    viol = row_v.select(*cols).unionByName(conv_v.select(*cols))
    rule_ids = suite_rule_ids(fused_rules, transitions is not None, placement_ts is not None)
    from lyra_spark.engine import ruleset_severities, ruleset_tolerances

    return ValidationResult(
        violations=viol,
        build_verdicts=lambda: compute_verdicts(df, viol, rule_ids, partition_col,
                                                severities=ruleset_severities(fused_rules),
                                                tolerances=ruleset_tolerances(fused_rules)),
        key_cols=list(key_cols), partition_col=partition_col,
    )
