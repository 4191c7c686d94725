"""Dataset-level checks (no lyra counterpart — BASELINE.json:6 mandates them).

Each returns a violation-shaped DataFrame (*key_cols, partition_col, rule_id,
observed_value), the same shape engine.row_violations emits. They are
standalone operators (a whole-table run has no other form of them) and the
reference lyra_spark.fused's single-exchange suite is tested against.

Scale notes (10^12-turn design point):
  * uniqueness uses a two-phase SALTED aggregate — the partial pass groups on
    (key, salt) so one hot conv_id cannot pin a single reducer (BASELINE.json:6
    "salted hash-aggregate to defeat hot-conversation skew");
  * referential integrity is a broadcast LEFT ANTI join — the dimension ships
    to every executor, zero shuffle of the fact table;
  * monotone ordering is a per-conv_id window; rows for one conversation must
    co-locate, so the shuffle is unavoidable — AQE skew handling splits
    oversized partitions at runtime.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KEY_COLS = ["conv_id", "turn_idx"]


def _non_null_keys(key_cols: list[str]):
    """Per-conversation checks exclude NULL-key rows (SEMANTICS.md §keys):
    they are schema violations for the required rules, and NULL keys have no
    defined place in a per-(conv_id, turn_idx) ordering or uniqueness group."""
    cond = F.lit(True)
    for c in key_cols:
        cond = cond & F.col(c).isNotNull()
    return cond


UNIQ_RULE = "uniq_conv_turn"
REF_RULE = "tool_ref"
MONO_RULE = "ts_monotone"
TRANSITION_RULE = "role_transition"
CONTIG_RULE = "turn_contiguity"
PLACEMENT_RULE = "partition_placement"


def with_salt(df: DataFrame, buckets: int = 32, col: str = "__salt__") -> DataFrame:
    """Per-ROW salt — the shared skew helper. Derived from a per-row id, NOT
    from the row's values: exact duplicate rows (the canonical duplicated-key
    hot case) all hash identically under a value-derived salt and land in ONE
    bucket, defeating the spread the salt exists to provide."""
    return df.withColumn(
        col, F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(buckets))
    )


def uniqueness_violations(
    df: DataFrame,
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    salt_buckets: int = 32,
    rule_id: str = UNIQ_RULE,
) -> DataFrame:
    """Duplicate-key detection via salted two-phase aggregation.

    Phase 1 groups on (key, salt) — map-side partials spread a hot key over
    ``salt_buckets`` reducers; phase 2 sums the partial counts per key. Every
    row of a duplicated key is a violation (count > 1), reported once per key
    with the duplicate count as observed_value.

    ``salt_buckets=1`` is the fast path for keys the caller KNOWS are not
    skew-prone (e.g. the full (conv_id, turn_idx) key, whose high-cardinality
    ordinal already defeats hot keys via map-side partials): it skips the salt
    column and the second aggregation phase entirely — one Exchange instead of
    two. The default stays salted per BASELINE.json:6 ("salted hash-aggregate
    to defeat hot-conversation skew").
    """
    keep = list(key_cols) + ([partition_col] if partition_col else [])
    # NULL-key rows are schema violations (required rules catch them), not
    # duplicates — excluded here exactly as in the fused suite, so the two
    # give identical results (SEMANTICS.md §keys).
    df = df.filter(_non_null_keys(key_cols))
    if salt_buckets <= 1:
        final = df.groupBy(*keep).agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    else:
        # Salt must differ across rows of the SAME hot key → derive it from a
        # per-row id, not from the key columns (with_salt, inlined to share
        # the projection). No abs(): pmod is already non-negative for
        # negative inputs, and abs(Int.MinValue) throws under ANSI mode —
        # at 10^12 rows ~230 rows hit hash() = Int.MinValue.
        salted = df.select(
            *keep,
            F.pmod(F.hash(F.monotonically_increasing_id()), F.lit(salt_buckets)).alias("__salt__"),
        )
        partial = salted.groupBy(*keep, "__salt__").agg(F.count(F.lit(1)).alias("c"))
        final = partial.groupBy(*keep).agg(F.sum("c").alias("c")).filter(F.col("c") > 1)
    return final.select(
        *key_cols,
        *([partition_col] if partition_col else []),
        F.lit(rule_id).alias("rule_id"),
        F.col("c").cast("string").alias("observed_value"),
    )


def referential_violations(
    df: DataFrame,
    dim: DataFrame,
    fk_col: str = "tool",
    dim_col: str = "tool_name",
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    rule_id: str = REF_RULE,
) -> DataFrame:
    """Non-null FK values absent from the broadcast dimension (BASELINE.json:6)."""
    keep = list(key_cols) + ([partition_col] if partition_col else [])
    dim_keys = F.broadcast(dim.select(F.col(dim_col).alias(fk_col)).distinct())
    return (
        df.filter(F.col(fk_col).isNotNull())
        .select(*keep, fk_col)
        .join(dim_keys, fk_col, "left_anti")
        .select(
            *key_cols,
            *([partition_col] if partition_col else []),
            F.lit(rule_id).alias("rule_id"),
            F.col(fk_col).cast("string").alias("observed_value"),
        )
    )


def transition_violations(
    df: DataFrame,
    allowed: set[tuple[str, str]],
    group_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    allowed_first: set[str] | None = None,
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    rule_id: str = TRANSITION_RULE,
    ts_col: str | None = None,
) -> DataFrame:
    """Sequence-structure validation: within each conversation ordered by
    turn_idx, each (previous_state → state) pair must be in ``allowed``
    (e.g. user→assistant, assistant→tool, tool→assistant — a transcript
    where the assistant answers itself is malformed even when every row
    passes its per-row rules). ``allowed_first`` constrains the state of
    each conversation's FIRST turn (None = any).

    The violating row is the LATER turn; observed_value = "prev->cur".

    ``ts_col``: optional chronological tiebreak for duplicate order keys —
    pass the table's timestamp column when the sequence has a time axis (the
    transcripts suite passes "ts", matching the monotone check's conversation
    order and the fused plan's shared sort); leave None for sequences without
    one (ordering then ties by state + remaining projected columns).

    Plan shape: identical to monotone_violations — one window lag over the
    (group) exchange, pure Catalyst (the transition set folds into a literal
    IN list on a concat key; NULL states print as the literal <NULL> so a
    NULL can be allowed or denied explicitly). Like composable monotone, the
    window puts a whole conversation in one task — bounded for real
    transcripts; a hot-conversation-skewed table should run this fused with
    the bucketed-lag machinery (lyra_spark.fused), which the suite already
    applies to monotone.
    """
    # keep must carry the window's own columns too: a caller's group/order
    # outside key_cols (session_id sequences) would otherwise be projected
    # away before the window resolves — an UNRESOLVED_COLUMN crash
    keep = list(dict.fromkeys(
        [*key_cols, *([partition_col] if partition_col else []),
         *([ts_col] if ts_col else []), group_col, order_col]
    ))
    # Tiebreaks: duplicate order keys (uniqueness's finding) would otherwise
    # make lag() run-to-run nondeterministic — at odds with the sink's
    # byte-stable contract. ``ts_col`` (when the sequence has a time axis)
    # breaks ties chronologically FIRST — the same conversation order the
    # monotone check pins, and what lets the fused suite share one sort;
    # __cur__ then keeps equal-state runs contiguous (pinning the lag VALUE
    # chain), and the remaining projected columns (partition, extra keys) pin
    # WHICH physical row carries which prev — without them, a tie group
    # spanning partitions flags a shuffle-fetch-order-dependent subset.
    # Output is deterministic modulo rows identical in every projected column
    # (which emit indistinguishable violation rows anyway).
    order_keys = [order_col, *([ts_col] if ts_col else []), "__cur__"]
    tiebreaks = [c for c in keep if c not in (group_col, *order_keys)]
    w = Window.partitionBy(group_col).orderBy(*order_keys, *tiebreaks)
    df = df.filter(_non_null_keys([group_col, order_col]))
    cur = transition_state(state_col)
    lagged = df.select(*keep, cur.alias("__cur__")).select(
        *keep, "__cur__", F.lag("__cur__").over(w).alias("__prev__")
    )
    bad, observed = transition_predicate(
        F.col("__prev__"), F.col("__cur__"), allowed, allowed_first
    )
    return lagged.filter(bad).select(
        *key_cols,
        *([partition_col] if partition_col else []),
        F.lit(rule_id).alias("rule_id"),
        observed.alias("observed_value"),
    )


TRANSITION_NULL_TOKEN = "<NULL>"


def transition_state(state_col: str) -> Column:
    """The canonical state projection: string-cast, NULL printed as the
    explicit <NULL> token (so NULL can be allowed or denied in the pair
    set). Shared by the composable operator and the fused suite so the two
    cannot drift."""
    return F.coalesce(F.col(state_col).cast("string"), F.lit(TRANSITION_NULL_TOKEN))


def transition_predicate(
    prev: Column, cur: Column, allowed: set, allowed_first: set | None = None
) -> tuple[Column, Column]:
    """(fail, observed) for the positive-list pair semantics over two state
    columns built by transition_state (cur never NULL; prev NULL ⟺ the
    group's first element). Shared by checks.transition_violations and
    fused.conv_scoped_violations — one definition of the pair encoding,
    first-turn handling, and the 'prev->cur' observed format."""
    sep = "\x1f"  # cannot appear in enum-constrained state values
    allowed_keys = [f"{p}{sep}{c}" for p, c in sorted(allowed)]
    bad_pair = ~F.concat_ws(sep, prev, cur).isin(allowed_keys)
    fail = prev.isNotNull() & bad_pair
    if allowed_first is not None:
        fail = fail | (prev.isNull() & ~cur.isin(sorted(allowed_first)))
    observed = F.concat_ws("->", F.coalesce(prev, F.lit("<FIRST>")), cur)
    return fail, observed


FD_RULE = "functional_dependency"


def functional_dependency_violations(
    df: DataFrame,
    determinant_cols: list[str],
    dependent_col: str,
    rule_id: str = FD_RULE,
) -> DataFrame:
    """Determinant groups where ``dependent_col`` takes more than one value —
    the Deequ-style X → Y consistency check (e.g. a conv_id split across
    part_dates breaks per-partition verdict semantics; a turn key mapping to
    two roles means upstream merged two transcripts).

    Returns one row per violating group: (*determinant_cols, rule_id,
    n_values, first_value, last_value, n_rows) — a dataset-level report like
    the drift checks, not a per-row violation stream.

    Scale: two-phase aggregate with CONSTANT buffers — the (det, dep) partial
    collapses each group to one row per distinct value before the per-det
    roll-up counts/min/maxes them, so a determinant with 10⁸ rows costs its
    distinct-value count, never a list. NULL dependents participate as the
    literal '<NULL>' (a NULL is a real inconsistency against a non-NULL).
    NULL determinant keys are excluded like every per-key check here.
    """
    dep = F.coalesce(F.col(dependent_col).cast("string"), F.lit("<NULL>"))
    pairs = (
        df.filter(_non_null_keys(determinant_cols))
        .groupBy(*determinant_cols, dep.alias("__dep__"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    return (
        pairs.groupBy(*determinant_cols)
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.min("__dep__").alias("first_value"),
            F.max("__dep__").alias("last_value"),
            F.sum("__n").cast("long").alias("n_rows"),
        )
        .filter(F.col("n_values") > 1)
        .select(
            *determinant_cols,
            F.lit(rule_id).alias("rule_id"),
            "n_values",
            "first_value",
            "last_value",
            "n_rows",
        )
    )


def monotone_violations(
    df: DataFrame,
    group_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
    key_cols: list[str] = KEY_COLS,
    partition_col: str | None = "part_date",
    rule_id: str = MONO_RULE,
) -> DataFrame:
    """Within each conversation ordered by turn_idx, ts must be NON-DECREASING
    (BASELINE.json:6 'monotone turn ordering per conv_id via Window'). The
    violating row is the LATER turn whose ts precedes its predecessor's.

    Scope (pinned): this rule checks the TIME axis only. A duplicated
    turn_idx is uniqueness_violations' finding and a gapped one is
    contiguity_violations' — the suite runs them together; this rule never
    flags either."""
    w = Window.partitionBy(group_col).orderBy(order_col, ts_col)
    # keep the window's own columns (see transition_violations)
    keep = list(dict.fromkeys(
        [*key_cols, *([partition_col] if partition_col else []), group_col, order_col]
    ))
    # same NULL-key exclusion as the fused path (SEMANTICS.md §keys)
    df = df.filter(_non_null_keys([group_col, order_col]))
    lagged = df.select(
        *keep,
        ts_col,
        F.lag(ts_col).over(w).alias("__prev_ts__"),
    )
    return (
        lagged.filter(F.col("__prev_ts__") > F.col(ts_col))
        .select(
            *key_cols,
            *([partition_col] if partition_col else []),
            F.lit(rule_id).alias("rule_id"),
            F.col(ts_col).cast("string").alias("observed_value"),
        )
    )


def contiguity_violations(
    df: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    base: int = 0,
    rule_id: str = CONTIG_RULE,
) -> DataFrame:
    """Per-conversation index-density check: the distinct ``idx_col`` values
    of each conversation must be exactly ``base .. base + n - 1``. The gap
    detector the ordering checks can't see — monotone (checks a turn against
    its PREDECESSOR) is satisfied by 0,1,5,6 and uniqueness by any distinct
    set; only density catches a silently dropped turn.

    One row per violating conversation: (conv, n_turns, min_idx, max_idx,
    n_missing, rule_id), where n_turns counts DISTINCT indices (duplicates are
    uniqueness's finding, they must not mask a gap here) and n_missing is the
    count of absent indices in [base, max_idx].

    Scale: Spark rewrites the count(DISTINCT idx) into the standard two-phase
    distinct aggregate — an exchange on (conv, idx) with map-side dedup below
    it, then an exchange on conv over the already-distinct pairs. Both
    exchanges ship at most the distinct (conv, idx) pairs, never raw rows and
    never a per-conversation list, so buffers stay constant-size and a hot
    conversation costs its own turn count. NULL conv/idx rows are excluded
    exactly as the other per-conversation checks (SEMANTICS.md decision 21).
    """
    agg = (
        df.filter(_non_null_keys([conv_col, idx_col]))
        .groupBy(conv_col)
        .agg(
            F.count_distinct(F.col(idx_col)).alias("n_turns"),
            F.min(idx_col).alias("min_idx"),
            F.max(idx_col).alias("max_idx"),
        )
    )
    b = F.lit(int(base))
    return agg.filter(
        (F.col("min_idx") != b) | (F.col("max_idx") != b + F.col("n_turns") - 1)
    ).select(
        conv_col,
        "n_turns",
        "min_idx",
        "max_idx",
        (F.col("max_idx") - b + 1 - F.col("n_turns")).alias("n_missing"),
        F.lit(rule_id).alias("rule_id"),
    )


def misplaced_violations(
    df: DataFrame,
    ts_col: str = "ts",
    partition_col: str = "part_date",
    key_cols: list[str] = KEY_COLS,
    rule_id: str = PLACEMENT_RULE,
) -> DataFrame:
    """Partition-placement integrity: every row's event time must belong to
    the partition directory it is stored in (``date(ts) = partition value``).
    A misplaced row is worse than an invalid one at scale — every
    partition-pruned query (which at 10^12 rows is EVERY query) silently
    excludes it, so no downstream check ever sees it again; and the
    per-partition validation loop itself scopes by partition, so this is the
    one check that must compare the two columns explicitly rather than trust
    the layout.

    Rows with a NULL timestamp are also violations here: a time-partitioned
    table gives them no defined home, and whichever directory they landed in
    is unprovable either way.

    Scale shape: ONE map-only codegen filter on the scan — zero shuffles,
    zero Python; the filter sits beside the row rules and costs nothing
    beyond the scan the suite already pays.
    """
    passes, observed = placement_check(ts_col, partition_col)
    return df.filter(~passes).select(
        *key_cols,
        partition_col,
        F.lit(rule_id).alias("rule_id"),
        observed.alias("observed_value"),
    )


def placement_check(ts_col: str = "ts", partition_col: str = "part_date"):
    """The placement predicate as a (passes, observed) column pair — the form
    engine.row_violations takes as an extra compiled check, so the suite can
    evaluate placement INSIDE the row-rule scan instead of unioning
    misplaced_violations as a third pass over the table (same semantics,
    one fewer full scan; see misplaced_violations for the contract)."""
    # try_cast, not to_date: under ANSI (Spark 4 default) a malformed
    # partition value would RAISE mid-job; the contract is to FLAG it
    placed = F.col(partition_col).cast("string").try_cast("date")
    # try_cast the ts side too: a malformed STRING ts under ANSI would raise
    # mid-job in to_date; the contract is to FLAG the row either way
    ts_ok = F.col(ts_col).try_cast("timestamp")
    actual = F.to_date(ts_ok)
    bad = ts_ok.isNull() | placed.isNull() | (actual != placed)
    observed = F.coalesce(F.col(ts_col).cast("string"), F.lit("NULL"))
    return ~bad, observed


RECONCILE_RULE = "reconcile"


def reconcile_tables(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    value_cols: list[str] | None = None,
    partition_col: str | None = None,
) -> DataFrame:
    """Source-vs-sink reconciliation: did the copy / migration / export
    preserve the data? Per partition (or one global row), each side reduces
    to (row count, content checksum) where the checksum is the SUM of a
    per-row md5-derived 60-bit integer over ``key_cols + value_cols`` —
    order-independent and associative, so it map-side partial-aggregates
    and never shuffles raw rows; each side's cost is one scan + one
    constant-buffer exchange. A count match with a checksum mismatch is the
    interesting verdict: same volume, different content (the silent-
    corruption case row counts alone bless).

    NULLs hash as an explicit sentinel per column (a NULL→'' coercion would
    collide with empty strings and pass falsely). The 60-bit row hash keeps
    the DuckDB oracle exact (signed-64 safe); collisions need ~2^30 rows per
    partition to reach birthday odds, and a colliding PAIR would still have
    to slip in alongside an identical row count to false-pass.

    Returns (partition, n_left, n_right, checksum_left, checksum_right,
    count_match, content_match) — a full OUTER join over the tiny
    per-partition grids, so a partition present on only one side surfaces
    with NULLs on the other rather than vanishing.
    """
    cols = list(key_cols) + list(value_cols or [])
    sep = "\x1f"

    def grid(df: DataFrame, n_name: str, c_name: str) -> DataFrame:
        row_str = F.concat_ws(
            sep, *[F.coalesce(F.col(c).cast("string"), F.lit("<NULL>")) for c in cols]
        )
        row_hash = F.conv(F.substring(F.md5(row_str), 1, 15), 16, 10).cast("decimal(38,0)")
        # NULL partition values must MATCH across sides (identically-copied
        # NULL-partition rows are not corruption) — sentinel them like the
        # hashed columns; a full_outer equi-join never equates NULL keys
        keys = (
            [F.coalesce(F.col(partition_col).cast("string"), F.lit("<NULL>")).alias("part")]
            if partition_col
            else []
        )
        agg = df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(n_name), F.sum(row_hash).alias(c_name)
        )
        return agg if partition_col else agg.withColumn("part", F.lit("<all>"))

    g = grid(left, "n_left", "checksum_left").join(
        grid(right, "n_right", "checksum_right"), "part", "full_outer"
    )
    return g.select(
        F.col("part").alias("partition"),
        "n_left",
        "n_right",
        "checksum_left",
        "checksum_right",
        (F.col("n_left").eqNullSafe(F.col("n_right"))).alias("count_match"),
        (F.col("checksum_left").eqNullSafe(F.col("checksum_right"))).alias("content_match"),
    )


def referential_coverage(
    df: DataFrame,
    dim: DataFrame,
    fk_col: str = "tool",
    dim_col: str = "tool_name",
    partition_col: str | None = "part_date",
    min_coverage: float | None = None,
) -> DataFrame:
    """Per-partition FK coverage RATE (Deequ hasReferentialIntegrity): the
    monitoring dual of referential_violations — that one emits the violating
    rows, this one answers "what fraction of non-NULL FKs resolve, per
    partition, and did it dip below the gate" (a joinability regression —
    e.g. a dimension snapshot lagging the fact feed — shows up as a rate
    drop long before anyone reads violation rows).

    Returns (partition_col?, n_rows, n_fk, n_matched, coverage[, pass]).
    coverage = matched / non-NULL FKs, rounded 6 dp (the gate compares
    unrounded); NULL FKs don't count either way (nullable-FK semantics,
    SEMANTICS.md 13). A partition with ZERO non-NULL FKs has coverage NULL
    and PASSES: referential integrity is a universally-quantified claim —
    vacuously true on no FKs — unlike statistical metric gates, where an
    unmeasurable metric fails (SEMANTICS.md 79); a no-tool-calls day is
    normal, not a broken expectation.

    Scale: one broadcast left join (the dimension ships to every executor,
    the fact table never shuffles) + one constant-buffer conditional
    aggregate per partition.
    """
    dim_keys = F.broadcast(
        dim.select(F.col(dim_col).alias(fk_col)).distinct().withColumn("__hit", F.lit(1))
    )
    keep = [partition_col] if partition_col else []
    j = df.select(*keep, fk_col).join(dim_keys, fk_col, "left")
    cov_raw = F.when(
        F.count(fk_col) > 0, F.sum(F.coalesce(F.col("__hit"), F.lit(0))) / F.count(fk_col)
    )
    aggs = [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(fk_col).alias("n_fk"),
        F.sum(F.coalesce(F.col("__hit"), F.lit(0))).cast("long").alias("n_matched"),
        F.round(cov_raw, 6).alias("coverage"),
    ]
    if min_coverage is not None:
        aggs.append(
            (F.isnull(cov_raw) | (cov_raw >= F.lit(float(min_coverage)))).alias("pass")
        )
    grouped = j.groupBy(*keep) if keep else j.groupBy()
    return grouped.agg(*aggs)
