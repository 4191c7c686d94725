"""As-of join (point-in-time lookup): attach to each left row the payload of
the temporally nearest right row — the greatest right ts <= left ts
("backward", the default) or the smallest right ts >= left ts ("forward") —
within the same key. The canonical uses in a transcript/validation pipeline:
join each turn to the dimension snapshot that was live when the turn
happened, or each event to the most recent prior order/config/deploy by the
same user.

Spark has no ASOF JOIN primitive, and the naive formulation (inequality
theta-join + per-left-row argmax) plans as a broadcast-nested-loop or a
cartesian product — quadratic per key. The scalable construction is the
classic union-and-carry-forward:

    1. tag right rows src=0 carrying a payload struct, left rows src=1
       carrying NULL payload, and UNION them;
    2. one window — partitionBy(key), orderBy(ts, src, tiebreak) — computes
       last(payload, ignorenulls=True) over rowsBetween(unboundedPreceding,
       currentRow): for every left row that is exactly the most recent right
       payload at-or-before it;
    3. filter src=1 and unpack the struct.

Cost: ONE exchange and ONE sort of |left| + |right| rows — the same price as
any per-key ordering, and strictly cheaper than the sort-merge join + window
dedup a hand-rolled candidate join would need. The payload rides in a single
STRUCT column so the carried match is always one whole right row — per-column
last() would stitch fields from different right rows whenever a payload field
is NULL.

Skew: a hot key is one sorted task, same exposure as sessionize/monotone
(SURVEY.md §2 rows 29/48). When a tolerance bounds how far back a match may
reach, use :func:`asof_join_bounded` below — the same semantics re-planned
over the interval-join construction (every shuffle key well-spread); only
the unbounded-lookback case, which no bucketing can express, needs this
window plan.

Determinism: ties on right ts are broken by ``right_order_cols`` with
pandas ``merge_asof``'s rule: backward takes the LAST tied row in
right_order_cols order (the greatest), forward the FIRST (the smallest),
in every operator here; callers pass the right table's unique id. NULL-key or
NULL-ts right rows are dropped (a NULL key matches nothing — SQL join
semantics, unlike Spark windows where NULL partition keys group together);
NULL-key/NULL-ts LEFT rows are kept with a NULL match (left-join semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# the ONE shared TIMESTAMP/TIMESTAMP_NTZ/numeric-epoch normalization helper
# (sessionize.py documents the contract) — re-inlining it per operator is how
# the NTZ handling drifts silently
from lyra_spark.sessionize import epoch_us

_TS = "__asof_ts__"
_SRC = "__asof_src__"
_PAY = "__asof_payload__"
_MATCHED = "__matched_ts__"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: dict[str, str],
    right_order_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_sec: float | None = None,
) -> DataFrame:
    """Left as-of join: every left row survives, gaining one output column per
    ``payload_cols`` entry ({right_col: out_col}), NULL when no right row
    qualifies. ``on`` names the equi-key columns (same names on both sides —
    rename beforehand). ``tolerance_sec`` NULLs out matches farther than the
    bound (|left ts - matched ts| > tolerance), matching pandas
    ``merge_asof(tolerance=...)``.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    _check_payload_outputs(payload_cols, left)
    reserved = {_TS, _SRC, _PAY, _MATCHED} & set(left.columns)
    if reserved:
        raise ValueError(f"left side uses reserved internal column names: {sorted(reserved)}")

    order_cols = list(right_order_cols or [])
    # The carried match is ONE struct: the right ts first (tolerance + the
    # deterministic tie-break below), then the requested payload columns.
    pay_struct = F.struct(
        F.col(right_ts).alias(_MATCHED),
        *[F.col(c).alias(c) for c in payload_cols],
        *[F.col(c).alias(f"__ord_{c}") for c in order_cols if c not in payload_cols],
    )
    key_not_null = F.col(right_ts).isNotNull()
    for k in on:
        key_not_null = key_not_null & F.col(k).isNotNull()
    rsel = (
        right.filter(key_not_null)
        .select(
            *[F.col(k) for k in on],
            F.col(right_ts).alias(_TS),
            F.lit(0).alias(_SRC),
            pay_struct.alias(_PAY),
        )
    )
    lsel = left.select(
        "*",
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_SRC),
        F.lit(None).cast(rsel.schema[_PAY].dataType).alias(_PAY),
    )
    unioned = lsel.unionByName(rsel, allowMissingColumns=True)

    # src orders right (0) before left (1) at equal ts — that is what makes
    # the bound inclusive (ts <= / >=); _tie_order breaks equal right ts.
    tie = _tie_order(order_cols, payload_cols, forward=direction == "forward")
    if direction == "backward":
        order = [F.col(_TS).asc_nulls_first(), F.col(_SRC).asc(), *tie]
    else:
        order = [F.col(_TS).desc_nulls_first(), F.col(_SRC).asc(), *tie]
    w = (
        Window.partitionBy(*on)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(_PAY, ignorenulls=True).over(w)

    # A NULL-ts left row must not inherit a match (desc ordering sorts its
    # NULL first by the explicit nulls_first — but guard regardless: no
    # defined position in time means no as-of match).
    matched = F.when(F.col(_TS).isNull(), F.lit(None)).otherwise(matched)

    if tolerance_sec is not None:
        tol_us = int(float(tolerance_sec) * 1_000_000)
        lus = epoch_us(F.col(_TS))
        mus = epoch_us(matched[_MATCHED])
        gap = (lus - mus) if direction == "backward" else (mus - lus)
        matched = F.when(gap <= F.lit(tol_us), matched)

    # Materialize the match BEFORE dropping the right rows: a window column
    # is computed where it is referenced, so selecting it after the src
    # filter would run last() over the left rows alone.
    enriched = unioned.withColumn(_MATCHED, matched)
    out = enriched.filter(F.col(_SRC) == 1).select(
        *[F.col(c) for c in left.columns],
        *[F.col(_MATCHED)[c].alias(outn) for c, outn in payload_cols.items()],
    )
    return out


def asof_join_bounded(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_id_cols: list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: dict[str, str],
    tolerance_sec: float,
    right_order_cols: list[str] | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Skew-proof as-of join for BOUNDED lookback — same semantics as
    :func:`asof_join` with ``tolerance_sec`` set (proven equal in tests),
    different physics. The window construction sorts each key in one task, so
    a hot key (one user with 10^8 events) is a straggler; this variant
    trades that for two well-spread shuffles:

      1. candidates via :func:`lyra_spark.ranges.interval_join` — right rows
         become tolerance-wide intervals, the equi-join runs on (key, time
         bucket), so even a hot key spreads across its time buckets;
      2. per-left-row pick with ``max_by``/``min_by`` over (right ts, tie-break) —
         grouped on ``left_id_cols`` (the left table's unique key), which is
         well-spread by definition;
      3. one final left join on ``left_id_cols`` restores unmatched rows —
         again a unique, splittable key.

    Unbounded lookback cannot be expressed this way (no bucket width covers
    it) — that is exactly what :func:`asof_join` is for. Requires
    ``left_id_cols`` to uniquely identify left rows; ties on right ts break
    on ``right_order_cols`` like asof_join (greatest backward, smallest
    forward).
    """
    reserved = {_MATCHED, _PAY, "__lts__", "__w_start__", "__w_end__"} & set(left.columns)
    if reserved:
        raise ValueError(f"left side uses reserved internal column names: {sorted(reserved)}")
    from lyra_spark.ranges import interval_join

    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward|forward, got {direction!r}")
    _check_payload_outputs(payload_cols, left)
    order_cols = list(right_order_cols or [])
    tol = float(tolerance_sec)
    tol_us = int(tol * 1_000_000)

    # Right rows as tolerance-wide intervals containing every left ts they
    # could serve: backward ⇒ [rts, rts+tol], forward ⇒ [rts-tol, rts].
    # Bounds are built in MICROS through cast("timestamp") — the same
    # normalization asof_join's tolerance uses — so numeric-epoch ts columns
    # work (raw INTERVAL arithmetic only type-checks for TIMESTAMP) and the
    # f-string/parser round-trip for tiny or huge tolerances is avoided.
    rus = epoch_us(F.col(right_ts))
    if direction == "backward":
        start, end = F.timestamp_micros(rus), F.timestamp_micros(rus + F.lit(tol_us))
    else:
        start, end = F.timestamp_micros(rus - F.lit(tol_us)), F.timestamp_micros(rus)
    intervals = right.select(
        *on,
        start.alias("__w_start__"),
        end.alias("__w_end__"),
        F.col(right_ts).alias(_MATCHED),
        *[F.col(c).alias(f"__pay_{c}") for c in payload_cols],
        *[F.col(c).alias(f"__ord_{c}") for c in order_cols if c not in payload_cols],
    )
    # dedupe: the join key is often part of the unique row id — selecting it
    # twice would make every later reference AMBIGUOUS
    point_cols = list(dict.fromkeys([*left_id_cols, *on]))
    points = left.select(
        *point_cols, F.col(left_ts).cast("timestamp").alias("__lts__")
    )
    cand = interval_join(
        points,
        intervals,
        on=on,
        point_ts="__lts__",
        start_ts="__w_start__",
        end_ts="__w_end__",
        bucket_width_sec=tol if tol > 0 else 1.0,
    )
    # nearest right ts per left row, ties on the order cols: backward takes
    # the greatest (ts, order cols), forward the smallest — pandas' rule
    rank = F.struct(
        epoch_us(F.col(_MATCHED)).alias("t"),
        *[
            (F.col(f"__pay_{c}") if c in payload_cols else F.col(f"__ord_{c}")).alias(f"o_{c}")
            for c in order_cols
        ],
    )
    pick = F.max_by if direction == "backward" else F.min_by
    best = cand.groupBy(*left_id_cols).agg(
        pick(
            F.struct(
                F.col(_MATCHED).alias(_MATCHED),
                *[F.col(f"__pay_{c}").alias(c) for c in payload_cols],
            ),
            rank,
        ).alias(_PAY)
    )
    # NULL-SAFE restore join: a left row with a NULL id value reaches the
    # argmax (groupBy groups NULL keys) but a plain equi-join would never
    # hand its match back (NULL = NULL is never true) — silently diverging
    # from asof_join, whose window plan never consults left ids. (NULL ids
    # also break this variant's uniqueness contract when repeated; the
    # null-safe join keeps the single-NULL case row-equal regardless.)
    # best's id columns are RENAMED before the join: its lineage descends
    # from `left`, so unqualified id references would be self-join-ambiguous.
    bestr = best.select(
        *[F.col(c).alias(f"__best_{c}") for c in left_id_cols], _PAY
    )
    cond = None
    for c in left_id_cols:
        e = F.col(c).eqNullSafe(F.col(f"__best_{c}"))
        cond = e if cond is None else cond & e
    out = left.join(bestr, cond, "left").select(
        *[F.col(c) for c in left.columns],
        *[F.col(_PAY)[c].alias(outn) for c, outn in payload_cols.items()],
    )
    return out


def _tie_order(order_cols: list[str], payload_cols: dict[str, str], forward: bool) -> list[Column]:
    """Window sort keys that break equal right timestamps the pandas way.
    F.last carries the row nearest the current row in traversal order, so
    the backward window (ties ascending) carries the LAST tied row in
    right_order_cols order, while the forward window must carry the FIRST
    (a >= search is a lower bound in pandas): under its descending
    traversal the ties sort descending, and nulls last mirrors
    asc_nulls_first exactly."""
    keys = [F.col(_PAY)[c] if c in payload_cols else F.col(_PAY)[f"__ord_{c}"] for c in order_cols]
    return [k.desc_nulls_last() if forward else k.asc_nulls_first() for k in keys]


def _check_payload_outputs(payload_cols: dict[str, str], left: DataFrame) -> None:
    """Output names must be absent from the left side AND mutually distinct —
    {'price': 'x', 'qty': 'x'} would silently emit two columns named 'x'."""
    seen: set[str] = set()
    for c, outn in payload_cols.items():
        if outn in left.columns:
            raise ValueError(f"output column {outn!r} already exists on the left side")
        if outn in seen:
            raise ValueError(f"duplicate payload output column {outn!r}")
        seen.add(outn)


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    payload_cols: dict[str, str],
    right_order_cols: list[str] | None = None,
    tolerance_sec: float | None = None,
) -> DataFrame:
    """pandas ``merge_asof(direction="nearest")``: every left row gains the
    payload of the CLOSEST-in-time right row in either direction (backward
    wins equidistant ties — pandas' rule, pinned by the parity test).

    Same union-and-carry shape as asof_join, evaluated in BOTH directions
    over one exchange: the union hash-partitions once on the keys, then two
    window operators (one ascending, one descending sort — the second sort
    is the whole extra cost vs a single direction) carry the last-seen right
    payload each way, and a per-row argmin on the two time gaps picks the
    match. ``tolerance_sec`` NULLs matches farther than the bound, applied
    to the CHOSEN side like pandas. NULL-ts left rows and NULL-key rows
    never match (no defined position).
    """
    _check_payload_outputs(payload_cols, left)
    reserved = {_TS, _SRC, _PAY, _MATCHED} & set(left.columns)
    if reserved:
        raise ValueError(f"left side uses reserved internal column names: {sorted(reserved)}")

    order_cols = list(right_order_cols or [])
    pay_struct = F.struct(
        F.col(right_ts).alias(_MATCHED),
        *[F.col(c).alias(c) for c in payload_cols],
        *[F.col(c).alias(f"__ord_{c}") for c in order_cols if c not in payload_cols],
    )
    key_not_null = F.col(right_ts).isNotNull()
    for k in on:
        key_not_null = key_not_null & F.col(k).isNotNull()
    rsel = right.filter(key_not_null).select(
        *[F.col(k) for k in on],
        F.col(right_ts).alias(_TS),
        F.lit(0).alias(_SRC),
        pay_struct.alias(_PAY),
    )
    lsel = left.select(
        "*",
        F.col(left_ts).alias(_TS),
        F.lit(1).alias(_SRC),
        F.lit(None).cast(rsel.schema[_PAY].dataType).alias(_PAY),
    )
    unioned = lsel.unionByName(rsel, allowMissingColumns=True)

    wb = (
        Window.partitionBy(*on)
        .orderBy(F.col(_TS).asc_nulls_first(), F.col(_SRC).asc(),
                 *_tie_order(order_cols, payload_cols, forward=False))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy(*on)
        .orderBy(F.col(_TS).desc_nulls_first(), F.col(_SRC).asc(),
                 *_tie_order(order_cols, payload_cols, forward=True))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    null_guard = lambda m: F.when(F.col(_TS).isNull(), F.lit(None)).otherwise(m)  # noqa: E731
    bwd = null_guard(F.last(_PAY, ignorenulls=True).over(wb))
    fwd = null_guard(F.last(_PAY, ignorenulls=True).over(wf))

    lus = epoch_us(F.col(_TS))
    enriched = unioned.withColumn("__b", bwd).withColumn("__f", fwd)
    gb = lus - epoch_us(F.col("__b")[_MATCHED])
    gf = epoch_us(F.col("__f")[_MATCHED]) - lus
    chosen = (
        F.when(F.col("__b").isNull(), F.col("__f"))
        .when(F.col("__f").isNull(), F.col("__b"))
        .when(gb <= gf, F.col("__b"))  # equidistant -> backward (pandas)
        .otherwise(F.col("__f"))
    )
    if tolerance_sec is not None:
        tol_us = int(float(tolerance_sec) * 1_000_000)
        gap = F.abs(lus - epoch_us(chosen[_MATCHED]))
        chosen = F.when(gap <= F.lit(tol_us), chosen)
    out = enriched.withColumn(_MATCHED, chosen).filter(F.col(_SRC) == 1).select(
        *[F.col(c) for c in left.columns],
        *[F.col(_MATCHED)[c].alias(outn) for c, outn in payload_cols.items()],
    )
    return out
