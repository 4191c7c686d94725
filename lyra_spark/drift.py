"""Distribution-drift checks: KS statistic + PSI on per-partition KLL quantile
sketches merged tree-wise (BASELINE.json:6).

Scale architecture — raw rows NEVER shuffle for drift, and no row crosses
into a Python worker:
  stage 1 (map-side): Spark's native ``kll_sketch_agg_double`` partial
    aggregate folds each task's rows into one KLL sketch per partition key;
    only the sketches (O(k) doubles each) cross the exchange;
  stage 2: the final aggregate merges them → one sketch per Iceberg
    partition; ``kll_merge_agg_double`` merges those again for the global,
    leave-one-out and trailing references (a rollup / window over P rows);
  stage 3 (driver): each sketch arrives as its quantiles at a fixed grid of
    1,001 inclusive ranks (:data:`RANKS`); KS and PSI evaluate step CDFs on
    those arrays — pure numpy on tiny data. Spark's rank/quantile getters
    only take literal points, so the grid, not a data-dependent point set, is
    what crosses to the driver.
"""

from __future__ import annotations

import json
import math
import os
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lyra_spark.io import partition_key

SKETCH_SCHEMA = "part_key string, sketch binary, n long"
MULTI_SKETCH_SCHEMA = "part_key string, column string, sketch binary, n long"
# KLL accuracy parameter (larger k, smaller rank error, bigger sketch); a
# sketch of fewer than k values holds every value, so it is exact
K = 1000
# the driver-side form of a sketch: its quantiles at these inclusive ranks
# (resolution 0.001)
RANKS = np.linspace(0.0, 1.0, 1001)
_RANKS_SQL = "cast(split('" + ",".join(f"{float(r)!r}" for r in RANKS) + "', ',') as array<double>)"
REFERENCE_FORMAT = {"format": "lyra-kll-ref", "version": 2}
# ks_exact's distinct-value grid is walked by ONE task; past this many
# distinct values it refuses instead of running an unbounded single-task sort
KS_EXACT_MAX_DISTINCT = 2_000_000


def sketch_by_partition(
    df: DataFrame,
    value_col,
    partition_col: str = "part_date",
    k: int = K,
) -> DataFrame:
    """Per-partition KLL sketches of ``value_col`` (an expression string or
    Column) as SKETCH_SCHEMA rows: one native aggregate, partial sketches
    map-side, no raw-row shuffle. The value casts to double, so timestamp and
    decimal columns sketch like numbers; NULL values are skipped."""
    v = (F.expr(value_col) if isinstance(value_col, str) else value_col).cast("double")
    return (
        df.select(partition_key(partition_col).alias("part_key"), v.alias("v"))
        .filter(F.col("v").isNotNull())
        .groupBy("part_key")
        .agg(F.kll_sketch_agg_double("v", k).alias("sketch"), F.count(F.lit(1)).alias("n"))
    )


def sketch_columns_by_partition(
    df: DataFrame,
    value_cols: list,
    partition_col: str = "part_date",
    k: int = K,
) -> DataFrame:
    """Per-(partition, column) KLL sketches for SEVERAL columns from ONE
    scan. At 10¹²-row scale the scan IS the cost of drift monitoring —
    sketch_by_partition per column re-reads the table k times for a k-column
    dashboard; this builds all of them in one aggregate (one sketch and one
    non-NULL count per column per partition) and unpivots the result.

    ``value_cols``: list of column names or expression strings; each names
    its output slice (the expression string itself for expressions).
    Output rows are (part_key, column, sketch, n), one per (partition,
    column) with at least one non-NULL value; slice one column with
    ``.filter(col==c).drop("column")`` and every SKETCH_SCHEMA consumer
    (collect_quantiles, drift_verdicts, save_reference) works unchanged.
    """
    vals = [F.expr(c).cast("double") for c in value_cols]
    aggs = [F.kll_sketch_agg_double(v, k).alias(f"s{i}") for i, v in enumerate(vals)]
    aggs += [F.count(v).alias(f"n{i}") for i, v in enumerate(vals)]
    cells = F.inline(F.array(*[
        F.struct(F.lit(c).alias("column"), F.col(f"s{i}").alias("sketch"), F.col(f"n{i}").alias("n"))
        for i, c in enumerate(value_cols)
    ]))
    return (
        df.groupBy(partition_key(partition_col).alias("part_key"))
        .agg(*aggs)
        .select("part_key", cells)
        .filter(F.col("n") > 0)
    )


# --- driver-side form -------------------------------------------------------
class Quantiles(NamedTuple):
    """A sketch on the driver: its item count and its inclusive quantiles at
    :data:`RANKS` (``q[i]`` = the smallest sketched value whose fraction of
    values ≤ it reaches ``RANKS[i]``; q[0] is the minimum, q[-1] the max)."""

    n: int
    q: np.ndarray

    def cdf(self, x) -> np.ndarray:
        """Weak-inequality step CDF P(X ≤ x) to the grid's resolution: the
        largest grid rank whose quantile is ≤ x (0 below the minimum, 1 from
        the maximum on)."""
        j = np.searchsorted(self.q, np.asarray(x, dtype=np.float64), side="right")
        return np.maximum(j - 1, 0) / (len(self.q) - 1)

    def quantile(self, r) -> np.ndarray:
        """Quantile at the grid rank nearest to each ``r``."""
        return self.q[np.rint(np.asarray(r, dtype=np.float64) * (len(self.q) - 1)).astype(int)]


def _quantiles(sketch: str, n: str) -> Column:
    # the getter rejects an empty sketch (an n=0 trailing frame), so it is
    # guarded; the ranks must be foldable (NON_FOLDABLE_INPUT otherwise). One
    # string literal split and cast in the JVM: 1,001 F.lit calls cost ~0.5 s
    # of Python→JVM round trips, and a 1,001-child array(...) ~40 ms of
    # planning, per query
    return F.when(F.col(n) > 0, F.kll_sketch_get_quantile_double(sketch, F.expr(_RANKS_SQL)))


def _to_quantiles(row, q: str = "q", n: str = "n") -> Quantiles:
    return Quantiles(int(row[n] or 0), np.asarray(row[q] if row[q] is not None else [], dtype=np.float64))


def collect_quantiles(
    sketches: DataFrame, key: str = "part_key", reference: bytes | None = None
) -> tuple[dict[str, Quantiles], Quantiles | None]:
    """ONE collect: every ``key`` value's merged sketch plus a reference, all
    as :class:`Quantiles`. The reference is the stored blob when given
    (fed back as a binary literal), else the merge of every row — a
    ``rollup(key)``, so the global merge runs in the same Spark aggregate as
    the per-key merges. Returns ({key: Quantiles}, reference or None when
    there are no rows)."""
    merged = [F.kll_merge_agg_double("sketch").alias("sketch"), F.sum("n").alias("n")]
    if reference is None:
        rows = sketches.rollup(key).agg(*merged, F.grouping_id().alias("ref"))
    else:
        blob = F.lit(bytes(reference))
        stored = sketches.sparkSession.range(1).select(
            F.lit(None).cast("string").alias(key), blob.alias("sketch"),
            F.kll_sketch_get_n_double(blob).alias("n"), F.lit(1).alias("ref"),
        )
        rows = sketches.groupBy(key).agg(*merged, F.lit(0).alias("ref")).unionByName(stored)
    parts, ref = {}, None
    for r in rows.select(key, "ref", "n", _quantiles("sketch", "n").alias("q")).collect():
        if r["ref"]:
            ref = _to_quantiles(r)
        else:
            parts[r[key]] = _to_quantiles(r)
    return parts, ref


# --- reference persistence (run-over-run drift) ---------------------------
def save_reference(sketches: DataFrame, path: str) -> bytes:
    """Persist the merged global sketch of a run as the drift baseline and
    return its blob.

    The file is the production run-over-run contract: today's validation run
    compares each partition against YESTERDAY's saved reference instead of
    this run's own global merge. Atomic write (tmp + replace); the blob is
    the KLL sketch's own compact serialization after a 1-line JSON header."""
    row = sketches.agg(
        F.kll_merge_agg_double("sketch").alias("sketch"), F.sum("n").alias("n")
    ).collect()[0]
    if not row["n"]:
        raise ValueError("save_reference: no sketches — an empty reference would "
                         "NaN every KS/PSI and silently pass all drift checks")
    blob = bytes(row["sketch"])
    header = json.dumps({**REFERENCE_FORMAT, "n": int(row["n"])}).encode()
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(header + b"\n" + blob)
    os.replace(tmp, path)
    return blob


def load_reference(path: str) -> bytes:
    """The KLL blob of a reference file written by :func:`save_reference`.
    Any other format (a t-digest reference from before the KLL sketches)
    raises ValueError naming it: its blob is not a KLL sketch."""
    with open(path, "rb") as f:
        header, blob = f.read().split(b"\n", 1)
    meta = json.loads(header)
    found = {k: meta.get(k) for k in REFERENCE_FORMAT}
    if found != REFERENCE_FORMAT:
        raise ValueError(
            f"{path}: drift reference format {found['format']!r} version {found['version']} "
            f"is not {REFERENCE_FORMAT['format']!r} version {REFERENCE_FORMAT['version']}; "
            "rebuild it with save_reference"
        )
    return blob


# --- categorical drift (distributed, pure Catalyst) -------------------------
def categorical_psi(
    df: DataFrame,
    col: str,
    partition_col: str = "part_date",
    alpha: float = 0.5,
    null_token: str = "<NULL>",
) -> DataFrame:
    """Per-partition PSI of a CATEGORICAL column's value distribution vs the
    whole table (role/tool/lang drift — the KLL path covers numeric
    columns only, and quantile sketches are meaningless on nominal values).

    Returns (partition, psi, js, n_rows, n_categories) — PSI plus the
    Jensen–Shannon divergence (natural log, so js ∈ [0, ln 2]) of the same
    smoothed distributions, computed in the SAME aggregate: js is bounded and
    symmetric where PSI explodes on rare categories, so thresholds transfer
    across partitions of very different size. Additive (Laplace) smoothing
    ``alpha`` on BOTH sides over the GLOBAL category set handles categories
    absent from one side (a new role appearing in today's partition is
    precisely the event to flag, not a log(0)).

    Scale shape: everything aggregates COUNTS — one exchange on
    (partition, value) for the grid (map-side partials absorb hot values),
    one global (value) aggregate derived from the same grid (pre-aggregated:
    #partitions × #categories rows, not raw rows), one broadcast-size join on
    value, one final sum per partition. Raw rows shuffle exactly once. The
    category set of a validated enum-ish column is small by definition; a
    high-cardinality column (conv_id) is not a drift target.
    """
    vals = df.select(
        F.coalesce(F.col(col).cast("string"), F.lit(null_token)).alias("__v"),
        # NULL-sentineled partition key (decision 64 family): the dense-grid
        # equi-join below never matches NULL = NULL, so a NULL partition kept
        # by groupBy would get n=0 for EVERY category (pure smoothing mass →
        # a huge spurious PSI row); "\x00NULL" is unprintable and cannot
        # collide with a real partition string
        F.coalesce(F.col(partition_col).cast("string"), F.lit("\x00NULL")).alias("partition"),
    )
    grid = vals.groupBy("partition", "__v").agg(F.count(F.lit(1)).alias("n"))
    grid = grid.localCheckpoint(eager=False)  # reused by all three branches
    glob = grid.groupBy("__v").agg(F.sum("n").alias("gn"))
    # dense (partition × global category) frame so absent categories get n=0
    parts = grid.groupBy("partition").agg(F.sum("n").alias("pn"))
    k = glob.count()  # global category count (small by contract)
    gtot = glob.agg(F.sum("gn")).collect()[0][0] or 0
    dense = parts.crossJoin(F.broadcast(glob)).join(
        grid, ["partition", "__v"], "left"
    ).select(
        "partition",
        "pn",
        "gn",
        F.coalesce(F.col("n"), F.lit(0)).alias("n"),
    )
    a = float(alpha)
    p = (F.col("n") + F.lit(a)) / (F.col("pn") + F.lit(a) * k)
    q = (F.col("gn") + F.lit(a)) / (F.lit(float(gtot)) + F.lit(a) * k)
    term = (p - q) * F.log(p / q)
    m = (p + q) / 2
    js_term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    return (
        dense.groupBy("partition")
        .agg(
            F.sum(term).alias("psi"),
            F.sum(js_term).alias("js"),
            F.max("pn").alias("n_rows"),
            F.count(F.lit(1)).alias("n_categories"),
        )
    )


def categorical_psi_trailing(
    df: DataFrame,
    col: str,
    partition_col: str = "part_date",
    k: int = 7,
    alpha: float = 0.5,
    null_token: str = "<NULL>",
) -> DataFrame:
    """Per-partition PSI + Jensen–Shannon of a categorical column vs the
    TRAILING ``k`` partitions — the production drift monitor shape
    (categorical_psi compares against the whole table, which dilutes a
    regime change the longer history grows; a trailing reference flags it
    the day it lands, the same pattern row_count_anomaly uses for counts).

    Returns (partition, psi, js, n_rows, ref_rows, n_ref_parts,
    n_categories); partitions with no preceding partition emit nothing
    (no reference to compare against), and ``n_ref_parts`` < k marks a
    still-warming window for the caller's threshold logic. Partitions
    order lexicographically — ISO dates sort correctly by construction.

    Scale shape: raw rows shuffle ONCE into the (partition, value) count
    grid; the dense grid (every partition × the GLOBAL category set, absent
    combos at n=0 so the trailing frame is positionally exact), the
    per-value trailing window, the per-partition reference total, and the
    final roll-up all operate on that pre-aggregated grid — ~#partitions ×
    #categories rows, never raw data. Laplace smoothing ``alpha`` on both
    sides over the global category set, exactly as categorical_psi.
    """
    from pyspark.sql import Window

    vals = df.select(
        F.coalesce(F.col(col).cast("string"), F.lit(null_token)).alias("__v"),
        # NULL-sentineled partition key (decision 64 family): the dense-grid
        # equi-join below never matches NULL = NULL, so a NULL partition kept
        # by groupBy would get n=0 for EVERY category (pure smoothing mass →
        # a huge spurious PSI row); "\x00NULL" is unprintable and cannot
        # collide with a real partition string
        F.coalesce(F.col(partition_col).cast("string"), F.lit("\x00NULL")).alias("partition"),
    )
    grid = vals.groupBy("partition", "__v").agg(F.count(F.lit(1)).alias("n"))
    grid = grid.localCheckpoint(eager=False)
    glob = grid.select("__v").distinct()
    kcat = glob.count()  # global category count (small by contract)
    parts = grid.groupBy("partition").agg(F.sum("n").alias("pn"))
    dense = parts.crossJoin(F.broadcast(glob)).join(
        grid, ["partition", "__v"], "left"
    ).select("partition", "pn", "__v", F.coalesce(F.col("n"), F.lit(0)).alias("n"))

    w_val = Window.partitionBy("__v").orderBy("partition").rowsBetween(-int(k), -1)
    trail = dense.select(
        "partition",
        "pn",
        "__v",
        "n",
        F.coalesce(F.sum("n").over(w_val), F.lit(0)).alias("ref_n"),
        F.count(F.lit(1)).over(w_val).alias("n_ref_parts"),
    )
    w_part = Window.partitionBy("partition")
    trail = trail.withColumn("ref_pn", F.sum("ref_n").over(w_part)).filter(
        F.col("n_ref_parts") > 0
    )

    a = float(alpha)
    p = (F.col("n") + F.lit(a)) / (F.col("pn") + F.lit(a) * kcat)
    q = (F.col("ref_n") + F.lit(a)) / (F.col("ref_pn") + F.lit(a) * kcat)
    term = (p - q) * F.log(p / q)
    m = (p + q) / 2
    js_term = (p * F.log(p / m) + q * F.log(q / m)) / 2
    return trail.groupBy("partition").agg(
        F.sum(term).alias("psi"),
        F.sum(js_term).alias("js"),
        F.max("pn").alias("n_rows"),
        F.max("ref_pn").alias("ref_rows"),
        F.max("n_ref_parts").alias("n_ref_parts"),
        F.count(F.lit(1)).alias("n_categories"),
    )


# --- drift metrics (numpy on quantile grids) --------------------------------
def ks_statistic(a: Quantiles, b: Quantiles) -> float:
    """max |CDF_a − CDF_b| over the union of both quantile grids — the
    points where either step CDF jumps."""
    grid = np.union1d(a.q, b.q)
    return float(np.max(np.abs(a.cdf(grid) - b.cdf(grid))))


def ks_exact(
    df: DataFrame, value_col: str, group_col: str, group_a: str, group_b: str
) -> float:
    """EXACT two-sample Kolmogorov–Smirnov statistic between two groups'
    value distributions: max over the distinct-value grid of |ECDF_a −
    ECDF_b|. This is the ground-truth gate the sketch-based
    :func:`ks_statistic` is tolerance-checked against (driver query
    `ks_tolerance`); the sketches (rows 30-31) are the 10¹²-row path.

    Shape: one hash-agg collapses the data to the distinct-value grid
    (per-value counts for each side — constant buffers), then ONE
    unpartitioned window walks the grid for the running counts. The global
    window is a single task over DISTINCT VALUES — honest for a gate/sample
    mode (same stance as percentile_stats, row 60), and exactly the part the
    sketch path exists to avoid at full scale. The grid is counted first
    (and kept, so the input is scanned once); above
    :data:`KS_EXACT_MAX_DISTINCT` distinct values it raises ValueError
    instead of starting that single task.
    """
    from pyspark.sql import Window

    v = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isin(group_a, group_b)
    ).select(F.col(group_col).alias("g"), F.col(value_col).alias("x"))
    grid = v.groupBy("x").agg(
        F.count(F.when(F.col("g") == group_a, 1)).alias("ca"),
        F.count(F.when(F.col("g") == group_b, 1)).alias("cb"),
    ).localCheckpoint(eager=False)
    distinct = grid.count()
    if distinct > KS_EXACT_MAX_DISTINCT:
        raise ValueError(
            f"ks_exact: {distinct} distinct values exceed KS_EXACT_MAX_DISTINCT="
            f"{KS_EXACT_MAX_DISTINCT} (the grid is walked by one task); compare "
            "sketches with ks_statistic instead"
        )
    # totals come from a full-frame window over the SAME sort as the running
    # counts — one sort of the distinct grid, one job
    wcum = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wtot = Window.orderBy("x").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ta, tb = F.sum("ca").over(wtot), F.sum("cb").over(wtot)
    # try_divide: an empty group must surface as the ValueError below, not a
    # mid-job ANSI DIVIDE_BY_ZERO (max() ignores the resulting NULL gaps)
    gaps = grid.select(
        F.abs(
            F.try_divide(F.sum("ca").over(wcum), ta.cast("double"))
            - F.try_divide(F.sum("cb").over(wcum), tb.cast("double"))
        ).alias("gap"),
        ta.alias("ta"),
        tb.alias("tb"),
    )
    row = gaps.agg(F.max("gap").alias("ks"), F.max("ta").alias("na"), F.max("tb").alias("nb")).collect()[0]
    na, nb = row["na"] or 0, row["nb"] or 0
    if na == 0 or nb == 0:
        raise ValueError(f"both groups need rows: {group_a}={na}, {group_b}={nb}")
    return float(row["ks"])


def psi(reference: Quantiles, current: Quantiles, bins: int = 10, eps: float = 1e-6) -> float:
    """Population Stability Index over equi-probable bins from the reference."""
    edges = reference.quantile(np.linspace(0.0, 1.0, bins + 1))[1:-1]
    ref_cdf = np.concatenate([[0.0], reference.cdf(edges), [1.0]])
    cur_cdf = np.concatenate([[0.0], current.cdf(edges), [1.0]])
    p = np.clip(np.diff(ref_cdf), eps, None)
    q = np.clip(np.diff(cur_cdf), eps, None)
    p, q = p / p.sum(), q / q.sum()
    return float(np.sum((p - q) * np.log(p / q)))


def numeric_drift_trailing(
    df: DataFrame,
    value_col: str,
    partition_col: str,
    k: int = 3,
    ks_threshold: float = 0.10,
    ks_alpha_c: float = 1.95,
) -> pd.DataFrame:
    """Trailing-window NUMERIC drift: each partition's sketch KS-compared
    against the POOLED sketch of the previous ``k`` partitions (in sorted
    partition-key order — dates sort chronologically). The numeric
    counterpart of :func:`categorical_psi_trailing`, and the run-over-run
    monitor shape: a whole-table reference (drift_verdicts) dilutes a regime
    change as history grows, while a trailing window flags it the partition
    it lands.

    Scale shape: the data is touched by ONE distributed sketch pass
    (sketch_by_partition); the pooled sketch is ``kll_merge_agg_double``
    over a ``ROWS BETWEEN k PRECEDING AND 1 PRECEDING`` window on the P
    per-partition sketch rows (one task over P rows — the same rows the
    driver collects), and both sketches reach the driver as quantile grids
    in the same collect.

    The KS gate is sample-size aware exactly like drift_verdicts: the cut is
    max(ks_threshold, c·√((n+m)/(n·m))) — a fixed threshold on a small
    partition fires on pure sampling noise. The first partition has no
    trailing history and reports ks=NaN, pass=True.
    """
    from pyspark.sql import Window

    if k <= 0:
        raise ValueError("k must be positive")
    w = Window.orderBy("part_key").rowsBetween(-int(k), -1)
    rows = (
        sketch_by_partition(df, value_col, partition_col)
        .select(
            "part_key", "n", _quantiles("sketch", "n").alias("q"),
            F.count(F.lit(1)).over(w).alias("n_ref_parts"),
            F.coalesce(F.sum("n").over(w), F.lit(0)).alias("m"),
            F.kll_merge_agg_double("sketch").over(w).alias("pooled"),
        )
        .select("part_key", "n", "q", "n_ref_parts", "m", _quantiles("pooled", "m").alias("ref_q"))
        .collect()
    )
    out = []
    for r in sorted(rows, key=lambda r: r["part_key"]):
        if r["n_ref_parts"]:
            cur, pooled = _to_quantiles(r), _to_quantiles(r, q="ref_q", n="m")
            n, m = cur.n, pooled.n
            cut = max(ks_threshold, ks_alpha_c * math.sqrt((n + m) / (n * m)))
            ks = ks_statistic(cur, pooled)
            out.append({"part_key": r["part_key"], "ks": ks, "n_ref_parts": r["n_ref_parts"],
                        "threshold": cut, "pass": ks < cut})
        else:
            out.append({"part_key": r["part_key"], "ks": float("nan"), "n_ref_parts": 0,
                        "threshold": ks_threshold, "pass": True})
    return pd.DataFrame(out)


def drift_quantiles(
    sketches: DataFrame, reference: bytes | None = None, loo_max_partitions: int = 10
) -> tuple[dict[str, Quantiles], Quantiles | None, dict[str, Quantiles] | None]:
    """The Spark half of :func:`drift_verdicts`, every job it runs: the
    per-partition quantiles and the reference (:func:`collect_quantiles`),
    plus the leave-one-out references when there is no stored reference and
    2 ≤ P < ``loo_max_partitions``, else None."""
    parts, ref = collect_quantiles(sketches, reference=reference)
    keys = sorted(parts)
    loo = None
    if reference is None and 1 < len(keys) < loo_max_partitions:
        # cold-start reference: leave-one-out below loo_max_partitions
        # (dilution would be material), the single self-inclusive global
        # merge above it. Each sketch row is copied to every OTHER key, so
        # grouping by key merges the rest — P·(P−1) sketch rows, only ever
        # for small P
        others = F.array_remove(F.array(*[F.lit(k) for k in keys]), F.col("part_key"))
        loo, _ = collect_quantiles(sketches.select(F.explode(others).alias("part_key"), "sketch", "n"))
    return parts, ref, loo


def drift_verdicts(
    sketches: DataFrame,
    reference: bytes | None = None,
    ks_threshold: float = 0.10,
    psi_threshold: float = 0.25,
    psi_min_n: int = 500,
    ks_alpha_c: float = 1.95,
    rule_id: str = "text_len_drift",
    loo_max_partitions: int = 10,
    quantiles: tuple | None = None,
) -> pd.DataFrame:
    """Per-partition KS/PSI vs a reference sketch → pass/fail frame.

    ``reference`` is a stored KLL blob (load_reference). If it is None, each
    partition is compared against the merged GLOBAL sketch of all partitions
    (self-inclusion reference) — the cold-start mode when no historical
    baseline exists. The global sketch is merged ONCE, in the same Spark
    aggregate and collect as the per-partition quantiles, so driver work is
    O(P) in the partition count. Self-inclusion bias: a drifted partition
    contributes ~n_k/N of the reference mass, diluting its own KS/PSI by that
    factor — negligible for P ≫ 1, but at small P (2-3 partitions) the
    dilution can mask real drift, so for P < ``loo_max_partitions`` the
    reference falls back to per-partition LEAVE-ONE-OUT merges (one more
    small Spark aggregate over copies of the P sketches). Production runs
    should pass a persisted baseline (save_reference/load_reference) anyway.

    Thresholds are SAMPLE-SIZE AWARE: a fixed KS cut is statistically wrong
    for small partitions (pure sampling noise gives KS ≈ c/√n), so the KS gate
    is max(ks_threshold, c·√((n+m)/(n·m))) — the two-sample KS critical value
    at α≈0.001 for c=1.95. PSI only gates partitions with ≥ psi_min_n rows
    (binned PSI on tiny samples is dominated by empty-bin noise); it is always
    reported.

    ``quantiles``: the :func:`drift_quantiles` result for the same sketches,
    reference and ``loo_max_partitions``, when it was collected ahead (say on
    another thread); the sketches are then not read again.
    """
    parts, ref, loo = quantiles or drift_quantiles(sketches, reference, loo_max_partitions)
    keys = sorted(parts)
    if reference is not None and ref.n == 0:
        raise ValueError("drift_verdicts: empty reference sketch — every KS/PSI "
                         "would be NaN and silently pass")
    if not keys:
        # a columns-less pd.DataFrame([]) would KeyError (or silently
        # all-pass) downstream — return the empty frame WITH the contract
        # columns so callers' filters work unchanged
        return pd.DataFrame(
            columns=["part_key", "rule_id", "n", "ks", "ks_crit", "psi", "pass"]
        )
    if reference is None and len(keys) == 1:
        # one partition and no baseline: the only possible reference is the
        # partition itself — ks=0/psi=0 would be a FABRICATED measurement
        # blessing arbitrary drift; report NaN + pass (no history is not
        # drift, decision 49) exactly like numeric_drift_trailing's first row
        k = keys[0]
        return pd.DataFrame([
            {"part_key": k, "rule_id": rule_id, "n": max(parts[k].n, 1),
             "ks": float("nan"), "ks_crit": float("nan"), "psi": float("nan"),
             "pass": True}
        ])
    rows = []
    for k in keys:
        cur = parts[k]
        if loo is not None:
            ref = loo[k]
        ks = ks_statistic(ref, cur)
        p = psi(ref, cur)
        n, m = max(cur.n, 1), max(ref.n, 1)
        ks_crit = max(ks_threshold, ks_alpha_c * np.sqrt((n + m) / (n * m)))
        ks_fail = ks > ks_crit
        psi_fail = n >= psi_min_n and p > psi_threshold
        rows.append(
            {
                "part_key": k,
                "rule_id": rule_id,
                "n": int(n),
                "ks": ks,
                "ks_crit": ks_crit,
                "psi": p,
                "pass": not (ks_fail or psi_fail),
            }
        )
    return pd.DataFrame(rows)
