"""Declarative metric constraint rules — bounds on AGGREGATE metrics of a
table or of each partition (the Deequ ``Check`` surface: ``hasSize``,
``hasMean``, ``hasMin``/``hasMax``, ``hasStandardDeviation``,
``hasCompleteness``, ``hasDistinctCount`` / approx variants).

Row rules (rules.py → engine.py) judge individual rows; metric rules judge
the COHORT. A partition whose every row is individually legal can still be
broken — the mean shifted, volume halved, a category collapsed — and no
per-row predicate can see it. Metric rules make those expectations reviewed,
versioned config instead of ad-hoc notebook queries, and report through the
same pass/fail verdict shape the row-rule grid uses.

Scale: ALL declared metrics evaluate in ONE wide aggregation pass
(``evaluate_metric_rules`` emits a single groupBy(partition).agg(...) — one
scan + one exchange for any number of rules). Every metric is a built-in
Catalyst aggregate with constant-size buffers that partial-aggregate
map-side and merge tree-wise (avg/sum/min/max/stddev moments; the
DataSketches HLL sketch of ``stats.approx_distinct``). The one exception is
``distinct`` (exact COUNT(DISTINCT)): Spark plans it with an Expand — still
one scan, but the exchange carries (group, value) pairs, i.e. cost grows
with column cardinality. That is the oracle/gate mode; at 10⁹+ distinct
values declare ``approx_distinct`` (an HLL sketch sized to ``rsd``,
constant buffers) instead.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lyra_spark.stats import _anomaly_filter, approx_distinct, hll_lg_k

METRICS = {
    "row_count",
    "mean",
    "sum",
    "min",
    "max",
    "stddev",
    "completeness",
    "distinct",
    "approx_distinct",
    "uniqueness",
    "distinctness",
    "compliance",
    "quantile",
    "approx_quantile",
}

# Metrics that need the per-value count grid (they are functions of the value
# histogram, not of constant-size moments): evaluated in ONE shared extra
# scan — see _evaluate_grid_rules.
_GRID_METRICS = {"uniqueness", "distinctness"}


@dataclass(frozen=True)
class MetricRule:
    """One bounded metric: ``pass`` ⇔ min ≤ metric(column) ≤ max (inclusive,
    either bound optional but at least one required). A metric that cannot be
    computed (all-NULL column for mean, single row for stddev) yields a NULL
    value and FAILS — an unmeasurable expectation is a broken one, never a
    silent pass. ``severity`` follows the row-rule convention: "warn" rules
    report but never gate a partition (metric_partition_pass)."""

    rule_id: str
    metric: str
    column: str | None = None  # None for row_count only
    min: float | None = None
    max: float | None = None
    severity: str = "error"
    rsd: float = 0.05  # approx_distinct precision
    # Deequ Check.where(): a SQL boolean expression restricting which rows
    # this rule's metric measures ("event_type = 'purchase'"). Evaluated as
    # CONDITIONAL aggregation inside the same single agg pass — a where'd
    # mean is avg(CASE WHEN cond THEN col END), so N filtered rules still
    # cost one scan, never one scan per predicate.
    where: str | None = None
    # compliance only (Deequ satisfies): the SQL boolean predicate whose
    # satisfied-row fraction is the metric. NULL predicate results count as
    # NOT satisfied (fail-safe).
    expr: str | None = None
    # quantile metrics only: which quantile (0 < q < 1). `quantile` is the
    # EXACT interpolated percentile (SQL PERCENTILE_CONT / Hyndman-Fan 7) —
    # oracle-checkable, but its aggregate buffers the group's values, so at
    # 10^12-row scale declare `approx_quantile` (percentile_approx, a
    # constant-memory quantile sketch with `accuracy` trading memory for
    # rank error <= 1/accuracy).
    q: float | None = None
    accuracy: int = 10000

    def __post_init__(self) -> None:
        if self.metric not in METRICS:
            raise ValueError(f"unknown metric {self.metric!r} (known: {sorted(METRICS)})")
        if self.metric in ("row_count", "compliance"):
            if self.column is not None:
                raise ValueError(f"{self.metric} is a table metric — no column")
        elif not self.column:
            raise ValueError(f"metric {self.metric!r} requires a column")
        if self.min is None and self.max is None:
            raise ValueError(f"{self.rule_id}: at least one of min/max is required")
        if self.min is not None and self.max is not None and self.min > self.max:
            raise ValueError(f"{self.rule_id}: min {self.min} > max {self.max}")
        if self.severity not in ("error", "warn"):
            raise ValueError(f"unknown severity {self.severity!r} (known: error, warn)")
        hll_lg_k(self.rsd)  # rsd in (0, 1) and within the finest HLL sketch
        if self.where is not None and (not isinstance(self.where, str) or not self.where.strip()):
            raise ValueError(f"{self.rule_id}: where must be a non-empty SQL boolean expression")
        if self.metric == "compliance":
            if not isinstance(self.expr, str) or not self.expr.strip():
                raise ValueError(f"{self.rule_id}: compliance requires expr (a SQL boolean predicate)")
        elif self.expr is not None:
            raise ValueError(f"{self.rule_id}: expr is only valid for the compliance metric")
        if self.metric in ("quantile", "approx_quantile"):
            if self.q is None or not (0.0 < self.q < 1.0):
                raise ValueError(f"{self.rule_id}: quantile metrics need q in (0, 1), got {self.q!r}")
        elif self.q is not None:
            raise ValueError(f"{self.rule_id}: q is only valid for quantile metrics")
        if self.accuracy < 1:
            raise ValueError(f"accuracy must be >= 1, got {self.accuracy!r}")


# --- builders (Deequ naming: size/mean/sum/minimum/maximum/stddev/...) ----------
def _mk(metric: str, column: str | None, rule_id: str | None, **kw: Any) -> MetricRule:
    rid = rule_id or (f"{metric}_{column}" if column else metric)
    return MetricRule(rule_id=rid, metric=metric, column=column, **kw)


def size(min: float | None = None, max: float | None = None, rule_id: str | None = None,
         severity: str = "error", where: str | None = None) -> MetricRule:
    """Partition/table row count within bounds (Deequ hasSize)."""
    return _mk("row_count", None, rule_id, min=min, max=max, severity=severity, where=where)


def mean(column: str, min: float | None = None, max: float | None = None,
         rule_id: str | None = None, severity: str = "error",
         where: str | None = None) -> MetricRule:
    return _mk("mean", column, rule_id, min=min, max=max, severity=severity, where=where)


def total(column: str, min: float | None = None, max: float | None = None,
          rule_id: str | None = None, severity: str = "error",
          where: str | None = None) -> MetricRule:
    """SUM(column) within bounds (Deequ hasSum; `total` because `sum` shadows)."""
    return _mk("sum", column, rule_id, min=min, max=max, severity=severity, where=where)


def minimum(column: str, min: float | None = None, max: float | None = None,
            rule_id: str | None = None, severity: str = "error",
            where: str | None = None) -> MetricRule:
    return _mk("min", column, rule_id, min=min, max=max, severity=severity, where=where)


def maximum(column: str, min: float | None = None, max: float | None = None,
            rule_id: str | None = None, severity: str = "error",
            where: str | None = None) -> MetricRule:
    return _mk("max", column, rule_id, min=min, max=max, severity=severity, where=where)


def stddev(column: str, min: float | None = None, max: float | None = None,
           rule_id: str | None = None, severity: str = "error",
           where: str | None = None) -> MetricRule:
    """Sample standard deviation within bounds (Deequ hasStandardDeviation)."""
    return _mk("stddev", column, rule_id, min=min, max=max, severity=severity, where=where)


def completeness(column: str, min: float = 1.0, rule_id: str | None = None,
                 severity: str = "error", where: str | None = None) -> MetricRule:
    """Non-NULL fraction ≥ min (Deequ hasCompleteness / isComplete at 1.0).
    The metric twin of a `required` row rule with tolerance 1-min: this one
    reports the measured rate, that one reports the violating ROWS."""
    return _mk("completeness", column, rule_id, min=min, max=None, severity=severity, where=where)


def distinct_count(column: str, min: float | None = None, max: float | None = None,
                   rule_id: str | None = None, severity: str = "error",
                   approx: bool = False, rsd: float = 0.05,
                   where: str | None = None) -> MetricRule:
    """Distinct values within bounds (Deequ hasDistinctCount). approx=True
    swaps COUNT(DISTINCT) for the HLL sketch estimate (stats.approx_distinct)
    — the 10⁹-cardinality mode; leave bounds slack by ~3·rsd there."""
    m = "approx_distinct" if approx else "distinct"
    return _mk(m, column, rule_id, min=min, max=max, severity=severity, rsd=rsd, where=where)


def compliance(expr: str, min: float = 1.0, max: float | None = None,
               rule_id: str | None = None, severity: str = "error",
               where: str | None = None) -> MetricRule:
    """Fraction of rows satisfying a SQL boolean predicate (Deequ
    Check.satisfies): compliance("value >= 0 OR event_type = 'refund'",
    min=0.99). NULL predicate results count as NOT satisfied. Rides the
    single wide agg pass like every moment metric."""
    return MetricRule(
        rule_id=rule_id or "compliance", metric="compliance", column=None,
        min=min, max=max, severity=severity, where=where, expr=expr,
    )


def quantile(column: str, q: float, min: float | None = None, max: float | None = None,
             rule_id: str | None = None, severity: str = "error",
             approx: bool = False, accuracy: int = 10000,
             where: str | None = None) -> MetricRule:
    """The q-quantile of a numeric column within bounds (Deequ
    hasApproxQuantile). Default is the EXACT interpolated percentile
    (PERCENTILE_CONT semantics — the oracle/gate mode; buffers group values
    at the final merge, like stats.percentile_stats documents); approx=True
    swaps in percentile_approx, the constant-memory sketch for 10^12-row
    scale (rank error <= 1/accuracy)."""
    m = "approx_quantile" if approx else "quantile"
    rid = rule_id or f"{m}_{column}"
    return MetricRule(rule_id=rid, metric=m, column=column, min=min, max=max,
                      severity=severity, where=where, q=q, accuracy=accuracy)


def uniqueness(column: str, min: float = 1.0, rule_id: str | None = None,
               severity: str = "error", where: str | None = None) -> MetricRule:
    """Fraction of non-NULL values occurring EXACTLY ONCE, over non-NULL rows
    (Deequ hasUniqueness; 1.0 = the column is a key). Grid metric: costs one
    shared extra scan (see evaluate_metric_rules)."""
    return _mk("uniqueness", column, rule_id, min=min, max=None, severity=severity, where=where)


def distinctness(column: str, min: float | None = None, max: float | None = None,
                 rule_id: str | None = None, severity: str = "error",
                 where: str | None = None) -> MetricRule:
    """Distinct non-NULL values / non-NULL rows (Deequ hasDistinctness):
    near-1.0 flags an accidental id column, near-0 a collapsed one. Grid
    metric: costs one shared extra scan (see evaluate_metric_rules)."""
    return _mk("distinctness", column, rule_id, min=min, max=max, severity=severity, where=where)


# --- evaluation -----------------------------------------------------------------
def _agg_expr(r: MetricRule):
    # where-restriction via conditional aggregation: rows failing the
    # predicate become NULL inputs, which every aggregate here ignores —
    # the whole ruleset stays ONE agg pass however many predicates it mixes.
    cond = F.expr(r.where) if r.where else None
    if r.metric == "row_count":
        return (
            F.count(F.lit(1)) if cond is None else F.count(F.when(cond, F.lit(1)))
        ).cast("double")
    if r.metric == "completeness":
        # condition wraps the 0/1 indicator, NOT the column: a row excluded
        # by where must drop out of the ratio entirely, not count as a NULL
        base = F.col(r.column).isNotNull().cast("double")
        return F.avg(F.when(cond, base)) if cond is not None else F.avg(base)
    if r.metric == "compliance":
        # NULL predicate result = NOT satisfied (coalesce false), while a
        # where-excluded row drops out of the denominator entirely
        sat = F.coalesce(F.expr(r.expr), F.lit(False)).cast("double")
        return F.avg(F.when(cond, sat)) if cond is not None else F.avg(sat)
    c = F.col(r.column) if r.column else None
    if c is not None and cond is not None:
        c = F.when(cond, c)
    if r.metric == "mean":
        return F.avg(c)
    if r.metric == "sum":
        return F.sum(c.cast("double"))
    if r.metric == "min":
        return F.min(c).cast("double")
    if r.metric == "max":
        return F.max(c).cast("double")
    if r.metric == "stddev":
        return F.stddev_samp(c)
    if r.metric == "distinct":
        return F.count_distinct(c).cast("double")
    if r.metric == "quantile":
        return F.percentile(c, F.lit(float(r.q))).cast("double")
    if r.metric == "approx_quantile":
        return F.percentile_approx(c, F.lit(float(r.q)), F.lit(int(r.accuracy))).cast("double")
    if r.metric == "approx_distinct":
        return approx_distinct(c, r.rsd).cast("double")
    # a metric in METRICS but without a branch here would otherwise silently
    # compute SOMETHING plausible — fail loudly instead
    raise AssertionError(f"no aggregation defined for metric {r.metric!r}")


def _verdict_struct(r: MetricRule, v, with_sev: bool):
    """Shared verdict-row shape: pass decided on the UNROUNDED metric, value
    reported rounded to 6 dp; NULL metric fails (see MetricRule)."""
    ok = v.isNotNull()
    if r.min is not None:
        ok = ok & (v >= F.lit(float(r.min)))
    if r.max is not None:
        ok = ok & (v <= F.lit(float(r.max)))
    fields = [
        F.lit(r.rule_id).alias("rule_id"),
        F.lit(r.metric).alias("metric"),
        F.lit(r.column).cast("string").alias("column"),
        F.round(v, 6).alias("value"),
        F.lit(r.min).cast("double").alias("min_bound"),
        F.lit(r.max).cast("double").alias("max_bound"),
        ok.alias("pass"),
    ]
    if with_sev:
        fields.append(F.lit(r.severity).alias("severity"))
    return F.struct(*fields)


def _evaluate_grid_rules(
    df: DataFrame,
    rules: list[MetricRule],
    group: list[str],
    with_sev: bool,
) -> DataFrame:
    """Uniqueness-family metrics are functions of the VALUE HISTOGRAM, not of
    constant-size moments, so they cannot ride the wide-agg pass. All of them
    share ONE extra scan: unpivot every rule's (possibly where-restricted)
    value into (group, rule_idx, value) pairs, build the per-value count grid
    (constant buffers — a hot value partially aggregates map-side), then roll
    each rule's ratios up from that grid, whose size is value cardinality,
    never row count. Values compare by their string form (the unpivot must
    stack heterogeneous column types).

    Rows excluded by ``where`` (and NULL values) become NULL grid entries:
    they keep the (partition, rule) row PRESENT — a partition with zero
    measurable values reports metric NULL → pass FALSE instead of silently
    vanishing from the verdict frame."""
    structs = []
    for i, r in enumerate(rules):
        v = F.col(r.column).cast("string")
        if r.where:
            v = F.when(F.expr(r.where), v)
        structs.append(F.struct(F.lit(i).alias("rid"), v.alias("value")))
    pairs = df.select(*group, F.explode(F.array(*structs)).alias("p")).select(
        *group, "p.rid", "p.value"
    )
    counts = pairs.groupBy(*group, "rid", "value").agg(F.count(F.lit(1)).alias("cnt"))
    nn = F.col("value").isNotNull()
    aggs = counts.groupBy(*group, "rid").agg(
        F.sum(F.when(nn & (F.col("cnt") == 1), 1).otherwise(0)).cast("double").alias("__u"),
        F.sum(F.when(nn, 1).otherwise(0)).cast("double").alias("__d"),
        F.sum(F.when(nn, F.col("cnt")).otherwise(0)).cast("double").alias("__n"),
    )
    n = F.col("__n")
    verdicts = [
        F.when(
            F.col("rid") == i,
            _verdict_struct(
                r,
                F.when(n > 0, (F.col("__u") if r.metric == "uniqueness" else F.col("__d")) / n),
                with_sev,
            ),
        )
        for i, r in enumerate(rules)
    ]
    if not group:
        # global-cohort symmetry with groupBy().agg() (one row even on an
        # empty frame): an empty input must still emit one NULL-metric →
        # pass-FALSE row per rule, never vanish
        rid_universe = df.sparkSession.range(len(rules)).select(
            F.col("id").cast("int").alias("rid")
        )
        aggs = rid_universe.join(aggs, "rid", "left")
    s = verdicts[0] if len(verdicts) == 1 else F.coalesce(*verdicts)
    return aggs.select(*group, s.alias("s")).select(*group, "s.*")


def evaluate_metric_rules(
    df: DataFrame,
    rules: list[MetricRule],
    partition_col: str | None = None,
) -> DataFrame:
    """Evaluate every rule; long-format verdict frame ([partition_col],
    rule_id, metric, column, value, min_bound, max_bound, pass[, severity]).

    Cost: ONE wide aggregation pass for every moment-style metric (however
    many rules), plus — only when uniqueness/distinctness rules are declared
    — ONE shared value-grid scan for all of those (see _evaluate_grid_rules).

    ``value`` is reported rounded to 6 dp; ``pass`` is decided on the
    UNROUNDED metric (a boundary case never flips with the report rounding).
    The ``severity`` column appears exactly when some rule declares a
    non-default severity — the row-rule grid's schema-stability contract.
    NULL metric → pass FALSE (see MetricRule). With partition_col=None the
    whole frame is one cohort (one output row per rule).
    """
    ids = [r.rule_id for r in rules]
    if len(set(ids)) != len(ids):
        dup = sorted({i for i in ids if ids.count(i) > 1})
        raise ValueError(f"duplicate metric rule_id(s): {dup}")
    if not rules:
        raise ValueError("no metric rules given")
    reserved = {"rule_id", "metric", "column", "value", "min_bound", "max_bound",
                "pass", "severity", "rid", "cnt"}
    if partition_col in reserved:
        # the verdict frame and the grid pass own these names; a same-named
        # partition column would collide ambiguously — fail loudly up front
        raise ValueError(f"partition_col {partition_col!r} collides with a verdict column name")
    group = [partition_col] if partition_col else []
    with_sev = any(r.severity != "error" for r in rules)
    agg_rules = [r for r in rules if r.metric not in _GRID_METRICS]
    grid_rules = [r for r in rules if r.metric in _GRID_METRICS]
    out = None
    if agg_rules:
        aggs = [_agg_expr(r).alias(f"__m_{i}") for i, r in enumerate(agg_rules)]
        wide = df.groupBy(*group).agg(*aggs)
        structs = [
            _verdict_struct(r, F.col(f"__m_{i}"), with_sev) for i, r in enumerate(agg_rules)
        ]
        out = wide.select(*group, F.explode(F.array(*structs)).alias("s")).select(*group, "s.*")
    if grid_rules:
        gv = _evaluate_grid_rules(df, grid_rules, group, with_sev)
        out = gv if out is None else out.unionByName(gv)
    return out


def metric_partition_pass(verdicts: DataFrame, partition_col: str = "part_date") -> DataFrame:
    """Per-partition roll-up of a metric verdict grid: pass ⇔ every GATING
    (non-warn) metric rule passed; failed_metrics / warn_failed count the
    misses. NULL pass cells (column-mismatched unions) fail safe. Same
    driver-scale shape as engine.partition_pass (partitions × rules rows in,
    one tiny aggregation out) — combine the two gates with a join on the
    partition key and AND of the pass columns."""
    sev = (
        F.coalesce(F.col("severity"), F.lit("error"))
        if "severity" in verdicts.columns
        else F.lit("error")
    )
    gating = sev != "warn"
    p = F.coalesce(F.col("pass"), F.lit(False))
    return verdicts.groupBy(partition_col).agg(
        F.min(F.when(gating, p).otherwise(F.lit(True))).alias("pass"),
        F.sum(F.when(gating & ~p, 1).otherwise(0)).cast("long").alias("failed_metrics"),
        F.sum(F.when(~gating & ~p, 1).otherwise(0)).cast("long").alias("warn_failed"),
    )


def metric_anomalies(
    verdicts: DataFrame,
    partition_col: str = "part_date",
    trailing: int = 7,
    threshold: float = 0.5,
    min_ref_parts: int = 1,
) -> DataFrame:
    """Trailing-mean anomaly detection over EVERY metric rule's value series
    at once (Deequ addAnomalyCheck): a partition whose metric deviates from
    the trailing-``trailing``-partition mean of the SAME rule by more than
    ``threshold`` (relative) flags — the run-over-run complement of the
    absolute bounds, catching a mean that tripled while still inside its
    declared range.

    Input is a metric verdict grid (evaluate_metric_rules output) — already
    one row per (partition, rule), so the per-rule ordering window is
    partitioned BY RULE and the whole check is O(partitions × rules) with no
    data-file reads (stats.metric_anomaly semantics, generalized across
    rules). Same warm-up dials: only the first partition of a rule has no
    expectation, ``n_ref_parts`` reports the actual window size,
    ``min_ref_parts`` suppresses early-window noise, and an all-zero or NULL
    history never flags.

    Returns ([partition_col], rule_id, metric, value, expected, deviation,
    n_ref_parts) for anomalous rows.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("rule_id").orderBy(partition_col).rowsBetween(-trailing, -1)
    scored = verdicts.select(
        partition_col,
        "rule_id",
        "metric",
        F.col("value").cast("double").alias("value"),
    )
    return _anomaly_filter(scored, w, "n_ref_parts", threshold, min_ref_parts)


def append_metric_history(verdicts: DataFrame, history_dir: str, run_id: str) -> str:
    """Persist a run-stamped copy of a metric verdict grid under
    ``history_dir/run=<run_id>/`` — the metrics store (Deequ
    MetricsRepository): every validation run appends its grid, and
    ``metric_run_anomalies`` reads the accumulated history to judge THIS
    run against previous ones. The grid is partitions × rules (driver
    scale), so the write is a tiny single-file parquet; re-running the same
    run_id overwrites its own directory and nothing else."""
    import os
    import re

    if not re.fullmatch(r"[A-Za-z0-9._-]+", run_id or ""):
        # '/', '=', spaces etc. would corrupt the run=<id> partition layout
        # (and break the same-id-overwrites-itself guarantee)
        raise ValueError(f"run_id {run_id!r} must match [A-Za-z0-9._-]+")
    out = os.path.join(history_dir, f"run={run_id}")
    verdicts.withColumn("run_id", F.lit(run_id)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(out)
    return out


def metric_run_anomalies(
    history: DataFrame,
    current_run_id: str,
    partition_col: str = "part_date",
    trailing: int = 7,
    threshold: float = 0.5,
    min_ref_runs: int = 1,
) -> DataFrame:
    """RUN-over-run anomaly detection (the Deequ MetricsRepository +
    anomaly-check loop): for each (partition, rule), the CURRENT run's metric
    value is judged against the trailing mean of the SAME partition+rule over
    previous runs. This catches what the within-run trailing check
    (metric_anomalies) cannot: a reprocessing regression, where re-validating
    the same partition after a pipeline change shifts its metric — every
    partition can be individually in-bounds and the within-run series flat,
    yet today's run disagrees with every previous run about the same data.

    ``history`` is the accumulated store (read ``history_dir`` written by
    append_metric_history; Spark derives the ``run_id`` column from the
    directory names). Runs are ordered by run_id's LEXICAL order — use
    sortable run ids (dates: nightly-2026-08-20) — and only runs strictly
    before ``current_run_id`` in that order form the reference window.
    O(runs × partitions × rules) driver-scale rows, zero data-file reads.

    Returns ([partition_col], rule_id, metric, value, expected, deviation,
    n_ref_runs) for anomalous (partition, rule) pairs of the current run.
    """
    from pyspark.sql import Window

    if history.filter(F.col("run_id") == F.lit(current_run_id)).limit(1).count() == 0:
        # a typo'd run id would otherwise return an empty frame —
        # indistinguishable from "no anomalies" (silent false-negative)
        raise ValueError(f"run_id {current_run_id!r} not found in the metric history")
    w = (
        Window.partitionBy(partition_col, "rule_id")
        .orderBy("run_id")
        .rowsBetween(-trailing, -1)
    )
    scored = history.filter(F.col("run_id") <= F.lit(current_run_id)).select(
        partition_col,
        "rule_id",
        "metric",
        "run_id",
        F.col("value").cast("double").alias("value"),
    )
    return _anomaly_filter(
        scored, w, "n_ref_runs", threshold, min_ref_runs,
        keep=F.col("run_id") == F.lit(current_run_id),
    ).drop("run_id")


# --- config-file (de)serialization ----------------------------------------------
_CONFIG_KEYS = {"rule_id", "metric", "column", "min", "max", "severity", "rsd", "where", "expr", "q", "accuracy"}


def metric_rules_to_json(rules: list[MetricRule], indent: int = 2) -> str:
    """Serialize to the JSON list ``metric_rules_from_json`` reads; defaults
    are omitted so configs stay reviewable."""
    out = []
    for r in rules:
        d: dict[str, Any] = {"metric": r.metric, "rule_id": r.rule_id}
        if r.column is not None:
            d["column"] = r.column
        if r.min is not None:
            d["min"] = r.min
        if r.max is not None:
            d["max"] = r.max
        if r.severity != "error":
            d["severity"] = r.severity
        if r.metric == "approx_distinct" and r.rsd != 0.05:
            d["rsd"] = r.rsd
        if r.where is not None:
            d["where"] = r.where
        if r.expr is not None:
            d["expr"] = r.expr
        if r.q is not None:
            d["q"] = r.q
        if r.metric == "approx_quantile" and r.accuracy != 10000:
            d["accuracy"] = r.accuracy
        out.append(d)
    return json.dumps(out, indent=indent)


def metric_rules_from_json(source: str) -> list[MetricRule]:
    """Load metric rules from a JSON config (string or file path) — a list of
    objects like ``{"metric": "mean", "column": "value", "min": 40,
    "max": 60}``. Unknown metrics/keys and malformed bounds raise at load
    (same fail-loud contract as ruleset_from_json: a typo'd constraint
    silently checking nothing is the classic config failure)."""
    import os

    text = source
    if "\n" not in source and not source.lstrip().startswith("["):
        if not os.path.exists(source):
            raise FileNotFoundError(f"metric rules config not found: {source}")
        with open(source) as f:
            text = f.read()
    items = json.loads(text)
    if not isinstance(items, list):
        raise ValueError("metric rules config must be a JSON LIST of objects")
    rules: list[MetricRule] = []
    for i, d in enumerate(items):
        if not isinstance(d, dict):
            raise ValueError(f"metric rule #{i}: expected a JSON object, got {type(d).__name__}")
        unknown = set(d) - _CONFIG_KEYS
        if unknown:
            raise ValueError(
                f"metric rule #{i}: unknown key(s) {sorted(unknown)} — known: {sorted(_CONFIG_KEYS)}"
            )
        if "metric" not in d:
            raise ValueError(f"metric rule #{i}: 'metric' is required")
        for b in ("min", "max", "rsd", "q", "accuracy"):
            v = d.get(b)
            if v is not None and (not isinstance(v, (int, float)) or isinstance(v, bool)):
                raise ValueError(f"metric rule #{i}: {b} must be a number, got {v!r}")
        # a tuning knob on a metric it does not tune is a config typo, not a
        # no-op (same strictness MetricRule applies to q/expr)
        if "rsd" in d and d["metric"] != "approx_distinct":
            raise ValueError(f"metric rule #{i}: rsd only applies to approx_distinct")
        if "accuracy" in d and d["metric"] != "approx_quantile":
            raise ValueError(f"metric rule #{i}: accuracy only applies to approx_quantile")
        try:
            rules.append(
                _mk(
                    d["metric"],
                    d.get("column"),
                    d.get("rule_id"),
                    min=d.get("min"),
                    max=d.get("max"),
                    severity=d.get("severity", "error"),
                    where=d.get("where"),
                    **({"rsd": float(d["rsd"])} if "rsd" in d else {}),
                    **({"expr": d["expr"]} if "expr" in d else {}),
                    **({"q": float(d["q"])} if "q" in d else {}),
                    **({"accuracy": int(d["accuracy"])} if "accuracy" in d else {}),
                )
            )
        except TypeError as e:
            raise ValueError(f"metric rule #{i}: {e}") from None
    ids = [r.rule_id for r in rules]
    if len(set(ids)) != len(ids):
        dup = sorted({i for i in ids if ids.count(i) > 1})
        raise ValueError(f"duplicate metric rule_id(s): {dup}")
    return rules
