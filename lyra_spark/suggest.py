"""Rule suggestion: profile a table once and propose a ruleset.

The bootstrap gap every validation engine has: a new table arrives with no
ruleset, and someone must hand-derive "o_orderstatus is an enum of {F,O,P}"
from the data. This module proposes rules from observed invariants, the same
move as Deequ's ConstraintSuggestion (public AWSLabs design): suggestions are
facts that hold on the profiled data, emitted as data (a small DataFrame) and
convertible to a runnable RuleSet — validating the profiled table with its
own suggestions yields zero violations by construction (pinned in tests).

Suggestion kinds and their triggers:

  required  column has no NULLs (and the table is non-empty)
  unique    required AND distinct == rows (exact mode; within rsd approx)
  enum      string column with 1..enum_max_card distinct non-null values;
            carries the sorted value list
  range     numeric / timestamp / date column with any non-null values;
            carries observed [min, max]
  length    string column with any non-null values; carries observed
            char-length [min, max]

Scale shape (10^12 rows):

  pass 1 — ONE wide aggregate over every profiled column (count, non-null
  count, distinct, typed min/max, length min/max). All buffers are constant
  size except distinct: distinct_mode='approx' (the default,
  stats.approx_distinct's HLL sketch) keeps pass 1 constant-memory at any
  scale; 'exact' (count DISTINCT — Spark expands multi-distinct over one
  scan) is for small/oracle-checked profiles.
  Suggestions derive from the single result row via array→filter→explode —
  pure Catalyst, no driver round-trip, no createDataFrame(list).

  pass 2 (string columns only) — the enum value lists. Two-level so a
  high-cardinality column never builds a list: (column, value) counts with
  map-side partials (constant buffers), per-column cardinality off that grid
  (tiny), and collect_list only for columns that survived the
  cardinality <= enum_max_card broadcast semi-join — every surviving list is
  bounded by enum_max_card. An id-like column costs its cardinality in GRID
  ROWS (spills gracefully), never a driver list.

Value-list separator: '|' (documented; a value containing '|' would make the
joined list ambiguous for display, but ruleset_from_suggestions re-splits on
it, so such columns should use a custom separator via enum_sep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lyra_spark import rules as R
from lyra_spark.stats import approx_distinct

NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
TEMPORAL_TYPES = (T.TimestampType, T.TimestampNTZType, T.DateType)

SUGGESTION_COLUMNS = [
    "column", "kind", "lo_num", "hi_num", "lo_str", "hi_str",
    "len_lo", "len_hi", "vals",
]


def _empty_fields():
    return dict(
        lo_num=F.lit(None).cast("double"),
        hi_num=F.lit(None).cast("double"),
        lo_str=F.lit(None).cast("string"),
        hi_str=F.lit(None).cast("string"),
        len_lo=F.lit(None).cast("long"),
        len_hi=F.lit(None).cast("long"),
        vals=F.lit(None).cast("string"),
    )


def _sugg_struct(column: str, kind: str, **overrides) -> F.Column:
    fields = _empty_fields()
    fields.update(overrides)
    return F.struct(
        F.lit(column).alias("column"),
        F.lit(kind).alias("kind"),
        *[fields[k].alias(k) for k in SUGGESTION_COLUMNS[2:]],
    )


def suggest_rules(
    df: DataFrame,
    columns: list[str] | None = None,
    enum_max_card: int = 20,
    distinct_mode: str = "approx",
    rsd: float = 0.05,
    enum_sep: str = "|",
) -> DataFrame:
    """Propose rules for ``columns`` (default: all top-level columns).

    Returns (column, kind, lo_num, hi_num, lo_str, hi_str, len_lo, len_hi,
    vals) — numeric range bounds as doubles, temporal bounds as strings,
    enum values ``enum_sep``-joined in ascending order. Deterministic:
    re-runs and engines agree bit-for-bit in exact mode.
    """
    if columns is None:
        columns = [f.name for f in df.schema.fields]
    by_name = {f.name: f.dataType for f in df.schema.fields}
    for c in columns:
        if c not in by_name:
            raise ValueError(f"suggest_rules: no such column {c!r}")

    agg_d = (
        (lambda c: F.count_distinct(F.col(c)))
        if distinct_mode == "exact"
        else (lambda c: approx_distinct(c, rsd))
    )
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in columns:
        dt = by_name[c]
        aggs += [F.count(c).alias(f"__nn_{c}"), agg_d(c).alias(f"__d_{c}")]
        if isinstance(dt, NUMERIC_TYPES):
            aggs += [
                F.min(F.col(c).cast("double")).alias(f"__mn_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__mx_{c}"),
            ]
        elif isinstance(dt, TEMPORAL_TYPES):
            aggs += [
                F.min(F.col(c)).cast("string").alias(f"__mn_{c}"),
                F.max(F.col(c)).cast("string").alias(f"__mx_{c}"),
            ]
        elif isinstance(dt, T.StringType):
            aggs += [
                F.min(F.length(c)).cast("long").alias(f"__ln_{c}"),
                F.max(F.length(c)).cast("long").alias(f"__lx_{c}"),
                # how many non-NULL values parse as a JSON OBJECT
                # (json_object_keys is NULL for invalid JSON / non-objects)
                F.sum(F.json_object_keys(F.col(c)).isNotNull().cast("long")).alias(f"__jo_{c}"),
            ]
    wide = df.agg(*aggs)

    tol = F.lit(1.0) if distinct_mode == "exact" else F.lit(1.0 - rsd)
    per_col = []
    for c in columns:
        dt = by_name[c]
        n, nn, d = F.col("__n"), F.col(f"__nn_{c}"), F.col(f"__d_{c}")
        branch = [
            F.when((n > 0) & (nn == n), _sugg_struct(c, "required")),
            F.when((n > 0) & (nn == n) & (d >= tol * n), _sugg_struct(c, "unique")),
        ]
        if isinstance(dt, NUMERIC_TYPES):
            branch.append(
                F.when(nn > 0, _sugg_struct(
                    c, "range", lo_num=F.col(f"__mn_{c}"), hi_num=F.col(f"__mx_{c}")
                ))
            )
        elif isinstance(dt, TEMPORAL_TYPES):
            branch.append(
                F.when(nn > 0, _sugg_struct(
                    c, "range", lo_str=F.col(f"__mn_{c}"), hi_str=F.col(f"__mx_{c}")
                ))
            )
        elif isinstance(dt, T.StringType):
            branch.append(
                F.when(nn > 0, _sugg_struct(
                    c, "length", len_lo=F.col(f"__ln_{c}"), len_hi=F.col(f"__lx_{c}")
                ))
            )
        per_col.append(F.filter(F.array(*branch), lambda s: s.isNotNull()))
    base = wide.select(F.explode(F.flatten(F.array(*per_col))).alias("s")).select("s.*")

    str_cols = [c for c in columns if isinstance(by_name[c], T.StringType)]
    if str_cols:
        pairs = df.select(
            F.explode(
                F.array(*[
                    F.struct(F.lit(c).alias("column"), F.col(c).cast("string").alias("value"))
                    for c in str_cols
                ])
            ).alias("p")
        ).select("p.column", "p.value").filter(F.col("value").isNotNull())
        grid = pairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("__cnt"))
        card = grid.groupBy("column").agg(F.count(F.lit(1)).alias("__card"))
        low = card.filter(
            (F.col("__card") >= 1) & (F.col("__card") <= enum_max_card)
        ).select("column")
        enums = (
            grid.join(F.broadcast(low), "column")
            .groupBy("column")
            .agg(F.array_join(F.array_sort(F.collect_list("value")), enum_sep).alias("vals"))
            .select(
                "column",
                F.lit("enum").alias("kind"),
                *[_empty_fields()[k].alias(k) for k in SUGGESTION_COLUMNS[2:-1]],
                "vals",
            )
        )
        base = base.unionByName(enums)

        # JSON key policing (round 5, SURVEY §2 row 22f): a string column
        # whose EVERY non-NULL value is a JSON OBJECT gets a
        # json_unknown_keys proposal over the observed top-level key union —
        # zero violations on the profiled table by construction (the
        # suggestion self-validation contract). Key cardinality is capped by
        # enum_max_card exactly like enum value lists, so the collected list
        # is bounded; columns carrying id-keyed maps never qualify.
        qual = (
            wide.select(
                F.explode(
                    F.array(*[
                        F.struct(
                            F.lit(c).alias("column"),
                            ((F.col(f"__nn_{c}") > 0)
                             & (F.col(f"__jo_{c}") == F.col(f"__nn_{c}"))).alias("ok"),
                        )
                        for c in str_cols
                    ])
                ).alias("q")
            )
            .filter(F.col("q.ok"))
            .select(F.col("q.column").alias("column"))
        )
        kpairs = (
            df.select(
                F.explode(
                    F.array(*[
                        F.struct(F.lit(c).alias("column"),
                                 F.json_object_keys(F.col(c)).alias("ks"))
                        for c in str_cols
                    ])
                ).alias("p")
            )
            .select("p.column", F.explode("p.ks").alias("value"))
            # prune BEFORE the (column, key) shuffle: qual comes from the
            # already-computed 1-row wide aggregate, so non-qualifying
            # columns' keys never enter the groupBy at all
            .join(F.broadcast(qual), "column")
        )
        kgrid = kpairs.groupBy("column", "value").agg(F.count(F.lit(1)).alias("__cnt"))
        klow = (
            kgrid.groupBy("column").agg(
                F.count(F.lit(1)).alias("__card"),
                # a key containing the list separator (or an empty key)
                # cannot round-trip through the joined `vals` string — the
                # reconstituted rule would VIOLATE the profiled table,
                # breaking the self-validation contract. Disqualify the
                # whole column instead of proposing a wrong rule.
                F.max(
                    F.col("value").contains(enum_sep) | (F.length("value") == 0)
                ).alias("__bad_key"),
            )
            .filter(
                (F.col("__card") >= 1)
                & (F.col("__card") <= enum_max_card)
                & (~F.col("__bad_key"))
            )
            .select("column")
        )
        jkeys = (
            kgrid.join(F.broadcast(klow), "column")
            .groupBy("column")
            .agg(F.array_join(F.array_sort(F.collect_list("value")), enum_sep).alias("vals"))
            .select(
                "column",
                F.lit("json_keys").alias("kind"),
                *[_empty_fields()[k].alias(k) for k in SUGGESTION_COLUMNS[2:-1]],
                "vals",
            )
        )
        base = base.unionByName(jkeys)
    return base.select(*SUGGESTION_COLUMNS)


def ruleset_from_suggestions(
    suggestions,
    enum_sep: str = "|",
    int_columns: set | None = None,
) -> tuple[R.RuleSet, list[dict]]:
    """Turn suggestion rows (DataFrame or collected Rows) into a runnable
    (RuleSet, dataset_checks) pair.

    Row rules: required / enum / range / length. ``unique`` is not a row rule
    — it returns as a dataset-check declaration {'check': 'uniqueness',
    'key': [column]}, the suite-config shape (rules.suite_config_from_json).
    Numeric range bounds come back as doubles; pass ``int_columns`` to narrow
    bounds to int for integer-typed columns (so the rule literal matches the
    column type without a cast in the plan).
    """
    if isinstance(suggestions, DataFrame):
        suggestions = suggestions.collect()
    specs, checks = [], []
    for row in sorted(suggestions, key=lambda r: (r["column"], r["kind"])):
        c, kind = row["column"], row["kind"]
        rid = f"suggested_{kind}_{c}"
        if kind == "required":
            specs.append(R.required(c, rule_id=rid))
        elif kind == "unique":
            checks.append({"check": "uniqueness", "key": [c]})
        elif kind == "enum":
            vals = row["vals"].split(enum_sep) if row["vals"] else []
            specs.append(R.enum(c, vals, rule_id=rid))
        elif kind == "json_keys":
            keys = row["vals"].split(enum_sep) if row["vals"] else []
            specs.append(R.json_unknown_keys(c, keys, rule_id=rid))
        elif kind == "length":
            specs.append(R.length(c, min=int(row["len_lo"]), max=int(row["len_hi"]), rule_id=rid))
        elif kind == "range":
            if row["lo_num"] is not None:
                lo, hi = row["lo_num"], row["hi_num"]
                if int_columns and c in int_columns:
                    lo, hi = int(lo), int(hi)
            else:
                lo, hi = row["lo_str"], row["hi_str"]
            specs.append(R.range_rule(c, min=lo, max=hi, rule_id=rid))
        else:
            raise ValueError(f"unknown suggestion kind {kind!r}")
    return R.RuleSet(specs), checks


def metric_rules_from_suggestions(
    suggestions,
    enum_sep: str = "|",
    slack: float = 0.0,
    exact: bool = True,
) -> list:
    """The metric-rule dual of ``ruleset_from_suggestions`` (Deequ's
    ConstraintSuggestion emits both): the same suggestion rows become
    aggregate gates — row rules catch the violating ROWS, these gate the
    COHORT, and both derive from the one profiling pass.

      required        → completeness(column, min=1.0)
      unique          → uniqueness(column, min=1.0)
      range (numeric) → minimum(column, min=lo) + maximum(column, max=hi)
      enum            → distinct_count(column, min=1, max=len(values))
      length / temporal range → no aggregate dual (the row rule pins those)

    ``slack`` widens each numeric range bound by that fraction of the
    observed span (live tables drift; 0.0 = exact observed invariants, so
    self-validation passes by construction — pinned in tests).

    ``exact``: pass False when the profile ran in approx (HLL) distinct
    mode — the 'unique' trigger is then only rsd-accurate on DISTINCT
    count, while the uniqueness METRIC (exactly-once fraction) can sit far
    below 1.0 on a column with a few duplicated values, so an approx
    profile must not harden into a uniqueness(1.0) gate that fails the very
    table it profiled. Approx mode skips the uniqueness dual (the row-rule
    path already treats 'unique' as a candidate, never a rule).
    """
    from lyra_spark import metrics as M

    if isinstance(suggestions, DataFrame):
        suggestions = suggestions.collect()
    rules: list[M.MetricRule] = []
    for row in sorted(suggestions, key=lambda r: (r["column"], r["kind"])):
        c, kind = row["column"], row["kind"]
        if kind == "required":
            rules.append(M.completeness(c, min=1.0, rule_id=f"suggested_completeness_{c}"))
        elif kind == "unique":
            if exact:
                rules.append(M.uniqueness(c, min=1.0, rule_id=f"suggested_uniqueness_{c}"))
        elif kind == "enum":
            n_vals = len(row["vals"].split(enum_sep)) if row["vals"] else 0
            rules.append(
                M.distinct_count(c, min=1, max=n_vals, rule_id=f"suggested_card_{c}")
            )
        elif kind == "range" and row["lo_num"] is not None:
            lo, hi = float(row["lo_num"]), float(row["hi_num"])
            pad = slack * (hi - lo)
            rules.append(M.minimum(c, min=lo - pad, rule_id=f"suggested_min_{c}"))
            rules.append(M.maximum(c, max=hi + pad, rule_id=f"suggested_max_{c}"))
    return rules
