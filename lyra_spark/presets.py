"""Canonical rulesets + one-call suites for the mandated inputs.

``transcript_ruleset`` is the BASELINE.json:6 row-rule set over the
transcripts schema (rule_ids match FIXTURES.md §1 so the golden manifests line
up); ``run_suite`` runs the full suite through
``fused.validate_transcripts_fused`` and writes it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from lyra_spark.engine import compute_verdicts
from lyra_spark.io import local_frame
from lyra_spark.rules import RuleSet, enum, nonempty, range_rule, required
from lyra_spark.schema import ROLE_ENUM


def transcript_ruleset() -> RuleSet:
    return RuleSet(
        [
            required("text", rule_id="text_required"),
            nonempty("text", rule_id="text_nonempty"),
            enum("role", ROLE_ENUM, rule_id="role_enum"),
            range_rule("turn_idx", min=0, rule_id="turn_idx_range"),
        ]
    )


def run_suite(
    df: DataFrame,
    tools_dim: DataFrame,
    out_dir: str,
    partition_col: str = "part_date",
    ruleset: RuleSet | None = None,
    input_path: str | None = None,
    check_placement: bool = False,
    transitions: set | None = None,
    allowed_first: set | None = None,
    placement_ts: str = "ts",
) -> tuple[DataFrame, DataFrame]:
    """Write-then-reuse execution of the full suite — the production shape.

    Violations compute ONCE and land in their real parquet sink (sorted,
    deterministic); verdict counts aggregate from the WRITTEN files instead of
    recomputing the pipeline or caching it (a cached union materializes
    without adaptive execution — measured ~2x slower than this). Returns
    (violations read back, verdicts).

    ``check_placement``: also run the partition-placement check (date(ts)
    must equal the partition value — checks.placement_check, fused into the
    row-rule scan rather than a third pass over the table); its violations
    merge into the sink and the verdict grid, exactly as the CLI
    --check-placement does. ``transitions``: an allowed (prev_role, role)
    set enables the sequence-structure check the same way — fused into the
    suite's single conv exchange (zero extra shuffles), not a separate pass.

    ``input_path``: the Hive-partitioned parquet dir ``df`` reads, UNFILTERED.
    When given, per-partition row counts come from table METADATA (parquet
    footers here; Iceberg manifest record-counts in prod), so the verdict
    roll-up reads only the written sink — no second data scan. Without it,
    compute_verdicts counts rows with one aggregate over ``df``."""
    from lyra_spark import io as lio
    from lyra_spark.fused import suite_rule_ids, validate_transcripts_fused

    ruleset = ruleset or transcript_ruleset()
    res = validate_transcripts_fused(
        df, tools_dim, ruleset, partition_col=partition_col,
        transitions=transitions, allowed_first=allowed_first,
        placement_ts=placement_ts if check_placement else None,
    )
    violations = res.violations
    lio.write_violations(violations, out_dir, partition_col=partition_col)
    # explicit schema: a clean run writes only _SUCCESS (no parquet files) and
    # schema inference would throw UNABLE_TO_INFER_SCHEMA on the empty sink
    viol = df.sparkSession.read.schema(violations.schema).parquet(out_dir)
    rule_ids = suite_rule_ids(ruleset, transitions is not None, check_placement)
    from lyra_spark.engine import ruleset_severities, ruleset_tolerances

    sev = ruleset_severities(ruleset)
    tol = ruleset_tolerances(ruleset)
    counts = lio.partition_row_counts(input_path, partition_col) if input_path else None
    if counts is None:
        verd = compute_verdicts(df, viol, rule_ids, partition_col, severities=sev, tolerances=tol)
    else:
        verd = verdicts_from_metadata(df, viol, rule_ids, partition_col, counts,
                                      severities=sev, tolerances=tol)
    return viol, verd


def verdicts_from_metadata(
    df: DataFrame,
    viol: DataFrame,
    rule_ids: list[str],
    partition_col: str,
    counts: dict[str, int],
    severities: dict[str, str] | None = None,
    tolerances: dict[str, float] | None = None,
) -> DataFrame:
    """compute_verdicts over metadata row counts: ``counts`` (str(partition
    value) → row count, as io.partition_row_counts and the catalog serve
    them) become the grid's (partition_col, row_count) frame, cast to the
    partition column's type, so ``df`` is never scanned for counting."""
    from pyspark.sql import functions as F

    row_counts = local_frame(
        df.sparkSession, {"pk": list(counts), "row_count": list(counts.values())}, "pk string, row_count long"
    ).select(F.col("pk").cast(df.schema[partition_col].dataType).alias(partition_col), "row_count")
    return compute_verdicts(df, viol, rule_ids, partition_col, severities, tolerances, row_counts)


def _cells(keys: list[str], rule_ids: list[str]) -> list[tuple[str | None, str]]:
    """(partition key, rule_id) per verdict cell of a batch. The key "None"
    (a NULL partition, as list_partitions renders it) adds a NULL cell
    beside the literal one, as partition_scope scopes both."""
    parts: list[str | None] = [*keys, None] if "None" in keys else list(keys)
    return [(pk, rid) for pk in parts for rid in rule_ids]


def violation_count_aggs(
    keys: list[str], rule_ids: list[str], partition_col: str, key_col: str
) -> list[Column]:
    """One ``count_if`` per (partition, rule) cell over a violations frame
    that carries ``key_col`` = io.partition_key(partition_col): the
    aggregates io.write_violations(observe=...) computes on the sink write.
    That is |keys| x |rule_ids| cells, so at most defaultParallelism x
    |rules| for a CLI batch."""
    from pyspark.sql import functions as F

    # each Column call is a py4j round trip: build each key's and each
    # rule's condition once and share them across the cells
    has_value = F.col(partition_col).isNotNull()
    in_part = {pk: F.col(key_col) == pk for pk in keys}
    in_part[None] = ~has_value
    if "None" in keys:
        in_part["None"] = in_part["None"] & has_value
    is_rule = {rid: F.col("rule_id") == rid for rid in rule_ids}
    return [F.count_if(in_part[pk] & is_rule[rid]).alias(f"cell{i}")
            for i, (pk, rid) in enumerate(_cells(keys, rule_ids))]


def counted_violations(
    spark: SparkSession, keys: list[str], rule_ids: list[str], partition_col: str, observed: dict
) -> DataFrame:
    """The observed values of violation_count_aggs(keys, rule_ids, ...) as
    the pre-counted (partition_col, rule_id, violation_count) rows
    compute_verdicts takes; the partition column holds str(value), NULL
    for the NULL partition."""
    cells = _cells(keys, rule_ids)
    return local_frame(
        spark,
        {partition_col: [pk for pk, _ in cells], "rule_id": [rid for _, rid in cells],
         "violation_count": [observed[f"cell{i}"] for i in range(len(cells))]},
        f"{partition_col} string, rule_id string, violation_count long",
    )
