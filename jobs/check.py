"""Generic one-shot table check: any parquet table, declarative configs.

    spark-submit --py-files dist/lyra_spark.zip jobs/check.py \
        --table <parquet dir/file> --rules rules.json \
        [--key-cols id] [--partition-col day_expr] \
        [--metric-rules metrics.json] [--out violations/] [--report out.json]

The transcript-agnostic sibling of jobs/validate.py: that CLI owns the
full transcript suite (dataset checks, checkpoint/resume, drift, lineage);
this one runs the row-rule engine + metric gates over ANY table — the
"check this export before shipping it" loop, one command, no schema
assumptions beyond the columns the configs name.

Shape: ONE pass for all row rules (the engine's array→filter→explode scan),
one wide agg pass (+ the shared value-grid pass when uniqueness-family
metrics are declared), verdict grids collected at driver scale. Exit code 1
when any gate fails — the CI contract; --report writes the machine-readable
summary either way.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyra_spark.session import get_spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="parquet dir/file to check")
    ap.add_argument("--rules", default=None,
                    help="JSON row-rule config (rules.ruleset_from_json format)")
    ap.add_argument("--metric-rules", default=None,
                    help="JSON metric-rule config (metrics.metric_rules_from_json format)")
    ap.add_argument("--key-cols", default=None,
                    help="comma-separated key columns reported with each violation "
                         "row (default: the table's first column)")
    ap.add_argument("--partition-col", default=None,
                    help="column OR SQL expression grouping the verdicts (e.g. "
                         "\"date_format(ts, 'yyyy-MM-dd')\"); omitted = whole-table "
                         "verdicts")
    ap.add_argument("--out", default=None, help="violations output dir (parquet)")
    ap.add_argument("--report", default=None, help="machine-readable JSON summary path")
    ap.add_argument("--messages", action="store_true",
                    help="add a rendered human `message` column to violations "
                         "(per-rule templates via the config's \"message\" key; "
                         "per-kind defaults otherwise)")
    ap.add_argument("--abort-early", action="store_true",
                    help="lyra abortEarly: emit only the FIRST failing rule per "
                         "row (ruleset order) instead of every failure. NOTE: "
                         "per-rule violation counts then attribute each row to "
                         "its first failing rule only, so later rules' verdict/"
                         "tolerance gates see UNDERCOUNTS — a reporting mode, "
                         "not a gating mode")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)
    if not args.rules and not args.metric_rules:
        raise SystemExit("nothing to check: give --rules and/or --metric-rules")

    t0 = time.time()
    spark = get_spark(master=args.master, app_name="lyra_check")
    df = spark.read.parquet(args.table)

    part_col = None
    if args.partition_col:
        from pyspark.sql import functions as F

        part_col = "__cohort" if args.partition_col not in df.columns else args.partition_col
        if part_col == "__cohort":
            df = df.withColumn("__cohort", F.expr(args.partition_col))

    report: dict = {"table": args.table, "pass": True}
    failed = False

    if args.rules:
        from lyra_spark.engine import validate, verdict_gate
        from lyra_spark.rules import ruleset_from_json

        ruleset = ruleset_from_json(args.rules)
        key_cols = (
            [c.strip() for c in args.key_cols.split(",") if c.strip()]
            if args.key_cols else [df.columns[0]]
        )
        res = validate(df, ruleset, key_cols=key_cols, partition_col=part_col,
                       messages=args.messages, abort_early=args.abort_early)
        if args.out:
            res.violations.write.mode("overwrite").parquet(args.out)
            viol = spark.read.schema(res.violations.schema).parquet(args.out)
        else:
            viol = res.violations
        if part_col:
            # one collect of the lazy grid; each cohort gates on its own rows
            grid = res.verdicts.collect()
            cohorts: dict[str, list] = {}
            for r in grid:
                cohorts.setdefault(str(r[part_col]), []).append(r)
            failing = sorted(k for k, rows in cohorts.items() if not verdict_gate(rows))
            n_viol = sum(r["violation_count"] for r in grid)
            report["rule_verdicts"] = [
                {"cohort": str(r[part_col]), "rule_id": r["rule_id"],
                 "pass": bool(r["pass"]), "violations": r["violation_count"],
                 "rows": r["row_count"]}
                for r in grid
            ]
            report["rule_failing_cohorts"] = failing
            failed = failed or bool(failing)
            print(f"[lyra] rules: {len(ruleset.rules)} over {len(cohorts)} cohort(s), "
                  f"{n_viol} violation row(s), failing={failing[:10]}")
        else:
            n_viol = viol.count()
            from lyra_spark.engine import ruleset_severities, ruleset_tolerances

            tols = ruleset_tolerances(ruleset) or {}
            sevs = ruleset_severities(ruleset) or {}
            n_rows = df.count()
            per_rule = {r["rule_id"]: r["cnt"] for r in
                        viol.groupBy("rule_id").count().withColumnRenamed("count", "cnt").collect()}
            bad = [rid for rid, c in per_rule.items()
                   if not verdict_gate([{"violation_count": c, "row_count": n_rows,
                                         "severity": sevs.get(rid),
                                         "tolerance": tols.get(rid)}])]
            report["rule_violations"] = per_rule
            report["rule_failing"] = sorted(bad)
            failed = failed or bool(bad)
            print(f"[lyra] rules: {len(ruleset.rules)} over {n_rows} row(s), "
                  f"{n_viol} violation row(s), failing rules={sorted(bad)[:10]}")

    if args.metric_rules:
        from lyra_spark.metrics import (
            evaluate_metric_rules,
            metric_rules_from_json,
        )

        mrules = metric_rules_from_json(args.metric_rules)
        mv = evaluate_metric_rules(df, mrules, partition_col=part_col)
        mrows = mv.collect()
        mfail = [r for r in mrows
                 if not r["pass"] and (("severity" not in mv.columns) or r["severity"] != "warn")]
        report["metric_verdicts"] = [
            {**({"cohort": str(r[part_col])} if part_col else {}),
             "rule_id": r["rule_id"], "metric": r["metric"],
             "value": r["value"], "pass": bool(r["pass"])}
            for r in mrows
        ]
        report["metric_failing"] = sorted(
            (str(r[part_col]) if part_col else "", r["rule_id"]) for r in mfail
        )
        failed = failed or bool(mfail)
        print(f"[lyra] metrics: {len(mrules)} rule(s), {len(mrows)} verdict(s), "
              f"{len(mfail)} failing")

    report["pass"] = not failed
    report["sec"] = round(time.time() - t0, 3)
    if args.report:
        with open(args.report, "w") as f:
            json.dump(report, f, indent=2, sort_keys=True, default=str)
            f.write("\n")
    print(f"[lyra] check {'PASSED' if not failed else 'FAILED'} "
          f"in {report['sec']}s" + (f" — report: {args.report}" if args.report else ""))
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
