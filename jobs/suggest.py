"""CLI rule suggestion: profile a table once, write a runnable rules config.

    spark-submit --py-files dist/lyra_spark.zip jobs/suggest.py \
        --table <parquet dir> --out rules.json [--columns a,b,c] \
        [--enum-max-card 20] [--distinct-mode approx|exact] [--rsd 0.05]

The emitted file is the exact JSON format ``jobs/validate.py --rules`` loads
(rules.ruleset_from_json), so the bootstrap loop closes in two commands:
suggest a config, review/edit it, validate with it. Suggested UNIQUE keys
are reported in the summary line (``unique_candidates``) but not written as
row rules — uniqueness is a dataset check, and the validation suite already
runs it on its own key.

Cost shape (10^12 rows): pass 1 is ONE wide aggregate with constant-size
buffers (distinct via HLL in the default approx mode — the at-scale mode;
exact expands count-DISTINCT over the same single scan for small/reviewed
profiles); pass 2 builds enum value lists ONLY for columns that survive the
<= enum-max-card cardinality cut, so a high-cardinality id column never
materializes a value list. The suggestion set itself is tiny (bounded by
columns x kinds) — collecting it is a driver-side formality.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyra_spark.session import get_spark
from lyra_spark.stats import hll_lg_k


def _rsd(s: str) -> float:
    """--rsd: a float the HLL sketch can meet (stats.hll_lg_k)."""
    try:
        rsd = float(s)
        hll_lg_k(rsd)
    except ValueError as e:
        raise argparse.ArgumentTypeError(str(e)) from None
    return rsd


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True, help="parquet dir/file to profile")
    ap.add_argument("--columns", default=None,
                    help="comma-separated columns to profile (default: all)")
    ap.add_argument("--enum-max-card", type=int, default=20)
    ap.add_argument("--distinct-mode", choices=("approx", "exact"), default="approx",
                    help="approx = HLL (the 10^12-row mode); exact for small profiles")
    ap.add_argument("--rsd", type=_rsd, default=0.05,
                    help="relative standard error of the approx-mode HLL distinct "
                         "count, in [0.00072, 1)")
    ap.add_argument("--out", default=None,
                    help="write the rules JSON here (default: print to stdout)")
    ap.add_argument("--metrics-out", default=None,
                    help="also write the metric-rule dual of the suggestions "
                         "(lyra_spark.metrics JSON — the jobs/validate.py "
                         "--metric-rules format): completeness/uniqueness/"
                         "min/max/cardinality gates derived from the SAME "
                         "profiling pass")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_spark(master=args.master, app_name="lyra_suggest")

    from pyspark.sql import types as T

    from lyra_spark.rules import ruleset_to_json
    from lyra_spark.suggest import ruleset_from_suggestions, suggest_rules

    t0 = time.time()
    df = spark.read.parquet(args.table)
    columns = (
        [c.strip() for c in args.columns.split(",") if c.strip()]
        if args.columns else None
    )
    suggestions = suggest_rules(
        df,
        columns=columns,
        enum_max_card=args.enum_max_card,
        distinct_mode=args.distinct_mode,
        rsd=args.rsd,
    ).collect()

    # integer-typed columns get int range literals so the compiled rule
    # compares without a cast in the plan
    int_cols = {
        f.name for f in df.schema.fields
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    }
    ruleset, checks = ruleset_from_suggestions(suggestions, int_columns=int_cols)
    config = ruleset_to_json(ruleset)
    if args.out:
        with open(args.out, "w") as f:
            f.write(config + "\n")
    mrules = []
    if args.metrics_out:
        from lyra_spark.metrics import metric_rules_to_json
        from lyra_spark.suggest import metric_rules_from_suggestions

        mrules = metric_rules_from_suggestions(
            suggestions, exact=(args.distinct_mode == "exact")
        )
        with open(args.metrics_out, "w") as f:
            f.write(metric_rules_to_json(mrules) + "\n")

    by_kind: dict[str, int] = {}
    for r in suggestions:
        by_kind[r["kind"]] = by_kind.get(r["kind"], 0) + 1
    summary = {
        "n_rules": len(ruleset.rules),
        "by_kind": dict(sorted(by_kind.items())),
        "unique_candidates": sorted(k for c in checks for k in c.get("key", [])),
        "distinct_mode": args.distinct_mode,
        "fingerprint": ruleset.fingerprint(),
        "n_metric_rules": len(mrules),
        "out": args.out,
        "metrics_out": args.metrics_out,
        "sec": round(time.time() - t0, 3),
    }
    print(json.dumps(summary))
    if not args.out:
        print(config)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
