"""CLI rule suggestion (jobs/suggest.py): the bootstrap loop end-to-end.

Pinned: the emitted config is the exact --rules format (ruleset_from_json
round-trip, fingerprint-identical to the in-memory suggested ruleset), the
suggested ruleset validates the profiled table with ZERO violations even
when that table carries injected violations (suggestions are observed
invariants), and unique key candidates are reported in the summary instead
of being written as row rules.
"""

import json
import os

import pytest

from lyra_spark.engine import row_violations
from lyra_spark.rules import ruleset_from_json


def run_cli(argv, capsys):
    from jobs.suggest import main

    assert main(argv) == 0
    lines = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    return json.loads(lines[0])


def test_cli_suggest_roundtrip_validates_cleanly(spark, fixtures_sf0001, tmp_path, capsys):
    table = os.path.join(fixtures_sf0001, "transcripts")
    out = str(tmp_path / "rules.json")
    summary = run_cli(["--table", table, "--out", out, "--distinct-mode", "exact"], capsys)

    ruleset = ruleset_from_json(out)
    assert summary["n_rules"] == len(ruleset.rules) > 0
    assert summary["fingerprint"] == ruleset.fingerprint()
    assert summary["by_kind"]["required"] >= 1

    tdf = spark.read.parquet(table)
    viol = row_violations(tdf, ruleset, key_cols=["conv_id", "turn_idx"], partition_col=None)
    assert viol.count() == 0


def test_cli_suggest_reports_unique_candidates(spark, tmp_path, capsys):
    pdir = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(i, "x" * (i % 3 + 1)) for i in range(50)], "id bigint, name string"
    ).write.parquet(pdir)
    out = str(tmp_path / "rules.json")
    summary = run_cli(["--table", pdir, "--out", out, "--distinct-mode", "exact"], capsys)

    assert summary["unique_candidates"] == ["id"]
    ruleset = ruleset_from_json(out)
    # unique is a dataset check, never a row rule; id still gets required+range
    kinds = {(r.column, r.kind) for r in ruleset.rules}
    assert ("id", "required") in kinds and ("id", "range") in kinds
    assert all(k != "unique" for _, k in kinds)
    # integer column → int literals in the emitted config, not 0.0/49.0
    cfg = json.load(open(out))
    rng = next(r for r in cfg if r["column"] == "id" and r["kind"] == "range")
    assert rng["min"] == 0 and rng["max"] == 49
    assert isinstance(rng["min"], int) and isinstance(rng["max"], int)


def test_cli_suggest_metrics_out(spark, fixtures_sf0001, tmp_path, capsys):
    """--metrics-out writes the metric-rule dual in the exact --metric-rules
    format; the gates hold on the profiled table (observed invariants)."""
    from lyra_spark.metrics import evaluate_metric_rules, metric_rules_from_json

    table = os.path.join(fixtures_sf0001, "transcripts")
    out = str(tmp_path / "rules.json")
    mout = str(tmp_path / "metrics.json")
    summary = run_cli(
        ["--table", table, "--out", out, "--metrics-out", mout, "--distinct-mode", "exact"],
        capsys,
    )
    mrules = metric_rules_from_json(mout)
    assert summary["n_metric_rules"] == len(mrules) > 0
    assert summary["metrics_out"] == mout
    mv = evaluate_metric_rules(spark.read.parquet(table), mrules, partition_col=None)
    assert all(r["pass"] for r in mv.collect())


def test_cli_suggest_rejects_an_rsd_below_the_finest_sketch(tmp_path, capsys):
    from jobs.suggest import main

    with pytest.raises(SystemExit) as e:
        main(["--table", str(tmp_path), "--rsd", "0.0007"])
    assert e.value.code == 2
    assert "smallest rsd" in capsys.readouterr().err
