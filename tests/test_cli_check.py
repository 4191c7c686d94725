"""Generic table check CLI (jobs/check.py): any parquet table + declarative
rule/metric configs, exit code as the CI gate, JSON report either way."""

import json
import os

import pytest


def run(argv):
    from jobs.check import main

    return main(argv)


@pytest.fixture()
def events_table():
    return "/root/testdata/sf0.001/events.parquet"


def test_check_rules_and_metrics_per_cohort(tmp_path, spark, events_table, capsys):
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "enum", "column": "event_type",
         "values": ["click", "view", "purchase", "signup"], "rule_id": "et_enum"},
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0,
         "rule_id": "v_range"},
    ]))
    metrics = tmp_path / "metrics.json"
    metrics.write_text(json.dumps([
        {"metric": "row_count", "min": 1, "rule_id": "nonempty"},
        {"metric": "mean", "column": "value", "min": 0, "max": 45, "rule_id": "mean_v"},
    ]))
    rpt = tmp_path / "report.json"
    rc = run([
        "--table", events_table,
        "--rules", str(rules),
        "--metric-rules", str(metrics),
        "--key-cols", "event_id",
        "--partition-col", "date_format(ts, 'yyyy-MM-dd')",
        "--out", str(tmp_path / "viol"),
        "--report", str(rpt),
    ])
    assert rc == 1  # fixture plants out-of-range values; mean bound fails days
    rep = json.loads(rpt.read_text())
    assert rep["pass"] is False
    assert rep["rule_failing_cohorts"]  # days with range violations
    assert any(v["rule_id"] == "mean_v" and not v["pass"] for v in rep["metric_verdicts"])
    # violations parquet written with the key column
    viol = spark.read.parquet(str(tmp_path / "viol"))
    assert {"event_id", "rule_id", "observed_value"} <= set(viol.columns)
    assert viol.count() == sum(v["violations"] for v in rep["rule_verdicts"])


def test_check_partitioned_out_jobs(tmp_path, spark, events_table):
    """A partitioned --out check runs the rule pipeline for its sink write and
    once more for the verdict grid, whose collected rows gate every cohort —
    the per-cohort gate never re-runs the scan and the count aggregate."""
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0, "rule_id": "v_range"},
    ]))
    sc = spark.sparkContext
    sc.setJobGroup("check_jobs", "count jobs")
    try:
        rc = run(["--table", events_table, "--rules", str(rules),
                  "--partition-col", "date_format(ts, 'yyyy-MM-dd')",
                  "--out", str(tmp_path / "viol")])
    finally:
        sc.setJobGroup("", "")
    assert rc == 1
    jobs = len(sc.statusTracker().getJobIdsForGroup("check_jobs"))
    # measured 6: the sink write and the grid collect (scan, count aggregate
    # and AQE stages); gating through partition_pass re-ran the grid (12)
    assert jobs <= 6, f"{jobs} Spark jobs"


def test_check_out_grid_reads_the_written_sink(tmp_path, spark, events_table, monkeypatch):
    """With --out the verdict grid counts the written violations: its
    collect plans no row-rule explode (the rules ran once, for the sink
    write), and the report equals the one built without --out."""
    DataFrame = type(spark.range(1))  # the session's concrete DataFrame class
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "enum", "column": "event_type",
         "values": ["click", "view", "purchase", "signup"], "rule_id": "et_enum"},
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0,
         "rule_id": "v_range", "tolerance": 0.01},
    ]))
    base = ["--table", events_table, "--rules", str(rules),
            "--partition-col", "date_format(ts, 'yyyy-MM-dd')"]
    plans = []
    collect = DataFrame.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    monkeypatch.setattr(DataFrame, "collect", recording_collect)
    rc_out = run([*base, "--out", str(tmp_path / "viol"), "--report", str(tmp_path / "out.json")])
    assert len(plans) == 1
    assert "Generate inline" in plans[0]  # the grid's own rule expansion
    assert "explode" not in plans[0], plans[0]
    rc = run([*base, "--report", str(tmp_path / "plain.json")])
    assert "explode" in plans[1]  # without a sink the grid runs the rules
    out, plain = (json.loads((tmp_path / n).read_text()) for n in ("out.json", "plain.json"))
    out.pop("sec"), plain.pop("sec")
    assert (rc_out, out) == (rc, plain)


def test_check_whole_table_jobs_match_partitioned(tmp_path, spark, events_table):
    """A whole-table check builds its verdicts with the same grid builder as
    a partitioned one (an empty grouping key), so it costs no more Spark
    jobs: one grid collect, no separate violation count, row count or
    per-rule collect."""
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0, "rule_id": "v_range"},
    ]))
    sc = spark.sparkContext

    def jobs_for(group, extra):
        sc.setJobGroup(group, "count jobs")
        try:
            rc = run(["--table", events_table, "--rules", str(rules), *extra])
        finally:
            sc.setJobGroup("", "")
        assert rc == 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    part = jobs_for("check_part_jobs", ["--partition-col", "date_format(ts, 'yyyy-MM-dd')"])
    whole = jobs_for("check_whole_jobs", [])
    # measured 5 and 5 (the grid collect: scan, count aggregate and AQE
    # stages); the hand-built whole-table verdicts ran 7
    assert whole <= 5 and whole <= part, (whole, part)


def test_check_whole_table_tolerance_gate(tmp_path, events_table):
    """Whole-table mode: tolerance forgives a violation RATE, warn severity
    never gates — exit 0 with violations present but forgiven."""
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0,
         "rule_id": "v_range", "tolerance": 0.9},
        {"kind": "enum", "column": "event_type", "values": ["click"],
         "rule_id": "clicks_only", "severity": "warn"},
    ]))
    rpt = tmp_path / "r.json"
    rc = run(["--table", events_table, "--rules", str(rules), "--report", str(rpt)])
    rep = json.loads(rpt.read_text())
    assert rc == 0 and rep["pass"] is True
    assert rep["rule_violations"]["v_range"] > 0       # raw counts reported
    assert rep["rule_violations"]["clicks_only"] > 0   # warn: reported, not gating
    assert rep["rule_failing"] == []
    # strict version of the same rule fails
    rules.write_text(json.dumps([
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0, "rule_id": "v_range"},
    ]))
    assert run(["--table", events_table, "--rules", str(rules)]) == 1


def test_check_messages_and_abort_early(tmp_path, spark, events_table):
    """--messages renders the config's template (with runtime {value}) into a
    message column; --abort-early keeps only the first failing rule per row."""
    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps([
        {"kind": "enum", "column": "event_type",
         "values": ["click", "view", "purchase", "signup"], "rule_id": "et_enum",
         "message": "bad type: {value}"},
        {"kind": "range", "column": "value", "min": 0.0, "max": 100.0,
         "rule_id": "v_range"},
    ]))
    out = tmp_path / "viol"
    run(["--table", events_table, "--rules", str(rules),
         "--key-cols", "event_id", "--out", str(out),
         "--messages", "--abort-early"])
    viol = spark.read.parquet(str(out))
    assert "message" in viol.columns
    rows = viol.collect()
    ids = [r.event_id for r in rows]
    assert len(ids) == len(set(ids))  # abort-early: one row per failing row
    by_rule = {r.rule_id: r for r in rows}
    assert by_rule["et_enum"].message == f"bad type: {by_rule['et_enum'].observed_value}"
    assert by_rule["v_range"].message.startswith('"value" must be within')


def test_check_requires_some_config(events_table):
    with pytest.raises(SystemExit, match="nothing to check"):
        run(["--table", events_table])
