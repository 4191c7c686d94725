"""Generated-code cache: a repeated validate run reuses every compiled class.

Spark compiles each whole-stage-codegen plan to a Java class and keeps the
compiled classes in an LRU (spark.sql.codegen.cache.maxEntries); the
session sizes it above the validate CLI's working set, so a second run of
the same CLI compiles nothing. The count comes from Spark's own
CodegenMetrics counter (session.codegen_compiles).
"""

import json
import os

from lyra_spark.session import codegen_compiles


def test_codegen_compiles_starts_no_spark_job(spark):
    sc = spark.sparkContext
    spark.range(10).selectExpr("id * 3 AS x").filter("x > 4").count()
    grp = "codegen_count_jobs"
    sc.setJobGroup(grp, "read the codegen counter")
    try:
        n = codegen_compiles(spark)
    finally:
        sc.setJobGroup("", "")
    assert n > 0  # the count above compiled at least its own stage
    assert sc.statusTracker().getJobIdsForGroup(grp) == []


def test_cli_rerun_compiles_no_generated_code(tmp_path, spark, fixtures_sf0001, capsys):
    """A 2-partition --out run generates more classes than Spark's default
    cache of 100 holds, so with the default every re-run recompiled them.
    With the session's cache size, the second run on a fresh checkpoint
    compiles zero classes, and its --report says so."""
    from jobs.validate import main

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"

    def run(name: str) -> dict:
        rpt = tmp_path / f"{name}.json"
        assert main([
            "--table", os.path.join(fixtures_sf0001, "transcripts"),
            "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
            "--checkpoint", str(tmp_path / name / "ck"),
            "--run-id", "cg",
            "--out", str(tmp_path / name / "viol"),
            "--report", str(rpt),
            "--limit-partitions", "2",
        ]) == 0
        return json.loads(rpt.read_text())

    run("first")
    before = codegen_compiles(spark)
    rep = run("second")
    assert codegen_compiles(spark) - before == 0
    assert rep["codegen_compiles"] == 0
    assert "[lyra] codegen: 0 classes compiled" in capsys.readouterr().out
