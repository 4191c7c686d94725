"""Driver overhead of one validate CLI invocation: Spark jobs, py4j commands,
and the verdict counts the sink write observes in place of a roll-up scan.

Job counts come from Spark's status tracker (job groups); py4j commands are
counted by wrapping the client/server connection's ``send_command``."""

import json
import os

import pandas as pd
import py4j.clientserver
import pytest

from lyra_spark import io as lio
from lyra_spark import presets
from lyra_spark.engine import ruleset_severities, ruleset_tolerances
from lyra_spark.fused import inline_referential_rule, suite_rule_ids, validate_transcripts_fused
from lyra_spark.rules import RuleSet, ruleset_from_json


def _cli_args(fx, tmp_path, run_id, *extra):
    return [
        "--table", os.path.join(fx, "transcripts"),
        "--tools-dim", os.path.join(fx, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", run_id,
        "--out", str(tmp_path / "viol"),
        "--report", str(tmp_path / f"{run_id}.json"),
        *extra,
    ]


def test_cli_job_budget(tmp_path, spark, fixtures_sf0001, monkeypatch):
    """A 2-partition --out run: exactly 15 jobs, all in the caller's group
    (18 when the partitions were listed by a distinct scan and the verdict
    roll-up re-read the sink). The drift pass and the dim load run on side
    threads, which must inherit the group: a job of theirs outside it would
    start with no group at all, so the run may start none. The listing
    comes from the footer walk and runs no job: the scan fallback must not
    be reached. --report's spark_jobs is the caller's group count when the
    caller set a group."""
    from jobs.validate import main

    def no_scan(*_a, **_k):
        raise AssertionError("the partition listing fell back to the distinct scan")

    monkeypatch.setattr(lio, "list_partitions", no_scan)
    sc = spark.sparkContext
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup("cli_budget", "count jobs")
    try:
        assert main(_cli_args(fixtures_sf0001, tmp_path, "jb", "--limit-partitions", "2")) == 0
    finally:
        sc.setJobGroup("", "")
    jobs = len(sc.statusTracker().getJobIdsForGroup("cli_budget"))
    assert jobs == 15, jobs
    assert set(sc.statusTracker().getJobIdsForGroup(None)) <= ungrouped
    rep = json.loads((tmp_path / "jb.json").read_text())
    assert rep["spark_jobs"] == jobs
    assert len(rep["partitions"]) == 2


def test_cli_report_counts_its_own_job_group(tmp_path, spark, fixtures_sf0001):
    """Without a caller's group the run uses its own, clears it on return,
    and reading the count starts no job."""
    from jobs.validate import main

    sc = spark.sparkContext
    assert not sc.getLocalProperty("spark.jobGroup.id")
    assert main(_cli_args(fixtures_sf0001, tmp_path, "own", "--limit-partitions", "1")) == 0
    assert not sc.getLocalProperty("spark.jobGroup.id")
    rep = json.loads((tmp_path / "own.json").read_text())
    assert rep["spark_jobs"] == len(sc.statusTracker().getJobIdsForGroup("lyra_validate_own")) > 0


def test_planning_the_fused_suite_py4j_commands(spark, fixtures_sf0001, monkeypatch):
    """Planning one 2-partition batch's suite sends fewer than 2,000 py4j
    commands (~1,170 measured): PySpark's per-call call-site capture, about
    4 round trips per Column call and 2,600 commands in all, is off. Not
    counted: py4j's "m" commands, which release Python proxies whenever
    Python's garbage collector runs (0-1,000 of them, varying run to run)."""
    df = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    rules = presets.transcript_ruleset()
    suite = RuleSet(rules.rules + [inline_referential_rule(dim)])
    keys = lio.list_partitions(spark, df)[:2]
    sent = []
    orig = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command, *a, **k):
        if not command.startswith("m\n"):
            sent.append(command)
        return orig(self, command, *a, **k)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    res = validate_transcripts_fused(lio.partition_scope(df, keys), dim, suite, convs_per_partition=True)
    monkeypatch.undo()
    assert res.violations is not None
    assert 0 < len(sent) < 2000, len(sent)


TOLERANT_RULES = [
    {"kind": "required", "column": "text", "rule_id": "text_required", "tolerance": 0.5},
    {"kind": "nonempty", "column": "text", "rule_id": "text_nonempty"},
    {"kind": "enum", "column": "role", "rule_id": "role_enum",
     "values": ["system", "user", "assistant", "tool"]},
    {"kind": "range", "column": "turn_idx", "rule_id": "turn_idx_range", "min": 0},
]


def _grid(rows):
    cols = ["part_date", "rule_id", "pass", "violation_count", "row_count", "tolerance"]
    frame = pd.DataFrame([r.asDict() for r in rows])[cols]
    frame["part_date"] = frame["part_date"].astype(str)
    return frame.sort_values(["part_date", "rule_id"], ignore_index=True)


def _observed_vs_sink(spark, fx, tmp_path, run_id, keys):
    """(the CLI's verdict grid from observed counts, the same grid counted
    from the written sink) for one batch run with both dataset-check flags
    and a tolerance rule."""
    from jobs.validate import main

    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps(TOLERANT_RULES))
    assert main(_cli_args(fx, tmp_path, run_id, "--rules", str(rules), "--check-transitions",
                          "--check-placement", "--limit-partitions", str(len(keys)))) == 0
    observed = spark.read.parquet(str(tmp_path / "ck" / run_id / "verdicts"))

    table = os.path.join(fx, "transcripts")
    df = spark.read.parquet(table)
    ruleset = ruleset_from_json(str(rules))
    dim = spark.read.parquet(os.path.join(fx, "tools_dim.parquet"))
    suite = RuleSet(ruleset.rules + [inline_referential_rule(dim)])
    rule_ids = suite_rule_ids(suite, True, True)
    written = [uri for uri, exists in lio.partition_dirs(spark, str(tmp_path / "viol"), keys, "part")
               if exists]
    sink = (spark.read.option("basePath", str(tmp_path / "viol")).parquet(*written)
            if written else spark.createDataFrame([], "part_date date, rule_id string"))
    counts = lio.partition_row_counts(table)
    counted = presets.verdicts_from_metadata(
        lio.partition_scope(df, keys), sink, rule_ids, "part_date", {pk: counts[pk] for pk in keys},
        severities=ruleset_severities(suite), tolerances=ruleset_tolerances(suite),
    )
    return _grid(observed.collect()), _grid(counted.collect()), written


def test_observed_counts_equal_counts_from_the_sink(tmp_path, spark, fixtures_sf0001):
    """Every (partition, rule) cell of the grid built from the write's
    observed counts equals the cell counted from the written sink."""
    df = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    keys = lio.list_partitions(spark, df)[: spark.sparkContext.defaultParallelism]
    got, want, written = _observed_vs_sink(spark, fixtures_sf0001, tmp_path, "obs", keys)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert written and got["violation_count"].sum() > 0
    # the tolerance rule forgives some counts, the strict rules do not
    tol = got[got["rule_id"] == "text_required"]
    assert (tol["pass"] & (tol["violation_count"] > 0)).any()


def test_cli_without_out_rolls_up_from_metadata(tmp_path, spark, fixtures_sf0001, monkeypatch):
    """Without --out a batch builds its verdict grid as with it: row counts
    from table metadata (one verdicts_from_metadata call per batch, no count
    aggregate over the batch), violation counts from the suite's violation
    frame instead of the write's observed counts. Its verdict parquet equals
    the grid of an --out run over the same partitions."""
    from jobs.validate import main

    rules = tmp_path / "rules.json"
    rules.write_text(json.dumps(TOLERANT_RULES))
    flags = ["--rules", str(rules), "--check-transitions", "--check-placement", "--limit-partitions", "2"]
    real = presets.verdicts_from_metadata
    calls = []

    def spy(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(presets, "verdicts_from_metadata", spy)
    args = _cli_args(fixtures_sf0001, tmp_path, "no_out", *flags)
    i = args.index("--out")
    assert main(args[:i] + args[i + 2:]) == 0
    assert len(calls) == -(-2 // spark.sparkContext.defaultParallelism)
    monkeypatch.undo()
    assert main(_cli_args(fixtures_sf0001, tmp_path, "with_out", *flags)) == 0
    got, want = (_grid(spark.read.parquet(str(tmp_path / "ck" / r / "verdicts")).collect())
                 for r in ("no_out", "with_out"))
    pd.testing.assert_frame_equal(got, want)
    assert len(got) == 2 * 9 and got["violation_count"].sum() > 0


def test_observed_counts_on_a_clean_batch(tmp_path, spark):
    """A clean batch writes no sink dir; its observed counts are all 0."""
    from lyra_spark.fixtures import gen_clean_transcripts, gen_tools_dim

    fx = tmp_path / "clean"
    clean = spark.createDataFrame(gen_clean_transcripts("0.001"))
    dates = sorted({str(r[0]) for r in clean.select("part_date").distinct().collect()})[:2]
    clean.filter(clean.part_date.cast("string").isin(dates)).write.partitionBy("part_date").parquet(
        str(fx / "transcripts"))
    spark.createDataFrame(gen_tools_dim()).write.parquet(str(fx / "tools_dim.parquet"))
    got, want, written = _observed_vs_sink(spark, str(fx), tmp_path, "clean", dates)
    assert written == []
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert len(got) == 2 * 9 and (got["violation_count"] == 0).all() and got["pass"].all()


@pytest.mark.parametrize("null_key", [False, True])
def test_violation_count_cells_keep_the_null_partition_apart(spark, null_key):
    """The key "None" scopes both the NULL partition and a literal "None"
    value of a string column; each gets its own observed cell, matched to
    its own grid row."""
    from lyra_spark.engine import compute_verdicts

    rows = [("None", "r1"), ("None", "r1"), ("x", "r1")] + ([(None, "r1")] if null_key else [])
    viol = spark.createDataFrame(rows, "p string, rule_id string").withColumn("part", lio.partition_key("p"))
    aggs = presets.violation_count_aggs(["None", "x"], ["r1"], "p", "part")
    observed = viol.select(*aggs).collect()[0].asDict()
    counted = presets.counted_violations(spark, ["None", "x"], ["r1"], "p", observed)
    data = spark.createDataFrame([("None",), ("x",), (None,)], "p string")
    got = {(r["p"], r["violation_count"]) for r in compute_verdicts(data, counted, ["r1"], "p").collect()}
    want = {(r["p"], r["violation_count"]) for r in compute_verdicts(data, viol, ["r1"], "p").collect()}
    assert got == want == {("None", 2), ("x", 1), (None, 1 if null_key else 0)}


def test_batch_failure_cancels_the_drift_pass(tmp_path, spark, fixtures_sf0001, monkeypatch):
    """A failing sink write propagates from main without waiting out the
    drift pass: the run cancels its side jobs, no thread outlives the run
    and no job of its group starts later. The drift pass is a 100 s job
    (400 tasks of 1 s on 4 slots)."""
    import threading
    import time

    from jobs.validate import main
    from lyra_spark import drift
    from lyra_spark.session import group_job_ids

    def boom(*_a, **_k):
        raise RuntimeError("sink write failed")

    def slow_quantiles(sk, reference=None, loo_max_partitions=10):
        sk.sparkSession.range(0, 400, 1, 400).selectExpr(
            "reflect('java.lang.Thread', 'sleep', cast(1000 as bigint))").collect()

    monkeypatch.setattr(lio, "write_violations", boom)
    monkeypatch.setattr(drift, "drift_quantiles", slow_quantiles)
    threads = threading.active_count()
    t0 = time.perf_counter()
    with pytest.raises(RuntimeError, match="sink write failed"):
        main(_cli_args(fixtures_sf0001, tmp_path, "boom", "--limit-partitions", "2"))
    assert time.perf_counter() - t0 < 30
    assert threading.active_count() == threads
    ids = group_job_ids(spark, "lyra_validate_boom")
    tracker = spark.sparkContext.statusTracker()
    assert "FAILED" in {str(tracker.getJobInfo(i).status) for i in ids}  # the cancelled drift job
    time.sleep(1.0)
    assert group_job_ids(spark, "lyra_validate_boom") == ids


def test_batch_is_saved_while_a_long_drift_pass_runs(tmp_path, spark, fixtures_sf0001, monkeypatch):
    """The drift pass's jobs go to the side pool: under fair scheduling the
    batch's jobs get task slots while a long drift job holds pending tasks,
    so the batch's manifest save does not wait for the drift pass (under
    FIFO it would, the drift job being the older). The drift pass is 100
    tasks of 0.25 s."""
    import time

    from jobs.validate import main
    from lyra_spark import checkpoint as ckpt
    from lyra_spark import drift

    assert spark.conf.get("spark.scheduler.mode") == "FAIR"
    at = {}
    save, quantiles = ckpt.save_manifest, drift.drift_quantiles

    def timed_save(*a, **k):
        save(*a, **k)
        at.setdefault("saved", time.perf_counter())

    def slow_quantiles(*a, **k):
        spark.range(0, 100, 1, 100).selectExpr(
            "reflect('java.lang.Thread', 'sleep', cast(250 as bigint))").collect()
        at["drift_done"] = time.perf_counter()
        return quantiles(*a, **k)

    monkeypatch.setattr(ckpt, "save_manifest", timed_save)
    monkeypatch.setattr(drift, "drift_quantiles", slow_quantiles)
    assert main(_cli_args(fixtures_sf0001, tmp_path, "fair", "--limit-partitions", "2")) == 0
    assert at["saved"] < at["drift_done"], at


def test_drift_pass_entry_points_run_on_the_calling_thread(tmp_path, spark, fixtures_sf0001, monkeypatch):
    """sketch_by_partition and drift_verdicts run on main's thread, like
    every lyra entry point the run calls; only drift_quantiles' jobs run on
    a side thread, in the side pool, tagged and labelled as the run's."""
    import threading

    from jobs.validate import SIDE_POOL, main
    from lyra_spark import drift

    sc = spark.sparkContext
    seen = {}

    def on_thread(name, fn):
        def wrapper(*a, **k):
            seen[name] = threading.current_thread()
            if name == "drift_quantiles":
                seen["props"] = (sc.getLocalProperty("spark.scheduler.pool"),
                                 sc.getLocalProperty("spark.job.description"),
                                 sc.getJobTags())
            return fn(*a, **k)
        return wrapper

    for name in ("sketch_by_partition", "drift_quantiles", "drift_verdicts"):
        monkeypatch.setattr(drift, name, on_thread(name, getattr(drift, name)))
    assert main(_cli_args(fixtures_sf0001, tmp_path, "threads", "--limit-partitions", "1")) == 0
    me = threading.current_thread()
    assert seen["sketch_by_partition"] is me and seen["drift_verdicts"] is me
    assert seen["drift_quantiles"] is not me
    pool, desc, tags = seen["props"]
    assert pool == SIDE_POOL and desc == "lyra validate threads: drift pass"
    assert len(tags) == 1 and next(iter(tags)).startswith("lyra_side_")
    assert sc.getLocalProperty("spark.scheduler.pool") is None and not sc.getJobTags()


def test_bad_drift_column_raises_after_the_batch_is_saved(tmp_path, spark, fixtures_sf0001):
    """The drift pass fails on a missing column; the error reaches the
    caller where the drift tail runs, after the batch's manifest save."""
    from pyspark.errors import AnalysisException

    from jobs.validate import main
    from lyra_spark import checkpoint as ckpt

    with pytest.raises(AnalysisException):
        main(_cli_args(fixtures_sf0001, tmp_path, "bad_drift", "--limit-partitions", "2",
                       "--drift-col", "no_such_column"))
    assert len(ckpt.load_manifest(str(tmp_path / "ck"), "bad_drift").records) == 2


def test_missing_tools_dim_raises_before_any_output(tmp_path, spark, fixtures_sf0001):
    """A --tools-dim that does not exist fails the run before any output
    dir is made."""
    from pyspark.errors import AnalysisException

    from jobs.validate import main

    args = _cli_args(fixtures_sf0001, tmp_path, "no_dim", "--limit-partitions", "2",
                     "--clean-out", str(tmp_path / "clean"))
    args[args.index("--tools-dim") + 1] = str(tmp_path / "no_such_dim.parquet")
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        main(args)
    assert not (tmp_path / "viol").exists()
    assert not (tmp_path / "clean").exists()
    assert not (tmp_path / "ck" / "no_dim" / "verdicts").exists()
