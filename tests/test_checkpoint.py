"""Checkpoint/resume semantics (SURVEY.md §5.7) + deterministic sink (§5.8)."""

import json
import os

import pandas as pd
import pytest

from lyra_spark import checkpoint as ckpt
from lyra_spark import io as lio
from lyra_spark import rules as R
from lyra_spark.presets import transcript_ruleset, validate_transcripts
from lyra_spark.rules import RuleSet


@pytest.fixture()
def ruleset():
    return transcript_ruleset()


def test_manifest_roundtrip_and_pending(tmp_path, ruleset):
    m = ckpt.load_manifest(str(tmp_path), "run1")
    assert m.pending(["a", "b", "c"], ruleset) == ["a", "b", "c"]
    m.record("a", ruleset, rows=10, violations=1, wall_ms=5.0)
    m.record("b", ruleset, rows=20, violations=0, wall_ms=6.0)
    ckpt.save_manifest(str(tmp_path), m)

    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m2.pending(["a", "b", "c"], ruleset) == ["c"]
    assert m2.records["a"].rows == 10
    assert m2.records["a"].rule_versions == ruleset.versions()


def test_rule_version_bump_invalidates(tmp_path, ruleset):
    m = ckpt.load_manifest(str(tmp_path), "run1")
    m.record("a", ruleset, rows=10, violations=1, wall_ms=5.0)
    ckpt.save_manifest(str(tmp_path), m)

    changed = RuleSet(
        [R.required("text", rule_id="text_required")]  # different ruleset → different fingerprint
    )
    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m2.pending(["a"], changed) == ["a"]
    assert m2.pending(["a"], ruleset) == []


def test_corrupt_manifest_forces_revalidation(tmp_path, ruleset):
    m = ckpt.load_manifest(str(tmp_path), "run1")
    m.record("a", ruleset, rows=1, violations=0, wall_ms=1.0)
    path = ckpt.save_manifest(str(tmp_path), m)
    with open(path, "w") as f:
        f.write("{ not json\n")  # a complete line, so not a torn tail
    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m2.pending(["a"], ruleset) == ["a"]


def test_corrupt_legacy_manifest_forces_revalidation(tmp_path, ruleset):
    legacy = tmp_path / "run1" / ckpt.LEGACY_MANIFEST_NAME
    legacy.parent.mkdir()
    legacy.write_text("{ not json")
    m = ckpt.load_manifest(str(tmp_path), "run1")
    assert m.pending(["a"], ruleset) == ["a"]


def _journal_lines(n: int, ruleset) -> bytes:
    """``n`` journal lines for partitions p0..p{n-1}, as a save writes them."""
    proto = ckpt.Manifest(run_id="x")
    proto.record("p", ruleset, rows=3000, violations=1, wall_ms=1500.0)
    line = json.loads(ckpt._line(proto.records["p"]))
    return b"".join(
        (json.dumps({**line, "partition": f"p{i}", "rows": i}, sort_keys=True) + "\n").encode()
        for i in range(n)
    )


@pytest.mark.parametrize("history", [10**3, 10**5])
def test_journal_save_appends_only_new_records(tmp_path, ruleset, history):
    """A save after a load writes exactly the records changed since: the
    file's prefix stays byte-identical and grows by those two lines, at
    10^3 and at 10^5 history records alike."""
    path = ckpt.manifest_path(str(tmp_path), "run1")
    os.makedirs(os.path.dirname(path))
    with open(path, "wb") as f:
        f.write(_journal_lines(history, ruleset))
    with open(path, "rb") as f:
        before = f.read()
    m = ckpt.load_manifest(str(tmp_path), "run1")
    assert len(m.records) == history
    m.record("new_a", ruleset, rows=5, violations=0, wall_ms=2.0)
    m.record("new_b", ruleset, rows=6, violations=1, wall_ms=3.0)
    assert ckpt.save_manifest(str(tmp_path), m) == path
    with open(path, "rb") as f:
        after = f.read()
    assert after[: len(before)] == before
    added = after[len(before):].splitlines(keepends=True)
    assert [json.loads(x)["partition"] for x in added] == ["new_a", "new_b"]
    assert all(x.endswith(b"\n") for x in added)
    # a save with nothing recorded since appends nothing
    ckpt.save_manifest(str(tmp_path), m)
    assert os.path.getsize(path) == len(after)
    assert len(ckpt.load_manifest(str(tmp_path), "run1").records) == history + 2


def test_journal_torn_tail_dropped_and_cut(tmp_path, ruleset):
    """A final line without its newline (a crash mid-append) is dropped on
    load and cut from the file, so the next append starts on a clean line
    and the journal stays loadable."""
    m = ckpt.Manifest(run_id="run1")
    for pk in ("a", "b"):
        m.record(pk, ruleset, rows=1, violations=0, wall_ms=1.0)
    path = ckpt.save_manifest(str(tmp_path), m)
    whole = os.path.getsize(path)
    with open(path, "ab") as f:
        f.write(b'{"partition": "c", "rows": 1')
    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert sorted(m2.records) == ["a", "b"]
    assert os.path.getsize(path) == whole
    m2.record("c", ruleset, rows=3, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m2)
    m3 = ckpt.load_manifest(str(tmp_path), "run1")
    assert sorted(m3.records) == ["a", "b", "c"] and m3.records["c"].rows == 3
    assert m3.dirty == set()  # loaded whole: not started clean


def test_journal_compacts_past_twice_the_live_records(tmp_path, ruleset):
    """Lines beyond 2x the live records are compacted away on load; the
    last line of each partition wins, before and after compaction."""
    m = ckpt.Manifest(run_id="run1")
    for pk in ("a", "b"):
        m.record(pk, ruleset, rows=0, violations=0, wall_ms=1.0)
    path = ckpt.save_manifest(str(tmp_path), m)

    def lines():
        with open(path, "rb") as f:
            return f.read().count(b"\n")

    m = ckpt.load_manifest(str(tmp_path), "run1")
    for rows in (1, 2):  # re-record both: 6 lines for 2 live records
        m.record("a", ruleset, rows=rows, violations=0, wall_ms=1.0)
        m.record("b", ruleset, rows=10 + rows, violations=0, wall_ms=1.0)
        ckpt.save_manifest(str(tmp_path), m)
        m = ckpt.load_manifest(str(tmp_path), "run1")
    # 6 lines > 2 x 2 live: the second load above compacted to 2 lines
    assert lines() == 2
    assert (m.records["a"].rows, m.records["b"].rows) == (2, 12)
    m.record("a", ruleset, rows=3, violations=0, wall_ms=1.0)
    m.record("b", ruleset, rows=13, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m)
    m = ckpt.load_manifest(str(tmp_path), "run1")
    assert lines() == 4  # exactly 2x: kept as is
    assert (m.records["a"].rows, m.records["b"].rows) == (3, 13)
    m.record("a", ruleset, rows=4, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m)
    m = ckpt.load_manifest(str(tmp_path), "run1")
    assert lines() == 2  # 5 lines > 4: compacted
    assert (m.records["a"].rows, m.records["b"].rows) == (4, 13)
    assert not os.path.exists(path + ".tmp")


def test_legacy_manifest_read_then_migrated(tmp_path, ruleset):
    """A run id with only a legacy manifest.json loads from it; the first
    save writes the whole journal and removes the legacy file."""
    from dataclasses import asdict

    m = ckpt.Manifest(run_id="run1")
    for pk in ("a", "b"):
        m.record(pk, ruleset, rows=7, violations=1, wall_ms=1.0)
    legacy = tmp_path / "run1" / ckpt.LEGACY_MANIFEST_NAME
    legacy.parent.mkdir()
    legacy.write_text(json.dumps(
        {"run_id": "run1", "records": {k: asdict(v) for k, v in m.records.items()}},
        indent=1, sort_keys=True))
    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m2.records == m.records
    assert not os.path.exists(ckpt.manifest_path(str(tmp_path), "run1"))
    m2.record("c", ruleset, rows=9, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m2)
    assert not legacy.exists()
    m3 = ckpt.load_manifest(str(tmp_path), "run1")
    assert sorted(m3.records) == ["a", "b", "c"]
    assert m3.records["a"] == m.records["a"]


def test_in_memory_manifest_replaces_the_journal(tmp_path, ruleset):
    """A manifest built in memory writes all its records on its first save,
    replacing whatever journal the run id had."""
    old = ckpt.Manifest(run_id="run1")
    old.record("stale", ruleset, rows=1, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), old)
    m = ckpt.Manifest(run_id="run1")
    m.record("a", ruleset, rows=1, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m)
    assert sorted(ckpt.load_manifest(str(tmp_path), "run1").records) == ["a"]


def test_cli_run_and_resume(tmp_path, spark, fixtures_sf0001, capsys):
    """End-to-end CLI: first run validates all partitions; rerun skips them."""
    from jobs.validate import main

    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "r1",
        "--limit-partitions", "3",
    ]
    assert main(args) == 0
    out1 = capsys.readouterr().out
    assert "this_run=3" in out1
    mf = ckpt.load_manifest(str(tmp_path), "r1")
    assert len(mf.records) == 3
    # verdict sink: one small parquet dir per completed partition
    import pyarrow.parquet as pq

    for pk in mf.records:
        vdir = tmp_path / "r1" / "verdicts" / f"part={pk}"
        files = list(vdir.glob("*.parquet"))
        assert files, f"no verdict parquet for {pk}"
        vt = pq.read_table(files[0])
        assert {"rule_id", "pass", "violation_count", "row_count"} <= set(vt.column_names)

    assert main(args) == 0
    out2 = capsys.readouterr().out
    mf2 = ckpt.load_manifest(str(tmp_path), "r1")
    assert len(mf2.records) == 6  # 3 more, first 3 skipped
    first3 = sorted(mf.records)[:3]
    for k in first3:
        assert mf2.records[k].completed_at == mf.records[k].completed_at  # untouched


def test_violation_sink_deterministic(tmp_path, spark, fixtures_sf0001):
    """Two writes of the same violations produce byte-identical parquet data
    (BASELINE.json:6)."""
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))

    outs = []
    for i in (1, 2):
        res = validate_transcripts(tdf, dim)
        out = str(tmp_path / f"v{i}")
        lio.write_violations(res.violations_sorted(), out)
        pdf = pd.read_parquet(out).reset_index(drop=True)
        outs.append(pdf)
    pd.testing.assert_frame_equal(outs[0], outs[1])
    assert len(outs[0]) > 0


def test_run_suite_clean_dataset_empty_sink(tmp_path, spark):
    """A dataset with ZERO violations writes an empty sink (only _SUCCESS);
    run_suite must read it back without UNABLE_TO_INFER_SCHEMA and report
    all-pass verdicts (the production success case)."""
    import datetime

    from lyra_spark.presets import run_suite
    from lyra_spark.schema import TOOLS_DIM_SCHEMA, TRANSCRIPTS_SCHEMA

    d = datetime.date(2024, 1, 1)
    ts = datetime.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (f"c{i}", j, "user" if j % 2 == 0 else "assistant", "hello world",
         "search", ts + datetime.timedelta(minutes=j), d)
        for i in range(4)
        for j in range(3)
    ]
    tdf = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    dim = spark.createDataFrame([("search", "retrieval")], TOOLS_DIM_SCHEMA)

    viol, verd = run_suite(tdf, dim, str(tmp_path / "sink"))
    assert viol.count() == 0
    vp = verd.toPandas()
    assert vp["pass"].all()
    assert (vp["violation_count"] == 0).all()


def test_violation_sink_auto_splits_hot_date(tmp_path, spark):
    """The sink's one layout: nothing configured, yet a hot date must
    spread over multiple write tasks (AQE rebalance skew split) while writes
    stay byte-identical — the 'a few hot dates cannot serialize the sink'
    contract at scale, observable at test size via a small advisory size."""
    import datetime
    import glob

    from lyra_spark.schema import VIOLATIONS_SCHEMA
    from pyspark.sql import types as T

    schema = T.StructType(list(VIOLATIONS_SCHEMA) + [T.StructField("part_date", T.DateType(), True)])
    hot, cold = datetime.date(2024, 6, 1), datetime.date(2024, 6, 2)
    rows = [(f"c{i % 997}", i, "rule_x", str(i), hot) for i in range(20_000)]
    rows += [(f"d{i}", i, "rule_y", str(i), cold) for i in range(50)]
    viol = spark.createDataFrame(rows, schema)

    tuned = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16kb",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "1kb",
    }
    old = {k: spark.conf.get(k, None) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        outs = []
        for i in (1, 2):
            out = str(tmp_path / f"auto{i}")
            lio.write_violations(viol, out)
            hot_files = glob.glob(os.path.join(out, "part_date=2024-06-01", "*.parquet"))
            cold_files = glob.glob(os.path.join(out, "part_date=2024-06-02", "*.parquet"))
            assert len(hot_files) > 1, "hot date must split across sink tasks"
            assert len(cold_files) == 1, "small date must stay one file"
            outs.append(pd.read_parquet(out).reset_index(drop=True))
        pd.testing.assert_frame_equal(outs[0], outs[1])
    finally:
        for k, v in old.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_cli_marginal_jobs_per_partition(tmp_path, spark, fixtures_sf0001):
    """A second partition in the SAME batch must cost (almost) no extra Spark
    jobs: one suite pass, one sink write, one verdict roll-up and one verdict
    write serve the whole batch (no sink re-read, no partition rescan for
    counts). Measured as the marginal job count between a 1-partition and a
    2-partition run (both one batch), so fixed overhead (listing, drift
    pass) cancels out."""
    from jobs.validate import main

    sc = spark.sparkContext
    assert sc.defaultParallelism >= 2  # both runs fit one batch

    def jobs_for(run_id: str, nparts: int) -> int:
        grp = f"jobcount_{run_id}"
        sc.setJobGroup(grp, "count jobs")
        try:
            args = [
                "--table", os.path.join(fixtures_sf0001, "transcripts"),
                "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
                "--checkpoint", str(tmp_path / run_id),
                "--run-id", run_id,
                "--out", str(tmp_path / run_id / "viol"),
                "--limit-partitions", str(nparts),
            ]
            assert main(args) == 0
        finally:
            sc.setJobGroup("", "")
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    one = jobs_for("j1", 1)
    two = jobs_for("j2", 2)
    marginal = two - one
    # measured 2 on this fixed fixture (deterministic: 15 vs 17 jobs). The
    # batch's actions are shared; the first partition is clean, so the
    # 1-partition run rolls verdicts up from an empty in-memory sink frame,
    # while the 2-partition batch aggregates its written sink files. The
    # former per-partition loop paid every action again — 10 per partition.
    assert marginal <= 2, f"marginal jobs per partition = {marginal}"


def test_cli_hll_blobs_persist_and_merge(tmp_path, spark, fixtures_sf0001, capsys):
    """--hll-cols: per-partition DataSketches blobs land next to the verdicts;
    the global estimate merges STORED blobs (resume with everything completed
    does zero partition work but still reports the global estimate)."""
    from jobs.validate import main

    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "h1",
        "--hll-cols", "conv_id",
    ]
    assert main(args) == 0
    out1 = capsys.readouterr().out
    assert "hll_distinct column=conv_id" in out1
    est = int(out1.split("hll_distinct column=conv_id estimate=")[1].split()[0])
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    exact = tdf.select("conv_id").distinct().count()
    assert abs(est - exact) <= 0.05 * exact, f"hll estimate {est} vs exact {exact}"

    # resume: all partitions completed -> this_run=0, estimate still reported
    assert main(args) == 0
    out2 = capsys.readouterr().out
    assert "this_run=0" in out2
    assert "hll_distinct column=conv_id" in out2


def test_cli_batches_match_run_suite(tmp_path, spark, fixtures_sf0001, capsys):
    """More pending partitions than one batch (defaultParallelism): every
    partition's sink rows and verdict grid equal presets.run_suite over that
    partition alone — batching never changes a partition's result. The
    table starts at the fixture's 2024-03-02: its hot conversation spans
    every date, and 2024-03-05 holds its planted turn_idx=-1 row, so a
    batch checking that conversation across 03-02..03-05 would move the
    monotone/transition violations from turn 321 (03-05) to turn 300
    (03-02)."""
    import datetime
    import shutil

    from pyspark.sql import functions as F

    from jobs.validate import DEFAULT_TRANSITIONS, main
    from lyra_spark.presets import run_suite

    # more dates than one batch, the first batch spanning 03-02..03-05
    n = max(spark.sparkContext.defaultParallelism, 4) + 1
    dates = [str(datetime.date(2024, 3, 2) + datetime.timedelta(days=i)) for i in range(n)]
    table = str(tmp_path / "transcripts")
    for d in dates:
        shutil.copytree(os.path.join(fixtures_sf0001, "transcripts", f"part_date={d}"),
                        os.path.join(table, f"part_date={d}"))
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "rb",
        "--out", str(tmp_path / "viol"),
        "--clean-out", str(tmp_path / "clean"),
        "--check-transitions",
    ]
    assert main(args) == 0
    capsys.readouterr()
    mf = ckpt.load_manifest(str(tmp_path / "ck"), "rb")
    assert sorted(mf.records) == dates

    tdf = spark.read.parquet(table)
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))
    sink = spark.read.parquet(str(tmp_path / "viol"))
    verd = spark.read.parquet(str(tmp_path / "ck" / "rb" / "verdicts"))
    vcols = ["part_date", "rule_id", "pass", "violation_count", "row_count"]
    vkeys = ["conv_id", "turn_idx", "part_date", "rule_id", "observed_value"]

    def rows(df, cols):
        return sorted(tuple(str(v) for v in r) for r in df.select(*cols).collect())

    for pk in mf.records:
        want_v, want_verd = run_suite(
            lio.partition_scope(tdf, pk), dim, str(tmp_path / f"ref_{pk}"),
            transitions=DEFAULT_TRANSITIONS,
        )
        assert rows(sink.filter(F.col("part") == pk), vkeys) == rows(want_v, vkeys), pk
        assert rows(verd.filter(F.col("part") == pk), vcols) == rows(want_verd, vcols), pk
        assert mf.records[pk].violations == want_v.count()
        assert (tmp_path / "clean" / f"part={pk}").is_dir()


def test_cli_revalidated_clean_partition_leaves_no_stale_files(tmp_path, spark, fixtures_sf0001):
    """A rule-version bump that re-validates one partition into a clean one
    replaces exactly that partition's dirs: no violation files remain under
    its sink dir, its quarantine is empty, and every other partition's files
    stay byte-identical."""
    import hashlib

    from jobs.validate import main

    def run(rule: dict, limit: int) -> None:
        cfg = tmp_path / "rules.json"
        cfg.write_text(json.dumps([rule]))
        assert main([
            "--table", os.path.join(fixtures_sf0001, "transcripts"),
            "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
            "--checkpoint", str(tmp_path / "ck"),
            "--run-id", "rv",
            "--rules", str(cfg),
            "--out", str(tmp_path / "viol"),
            "--clean-out", str(tmp_path / "clean"),
            "--quarantine-out", str(tmp_path / "quar"),
            "--limit-partitions", str(limit),
        ]) == 0

    def digests(pk: str) -> dict[str, str]:
        out = {}
        for sub in ("viol", "clean", "quar", "ck/rv/verdicts"):
            for f in sorted((tmp_path / sub / f"part={pk}").rglob("*")):
                if f.is_file():
                    out[str(f.relative_to(tmp_path))] = hashlib.sha256(f.read_bytes()).hexdigest()
        return out

    short = {"kind": "length", "column": "text", "max": 3, "rule_id": "text_short"}
    run(short, 3)
    first, *others = sorted(ckpt.load_manifest(str(tmp_path / "ck"), "rv").records)
    assert list((tmp_path / "viol" / f"part={first}").rglob("*.parquet"))  # dirty before
    before = {pk: digests(pk) for pk in others}

    # version bump + loosened bound: every partition is pending again; the
    # first re-validates and comes out clean (it has no dataset-check hits)
    run({**short, "max": 10**6, "version": "2"}, 1)
    mf = ckpt.load_manifest(str(tmp_path / "ck"), "rv")
    assert mf.records[first].violations == 0
    assert not list((tmp_path / "viol" / f"part={first}").rglob("*.parquet"))
    assert spark.read.parquet(str(tmp_path / "quar" / f"part={first}")).count() == 0
    assert spark.read.parquet(str(tmp_path / "clean" / f"part={first}")).count() == mf.records[first].rows
    assert {pk: digests(pk) for pk in others} == before


def test_run_suite_metadata_verdicts_match_distributed(tmp_path, spark, fixtures_sf0001):
    """run_suite(input_path=...) builds the verdict grid from parquet-footer
    row counts (the Iceberg-manifest analogue) + one tiny violation aggregate.
    It must equal the distributed compute_verdicts roll-up exactly — same
    rows, same schema, same values."""
    from lyra_spark.presets import run_suite

    table = os.path.join(fixtures_sf0001, "transcripts")
    tdf = spark.read.parquet(table)
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))

    _, verd_dist = run_suite(tdf, dim, str(tmp_path / "s1"))
    _, verd_meta = run_suite(tdf, dim, str(tmp_path / "s2"), input_path=table)

    key = ["part_date", "rule_id"]
    a = verd_dist.toPandas().sort_values(key, ignore_index=True)
    b = verd_meta.toPandas().sort_values(key, ignore_index=True)
    b = b[a.columns]
    pd.testing.assert_frame_equal(a, b)
    assert len(a) > 0


def test_partition_row_counts_matches_scan(tmp_path, spark, fixtures_sf0001):
    """Footer-metadata row counts per partition == a real scan's groupBy count;
    non-hive paths return None (fallback contract)."""
    table = os.path.join(fixtures_sf0001, "transcripts")
    counts = lio.partition_row_counts(table)
    tdf = spark.read.parquet(table)
    scanned = {
        str(r["part_date"]): r["n"]
        for r in tdf.groupBy("part_date").count().withColumnRenamed("count", "n").collect()
    }
    assert counts == scanned
    assert lio.partition_row_counts(str(tmp_path)) is None
    assert lio.partition_row_counts(os.path.join(fixtures_sf0001, "tools_dim.parquet")) is None


def test_partition_row_counts_corrupt_footer_falls_back(tmp_path):
    """A corrupt parquet file in the table dir must degrade to None (caller
    falls back to the distributed roll-up), never raise: footer metadata is an
    optimization, not a correctness dependency."""
    d = tmp_path / "part_date=2024-01-01"
    d.mkdir(parents=True)
    (d / "junk.parquet").write_bytes(b"this is not parquet")
    assert lio.partition_row_counts(str(tmp_path)) is None


def test_partition_row_counts_unescapes_hive_names(tmp_path, spark):
    """Hive URL-encodes special chars in partition dir names; metadata counts
    must key by the partition VALUE (unescaped) so they match
    str(partition value) downstream. A NULL partition (__HIVE_DEFAULT_
    PARTITION__) must force the None fallback — a silent violation_count=0
    verdict for it would be a false pass."""
    df = spark.createDataFrame(
        [("a b:c", 1), ("a b:c", 2), ("plain", 3)], "pkey string, v int"
    )
    out = str(tmp_path / "esc")
    df.write.partitionBy("pkey").parquet(out)
    counts = lio.partition_row_counts(out, partition_col="pkey")
    assert counts == {"a b:c": 2, "plain": 1}

    dfn = spark.createDataFrame([(None, 1), ("x", 2)], "pkey string, v int")
    outn = str(tmp_path / "withnull")
    dfn.write.partitionBy("pkey").parquet(outn)
    assert lio.partition_row_counts(outn, partition_col="pkey") is None


def test_cli_snapshot_id_lineage_roundtrip(tmp_path, spark, fixtures_sf0001):
    """--snapshot-id is recorded per partition in the manifest and survives a
    save/load round-trip (Iceberg read-version lineage)."""
    from jobs.validate import main

    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "snap1",
        "--limit-partitions", "2",
        "--snapshot-id", "8172637261",
    ]
    assert main(args) == 0
    mf = ckpt.load_manifest(str(tmp_path), "snap1")
    assert len(mf.records) == 2
    assert all(r.snapshot_id == "8172637261" for r in mf.records.values())


def test_cli_hll_missing_blobs_warns_not_undercounts(tmp_path, spark, fixtures_sf0001, capsys):
    """Resuming with --hll-cols over a checkpoint whose earlier partitions
    completed WITHOUT the flag must warn about the uncovered partitions
    instead of silently undercounting (and never crash on a missing blob dir)."""
    from jobs.validate import main

    base = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "hmix",
    ]
    assert main(base + ["--limit-partitions", "2"]) == 0  # no blobs written
    capsys.readouterr()
    assert main(base + ["--limit-partitions", "1", "--hll-cols", "conv_id"]) == 0
    out = capsys.readouterr().out
    assert "WARNING: hll blobs missing for 2 completed" in out
    assert "hll_distinct column=conv_id" in out  # stored-blob estimate still reported


def test_cli_clean_out_is_exact_complement(tmp_path, spark, fixtures_sf0001):
    """--clean-out writes, per partition, exactly the rows that carry no
    violation: clean ∪ violating-keys = partition, clean ∩ violating-keys = ∅
    (NULL-key rows are row-rule violations, so they are excluded from clean by
    the rules themselves, not the key join)."""
    from pyspark.sql import functions as F

    from jobs.validate import main

    clean_dir = tmp_path / "clean"
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--run-id", "rc",
        "--out", str(tmp_path / "viol"),
        "--clean-out", str(clean_dir),
        "--limit-partitions", "2",
    ]
    assert main(args) == 0

    import pyarrow.parquet as pq

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    dim = spark.read.parquet(os.path.join(fixtures_sf0001, "tools_dim.parquet"))

    done = sorted(d.name.split("=", 1)[1] for d in clean_dir.glob("part=*"))
    assert len(done) == 2
    for pk in done:
        part = tdf.filter(F.col("part_date") == pk)
        clean = spark.read.parquet(str(clean_dir / f"part={pk}"))
        viol = validate_transcripts(part, dim).violations
        viol_keys = {
            (r.conv_id, r.turn_idx) for r in viol.select("conv_id", "turn_idx").distinct().collect()
        }
        clean_keys = {(r.conv_id, r.turn_idx) for r in clean.collect()}
        part_keys = {(r.conv_id, r.turn_idx) for r in part.collect()}
        assert clean_keys <= part_keys
        assert not (clean_keys & viol_keys)
        # complement: every non-violating key survives
        assert clean_keys == {k for k in part_keys if k not in viol_keys}
        assert clean.columns == part.columns


def test_cli_quarantine_out_partitions_table_with_clean(tmp_path, spark, fixtures_sf0001):
    """--quarantine-out writes the FULL failing rows; together with
    --clean-out the two outputs partition each partition's rows exactly —
    same key sets as the violation frame, no row dropped or doubled."""
    from pyspark.sql import functions as F

    from jobs.validate import main

    clean_dir, quar_dir = tmp_path / "clean", tmp_path / "quar"
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--run-id", "rq",
        "--out", str(tmp_path / "viol"),
        "--clean-out", str(clean_dir),
        "--quarantine-out", str(quar_dir),
        "--limit-partitions", "4",
    ]
    assert main(args) == 0
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    done = sorted(d.name.split("=", 1)[1] for d in quar_dir.glob("part=*"))
    assert len(done) == 4
    total_quarantined = 0
    for pk in done:
        part = tdf.filter(F.col("part_date") == pk)
        clean = spark.read.parquet(str(clean_dir / f"part={pk}"))
        quar = spark.read.parquet(str(quar_dir / f"part={pk}"))
        assert quar.columns == part.columns
        ck = {(r.conv_id, r.turn_idx) for r in clean.collect()}
        qk = {(r.conv_id, r.turn_idx) for r in quar.collect()}
        pkeys = {(r.conv_id, r.turn_idx) for r in part.collect()}
        assert not (ck & qk)          # disjoint
        assert ck | qk == pkeys       # exhaustive
        assert clean.count() + quar.count() == part.count()  # no row doubled
        total_quarantined += quar.count()
    assert total_quarantined > 0      # the fixture plants violations


def test_cli_check_transitions(tmp_path, spark, fixtures_sf0001):
    """--check-transitions merges role-grammar violations into the sink and
    the verdict grid (the fixture's injected 'robot'/'USER' roles break the
    grammar, so some fire)."""
    from jobs.validate import main

    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path),
        "--run-id", "rt",
        "--out", str(tmp_path / "viol"),
        "--check-transitions",
        "--limit-partitions", "3",
    ]
    assert main(args) == 0
    verd = spark.read.parquet(str(tmp_path / "rt" / "verdicts"))
    tv = verd.filter(verd.rule_id == "role_transition")
    assert tv.count() == 3  # one grid row per partition
    viol = spark.read.parquet(str(tmp_path / "viol"))
    n_tv = viol.filter(viol.rule_id == "role_transition").count()
    # grid violation_count agrees with the sink
    assert sum(r.violation_count for r in tv.collect()) == n_tv


def test_cli_check_schema_preflight(tmp_path, spark, fixtures_sf0001, capsys):
    """--check-schema passes on a conforming table and fails fast (before any
    partition work) on a non-conforming one."""
    import pytest as _pytest

    from jobs.validate import main

    ok_args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ok"),
        "--run-id", "r1",
        "--limit-partitions", "1",
        "--check-schema",
    ]
    assert main(ok_args) == 0
    capsys.readouterr()  # drop the conforming run's output

    # a table missing the tool column (and with turn_idx retyped) must block
    bad = str(tmp_path / "bad_table")
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    tdf.drop("tool").withColumn("turn_idx", tdf.turn_idx.cast("string")).write.partitionBy(
        "part_date"
    ).parquet(bad)
    bad_args = [
        "--table", bad,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "bad"),
        "--run-id", "r1",
        "--check-schema",
    ]
    with _pytest.raises(ValueError, match="tool: missing"):
        main(bad_args)
    out = capsys.readouterr().out
    assert "turn_idx type_mismatch" in out
    # fail-fast: no partition ever completed
    assert "partition=" not in out


def test_schema_diff_statuses(spark):
    from pyspark.sql import types as T

    from lyra_spark.schema import assert_schema, schema_diff

    expected = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.StringType(), False),
            T.StructField("c", T.DoubleType(), True),
        ]
    )
    actual = T.StructType(
        [
            T.StructField("a", T.LongType(), True),       # conforming
            T.StructField("b", T.StringType(), True),     # nullability tightened
            T.StructField("c", T.FloatType(), True),      # type mismatch
            T.StructField("d", T.DateType(), True),       # extra (never blocks)
        ]
    )
    statuses = {d["column"]: d["status"] for d in schema_diff(actual, expected)}
    assert statuses == {"b": "nullability_tightened", "c": "type_mismatch", "d": "extra"}
    assert_schema(actual, T.StructType([T.StructField("a", T.LongType(), True)]))  # extras ok
    try:
        assert_schema(actual, expected)
        raise AssertionError("should have raised")
    except ValueError as e:
        assert "c: type_mismatch" in str(e) and "d" not in str(e).split("extra")[0].split(",")[-1]


def test_cli_clean_out_excludes_transition_violations(tmp_path, spark, fixtures_sf0001):
    """--clean-out + --check-transitions: a turn that fails ONLY the role
    grammar must not land in the validated output (the clean table's 'rows
    failing no rule' contract covers every enabled rule, dataset checks
    included)."""
    from pyspark.sql import functions as F

    from jobs.validate import DEFAULT_TRANSITIONS, main
    from lyra_spark.checks import transition_violations

    clean_dir = tmp_path / "clean"
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--run-id", "rct",
        "--out", str(tmp_path / "viol"),
        "--clean-out", str(clean_dir),
        "--check-transitions",
        "--limit-partitions", "3",
    ]
    assert main(args) == 0

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    done = sorted(d.name.split("=", 1)[1] for d in clean_dir.glob("part=*"))
    assert len(done) == 3
    checked = 0
    for pk in done:
        part = tdf.filter(F.col("part_date") == pk)
        tv = transition_violations(part, DEFAULT_TRANSITIONS, partition_col="part_date")
        tv_keys = {(r.conv_id, r.turn_idx) for r in tv.select("conv_id", "turn_idx").collect()}
        if not tv_keys:
            continue
        clean_keys = {
            (r.conv_id, r.turn_idx)
            for r in spark.read.parquet(str(clean_dir / f"part={pk}")).collect()
        }
        assert not (clean_keys & tv_keys)
        checked += 1
    assert checked > 0  # the fixture's injected bad roles must exercise this


def test_cli_revalidate_changed(tmp_path, spark, fixtures_sf0001, capsys):
    """--revalidate-changed: late-arriving rows in a COMPLETED partition put
    exactly that partition back in the queue (metadata-count comparison, no
    data read); plain resume would skip it forever, and untouched partitions
    stay skipped even with the flag."""
    import shutil

    from jobs.validate import main

    table = str(tmp_path / "transcripts")
    shutil.copytree(os.path.join(fixtures_sf0001, "transcripts"), table)
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--limit-partitions", "4",
    ]
    assert main(args) == 0
    capsys.readouterr()
    mf = ckpt.load_manifest(str(tmp_path / "ck"), "r1")
    pk = sorted(mf.records)[0]
    old = mf.records[pk]

    # 5 late rows land in the completed partition
    extra = (
        spark.read.parquet(table)
        .filter(f"part_date = '{pk}'")
        .drop("part_date")
        .limit(5)
    )
    extra.write.mode("append").parquet(os.path.join(table, f"part_date={pk}"))

    # plain resume: still skipped (the gap this flag exists to close)
    assert main(args) == 0
    assert "this_run=4" in capsys.readouterr().out  # 4 NEW partitions, not pk
    mf2 = ckpt.load_manifest(str(tmp_path / "ck"), "r1")
    assert mf2.records[pk].completed_at == old.completed_at

    # with the flag: exactly the changed partition rejoins the queue
    assert main(args + ["--revalidate-changed"]) == 0
    out = capsys.readouterr().out
    assert "revalidate-changed: 1 completed partition(s) changed" in out
    mf3 = ckpt.load_manifest(str(tmp_path / "ck"), "r1")
    assert mf3.records[pk].rows == old.rows + 5
    assert mf3.records[pk].completed_at > old.completed_at
    for k in mf2.records:
        if k != pk and k in mf.records:
            assert mf3.records[k].completed_at == mf2.records[k].completed_at


def test_cli_check_placement(tmp_path, spark, fixtures_sf0001):
    """--check-placement: rows stored under the wrong part_date dir are
    reported as partition_placement violations in the sink and fail the
    verdict grid for exactly that partition; a clean run stays clean."""
    import shutil

    from jobs.validate import main

    table = str(tmp_path / "transcripts")
    shutil.copytree(os.path.join(fixtures_sf0001, "transcripts"), table)
    dates = sorted(
        d.split("=", 1)[1] for d in os.listdir(table) if d.startswith("part_date=")
    )
    src, dst = dates[0], dates[1]
    planted = (
        spark.read.parquet(table)
        .filter(f"part_date = '{src}'")
        .drop("part_date")
        .limit(4)
    )
    planted_keys = {(r.conv_id, r.turn_idx) for r in planted.collect()}
    planted.write.mode("append").parquet(os.path.join(table, f"part_date={dst}"))

    out = str(tmp_path / "viol")
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--out", out,
        "--check-placement",
        "--limit-partitions", "2",
    ]
    assert main(args) == 0
    viol = spark.read.parquet(out).filter("rule_id = 'partition_placement'")
    got = {(r.conv_id, r.turn_idx) for r in viol.collect()}
    assert got == planted_keys
    assert {str(r.part_date) for r in viol.collect()} == {dst}
    verd = spark.read.parquet(os.path.join(str(tmp_path / "ck"), "r1", "verdicts"))
    grid = {
        (str(r.part_date), r["pass"]): r.violation_count
        for r in verd.filter("rule_id = 'partition_placement'").collect()
    }
    assert grid == {(src, True): 0, (dst, False): 4}


def test_cli_rules_config(tmp_path, spark, fixtures_sf0001, capsys):
    """--rules: a JSON config replaces the preset ruleset end-to-end — the
    configured rule ids appear in the verdict grid, the preset-only ids do
    not, and the manifest fingerprints the CONFIG ruleset (a different
    config is a different run version)."""
    from jobs.validate import main

    cfg = tmp_path / "rules.json"
    cfg.write_text(
        '[{"kind": "required", "column": "text", "rule_id": "cfg_text_required"},'
        ' {"kind": "length", "column": "text", "max": 3, "rule_id": "cfg_text_short"}]'
    )
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--rules", str(cfg),
        "--limit-partitions", "1",
    ]
    assert main(args) == 0
    assert "rules: 2 loaded" in capsys.readouterr().out
    verd = spark.read.parquet(os.path.join(str(tmp_path / "ck"), "r1", "verdicts"))
    ids = {r.rule_id for r in verd.select("rule_id").distinct().collect()}
    assert "cfg_text_short" in ids and "cfg_text_required" in ids
    assert "role_enum" not in ids  # preset rules replaced, not merged
    # max-3-chars over real text: the configured rule must actually fail rows
    short = [r for r in verd.collect() if r.rule_id == "cfg_text_short"]
    assert short and any(not r["pass"] for r in short)

    from lyra_spark.rules import ruleset_from_json

    mf = ckpt.load_manifest(str(tmp_path / "ck"), "r1")
    fp = ruleset_from_json(str(cfg)).fingerprint()
    assert all(rec.ruleset_fingerprint == fp for rec in mf.records.values())


def test_cli_validates_null_partition_rows(tmp_path, spark, fixtures_sf0001):
    """Rows in the NULL partition dir (__HIVE_DEFAULT_PARTITION__) must NOT
    escape the loop: they validate under the 'None' scope, and with
    --check-placement every one of them flags partition_placement."""
    import shutil

    from jobs.validate import main

    table = str(tmp_path / "transcripts")
    shutil.copytree(os.path.join(fixtures_sf0001, "transcripts"), table)
    stray = (
        spark.read.parquet(table)
        .filter("part_date IS NOT NULL")
        .drop("part_date")
        .limit(3)
    )
    stray_keys = {(r.conv_id, r.turn_idx) for r in stray.collect()}
    stray.write.mode("append").parquet(
        os.path.join(table, "part_date=__HIVE_DEFAULT_PARTITION__")
    )

    out = str(tmp_path / "viol")
    # scope 'None' sorts after every ISO date, so pin the loop to it directly
    assert lio.partition_scope(spark.read.parquet(table), "None").count() == 3
    args = [
        "--table", table,
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--out", out,
        "--check-placement",
    ]
    assert main(args) == 0
    mf = ckpt.load_manifest(str(tmp_path / "ck"), "r1")
    assert "None" in mf.records
    assert mf.records["None"].rows == 3
    viol = spark.read.parquet(out).filter("rule_id = 'partition_placement'")
    got = {(r.conv_id, r.turn_idx) for r in viol.collect()}
    assert stray_keys <= got  # every stray row flags placement


def test_cli_suite_config_object(tmp_path, spark, fixtures_sf0001, capsys):
    """The object-form suite config declares rules AND dataset checks in one
    file: declared transitions (with the first-turn constraint the flags
    lack) and placement both land in the verdict grid."""
    from jobs.validate import main

    cfg = tmp_path / "suite.json"
    cfg.write_text(
        """
        {"rules": [{"kind": "required", "column": "text", "rule_id": "cfg_req"}],
         "checks": [
           {"check": "transitions",
            "allowed": [["system", "user"], ["user", "assistant"],
                        ["assistant", "user"], ["assistant", "tool"],
                        ["tool", "assistant"], ["tool", "user"],
                        ["tool", "tool"], ["user", "tool"]],
            "allowed_first": ["system", "user"]},
           {"check": "placement"}
         ]}
        """
    )
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--rules", str(cfg),
        "--limit-partitions", "2",
    ]
    assert main(args) == 0
    out = capsys.readouterr().out
    assert "2 declared dataset check(s)" in out
    verd = spark.read.parquet(os.path.join(str(tmp_path / "ck"), "r1", "verdicts"))
    ids = {r.rule_id for r in verd.select("rule_id").distinct().collect()}
    assert {"cfg_req", "role_transition", "partition_placement"} <= ids


def test_suite_config_rejects_unknown_check():
    from lyra_spark.rules import suite_config_from_json

    with pytest.raises(ValueError, match="unknown check"):
        suite_config_from_json('{"rules": [], "checks": [{"check": "nope"}]}')
    with pytest.raises(ValueError, match="'allowed' pair list"):
        suite_config_from_json('{"rules": [], "checks": [{"check": "transitions"}]}')


def test_cli_arg_validation(tmp_path, spark, fixtures_sf0001, capsys):
    """--limit-partitions 0 validates NOTHING (not everything); malformed
    --allowed-transitions fails fast instead of silently flagging every
    legitimate transition; the arrow notation the violation output prints
    is accepted."""
    from jobs.validate import main

    base = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
    ]
    assert main(base + ["--limit-partitions", "0"]) == 0
    assert "this_run=0" in capsys.readouterr().out
    with pytest.raises(SystemExit, match="malformed pair"):
        main(base + ["--check-transitions", "--allowed-transitions", "abc"])
    # arrow notation parses to the same grammar as '>' notation
    assert main(base + [
        "--limit-partitions", "1", "--check-transitions",
        "--allowed-transitions",
        "system->user,user->assistant,assistant->user,assistant->tool,"
        "tool->assistant,tool->user,tool->tool,user->tool",
    ]) == 0


def test_cli_freshness_report(tmp_path, spark, fixtures_sf0001, capsys):
    """--freshness-hours: metadata-only per-partition staleness report (the
    fixture spans months, so a 24h gate must find stale partitions)."""
    from jobs.validate import main

    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--limit-partitions", "0",
        "--freshness-hours", "24",
    ]
    assert main(args) == 0
    out = capsys.readouterr().out
    assert "freshness (metadata): 90 partitions" in out
    assert "stale(>24.0h)=[" in out and "stale(>24.0h)=[]" not in out


def test_cli_metric_rules(tmp_path, spark, fixtures_sf0001, capsys):
    """--metric-rules: one extra scan evaluates the declared aggregate bounds
    per partition, writes the grid under the checkpoint, and reports failing
    partitions (the fixture plants NULL text → completeness 1.0 must fail
    somewhere; size(min=1) passes everywhere)."""
    from jobs.validate import main

    cfg = tmp_path / "metrics.json"
    cfg.write_text(json.dumps([
        {"metric": "row_count", "min": 1, "rule_id": "nonempty_day"},
        {"metric": "completeness", "column": "text", "min": 1.0, "rule_id": "text_complete"},
        {"metric": "mean", "column": "turn_idx", "min": 0, "rule_id": "mean_turn"},
    ]))
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--limit-partitions", "0",
        "--metric-rules", str(cfg),
        "--metric-history", str(tmp_path / "mhist"),
    ]
    assert main(args) == 0
    out = capsys.readouterr().out
    assert "metrics: 3 rule(s) x 90 partition(s)" in out
    assert "failing=[" in out and "failing=[]" not in out
    grid = spark.read.parquet(str(tmp_path / "ck" / "r1" / "metric_verdicts"))
    assert grid.count() == 3 * 90
    rows = {(r["part_date"], r["rule_id"]): r["pass"] for r in grid.collect()}
    assert all(p for (d, rid), p in rows.items() if rid == "nonempty_day")
    assert not all(p for (d, rid), p in rows.items() if rid == "text_complete")
    # run 1 seeded the metrics store; an identical run 2 must be quiet
    assert main(args[:7] + ["r2"] + args[8:]) == 0
    out2 = capsys.readouterr().out
    assert "run-anomalies (vs 1 previous run(s)): []" in out2
    hist = spark.read.parquet(str(tmp_path / "mhist"))
    assert hist.select("run_id").distinct().count() == 2


def test_cli_report_json(tmp_path, spark, fixtures_sf0001, capsys):
    """--report: one machine-readable JSON summary of the run — partition
    results, metric gate, drift — with an overall pass that reflects the
    gating surfaces (the fixture plants violations, so pass=False)."""
    import json as _json

    from jobs.validate import main

    cfg = tmp_path / "metrics.json"
    cfg.write_text(json.dumps([{"metric": "row_count", "min": 1, "rule_id": "nonempty"}]))
    rpt = tmp_path / "report.json"
    args = [
        "--table", os.path.join(fixtures_sf0001, "transcripts"),
        "--tools-dim", os.path.join(fixtures_sf0001, "tools_dim.parquet"),
        "--checkpoint", str(tmp_path / "ck"),
        "--run-id", "r1",
        "--limit-partitions", "3",
        "--metric-rules", str(cfg),
        "--freshness-hours", "24",
        "--report", str(rpt),
    ]
    assert main(args) == 0
    rep = _json.loads(rpt.read_text())
    assert rep["run_id"] == "r1" and rep["partitions_this_run"] == 3
    assert len(rep["partitions"]) == 3
    assert {"partition", "rows", "violations", "wall_ms", "pass"} <= set(rep["partitions"][0])
    assert rep["metric_rules_evaluated"] == 1
    assert rep["metric_failing_partitions"] == []
    assert rep["drift_partitions"] == 90
    assert isinstance(rep["freshness_stale"], list) and rep["freshness_stale"]
    # the fixture plants violations in some of the first 3 partitions OR all
    # clean — either way `pass` must equal the recomputed conjunction
    want = (all(p["pass"] for p in rep["partitions"])
            and not rep["metric_failing_partitions"] and not rep["drift_failing"])
    assert rep["pass"] is want


def test_structurally_corrupt_manifest_starts_clean(tmp_path, ruleset):
    """Valid JSON with drifted structure (extra field / wrong shape) must hit
    the start-clean fallback, not crash every resume with TypeError."""
    m = ckpt.load_manifest(str(tmp_path), "run1")
    m.record("a", ruleset, rows=1, violations=0, wall_ms=1.0)
    path = ckpt.save_manifest(str(tmp_path), m)
    with open(path) as f:
        raw = json.loads(f.readline())
    raw["from_the_future"] = True  # newer-version field
    with open(path, "w") as f:
        f.write(json.dumps(raw) + "\n")
    m2 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m2.pending(["a"], ruleset) == ["a"]
    with open(path, "w") as f:
        f.write("[1, 2, 3]\n")  # valid JSON, wrong shape
    m3 = ckpt.load_manifest(str(tmp_path), "run1")
    assert m3.pending(["a"], ruleset) == ["a"]
    # a start-clean manifest rewrites the corrupt journal on its next save
    m3.record("b", ruleset, rows=1, violations=0, wall_ms=1.0)
    ckpt.save_manifest(str(tmp_path), m3)
    assert sorted(ckpt.load_manifest(str(tmp_path), "run1").records) == ["b"]


def test_structurally_corrupt_legacy_manifest_starts_clean(tmp_path, ruleset):
    from dataclasses import asdict

    m = ckpt.Manifest(run_id="run1")
    m.record("a", ruleset, rows=1, violations=0, wall_ms=1.0)
    raw = {"run_id": "run1", "records": {"a": {**asdict(m.records["a"]), "from_the_future": True}}}
    legacy = tmp_path / "run1" / ckpt.LEGACY_MANIFEST_NAME
    legacy.parent.mkdir()
    legacy.write_text(json.dumps(raw))
    assert ckpt.load_manifest(str(tmp_path), "run1").pending(["a"], ruleset) == ["a"]
    legacy.write_text("[1, 2, 3]")
    assert ckpt.load_manifest(str(tmp_path), "run1").pending(["a"], ruleset) == ["a"]


def test_compute_verdicts_null_partition_counts(spark):
    """The NULL partition's violations must reach its verdict row — an
    equi-join on the partition key would silently report pass=True."""
    import pandas as pd

    from lyra_spark.engine import compute_verdicts

    df = spark.createDataFrame(
        pd.DataFrame({"conv_id": ["a", "b", "c"], "part_date": ["d1", None, None]})
    )
    viol = spark.createDataFrame(
        pd.DataFrame(
            {"conv_id": ["b"], "part_date": [None], "rule_id": ["r1"],
             "observed_value": ["x"]}
        )
    )
    got = {
        (str(r.part_date), r.rule_id): (r["pass"], r.violation_count, r.row_count)
        for r in compute_verdicts(df, viol, ["r1"], "part_date").collect()
    }
    assert got[("None", "r1")] == (False, 1, 2)
    assert got[("d1", "r1")] == (True, 0, 1)
