"""Kill/resume: a validate run killed mid-way and then resumed with the same
--run-id ends where an uninterrupted run ends — manifest records (minus
wall times), violation sink rows, clean rows, verdict grid and the report's
per-partition pass flags all equal. Each run is a subprocess that
tests/fault_inject.py kills at one point of the second of three batches."""

import collections
import datetime
import json
import os
import shutil
import subprocess
import sys

import pytest

from lyra_spark import checkpoint as ckpt

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from fault_inject import FAULT_EXIT  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_ID = "kr"
# six dates from 2024-03-02 (the hot conversation spans them all) at
# local[2]: three batches of two partitions each
DATES = [str(datetime.date(2024, 3, 2) + datetime.timedelta(days=i)) for i in range(6)]


def validate(fault: str, n: int, table: str, dim: str, work: str) -> subprocess.CompletedProcess:
    argv = [
        "--table", table, "--tools-dim", dim, "--master", "local[2]",
        "--checkpoint", os.path.join(work, "ck"), "--run-id", RUN_ID,
        "--out", os.path.join(work, "viol"), "--clean-out", os.path.join(work, "clean"),
        "--report", os.path.join(work, "report.json"),
    ]
    env = dict(os.environ, LYRA_DRIVER_MEM="1g")
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "tests", "fault_inject.py"), fault, str(n), *argv],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )


def outputs(spark, work: str) -> dict:
    def rows(path):
        return collections.Counter(tuple(r) for r in spark.read.parquet(path).collect())

    m = ckpt.load_manifest(os.path.join(work, "ck"), RUN_ID)
    with open(os.path.join(work, "report.json")) as f:
        report = json.load(f)
    return {
        "manifest": {
            (r.partition, r.ruleset_fingerprint, r.rows, r.violations, r.snapshot_id,
             json.dumps(r.rule_versions, sort_keys=True))
            for r in m.records.values()
        },
        "sink": rows(os.path.join(work, "viol")),
        "clean": rows(os.path.join(work, "clean")),
        "verdicts": rows(os.path.join(work, "ck", RUN_ID, "verdicts")),
        "passes": {p["partition"]: p["pass"] for p in report["partitions"]},
    }


@pytest.fixture(scope="module")
def kill_table(tmp_path_factory, fixtures_sf0001):
    base = tmp_path_factory.mktemp("kill_resume")
    table = str(base / "transcripts")
    for d in DATES:
        shutil.copytree(os.path.join(fixtures_sf0001, "transcripts", f"part_date={d}"),
                        os.path.join(table, f"part_date={d}"))
    return table, os.path.join(fixtures_sf0001, "tools_dim.parquet"), str(base)


@pytest.fixture(scope="module")
def uninterrupted(spark, kill_table):
    table, dim, base = kill_table
    work = os.path.join(base, "reference")
    done = validate("none", 0, table, dim, work)
    assert done.returncode == 0, done.stdout[-2000:] + done.stderr[-2000:]
    out = outputs(spark, work)
    assert sorted(out["passes"]) == DATES
    assert out["sink"] and out["clean"]
    return out


@pytest.mark.parametrize("fault", ["after_sink", "torn_line", "before_clean"])
def test_killed_run_resumes_to_uninterrupted_outputs(spark, kill_table, uninterrupted, fault):
    table, dim, base = kill_table
    work = os.path.join(base, fault)
    killed = validate(fault, 2, table, dim, work)
    assert killed.returncode == FAULT_EXIT, killed.stdout[-2000:] + killed.stderr[-2000:]
    journal = ckpt.manifest_path(os.path.join(work, "ck"), RUN_ID)
    with open(journal, "rb") as f:
        data = f.read()
    # the complete lines, read without load_manifest, which would cut a
    # torn tail before the resumed run gets to
    done_before = {json.loads(line)["partition"]
                   for line in data[: data.rfind(b"\n") + 1].splitlines()}
    if fault == "torn_line":
        # the first of the batch's two lines landed, the second is torn
        assert not data.endswith(b"\n")
        assert done_before == set(DATES[:3])
    else:
        assert done_before == set(DATES[:2])

    resumed = validate("none", 0, table, dim, work)
    assert resumed.returncode == 0, resumed.stdout[-2000:] + resumed.stderr[-2000:]
    got = outputs(spark, work)
    for key in ("manifest", "sink", "clean", "verdicts"):
        assert got[key] == uninterrupted[key], key
    # the resumed report covers exactly the partitions the kill left
    # pending, each with the uninterrupted run's pass flag
    assert set(got["passes"]) == set(DATES) - done_before
    assert got["passes"] == {pk: uninterrupted["passes"][pk] for pk in got["passes"]}
