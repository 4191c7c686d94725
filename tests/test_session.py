"""Session factory: the shipped package zip and the fixed confs."""

import os
import zipfile

from lyra_spark import session


def _package(root):
    pkg = root / "pkg"
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("X = 1\n")
    (pkg / "sub" / "mod.py").write_text("Y = 2\n")
    (pkg / "__pycache__").mkdir()
    (pkg / "__pycache__" / "junk.cpython-311.pyc").write_bytes(b"\0")
    return pkg


def test_package_zip_is_shared_and_content_named(tmp_path):
    """Every build of the same sources gives one zip (no per-process file
    left behind); an edited source gets a new name; bytecode never ships."""
    pkg, dest = _package(tmp_path), tmp_path / "dest"
    dest.mkdir()
    first = session.package_zip(str(pkg), str(dest))
    assert session.package_zip(str(pkg), str(dest)) == first
    assert os.listdir(dest) == [os.path.basename(first)]
    with zipfile.ZipFile(first) as zf:
        assert sorted(zf.namelist()) == ["pkg/__init__.py", "pkg/sub/mod.py"]
    # new bytecode alone changes nothing
    (pkg / "__pycache__" / "more.cpython-311.pyc").write_bytes(b"\1")
    assert session.package_zip(str(pkg), str(dest)) == first
    (pkg / "sub" / "mod.py").write_text("Y = 3\n")
    edited = session.package_zip(str(pkg), str(dest))
    assert edited != first
    assert sorted(os.listdir(dest)) == sorted(os.path.basename(p) for p in (first, edited))


def test_call_site_capture_is_off(spark):
    """Column calls skip PySpark's call-site capture (py4j round trips per
    call); tests/test_driver_overhead.py pins what that saves."""
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


class _EvictingTracker:
    """Spark's status tracker as far as job groups go: job ids rise by one,
    and past ``retained`` jobs the oldest tenth is dropped."""

    def __init__(self, retained=1000):
        self.retained = retained
        self.jobs: list[tuple[int, str]] = []
        self.next_id = 0

    def run(self, group, n):
        for _ in range(n):
            self.jobs.append((self.next_id, group))
            self.next_id += 1
            if len(self.jobs) > self.retained:
                del self.jobs[: max(self.retained // 10, 1)]

    def ids(self, group):
        return {i for i, g in self.jobs if g == group}


def test_group_jobs_survive_tracker_eviction():
    """Four 405-job runs under one group, polled after each 45-job batch:
    each counts 405, although the tracker holds 1,000 jobs at most. A
    difference of two counts reads 405, 405, 105 and 5, as measured on four
    full-table CLI runs in one process."""
    tracker = _EvictingTracker()
    counted, diffs = [], []
    for _ in range(4):
        jobs = session.GroupJobs(lambda: tracker.ids("run"))
        before = len(tracker.ids("run"))
        for _ in range(9):
            tracker.run("run", 45)
            jobs.poll()
        counted.append(jobs.poll())
        diffs.append(len(tracker.ids("run")) - before)
    assert counted == [405] * 4
    assert diffs == [405, 405, 105, 5]


def test_group_job_ids_reads_the_tracker(spark):
    """The ids cross from the JVM intact and equal PySpark's own listing."""
    sc = spark.sparkContext
    sc.setJobGroup("ids_probe", "ids")
    try:
        spark.range(3).collect()
        spark.range(4).collect()
    finally:
        sc.setJobGroup("", "")
    want = set(sc.statusTracker().getJobIdsForGroup("ids_probe"))
    assert session.group_job_ids(spark, "ids_probe") == want and len(want) == 2
    assert session.group_job_ids(spark, "no_such_group") == set()
