"""Closed-loop benchmark of lyra_spark: one workload per call, one JSON line out.

    python3 perfbench/run.py --workload cli_partitions --seed 3 --seconds 8 --trace 0

Run from the repository root. This process generates the workload's inputs
from ``--seed`` with ``lyra_spark.fixtures`` (cached per seed under
``.perfbench/``, never timed), then starts ONE driver process
(``perfbench/driver.py``) that sets up Spark at ``local[nproc]``, runs the
workload's iterations back to back on one driver thread and checks every
iteration's output. The last stdout line is the result object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the same
loop, then traced iterations, and reports the per-layer metrics (see
``perfbench/README.md`` for the layer map). The full raw record (every
iteration wall, warm-up included, and the spans of the traced run) is
written to ``.perfbench/out/`` and summarised on the line before the result.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("cli_partitions", "profile_drift")
# Transcript table size: 1,000 conversations (~60k turns over ~91 daily
# partitions). Both workloads read the same table of a seed; their walls are
# bound by per-job and per-partition driver costs, not by rows.
DEFAULT_SCALE = "0.01"
DEADLINE_S = 170.0
# Drift oracle tolerances: how far the program's t-digest KS and PSI may sit
# from the exact statistics on the raw values.
KS_TOL, PSI_TOL = 0.02, 0.05


def drift_may_fail(lengths_by_partition: dict, drift_date: str) -> list[str]:
    """Partitions whose drift verdict may legitimately be a failure.

    ``lyra_spark.drift.drift_verdicts`` gates each partition on KS against
    the merged global distribution (critical value max(0.10, 1.95 *
    sqrt((n+m)/(n*m)))) and, from 500 rows on, on PSI over the global
    deciles (> 0.25). The fixture injects drift into ``drift_date`` only,
    but on some seeds an undrifted partition also crosses a gate by chance
    (seed 903 at sf0.01: exact KS 0.1047 against 0.10 on 462 rows). This
    recomputes both statistics exactly and admits every partition within
    the sketch tolerances of a gate."""
    import numpy as np

    allv = np.sort(np.concatenate(list(lengths_by_partition.values())))
    m = len(allv)
    edges = np.quantile(allv, np.linspace(0.0, 1.0, 11))[1:-1]
    ref = np.clip(np.diff(np.concatenate([[0.0], np.searchsorted(allv, edges, side="right") / m, [1.0]])), 1e-6, None)
    ref = ref / ref.sum()
    out = {drift_date}
    for pk, v in lengths_by_partition.items():
        v = np.sort(v)
        n = len(v)
        grid = np.concatenate([v, allv])
        ks = np.max(np.abs(np.searchsorted(v, grid, side="right") / n - np.searchsorted(allv, grid, side="right") / m))
        cur = np.clip(np.diff(np.concatenate([[0.0], np.searchsorted(v, edges, side="right") / n, [1.0]])), 1e-6, None)
        cur = cur / cur.sum()
        psi = float(np.sum((ref - cur) * np.log(ref / cur)))
        crit = max(0.10, 1.95 * np.sqrt((n + m) / (n * m)))
        if ks >= crit - KS_TOL or (n >= 500 and psi >= 0.25 - PSI_TOL):
            out.add(pk)
    return sorted(out)


def fixture_dir(scale: str, seed: int) -> str:
    """Materialize the seed's transcript table once and record the expected
    answers (computed with pyarrow, independently of Spark). The cache is
    keyed on the generator's source, so a changed generator gets new inputs."""
    with open(os.path.join(ROOT, "lyra_spark", "fixtures.py"), "rb") as f:
        generator = hashlib.sha256(f.read()).hexdigest()[:12]
    out = os.path.join(STATE, "fixtures", f"sf{scale}-seed{seed}-{generator}")
    meta_path = os.path.join(out, "expected.json")
    if os.path.exists(meta_path):
        return out
    sys.path.insert(0, ROOT)
    from lyra_spark import fixtures

    if scale not in fixtures.N_CONVS:
        fixtures.N_CONVS[scale] = int(round(float(scale) * 100_000))
    shutil.rmtree(out, ignore_errors=True)
    fixtures.materialize(scale, out, seed=seed)

    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    table_dir = os.path.join(out, "transcripts")
    t = ds.dataset(table_dir, format="parquet", partitioning="hive").to_table(
        columns=["conv_id", "text", "part_date"]
    )
    counts = {
        str(r["part_date"]): r["part_date_count"]
        for r in t.group_by("part_date").aggregate([("part_date", "count")]).to_pylist()
    }
    texts = t.filter(pc.is_valid(t.column("text"))).to_pandas()
    lengths = {str(k): g.to_numpy(dtype=float) for k, g in texts["text"].str.len().groupby(texts["part_date"])}
    files = [os.path.join(d, f) for d, _, fs in os.walk(table_dir) for f in fs if f.endswith(".parquet")]
    expected = {
        "scale": scale,
        "seed": seed,
        "turns": t.num_rows,
        "text_non_null": t.num_rows - t.column("text").null_count,
        "distinct_conv_ids": len(pc.unique(t.column("conv_id"))),
        "partition_rows": dict(sorted(counts.items())),
        "input_files": len(files),
        "input_bytes": sum(os.path.getsize(f) for f in files),
        "drift_date": str(fixtures.DRIFT_DATE),
        "drift_may_fail": drift_may_fail(lengths, str(fixtures.DRIFT_DATE)),
    }
    with open(meta_path + ".tmp", "w") as f:
        json.dump(expected, f, indent=1)
    os.replace(meta_path + ".tmp", meta_path)
    return out


def source_digest() -> str:
    """Identifies the measured code when the tree is not a git checkout."""
    h = hashlib.sha256()
    for sub in ("lyra_spark", "jobs", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, sub))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return (out.stdout.strip() or None) if out.returncode == 0 else None


def main() -> int:
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="steady measurement window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default=DEFAULT_SCALE, help="fixture scale (smoke test: 0.001)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lyra_spark", "__init__.py")):
        print("perfbench: lyra_spark/ not found; run from the repository root", file=sys.stderr)
        return 2

    fx = fixture_dir(args.scale, args.seed)
    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(STATE, "work", tag)
    out_dir = os.path.join(STATE, "out")
    for d in (os.path.join(work, "tmp"), os.path.join(work, "spark-local"), out_dir):
        os.makedirs(d, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    raw_path = os.path.join(out_dir, f"{tag}.json")
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
        # keep every JVM temp file inside the work dir (no /tmp/hsperfdata)
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        SPARK_GRAFT_CPUS=str(nproc),
        # explicit modest heap: the program's 16g default is a whole small
        # host's memory, and peak RSS varied run to run with it
        LYRA_DRIVER_MEM="2g",
    )
    cmd = [
        sys.executable, os.path.join(HERE, "driver.py"),
        "--workload", args.workload, "--fixture", fx, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--nproc", str(nproc), "--work", work,
        "--result", result_path, "--spawned-at", repr(time.time()),
        "--deadline", repr(t_start + DEADLINE_S - time.monotonic()),
    ]

    def interrupted(signum, _frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, interrupted)
    with open(os.path.join(work, "driver.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=max(5.0, t_start + DEADLINE_S - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # the driver's process group holds the JVM and Python workers;
            # they are not our children, so wait until the group is empty
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            gone_by = time.monotonic() + 30.0
            while time.monotonic() < gone_by:
                try:
                    os.killpg(proc.pid, 0)
                except ProcessLookupError:
                    break
                time.sleep(0.05)
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(work, "driver.log")) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: driver failed (rc={rc}); log tail:\n{tail}", file=sys.stderr)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    with open(os.path.join(fx, "expected.json")) as f:
        expected = json.load(f)
    commit = git_commit()
    res["raw"].update(
        seed=args.seed, nproc=nproc, scale=args.scale, git_commit=commit,
        source_digest=None if commit else source_digest(), input_turns=expected["turns"],
        input_bytes=expected["input_bytes"], input_files=expected["input_files"],
    )
    with open(raw_path, "w") as f:
        json.dump(res["raw"], f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    raw = res["raw"]
    print("raw " + json.dumps({
        "file": os.path.relpath(raw_path, ROOT), "seed": args.seed, "nproc": nproc,
        "input_turns": expected["turns"], "input_bytes": expected["input_bytes"],
        "git_commit": raw["git_commit"], "source_digest": raw["source_digest"],
        "iteration_s": raw["iteration_s"], "steady_from": raw["steady_from"],
        "probe_s": raw["probe_s"], "host_speed": raw["host_speed"],
    }))
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
