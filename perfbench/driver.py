"""One benchmark driver process: set-up, a fixed schedule of iterations, traced run.

Started by ``run.py`` (see there for the command line); writes
``{"result": ..., "raw": ...}`` to ``--result``.

Schedule, all in this process at ``local[nproc]`` on one driver thread:

1. Set-up: session (``lyra_spark.session.get_spark``) and inputs registered.
   Its wall from the spawn of this process (Python imports, JVM launch with
   the heap the program pre-touches, ``get_spark``, input footers) is the
   measured set-up time.
2. ``Workload.iterations`` iterations back to back. Iterations before
   ``Workload.steady_from`` are warm-up. A fixed count, not a time window,
   puts the measured iterations at the same point of the JIT warm-up curve
   on a fast host and on a slow one. Further iterations run only while the
   measured window is shorter than ``--seconds``.
3. The host probe (``host_probe``) runs, untimed, before the first
   iteration and after each one. The end-to-end metrics are
   normalised by the run's median probe to the reference host speed
   ``PROBE_REF_S``; the measured values stay in the raw record.
4. With ``--trace 1``: one more iteration with spans installed
   (``tracing.py``); the per-layer metrics come from it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

from lyra_spark.session import get_spark  # noqa: E402

import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

# Host probe: a fixed task that uses no lyra_spark code. A JVM parallel sort
# of SORT_N random longs (all cores, memory-bound) plus LOOP_N steps of a
# Python loop in this process (interpreter-bound).
SORT_N = 6_000_000
LOOP_N = 4_000_000
# A typical median probe wall on the 4-vCPU x86-64 host the bounds were set on;
# the end-to-end metrics are stated at this host speed.
PROBE_REF_S = 0.6

# Per-layer metrics (with --trace 1); BENCHMARK.json lists the same names. A
# layer that a workload never calls reads 0 there.
SPAN_METRICS = [
    "io.scan", "engine.row_violations", "fused.conv_scoped_violations", "fused.plan",
    "io.write_violations", "presets.verdicts_from_metadata", "checkpoint.save_manifest",
    "checkpoint.load_manifest", "drift.sketch_by_partition", "drift.drift_verdicts",
    "stats.column_stats", "stats.length_histogram", "stats.hll_sketches",
]
COUNTERS = {
    "io.sink_rows": "count", "io.sink_files": "count", "io.sink_bytes": "bytes",
    "checkpoint.save_manifest_calls": "count",
}


def host_probe(jvm) -> float:
    arr = jvm.java.util.Random(7).longs(SORT_N).toArray()
    t0 = time.perf_counter()
    jvm.java.util.Arrays.parallelSort(arr)
    s = 0
    for i in range(LOOP_N):
        s += i * i
    return time.perf_counter() - t0


def jvm_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--nproc", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--spawned-at", type=float, required=True)
    ap.add_argument("--deadline", type=float, required=True, help="seconds left for this process")
    args = ap.parse_args()
    t_begin = time.monotonic()
    # leave room for the traced iteration, the final checks and teardown
    stop_by = t_begin + args.deadline - (45.0 if args.trace else 15.0)

    wl = WORKLOADS[args.workload](args.fixture, args.work)
    t0 = time.perf_counter()
    spark = get_spark(
        master=f"local[{args.nproc}]", shuffle_partitions=args.nproc, app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    get_spark_s = time.perf_counter() - t0
    wl.register(spark)
    setup_s = time.time() - args.spawned_at
    # JIT-compiles the probe's sort before the first probe is taken
    spark._jvm.java.util.Arrays.parallelSort(spark._jvm.java.util.Random(7).longs(SORT_N).toArray())

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    iterations: list[dict] = []
    probes: list[float] = []

    def iterate(tracer=None) -> dict:
        i = len(iterations)
        ctx = wl.prepare(i)
        group = f"perfbench-iter-{i}"
        sc.setJobGroup(group, group)
        kind = "traced" if tracer else ("warm-up" if i < wl.steady_from else "steady")
        rec = {"i": i, "kind": kind, "errors": []}
        cpu0 = jvm_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = wl.run(ctx)
            else:
                tracer.iteration = i
                with tracer.span("bench.iteration"):
                    out = wl.run(ctx, tracer)
        except Exception:
            out = None
            rec["errors"].append(traceback.format_exc(limit=8))
        rec["wall_s"] = time.perf_counter() - t0
        rec["jvm_cpu_s"] = jvm_cpu_s(jvm_pid) - cpu0
        rec["jobs"] = len(tracker.getJobIdsForGroup(group))
        if not rec["errors"]:
            try:
                rec["errors"] += wl.check(ctx, out)
            except Exception:
                rec["errors"].append(traceback.format_exc(limit=8))
        if tracer is not None:
            tracer.unpersist_all()
        wl.cleanup(ctx)
        iterations.append(rec)
        print(f"iteration {i} {kind} {rec['wall_s']:.3f}s errors={len(rec['errors'])}", flush=True)
        return rec

    probes.append(host_probe(spark._jvm))
    while len(iterations) < wl.steady_from:
        iterate()
        probes.append(host_probe(spark._jvm))
    window_t0 = time.monotonic()
    while True:
        n_steady = len(iterations) - wl.steady_from
        now = time.monotonic()
        if n_steady >= wl.iterations - wl.steady_from and now - window_t0 >= args.seconds:
            break
        if n_steady >= 1 and now + iterations[-1]["wall_s"] > stop_by:
            break
        iterate()
        probes.append(host_probe(spark._jvm))
    steady = iterations[wl.steady_from:]
    steady_walls = [r["wall_s"] for r in steady]
    median_wall = statistics.median(steady_walls)
    probe_s = statistics.median(probes)
    speed = PROBE_REF_S / probe_s

    raw: dict = {
        "workload": wl.name,
        "steady_from": wl.steady_from,
        "setup_measured_s": setup_s,
        "get_spark_s": get_spark_s,
        "probe_s": probes,
        "host_speed": speed,
        "steady_median_s": median_wall,
        "partitions_per_iteration": wl.partitions_per_iteration(),
        "turns_per_iteration": wl.turns_per_iteration(),
        "partitions_per_s_measured": wl.partitions_per_iteration() / median_wall,
        "turns_per_s_measured": wl.turns_per_iteration() / median_wall,
        "jvm_peak_rss_mb": jvm_peak_rss_mb(jvm_pid),
    }

    if args.trace:
        tracer = tracing.Tracer(spark)
        wl.trace_patches(tracer)
        traced = iterate(tracer)
        tracer.restore()
        selfs = tracer.self_times(traced["i"])
        counts = tracer.counters_for(traced["i"])
        m = {f"{n}_s": (selfs.get(n, 0.0), "s") for n in SPAN_METRICS}
        m.update({n: (counts.get(n, 0.0), u) for n, u in COUNTERS.items()})
        m["validate.self_s"] = (selfs.get("validate.main", 0.0), "s")
        m.update(wl.layer_metrics(traced["i"], [r["i"] for r in steady], tracer))
        m["session.get_spark_s"] = (get_spark_s, "s")
        m["setup.cold_process_s"] = (setup_s, "s")
        m["cold_s"] = (iterations[0]["wall_s"], "s")
        m["spark.jobs"] = (statistics.median(r["jobs"] for r in steady), "count")
        m["host.cpu_util"] = (
            sum(r["jvm_cpu_s"] for r in steady) / (sum(steady_walls) * args.nproc), "ratio")
        m["host.jvm_peak_rss_mb"] = (jvm_peak_rss_mb(jvm_pid), "MB")
        m["host.probe_s"] = (probe_s, "s")
        m["trace.overhead_s"] = (traced["wall_s"] - median_wall, "s")
        result_metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        raw["spans"] = tracer.export()
        raw["per_layer"] = result_metrics
    else:
        result_metrics = {
            "setup_s": {"value": setup_s * speed, "unit": "s"},
            "partitions_per_s": {
                "value": wl.partitions_per_iteration() / (median_wall * speed), "unit": "partitions/s"},
        }

    raw["iterations"] = iterations
    raw["iteration_s"] = [round(r["wall_s"], 4) for r in iterations]
    failed = sum(1 for r in iterations if r["errors"])
    out = {
        "result": {
            "correct": failed == 0,
            "attempted": len(iterations),
            "failed": failed,
            "metrics": result_metrics,
        },
        "raw": raw,
    }
    with open(args.result, "w") as f:
        json.dump(out, f)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
