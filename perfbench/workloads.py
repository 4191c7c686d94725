"""The benchmark's workloads: what one iteration runs and how it is checked.

Every workload reads the seed's transcript table (``lyra_spark.fixtures``
layout: ``transcripts/part_date=*/``, ``tools_dim.parquet``) and the answers
``run.py`` computed from it with pyarrow (``expected.json``). ``run`` is the
timed part; ``prepare`` and ``check`` are not timed.
"""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import statistics

from lyra_spark import checkpoint as ckpt
from lyra_spark import drift, fused, presets, stats
from lyra_spark import io as lio

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HISTORY_RECORDS = 10_000
RUN_ID = "bench"


def seed_manifest_history(checkpoint: str, expected: dict) -> None:
    """A checkpoint dir whose manifest already holds 10^4 completed records:
    older fake dates plus the first half of the table's real partitions, so
    the pending batch starts mid-window and every ``save_manifest`` rewrites
    a design-point-sized manifest. Built by the measured code's own
    ``Manifest`` and ruleset, once per run."""
    import datetime as dt

    ruleset = presets.transcript_ruleset()
    real = list(expected["partition_rows"].items())
    done_real = real[: len(real) // 2]
    m = ckpt.Manifest(run_id=RUN_ID)
    day0 = dt.date(1990, 1, 1)
    for i in range(HISTORY_RECORDS - len(done_real)):
        m.record(str(day0 + dt.timedelta(days=i)), ruleset, rows=3000 + i % 997,
                 violations=i % 13, wall_ms=1500.0 + i % 101)
    for pk, rows in done_real:
        m.record(pk, ruleset, rows=rows, violations=0, wall_ms=1500.0)
    ckpt.save_manifest(checkpoint, m)


class Workload:
    """One closed-loop workload; subclasses implement ``run``/``check``.

    ``iterations``: the fixed schedule of untraced iterations in a run.
    ``steady_from``: iterations before this index are warm-up and are not
    measured. Iteration 0 runs at 2.5-4x the warm wall on every recorded
    curve, and iteration 1 at 5-40% above the later ones."""

    name = ""
    iterations = 0
    steady_from = 2

    def __init__(self, fixture: str, work: str):
        self.fixture = fixture
        self.table = os.path.join(fixture, "transcripts")
        self.dim_path = os.path.join(fixture, "tools_dim.parquet")
        with open(os.path.join(fixture, "expected.json")) as f:
            self.expected = json.load(f)
        self.work = work
        self.spark = None

    def register(self, spark) -> None:
        """Inputs registered: the part of set-up after the session exists."""
        self.spark = spark
        self.tdf = lio.read_transcripts(spark, self.table)
        self.dim = spark.read.parquet(self.dim_path)

    def prepare(self, i: int) -> dict:
        d = os.path.join(self.work, f"iter-{i}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return {"i": i, "dir": d}

    def cleanup(self, ctx: dict) -> None:
        shutil.rmtree(ctx["dir"], ignore_errors=True)

    def partitions_per_iteration(self) -> int:
        raise NotImplementedError

    def turns_per_iteration(self) -> int:
        raise NotImplementedError

    def run(self, ctx: dict, tracer=None):
        raise NotImplementedError

    def check(self, ctx: dict, out) -> list[str]:
        raise NotImplementedError

    def trace_patches(self, tracer) -> None:
        raise NotImplementedError

    def layer_metrics(self, traced: int, steady: list[int], tracer) -> dict:
        """Workload-specific per-layer metrics: name -> (value, unit)."""
        return {
            "validate.partition_ms_p50": (0.0, "ms"),
            "validate.jobs_per_partition": (0.0, "count"),
            "validate.partition_share": (0.0, "ratio"),
            "checkpoint.manifest_bytes": (0.0, "bytes"),
        }


class CliPartitions(Workload):
    """``jobs/validate.py main(argv)`` in-process over a batch of pending
    partitions, with ``--out`` and ``--report``, from a fresh checkpoint dir
    seeded with a 10^4-record manifest history."""

    name = "cli_partitions"
    batch = 2
    # Iteration 1 runs up to 15% above iteration 2; it is measured all the
    # same. Its bias is the same in every run of the fixed schedule, and one
    # more 10-15 s iteration per run does not fit the run budget.
    iterations = 3
    steady_from = 1

    def __init__(self, fixture: str, work: str):
        super().__init__(fixture, work)
        self.history = os.path.join(work, "manifest_history")
        spec = importlib.util.spec_from_file_location("perfbench_validate", os.path.join(ROOT, "jobs", "validate.py"))
        self.validate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.validate)
        parts = list(self.expected["partition_rows"])
        self.batch_parts = parts[len(parts) // 2 :][: self.batch]
        self.partition_ms: dict[int, list[float]] = {}
        self.manifest_bytes: dict[int, int] = {}

    def partitions_per_iteration(self) -> int:
        return self.batch

    def turns_per_iteration(self) -> int:
        return sum(self.expected["partition_rows"][pk] for pk in self.batch_parts)

    def prepare(self, i: int) -> dict:
        if not os.path.exists(self.history):
            seed_manifest_history(self.history, self.expected)
        ctx = super().prepare(i)
        ctx["ckpt"] = os.path.join(ctx["dir"], "checkpoint")
        shutil.copytree(self.history, ctx["ckpt"])
        ctx["report"] = os.path.join(ctx["dir"], "report.json")
        ctx["argv"] = [
            "--table", self.table, "--tools-dim", self.dim_path,
            "--checkpoint", ctx["ckpt"], "--run-id", RUN_ID,
            "--out", os.path.join(ctx["dir"], "violations"), "--report", ctx["report"],
            "--limit-partitions", str(self.batch),
        ]
        return ctx

    def run(self, ctx: dict, tracer=None):
        if tracer is None:
            return self.validate.main(ctx["argv"])
        with tracer.span("validate.main"):
            return self.validate.main(ctx["argv"])

    def check(self, ctx: dict, out) -> list[str]:
        errs = []
        if out != 0:
            errs.append(f"validate.main returned {out}")
        with open(ctx["report"]) as f:
            rep = json.load(f)
        got = {p["partition"]: p["rows"] for p in rep["partitions"]}
        want = {pk: self.expected["partition_rows"][pk] for pk in self.batch_parts}
        if got != want:
            errs.append(f"report rows {got} != catalog counts {want}")
        errs += drift_errors(rep.get("drift_failing"), self.expected)
        m = ckpt.load_manifest(ctx["ckpt"], RUN_ID)
        if len(m.records) != HISTORY_RECORDS + self.batch:
            errs.append(f"manifest holds {len(m.records)} records, want {HISTORY_RECORDS + self.batch}")
        self.partition_ms[ctx["i"]] = [p["wall_ms"] for p in rep["partitions"]]
        self.manifest_bytes[ctx["i"]] = os.path.getsize(ckpt.manifest_path(ctx["ckpt"], RUN_ID))
        return errs

    def trace_patches(self, tracer) -> None:
        sc = self.spark.sparkContext
        seen: dict[int, int] = {}

        def partition_group(*_):
            k = seen[tracer.iteration] = seen.get(tracer.iteration, 0) + 1
            sc.setJobGroup(f"perfbench-part-{tracer.iteration}-{k}", "partition")

        def tail_group(*_):
            sc.setJobGroup(f"perfbench-tail-{tracer.iteration}", "drift tail")

        tracer.patch(lio, "partition_scope", "io.scan", force="noop", before=partition_group)
        patch_suite_layers(tracer)
        tracer.patch(ckpt, "save_manifest", "checkpoint.save_manifest",
                     after=lambda *_: tracer.count("checkpoint.save_manifest_calls", 1))
        tracer.patch(ckpt, "load_manifest", "checkpoint.load_manifest")
        tracer.patch(drift, "sketch_by_partition", "drift.sketch_by_partition", force="persist", before=tail_group)
        tracer.patch(drift, "drift_verdicts", "drift.drift_verdicts")

    def layer_metrics(self, traced: int, steady: list[int], tracer) -> dict:
        tracker = self.spark.sparkContext.statusTracker()
        jobs = [len(tracker.getJobIdsForGroup(f"perfbench-part-{traced}-{k}"))
                for k in range(1, self.batch + 1)]
        # per-partition section of the traced wall: from the first partition
        # scan to the start of the whole-table drift tail
        spans = [s for s in tracer.export() if s["iteration"] == traced]
        first = {}
        for s in spans:
            first.setdefault(s["name"], s)
        section = first["drift.sketch_by_partition"]["start_s"] - first["io.scan"]["start_s"]
        wall = first["bench.iteration"]["end_s"] - first["bench.iteration"]["start_s"]
        return {
            "validate.partition_ms_p50": (
                statistics.median(ms for i in steady for ms in self.partition_ms[i]), "ms"),
            "validate.jobs_per_partition": (statistics.median(jobs), "count"),
            "validate.partition_share": (section / wall, "ratio"),
            "checkpoint.manifest_bytes": (self.manifest_bytes[traced], "bytes"),
        }


class ProfileDrift(Workload):
    """Column stats, length histogram, HLL sketches and t-digest drift over
    the whole table: a read-only pass that crosses into Python workers."""

    name = "profile_drift"
    iterations = 4
    columns = ["conv_id", "role", "text", "tool", "turn_idx"]

    def partitions_per_iteration(self) -> int:
        return len(self.expected["partition_rows"])

    def turns_per_iteration(self) -> int:
        return self.expected["turns"]

    def run(self, ctx: dict, tracer=None):
        tdf = self.tdf
        if tracer is not None:
            with tracer.span("io.scan"):
                tracer.force_noop(tdf)
        cs = stats.column_stats(tdf, self.columns).collect()
        lh = stats.length_histogram(tdf, "text").collect()
        hl = stats.hll_sketches(tdf, ["conv_id"], partition_col=None).collect()
        dv = drift.drift_verdicts(drift.sketch_by_partition(tdf, "cast(length(text) as double)", "part_date"))
        return cs, lh, hl, dv

    def check(self, ctx: dict, out) -> list[str]:
        cs, lh, hl, dv = out
        exp = self.expected
        errs = []
        rows = {str(r["part_date"]): r["row_count"] for r in cs}
        if sum(rows.values()) != exp["turns"] or len(cs) != len(rows) * len(self.columns):
            errs.append(f"column_stats rows {sum(rows.values())} != input turns {exp['turns']}")
        hist = sum(r["count"] for r in lh)
        if hist != exp["text_non_null"]:
            errs.append(f"length_histogram total {hist} != non-null texts {exp['text_non_null']}")
        est, true = hl[0]["estimate"], exp["distinct_conv_ids"]
        if abs(est - true) > 0.06 * true:
            errs.append(f"hll conv_id estimate {est:.0f} not within 6% of {true}")
        errs += drift_errors([str(k) for k in dv.loc[~dv["pass"], "part_key"]], exp)
        return errs

    def trace_patches(self, tracer) -> None:
        for fn in ("column_stats", "length_histogram", "hll_sketches"):
            tracer.patch(stats, fn, f"stats.{fn}", force="persist")
        tracer.patch(drift, "sketch_by_partition", "drift.sketch_by_partition", force="persist")
        tracer.patch(drift, "drift_verdicts", "drift.drift_verdicts")


def drift_errors(failing: list[str] | None, expected: dict) -> list[str]:
    """The drifted date must fail; any other failing partition must be one
    whose exact KS or PSI sits at a gate (``run.drift_may_fail``)."""
    failing = set(failing or [])
    if expected["drift_date"] not in failing or not failing <= set(expected["drift_may_fail"]):
        return [f"drift failing {sorted(failing)}: must hold {expected['drift_date']} "
                f"and stay within {expected['drift_may_fail']}"]
    return []


def patch_suite_layers(tracer) -> None:
    """Spans over the validation suite: the fused plan (dim collect included),
    the row-rule and conv-exchange passes each forced alone, the violation
    sink and the metadata verdict roll-up."""
    tracer.patch(fused, "validate_transcripts_fused", "fused.plan")
    # fused calls engine.row_violations through the name it imported
    tracer.patch(fused, "row_violations", "engine.row_violations", force="persist")
    tracer.patch(fused, "conv_scoped_violations", "fused.conv_scoped_violations", force="persist")
    tracer.patch(lio, "write_violations", "io.write_violations", after=sink_counters(tracer))
    tracer.patch(presets, "verdicts_from_metadata", "presets.verdicts_from_metadata", force="persist")


def sink_counters(tracer):
    def after(_, args, kwargs):
        import pyarrow.parquet as pq

        out_dir = kwargs.get("out_dir", args[1] if len(args) > 1 else None)
        for d, _, files in os.walk(out_dir):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(d, f)
                    tracer.count("io.sink_files", 1)
                    tracer.count("io.sink_bytes", os.path.getsize(p))
                    tracer.count("io.sink_rows", pq.read_metadata(p).num_rows)

    return after


WORKLOADS = {w.name: w for w in (CliPartitions, ProfileDrift)}
