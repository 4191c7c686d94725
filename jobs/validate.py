"""CLI batch validation run (SURVEY.md §3 entry point 2).

    spark-submit --py-files dist/lyra_spark.zip jobs/validate.py \
        --table <parquet dir | iceberg:catalog.table> \
        --tools-dim <parquet> --checkpoint <dir> --run-id <id> \
        [--out <violations dir>] [--limit-partitions N] [--drift-col "length(text)"]

Pending partitions go in batches of up to the session's default
parallelism (enough partitions to keep every task slot busy; a crash loses
at most one batch). Per batch: one scoped scan (partition-pruned) → one full
suite pass, each conversation checked within its own partition → the batch's
partition dirs of every output replaced → one manifest save, recording each
partition with lineage and the batch wall split evenly. Resume: re-run with
the same --run-id skips completed partitions whose rule fingerprint matches.
A whole-table drift pass merges per-partition KLL sketches tree-wise.

Two pieces read nothing the batch loop computes, so they run beside it on
two side threads, in the run's job group: the tools-dim load (read, and
the referential rule compiled from it) from the moment the ruleset is
known, and the drift pass's jobs from the moment the table read and the
pending list are final. Their jobs run while the driver plans the batches;
their results are taken where the loop needs the dim and where the drift
tail reports, so the output and its order are the same as a sequential
run's. Every lyra_spark entry point the run calls (the drift pass's
sketch_by_partition and drift_verdicts included) runs on the calling
thread; the side threads run only Spark actions and file reads. The side
jobs go to their own fair-scheduler pool, so a long drift scan shares the
executors with the batches instead of holding them, and a failed run
cancels them instead of waiting for them.
"""

from __future__ import annotations

import argparse
import sys
import time
import os
import uuid
from concurrent.futures import Future, ThreadPoolExecutor, wait

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lyra_spark import checkpoint as ckpt
from lyra_spark import io as lio
from lyra_spark import presets
from lyra_spark.session import GroupJobs, codegen_compiles, get_spark, group_job_ids
from pyspark.errors import AnalysisException
from pyspark.util import inheritable_thread_target


# The fair-scheduler pool of the side tasks' jobs (fair scheduling is on in
# get_spark's sessions; under FIFO the pool is ignored).
SIDE_POOL = "lyra_side"

# The transcript role grammar: every (prev → cur) pair a well-formed
# conversation can contain (system opens; user/assistant alternate; tool
# turns answer an assistant tool call or chain; user may follow a tool
# result). Overridable via --allowed-transitions.
DEFAULT_TRANSITIONS = {
    ("system", "user"),
    ("user", "assistant"),
    ("assistant", "user"),
    ("assistant", "tool"),
    ("tool", "assistant"),
    ("tool", "user"),
    ("tool", "tool"),
    ("user", "tool"),
}


def main(argv: list[str] | None = None, catalog: "lio.TableCatalog | None" = None) -> int:
    # ``catalog``: inject a TableCatalog (metadata interface) — tests drive
    # the Iceberg seam with a fake; None resolves from the table URI
    # (parquet footers locally, Iceberg metadata tables for iceberg: URIs).
    ap = argparse.ArgumentParser()
    ap.add_argument("--table", required=True)
    ap.add_argument("--tools-dim", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--run-id", required=True)
    ap.add_argument("--out", default=None, help="violations output dir (parquet)")
    ap.add_argument("--verdicts-out", default=None,
                    help="per-partition verdict parquet dir (default <checkpoint>/<run-id>/verdicts)")
    ap.add_argument("--master", default=None)
    ap.add_argument("--drift-col", default="cast(length(text) as double)")
    ap.add_argument("--reference", default=None,
                    help="saved drift baseline (from --save-reference); default: this run's global sketch")
    ap.add_argument("--save-reference", default=None,
                    help="persist this run's global drift sketch here (tomorrow's --reference)")
    ap.add_argument("--limit-partitions", type=int, default=None, help="validate at most N pending partitions")
    ap.add_argument("--hll-cols", default=None,
                    help="comma-separated columns: persist per-partition DataSketches HLL "
                         "blobs next to the verdicts; the global distinct estimate then "
                         "merges STORED blobs (completed partitions are never rescanned)")
    ap.add_argument("--check-transitions", action="store_true",
                    help="also run the sequence-structure check: each (prev_role → "
                         "role) pair per conversation must be in the allowed grammar "
                         "(default: the standard transcript grammar; see "
                         "--allowed-transitions). Violations merge into the sink and "
                         "the verdict grid under rule_id=role_transition")
    ap.add_argument("--check-placement", action="store_true",
                    help="also run the partition-placement check: date(ts) must equal "
                         "the row's part_date (a misplaced row silently escapes every "
                         "partition-pruned query — including this loop's own scoped "
                         "scans). Map-only on the scan; violations merge into the sink "
                         "and the verdict grid under rule_id=partition_placement")
    ap.add_argument("--allowed-transitions", default=None,
                    help="comma-separated prev>cur pairs overriding the default "
                         "grammar, e.g. 'system>user,user>assistant'")
    ap.add_argument("--clean-out", default=None,
                    help="also write the VALIDATED table (rows failing no rule) per "
                         "partition — the quarantine complement. Row rules (incl. the "
                         "inlined referential check) filter map-only on the scan; rows "
                         "keyed by uniqueness/monotone violations are subtracted via a "
                         "broadcast anti-join against the (tiny) violation set, so the "
                         "clean side never shuffles")
    ap.add_argument("--quarantine-out", default=None,
                    help="also write the FULL ROWS that failed any rule (row "
                         "rules, inlined referential, and the keyed dataset "
                         "checks) per partition — the triage complement of "
                         "--clean-out: the violation sink records keys + "
                         "rule + observed value, this records the whole row. "
                         "clean + quarantine partition the table exactly")
    ap.add_argument("--check-schema", action="store_true",
                    help="preflight: fail fast (before ANY scan) unless the table's "
                         "schema conforms to the mandated transcript schema — missing "
                         "columns, type changes, and tightened nullability block; "
                         "extra columns are reported but never block")
    ap.add_argument("--snapshot-id", default=None,
                    help="table snapshot / read-version this run validates (Iceberg "
                         "snapshot id in prod); recorded per partition in the manifest "
                         "for lineage")
    ap.add_argument("--rules", default=None,
                    help="JSON ruleset config (lyra_spark.rules.ruleset_from_json "
                         "format) replacing the built-in transcript preset — rules "
                         "ship as reviewed config, not code changes. Fingerprints "
                         "match the equivalent code-built ruleset, so moving rules "
                         "to config does not invalidate existing checkpoints")
    ap.add_argument("--metric-rules", default=None,
                    help="JSON metric-rule config (lyra_spark.metrics."
                         "metric_rules_from_json format): aggregate bounds — "
                         "mean/sum/min/max/stddev/completeness/distinct/size — "
                         "checked per partition in ONE extra scan regardless of "
                         "rule count; verdicts land in "
                         "<checkpoint>/<run-id>/metric_verdicts and failing "
                         "partitions are reported")
    ap.add_argument("--metric-history", default=None,
                    help="metrics store dir (Deequ MetricsRepository): append "
                         "this run's metric grid under run=<run-id>/ and flag "
                         "(partition, rule) pairs whose value deviates from "
                         "the SAME partition+rule's trailing mean over "
                         "previous runs — the reprocessing-regression check. "
                         "Requires --metric-rules; use sortable run ids "
                         "(dates), since runs order lexically")
    ap.add_argument("--report", default=None,
                    help="write a machine-readable JSON run report here: "
                         "per-partition rows/violations/wall, failing metric "
                         "rules + anomalies, drift and freshness failures, "
                         "HLL estimates, generated classes compiled, Spark "
                         "jobs run — the "
                         "CI-consumption summary of everything this run printed")
    ap.add_argument("--freshness-hours", type=float, default=None,
                    help="also report per-partition freshness: lag of max(ts) behind "
                         "the freshest partition, stale when above this many hours. "
                         "Metadata-only (parquet footer / Iceberg manifest ts bounds "
                         "— zero data files read); falls back to one MAX aggregate "
                         "when the layout lacks footer statistics")
    ap.add_argument("--revalidate-changed", action="store_true",
                    help="re-validate COMPLETED partitions whose metadata row count "
                         "(or snapshot id, when both sides carry one) no longer "
                         "matches the manifest — the late-arriving-data half of "
                         "resume; detection is metadata-only, zero data files read")
    args = ap.parse_args(argv)
    if args.metric_history and not args.metric_rules:
        raise SystemExit("--metric-history requires --metric-rules (there is no "
                         "metric grid to store without declared metric rules)")

    spark = get_spark(master=args.master, app_name=f"lyra_validate_{args.run_id}")
    # Every job of the run goes to one job group, which --report counts: the
    # caller's group when it has set one (its own count then still covers
    # the run), else the run's own, cleared on return.
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    own = not group
    if own:
        group = f"lyra_validate_{args.run_id}"
        sc.setJobGroup(group, f"lyra validate {args.run_id}")
    # The side tasks (module docstring) run on a pool opened as a with
    # block: leaving it waits for them, on a raise too, so no side thread
    # outlives the run. A raise first cancels their jobs, by a tag of the
    # run's own (the group may be the caller's), rather than waiting out a
    # whole-table scan.
    tag = f"lyra_side_{uuid.uuid4().hex}"
    tasks: list[Future] = []
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:

            def side(label: str, fn, *fn_args) -> Future:
                def task():
                    # this thread's jobs only: the run's tag, the side pool
                    # (under fair scheduling the batch jobs do not queue
                    # behind a side scan) and a label for the UI and event
                    # log (PySpark names each action's call site after the
                    # first frame outside pyspark: here the pool's worker)
                    sc.addJobTag(tag)
                    sc.setLocalProperty("spark.scheduler.pool", SIDE_POOL)
                    sc.setJobDescription(f"lyra validate {args.run_id}: {label}")
                    return fn(*fn_args)

                # wrapped here, after the job group is set: the thread starts
                # from a copy of this thread's local properties, so its jobs
                # land in the run's group (--report counts them)
                tasks.append(pool.submit(inheritable_thread_target(spark)(task)))
                return tasks[-1]

            try:
                return _validate(spark, args, catalog, group, side)
            except BaseException:
                # cancel until done: a side job may start after a cancel
                while not all(t.done() for t in tasks):
                    sc.cancelJobsWithTag(tag)
                    wait(tasks, timeout=0.1)
                raise
    finally:
        if own:
            sc._jsc.clearJobGroup()


def _load_dim(spark, tools_dim: str, ruleset):
    """The tools dim and the suite's ruleset: the config ruleset plus the
    referential rule compiled once from the collected dim, unless the
    ruleset carries its own (then the dim is only read)."""
    from lyra_spark.fused import with_referential_rule

    dim = spark.read.parquet(tools_dim)
    return dim, with_referential_rule(ruleset, dim)


def _drift_quantiles(sk, reference: str | None):
    """The jobs of the drift pass: the saved reference (None when there is
    none) and the drift_quantiles of the sketches against it."""
    from lyra_spark.drift import drift_quantiles, load_reference

    ref = load_reference(reference) if reference else None
    return ref, drift_quantiles(sk, ref)


def _validate(spark, args: argparse.Namespace, catalog: "lio.TableCatalog | None", group: str,
              side) -> int:
    jobs = GroupJobs(lambda: group_job_ids(spark, group))
    compiles0 = codegen_compiles(spark)
    batch_size = spark.sparkContext.defaultParallelism
    # Shuffle partitions sized by DATA, not core count: each batch shuffles
    # its dates' rows on conv_id, so the right granularity is ~100 MB of the
    # batch's input per shuffle partition (at 10^12 turns a date is ~100s of
    # GB → thousands of partitions regardless of cores; cores-sized shuffling
    # would hand every sort task whole dates and spill). AQE coalesces any
    # excess at runtime; Iceberg URIs keep the session default (manifests
    # carry the sizes in prod).
    if os.path.isdir(args.table):
        import glob as _glob

        files = _glob.glob(os.path.join(args.table, "*", "*.parquet"))
        if files:
            per_date = sum(os.path.getsize(f) for f in files) // len({os.path.dirname(f) for f in files})
            shuf = max(os.cpu_count() or 8, per_date * batch_size // (100 << 20) + 1)
            spark.conf.set("spark.sql.shuffle.partitions", str(shuf))
    cfg_checks: list = []
    if args.rules:
        from lyra_spark.rules import suite_config_from_json

        ruleset, cfg_checks = suite_config_from_json(args.rules)
        print(f"[lyra] rules: {len(ruleset.rules)} loaded from {args.rules} "
              f"(fingerprint {ruleset.fingerprint()}, "
              f"{len(cfg_checks)} declared dataset check(s))")
    else:
        ruleset = presets.transcript_ruleset()
    # The dim load starts after the shuffle sizing above (its distinct
    # collect shuffles) and overlaps the table read, the footer walk and the
    # manifest load.
    dim_task = side("tools-dim load", _load_dim, spark, args.tools_dim, ruleset)
    df = lio.read_transcripts(spark, args.table)
    if args.check_schema:
        from lyra_spark.schema import TRANSCRIPTS_SCHEMA, assert_schema, schema_diff

        for d in schema_diff(df.schema, TRANSCRIPTS_SCHEMA):
            print(f"[lyra] schema: {d['column']} {d['status']} "
                  f"(expected {d['expected_type']}, got {d['actual_type']})")
        assert_schema(df.schema, TRANSCRIPTS_SCHEMA)
    hll_cols = [c.strip() for c in args.hll_cols.split(",") if c.strip()] if args.hll_cols else []
    # Per-partition row counts from table metadata (parquet footers locally,
    # Iceberg manifests in prod — one TableCatalog interface either way):
    # computed once, reused by every --out verdict roll-up below so the loop
    # never rescans a batch just to count it.
    if catalog is None:
        catalog = lio.catalog_for(spark, args.table, schema=df.schema)
    meta_counts = catalog.partition_record_counts()
    # snapshot lineage: an explicit --snapshot-id wins; otherwise the catalog
    # supplies it (Iceberg: current snapshot; parquet stand-in: None)
    snapshot_id = args.snapshot_id if args.snapshot_id is not None else catalog.snapshot_id()

    manifest = ckpt.load_manifest(args.checkpoint, args.run_id)
    # Partition listing: catalog metadata when it serves one (Iceberg's
    # .partitions; the parquet stand-in's footer walk above, no Spark job),
    # else the pruned distinct scan.
    all_parts = catalog.partitions() or lio.list_partitions(spark, df)
    pending = manifest.pending(all_parts, ruleset)
    n_done = len(all_parts) - len(pending)
    if args.revalidate_changed:
        # late-arriving-data resume: completed partitions whose metadata row
        # count (or snapshot id) moved since validation rejoin the queue —
        # a metadata-only comparison, zero data files read
        if meta_counts is None:
            print("[lyra] WARNING: --revalidate-changed needs metadata counts; "
                  "table layout does not expose them — skipping change detection")
        else:
            changed = manifest.changed(ruleset, meta_counts, snapshot_id)
            if changed:
                print(f"[lyra] revalidate-changed: {len(changed)} completed "
                      f"partition(s) changed since validation: {sorted(changed)[:5]}")
                # the session's file-listing caches may predate the new files
                # (metadata counts read footers straight from storage, the
                # scan does not), and the ALREADY-BUILT DataFrame pins its own
                # file index from read time — refresh the path AND re-read,
                # so the re-validation actually sees the late rows in a
                # long-running driver
                spark.catalog.refreshByPath(args.table)
                df = lio.read_transcripts(spark, args.table)
                # changed partitions go FIRST: their manifest rows are known
                # stale, and --limit-partitions must not truncate them off the
                # end behind never-validated ones
                pending = sorted(changed) + pending
                n_done -= len(changed)
    if args.limit_partitions is not None:
        if args.limit_partitions < 0:
            raise SystemExit("--limit-partitions must be >= 0")
        pending = pending[: args.limit_partitions]
    print(f"[lyra] partitions total={len(all_parts)} completed={n_done} this_run={len(pending)}")
    report: dict = {
        "run_id": args.run_id,
        "table": args.table,
        "ruleset_fingerprint": ruleset.fingerprint(),
        "partitions_total": len(all_parts),
        "partitions_completed_before": n_done,
        "partitions_this_run": len(pending),
        "partitions": [],
    }

    verdicts_out = args.verdicts_out or os.path.join(args.checkpoint, args.run_id, "verdicts")
    hll_out = os.path.join(args.checkpoint, args.run_id, "hll")
    transitions = DEFAULT_TRANSITIONS
    if args.allowed_transitions:
        # accept both 'a>b' and the 'a->b' notation the violation output
        # itself prints; a malformed entry must FAIL, not silently become a
        # grammar that flags every legitimate transition
        transitions = set()
        for pair in args.allowed_transitions.split(","):
            pair = pair.strip()
            if not pair:
                continue
            sep = "->" if "->" in pair else ">"
            parts = tuple(x.strip() for x in pair.split(sep, 1))
            if len(parts) != 2 or not parts[0] or not parts[1]:
                raise SystemExit(
                    f"--allowed-transitions: malformed pair {pair!r} (want prev>cur)"
                )
            transitions.add(parts)
        if not transitions:
            raise SystemExit("--allowed-transitions: no pairs parsed")
    # declared dataset checks (suite config object form) are the config
    # equivalent of the flags — they switch the same code paths on, and the
    # transitions variant additionally carries the first-turn constraint the
    # flag surface lacks
    allowed_first = None
    placement_ts = "ts"
    for chk in cfg_checks:
        if chk["check"] == "transitions":
            args.check_transitions = True
            transitions = chk["allowed"]
            allowed_first = chk["allowed_first"]
        elif chk["check"] == "placement":
            args.check_placement = True
            placement_ts = chk["ts_col"]

    from lyra_spark.drift import drift_verdicts, save_reference, sketch_by_partition
    from lyra_spark.engine import (
        clean_rows,
        compute_verdicts,
        quarantine_rows,
        ruleset_severities,
        ruleset_tolerances,
        verdict_gate,
    )
    from lyra_spark import fused

    # Referential rule compiled ONCE per run (the dim task collects the tiny
    # dim): the suite reuses it instead of re-collecting per batch. Manifest
    # fingerprints stay the config ruleset's. Taken before the drift pass is
    # submitted, so a bad --tools-dim fails before any scan of the table.
    dim, suite_rules = dim_task.result()
    rule_ids = fused.suite_rule_ids(suite_rules, args.check_transitions, args.check_placement)
    row_rule_ids = {r.rule_id for r in suite_rules.checks}
    ds_rule_ids = [rid for rid in rule_ids if rid not in row_rule_ids]
    severities, tolerances = ruleset_severities(suite_rules), ruleset_tolerances(suite_rules)

    # df and pending are final: the whole-table drift pass (per-partition
    # KLL sketches merged tree-wise against the saved reference, or against
    # this run's global sketch when there is none) is planned here, on this
    # thread like every other lyra entry point, and its jobs run beside the
    # batch loop. A plan error (a bad --drift-col) is raised where the drift
    # tail reports, after the batches are saved, as in a sequential run.
    try:
        drift_sk = sketch_by_partition(df, args.drift_col, "part_date")
    except AnalysisException as e:
        drift_task = Future()
        drift_task.set_exception(e)
    else:
        if args.save_reference:
            # one row per partition, kept for save_reference
            drift_sk = drift_sk.persist()
        drift_task = side("drift pass", _drift_quantiles, drift_sk, args.reference)

    # Every output keeps one dir per partition, <dir>/part=<pk>/. A batch
    # first deletes its own keys' dirs in every output, then appends its rows
    # partitioned by the `part` key column (lio.partition_key) — so a
    # re-validated partition that comes out clean keeps no stale files, and
    # other partitions' dirs are never touched.
    from pyspark.sql import functions as F

    part_key = lio.partition_key()
    outputs = [d for d in (args.out, verdicts_out, args.clean_out, args.quarantine_out,
                           hll_out if hll_cols else None) if d]

    def empty(schema):
        # no partitions, so no task and no Python worker
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)

    def write_parts(frame, out_dir: str, batch: list[str]) -> None:
        frame.write.mode("append").partitionBy("part").parquet(out_dir)
        # a key without rows still gets its dir, holding one empty file that
        # carries the schema, so every batch partition's output reads back
        for uri, exists in lio.partition_dirs(spark, out_dir, batch, "part"):
            if not exists:
                empty(frame.drop("part").schema).write.parquet(uri)

    # Action budget per BATCH: the violation sink write (the one full compute
    # of the pipeline) when --out is given, which also observes the batch's
    # violation counts; the verdict grid's collect (row and violation counts
    # come from the collected grid, never from a rescan or a sink re-read);
    # the no-scan verdict write from those local rows; and the optional
    # clean/quarantine/HLL writes. The drift pass's jobs (and, early on, the
    # dim load's) run beside the loop on the side threads, not in it.
    for start in range(0, len(pending), batch_size):
        batch = pending[start : start + batch_size]
        t0 = time.perf_counter()
        for d in outputs:
            lio.delete_partition_dirs(spark, d, batch, "part")
        scoped = lio.partition_scope(df, batch)
        # transitions fuse into the suite's single conv exchange and placement
        # into its row-rule scan; conversations are checked per partition so
        # a partition's result never depends on its batch mates. Looked up
        # on the module at call time, so a wrapper patched onto it applies.
        viol = fused.validate_transcripts_fused(
            scoped, dim, suite_rules,
            transitions=transitions if args.check_transitions else None,
            allowed_first=allowed_first,
            placement_ts=placement_ts if args.check_placement else None,
            convs_per_partition=True,
        ).violations
        counted = viol
        if args.out:
            # write-then-reuse: violations compute once into the sink, and the
            # write itself observes one count per (partition, rule) cell, so
            # the roll-up neither recomputes nor re-reads the sink
            observed = lio.write_violations(
                viol.withColumn("part", part_key), args.out, partition_col=["part", "part_date"],
                mode="append", observe=presets.violation_count_aggs(batch, rule_ids, "part_date", "part"),
            )
            counted = presets.counted_violations(spark, batch, rule_ids, "part_date", observed)
            if args.clean_out or args.quarantine_out:
                # a clean partition gets no sink dir: read only the dirs
                # written (explicit schema), or an empty frame when the batch
                # is clean
                written = [uri for uri, exists in lio.partition_dirs(spark, args.out, batch, "part") if exists]
                viol = (spark.read.schema(viol.schema).option("basePath", args.out).parquet(*written)
                        if written else empty(viol.schema))
        if meta_counts is not None and all(pk in meta_counts for pk in batch):
            # row counts from table metadata — no rescan of the batch
            verd = presets.verdicts_from_metadata(
                scoped, counted, rule_ids, "part_date", {pk: meta_counts[pk] for pk in batch},
                severities=severities, tolerances=tolerances,
            )
        else:
            verd = compute_verdicts(scoped, counted, rule_ids, "part_date",
                                    severities=severities, tolerances=tolerances)
        if args.clean_out or args.quarantine_out:
            # Row rules (the inlined referential check included) filter
            # map-only on the scan; rows keyed by dataset-check violations —
            # from the written sink when there is one, else recomputed from
            # the suite's violation frame — are marked via a broadcast join on
            # (conv_id, turn_idx, part), so the batch never shuffles. Both
            # outputs filter the same marked frame on the same fail
            # condition, one negated: complements by construction.
            ds_keys = (
                viol.filter(F.col("rule_id").isin(*ds_rule_ids))
                .select("conv_id", "turn_idx", part_key.alias("part"))
                .distinct()
                .withColumn("__ds_fail", F.lit(True))
            )
            marked = scoped.withColumn("part", part_key).join(
                F.broadcast(ds_keys), ["conv_id", "turn_idx", "part"], "left"
            )
            ds_fail = [F.col("__ds_fail")]
            if args.clean_out:
                clean = clean_rows(marked, suite_rules, extra_fail=ds_fail)
                write_parts(clean.drop("__ds_fail"), args.clean_out, batch)
            if args.quarantine_out:
                quar = quarantine_rows(marked, suite_rules, extra_fail=ds_fail)
                write_parts(quar.drop("__ds_fail"), args.quarantine_out, batch)
        if hll_cols:
            from lyra_spark.stats import hll_sketches

            sk = hll_sketches(scoped.withColumn("part", part_key), hll_cols, partition_col="part")
            write_parts(sk.coalesce(1), hll_out, batch)
        vrows = verd.collect()
        # pandas in, Arrow across: createDataFrame(list-of-Rows) would become a
        # pickled RDD whose single task launches a Python worker just to
        # unpickle ~|rules| x |batch| rows. The pandas path is a driver-side
        # Arrow conversion into a pure-JVM LocalRelation.
        import pandas as pd

        vp = pd.DataFrame([r.asDict() for r in vrows], columns=verd.columns)
        local = spark.createDataFrame(vp, schema=verd.schema).withColumn("part", part_key)
        write_parts(local.coalesce(1), verdicts_out, batch)
        wall_ms = (time.perf_counter() - t0) * 1000 / len(batch)
        by_part: dict[str, list] = {pk: [] for pk in batch}
        for r in vrows:
            by_part.setdefault(str(r["part_date"]), []).append(r)
        for pk in batch:
            rows = by_part[pk]
            n_rows = max((r["row_count"] for r in rows), default=0)
            n_viol = sum(r["violation_count"] for r in rows)
            manifest.record(pk, ruleset, rows=n_rows, violations=n_viol, wall_ms=wall_ms,
                            snapshot_id=snapshot_id)
            # `pass` is the partition's ACTUAL gate (tolerance- and
            # severity-aware), not violations == 0 — a within-tolerance
            # partition reports its raw counts AND pass=true, like the grid
            report["partitions"].append(
                {"partition": str(pk), "rows": n_rows, "violations": n_viol,
                 "wall_ms": round(wall_ms, 1), "pass": verdict_gate(rows)}
            )
            print(f"[lyra] partition={pk} rows={n_rows} violations={n_viol} wall_ms={wall_ms:.0f}")
        # recorded only after every output of the batch is written
        ckpt.save_manifest(args.checkpoint, manifest)
        jobs.poll()

    if hll_cols:
        # Global distinct estimates from the STORED blobs — covers completed
        # partitions from earlier runs with ZERO partition rescans (the
        # incremental-distinct path at 10^12-turn scale). Blobs exist only for
        # partitions whose run had --hll-cols set: verify coverage against the
        # manifest so a resume over a flag-less earlier run WARNS instead of
        # silently undercounting, and degrade when no blob dir exists at all.
        import glob as _glob

        have = {
            os.path.basename(d).split("=", 1)[1]
            for d in _glob.glob(os.path.join(hll_out, "part=*"))
        }
        missing = sorted(set(manifest.completed(ruleset)) - have)
        if missing:
            print(
                f"[lyra] WARNING: hll blobs missing for {len(missing)} completed "
                f"partition(s) (completed in a run without --hll-cols): {missing[:5]}"
                f"{'...' if len(missing) > 5 else ''} — global estimate covers stored blobs only"
            )
        if not have:
            print("[lyra] hll: no stored blobs to merge; skipping global estimate")
        else:
            from lyra_spark.stats import merge_hll

            est = merge_hll(spark.read.parquet(hll_out).select("column", "sketch")).collect()
            report["hll_distinct"] = {
                r["column"]: int(r["estimate"]) for r in est
            }
            for r in sorted(est, key=lambda r: r["column"]):
                print(f"[lyra] hll_distinct column={r['column']} estimate={int(r['estimate'])}")

    if args.freshness_hours is not None:
        from lyra_spark.stats import freshness_report

        ranges = catalog.partition_ts_range("ts")
        fr = freshness_report(
            df, ts_col="ts", partition_col="part_date",
            max_lag_hours=args.freshness_hours, ranges=ranges,
        ).collect()
        stale = [str(r["part_date"]) for r in fr if r["stale"]]
        report["freshness_stale"] = stale
        src = "metadata" if ranges is not None else "scan"
        print(f"[lyra] freshness ({src}): {len(fr)} partitions, "
              f"stale(>{args.freshness_hours}h)={stale[:10]}"
              f"{'...' if len(stale) > 10 else ''}")

    if args.metric_rules:
        # One scan evaluates EVERY declared metric for every partition (the
        # wide-agg plan is pinned in test_metric_rules); the grid is
        # partitions × rules — driver-scale — so it collects once, writes as
        # a no-scan Arrow LocalRelation (the verdict-write pattern above),
        # and rolls up locally. Metric rules are a REPORTING gate alongside
        # the row-rule verdicts: they never affect checkpoint completion.
        import pandas as pd

        from lyra_spark.metrics import (
            evaluate_metric_rules,
            metric_partition_pass,
            metric_rules_from_json,
        )

        mrules = metric_rules_from_json(args.metric_rules)
        mv = evaluate_metric_rules(df, mrules, partition_col="part_date")
        mrows = mv.collect()
        mp = pd.DataFrame([r.asDict() for r in mrows], columns=mv.columns)
        local = spark.createDataFrame(mp, schema=mv.schema)
        local.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(args.checkpoint, args.run_id, "metric_verdicts")
        )
        pp = metric_partition_pass(local, "part_date").collect()
        failing = sorted(str(r["part_date"]) for r in pp if not r["pass"])
        report["metric_failing_partitions"] = failing
        report["metric_rules_evaluated"] = len(mrules)
        print(f"[lyra] metrics: {len(mrules)} rule(s) x {len(pp)} partition(s), "
              f"failing={failing[:10]}{'...' if len(failing) > 10 else ''}")
        # run-over-run complement (Deequ addAnomalyCheck): a metric that
        # tripled against its own trailing mean flags even while inside its
        # absolute bounds — O(partitions x rules) on the collected grid,
        # zero further scans
        from lyra_spark.metrics import metric_anomalies

        # min_ref_parts=3: a 1-2 sample trailing window is warm-up noise, not
        # history (the library default 1 stays for callers who want day 2)
        anom = metric_anomalies(local, "part_date", min_ref_parts=3).collect()
        flagged = sorted((str(r["part_date"]), r["rule_id"]) for r in anom)
        report["metric_anomalies"] = [list(t) for t in flagged]
        print(f"[lyra] metric anomalies (trailing): {flagged[:10]}"
              f"{'...' if len(flagged) > 10 else ''}")
        if args.metric_history:
            # run-over-run store: THIS run's grid vs the same (partition,
            # rule) across previous runs — the reprocessing-regression check
            # within-run trailing can't see. History is runs x partitions x
            # rules driver-scale rows; no data-file reads.
            from lyra_spark.metrics import append_metric_history, metric_run_anomalies

            append_metric_history(local, args.metric_history, args.run_id)
            hist = spark.read.parquet(args.metric_history)
            runs = hist.select("run_id").distinct().count()
            ra = metric_run_anomalies(hist, args.run_id, "part_date").collect()
            rflag = sorted((str(r["part_date"]), r["rule_id"]) for r in ra)
            report["metric_run_anomalies"] = [list(t) for t in rflag]
            print(f"[lyra] metric run-anomalies (vs {runs - 1} previous run(s)): "
                  f"{rflag[:10]}{'...' if len(rflag) > 10 else ''}")

    # the drift pass over ALL partitions (cheap: sketches only)
    ref, quantiles = drift_task.result()
    dv = drift_verdicts(drift_sk, reference=ref, quantiles=quantiles)
    if dv.empty:
        # empty table or all-NULL drift column: zero sketches is a
        # reportable state, not a KeyError crash (and nothing to save)
        print("[lyra] drift: 0 partitions (no non-null drift-column values)")
        if args.save_reference:
            print("[lyra] WARNING: no sketches — drift reference NOT saved")
    else:
        failing = dv.loc[~dv["pass"], "part_key"].tolist()
        report["drift_failing"] = [str(p) for p in failing]
        report["drift_partitions"] = len(dv)
        print(f"[lyra] drift: {len(dv)} partitions, failing={failing}")
        if args.save_reference:
            save_reference(drift_sk, args.save_reference)
            print(f"[lyra] drift reference saved to {args.save_reference}")

    # generated classes compiled during this run (a py4j counter read, no
    # Spark job): a warm re-run that still compiles means the codegen cache
    # is evicting the run's working set
    report["codegen_compiles"] = codegen_compiles(spark) - compiles0
    print(f"[lyra] codegen: {report['codegen_compiles']} classes compiled")
    report["spark_jobs"] = jobs.poll()
    print(f"[lyra] spark jobs: {report['spark_jobs']}")

    if args.report:
        import json as _json

        # overall = this run's partitions all clean AND no gate failed;
        # reporting surfaces (anomalies, freshness) inform but don't gate
        report["pass"] = (
            all(p["pass"] for p in report["partitions"])
            and not report.get("metric_failing_partitions")
            and not report.get("drift_failing")
        )
        with open(args.report, "w") as f:
            _json.dump(report, f, indent=2, sort_keys=True)
            f.write("\n")
        print(f"[lyra] report written to {args.report} (pass={report['pass']})")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
