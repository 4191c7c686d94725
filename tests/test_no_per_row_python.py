"""Lint-style guard (SURVEY.md §4): BASELINE.json:15 forbids per-row Python.

No `F.udf(` / `@udf` row-at-a-time UDFs and no RDD `.map(`/`.flatMap(` in the
engine; pandas/Arrow UDFs and mapInPandas/applyInPandas are the only Python
crossings allowed."""

import os
import re

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "lyra_spark")

FORBIDDEN = [
    (re.compile(r"\bF\.udf\("), "row-at-a-time F.udf"),
    (re.compile(r"@udf\b"), "row-at-a-time @udf"),
    (re.compile(r"\.rdd\.(map|flatMap|mapPartitions)\("), "RDD map in engine"),
    (re.compile(r"\.toPandas\(\)"), "driver-side collect of big data in engine code"),
    (re.compile(r"\.collect\(\)\s*$"), None),  # checked below with allowlist
]

# toPandas() is legitimate only behind an explicit size gate — dedup.py's
# _driver_components collects the near-dup EDGE set (not documents) only when
# a count() shows it under driver_max_edges (default 10⁶ rows ≈ 16 MB), the
# collect-side analog of a broadcast-join threshold.
TOPANDAS_ALLOWED = {"dedup.py"}

# collect() is legitimate only on tiny frames (sketch blobs, partition lists,
# small-dimension value lists inlined as enum literals in fused.py, the
# (partitions × rules) violation-count aggregate behind presets.py's
# metadata-backed verdict grid, dedup.py's 1-row connected-components
# convergence signature, similarity.py's IVF quantizer training sample —
# bounded by max_train by construction — and pack.py's per-partition token
# totals: O(num_partitions) rows, the driver half of the two-phase prefix
# sum, and sample.py's mixture-rate per-source token totals: O(#sources)
# rows from a constant-buffer aggregate)
COLLECT_ALLOWED = {
    "drift.py", "io.py", "fused.py", "presets.py", "dedup.py", "similarity.py",
    "pack.py", "sample.py",
    # ruleset_from_suggestions collects the suggestion frame: bounded by
    # profiled columns x suggestion kinds, never by row count
    "suggest.py",
    # unigram_logprob collects ONE scalar (the language model's total token
    # count) — the same O(1)-to-driver shape as sample.py's mixture rates
    "text.py",
}

# Per-row iteration inside Arrow batches is the hidden flavor of the same
# anti-pattern (a pandas UDF whose body loops rows is per-row Python with
# extra steps — round 1's SimHash did exactly that). Allowed only where the
# work is inherently per-item: multimodal.py's codec stub (a real decoder is
# one opaque library call per payload), and fixtures.py (driver-side test-data
# construction, not the engine).
ITERATE_ALLOWED = {"multimodal.py", "fixtures.py"}


def _sources():
    for root, _, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                yield fn, os.path.join(root, fn)


def test_no_per_row_python_in_engine():
    offenders = []
    for fn, path in _sources():
        src = open(path).read()
        for pat, label in FORBIDDEN[:4]:
            if "toPandas" in pat.pattern and fn in TOPANDAS_ALLOWED:
                continue
            if pat.search(src):
                offenders.append((fn, label))
    assert not offenders, offenders


def test_no_row_loops_in_pandas_udfs():
    pat = re.compile(r"\.iterrows\(\)|\.itertuples\(|\benumerate\((?:s|pdf|batch)\b")
    offenders = []
    for fn, path in _sources():
        if fn in ITERATE_ALLOWED:
            continue
        src = open(path).read()
        if pat.search(src):
            offenders.append(fn)
    assert not offenders, f"per-row iteration over Arrow batches: {offenders}"


def test_drift_never_crosses_into_python_workers():
    """Drift sketches are Spark's native KLL aggregates end to end: drift.py
    builds and merges them without mapInPandas/applyInPandas."""
    src = open(os.path.join(PKG, "drift.py")).read()
    assert not re.search(r"\.(mapInPandas|applyInPandas)\(", src)


def test_collect_only_on_small_frames():
    offenders = []
    for fn, path in _sources():
        src = open(path).read()
        if ".collect()" in src and fn not in COLLECT_ALLOWED:
            offenders.append(fn)
    assert not offenders, f"collect() outside allowlist: {offenders}"


def test_no_pickled_rdd_createdataframe():
    """createDataFrame on a Python list becomes a pickled RDD whose every task
    launches a Python worker (~1-2 s of zero-CPU wall — per PARTITION when it
    sits in the CLI loop). Tiny driver-side frames must route through
    pandas/Arrow into a pure-JVM LocalRelation. Allowed only in
    multimodal.synth_media (a one-shot test-fixture builder whose struct
    column is unfriendly to the Arrow path)."""
    import re

    pat = re.compile(r"createDataFrame\(\s*[\[\(]")
    allowed = {"multimodal.py"}
    offenders = []
    roots = [PKG, os.path.join(os.path.dirname(PKG), "jobs")]
    for root_dir in roots:
        for root, _, files in os.walk(root_dir):
            for fn in files:
                if fn.endswith(".py") and fn not in allowed:
                    src = open(os.path.join(root, fn)).read()
                    # strip line comments so prose mentioning the pattern is fine
                    code = "\n".join(l.split("#", 1)[0] for l in src.splitlines())
                    if pat.search(code):
                        offenders.append(fn)
    assert not offenders, f"pickled-RDD createDataFrame (route via pandas/Arrow): {offenders}"
