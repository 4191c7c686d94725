"""KLL sketch accuracy, merge associativity, and end-to-end drift detection
(SURVEY.md §5.5, M4; tolerances from BASELINE.md)."""

import json
import os
import time

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from lyra_spark.drift import (
    collect_quantiles,
    drift_quantiles,
    drift_verdicts,
    ks_statistic,
    psi,
    sketch_by_partition,
)


def exact_ks(a: np.ndarray, b: np.ndarray) -> float:
    grid = np.unique(np.concatenate([a, b]))
    ca = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    cb = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    return float(np.max(np.abs(ca - cb)))


def sketch_groups(spark, groups: dict, tasks: int = 4):
    """{group: values} → ({group: Quantiles}, merged Quantiles), sketched by
    Spark over ``tasks`` input partitions (so partial sketches merge)."""
    pdf = pd.concat(
        [pd.DataFrame({"part_date": g, "v": np.asarray(v, dtype=np.float64)}) for g, v in groups.items()]
    )
    df = spark.createDataFrame(pdf).repartition(tasks)
    return collect_quantiles(sketch_by_partition(df, "v"))


def test_kll_quantile_accuracy_vs_numpy(spark):
    """Every quantile of the sketch grid sits within 0.01 in rank of the
    exact distribution, and the step CDF agrees at the exact quantiles."""
    rng = np.random.default_rng(0)
    v = rng.lognormal(4.0, 0.6, 200_000)
    parts, _ = sketch_groups(spark, {"p": v})
    d = parts["p"]
    assert d.n == len(v)
    sv = np.sort(v)
    ranks = np.searchsorted(sv, d.q, side="right") / len(v)
    assert np.max(np.abs(ranks - np.linspace(0.0, 1.0, len(d.q)))) < 0.01
    assert d.q[0] == sv[0] and d.q[-1] == sv[-1]
    for q in [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]:
        exact = np.quantile(v, q)
        assert abs(d.cdf(exact) - q) < 0.01, (q, exact, d.quantile(q))


@settings(max_examples=20, deadline=None)
@given(st.lists(st.floats(-1e6, 1e6), min_size=10, max_size=500), st.integers(2, 5))
def test_merge_associativity_vs_direct(spark, values, splits):
    """Merging chunked sketches ≈ sketch of everything (order must not
    matter). Below k values a KLL sketch holds every value, so the merged
    grid equals the direct one exactly."""
    v = np.asarray(values)
    chunks = {f"c{i}": c for i, c in enumerate(np.array_split(v, splits)) if len(c)}
    _, merged = sketch_groups(spark, chunks)
    direct, _ = sketch_groups(spark, {"all": v}, tasks=1)
    assert merged.n == direct["all"].n == len(v)
    assert np.array_equal(merged.q, direct["all"].q)


def test_kll_merged_chunks_match_direct_sketch(spark):
    """Above k values compaction is randomized: 8 merged partition sketches
    and one direct sketch of the same 200k values must still agree to 0.01
    in rank, and each must stay within 0.01 of the exact distribution."""
    rng = np.random.default_rng(3)
    v = rng.lognormal(4.0, 0.6, 200_000)
    _, merged = sketch_groups(spark, {f"c{i}": c for i, c in enumerate(np.array_split(v, 8))})
    direct, _ = sketch_groups(spark, {"all": v})
    assert merged.n == direct["all"].n == len(v)
    assert ks_statistic(merged, direct["all"]) <= 0.01
    sv = np.sort(v)
    for d in (merged, direct["all"]):
        ranks = np.searchsorted(sv, d.q, side="right") / len(v)
        assert np.max(np.abs(ranks - np.linspace(0.0, 1.0, len(d.q)))) < 0.01


def test_ks_between_digests_close_to_exact(spark):
    rng = np.random.default_rng(1)
    a = rng.normal(0, 1, 100_000)
    b = rng.normal(0.3, 1, 100_000)  # true KS ≈ 0.119
    parts, _ = sketch_groups(spark, {"a": a, "b": b})
    assert abs(ks_statistic(parts["a"], parts["b"]) - exact_ks(a, b)) < 0.01


def test_psi_detects_shift_and_passes_same(spark):
    rng = np.random.default_rng(2)
    parts, _ = sketch_groups(spark, {
        "base": rng.lognormal(4, 0.6, 100_000),
        "same": rng.lognormal(4, 0.6, 100_000),
        "shifted": rng.lognormal(4, 0.6, 100_000) * 3,
    })
    assert psi(parts["base"], parts["same"]) < 0.05
    assert psi(parts["base"], parts["shifted"]) > 0.5


def test_drift_end_to_end_flags_drifted_partition(spark, fixtures_sf0001):
    """The fixture multiplies text length ×3 in the DRIFT_DATE partition —
    global-sketch cold-start drift must fail exactly that partition region."""
    from lyra_spark.fixtures import DRIFT_DATE

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    sk = sketch_by_partition(tdf, "cast(length(text) as double)", "part_date")
    verdicts = drift_verdicts(sk, reference=None, ks_threshold=0.10)
    drifted = verdicts.loc[verdicts["part_key"] == str(DRIFT_DATE), "pass"].iloc[0]
    assert not drifted, f"drift date must fail drift:\n{verdicts.tail()}"
    # the overwhelming majority of partitions must pass
    assert verdicts["pass"].mean() > 0.9, verdicts[~verdicts["pass"]]


def test_reference_roundtrip_and_run_over_run(tmp_path, spark, fixtures_sf0001):
    """save_reference → load_reference preserves the sketch; drift against a
    STORED baseline (the production run-over-run mode) flags the drifted
    partition and passes the steady ones."""
    from lyra_spark.drift import load_reference, save_reference

    from lyra_spark.fixtures import DRIFT_DATE

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    # baseline from the steady region only (exclude the drifted date)
    steady = tdf.filter(F.col("part_date") != F.lit(DRIFT_DATE))
    sk_ref = sketch_by_partition(steady, "cast(length(text) as double)", "part_date")
    path = str(tmp_path / "ref.kll")
    saved = save_reference(sk_ref, path)
    loaded = load_reference(path)
    assert loaded == saved

    sk_all = sketch_by_partition(tdf, "cast(length(text) as double)", "part_date")
    verdicts = drift_verdicts(sk_all, reference=loaded)
    by_key = verdicts.set_index("part_key")["pass"]
    assert not by_key[str(DRIFT_DATE)], "drifted partition must fail vs stored baseline"
    assert by_key.mean() > 0.9


def test_kll_reference_file_roundtrip(tmp_path, spark):
    """The reference file is a versioned JSON header line + the merged KLL
    blob; loading it back yields the same blob, whose quantile grid equals
    the in-run global merge (below k values both hold every value)."""
    from lyra_spark.drift import load_reference, save_reference

    rng = np.random.default_rng(5)
    pdf = pd.DataFrame({"part_date": ["a"] * 300 + ["b"] * 400, "v": rng.normal(size=700)})
    sk = sketch_by_partition(spark.createDataFrame(pdf), "v")
    path = str(tmp_path / "ref.kll")
    blob = save_reference(sk, path)
    with open(path, "rb") as f:
        header = json.loads(f.readline())
    assert header == {"format": "lyra-kll-ref", "version": 2, "n": 700}
    assert load_reference(path) == blob
    _, stored = collect_quantiles(sk, reference=load_reference(path))
    _, merged = collect_quantiles(sk)
    assert stored.n == merged.n == 700
    assert np.array_equal(stored.q, merged.q)


def test_load_reference_rejects_legacy_tdigest_file(tmp_path):
    """A t-digest reference (format lyra-tdigest-ref, version 1) holds no KLL
    sketch: loading it must fail loudly, naming the format."""
    from lyra_spark.drift import load_reference

    path = tmp_path / "ref.tdigest"
    header = json.dumps({"format": "lyra-tdigest-ref", "version": 1, "n": 10}).encode()
    path.write_bytes(header + b"\n" + b"TD01" + bytes(36))
    with pytest.raises(ValueError, match="lyra-tdigest-ref"):
        load_reference(str(path))


def test_drift_verdicts_leave_one_out_matches_exact(spark):
    """Below loo_max_partitions each partition is judged against the merge
    of the OTHER partitions: every KS matches the exact leave-one-out pool's,
    the shifted partition fails and the steady ones pass."""
    rng = np.random.default_rng(9)
    vals = {f"p{i}": rng.normal(0, 1, 2000) for i in range(8)}
    vals["p8"] = rng.normal(1.0, 1, 2000)
    pdf = pd.concat([pd.DataFrame({"part_date": k, "v": v}) for k, v in vals.items()])
    out = drift_verdicts(sketch_by_partition(spark.createDataFrame(pdf).repartition(4), "v"))
    got = out.set_index("part_key")
    assert list(got["pass"]) == [True] * 8 + [False]
    for k in vals:
        pool = np.concatenate([v for j, v in vals.items() if j != k])
        assert abs(got.loc[k, "ks"] - exact_ks(vals[k], pool)) <= 0.01, k
        assert got.loc[k, "n"] == 2000


def test_drift_verdicts_from_collected_quantiles_run_no_job(spark):
    """drift_quantiles runs every Spark job of drift_verdicts: given its
    result, drift_verdicts starts no job and judges as it does alone. Nine
    partitions and no reference: the leave-one-out path, with its second
    collect."""
    rng = np.random.default_rng(11)
    vals = {f"p{i}": rng.normal(0, 1, 2000) for i in range(8)}
    vals["p8"] = rng.normal(1.0, 1, 2000)
    pdf = pd.concat([pd.DataFrame({"part_date": k, "v": v}) for k, v in vals.items()])
    sk = sketch_by_partition(spark.createDataFrame(pdf).repartition(4), "v")
    quantiles = drift_quantiles(sk)
    assert sorted(quantiles[2]) == sorted(vals)
    sc = spark.sparkContext
    group = f"drift_collected_{time.time_ns()}"
    sc.setJobGroup(group, "no jobs")
    try:
        out = drift_verdicts(sk, quantiles=quantiles)
    finally:
        sc.setJobGroup("", "")
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    got = out.set_index("part_key")
    assert list(got["pass"]) == [True] * 8 + [False]
    for k in vals:
        pool = np.concatenate([v for j, v in vals.items() if j != k])
        assert abs(got.loc[k, "ks"] - exact_ks(vals[k], pool)) <= 0.01, k


def test_categorical_psi_matches_numpy_reference(spark):
    """Distributed categorical PSI == the straightforward numpy computation
    (same Laplace smoothing over the global category set), and a partition
    with a genuinely shifted distribution scores far above the others."""
    import numpy as np
    import pandas as pd

    from lyra_spark.drift import categorical_psi

    rng = np.random.default_rng(11)
    specs = [(f"d{i}", [0.5, 0.3, 0.2, 0.0]) for i in range(8)]
    specs.append(("drifted", [0.05, 0.05, 0.3, 0.6]))  # heavy on a near-absent value
    parts, vals = [], []
    for pk, probs in specs:
        draw = rng.choice(["a", "b", "c", "zz"], size=2000, p=probs)
        parts += [pk] * 2000
        vals += list(draw)
    pdf = pd.DataFrame({"part_date": parts, "role": vals})
    got = {
        r.partition: (r.psi, r.n_rows, r.n_categories, r.js)
        for r in categorical_psi(spark.createDataFrame(pdf), "role").collect()
    }

    # numpy reference
    cats = sorted(set(vals))
    k, a = len(cats), 0.5
    gcounts = pd.Series(vals).value_counts()
    gtot = len(vals)
    for pk, _ in specs:
        pvals = pdf.loc[pdf.part_date == pk, "role"]
        pc = pvals.value_counts()
        p = np.array([(pc.get(c, 0) + a) / (len(pvals) + a * k) for c in cats])
        q = np.array([(gcounts[c] + a) / (gtot + a * k) for c in cats])
        want = float(np.sum((p - q) * np.log(p / q)))
        m = (p + q) / 2
        want_js = float(np.sum(p * np.log(p / m) + q * np.log(q / m)) / 2)
        assert got[pk][0] == pytest.approx(want, rel=1e-9), pk
        assert got[pk][3] == pytest.approx(want_js, rel=1e-9), pk
        assert 0.0 <= got[pk][3] <= np.log(2) + 1e-12  # JS is bounded
        assert got[pk][1] == 2000 and got[pk][2] == k
    conforming = max(got[f"d{i}"][0] for i in range(8))
    assert got["drifted"][0] > 5 * conforming
    conforming_js = max(got[f"d{i}"][3] for i in range(8))
    assert got["drifted"][3] > 5 * conforming_js


def test_categorical_psi_null_token_and_absent_category(spark):
    from lyra_spark.drift import categorical_psi

    df = spark.createDataFrame(
        [("d1", "x"), ("d1", None), ("d2", "x"), ("d2", "x")],
        "part_date string, role string",
    )
    rows = {r.partition: r for r in categorical_psi(df, "role").collect()}
    # NULLs are a first-class category; d2 is missing it yet still gets a
    # finite PSI (smoothing), and both see the GLOBAL category count
    assert rows["d1"].n_categories == 2 and rows["d2"].n_categories == 2
    assert np.isfinite(rows["d1"].psi) and np.isfinite(rows["d2"].psi)


def test_categorical_psi_trailing_matches_numpy_reference(spark):
    """Trailing-window categorical PSI == the straightforward numpy
    computation (reference = previous k partitions' pooled counts, same
    Laplace smoothing over the global category set); the first partition
    emits nothing, warm-up windows report their true n_ref_parts, and a
    regime change scores high the partition it LANDS, not diluted later."""
    import numpy as np
    import pandas as pd
    import pytest

    from lyra_spark.drift import categorical_psi_trailing

    rng = np.random.default_rng(23)
    days = [f"2024-01-{d:02d}" for d in range(1, 9)]
    probs = {d: [0.5, 0.3, 0.2, 0.0] for d in days[:6]}
    probs[days[6]] = [0.05, 0.05, 0.3, 0.6]   # regime change on day 7
    probs[days[7]] = [0.05, 0.05, 0.3, 0.6]
    parts, vals = [], []
    for d in days:
        draw = rng.choice(["a", "b", "c", "zz"], size=1500, p=probs[d])
        parts += [d] * 1500
        vals += list(draw)
    pdf = pd.DataFrame({"part_date": parts, "role": vals})
    K = 3
    got = {
        r.partition: r
        for r in categorical_psi_trailing(
            spark.createDataFrame(pdf), "role", k=K
        ).collect()
    }
    assert days[0] not in got  # no reference yet
    assert set(got) == set(days[1:])

    cats = sorted(set(vals))
    kc, a = len(cats), 0.5
    for i, d in enumerate(days):
        if i == 0:
            continue
        ref_days = days[max(0, i - K):i]
        cur = pdf.loc[pdf.part_date == d, "role"]
        ref = pdf.loc[pdf.part_date.isin(ref_days), "role"]
        pc, rc = cur.value_counts(), ref.value_counts()
        p = np.array([(pc.get(c, 0) + a) / (len(cur) + a * kc) for c in cats])
        q = np.array([(rc.get(c, 0) + a) / (len(ref) + a * kc) for c in cats])
        want = float(np.sum((p - q) * np.log(p / q)))
        m = (p + q) / 2
        want_js = float(np.sum(p * np.log(p / m) + q * np.log(q / m)) / 2)
        assert got[d].psi == pytest.approx(want, rel=1e-9), d
        assert got[d].js == pytest.approx(want_js, rel=1e-9), d
        assert got[d].n_ref_parts == len(ref_days)
        assert got[d].ref_rows == 1500 * len(ref_days)
    # the regime change fires on day 7 against its conforming trailing window
    conforming = max(got[d].psi for d in days[1:6])
    assert got[days[6]].psi > 10 * conforming
    # by day 8 the drifted day is inside the window, so the score relaxes
    assert got[days[7]].psi < got[days[6]].psi


def test_ks_exact_matches_numpy_ecdf(spark):
    """drift.ks_exact (distinct-grid running counts) must equal the direct
    two-sample ECDF computation, including tied values across groups."""
    import numpy as np
    import pandas as pd

    from lyra_spark.drift import ks_exact

    rng = np.random.default_rng(13)
    a = np.round(rng.normal(0, 1, 800), 2)  # rounding plants cross-group ties
    b = np.round(rng.normal(0.35, 1.2, 600), 2)
    pdf = pd.DataFrame(
        {"g": ["a"] * len(a) + ["b"] * len(b), "x": np.concatenate([a, b])}
    )
    got = ks_exact(spark.createDataFrame(pdf), "x", "g", "a", "b")
    grid = np.unique(np.concatenate([a, b]))
    ecdf_a = np.searchsorted(np.sort(a), grid, side="right") / len(a)
    ecdf_b = np.searchsorted(np.sort(b), grid, side="right") / len(b)
    exp = float(np.max(np.abs(ecdf_a - ecdf_b)))
    assert abs(got - exp) < 1e-12


def test_numeric_drift_trailing_flags_regime_change(spark):
    """Partitions a..e share one distribution; partition f is shifted. The
    trailing-k gate must flag exactly f, pass the organic partitions, report
    NaN/pass for the history-less first partition, and bound the window at k
    partitions."""
    from lyra_spark.drift import numeric_drift_trailing

    rng = np.random.default_rng(7)
    rows = []
    for i, p in enumerate("abcde"):
        rows += [(p, float(v)) for v in rng.normal(0.0, 1.0, 4000)]
    rows += [("f", float(v)) for v in rng.normal(1.2, 1.0, 4000)]
    df = spark.createDataFrame(rows, "p: string, x: double")
    out = numeric_drift_trailing(df, "x", "p", k=3)
    assert list(out["part_key"]) == list("abcdef")
    assert np.isnan(out.iloc[0]["ks"]) and bool(out.iloc[0]["pass"])
    assert list(out["n_ref_parts"]) == [0, 1, 2, 3, 3, 3]  # window bounded at k
    assert list(out["pass"]) == [True, True, True, True, True, False]
    # organic KS is sampling noise; the planted shift is far above the cut
    assert out.iloc[4]["ks"] < 0.05 and out.iloc[5]["ks"] > 0.3


def test_numeric_drift_trailing_small_partitions_noise_guard(spark):
    """Tiny partitions from ONE distribution must not flag: the sample-size-
    aware cut (c·sqrt((n+m)/nm)) dominates the fixed threshold at small n."""
    from lyra_spark.drift import numeric_drift_trailing

    rng = np.random.default_rng(11)
    rows = []
    for p in "abcd":
        rows += [(p, float(v)) for v in rng.normal(0.0, 1.0, 60)]
    df = spark.createDataFrame(rows, "p: string, x: double")
    out = numeric_drift_trailing(df, "x", "p", k=3)
    assert all(out["pass"])
    assert (out["threshold"].iloc[1:] > 0.10).all()  # noise-aware cut engaged


def test_sketch_columns_single_scan_matches_per_column(spark, fixtures_sf0001):
    """One-scan multi-column sketching agrees with the per-column path
    (CDF gap ≤ 0.005 — merge order may shuffle centroids, distributions
    must not move) and its plan reads the table ONCE."""
    from lyra_spark.drift import sketch_columns_by_partition

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    cols = ["cast(length(text) as double)", "cast(turn_idx as double)"]
    multi = sketch_columns_by_partition(tdf, cols, "part_date")
    for c in cols:
        single, _ = collect_quantiles(sketch_by_partition(tdf, c, "part_date"))
        sliced, _ = collect_quantiles(multi.filter(F.col("column") == c).drop("column"))
        assert set(single) == set(sliced)
        for k in single:
            assert ks_statistic(single[k], sliced[k]) <= 0.005
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        multi.explain("formatted")
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", buf.getvalue(), re.MULTILINE)) == 1


def test_categorical_psi_null_partition_not_spurious(spark):
    """Rows whose partition key is NULL must keep their real counts in the
    dense grid (the equi-join never matches NULL = NULL; without the sentinel
    every category showed n=0 → a huge fabricated PSI row)."""
    from lyra_spark.drift import categorical_psi

    rows = [("a", "p1")] * 50 + [("b", "p1")] * 50 + [("a", None)] * 50 + [("b", None)] * 50
    df = spark.createDataFrame(rows, "v string, part_date string")
    out = {r["partition"]: r for r in categorical_psi(df, "v").collect()}
    assert set(out) == {"p1", "\x00NULL"}
    # identical distributions → PSI ≈ 0 on BOTH, including the NULL partition
    for r in out.values():
        assert abs(r["psi"]) < 1e-6, r
        assert r["n_rows"] == 100


def test_drift_verdicts_single_partition_reports_nan(spark):
    """Cold start with ONE partition and no baseline: the only reference is
    the partition itself — report NaN (no history is not drift), never a
    fabricated ks=0 'measurement'."""
    import math

    from lyra_spark.drift import drift_verdicts, sketch_by_partition

    df = spark.range(500).selectExpr("cast(id as double) as v", "'p1' as part_date")
    sk = sketch_by_partition(df, "v")
    out = drift_verdicts(sk)
    assert len(out) == 1
    assert math.isnan(out.iloc[0]["ks"]) and bool(out.iloc[0]["pass"])


def test_drift_verdicts_empty_input_has_contract_columns(spark):
    from lyra_spark.drift import SKETCH_SCHEMA, drift_verdicts

    empty = spark.createDataFrame([], SKETCH_SCHEMA)
    out = drift_verdicts(empty)
    assert list(out.columns) == ["part_key", "rule_id", "n", "ks", "ks_crit", "psi", "pass"]
    assert len(out) == 0


def test_sketch_by_partition_accepts_timestamp_column(spark):
    """A timestamp value_col must sketch (cast to double like the
    multi-column sibling), not fail the aggregate's type check."""
    df = spark.range(100).select(
        F.lit("p1").alias("part_date"),
        F.timestamp_micros((F.col("id") * 1_000_000).cast("long")).alias("ts"),
    )
    parts, _ = collect_quantiles(sketch_by_partition(df, F.col("ts")))
    assert parts["p1"].n == 100
    assert parts["p1"].q[0] == 0.0 and parts["p1"].q[-1] == 99.0


def _plan(df) -> str:
    import contextlib
    import io as _io

    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_sketch_plans_have_no_python_worker(spark, fixtures_sf0001):
    """Both sketch builders are native JVM aggregates: no plan node hands
    rows to a Python worker, and their rows keep the sketch schemas."""
    from pyspark.sql.types import _parse_datatype_string

    from lyra_spark.drift import MULTI_SKETCH_SCHEMA, SKETCH_SCHEMA, sketch_columns_by_partition

    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    for df, schema in (
        (sketch_by_partition(tdf, "cast(length(text) as double)", "part_date"), SKETCH_SCHEMA),
        (sketch_columns_by_partition(tdf, ["cast(length(text) as double)", "turn_idx"], "part_date"),
         MULTI_SKETCH_SCHEMA),
    ):
        want = _parse_datatype_string(schema)
        assert [(f.name, f.dataType) for f in df.schema] == [(f.name, f.dataType) for f in want]
        plan = _plan(df)
        assert "kll_sketch_agg_double" in plan
        for node in ("MapInPandas", "FlatMapGroupsInPandas", "ArrowEvalPython", "BatchEvalPython"):
            assert node not in plan, node


def test_drift_verdicts_spark_job_count(spark, fixtures_sf0001):
    """Whole-table cold-start drift is one collect: the sketch aggregate's
    exchange, the rollup's exchange (the global merge) and the result stage
    — three Spark jobs under AQE, whatever the partition count."""
    sc = spark.sparkContext
    tdf = spark.read.parquet(os.path.join(fixtures_sf0001, "transcripts"))
    group = f"drift_jobs_{time.time_ns()}"
    sc.setJobGroup(group, "drift job count")
    try:
        out = drift_verdicts(sketch_by_partition(tdf, "cast(length(text) as double)", "part_date"))
    finally:
        sc.setJobGroup("", "")
    assert len(out) >= 10  # above loo_max_partitions: the global-merge path
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def test_ks_exact_refuses_unbounded_grid(spark, monkeypatch):
    """Past KS_EXACT_MAX_DISTINCT distinct values ks_exact raises with the
    distinct count instead of starting its single-task window."""
    from lyra_spark import drift

    pdf = pd.DataFrame({"g": ["a", "b"] * 25, "x": np.arange(50, dtype=np.float64)})
    df = spark.createDataFrame(pdf)
    monkeypatch.setattr(drift, "KS_EXACT_MAX_DISTINCT", 49)
    with pytest.raises(ValueError, match="50 distinct values"):
        drift.ks_exact(df, "x", "g", "a", "b")
    monkeypatch.setattr(drift, "KS_EXACT_MAX_DISTINCT", 50)
    assert drift.ks_exact(df, "x", "g", "a", "b") == pytest.approx(0.04)
