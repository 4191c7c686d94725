"""As-of join + interval join: semantics vs pandas/naive references, and the
plan shapes that make them scale (one exchange for asof; equi-join with a
range residual — never a nested loop — for interval_join)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from lyra_spark.asof import asof_join
from lyra_spark.ranges import interval_join

from test_plan_shapes import plan_str


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a", "b", "b", "c", None, "a"],
                "lts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:05",
                        "2024-01-01 00:00:10",
                        "2024-01-01 00:00:00",
                        "2024-01-01 00:00:07",
                        "2024-01-01 00:00:01",
                        "2024-01-01 00:00:05",
                        "2024-01-01 00:00:05",
                        None,
                    ]
                ),
                "lid": [1, 2, 3, 4, 5, 6, 7, 8],
            }
        )
    )
    right = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "b", "b", "c", "a", None],
                "rts": pd.to_datetime(
                    [
                        "2024-01-01 00:00:03",
                        "2024-01-01 00:00:08",
                        "2024-01-01 00:00:02",
                        "2024-01-01 00:00:07",
                        "2024-01-01 00:00:09",
                        "2024-01-01 00:00:03",  # tie with rid=10 at :03
                        None,
                    ]
                ),
                "rid": [10, 11, 12, 13, 14, 15, 16],
                "val": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0],
            }
        )
    )
    return left, right


def test_asof_backward(spark, asof_frames):
    left, right = asof_frames
    res = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols={"rid": "asof_rid", "val": "asof_val"},
        right_order_cols=["rid"],
    )
    rows = {r.lid: (r.asof_rid, r.asof_val) for r in res.collect()}
    assert rows == {
        1: (15, 6.0),  # tie at :03 → greatest rid wins, whole row carried
        2: (11, 2.0),
        3: (None, None),  # nothing at-or-before
        4: (13, 4.0),  # equal ts is inclusive
        5: (None, None),
        6: (None, None),  # right row at :09 is after
        7: (None, None),  # NULL key matches nothing (SQL semantics)
        8: (None, None),  # NULL ts has no position in time
    }


def test_asof_forward_and_tolerance(spark, asof_frames):
    left, right = asof_frames
    fwd = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols={"rid": "asof_rid"}, right_order_cols=["rid"],
        direction="forward",
    )
    # lid 3: rid 10 and 15 tie at :03 → forward takes the smallest rid
    assert {r.lid: r.asof_rid for r in fwd.collect()} == {
        1: 11, 2: None, 3: 10, 4: 13, 5: 12, 6: 14, 7: None, 8: None
    }
    tol = asof_join(
        left, right, on=["k"], left_ts="lts", right_ts="rts",
        payload_cols={"rid": "asof_rid"}, right_order_cols=["rid"],
        tolerance_sec=2,
    )
    assert {r.lid: r.asof_rid for r in tol.collect()} == {
        1: 15, 2: 11, 3: None, 4: 13, 5: None, 6: None, 7: None, 8: None
    }


def test_asof_matches_pandas_merge_asof(spark):
    """Random corpus with per-key-unique timestamps (ties carry engine-specific
    tie-breaks; the dedicated test above pins ours) must reproduce
    pandas.merge_asof exactly, both directions."""
    rng = np.random.default_rng(7)
    n_l, n_r = 400, 300
    # ONE replace=False pool for both sides: left and right timestamps
    # interleave, so backward/forward matches genuinely depend on the
    # window's carry-forward logic (disjoint ranges would make backward
    # all-NULL and forward independent of the left ts — assertion-free)
    pool = rng.choice(10**6, n_l + n_r, replace=False)
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n_l).astype(str),
            "lts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[:n_l], unit="s"),
            "lid": np.arange(n_l),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 8, n_r).astype(str),
            "rts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[n_l:], unit="s"),
            "rid": np.arange(n_r),
        }
    )
    for direction in ("backward", "forward"):
        got = (
            asof_join(
                spark.createDataFrame(lpd),
                spark.createDataFrame(rpd),
                on=["k"], left_ts="lts", right_ts="rts",
                payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                direction=direction,
            )
            .toPandas()
            .sort_values("lid")
            .reset_index(drop=True)
        )
        exp = pd.merge_asof(
            lpd.sort_values("lts"),
            rpd.sort_values("rts").rename(columns={"rid": "m_rid"}),
            left_on="lts", right_on="rts", by="k", direction=direction,
        ).sort_values("lid").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["m_rid"].astype("float64"),
            exp["m_rid"].astype("float64"),
            check_names=False,
        )


def test_asof_plan_is_single_exchange(spark, asof_frames):
    """The whole operator must cost ONE hash exchange (the window's), like
    sessionize — no join node, no second shuffle."""
    left, right = asof_frames
    p = plan_str(
        asof_join(
            left, right, on=["k"], left_ts="lts", right_ts="rts",
            payload_cols={"rid": "asof_rid"}, right_order_cols=["rid"],
        )
    )
    # formatted mode prints each physical node once in the details section as
    # "(<n>) Exchange" — count those, not the arg-less tree lines
    assert p.count(") Exchange") == 1
    assert "Join" not in p


def test_interval_join_semantics(spark):
    pts = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "a", "b", "b", None],
                "ts": pd.to_datetime(
                    ["2024-01-01", "2024-01-05", "2024-01-10", "2024-01-03", "2024-01-20", None]
                ),
                "pid": [1, 2, 3, 4, 5, 6],
            }
        )
    )
    iv = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "a", "b", "b", "a"],
                "s": pd.to_datetime(
                    ["2024-01-01", "2024-01-04", "2024-01-01", "2024-01-25", "2024-01-09"]
                ),
                "e": pd.to_datetime(
                    ["2024-01-05", "2024-01-06", "2024-01-04", "2024-01-02", "2024-01-08"]
                ),
                "iid": [100, 101, 102, 103, 104],  # 104: end < start → dropped
            }
        )
    )
    out = interval_join(pts, iv, on=["k"], point_ts="ts", start_ts="s", end_ts="e",
                        bucket_width_sec=86400 * 3)
    got = sorted((r.pid, r.iid) for r in out.collect())
    assert got == [(1, 100), (2, 100), (2, 101), (4, 102)]


def test_interval_join_matches_naive_at_any_width(spark):
    """Bucketing is an execution detail: the result set must be identical at
    wildly different widths, and must equal the quadratic reference join."""
    rng = np.random.default_rng(11)
    n_p, n_i = 500, 120
    ppd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n_p).astype(str),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**6, n_p), unit="s"),
            "pid": np.arange(n_p),
        }
    )
    starts = rng.integers(0, 10**6, n_i)
    ipd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, n_i).astype(str),
            "s": pd.to_datetime("2024-01-01") + pd.to_timedelta(starts, unit="s"),
            "e": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(starts + rng.integers(0, 5 * 10**4, n_i), unit="s"),
            "iid": np.arange(n_i),
        }
    )
    merged = ppd.merge(ipd, on="k")
    exp = sorted(
        (int(r.pid), int(r.iid))
        for r in merged[(merged.ts >= merged.s) & (merged.ts <= merged.e)].itertuples()
    )
    pdf, idf = spark.createDataFrame(ppd), spark.createDataFrame(ipd)
    for width in (3600, 50_000, 10**6):
        out = interval_join(pdf, idf, on=["k"], point_ts="ts", start_ts="s",
                            end_ts="e", bucket_width_sec=width)
        got = sorted((r.pid, r.iid) for r in out.collect())
        assert got == exp, f"width={width}"


def test_interval_join_plan_is_equi_join_never_nested_loop(spark):
    """The join must be an equi hash/sort-merge join on (key, bucket) with the
    range predicate as a residual — BroadcastNestedLoopJoin (what the naive
    theta-join plans) is the quadratic cliff this operator exists to avoid."""
    pts = spark.range(1000).select(
        F.col("id").alias("pid"),
        (F.col("id") % 7).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 1000).alias("ts"),
    )
    iv = spark.range(200).select(
        F.col("id").alias("iid"),
        (F.col("id") % 7).cast("string").alias("k"),
        F.timestamp_seconds(F.col("id") * 5000).alias("s"),
        F.timestamp_seconds(F.col("id") * 5000 + 40_000).alias("e"),
    )
    with_bcast = plan_str(
        interval_join(pts, iv, on=["k"], point_ts="ts", start_ts="s", end_ts="e")
    )
    assert "BroadcastNestedLoopJoin" not in with_bcast
    assert "CartesianProduct" not in with_bcast
    # at scale neither side broadcasts: must degrade to SMJ/shuffled-hash on
    # (k, bucket), still no nested loop
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        big = plan_str(
            interval_join(pts, iv, on=["k"], point_ts="ts", start_ts="s", end_ts="e")
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    assert "BroadcastNestedLoopJoin" not in big
    assert "SortMergeJoin" in big or "ShuffledHashJoin" in big


def test_asof_bounded_equals_windowed_tolerance(spark):
    """asof_join_bounded (interval-join + max_by argmax — the skew-proof
    plan) must produce EXACTLY the rows of asof_join(tolerance_sec=...)
    (the one-exchange window plan) on a random corpus, both directions:
    same semantics, different physics."""
    from lyra_spark.asof import asof_join_bounded

    rng = np.random.default_rng(21)
    n_l, n_r = 600, 400
    pool = rng.choice(10**6, n_l + n_r, replace=False)
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 6, n_l).astype(str),
            "lts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[:n_l], unit="s"),
            "lid": np.arange(n_l),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 6, n_r).astype(str),
            "rts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[n_l:], unit="s"),
            "rid": np.arange(n_r),
        }
    )
    ldf, rdf = spark.createDataFrame(lpd), spark.createDataFrame(rpd)
    for direction in ("backward", "forward"):
        ref = {
            r.lid: r.m_rid
            for r in asof_join(
                ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
                payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                direction=direction, tolerance_sec=40_000,
            ).collect()
        }
        got = {
            r.lid: r.m_rid
            for r in asof_join_bounded(
                ldf, rdf, on=["k"], left_id_cols=["lid"], left_ts="lts",
                right_ts="rts", payload_cols={"rid": "m_rid"},
                tolerance_sec=40_000, right_order_cols=["rid"],
                direction=direction,
            ).collect()
        }
        assert got == ref, direction
        assert any(v is not None for v in ref.values())  # corpus has matches
        assert any(v is None for v in ref.values())  # and non-matches


def test_asof_bounded_parity_with_timestamp_ties(spark):
    """Quantized timestamps plant DUPLICATE right ts per key (and cross-side
    equal ts), exercising the max_by rank tie-break against the window
    plan's ordered last() — the path a distinct-ts corpus never touches."""
    from lyra_spark.asof import asof_join_bounded

    rng = np.random.default_rng(33)
    n_l, n_r = 500, 500
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n_l).astype(str),
            "lts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 300, n_l) * 600, unit="s"),
            "lid": np.arange(n_l),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n_r).astype(str),
            "rts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 300, n_r) * 600, unit="s"),
            "rid": np.arange(n_r),
        }
    )
    # duplicate rts within a key must exist for the test to mean anything
    assert rpd.duplicated(["k", "rts"]).any()
    ldf, rdf = spark.createDataFrame(lpd), spark.createDataFrame(rpd)
    for direction in ("backward", "forward"):
        ref = {
            r.lid: r.m_rid
            for r in asof_join(
                ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
                payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                direction=direction, tolerance_sec=3600,
            ).collect()
        }
        got = {
            r.lid: r.m_rid
            for r in asof_join_bounded(
                ldf, rdf, on=["k"], left_id_cols=["lid"], left_ts="lts",
                right_ts="rts", payload_cols={"rid": "m_rid"},
                tolerance_sec=3600, right_order_cols=["rid"],
                direction=direction,
            ).collect()
        }
        assert got == ref, direction


def test_asof_ties_follow_pandas_both_directions(spark):
    """Equal right timestamps resolve like pandas merge_asof in every as-of
    operator: backward carries the LAST tied row in right_order_cols order,
    forward the FIRST — the rule asof_join_nearest already follows, so a
    nearest match and a one-direction match never disagree on a tie."""
    from lyra_spark.asof import asof_join_bounded

    rng = np.random.default_rng(41)
    n_l, n_r = 250, 240
    lpd = pd.DataFrame({
        "k": rng.integers(0, 4, n_l).astype(str),
        "lts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 120, n_l), unit="s"),
        "lid": np.arange(n_l),
    })
    rpd = pd.DataFrame({
        "k": rng.integers(0, 4, n_r).astype(str),
        "rts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 120, n_r), unit="s"),
        "rid": np.arange(n_r),
    })
    assert rpd.duplicated(["k", "rts"]).any()
    # sorting by (rts, rid) makes pandas' frame order the rid order
    rpd_sorted = rpd.sort_values(["rts", "rid"], kind="mergesort").reset_index(drop=True)
    ldf, rdf = spark.createDataFrame(lpd), spark.createDataFrame(rpd)
    for direction in ("backward", "forward"):
        exp = pd.merge_asof(
            lpd.sort_values(["lts", "lid"], kind="mergesort"),
            rpd_sorted.rename(columns={"rid": "m_rid"}),
            left_on="lts", right_on="rts", by="k", direction=direction,
            tolerance=pd.Timedelta(seconds=20),
        )
        exp = dict(zip(exp["lid"], exp["m_rid"].astype("float")))
        for got_df in (
            asof_join(ldf, rdf, on=["k"], left_ts="lts", right_ts="rts",
                      payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                      direction=direction, tolerance_sec=20),
            asof_join_bounded(ldf, rdf, on=["k"], left_id_cols=["lid"], left_ts="lts",
                              right_ts="rts", payload_cols={"rid": "m_rid"},
                              tolerance_sec=20, right_order_cols=["rid"],
                              direction=direction),
        ):
            got = {r.lid: float("nan") if r.m_rid is None else float(r.m_rid)
                   for r in got_df.collect()}
            assert pd.Series(got).sort_index().equals(pd.Series(exp).sort_index()), direction


def test_asof_bounded_accepts_numeric_epoch_ts(spark):
    """Numeric epoch-seconds ts columns must work in BOTH asof plans (the
    bounded variant once crashed at analysis on interval arithmetic)."""
    from lyra_spark.asof import asof_join_bounded

    left = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "lts": [100, 500], "lid": [1, 2]})
    )
    right = spark.createDataFrame(
        pd.DataFrame({"k": ["a", "a"], "rts": [90, 480], "rid": [10, 11]})
    )
    got = {
        r.lid: r.m_rid
        for r in asof_join_bounded(
            left, right, on=["k"], left_id_cols=["lid"], left_ts="lts",
            right_ts="rts", payload_cols={"rid": "m_rid"}, tolerance_sec=15,
            right_order_cols=["rid"],
        ).collect()
    }
    assert got == {1: 10, 2: None}  # gap 10 <= 15; gap 20 > 15


def test_asof_rejects_duplicate_payload_output_names(spark, asof_frames):
    import pytest

    from lyra_spark.asof import asof_join, asof_join_bounded

    left, right = asof_frames
    with pytest.raises(ValueError, match="duplicate payload output"):
        asof_join(left, right, on=["k"], left_ts="lts", right_ts="rts",
                  payload_cols={"val": "x", "rid": "x"})
    with pytest.raises(ValueError, match="duplicate payload output"):
        asof_join_bounded(left, right, on=["k"], left_id_cols=["lid"],
                          left_ts="lts", right_ts="rts",
                          payload_cols={"val": "x", "rid": "x"},
                          tolerance_sec=60.0)


def test_asof_bounded_restores_null_id_rows_with_their_match(spark):
    """A left row whose id is NULL still gets its match back (null-safe
    restore join) — asof_join's window plan never consults left ids, and the
    two variants are pinned row-equal."""
    import datetime

    from lyra_spark.asof import asof_join, asof_join_bounded

    t = lambda m: datetime.datetime(2024, 1, 1, 12, m, 0)
    left = spark.createDataFrame(
        [(1, "k1", t(10)), (None, "k1", t(20))], "lid int, k string, lts timestamp"
    )
    right = spark.createDataFrame(
        [(100, "k1", t(5)), (200, "k1", t(15))], "rid int, k string, rts timestamp"
    )
    kwargs = dict(on=["k"], left_ts="lts", right_ts="rts",
                  payload_cols={"rid": "matched_rid"})
    a = {(r["lid"], r["matched_rid"])
         for r in asof_join(left, right, tolerance_sec=3600.0, **kwargs).collect()}
    b = {(r["lid"], r["matched_rid"])
         for r in asof_join_bounded(left, right, left_id_cols=["lid"],
                                    tolerance_sec=3600.0, **kwargs).collect()}
    assert a == b == {(1, 100), (None, 200)}


def test_asof_nearest_matches_pandas(spark):
    """asof_join_nearest reproduces pandas merge_asof(direction='nearest')
    on a random per-key-unique-timestamp corpus, with and without tolerance;
    equidistant ties prefer backward (pandas' rule, pinned explicitly)."""
    from lyra_spark.asof import asof_join_nearest

    rng = np.random.default_rng(13)
    n_l, n_r = 300, 200
    pool = rng.choice(10**6, n_l + n_r, replace=False)
    lpd = pd.DataFrame({
        "k": rng.integers(0, 6, n_l).astype(str),
        "lts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[:n_l], unit="s"),
        "lid": np.arange(n_l),
    })
    rpd = pd.DataFrame({
        "k": rng.integers(0, 6, n_r).astype(str),
        "rts": pd.to_datetime("2024-01-01") + pd.to_timedelta(pool[n_l:], unit="s"),
        "rid": np.arange(n_r),
    })
    for tol in (None, 5000.0):
        got = (
            asof_join_nearest(
                spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                on=["k"], left_ts="lts", right_ts="rts",
                payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                tolerance_sec=tol,
            )
            .toPandas().sort_values("lid").reset_index(drop=True)
        )
        exp = pd.merge_asof(
            lpd.sort_values("lts"), rpd.sort_values("rts").rename(columns={"rid": "m_rid"}),
            on=None, left_on="lts", right_on="rts", by="k", direction="nearest",
            **({"tolerance": pd.Timedelta(seconds=tol)} if tol else {}),
        ).sort_values("lid").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["m_rid"].astype("float"), exp["m_rid"].astype("float"),
            check_names=False,
        )

    # explicit equidistant tie: backward wins
    lt = pd.DataFrame({"k": ["a"], "lts": pd.to_datetime(["2024-01-01 00:00:10"]), "lid": [0]})
    rt = pd.DataFrame({"k": ["a", "a"],
                       "rts": pd.to_datetime(["2024-01-01 00:00:08", "2024-01-01 00:00:12"]),
                       "rid": [100, 200]})
    got = asof_join_nearest(
        spark.createDataFrame(lt), spark.createDataFrame(rt),
        on=["k"], left_ts="lts", right_ts="rts",
        payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
    ).collect()
    assert got[0].m_rid == 100


def test_asof_nearest_duplicate_right_timestamps_match_pandas(spark):
    """Duplicate right timestamps (the case the unique-pool corpus above can
    never draw): when the nearest match resolves FORWARD, pandas carries the
    FIRST right row at that timestamp in sort order (a >= search is a lower
    bound), and when it resolves BACKWARD, the LAST. Round-4 ADVICE: the
    forward window used to carry the last tie instead of the first."""
    from lyra_spark.asof import asof_join_nearest

    rng = np.random.default_rng(29)
    n_l, n_r = 250, 240
    lpd = pd.DataFrame({
        "k": rng.integers(0, 4, n_l).astype(str),
        # coarse second grid -> plenty of exact collisions on the right
        "lts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 120, n_l), unit="s"),
        "lid": np.arange(n_l),
    })
    rpd = pd.DataFrame({
        "k": rng.integers(0, 4, n_r).astype(str),
        "rts": pd.to_datetime("2024-01-01")
        + pd.to_timedelta(rng.integers(0, 120, n_r), unit="s"),
        "rid": np.arange(n_r),
    })
    # pandas resolves equal-ts ties by frame order; sorting by (rts, rid)
    # makes "frame order" == "rid order", which is what right_order_cols pins
    rpd_sorted = rpd.sort_values(["rts", "rid"], kind="mergesort").reset_index(drop=True)
    for tol in (None, 30.0):
        got = (
            asof_join_nearest(
                spark.createDataFrame(lpd), spark.createDataFrame(rpd),
                on=["k"], left_ts="lts", right_ts="rts",
                payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
                tolerance_sec=tol,
            )
            .toPandas().sort_values("lid").reset_index(drop=True)
        )
        exp = pd.merge_asof(
            lpd.sort_values(["lts", "lid"], kind="mergesort"),
            rpd_sorted.rename(columns={"rid": "m_rid"}),
            left_on="lts", right_on="rts", by="k", direction="nearest",
            **({"tolerance": pd.Timedelta(seconds=tol)} if tol else {}),
        ).sort_values("lid").reset_index(drop=True)
        pd.testing.assert_series_equal(
            got["m_rid"].astype("float"), exp["m_rid"].astype("float"),
            check_names=False,
        )

    # pinned minimal case from the ADVICE: two right rows share the forward
    # timestamp; pandas (and now the engine) carries rid=100, not rid=200
    lt = pd.DataFrame({"k": ["a"], "lts": pd.to_datetime(["2024-01-01 00:00:10"]), "lid": [0]})
    rt = pd.DataFrame({"k": ["a"] * 3,
                       "rts": pd.to_datetime(["2024-01-01 00:00:01",
                                              "2024-01-01 00:00:12",
                                              "2024-01-01 00:00:12"]),
                       "rid": [50, 100, 200]})
    got = asof_join_nearest(
        spark.createDataFrame(lt), spark.createDataFrame(rt),
        on=["k"], left_ts="lts", right_ts="rts",
        payload_cols={"rid": "m_rid"}, right_order_cols=["rid"],
    ).collect()
    assert got[0].m_rid == 100
