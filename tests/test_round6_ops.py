"""Numpy/pure-python-pinned checks for the round-6 operator batch:
downsample (OHLC, LTTB), tsa (TWA, counter rate, trend), profile
(Benford), linkage (blocked pairs), graph (triangles), sketches
(deterministic HLL)."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np
import pytest

from pyspark.sql import functions as F

T0 = dt.datetime(2024, 1, 1)


def _series(spark, points, tag="a"):
    rows = [(tag, T0 + dt.timedelta(seconds=s), float(v)) for s, v in points]
    return spark.createDataFrame(rows, "tag string, ts timestamp, value double")


# ------------------------------------------------------------------ TWA


def test_time_weighted_avg_trapezoid(spark):
    from gordo_spark.operators.tsa import time_weighted_avg

    # one bucket (1h): samples at t=0 (v=0), t=600 (v=10), t=1800 (v=10)
    # segments: (0+10)/2*600 = 3000 ; (10+10)/2*1200 = 12000 -> twa = 15000/1800
    df = _series(spark, [(0, 0.0), (600, 10.0), (1800, 10.0)])
    row = time_weighted_avg(df, 3600).collect()[0]
    assert row["twa"] == pytest.approx(round(15000 / 1800, 6))
    assert row["n_samples"] == 3


def test_time_weighted_avg_single_sample_falls_back_to_mean(spark):
    from gordo_spark.operators.tsa import time_weighted_avg

    # second bucket has ONE sample -> no intra-bucket segment -> plain mean
    df = _series(spark, [(0, 1.0), (100, 3.0), (4000, 7.0)])
    out = {r["bucket_ts"]: r["twa"] for r in time_weighted_avg(df, 3600).collect()}
    assert out[T0 + dt.timedelta(seconds=3600)] == 7.0
    assert out[T0] == pytest.approx(2.0)  # (1+3)/2 * 100 / 100


# --------------------------------------------------------- counter rate


def test_counter_rate_with_reset(spark):
    from gordo_spark.operators.tsa import counter_rate

    # monotone 0->5->12, reset to 2, then 9: increase = 5+7+2+7 = 21
    df = _series(spark, [(0, 0.0), (10, 5.0), (20, 12.0), (30, 2.0), (40, 9.0)])
    row = counter_rate(df, 3600).collect()[0]
    assert row["increase"] == pytest.approx(21.0)
    assert row["n_resets"] == 1
    assert row["rate_per_sec"] == pytest.approx(round(21.0 / 3600, 6))


def test_counter_rate_no_cross_bucket_delta(spark):
    from gordo_spark.operators.tsa import counter_rate

    # one sample per bucket -> no deltas at all, increase 0 everywhere
    df = _series(spark, [(0, 100.0), (3600, 200.0), (7200, 300.0)])
    rows = counter_rate(df, 3600).collect()
    assert all(r["increase"] == 0.0 for r in rows)


# ----------------------------------------------------------------- trend


def test_trend_matches_numpy_polyfit(spark):
    from gordo_spark.operators.tsa import trend

    rng = np.random.RandomState(5)
    hours = np.arange(100)
    y = 0.7 * hours + 3.0 + rng.randn(100) * 0.1
    df = _series(spark, [(int(h) * 3600, float(v)) for h, v in zip(hours, y)])
    row = trend(df).collect()[0]
    x_hours = np.array(
        [(T0 + dt.timedelta(hours=int(h))).timestamp() / 3600 for h in hours]
    )
    slope, intercept = np.polyfit(x_hours, y, 1)
    assert row["slope_per_hour"] == pytest.approx(round(slope, 6), abs=1e-5)
    assert row["intercept"] == pytest.approx(round(intercept, 6), rel=1e-4)
    assert row["r2"] > 0.999
    assert row["n"] == 100


# ------------------------------------------------------------------ OHLC


def test_resample_ohlc(spark):
    from gordo_spark.operators.downsample import resample_ohlc

    df = _series(spark, [(0, 5.0), (10, 9.0), (20, 1.0), (30, 7.0)])
    row = resample_ohlc(df, 3600).collect()[0]
    assert (row["open"], row["high"], row["low"], row["close"], row["n"]) == (
        5.0,
        9.0,
        1.0,
        7.0,
        4,
    )


def test_resample_ohlc_tie_breaks_to_smaller_value(spark):
    from gordo_spark.operators.downsample import resample_ohlc

    # two samples at the SAME ts: open/close resolve to the smaller value
    df = _series(spark, [(0, 8.0), (0, 3.0)])
    row = resample_ohlc(df, 3600).collect()[0]
    assert row["open"] == 3.0 and row["close"] == 8.0


# ------------------------------------------------------------------ LTTB


def _lttb_ref(ts, vs, nb):
    """Pure-python parallel-anchor LTTB mirroring the operator's spec."""
    cnt = len(ts)
    if cnt <= nb:
        return list(range(cnt))
    bucket = {}
    for i in range(cnt):
        if i == 0:
            b = 0
        elif i == cnt - 1:
            b = nb - 1
        else:
            b = 1 + ((i - 1) * (nb - 2)) // (cnt - 2)
        bucket.setdefault(b, []).append(i)
    anchors = {
        b: (round(float(np.mean([ts[i] for i in idx])), 6),
            round(float(np.mean([vs[i] for i in idx])), 6))
        for b, idx in bucket.items()
    }
    keep = []
    bs = sorted(bucket)
    for j, b in enumerate(bs):
        idx = bucket[b]
        xl, yl = anchors[bs[j - 1]] if j > 0 else (None, None)
        xr, yr = anchors[bs[j + 1]] if j < len(bs) - 1 else (None, None)
        if xl is None or xr is None:
            keep.append(idx[0])
            continue
        best, best_key = None, None
        for i in idx:
            area = round(abs((xl - xr) * (vs[i] - yl) - (xl - ts[i]) * (yr - yl)), 6)
            key = (area, -ts[i])
            if best_key is None or key > best_key:
                best, best_key = i, key
        keep.append(best)
    return keep


def test_lttb_matches_reference_impl(spark):
    from gordo_spark.operators.downsample import lttb

    rng = np.random.RandomState(9)
    n = 200
    vs = np.cumsum(rng.randn(n))
    ts = [i * 3600 for i in range(n)]
    df = _series(spark, list(zip(ts, vs)))
    out = lttb(df, 20).orderBy("bucket").collect()
    exp_idx = _lttb_ref([t + T0.timestamp() for t in ts], list(vs), 20)
    assert len(out) == 20
    got = [(r["ts"], r["value"]) for r in out]
    exp = [(T0 + dt.timedelta(seconds=ts[i]), float(vs[i])) for i in exp_idx]
    assert got == exp


def test_lttb_pass_through_small_series(spark):
    from gordo_spark.operators.downsample import lttb

    df = _series(spark, [(i * 60, float(i)) for i in range(5)])
    out = lttb(df, 10).orderBy("bucket").collect()
    assert len(out) == 5
    assert [r["value"] for r in out] == [0.0, 1.0, 2.0, 3.0, 4.0]


def test_lttb_keeps_endpoints(spark):
    from gordo_spark.operators.downsample import lttb

    df = _series(spark, [(i * 60, float(i % 7)) for i in range(100)])
    out = {r["bucket"]: r for r in lttb(df, 10).collect()}
    assert out[0]["value"] == 0.0 and out[0]["ts"] == T0
    assert out[9]["ts"] == T0 + dt.timedelta(seconds=99 * 60)


# --------------------------------------------------------------- Benford


def test_benford_digits(spark):
    from gordo_spark.operators.profile import benford

    # 30 ones, 10 twos, 5 nines; zeros/negatives excluded
    vals = [1.5] * 30 + [25.0] * 10 + [900.0] * 5 + [0.0, -3.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    out = {r["digit"]: r for r in benford(df, "v").collect()}
    assert len(out) == 9  # densified: all digits present
    assert out[1]["n"] == 30 and out[2]["n"] == 10 and out[9]["n"] == 5
    assert out[3]["n"] == 0
    assert out[1]["obs_p"] == pytest.approx(round(30 / 45, 6))
    assert out[1]["exp_p"] == pytest.approx(round(math.log10(2), 6))
    # chi-square: same value on every row, matches the by-hand sum
    total = 45
    chi = sum(
        (out[d]["n"] - total * math.log10(1 + 1 / d)) ** 2
        / (total * math.log10(1 + 1 / d))
        for d in range(1, 10)
    )
    assert out[5]["chi2"] == pytest.approx(round(chi, 6), abs=1e-4)


# --------------------------------------------------------------- linkage


def test_blocked_pairs(spark):
    from gordo_spark.operators.linkage import blocked_pairs

    rows = [
        (1, "smith", "NY"),
        (2, "smyth", "NY"),   # dist 1, same block
        (3, "smith", "CA"),   # same name, different block -> excluded
        (4, "smith", "NY"),   # exact dup of 1 in-block -> dist 0
        (5, "jones", "NY"),   # too far from smith
    ]
    df = spark.createDataFrame(rows, "id int, name string, state string")
    out = {(r["id_a"], r["id_b"]): r["dist"] for r in
           blocked_pairs(df, "id", "name", ["state"], max_dist=1).collect()}
    assert out == {(1, 2): 1, (1, 4): 0, (2, 4): 1}


# ----------------------------------------------------------------- graph


def test_triangle_stats_known_graph(spark):
    from gordo_spark.operators.graph import triangle_stats

    # triangle 1-2-3 plus pendant edge 3-4: 1 triangle, 5 wedges
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4)], "a int, b int"
    )
    row = triangle_stats(edges).collect()[0]
    assert row["n_nodes"] == 4 and row["n_edges"] == 4
    assert row["n_triangles"] == 1
    assert row["n_wedges"] == 5  # deg 2,2,3,1 -> 1+1+3+0
    assert row["global_clustering"] == pytest.approx(0.6)


def test_ab_zstat_matches_hand_proportion_test(spark):
    import hashlib

    from gordo_spark.operators.experiments import ab_zstat

    # conversion depends only on user id parity; assignment only on md5
    rows = [(u, t, u % 3 == 0) for u in range(200) for t in range(2)]
    df = spark.createDataFrame(rows, "user_id long, k int, converted boolean")
    row = ab_zstat(df, "user_id", "converted", salt="s").collect()[0]

    def variant(u: int) -> int:
        return int(hashlib.md5(f"s{u}".encode()).hexdigest()[:8], 16) % 2

    conv = {0: 0, 1: 0}
    n = {0: 0, 1: 0}
    for u in range(200):
        v = variant(u)
        n[v] += 1
        conv[v] += u % 3 == 0
    assert (row["n_a"], row["n_b"]) == (n[0], n[1])
    assert (row["conv_a"], row["conv_b"]) == (conv[0], conv[1])
    pa, pb = conv[0] / n[0], conv[1] / n[1]
    pool = (conv[0] + conv[1]) / (n[0] + n[1])
    se = math.sqrt(pool * (1 - pool) * (1 / n[0] + 1 / n[1]))
    assert row["z"] == pytest.approx(round((pb - pa) / se, 6), abs=1e-6)
    assert row["significant"] == (abs((pb - pa) / se) > 1.96)


def test_tag_mutual_info_dependence_extremes(spark):
    from gordo_spark.operators.tsa import tag_mutual_info

    # y == x: MI equals the bin entropy (here uniform over 8 bins -> ln 8)
    rows = []
    for i in range(64):
        ts = T0 + dt.timedelta(hours=i)
        rows.append(("a", ts, float(i)))
        rows.append(("b", ts, float(i)))
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    row = tag_mutual_info(df, "a", "b", bins=8).collect()[0]
    assert row["n_pairs"] == 64 and row["n_cells"] == 8
    assert row["mi"] == pytest.approx(round(math.log(8), 6), abs=1e-6)

    # independent checkerboard: b cycles fast, a slow -> joint uniform,
    # marginals uniform -> MI == 0
    rows = []
    for i in range(64):
        ts = T0 + dt.timedelta(hours=i)
        rows.append(("a", ts, float(i // 8)))
        rows.append(("b", ts, float(i % 8)))
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    row = tag_mutual_info(df, "a", "b", bins=8).collect()[0]
    assert row["mi"] == pytest.approx(0.0, abs=1e-6)
    assert row["n_cells"] == 64


def test_fs_scores_match_hand_computation(spark):
    from gordo_spark.operators.linkage import fs_scores

    # 4 records, one candidate pair (1,2): agree on city, disagree on
    # zip (2's zip is NULL -> disagreement by contract)
    recs = spark.createDataFrame(
        [(1, "oslo", "0150"), (2, "oslo", None),
         (3, "bergen", "5003"), (4, "oslo", "0150")],
        "rid int, city string, zip string",
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a int, id_b int")
    row = fs_scores(pairs, recs, "rid", ["city", "zip"], m=0.9).collect()[0]
    # u_city: oslo triple -> 3*2=6 ordered agreeing pairs / 12 = 0.5
    # u_zip: "0150" twice -> 2*1=2 / 12 = 1/6 (NULL rows excluded)
    u_city, u_zip = 6 / 12, 2 / 12
    expect = math.log2(0.9 / u_city) + math.log2(0.1 / (1 - u_zip))
    assert row["n_agree"] == 1
    assert row["score"] == pytest.approx(round(expect, 6), abs=1e-6)


def test_pagerank_matches_numpy_power_iteration(spark):
    from gordo_spark.operators.graph import pagerank

    # triangle 1-2-3 plus pendant edge 3-4 (same graph as the census)
    edge_list = [(1, 2), (1, 3), (2, 3), (3, 4)]
    edges = spark.createDataFrame(edge_list, "a int, b int")
    got = {r["v"]: r["rank"] for r in pagerank(edges, 0.85, 8).collect()}

    nodes = sorted({v for e in edge_list for v in e})
    idx = {v: i for i, v in enumerate(nodes)}
    adj = np.zeros((4, 4))
    for a, b in edge_list:
        adj[idx[a], idx[b]] = adj[idx[b], idx[a]] = 1.0
    deg = adj.sum(axis=1)
    r = np.full(4, 0.25)
    for _ in range(8):
        r = 0.15 / 4 + 0.85 * (adj.T @ (r / deg))
    for v in nodes:
        assert got[v] == pytest.approx(r[idx[v]], abs=1e-6)
    # damping mass conservation: ranks sum to ~1 on a dangling-free graph
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-5)


def test_theil_sen_ignores_one_outlier(spark):
    from gordo_spark.operators.tsa import theil_sen

    # slope 2.0/hour with one wild spike: OLS would move, Sen must not
    pts = [(h * 3600, 2.0 * h) for h in range(10)]
    pts[5] = (5 * 3600, 1000.0)
    df = _series(spark, pts)
    row = theil_sen(df).collect()[0]
    assert row["n_pairs"] == 45
    assert row["sen_slope_per_hour"] == pytest.approx(2.0, abs=1e-6)


def test_k_core_peels_pendants(spark):
    from gordo_spark.operators.graph import k_core

    # triangle 1-2-3 with a pendant chain 3-4, 4-5: 2-core = the
    # triangle only (peeling 5 exposes 4, which then peels too)
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "a int, b int"
    )
    core2 = {r["v"]: r["degree"] for r in k_core(edges, k=2, rounds=8).collect()}
    assert core2 == {1: 2, 2: 2, 3: 2}
    assert k_core(edges, k=3, rounds=8).count() == 0


def test_co_occurrence_edges_support_filter(spark):
    from gordo_spark.operators.graph import co_occurrence_edges

    rows = [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z")]
    df = spark.createDataFrame(rows, "g int, item string")
    out = co_occurrence_edges(df, "g", "item", min_support=2).collect()
    assert [(r["a"], r["b"], r["n_groups"]) for r in out] == [("x", "y", 2)]


# ------------------------------------------------------------------- HLL


def test_hll_det_accuracy_and_merge(spark):
    from gordo_spark.operators.sketches import hll_det_estimate, hll_det_registers

    df = spark.range(5000).select(F.col("id").cast("string").alias("v"))
    regs = hll_det_registers(df, "v")
    est = hll_det_estimate(regs).collect()[0]["hll_distinct"]
    # 256 registers -> ~6.5% rsd; 3 sigma bound
    assert abs(est - 5000) / 5000 < 0.2
    # determinism: same input -> bit-identical estimate
    est2 = hll_det_estimate(hll_det_registers(df, "v")).collect()[0]["hll_distinct"]
    assert est == est2
    # duplicates don't move the estimate (distinct semantics)
    df2 = df.unionAll(df)
    est3 = hll_det_estimate(hll_det_registers(df2, "v")).collect()[0]["hll_distinct"]
    assert est3 == est


def test_hll_det_small_range_linear_counting(spark):
    from gordo_spark.operators.sketches import hll_det_estimate, hll_det_registers

    df = spark.range(10).select(F.col("id").cast("string").alias("v"))
    est = hll_det_estimate(hll_det_registers(df, "v")).collect()[0]["hll_distinct"]
    assert abs(est - 10) <= 1  # linear counting is near-exact here


@pytest.mark.parametrize("name", ["_h", "_st"])
def test_hll_det_registers_group_column_named_like_internals(spark, name):
    from gordo_spark.operators.sketches import hll_det_registers

    df = spark.range(300).select(
        (F.col("id") % 3).alias("g"), F.col("id").cast("string").alias("v")
    )
    key = ["g", "idx", "m"]
    want = sorted(tuple(r) for r in hll_det_registers(df, "v", ["g"]).select(*key).collect())
    got = hll_det_registers(df.withColumnRenamed("g", name), "v", [name])
    assert sorted(tuple(r) for r in got.select(F.col(name).alias("g"), "idx", "m").collect()) == want


# ----------------------------------------------------------- attribution


def test_attribution_first_and_last_touch(spark):
    from gordo_spark.operators.ranges import attribution

    rows = [
        # user 1: click -> view -> purchase  (first=click, last=view)
        (1, 1, 0, "click"), (2, 1, 10, "view"), (3, 1, 20, "purchase"),
        # user 2: purchase with no preceding touch -> 'none'
        (4, 2, 0, "purchase"),
        # user 2 again: signup then purchase (first=signup, last=signup)
        (5, 2, 10, "signup"), (6, 2, 20, "purchase"),
        # error events are not touches
        (7, 1, 15, "error"),
    ]
    df = spark.createDataFrame(
        [(e, u, T0 + dt.timedelta(seconds=s), t, 1.0) for e, u, s, t in rows],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    out = {r["touch"]: r for r in
           attribution(df, "purchase", ["click", "view", "signup"]).collect()}
    assert out["click"]["n_first_touch"] == 1 and out["click"]["n_last_touch"] == 0
    assert out["view"]["n_first_touch"] == 0 and out["view"]["n_last_touch"] == 1
    assert out["signup"]["n_first_touch"] == 1 and out["signup"]["n_last_touch"] == 1
    assert out["none"]["n_first_touch"] == 1 and out["none"]["n_last_touch"] == 1


# ----------------------------------------------------------------- hampel


def test_hampel_flags_and_repairs_spike(spark):
    from gordo_spark.operators.smoothing import hampel

    vals = [10.0] * 10 + [100.0] + [10.0] * 10  # lone spike at index 10
    df = _series(spark, [(i * 3600, v) for i, v in enumerate(vals)])
    out = hampel(df, k=5, n_sigmas=3.0).collect()
    flagged = [r for r in out if r["is_outlier"]]
    assert len(flagged) == 1
    assert flagged[0]["value"] == 100.0
    assert flagged[0]["filtered"] == 10.0  # repaired to window median
    # every clean point passes through untouched
    assert all(r["filtered"] == r["value"] for r in out if not r["is_outlier"])


def test_hampel_even_window_median(spark):
    from gordo_spark.operators.smoothing import hampel

    # 4 points, k=5 -> whole-series windows of size 4 (even): median
    # averages the middle two
    df = _series(spark, [(i * 60, v) for i, v in enumerate([1.0, 2.0, 3.0, 10.0])])
    out = {r["value"]: r["med"] for r in hampel(df, k=5).collect()}
    assert out[1.0] == pytest.approx(2.5)


# ------------------------------------------------------------------ peaks


def test_peaks_detects_dominant_local_maxima(spark):
    from gordo_spark.operators.smoothing import peaks

    vals = [0, 1, 5, 1, 0, 2, 8, 2, 0, 3]
    df = _series(spark, [(i * 3600, float(v)) for i, v in enumerate(vals)])
    out = peaks(df, k=2).orderBy("ts").collect()
    got = [r["value"] for r in out]
    # 5 dominates +/-2; 8 dominates +/-2; trailing 3 dominates its left 2
    assert got == [5.0, 8.0, 3.0]
    assert out[1]["margin"] == pytest.approx(6.0)  # 8 - max(2,2)


# -------------------------------------------------------------------- SAX


def test_sax_word_shape_and_letters(spark):
    from gordo_spark.operators.downsample import sax

    # ramp: low half then high half -> word starts 'a', ends 'd'
    df = _series(spark, [(i * 3600, float(i)) for i in range(64)])
    row = sax(df, word_len=8, alphabet=4).collect()[0]
    assert len(row["sax_word"]) == 8
    assert row["sax_word"][0] == "a" and row["sax_word"][-1] == "d"
    assert row["n_points"] == 64
    # monotone input -> non-decreasing letters
    assert list(row["sax_word"]) == sorted(row["sax_word"])


def test_sax_constant_series_is_all_mid(spark):
    from gordo_spark.operators.downsample import sax

    df = _series(spark, [(i * 3600, 7.0) for i in range(32)])
    row = sax(df, word_len=4, alphabet=4).collect()[0]
    assert row["sax_word"] == "bbbb"  # z=0 -> first band with pm <= 0.0


def test_sax_rejects_unknown_alphabet(spark):
    from gordo_spark.operators.downsample import sax

    with pytest.raises(ValueError):
        sax(_series(spark, [(0, 1.0)]), alphabet=7)


# ------------------------------------------------------------ merge_upsert


def test_merge_upsert_actions(spark):
    from gordo_spark.sources.lake import merge_upsert

    cur = spark.createDataFrame(
        [(1, 10.0, "A"), (2, 20.0, "B"), (3, None, "C")],
        "k int, bal double, seg string",
    )
    upd = spark.createDataFrame(
        [(2, 25.0, "B"),      # changed value  -> update
         (3, None, "C"),      # null == null (null-safe) -> unchanged
         (9, 90.0, "Z")],     # new key -> insert
        "k int, bal double, seg string",
    )
    out = {r["k"]: r for r in
           merge_upsert(cur, upd, ["k"], ["bal", "seg"]).collect()}
    assert len(out) == 4
    assert out[1]["action"] == "unchanged" and out[1]["bal"] == 10.0
    assert out[2]["action"] == "update" and out[2]["bal"] == 25.0
    assert out[3]["action"] == "unchanged"
    assert out[9]["action"] == "insert" and out[9]["bal"] == 90.0


# -------------------------------------------------------- weighted sample


def test_weighted_sample_matches_reference_and_favors_weight(spark):
    import hashlib

    from gordo_spark.operators.sampling import weighted_sample

    # 100 rows: ids 0..89 weight 1, ids 90..99 weight 100
    rows = [(i, 100.0 if i >= 90 else 1.0) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    out = weighted_sample(df, "w", 10, group_by=[]).collect()
    assert len(out) == 10
    # reference: same md5 construction in pure python
    def key(i, w):
        h = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967296.0
        return -math.log(u) / w

    exp = sorted(rows, key=lambda r: (key(*r), r[0]))[:10]
    assert sorted(r["doc_id"] for r in out) == sorted(i for i, _ in exp)
    # heavy-weight rows dominate the sample (E-S inclusion property)
    heavy = sum(1 for r in out if r["doc_id"] >= 90)
    assert heavy >= 7


def test_weighted_sample_excludes_nonpositive_weights(spark):
    from gordo_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(1, 5.0), (2, 0.0), (3, -1.0), (4, None)], "doc_id long, w double"
    )
    out = weighted_sample(df, "w", 10).collect()
    assert [r["doc_id"] for r in out] == [1]


def test_weighted_sample_is_repartition_stable(spark):
    from gordo_spark.operators.sampling import weighted_sample

    df = spark.createDataFrame(
        [(i, float(i % 7 + 1)) for i in range(200)], "doc_id long, w double"
    )
    a = sorted(r["doc_id"] for r in weighted_sample(df, "w", 15).collect())
    b = sorted(
        r["doc_id"]
        for r in weighted_sample(df.repartition(13), "w", 15).collect()
    )
    assert a == b


# --------------------------------------------------------- conversion lag


def test_conversion_lag_percentiles(spark):
    from gordo_spark.operators.ranges import conversion_lag

    rows = []
    # users 1-4: signup at t=0, purchase at 100/200/300/400s
    for u, lag in [(1, 100), (2, 200), (3, 300), (4, 400)]:
        rows.append((u * 10, u, T0, "signup"))
        rows.append((u * 10 + 1, u, T0 + dt.timedelta(seconds=lag), "purchase"))
    # user 5 signs up, never converts; user 6 purchases BEFORE signup only
    rows.append((50, 5, T0, "signup"))
    rows.append((60, 6, T0 + dt.timedelta(seconds=50), "purchase"))
    rows.append((61, 6, T0 + dt.timedelta(seconds=100), "signup"))
    df = spark.createDataFrame(
        [(e, u, ts, t, 1.0) for e, u, ts, t in rows],
        "event_id long, user_id long, ts timestamp, event_type string, value double",
    )
    row = conversion_lag(df, "signup", "purchase").collect()[0]
    assert row["n_converted"] == 4
    assert row["n_started"] == 6
    assert row["p50_s"] == pytest.approx(250.0)  # interpolated median
    assert row["mean_s"] == pytest.approx(250.0)
    assert row["p90_s"] == pytest.approx(np.percentile([100, 200, 300, 400], 90))


# ------------------------------------------------------------- LSH recall


def test_lsh_eval_perfect_on_exact_duplicates(spark):
    from gordo_spark.operators.dedup import lsh_eval

    # 30 docs, each duplicated verbatim: every true pair shares ALL
    # minhashes -> every band collides -> recall 1.0
    texts = [
        " ".join(f"w{i}_{j}" for j in range(30)) for i in range(30)
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(i + 1000, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    row = lsh_eval(df, num_hashes=8, bands=4, threshold=0.5).collect()[0]
    assert row["n_truth"] == 30
    assert row["n_hit"] == 30
    assert row["recall"] == 1.0
    assert row["precision"] == pytest.approx(30 / row["n_candidates"])


# ------------------------------------------------------------ rolling corr


def test_rolling_corr_tracks_regime_change(spark):
    from gordo_spark.operators.tsa import rolling_corr

    rng = np.random.RandomState(13)
    x = rng.randn(120)
    rows = []
    for i in range(120):
        ts = T0 + dt.timedelta(hours=i)
        rows.append(("a", ts, float(x[i])))
        # b follows a for the first 60 hours, then flips sign
        rows.append(("b", ts, float(x[i] if i < 60 else -x[i])))
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    out = rolling_corr(df, "a", "b", window_seconds=24 * 3600).orderBy("ts").collect()
    assert out[59]["corr_ab"] == pytest.approx(1.0, abs=1e-6)
    assert out[119]["corr_ab"] == pytest.approx(-1.0, abs=1e-6)
    assert out[0]["corr_ab"] is None  # single pair in frame
    assert out[30]["n_pairs"] == 24


def test_rolling_corr_matches_pandas(spark):
    from gordo_spark.operators.tsa import rolling_corr

    rng = np.random.RandomState(21)
    a, b = rng.randn(50), rng.randn(50)
    rows = []
    for i in range(50):
        ts = T0 + dt.timedelta(hours=i)
        rows.append(("a", ts, float(a[i])))
        rows.append(("b", ts, float(b[i])))
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    out = rolling_corr(df, "a", "b", window_seconds=10 * 3600).orderBy("ts").collect()
    import pandas as pd

    exp = pd.Series(a).rolling(10, min_periods=2).corr(pd.Series(b))
    for i in (9, 25, 49):
        assert out[i]["corr_ab"] == pytest.approx(round(exp.iloc[i], 6), abs=1e-6)


# -------------------------------------------------------------- ADF screen


def test_adf_screen_separates_noise_from_random_walk(spark):
    from gordo_spark.operators.tsa import adf_screen

    rng = np.random.RandomState(17)
    noise = rng.randn(400)            # stationary: strongly negative t
    walk = np.cumsum(rng.randn(400))  # unit root: t near 0
    rows = [("noise", T0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(noise)]
    rows += [("walk", T0 + dt.timedelta(hours=i), float(v)) for i, v in enumerate(walk)]
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    out = {r["tag"]: r for r in adf_screen(df, 3600).collect()}
    assert out["noise"]["stationary"] is True
    assert out["noise"]["t_stat"] < -10
    assert out["walk"]["stationary"] is False
    assert out["walk"]["t_stat"] > -2.86
    assert out["noise"]["n"] == 399


def test_adf_t_stat_matches_numpy_ols(spark):
    from gordo_spark.operators.tsa import adf_screen

    rng = np.random.RandomState(23)
    v = np.cumsum(rng.randn(200)) * 0.5 + rng.randn(200)
    rows = [("a", T0 + dt.timedelta(hours=i), float(x)) for i, x in enumerate(v)]
    df = spark.createDataFrame(rows, "tag string, ts timestamp, value double")
    row = adf_screen(df, 3600).collect()[0]
    dv, x = np.diff(v), v[:-1]
    X = np.column_stack([np.ones_like(x), x])
    beta, res, *_ = np.linalg.lstsq(X, dv, rcond=None)
    n = len(dv)
    sse = float(((dv - X @ beta) ** 2).sum())
    sxx = float(((x - x.mean()) ** 2).sum())
    se = math.sqrt(sse / (n - 2) / sxx)
    assert row["gamma"] == pytest.approx(round(beta[1], 6), abs=1e-5)
    assert row["t_stat"] == pytest.approx(round(beta[1] / se, 6), abs=1e-4)


# --------------------------------------------------------- wordlist filter


def test_wordlist_filter_leet_folding(spark):
    from gordo_spark.operators.text import wordlist_filter

    rows = [
        (1, "a b4d word and a B@D one"),   # two leet variants of 'bad'
        (2, "all clean tokens here"),
        (3, ""),                            # empty doc keeps with 0s
        (4, "bad bad bad bad"),             # 100% flagged -> dropped
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           wordlist_filter(df, ["bad"], max_frac=0.5).collect()}
    assert out[1]["n_flagged"] == 2 and out[1]["keep"] is True
    assert out[2]["n_flagged"] == 0 and out[2]["keep"] is True
    assert out[3]["n_tokens"] == 0 and out[3]["keep"] is True
    assert out[4]["flag_frac"] == 1.0 and out[4]["keep"] is False


# ------------------------------------------------------------- webdataset


def test_webdataset_round_trip(spark, tmp_path):
    from gordo_spark.sources.webdataset import read_webdataset, write_webdataset

    rows = [(i, f"doc text {i}", bytes([i % 256, 1, 2])) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, text string, payload binary")
    path = str(tmp_path / "wds")
    manifest = write_webdataset(
        df, path, n_shards=8, payload_col="payload"
    ).collect()
    assert sum(r["n_entries"] for r in manifest) == 100
    assert len(manifest) == 8
    back = read_webdataset(spark, path, with_payload=True).collect()
    assert len(back) == 100
    got = {int(r["doc_id"]): (r["text"], bytes(r["payload"])) for r in back}
    for i, t, p in rows:
        assert got[i] == (t, p)


def test_webdataset_shards_are_byte_reproducible(spark, tmp_path):
    import hashlib

    from gordo_spark.sources.webdataset import write_webdataset

    rows = [(i, f"t{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_webdataset(df, p1, n_shards=4)
    write_webdataset(df.repartition(7), p2, n_shards=4)

    import os as _os

    def digest(root):
        return {
            f: hashlib.md5(open(_os.path.join(root, f), "rb").read()).hexdigest()
            for f in sorted(_os.listdir(root))
            if f.endswith(".tar")
        }

    assert digest(p1) == digest(p2)  # repartition-stable, byte-identical


# ------------------------------------------------------- sensors pipeline


def test_sensors_pipeline_end_to_end(spark, tmp_path, sf_dir):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "sensors_pipeline", "/root/repo/examples/sensors_pipeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "sensors_out")
    screen = mod.diagnose(spark, sf_dir, out)
    rows = {r["tag"]: r for r in screen.collect()}
    assert set(rows) == set(mod.TAGS)
    for r in rows.values():
        assert r["n"] > 0 and r["slope_per_hour"] is not None
        assert r["stationary"] in (True, False)
        assert r["sen_slope_per_hour"] is not None
        assert r["ks"] is not None
    import os as _os

    for name in ("gaps", "twa_daily", "candles", "screen", "seasonal",
                 "envelope", "xcorr", "coupling", "lttb", "sax"):
        assert _os.path.isdir(_os.path.join(out, name))
    # the dashboard tier reads back per-tag partitions
    back = spark.read.parquet(_os.path.join(out, "lttb"))
    assert back.select("tag").distinct().count() == len(mod.TAGS)


def test_reconcile_totals_buckets(spark):
    from gordo_spark.operators.quality_checks import reconcile_totals

    # parent 1 matches, 2 mismatches, 3 childless; child key 4 orphan
    parents = spark.createDataFrame(
        [(1, 100.0), (2, 100.0), (3, 50.0)], "k int, total double"
    )
    children = spark.createDataFrame(
        [(1, 60.0), (1, 40.0), (2, 90.0), (4, 7.0)], "k int, amt double"
    )
    row = reconcile_totals(
        parents, children, "k", "total", F.col("amt"), rel_tol=0.01
    ).collect()[0]
    assert row["n_parents"] == 3
    assert row["n_matched"] == 1
    assert row["n_mismatched"] == 1
    assert row["n_childless_parents"] == 1
    assert row["n_orphan_child_groups"] == 1
    assert row["max_rel_err"] == pytest.approx(0.1, abs=1e-6)


def test_analytics_pipeline_end_to_end(spark, tmp_path, sf_dir):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "analytics_pipeline", "/root/repo/examples/analytics_pipeline.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = str(tmp_path / "analytics_out")
    drift = mod.analyze(spark, sf_dir, out)
    rows = {r["tag"]: r for r in drift.collect()}
    assert len(rows) == 5
    for r in rows.values():
        assert r["psi"] is not None and r["ks"] is not None
    import os as _os

    for name in ("sessions", "funnel", "attribution", "ab", "rfm",
                 "lift", "centrality", "drift"):
        assert _os.path.isdir(_os.path.join(out, name))
    ab = spark.read.parquet(_os.path.join(out, "ab")).collect()[0]
    assert ab["n_a"] + ab["n_b"] > 0
    # z is null exactly when the pooled proportion is degenerate (0 or 1
    # — every unit converted at this tiny sf); otherwise it must exist
    pool = (ab["conv_a"] + ab["conv_b"]) / (ab["n_a"] + ab["n_b"])
    assert (ab["z"] is not None) == (0 < pool < 1)
    # pagerank mass conservation on the co-purchase graph
    pr = spark.read.parquet(_os.path.join(out, "centrality"))
    total = pr.agg(F.sum("rank")).collect()[0][0]
    assert total == pytest.approx(1.0, abs=1e-3)


def test_k_anonymity_buckets_and_null_grouping(spark):
    from gordo_spark.operators.quality_checks import k_anonymity

    # zip A has 3 rows (violates k=3? no — meets), zip B has 1 (violates),
    # two NULL zips group together (size 2 -> violates k=3)
    rows = [("A",), ("A",), ("A",), ("B",), (None,), (None,)]
    df = spark.createDataFrame(rows, "zip string")
    row = k_anonymity(df, ["zip"], k=3).collect()[0]
    assert row["n_rows"] == 6 and row["n_groups"] == 3
    assert row["min_group_size"] == 1
    assert row["n_violating_groups"] == 2
    assert row["n_rows_at_risk"] == 3
    assert row["anonymous"] is False
    ok = k_anonymity(df, ["zip"], k=1).collect()[0]
    assert ok["anonymous"] is True
    with pytest.raises(ValueError):
        k_anonymity(df, [], k=3)


def test_cdc_apply_latest_wins_with_deletes(spark):
    from gordo_spark.sources.lake import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k int, name string, v double",
    )
    changes = spark.createDataFrame(
        [
            (1, T0, "U", "a2", 11.0),               # superseded...
            (1, T0 + dt.timedelta(1), "U", "a3", None),  # ...by null-set update
            (2, T0, "D", None, None),               # hard delete
            (4, T0, "I", "d", 40.0),                # brand new key
            (5, T0, "I", "e", 50.0),                # insert then delete
            (5, T0 + dt.timedelta(1), "D", None, None),
        ],
        "k int, ts timestamp, op string, name string, v double",
    )
    out = {r["k"]: r for r in cdc_apply(snap, changes, ["k"]).collect()}
    assert set(out) == {1, 3, 4}
    assert out[1]["action"] == "updated" and out[1]["name"] == "a3"
    assert out[1]["v"] is None  # null-set update must beat the old value
    assert out[3]["action"] == "kept" and out[3]["v"] == 30.0
    assert out[4]["action"] == "inserted" and out[4]["name"] == "d"
    # unknown op kills the job, never passes rows through
    bad = spark.createDataFrame(
        [(9, T0, "X", "z", 1.0)], "k int, ts timestamp, op string, name string, v double"
    )
    with pytest.raises(Exception):
        cdc_apply(snap, bad, ["k"]).collect()


# ------------------------------------------------------------ SCD2 history


def test_scd2_from_changes(spark):
    from gordo_spark.sources.lake import scd2_from_changes

    rows = [
        (1, 10, T0, "bronze"),
        (1, 11, T0 + dt.timedelta(days=1), "silver"),
        (1, 12, T0 + dt.timedelta(days=5), "gold"),
        (2, 20, T0, "bronze"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp, tier string"
    )
    out = {(r["user_id"], r["version"]): r for r in
           scd2_from_changes(df, ["user_id"], tiebreak_cols=["event_id"]).collect()}
    assert out[(1, 1)]["tier"] == "bronze"
    assert out[(1, 1)]["valid_to"] == T0 + dt.timedelta(days=1)
    assert out[(1, 1)]["is_current"] is False
    assert out[(1, 3)]["tier"] == "gold"
    assert out[(1, 3)]["valid_to"] is None and out[(1, 3)]["is_current"] is True
    assert out[(2, 1)]["is_current"] is True
    # time travel: the version valid at day 2 is silver
    probe = T0 + dt.timedelta(days=2)
    hist = scd2_from_changes(df, ["user_id"], tiebreak_cols=["event_id"])
    live = hist.filter(
        (F.col("user_id") == 1)
        & (F.col("valid_from") <= probe)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
    ).collect()
    assert len(live) == 1 and live[0]["tier"] == "silver"
