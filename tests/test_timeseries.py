"""Time-series operator tests: resample/ffill/bfill/asof_join vs pandas.

pandas IS the semantics contract here (merge_asof, groupby().ffill()), so
the assertions are direct pandas comparisons on constructed series.
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark import timeseries as ts


def test_resample_counts_and_sums(spark):
    df = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:01:00", 1.0),
            ("a", "2024-01-01 00:04:59", 2.0),
            ("a", "2024-01-01 00:05:00", 4.0),
            ("b", "2024-01-01 00:00:00", 8.0),
        ],
        "k string, t string, v double",
    ).withColumn("t", F.to_timestamp("t"))
    out = ts.resample(
        df, "t", "5 minutes", keys=["k"],
        aggs={"n": F.count("*"), "s": F.sum("v")},
    )
    got = {(r.k, str(r.bucket_start)): (r.n, r.s) for r in out.collect()}
    assert got == {
        ("a", "2024-01-01 00:00:00"): (2, 3.0),
        ("a", "2024-01-01 00:05:00"): (1, 4.0),
        ("b", "2024-01-01 00:00:00"): (1, 8.0),
    }


def test_ffill_bfill_match_pandas(spark):
    rows = [
        ("a", 1, None), ("a", 2, 10.0), ("a", 3, None), ("a", 4, None), ("a", 5, 20.0),
        ("b", 1, None), ("b", 2, None),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    pdf = pd.DataFrame(rows, columns=["k", "t", "v"]).sort_values(["k", "t"])

    got_f = {(r.k, r.t): r.v for r in ts.ffill(df, ["v"], "t", keys=["k"]).collect()}
    exp_f = {
        (k, t): (None if pd.isna(v) else v)
        for k, t, v in pdf.assign(v=pdf.groupby("k")["v"].ffill()).itertuples(index=False)
    }
    assert got_f == exp_f

    got_b = {(r.k, r.t): r.v for r in ts.bfill(df, ["v"], "t", keys=["k"]).collect()}
    exp_b = {
        (k, t): (None if pd.isna(v) else v)
        for k, t, v in pdf.assign(v=pdf.groupby("k")["v"].bfill()).itertuples(index=False)
    }
    assert got_b == exp_b


@pytest.fixture(scope="module")
def asof_frames(spark):
    left = spark.createDataFrame(
        [("a", 10, "L1"), ("a", 20, "L2"), ("a", 35, "L3"), ("b", 5, "L4")],
        "k string, t long, lbl string",
    )
    right = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 18, 2.0), ("a", 30, 3.0), ("b", 50, 4.0)],
        "k string, t long, rv double",
    )
    lp = pd.DataFrame([("a", 10, "L1"), ("a", 20, "L2"), ("a", 35, "L3"), ("b", 5, "L4")],
                      columns=["k", "t", "lbl"])
    rp = pd.DataFrame([("a", 10, 1.0), ("a", 18, 2.0), ("a", 30, 3.0), ("b", 50, 4.0)],
                      columns=["k", "t", "rv"])
    return left, right, lp, rp


def _expected_asof(lp, rp, direction, tolerance=None):
    kw = {"tolerance": tolerance} if tolerance is not None else {}
    m = pd.merge_asof(
        lp.sort_values("t"), rp.sort_values("t"), on="t", by="k",
        direction=direction, **kw,
    )
    return {
        (r.k, r.t): (None if pd.isna(r.rv) else r.rv) for r in m.itertuples(index=False)
    }


@pytest.mark.parametrize("direction", ["backward", "forward"])
def test_asof_join_matches_merge_asof(spark, asof_frames, direction):
    left, right, lp, rp = asof_frames
    out = ts.asof_join(left, right, on="t", by=["k"], direction=direction)
    got = {(r.k, r.t): r.rv for r in out.collect()}
    assert got == _expected_asof(lp, rp, direction)


def test_asof_join_tolerance(spark, asof_frames):
    left, right, lp, rp = asof_frames
    out = ts.asof_join(left, right, on="t", by=["k"], direction="backward", tolerance=3)
    got = {(r.k, r.t): r.rv for r in out.collect()}
    assert got == _expected_asof(lp, rp, "backward", tolerance=3)


def test_asof_join_exact_match_taken(spark, asof_frames):
    """allow_exact_matches semantics: a right row AT the left timestamp is
    matched, in both directions."""
    left, right, lp, rp = asof_frames
    for direction in ("backward", "forward"):
        out = ts.asof_join(left, right, on="t", by=["k"], direction=direction)
        got = {(r.k, r.t): r.rv for r in out.collect()}
        assert got[("a", 10)] == 1.0


def test_interpolate_linear_hand_computed(spark):
    from pandas_db_sdk_spark import timeseries as TS
    from pyspark.sql import functions as F

    rows = [
        # key, t, v — leading null, interior gap, trailing null
        ("a", 0, None), ("a", 10, 1.0), ("a", 15, None), ("a", 30, 5.0), ("a", 40, None),
        ("b", 0, 2.0), ("b", 4, None), ("b", 8, None), ("b", 10, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, t long, v double")
    out = {(r.k, r.t): r.v_interp for r in
           TS.interpolate_linear(df, "v", "t", keys=["k"]).collect()}
    assert out[("a", 0)] is None                     # leading stays null
    assert out[("a", 10)] == 1.0
    assert out[("a", 15)] == 1.0 + (5.0 - 1.0) * (15 - 10) / (30 - 10)
    assert out[("a", 30)] == 5.0
    assert out[("a", 40)] == 5.0                     # trailing carries last
    assert out[("b", 4)] == 2.0 + 5.0 * 4 / 10
    assert out[("b", 8)] == 2.0 + 5.0 * 8 / 10


def test_rolling_zscore_constant_window_yields_null_not_nan(spark):
    """Decimal-rounded squares can make the rolling variance slightly
    negative for a constant window; the score must be NULL (flag False),
    never NaN/True."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.timeseries import rolling_zscore

    df = spark.range(100).select(
        F.lit("t").alias("g"), F.col("id").alias("i"), F.lit(0.015).alias("v")
    )
    out = rolling_zscore(df, "v", "i", ["g"], window=50, min_n=10).toPandas()
    tail = out[out["n_prev"] >= 10]
    assert tail["z"].isna().all()
    assert (~tail["is_anomaly"]).all()


def test_overlapping_interval_pairs_matches_bruteforce(spark):
    """Sweep-line pair count == the O(n²) definition on a hand-checkable
    frame: closed intervals, touching endpoints overlap, groups
    independent."""
    from itertools import combinations

    from pandas_db_sdk_spark.timeseries import overlapping_interval_pairs

    rows = [
        ("g1", 1, 0, 5), ("g1", 2, 5, 9), ("g1", 3, 6, 7), ("g1", 4, 20, 21),
        ("g2", 5, 0, 0), ("g2", 6, 0, 0),  # identical degenerate intervals
        ("g3", 7, 1, 2),
    ]
    df = spark.createDataFrame(rows, "g string, i long, s long, e long")
    got = {
        r.g: (r.n_intervals, r.n_overlapping_pairs)
        for r in overlapping_interval_pairs(df, "g", "s", "e", ["i"]).collect()
    }
    want = {}
    for g in ("g1", "g2", "g3"):
        iv = [(s, e) for gg, _i, s, e in rows if gg == g]
        n = sum(1 for (a, b) in combinations(iv, 2) if a[0] <= b[1] and b[0] <= a[1])
        want[g] = (len(iv), n)
    assert got == want
    assert got["g1"] == (4, 2)  # [0,5]~[5,9] touch; [5,9]~[6,7] nest
    assert got["g2"] == (2, 1)


def test_ewma_matches_reference_recursion(spark):
    """timeseries.ewma == the textbook adjust=False recursion, per key,
    in event order — including single-row keys (y = x)."""
    from pandas_db_sdk_spark import timeseries as TS

    rows = [
        (1, 1, 10.0), (1, 2, 20.0), (1, 3, 5.0), (1, 4, 40.0),
        (2, 1, 7.5),
    ]
    df = spark.createDataFrame(rows, "k long, t long, v double")
    got = {
        (r.k, r.t): r.ewma
        for r in TS.ewma(df, "k", ["t"], "v", alpha=0.25).collect()
    }
    want = {}
    for k in (1, 2):
        y = None
        for kk, t, v in rows:
            if kk != k:
                continue
            y = v if y is None else 0.75 * y + 0.25 * v
            want[(k, t)] = y
    for key, exp in want.items():
        assert got[key] == pytest.approx(exp, abs=1e-12), key


def test_seasonal_decompose_recovers_planted_seasonality(spark):
    """On a pure trend+seasonal series the decomposition recovers the
    planted weekly pattern: residuals ~0 away from edges, seasonal sums
    to ~0 per key, trend null exactly at the 3-row edges."""
    import datetime as dt

    from pandas_db_sdk_spark import timeseries as TS

    season = [5.0, -3.0, 0.0, 2.0, -1.0, 4.0, -7.0]
    rows = []
    for d in range(35):
        day = dt.date(2024, 1, 1) + dt.timedelta(days=d)
        phase = (day - dt.date(1970, 1, 1)).days % 7
        rows.append(("k", day, 100.0 + 0.5 * d + season[phase]))
    df = spark.createDataFrame(rows, "k string, day date, value double")
    out = TS.seasonal_decompose(df, "k", "day", "value", period=7).collect()
    assert len(out) == 35
    nulls = [r for r in out if r.trend is None]
    assert len(nulls) == 6  # 3 rows at each edge lack a full frame
    # linear trend + mean-zero seasonal: MA(7) strips the season exactly
    for r in out:
        if r.trend is not None:
            assert abs(r.resid) < 1e-6, r
    ssum = sum({r.day: r.seasonal for r in out if r.seasonal is not None}.values())
    assert abs(ssum) < 1e-5


def test_seasonal_decompose_rejects_even_period(spark):
    from pandas_db_sdk_spark import timeseries as TS

    df = spark.createDataFrame([("k", None, 1.0)], "k string, day date, value double")
    with pytest.raises(ValueError):
        TS.seasonal_decompose(df, "k", "day", "value", period=6)


def test_mad_outliers_robust_to_planted_spikes(spark):
    """MAD flags exactly the planted spikes and — unlike mean/stddev —
    its median/mad statistics are untouched by them."""
    from pandas_db_sdk_spark import stats

    rows = [("a", float(v)) for v in range(1, 101)]  # 1..100: med 50.5
    rows += [("a", 1e6), ("a", -1e6)]  # two wild spikes
    df = spark.createDataFrame(rows, "k string, v double")
    (r,) = stats.mad_outliers(df, "k", "v").collect()
    assert r.n == 102
    assert abs(r.median - 50.5) < 1.0  # spikes barely move the median
    assert r.n_outliers == 2


def test_interval_coverage_merges_touching_and_gapped(spark):
    """[1,3]+[2,5] merge (5 days), [7,8] touches via adjacency ([1,5]+[7,8]
    stays split: 7 > 5+1 is False -> actually merges; use [8,9] for a real
    gap): islands and coverage follow integer-day union semantics."""
    from pandas_db_sdk_spark import timeseries

    df = spark.createDataFrame(
        [
            ("s1", 1, 3), ("s1", 2, 5), ("s1", 6, 6), ("s1", 9, 10),
            ("s2", 4, 4),
        ],
        "k string, s long, e long",
    )
    got = {
        r.k: r.asDict()
        for r in timeseries.interval_coverage(df, "k", "s", "e").collect()
    }
    # s1: [1,5]+[6,6] merge via adjacency -> [1,6] (6 days), [9,10] (2 days)
    assert got["s1"]["n_intervals"] == 4
    assert got["s1"]["covered_days"] == 8
    assert got["s1"]["span_days"] == 10
    assert got["s2"]["covered_days"] == 1 and got["s2"]["span_days"] == 1


def test_cusum_changepoint_finds_mean_shift(spark):
    """A 10+10 series stepping 1.0 -> 5.0 at t=11: |S_t| peaks exactly at
    the boundary t=10, with max |S| = 10*(1-3) = 20 -> /1 ... S_10 = -20,
    |S|/1? max_abs_cusum is in S-units: 20.0; mean = 3.0."""
    from pandas_db_sdk_spark import timeseries

    rows = [(t, 1.0) for t in range(1, 11)] + [(t, 5.0) for t in range(11, 21)]
    df = spark.createDataFrame(rows, "t long, v double")
    row = timeseries.cusum_changepoint(df, "t", "v").collect()[0]
    assert row.change_at == 10
    assert row.n_points == 20
    assert abs(row.max_abs_cusum - 20.0) < 1e-9
    assert abs(row.mean - 3.0) < 1e-12


def test_cusum_changepoint_raises_outside_decimal_envelope(spark):
    """ADVICE r7: under non-ANSI Spark a decimal(38,6) overflow in the
    n*cum - t*sum criterion casts to NULL and silently drops rows from
    the argmax; the magnitude assertion turns that into a raise."""
    import pytest as _pytest

    from pandas_db_sdk_spark import timeseries

    huge = spark.createDataFrame(
        [(t, 1.0e21) for t in range(1, 6)], "t long, v double"
    )
    with _pytest.raises(ValueError, match="decimal envelope"):
        timeseries.cusum_changepoint(huge, "t", "v")


def test_cusum_changepoint_raises_on_single_value_overflow(spark):
    """ADVICE r8: a SINGLE |x| >= 1e22 NULLs out of the decimal(28,6)
    cast inside sum(abs(x)), understating the total so the envelope
    check passes while rows still silently drop — the max(|x|) double
    probe must catch it."""
    import pytest as _pytest

    from pandas_db_sdk_spark import timeseries

    sneaky = spark.createDataFrame(
        [(1, 1.0), (2, 1.0e22), (3, -1.0)], "t long, v double"
    )
    with _pytest.raises(ValueError, match="decimal envelope"):
        timeseries.cusum_changepoint(sneaky, "t", "v")


def test_cusum_changepoint_streams_empty_and_null_series(spark):
    """Degenerate inputs keep their pre-guard behavior: empty or all-null
    series return an empty result rather than raising."""
    from pandas_db_sdk_spark import timeseries

    empty = spark.createDataFrame([], "t long, v double")
    assert timeseries.cusum_changepoint(empty, "t", "v").count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)], "t long, v double")
    assert timeseries.cusum_changepoint(nulls, "t", "v").count() == 0


def test_znorm_query_topk_identity_and_invariance(spark):
    """d149 operator contract: the query itself is its own nearest match
    at distance 0 (rho 1); an affine transform of the query series
    (2x + 100) is ALSO at distance 0 (z-norm scale/offset invariance);
    an anti-correlated series lands at the maximum distance 2*sqrt(n);
    sub-2-point overlaps and constant series (NULL rho) drop."""
    from pandas_db_sdk_spark import timeseries

    base = [(t, float(v)) for t, v in enumerate([1, 3, 2, 5, 4, 6, 5, 8])]
    n = len(base)
    rows = (
        [("self", t, v) for t, v in base]
        + [("affine", t, 2 * v + 100) for t, v in base]
        + [("anti", t, -v) for t, v in base]
        + [("short", 0, 1.0), ("short", 1, 2.0)]
        + [("flat", t, 7.0) for t, v in base]
        + [("lonely", 99, 1.0)]
    )
    series = spark.createDataFrame(rows, "entity string, t int, v double")
    query = spark.createDataFrame(base, "t int, v double")
    out = {
        r.entity: r
        for r in timeseries.znorm_query_topk(
            series, query, "entity", "t", "v", k=10
        ).collect()
    }
    assert "lonely" not in out  # 1 common point
    assert "flat" not in out  # zero variance -> NULL rho
    assert out["self"].znorm_dist == 0.0 and out["self"].rho == 1.0
    assert out["affine"].znorm_dist == 0.0  # affine invariance
    assert out["anti"].rho == -1.0
    assert abs(out["anti"].znorm_dist - 2 * n**0.5) < 1e-6
    assert out["short"].n_common == 2


def test_sax_words_known_shapes_block_together(spark):
    """d150 operator contract on analytically-known shapes over a dense
    0..39 grid: a rising ramp reads 'abcd', its affine twin (z-norm
    invariance) blocks WITH it, the falling ramp reads 'dcba' in its own
    bucket, and a flat series quantizes all-'a' (NULL z -> floor letter)."""
    from pandas_db_sdk_spark import timeseries

    rows = []
    for t in range(40):
        rows.append(("up", t, float(t)))
        rows.append(("up2", t, 3.0 * t + 17.0))   # affine twin of 'up'
        rows.append(("down", t, float(39 - t)))
        rows.append(("flat", t, 5.0))
    series = spark.createDataFrame(rows, "entity string, t int, v double")
    out = {
        r.entity: (r.sax_word, r.bucket_size)
        for r in timeseries.sax_words(series, "entity", "t", "v").collect()
    }
    assert out["up"] == ("abcd", 2) and out["up2"] == ("abcd", 2)
    assert out["down"] == ("dcba", 1)
    assert out["flat"] == ("aaaa", 1)


def test_znorm_query_topk_duplicate_time_key_raises(spark):
    """VERDICT r11 #6: a non-unique query time grid must raise instead
    of silently double-joining the duplicated point into every series'
    co-moments."""
    import pytest

    from pandas_db_sdk_spark import timeseries

    series = spark.createDataFrame(
        [("a", t, float(t)) for t in range(5)], "entity string, t int, v double"
    )
    dup_query = spark.createDataFrame(
        [(0, 1.0), (1, 2.0), (1, 3.0)], "t int, v double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        timeseries.znorm_query_topk(series, dup_query)
    # the unique grid still works
    ok = spark.createDataFrame([(0, 1.0), (1, 2.0)], "t int, v double")
    assert timeseries.znorm_query_topk(series, ok).count() >= 1


def test_sax_words_sparse_series_full_length_word(spark):
    """ADVICE r11 (low): an entity with NO points in some segments must
    still emit a word of exactly `segments` letters — absent segments
    zero-fill and z-score against the entity's zero-padded grid — so
    words stay comparable across buckets.  A burst-then-silent series
    (big values only in segment 0 of a 0..39 grid shared with a dense
    anchor) reads 'd' then the below-mean letter for the empty tail,
    and every word in the output has the same length."""
    from pandas_db_sdk_spark import timeseries

    rows = [("dense", t, float(t)) for t in range(40)]
    rows += [("burst", t, 100.0) for t in range(10)]  # segment 0 only
    series = spark.createDataFrame(rows, "entity string, t int, v double")
    out = {
        r.entity: r.sax_word
        for r in timeseries.sax_words(series, "entity", "t", "v").collect()
    }
    assert len(out["burst"]) == 4 and len(out["dense"]) == 4
    # burst: mean = 100*10/40 = 25, var = 100^2*10/40 - 25^2 = 1875,
    # sd ~ 43.3; segment 0 z = (100-25)/43.3 = 1.73 -> 'd'; empty
    # segments z = (0-25)/43.3 = -0.577 (in [-0.6745, 0)) -> 'b'
    assert out["burst"] == "dbbb"
    assert out["dense"] == "abcd"


def test_ts_similarity_join_blocks_verifies_and_guards(spark):
    """d157 operator contract on the known-shape corpus: a query equal
    to 'up' blocks into the 'abcd' bucket — candidates are exactly
    {up, up2} (down/flat are in other buckets and are NEVER verified),
    self-retrieval wins rank 1 at distance 0 with the affine twin at
    rank 2 (also distance 0, entity tie-break), and a duplicate
    (qid, t) key raises."""
    import pytest

    from pandas_db_sdk_spark import timeseries

    rows = []
    for t in range(40):
        rows.append(("up", t, float(t)))
        rows.append(("up2", t, 3.0 * t + 17.0))
        rows.append(("down", t, float(39 - t)))
        rows.append(("flat", t, 5.0))
    series = spark.createDataFrame(rows, "entity string, t int, v double")
    q = spark.createDataFrame(
        [("q0", t, float(t)) for t in range(40)], "qid string, t int, v double"
    )
    out = timeseries.ts_similarity_join(
        series, q, entity_col="entity", t_col="t", v_col="v",
        qid_col="qid", segments=4, k=5,
    ).collect()
    got = {(r.qid, r.entity): (r.rank, r.znorm_dist) for r in out}
    assert set(got) == {("q0", "up"), ("q0", "up2")}  # blocked, not scanned
    assert got[("q0", "up")] == (1, 0.0)
    assert got[("q0", "up2")] == (2, 0.0)  # z-norm affine invariance

    dup = spark.createDataFrame(
        [("q0", 0, 1.0), ("q0", 0, 2.0)], "qid string, t int, v double"
    )
    with pytest.raises(ValueError, match="duplicate"):
        timeseries.ts_similarity_join(series, dup)
