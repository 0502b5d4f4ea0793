"""Property-based differential tests — engine vs pandas on random frames.

The reference's contract is "whatever pandas computes" (SURVEY §0 [C]);
hypothesis generates adversarial small frames (duplicate keys, NULLs,
empty groups, negative values) and the engine must agree with pandas on
the relational core. Example counts are kept small: each example pays a
Spark job, and the goal is shrunk counterexamples, not volume.
"""

from __future__ import annotations

import pandas as pd
import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

KEYS = st.sampled_from(["a", "b", "c", None])
VALS = st.integers(min_value=-(2**31), max_value=2**31 - 1)
ROWS = st.lists(st.tuples(KEYS, VALS), min_size=0, max_size=30)

SETTINGS = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _spark_df(spark, rows):
    return spark.createDataFrame(rows, "k string, v long")


@given(rows=ROWS)
@SETTINGS
def test_groupby_sum_count_matches_pandas(spark, rows):
    sdf = _spark_df(spark, rows)
    got = {
        r.k: (r.s, r.n)
        for r in sdf.groupBy("k").agg(F.sum("v").alias("s"), F.count("*").alias("n")).collect()
    }
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    exp = {}
    for k, grp in pdf.groupby("k", dropna=False):
        key = None if pd.isna(k) else k
        exp[key] = (int(grp["v"].sum()), len(grp))
    assert got == exp


@given(rows=ROWS, threshold=VALS)
@SETTINGS
def test_filter_distinct_matches_pandas(spark, rows, threshold):
    key = lambda t: (t[0] is None, t[0] or "", t[1])  # noqa: E731 — None-safe sort
    sdf = _spark_df(spark, rows)
    got = sorted(
        ((r.k, r.v)
         for r in sdf.filter(F.col("v") > threshold).select("k", "v").distinct().collect()),
        key=key,
    )
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    exp = sorted(
        ((None if pd.isna(k) else k, int(v))
         for k, v in pdf[pdf["v"] > threshold][["k", "v"]]
         .drop_duplicates()
         .itertuples(index=False)),
        key=key,
    )
    assert got == exp


@given(left=ROWS, right=ROWS)
@SETTINGS
def test_inner_join_multiplicity_matches_pandas(spark, left, right):
    """Join on key: result multiplicity must equal pandas merge (NULL keys
    never match, duplicates multiply)."""
    l = _spark_df(spark, left).withColumnRenamed("v", "lv")
    r = _spark_df(spark, right).withColumnRenamed("v", "rv")
    got = sorted((x.k, x.lv, x.rv) for x in l.join(r, "k").collect())
    lp = pd.DataFrame(left, columns=["k", "lv"])
    rp = pd.DataFrame(right, columns=["k", "rv"])
    merged = lp.dropna(subset=["k"]).merge(rp.dropna(subset=["k"]), on="k")
    exp = sorted((k, int(a), int(b)) for k, a, b in merged.itertuples(index=False))
    assert got == exp


TEXTS = st.lists(
    st.text(alphabet="ab ", min_size=0, max_size=20), min_size=1, max_size=25
)


@given(texts=TEXTS)
@SETTINGS
def test_exact_dedup_keeps_first_per_content(spark, texts):
    """dedup.exact_dedup: one survivor per distinct content, and it's the
    minimum order key — against a brute-force dict oracle."""
    from pandas_db_sdk_spark import dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    sdf = spark.createDataFrame(rows, "id long, txt string")
    got = sorted((r.id, r.txt) for r in dedup.exact_dedup(sdf, "txt", "id").collect())
    first = {}
    for i, t in rows:
        first.setdefault(t, i)
    exp = sorted((i, t) for t, i in first.items())
    assert got == exp


TOKENS = st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=30)


@given(sizes=TOKENS)
@SETTINGS
def test_pack_greedy_invariants_random_sizes(spark, sizes):
    """packing.pack_greedy: every doc exactly once; multi-doc bins within
    budget; oversized docs isolated — for arbitrary token distributions."""
    from collections import defaultdict

    from pandas_db_sdk_spark import packing

    budget = 32
    rows = [(i, s) for i, s in enumerate(sizes)]
    sdf = spark.createDataFrame(rows, "id long, toks long")
    out = packing.pack_greedy(sdf, "id", "toks", budget, n_groups=3).collect()
    assert sorted(r.id for r in out) == [i for i, _ in rows]
    bins = defaultdict(list)
    for r in out:
        bins[(r.pack_group, r.bin_idx)].append(r.toks)
    for members in bins.values():
        assert sum(members) <= budget or len(members) == 1


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 20), st.one_of(st.none(), st.floats(-100, 100, allow_nan=False))),
        min_size=1, max_size=25,
    )
)
@SETTINGS
def test_interpolate_matches_pandas(spark, rows):
    """timeseries.interpolate_linear == pandas interpolate(method='index',
    limit_direction='forward') on random sparse series (single key)."""
    from pandas_db_sdk_spark import timeseries as TS

    # unique integer time axis
    uniq = {}
    for t, v in rows:
        uniq[t] = v
    data = sorted(uniq.items())
    sdf = spark.createDataFrame([("k", t, v) for t, v in data], "k string, t long, v double")
    got = {r.t: r.v_interp for r in TS.interpolate_linear(sdf, "v", "t", keys=["k"]).collect()}
    ser = pd.Series([v for _, v in data], index=[t for t, _ in data], dtype="float64")
    exp = ser.interpolate(method="index", limit_direction="forward")
    for t, _ in data:
        e = exp[t]
        g = got[t]
        if pd.isna(e):
            assert g is None, (t, g)
        else:
            # 1.5e-6: engine rounds HALF_UP, Python rounds half-to-even —
                # on an exact .5 tie at the 6th decimal the two differ by
                # exactly 1e-6 (hypothesis found 1.0078125)
                assert g is not None and abs(g - round(float(e), 6)) < 1.5e-6, (t, g, e)


@given(
    docs=st.lists(st.text(alphabet="ab ", min_size=0, max_size=30), min_size=1, max_size=12),
    n=st.integers(2, 4),
)
@SETTINGS
def test_decontaminate_matches_python_ngram_overlap(spark, docs, n):
    """text.decontaminate flags exactly the docs sharing a word n-gram with
    the benchmark set (python-set oracle on random text)."""
    from pandas_db_sdk_spark import text as T

    rows = [(i, d) for i, d in enumerate(docs)]
    sdf = spark.createDataFrame(rows, "doc_id long, text string")
    bench = sdf.filter(F.col("doc_id") % 3 == 0)

    def grams(s):
        toks = s.split(" ")
        m = len(toks)
        upper = max(m - n + 1, 1)
        return {" ".join(toks[i:i + n]) for i in range(upper)}

    bench_grams = set()
    for i, d in rows:
        if i % 3 == 0:
            bench_grams |= grams(d)
    exp = {i: bool(grams(d) & bench_grams) for i, d in rows}
    got = {r.doc_id: r.is_contaminated for r in T.decontaminate(sdf, bench, n=n).collect()}
    assert got == exp


@given(ids=st.lists(st.integers(0, 10**6), min_size=1, max_size=40, unique=True))
@SETTINGS
def test_shard_assign_total_and_deterministic(spark, ids):
    from pandas_db_sdk_spark import packing

    sdf = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = packing.shard_assign(sdf, "doc_id", 4).collect()
    assert len(out) == len(ids)
    by_shard: dict = {}
    for r in out:
        assert 0 <= r.shard < 4
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))


@given(
    docs=st.lists(
        st.lists(st.sampled_from("abcdefgh"), min_size=1, max_size=14).map(" ".join),
        min_size=1,
        max_size=10,
    )
)
@SETTINGS
def test_prefix_dedup_keep_longest_properties(spark, docs):
    """d40's policy invariants: exactly one survivor per 10-token-prefix
    group, the survivor is a maximal-length member (min doc_id among
    ties), and the op is idempotent."""
    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def dedup(frame):
        from pyspark.sql import Window as W

        toks = F.split("text", " ")
        fp = F.array_join(F.slice(toks, 1, 10), " ")
        w = W.partitionBy(fp).orderBy(F.size(toks).desc(), "doc_id")
        return (
            frame.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .drop("rn")
        )

    kept = {r.doc_id: r.text for r in dedup(df).collect()}
    # group reference model in plain Python
    groups: dict = {}
    for i, t in rows:
        key = " ".join(t.split(" ")[:10])
        groups.setdefault(key, []).append((i, t))
    assert len(kept) == len(groups)
    for members in groups.values():
        best = sorted(members, key=lambda it: (-len(it[1].split(" ")), it[0]))[0]
        assert kept[best[0]] == best[1]
    # idempotent: a second pass changes nothing
    df2 = spark.createDataFrame(list(kept.items()), "doc_id long, text string")
    again = {r.doc_id: r.text for r in dedup(df2).collect()}
    assert again == kept


def test_weighted_sample_bias_determinism_and_plan(spark):
    """A-ES weighted sampling: layout-independent ID set, heavy items
    over-represented vs a tiny-weight control, top-k plans as TakeOrdered."""
    from pandas_db_sdk_spark.pipeline import weighted_sample
    from pyspark.sql import functions as F

    # 500 ids, weight 1000 for ids < 50, weight 1 otherwise
    df = spark.range(500).select(
        F.col("id").alias("id"),
        F.when(F.col("id") < 50, 1000).otherwise(1).alias("w"),
    )
    s1 = {r.id for r in weighted_sample(df, "id", "w", 60).collect()}
    s2 = {r.id for r in weighted_sample(df.repartition(13), "id", "w", 60).collect()}
    assert s1 == s2, "sampled set depends on partitioning"
    heavy = sum(1 for i in s1 if i < 50)
    # 50 heavy ids carry 1000/1450 of a-priori inclusion pressure; require
    # a clear majority (deterministic: fixed md5-derived uniforms)
    assert heavy >= 45, f"only {heavy}/60 heavy ids sampled"
    plan = (
        weighted_sample(df, "id", "w", 60)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


@given(
    keys=st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=60),
    probe=st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=60),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_bloom_semi_join_equals_semi_join_random_keys(spark, keys, probe):
    """Hypothesis: for arbitrary (negative, duplicate, disjoint) int key
    sets, bloom_semi_join IS the semi join — even with a tiny bitmap."""
    from pandas_db_sdk_spark.sketches import bloom_semi_join

    big = spark.createDataFrame([(k,) for k in probe], "k long")
    small = spark.createDataFrame([(k,) for k in keys] or [(0,)], "k long")
    if not keys:
        small = small.filter("k <> k")  # empty frame with schema
    got = bloom_semi_join(big, small, "k", num_bits=1 << 10)
    want = big.join(small.distinct(), "k", "left_semi")
    assert sorted(r.k for r in got.collect()) == sorted(r.k for r in want.collect())


@given(
    # 40-symbol alphabet: with frac=0.25 (k = 4+8 = 12 counters) the MG
    # decrement/prune branch actually fires — a 5-symbol alphabet never
    # exceeds k and would leave the prune path untested
    data=st.lists(
        st.sampled_from([f"s{i}" for i in range(40)]), min_size=20, max_size=300
    ),
    frac=st.sampled_from([0.05, 0.1, 0.25]),
)
@settings(max_examples=12, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_heavy_hitters_equals_groupby_random_distributions(spark, data, frac):
    """Hypothesis: MG candidates + exact recount == naive GROUP BY/HAVING
    for arbitrary small-alphabet distributions at any threshold."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.sketches import heavy_hitters

    df = spark.createDataFrame([(x,) for x in data], "item string").repartition(5)
    got = {(r.item, r.cnt) for r in heavy_hitters(df, "item", frac).collect()}
    n = len(data)
    want = {
        (r.item, r.cnt)
        for r in df.groupBy("item")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > frac * n)
        .collect()
    }
    assert got == want


INTERVALS = st.lists(
    st.tuples(
        st.sampled_from(["g1", "g2"]),
        st.integers(min_value=0, max_value=20),   # start
        st.integers(min_value=0, max_value=10),   # extent (end = start + extent)
    ),
    min_size=0,
    max_size=16,
)


@given(INTERVALS)
@SETTINGS
def test_sweepline_overlap_count_matches_bruteforce(spark, rows):
    """overlapping_interval_pairs == the O(n²) closed-interval definition
    on random interval sets (duplicates, touching endpoints, nesting)."""
    from itertools import combinations

    from pandas_db_sdk_spark.timeseries import overlapping_interval_pairs

    data = [(g, i, s, s + ext) for i, (g, s, ext) in enumerate(rows)]
    if not data:
        return
    df = spark.createDataFrame(data, "g string, i long, s long, e long")
    got = {
        r.g: (r.n_intervals, r.n_overlapping_pairs)
        for r in overlapping_interval_pairs(df, "g", "s", "e", ["i"]).collect()
    }
    for g in {d[0] for d in data}:
        iv = [(s, e) for gg, _i, s, e in data if gg == g]
        want = sum(
            1 for a, b in combinations(iv, 2) if a[0] <= b[1] and b[0] <= a[1]
        )
        assert got[g] == (len(iv), want), (g, iv)


PARENT_FORESTS = st.lists(
    st.integers(min_value=0, max_value=30), min_size=1, max_size=24
)


@given(PARENT_FORESTS)
@SETTINGS
def test_hierarchy_depth_matches_sequential_walk(spark, raw):
    """hierarchy_depth == a driver-side parent walk on random forests:
    node i's parent is drawn from {already-created nodes} ∪ {root} so the
    structure is acyclic by construction."""
    from pandas_db_sdk_spark import graph

    rows = []
    parent_of = {}
    for i, draw in enumerate(raw):
        parent = None if (i == 0 or draw % (i + 1) == i) else draw % i
        rows.append((i, parent))
        parent_of[i] = parent
    df = spark.createDataFrame(rows, "id long, parent long")
    got = {r.id: r.depth for r in graph.hierarchy_depth(df).collect()}

    def walk(i):
        d = 0
        while parent_of[i] is not None:
            i = parent_of[i]
            d += 1
        return d

    assert got == {i: walk(i) for i, _ in rows}


@given(st.lists(st.tuples(st.integers(0, 12), st.integers(0, 12)), max_size=40))
@settings(max_examples=8, deadline=None)
def test_triangle_count_matches_brute_force(spark, pairs):
    """Degree-oriented wedge counting == brute-force enumeration over all
    3-subsets, on random multigraphs with self-loops, duplicates and both
    edge directions (the operator normalizes them away)."""
    from itertools import combinations

    from pandas_db_sdk_spark import graph

    df = spark.createDataFrame(
        [(a, b) for a, b in pairs] or [(0, 0)], "id_a long, id_b long"
    )
    row = graph.triangle_count(df).collect()[0]
    und = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = sorted({n for e in und for n in e})
    brute = sum(
        1
        for x, y, z in combinations(nodes, 3)
        if (x, y) in und and (y, z) in und and (x, z) in und
    )
    assert row.n_edges == len(und)
    assert row.n_triangles == brute


WORDS = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
DOC_TEXTS = st.lists(
    st.lists(WORDS, min_size=1, max_size=12).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(docs=DOC_TEXTS, threshold=st.sampled_from([0.4, 0.6, 0.8]))
@SETTINGS
def test_containment_join_matches_bruteforce(spark, docs, threshold):
    """Prefix-filtered containment join == the naive O(n²) shingle-set
    scan on random small corpora: no pair missed (the recall lemma), no
    pair below threshold emitted."""
    from pandas_db_sdk_spark import dedup

    rows = [(i, t) for i, t in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_join(
            df, "doc_id", "text", threshold=threshold
        ).collect()
    }

    def shingles(t):
        ws = t.split(" ")
        n = max(len(ws) - 2, 1)
        return {" ".join(ws[i : i + 3]) for i in range(n)}

    want = {}
    for i, a in rows:
        for j, b in rows:
            if i == j:
                continue
            sa, sb = shingles(a), shingles(b)
            c = len(sa & sb) / len(sa)
            if c >= threshold:
                want[(i, j)] = round(c, 6)
    assert got == want


@given(
    vals=st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=60),
    width=st.sampled_from([4, 16, 4096]),
)
@SETTINGS
def test_count_min_one_sided_on_random_streams(spark, vals, width):
    """CMS never undercounts on any stream/width; with a huge width it
    is exact (no collisions across a ≤51-value domain)."""
    from collections import Counter

    from pandas_db_sdk_spark import sketches

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    probes = spark.createDataFrame([(v,) for v in set(vals)], "v long")
    out = sketches.count_min_frequency(df, "v", probes, "v", depth=4, width=width)
    truth = Counter(vals)
    for r in out.collect():
        assert r.true_count == truth[r.v]
        assert r.est_count >= r.true_count
        if width == 4096:
            assert r.est_count == r.true_count


@given(
    batches=st.lists(
        st.lists(
            st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-1000, 1000)),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=4,
    ),
    refresh_after=st.sets(st.integers(0, 3)),
)
@SETTINGS
def test_rollup_merge_equals_full_recompute_on_random_appends(
    spark, tmp_path_factory, batches, refresh_after
):
    """Incremental-rollup algebra: for ANY append sequence and ANY
    interleaving of refresh points, the final state equals the one-shot
    groupBy over all appended rows (count/sum/min/max/avg merge laws)."""
    from pandas_db_sdk_spark.engine import DataFrameEngine

    wh = tmp_path_factory.mktemp("wh_prop")
    eng = DataFrameEngine(spark, str(wh))
    eng.save(
        spark.createDataFrame(batches[0], "k string, v long"), "facts"
    )
    eng.define_rollup(
        "r",
        "facts",
        ["k"],
        {
            "n": ("count", None),
            "s": ("sum", "v"),
            "lo": ("min", "v"),
            "hi": ("max", "v"),
            "m": ("avg", "v"),
        },
    )
    for i, batch in enumerate(batches[1:], start=1):
        eng.save(spark.createDataFrame(batch, "k string, v long"), "facts")
        if i in refresh_after:
            eng.refresh_rollup("r")
    eng.refresh_rollup("r")
    got = {
        r["k"]: (r["n"], r["s"], r["lo"], r["hi"], r["m"])
        for r in eng.read_rollup("r").collect()
    }
    import collections

    rows = [t for b in batches for t in b]
    byk = collections.defaultdict(list)
    for k, v in rows:
        byk[k].append(v)
    for k, vs in byk.items():
        n, s, lo, hi, m = got[k]
        assert n == len(vs) and s == float(sum(vs))
        assert lo == min(vs) and hi == max(vs)
        assert abs(m - sum(vs) / len(vs)) < 1e-9
    assert set(got) == set(byk)


@given(
    st.lists(st.tuples(st.integers(0, 15), st.integers(0, 15)), max_size=30),
    st.lists(st.integers(0, 15), min_size=1, max_size=4),
)
@settings(max_examples=8, deadline=None)
def test_bfs_hops_matches_driver_bfs(spark, pairs, seed_raw):
    """bfs_hops == a driver-side BFS on random graphs: reachable nodes get
    the exact min hop count, unreachable nodes are absent."""
    from collections import deque

    from pandas_db_sdk_spark import graph

    edges = [(a, b) for a, b in pairs if a != b]
    if not edges:
        return
    nodes = {n for e in edges for n in e}
    seeds = sorted({s for s in seed_raw if s in nodes})
    if not seeds:
        seeds = [min(nodes)]
    edf = spark.createDataFrame(edges, "id_a long, id_b long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    got = {r.id: r.hops for r in graph.bfs_hops(edf, sdf).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {s: 0 for s in seeds}
    dq = deque(seeds)
    while dq:
        n = dq.popleft()
        for m in adj.get(n, ()):
            if m not in want:
                want[m] = want[n] + 1
                dq.append(m)
    assert got == want, (edges, seeds)


@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.integers(0, 40), st.integers(0, 6)),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=8, deadline=None)
def test_interval_coverage_matches_day_set_union(spark, raw):
    """interval_coverage's covered_days == |union of integer day ranges|
    computed brute-force, span == max-min+1, on random overlapping/
    touching/nested interval sets."""
    from pandas_db_sdk_spark.timeseries import interval_coverage

    data = [(g, s, s + ext) for g, s, ext in raw]
    df = spark.createDataFrame(data, "g string, s long, e long")
    got = {
        r.g: (r.n_intervals, r.covered_days, r.span_days)
        for r in interval_coverage(df, "g", "s", "e").collect()
    }
    for g in {d[0] for d in data}:
        iv = [(s, e) for gg, s, e in data if gg == g]
        days = set()
        for s, e in iv:
            days.update(range(s, e + 1))
        want = (len(iv), len(days), max(e for _, e in iv) - min(s for s, _ in iv) + 1)
        assert got[g] == want, (g, iv)


@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12), st.integers(1, 5)),
        max_size=25,
    ),
    st.lists(st.integers(0, 12), min_size=1, max_size=3),
)
@settings(max_examples=8, deadline=None)
def test_shortest_paths_matches_driver_dijkstra(spark, triples, seed_raw):
    """graph.shortest_paths == a driver-side Dijkstra on random weighted
    graphs: reachable nodes get the exact min distance, unreachable nodes
    are absent."""
    import heapq

    from pandas_db_sdk_spark import graph

    edges = [(a, b, w) for a, b, w in triples if a != b]
    if not edges:
        return
    nodes = {n for a, b, _ in edges for n in (a, b)}
    seeds = sorted({s for s in seed_raw if s in nodes}) or [min(nodes)]
    edf = spark.createDataFrame(edges, "id_a long, id_b long, w long")
    sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
    got = {r.id: r.dist for r in graph.shortest_paths(edf, sdf).collect()}

    adj = {}
    for a, b, w in edges:
        # parallel edges collapse to the cheapest (distinct() on the
        # doubled table keeps both rows; min-relaxation picks the cheaper)
        adj.setdefault(a, {})[b] = min(adj.get(a, {}).get(b, w), w)
        adj.setdefault(b, {})[a] = min(adj.get(b, {}).get(a, w), w)
    want = {s: 0 for s in seeds}
    heap = [(0, s) for s in seeds]
    while heap:
        d, n = heapq.heappop(heap)
        if d > want.get(n, float("inf")):
            continue
        for m, w in adj.get(n, {}).items():
            if d + w < want.get(m, float("inf")):
                want[m] = d + w
                heapq.heappush(heap, (d + w, m))
    assert got == want, (edges, seeds)


# ---------------------------------------------------------------------------
# Codec round-trip properties (pure Python — no Spark job per example, so
# these afford real example counts): random pixels, random per-row filter
# choices, random coefficient grids, random sample vectors.
# ---------------------------------------------------------------------------

PNG_DIMS = st.tuples(st.integers(1, 12), st.integers(1, 10))


@given(
    dims=PNG_DIMS,
    seed=st.integers(0, 2**31 - 1),
    filters=st.lists(st.integers(0, 4), min_size=10, max_size=10),
    split=st.booleans(),
)
@settings(max_examples=60, deadline=None)
def test_png_roundtrip_random_pixels_and_filters(dims, seed, filters, split):
    """encode→decode is the identity for ANY pixel content, ANY per-row
    filter assignment, and either IDAT layout — the property that pins
    all five filter recurrences against each other."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _png_decode_rgb, _png_encode_rgb

    w, h = dims
    rng = np.random.RandomState(seed)
    rgb = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    blob = _png_encode_rgb(rgb, lambda y: filters[y % len(filters)], split)
    got = _png_decode_rgb(blob)
    assert got is not None
    gw, gh, out = got
    assert (gw, gh) == (w, h)
    assert (out == rgb).all()


@given(
    nblocks=st.tuples(st.integers(1, 3), st.integers(1, 3)),
    seed=st.integers(0, 2**31 - 1),
    density=st.floats(0.0, 0.5),
)
@settings(max_examples=40, deadline=None)
def test_jpeg_gray_roundtrip_random_coefficients(nblocks, seed, density):
    """Huffman encode→decode recovers the EXACT quantized coefficient
    grid for any sparsity (EOB/ZRL/long runs) — checked at the
    coefficient level by re-deriving pixels with the same reference
    IDCT, so the entropy layer is isolated from float concerns."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _jpeg_decode_gray, _jpeg_encode_gray

    by, bx = nblocks
    rng = np.random.RandomState(seed)
    coefs = rng.randint(-100, 101, size=(by, bx, 8, 8))
    coefs[rng.rand(by, bx, 8, 8) >= density] = 0
    qt = rng.randint(1, 50, size=(8, 8))
    blob = _jpeg_encode_gray(coefs.astype(np.int64), qt.astype(np.int64))
    img = _jpeg_decode_gray(blob)
    assert img is not None
    alpha = np.full(8, np.sqrt(2.0 / 8))
    alpha[0] = np.sqrt(1.0 / 8)
    xs = np.arange(8)
    C = alpha[:, None] * np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)
    sp = np.einsum("ux,vy,bcuv->bcxy", C, C, (coefs * qt[None, None]).astype(float))
    ref = np.clip(np.floor(sp + 128.5), 0, 255).astype(np.uint8)
    assert (img == ref.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)).all()


@given(
    n=st.integers(2, 200),
    seed=st.integers(0, 2**31 - 1),
    updown=st.sampled_from([(1, 1), (2, 1), (3, 2), (5, 4), (1, 2), (2, 3)]),
)
@settings(max_examples=60, deadline=None)
def test_resample_scaled_values_match_reference(n, seed, updown):
    """For any sample vector and rational ratio (up- AND down-sampling),
    the engine's vectorized multiplied-through resample
    (`_resample_scaled`, the exact body `resample_pcm_stats` runs)
    equals a direct scalar-loop reference: y_scaled[j] = up*s[i0] +
    r*(s[i0+1]-s[i0]) with i0 = (j*down)//up, r = (j*down) mod up —
    and the final output position never needs a sample past the end."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _resample_scaled

    up, down = updown
    rng = np.random.RandomState(seed)
    sl = rng.randint(-(2**15), 2**15, size=n).astype(np.int64)

    n_out = ((n - 1) * up) // down + 1
    ys = []
    for j in range(n_out):
        num = j * down
        i0, r = num // up, num % up
        assert i0 < n and (r == 0 or i0 + 1 < n)
        nxt = int(sl[i0 + 1]) if i0 + 1 < n else 0
        ys.append(up * int(sl[i0]) + r * (nxt - int(sl[i0])))

    jv, vec = _resample_scaled(sl, up, down)
    assert jv.size == n_out
    assert vec.tolist() == ys


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-30000, max_value=30000),
        min_size=8,
        max_size=40,
    ),
    st.lists(
        st.integers(min_value=-30000, max_value=30000),
        min_size=8,
        max_size=40,
    ),
)
def test_sinc_fir_is_linear(a, b):
    """The d119 polyphase FIR is LINEAR by construction — resampling the
    sum of two signals equals the sum of their resampled outputs, in
    exact integers (constant tap table, no rounding inside the
    convolution). Run locally in numpy against the same tap math the
    executor uses — a nonlinearity would mean hidden rounding or
    state."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import sinc_taps

    n = min(len(a), len(b))
    xa = np.array(a[:n], dtype=np.int64)
    xb = np.array(b[:n], dtype=np.int64)
    up, down, half = 160, 147, 4
    C = np.asarray(sinc_taps(up, down, half=half), dtype=np.int64)

    def fir(s):
        n_ = s.size
        n_out = ((n_ - 1) * up) // down + 1
        j = np.arange(n_out, dtype=np.int64)
        num = j * down
        i0, ph = num // up, num % up
        pad = np.zeros(n_ + 2 * half - 1, dtype=np.int64)
        pad[half - 1 : half - 1 + n_] = s
        ys = np.zeros(n_out, dtype=np.int64)
        for t_idx, m in enumerate(range(-half + 1, half + 1)):
            ys += C[ph, t_idx] * pad[i0 + m + half - 1]
        return ys

    assert (fir(xa + xb) == fir(xa) + fir(xb)).all()


# --- round-11 line ops: differential vs a pure-python model -------------

LINE_WORDS = st.sampled_from(["nav", "body", "cookie", "x", "unique"])
LINE = st.lists(LINE_WORDS, min_size=0, max_size=4).map(" ".join)
DOCS = st.lists(
    st.lists(LINE, min_size=1, max_size=5), min_size=1, max_size=6
)


@given(docs=DOCS)
@SETTINGS
def test_dedup_lines_corpus_matches_python_model(spark, docs):
    """d139 vs the obvious sequential model: walk docs in (doc, line)
    order, keep a line only the first time it is ever seen."""
    from pandas_db_sdk_spark import text as _t

    rows = [
        (d, i, ln)
        for d, lines in enumerate(docs)
        for i, ln in enumerate(lines)
    ]
    lines_df = spark.createDataFrame(rows, "doc_id long, line_no int, line string")
    got = {
        r.doc_id: (r.n_lines, r.n_kept_lines, r.dedup_text)
        for r in _t.dedup_lines_corpus(lines_df).collect()
    }
    seen: set = set()
    exp = {}
    for d, lines in enumerate(docs):
        kept = []
        for ln in lines:
            if ln not in seen:
                seen.add(ln)
                kept.append(ln)
        exp[d] = (len(lines), len(kept), "\n".join(kept))
    assert got == exp


@given(docs=DOCS)
@SETTINGS
def test_c4_line_filter_is_idempotent(spark, docs):
    """Running the C4 filter on its own kept output changes nothing —
    every rule is closed over its own survivors (terminal punctuation,
    word counts, and page tells are preserved by keeping whole lines)."""
    from pandas_db_sdk_spark import text as _t

    texts = [
        (d, "\n".join(ln + "." for ln in lines) + "\nalpha beta gamma delta five.")
        for d, lines in enumerate(docs)
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    once = _t.c4_line_filter(df).filter("doc_kept").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    twice = _t.c4_line_filter(once).filter("doc_kept").select(
        "doc_id", F.col("clean_text").alias("text")
    )
    a = {(r.doc_id, r.text) for r in once.collect()}
    b = {(r.doc_id, r.text) for r in twice.collect()}
    assert a == b
