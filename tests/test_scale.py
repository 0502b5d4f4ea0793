"""Skew-mitigation operator tests + pandas ingest parity.

salted_agg / salted_join must be RESULT-equivalent to their plain
counterparts (the salt is purely physical); engine.save must accept a
pandas DataFrame directly (the reference's contract, client.py:99).
"""

from __future__ import annotations

import pandas as pd
import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark import scale
from pandas_db_sdk_spark.engine import DataFrameEngine


@pytest.fixture(scope="module")
def skewed(spark):
    # key 'hot' holds 90% of rows
    hot = spark.range(900).select(F.lit("hot").alias("k"), F.col("id").alias("v"))
    rest = spark.range(100).select(
        F.concat(F.lit("k"), (F.col("id") % 10)).alias("k"), F.col("id").alias("v")
    )
    return hot.unionByName(rest)


def test_salted_agg_spreads_hot_key(spark, skewed):
    """Phase 1 must produce multiple partials for the hot key."""
    salted = skewed.repartition(8).withColumn(
        "__salt", F.pmod(F.spark_partition_id(), F.lit(8))
    )
    partials = (
        salted.groupBy("k", "__salt").count().filter(F.col("k") == "hot").count()
    )
    assert partials > 1


def test_engine_save_accepts_pandas(spark, tmp_path):
    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    pdf = pd.DataFrame({"id": [1, 2, 3], "x": [0.5, 1.5, 2.5], "d": ["2024-01-01"] * 3})
    eng.save(pdf, "from_pandas", columns_keys={"d": "Date"})
    got = eng.load("from_pandas")
    assert got.count() == 3
    assert sorted(r.id for r in got.collect()) == [1, 2, 3]


def test_global_row_index_is_dense_and_ordered(spark):
    from pandas_db_sdk_spark.scale import global_row_index
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(
        F.col("id").alias("k"), F.pmod(F.col("id") * 7919, F.lit(10_000)).alias("v")
    )
    out = global_row_index(df, [F.col("v").desc(), F.col("k")], n_partitions=8)
    rows = [(r.row_index, r.v, r.k) for r in out.collect()]
    assert sorted(r[0] for r in rows) == list(range(1, 10_001))  # dense, no dups
    by_index = sorted(rows)
    for (i1, v1, k1), (i2, v2, k2) in zip(by_index, by_index[1:]):
        assert (v1, -k1) >= (v2, -k2) or v1 > v2 or (v1 == v2 and k1 < k2)


def test_exact_ntile_distributed_matches_window(spark):
    """VERDICT r5 #7: the unbounded tier (global_row_index + bucket
    arithmetic) must reproduce SQL ntile membership EXACTLY, including
    non-divisible splits (first r buckets take the extra row) and the
    N < n degenerate case."""
    from pyspark.sql import Window

    from pandas_db_sdk_spark import scale

    for N, n in [(10, 4), (97, 10), (5, 8), (64, 8)]:
        df = spark.range(N).withColumn("v", (F.col("id") * 37) % 100)
        want = {
            r.id: r.b
            for r in df.withColumn(
                "b", F.ntile(n).over(Window.orderBy("v", "id"))
            ).collect()
        }
        got = {
            r.id: r.bucket
            for r in scale.exact_ntile(
                df, ["v", "id"], n, max_single_task_rows=None
            ).collect()
        }
        assert got == want, (N, n)


# ---------------------------------------------------------------- adversarial skew


def _adversarial_corpus(spark, k=1000):
    """sf0.1 documents + an injected cluster of k near-identical docs: a
    40-token shared base with one of 7 trailing variant tokens — every
    cluster pair has exact Jaccard >= ~0.85 (1.0 within a variant), so ALL
    ~k²/2 pairs are TRUE near-dups and every band bucket they hash into
    holds ~k docs. This is the degenerate-bucket shape VERDICT r3 item #3
    names: candidate pairs quadratic in bucket size."""
    from pandas_db_sdk_spark.io import tables

    base = " ".join(f"tok{i}" for i in range(40))
    dup_rows = [(1_000_000 + i, base + f" uniq{i % 7}") for i in range(k)]
    cluster = spark.createDataFrame(dup_rows, "doc_id long, text string")
    docs = tables(spark, "/root/testdata/sf0.1")("documents").select("doc_id", "text")
    return docs.unionByName(cluster), {r[0] for r in dup_rows}


def test_minhash_adversarial_duplicate_cluster_end_to_end(spark):
    """d02d's end-to-end path against one band bucket holding 10³
    near-identical docs at sf0.1 scale: the run must complete inside a
    bounded wall-time (the two-pass verify scales with near-dup density,
    not corpus size — but here density IS the load), collapse the entire
    cluster to ONE canonical doc, and leave the background corpus's dedup
    outcome byte-identical to a run without the cluster."""
    import time

    from pandas_db_sdk_spark import dedup
    from pandas_db_sdk_spark.io import tables

    corpus, cluster_ids = _adversarial_corpus(spark, k=1000)

    docs = tables(spark, "/root/testdata/sf0.1")("documents").select("doc_id", "text")
    baseline = {
        r.doc_id
        for r in dedup.dedup_corpus_minhash(
            docs, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
        ).collect()
    }

    t0 = time.perf_counter()
    survivors = {
        r.doc_id
        for r in dedup.dedup_corpus_minhash(
            corpus, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
        ).collect()
    }
    elapsed = time.perf_counter() - t0

    kept_cluster = survivors & cluster_ids
    assert kept_cluster == {min(cluster_ids)}  # one canonical, min-id
    assert survivors - cluster_ids == baseline  # background corpus unaffected
    # generous absolute bound: the ~5×10⁵-pair verify must stay a
    # seconds-scale job, not a quadratic blow-up of the whole run
    assert elapsed < 180, f"adversarial dedup took {elapsed:.0f}s"
    print(f"# adversarial cluster end-to-end: {elapsed:.1f}s")


def test_minhash_adversarial_cluster_pair_volume_and_cap(spark):
    """The raw pair operator against the same cluster: uncapped, the
    degenerate bucket yields ~C(k,2) candidate pairs and (them being true
    near-dups) the estimate prefilter rightly keeps them — the quadratic
    cost is semantic, not accidental. max_bucket_size bounds exactly this:
    capped below k, the cluster's buckets drop and pair volume collapses,
    which is the unattended-corpus safety valve (at the documented recall
    cost for pairs whose ONLY collisions are super-cap buckets)."""
    from pandas_db_sdk_spark import dedup

    corpus, cluster_ids = _adversarial_corpus(spark, k=1000)
    k = len(cluster_ids)

    uncapped = dedup.minhash_lsh_pairs(
        corpus, "doc_id", "text", n_hashes=32, bands=8,
        jaccard_threshold=0.5, max_bucket_size=None,
    )
    n_cluster_pairs = uncapped.filter(
        F.col("id_a").isin(cluster_ids) & F.col("id_b").isin(cluster_ids)
    ).count()
    assert n_cluster_pairs >= 0.99 * k * (k - 1) / 2  # all true pairs surface

    def cluster_pairs(cap):
        got = dedup.minhash_lsh_pairs(
            corpus, "doc_id", "text", n_hashes=32, bands=8,
            jaccard_threshold=0.5, max_bucket_size=cap,
        )
        return got.filter(
            F.col("id_a").isin(cluster_ids) & F.col("id_b").isin(cluster_ids)
        ).count()

    # cap=500: the all-variants giant buckets (size ~k) drop, but the 7
    # exact-dup variant groups (~143 docs each, identical signatures →
    # identical band keys) stay under the cap and still pair — volume
    # collapses from quadratic-in-k toward quadratic-in-group
    n_500 = cluster_pairs(500)
    assert 0 < n_500 < 0.25 * n_cluster_pairs, n_500
    # cap=100: every bucket holding a cluster doc contains that doc's whole
    # ~143-doc variant group, so ALL cluster buckets exceed the cap → zero
    # cluster pairs (the documented recall cost of capping below the
    # natural duplicate-group size)
    assert cluster_pairs(100) == 0


def test_global_cumsum_matches_naive_window_and_partitioning_invariant(spark):
    from pyspark.sql import Window

    from pandas_db_sdk_spark.scale import global_cumsum

    df = (
        spark.range(5000)
        .select(
            (F.col("id") * 37 % 5000).alias("k"),  # 37 ⟂ 5000: bijective, total order
            (F.col("id") % 13).alias("a"),
            (F.col("id") % 7).alias("b"),
        )
        .repartition(16)
    )
    out = global_cumsum(df, ["k"], {"cum_a": "a", "cum_b": "b"}, n_partitions=8)
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    naive = df.withColumn("cum_a", F.sum("a").over(w)).withColumn(
        "cum_b", F.sum("b").over(w)
    )
    got = out.orderBy("k").toPandas()
    want = naive.orderBy("k").toPandas()[got.columns]
    assert got.equals(want)
    # partitioning-invariant: different source layout, same totals
    out2 = global_cumsum(
        df.repartition(3), ["k"], {"cum_a": "a", "cum_b": "b"}, n_partitions=5
    )
    assert out2.orderBy("k").toPandas().equals(want)


def test_global_cumsum_at_bench_scale(spark):
    """600K-row prefix sum through the range-partition path: totals must
    equal the exact aggregate and the frame must stay fully distributed
    (multiple range partitions, no single-task data window)."""
    from pandas_db_sdk_spark.scale import global_cumsum

    li = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet").select(
        F.monotonically_increasing_id().alias("k"), F.col("l_quantity").alias("q")
    )
    out = global_cumsum(li, ["k"], {"cum_q": "q"}, n_partitions=16)
    last = out.orderBy(F.col("k").desc()).limit(1).collect()[0]
    exact = li.agg(F.sum("q")).collect()[0][0]
    assert abs(last["cum_q"] - exact) < 1e-6
    # the DATA window is pid-partitioned (the only single-partition window
    # is the 16-row offsets frame); AQE may coalesce the small OUTPUT
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "windowspecdefinition(__pid" in plan


def test_pagerank_chain_and_star_properties(spark):
    """PageRank sanity at graph level: on a star graph the hub must
    out-rank every leaf; total rank mass stays ≈ 1 (no dangling leakage
    in the undirected formulation); node count fixed across iterations."""
    from pandas_db_sdk_spark import graph

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 21)] + [(100, 101), (101, 102)],
        "id_a long, id_b long",
    )
    out = graph.pagerank(edges, iterations=3).collect()
    ranks = {r.id: r.rank for r in out}
    assert len(ranks) == 24
    hub = ranks[0]
    assert all(hub > ranks[i] for i in range(1, 21)), "hub must dominate leaves"
    assert abs(sum(ranks.values()) - 1.0) < 1e-6, "rank mass must be conserved"


def test_soft_dedup_weights_linear_in_cluster_size(spark):
    """d63's window is COUNT-based — a giant duplicate cluster costs one
    group's count, never cluster² pairs (the structural advantage over
    pair-based dedup for weighting). 20k copies of one text + 1k distinct
    docs: weights exact, wall time ~linear."""
    import time

    from pandas_db_sdk_spark import dedup

    dup = spark.range(20_000).select(
        F.col("id").alias("doc_id"), F.lit("same text " * 20).alias("text")
    )
    uniq = spark.range(1_000).select(
        (F.col("id") + 100_000).alias("doc_id"),
        F.concat(F.lit("unique "), F.col("id").cast("string")).alias("text"),
    )
    df = dup.unionByName(uniq)
    t0 = time.time()
    out = dedup.soft_dedup_weights(df, "doc_id", "text")
    agg = out.groupBy("dup_count").count().collect()
    dt = time.time() - t0
    got = {r.dup_count: r["count"] for r in agg}
    assert got == {20_000: 20_000, 1: 1_000}
    assert dt < 30, f"giant-cluster weighting took {dt:.1f}s"


def test_frequent_substrings_shuffles_hashes_not_strings(spark):
    """d69's pass-1 aggregate must key on xxhash64 (8-byte shuffle rows),
    with the substring text only re-extracted for min_count survivors."""
    from pandas_db_sdk_spark import text as T
    from pandas_db_sdk_spark.io import tables

    d = tables(spark, "/root/testdata/sf0.01")("documents")
    out = T.frequent_substrings(d, "text", length=20, min_count=4, k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "xxhash64" in plan
    rows = out.collect()
    assert 0 < len(rows) <= 5
    assert all(len(r.gram) == 20 and r.n >= 4 for r in rows)


def test_pagerank_directed_keeps_sink_nodes(spark):
    """Directed mode: a pure sink (in-edges only) must still receive rank
    — chain 1→2→3: node 3 has no out-edge but the most incoming mass
    among non-sources."""
    from pandas_db_sdk_spark import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    ranks = {r.id: r.rank for r in graph.pagerank(edges, iterations=3, directed=True).collect()}
    assert set(ranks) == {1, 2, 3}
    assert ranks[3] > ranks[1]  # sink accumulates, source only seeds


def test_hierarchy_depth_chain_forest_and_cycle(spark):
    """Pointer doubling: a 500-deep chain resolves exactly (in ≤ ~10
    doubling rounds, not 500 hops), a multi-root forest keeps each tree's
    depths independent, and a cycle raises instead of mislabeling."""
    from pandas_db_sdk_spark import graph

    chain = spark.createDataFrame(
        [(0, None)] + [(i, i - 1) for i in range(1, 500)], "id long, parent long"
    )
    forest = spark.createDataFrame(
        [(10, None), (11, 10), (20, None), (21, 20), (22, 21)],
        "id long, parent long",
    )
    cycle = spark.createDataFrame([(1, 2), (2, 1)], "id long, parent long")
    # both execution paths (r10): count-gated local memoized walk
    # (default) and distributed pointer doubling agree on values AND
    # the cycle raise
    for thr in (100_000, 0):
        got = {
            r.id: r.depth
            for r in graph.hierarchy_depth(chain, local_threshold=thr).collect()
        }
        assert got == {i: i for i in range(500)}
        got = {
            r.id: r.depth
            for r in graph.hierarchy_depth(forest, local_threshold=thr).collect()
        }
        assert got == {10: 0, 11: 1, 20: 0, 21: 1, 22: 2}
        with pytest.raises(RuntimeError, match="cycle"):
            graph.hierarchy_depth(cycle, max_iter=8, local_threshold=thr)
        # depth-budget parity (ADVICE r10): a 500-deep ACYCLIC chain
        # exceeds 2^8 = 256 — BOTH paths must reject it with the same
        # contract, not just the doubling loop
        with pytest.raises(RuntimeError, match="depth budget"):
            graph.hierarchy_depth(chain, max_iter=8, local_threshold=thr)


def test_set_similarity_adversarial_duplicate_cluster(spark):
    """A 300-copy duplicate cluster injected into a background corpus:
    every true pair must come back (C(300,2) — quadratic because the
    ANSWER is quadratic), background pairs are unaffected, and the
    candidate stage stays an equi-join (no cartesian). This is the d02
    adversarial-skew scenario on the EXACT tier."""
    from pandas_db_sdk_spark import dedup

    dup = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, dup) for i in range(300)]
    rows += [
        (1000 + i, f"background doc {i} about topic{i} with unique{i} filler{i} "
                   f"words{i} and more{i} padding{i} tokens{i} here{i}")
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.set_similarity_join(df, "doc_id", "text", threshold=0.9)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    want = {(a, b) for a in range(300) for b in range(300) if a < b}
    assert pairs == want


def test_connected_components_long_chain_converges_logarithmically(spark):
    """A 512-node PATH is the worst diameter-per-edge graph: min-label
    propagation without compression needs 511 rounds; with per-round path
    compression it must finish inside the default max_iter=30 (~log2
    rounds), labeling every node with the chain head."""
    from pandas_db_sdk_spark import dedup

    edges = spark.range(511).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    # local_threshold=0: this test pins the DISTRIBUTED path's
    # logarithmic convergence; the count-gated local path would
    # bypass the propagation loop entirely
    got = dedup.connected_components(edges, local_threshold=0)
    rows = got.agg(
        F.count("*").alias("n"), F.countDistinct("cluster").alias("k"),
        F.max("cluster").alias("mx"),
    ).collect()[0]
    assert (rows.n, rows.k, rows.mx) == (512, 1, 0)


def test_bfs_hops_seed_density_bounds_rounds(spark):
    """BFS rounds = seed-set eccentricity, NOT graph size: a 512-node
    chain seeded every 16 nodes has eccentricity 8 and converges well
    inside max_iter=30 with exact distance-to-nearest-seed; the same
    chain from a single end-seed exceeds a tight max_iter and must RAISE
    (truncated distances are a correctness bug, not a degraded mode)."""
    import pytest as _pytest

    from pandas_db_sdk_spark import graph

    edges = spark.range(511).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    seeds = spark.range(0, 512, 16).select(F.col("id"))
    # both execution paths (r10): count-gated local relaxation (default)
    # and the distributed frontier loop must agree on values AND raises
    for thr in (100_000, 0):
        got = {
            r.id: r.hops
            for r in graph.bfs_hops(edges, seeds, local_threshold=thr).collect()
        }
        assert len(got) == 512
        assert all(
            h == min(abs(i - s) for s in range(0, 512, 16))
            for i, h in got.items()
        )
        with _pytest.raises(RuntimeError, match="did not converge"):
            graph.bfs_hops(
                edges, spark.range(1).select(F.col("id")), max_iter=5,
                local_threshold=thr,
            )


def test_shortest_paths_rounds_and_raise(spark):
    """Bellman–Ford rounds = max EDGES on any shortest path, not graph
    size: a 256-node chain seeded every 16 nodes converges inside the
    default max_iter=30 with exact weighted distances; an end-seeded
    chain exceeds a tight max_iter and must RAISE (the bfs_hops
    discipline — silent truncation is a correctness bug). With all
    weights 1 the result degrades to bfs_hops exactly."""
    import pytest as _pytest

    from pandas_db_sdk_spark import graph

    edges = spark.range(255).select(
        F.col("id").alias("id_a"),
        (F.col("id") + 1).alias("id_b"),
        (F.col("id") % 3 + 1).alias("w"),
    )
    seeds = spark.range(0, 256, 16).select(F.col("id"))
    w = [i % 3 + 1 for i in range(255)]
    pref = [0]
    for x in w:
        pref.append(pref[-1] + x)  # pref[i] = dist 0 -> i along the chain
    want = {
        i: min(abs(pref[i] - pref[s]) for s in range(0, 256, 16))
        for i in range(256)
    }
    ones = edges.withColumn("w", F.lit(1))
    # both execution paths (r10) must agree on values AND raises
    for thr in (100_000, 0):
        got = {
            r.id: r.dist
            for r in graph.shortest_paths(
                edges, seeds, local_threshold=thr
            ).collect()
        }
        assert got == want
        sp = {
            r.id: r.dist
            for r in graph.shortest_paths(
                ones, seeds, local_threshold=thr
            ).collect()
        }
        bf = {
            r.id: r.hops
            for r in graph.bfs_hops(edges, seeds, local_threshold=thr).collect()
        }
        assert sp == bf
        with _pytest.raises(RuntimeError, match="did not converge"):
            graph.shortest_paths(
                edges, spark.range(1).select(F.col("id")), max_iter=5,
                local_threshold=thr,
            )


def test_shortest_paths_null_weight_contract_shared(spark):
    """NULL-weight edges are IGNORED by both execution paths (ADVICE
    r10): previously the count-gated local path crashed on int(None)
    while the distributed min-aggregate silently dropped the edge —
    divergent behavior for the same input. The null edge here is the
    only direct 1→3 link, so the answer proves it was skipped (not
    treated as weight 0) on both paths."""
    import pytest as _pytest

    from pandas_db_sdk_spark import graph

    edges = spark.createDataFrame(
        [(1, 2, 4), (2, 3, 4), (1, 3, None)],
        "id_a long, id_b long, w int",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    results = []
    for thr in (100_000, 0):
        got = {
            r.id: r.dist
            for r in graph.shortest_paths(
                edges, seeds, local_threshold=thr
            ).collect()
        }
        results.append(got)
    assert results[0] == results[1] == {1: 0, 2: 4, 3: 8}
    # a node reachable ONLY via a null edge is absent, not dist-0/null
    lonely = spark.createDataFrame(
        [(1, 2, None)], "id_a long, id_b long, w int"
    )
    for thr in (100_000, 0):
        got = {
            r.id: r.dist
            for r in graph.shortest_paths(
                lonely, seeds, local_threshold=thr
            ).collect()
        }
        assert got == {1: 0}


def test_every_size_gate_runs_its_input_once(spark):
    """Every count-gated graph operator persists its input before the
    size probe, so under the default threshold the probe and the collect
    share ONE evaluation: an accumulator in a Python UDF filter of a
    200-row input must count exactly 200. (An unpersisted probe runs the
    input again for the collect: 400.)"""
    from pandas_db_sdk_spark import dedup, graph

    n = 200
    chain = spark.range(n).select(
        F.col("id").alias("id_a"),
        (F.col("id") + 1).alias("id_b"),
        F.lit(1).alias("w"),
    )
    parents = spark.range(n).select(
        "id", F.when(F.col("id") > 0, F.col("id") - 1).alias("parent")
    )
    seeds = spark.range(1).select("id")
    runs = {
        "hierarchy_depth": (parents, "id", graph.hierarchy_depth),
        "shortest_paths": (
            chain, "id_a",
            lambda e: graph.shortest_paths(e, seeds, max_iter=n + 1),
        ),
        "bfs_hops": (
            chain, "id_a", lambda e: graph.bfs_hops(e, seeds, max_iter=n + 1)
        ),
        "kcore": (chain, "id_a", lambda e: graph.kcore(e, k=1)),
        "connected_components": (chain, "id_a", dedup.connected_components),
    }
    evals = {}
    for name, (frame, col, op) in runs.items():
        acc = spark.sparkContext.accumulator(0)

        def keep(x, acc=acc):
            acc.add(1)
            return True

        op(frame.filter(F.udf(keep, "boolean")(col))).collect()
        evals[name] = acc.value
    assert evals == {name: n for name in runs}, evals


def test_shortest_paths_hub_star_settles_in_two_rounds(spark):
    """Adversarial skew: a 5000-leaf star seeded at one leaf routes every
    relaxation through the hub — the frontier join is maximally skewed on
    one key. Must still settle in 2 improving rounds (leaf→hub, hub→all)
    with exact distances, well inside a tight max_iter: round count is a
    property of path hops, never of degree or data volume."""
    from pandas_db_sdk_spark import graph

    n = 5000
    edges = spark.range(1, n + 1).select(
        F.lit(0).alias("id_a"), F.col("id").alias("id_b"), F.lit(2).alias("w")
    )
    seeds = spark.range(1, 2).select(F.col("id"))
    # local_threshold=0: this pins the DISTRIBUTED round budget under skew
    got = graph.shortest_paths(edges, seeds, max_iter=4, local_threshold=0)
    rows = got.groupBy("dist").count().orderBy("dist").collect()
    # leaf 1: 0; hub: 2; every other leaf: 4
    assert [(r.dist, r["count"]) for r in rows] == [(0, 1), (2, 1), (4, n - 1)]


def test_cc_and_bfs_hub_star_rounds_degree_independent(spark):
    """Adversarial skew for the label-propagation tier (VERDICT r8 #7):
    a 10^4-degree hub star is the 100x-scale failure mode — a naive
    neighbor-expansion amplifies the hub every round. Pin (a) exact
    results under maximal skew, and (b) DEGREE-INDEPENDENCE of the round
    budget: the driver job count for a 10^4-degree hub must EQUAL the
    job count for a 10^3-degree hub (rounds are a property of seed
    eccentricity / label diameter, never of degree), so hub
    amplification shows up as a hard failure here, not a slow bench.
    Per-round state stays node-sized by construction (delta frontiers,
    min-label merges); the lineage side is pinned by
    test_iterative_graph_stage_counts_stay_linear."""
    from pandas_db_sdk_spark import dedup, graph

    sc = spark.sparkContext

    def jobs_for(fn, tag):
        tracker = sc.statusTracker()
        before = set(tracker.getJobIdsForGroup(tag))
        sc.setJobGroup(tag, "hub-skew round pin")
        try:
            fn()
        finally:
            sc.setJobGroup(None, None)
        return len(set(tracker.getJobIdsForGroup(tag)) - before)

    jobs = {}
    for n in (1_000, 10_000):
        # pin the physical input shape: spark.range picks partition counts
        # from n, and AQE turns that into different per-stage job splits —
        # a same-shape repartition isolates the variable under test
        # (degree) from partitioning noise
        edges = (
            spark.range(1, n + 1)
            .select(F.lit(0).alias("id_a"), F.col("id").alias("id_b"))
            .repartition(8, "id_b")
        )

        def run_cc(edges=edges, n=n):
            got = dedup.connected_components(
                edges, max_iter=8, local_threshold=0
            )
            rows = got.agg(
                F.count("*").alias("cnt"),
                F.countDistinct("cluster").alias("k"),
                F.max("cluster").alias("mx"),
            ).collect()[0]
            assert (rows.cnt, rows.k, rows.mx) == (n + 1, 1, 0)

        def run_bfs(edges=edges, n=n):
            seeds = spark.range(1, 2).select(F.col("id"))
            got = graph.bfs_hops(edges, seeds, max_iter=4, local_threshold=0)
            dist = got.groupBy("hops").count().orderBy("hops").collect()
            assert [(r.hops, r["count"]) for r in dist] == [
                (0, 1), (1, 1), (2, n - 1)
            ]

        run_cc()   # unmeasured warm-up: the scratch pool's first-touch
        run_bfs()  # materialization jobs are cache state, not rounds
        jobs[("cc", n)] = jobs_for(run_cc, f"hubcc{n}")
        jobs[("bfs", n)] = jobs_for(run_bfs, f"hubbfs{n}")

    # one extra propagation round costs >= 3 jobs (frontier join +
    # localCheckpoint + convergence probe), so a tolerance of 2 absorbs
    # cache/AQE job-count jitter while still failing on ANY extra round
    assert abs(jobs[("cc", 1_000)] - jobs[("cc", 10_000)]) <= 2, jobs
    assert abs(jobs[("bfs", 1_000)] - jobs[("bfs", 10_000)]) <= 2, jobs


def test_line_dedup_adversarial_boilerplate_skew(spark):
    """d139 at adversarial skew: ONE line (the cookie banner) appears in
    every document — 50k replicas of a single line key.  The
    partial-aggregable keep-first must stay wall-clock-flat (each map
    task contributes ONE candidate for the hot line, so the reduce side
    sees ~n_partitions rows, not 50k) and the result must keep exactly
    the globally-first replica.  A window/row_number plan would funnel
    all 50k rows into one partition before ranking."""
    import time

    from pandas_db_sdk_spark import text

    n_docs = 25_000
    docs = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    banner = F.lit("we value your privacy accept cookies")
    lines = docs.select(
        "doc_id", F.lit(0).alias("line_no"), banner.alias("line")
    ).unionByName(
        docs.select(
            "doc_id",
            F.lit(1).alias("line_no"),
            F.concat(F.lit("unique body "), F.col("doc_id").cast("string")).alias(
                "line"
            ),
        )
    )
    t0 = time.time()
    out = text.dedup_lines_corpus(lines, "doc_id", "line_no", "line")
    agg = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_kept_lines").alias("kept"),
        F.sum((F.col("n_kept_lines") == 2).cast("int")).alias("full_keepers"),
    ).collect()[0]
    elapsed = time.time() - t0
    # every doc survives; the banner survives ONCE (doc 0), bodies all stay
    assert agg.docs == n_docs
    assert agg.kept == n_docs + 1
    assert agg.full_keepers == 1
    first = out.filter(F.col("doc_id") == 0).collect()[0]
    assert first.n_kept_lines == 2 and first.dedup_text.startswith("we value")
    # generous wall-clock guard: the hot key must not serialize the job
    assert elapsed < 60, f"skewed line dedup took {elapsed:.1f}s"
