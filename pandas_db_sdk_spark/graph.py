"""Document-graph analytics — iterative link algorithms as DataFrame loops.

Training-data pipelines use lightweight graphs over documents (shared rare
vocabulary, citation/link fields, near-dup edges) for influence scoring and
sampling. The algorithms here follow the repo's iterative-op discipline
(dedup.connected_components): pure DataFrame joins per round, localCheckpoint
to keep lineage O(1), only O(1) driver state.

Reference parity: the reference SDK (client.py, 216 lines) has no graph
surface; this extends the engine the same way Tier-D does (SURVEY §2.5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ._localrel import local_rows_df
from ._scratch import scratch_persist

# Exact accumulation type for rank mass: per-node neighbor sums are
# order-dependent in double; routing every contribution through decimal
# makes each iteration bit-deterministic under any partitioning (the same
# trick as corpus/_util.dsum), so a single-node oracle can replay the
# unrolled recurrence exactly.
_RDEC = "decimal(28,14)"


def _size_gate(df: DataFrame, slot: str, threshold: int):
    """The one driver-side size gate of the iterative graph operators:
    persist ``df`` once through the scratch pool, then collect it when it
    holds at most ``threshold`` rows (probed with an early-stopping limit
    count, never a full count on the big path). Returns ``(persisted df,
    rows)``; rows is None past the gate or at ``threshold=0``, which pins
    the distributed path. That path reads the same persisted frame, so
    the input is evaluated once whichever path runs."""
    df = scratch_persist(df, slot)
    if threshold > 0 and df.limit(threshold + 1).count() <= threshold:
        return df, df.collect()
    return df, None


def _simple_edges(edges: DataFrame, a: str, b: str) -> DataFrame:
    """``(a, b)`` without NULL endpoints and self-loops: the input hygiene
    of :func:`kcore` and :func:`label_propagation_communities`."""
    return edges.select(a, b).filter(
        F.col(a).isNotNull() & F.col(b).isNotNull() & (F.col(a) != F.col(b))
    )


def _both_directions(edges: DataFrame, a: str, b: str, *extra: str) -> DataFrame:
    """The distinct both-direction edge table ``(s, d, *extra)``: every
    edge contributes a→b and b→a, so duplicates and reversed duplicates
    collapse."""
    return (
        edges.select(F.col(a).alias("s"), F.col(b).alias("d"), *extra)
        .union(edges.select(F.col(b).alias("s"), F.col(a).alias("d"), *extra))
        .distinct()
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    iterations: int = 3,
    damping: float = 0.85,
    directed: bool = False,
) -> DataFrame:
    """PageRank over an edge list, fixed iteration count.

    Returns (id, rank) for every node that appears in an edge. Undirected
    by default (each edge contributes both directions), so every node has
    degree >= 1 and there is no dangling-mass term — the recurrence is the
    textbook r' = (1-d)/N + d * Σ_in r/deg.

    Scale shape: degree is one aggregate; each iteration is one
    (src-keyed) join + one (dst-keyed) partial+final aggregate — rank and
    degree tables hold one row per NODE, never per edge, and the edge
    table is the only corpus-sized operand. localCheckpoint per round
    keeps the plan from growing a join-tree per iteration. Ranks
    accumulate through DECIMAL (bit-deterministic; oracle-replayable) and
    each iteration rounds to 12 dp so the fixed point is engine-exact.
    """
    if directed:
        e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).distinct()
    else:
        e = _both_directions(edges, src, dst)
    e = e.localCheckpoint(eager=False)

    deg = e.groupBy("s").agg(F.count("*").alias("deg"))
    # every endpoint is a node: in the directed case pure SINKS have no
    # out-edge (no deg row) but still accumulate rank; deriving nodes
    # from deg alone would silently drop them. (Directed dangling mass is
    # NOT redistributed — sinks absorb it; the undirected default has no
    # dangling nodes, so its recurrence is the exact textbook one.)
    nodes = (
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()

    # init rounds like every iteration does — the oracle replays the
    # recurrence on rounded values, so the seed must be rounded too
    ranks = nodes.select("id", F.round(F.lit(1.0 / n), 12).alias("rank"))
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = (
            e.join(deg, "s")
            .join(ranks.withColumnRenamed("id", "s"), "s")
            .select("d", (F.col("rank") / F.col("deg")).alias("c"))
        )
        incoming = contrib.groupBy("d").agg(
            F.sum(F.col("c").cast(_RDEC)).cast("double").alias("m")
        )
        ranks = (
            nodes.join(incoming.withColumnRenamed("d", "id"), "id", "left")
            .select(
                "id",
                F.round(
                    F.lit(base) + F.lit(damping) * F.coalesce("m", F.lit(0.0)), 12
                ).alias("rank"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


def rare_token_edges(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_df: int = 3,
    shingle: int = 3,
) -> DataFrame:
    """Document co-occurrence edges through RARE features: (id_a < id_b)
    for every pair of docs sharing a word ``shingle``-gram whose document
    frequency lies in [min_df, max_df] (single tokens are too common to be
    discriminative — ``shingle=1`` degrades to them). Rare-feature
    blocking bounds the bucket: a feature's pair contribution is at most
    C(max_df, 2), so edge volume is O(vocab × max_df²) — linear-ish, never
    a corpus self-join. (At 100 TB, re-key the groupBy on
    xxhash64(feature) — 8-byte shuffle keys; hash collisions only add
    spurious edges, which PageRank tolerates.)"""
    from .text import word_ngrams

    feat = (
        word_ngrams(text_col, shingle)
        if shingle > 1
        else F.split(F.col(text_col), " ")
    )
    pairs = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(feat)).alias("token"),
    )
    rare = (
        pairs.groupBy("token")
        .agg(F.collect_set("id").alias("ids"))
        .filter((F.size("ids") >= min_df) & (F.size("ids") <= max_df))
    )
    # slot-pooled scratch (r10): the edge list is consumed several times
    # by every caller — the adaptive gate's probe + collect, seed
    # derivation, and the iterative loop's own edge cache — and across
    # the d94/d95/d100/d65 family; without this each pass re-runs the
    # explode + collect_set pipeline over the corpus
    return scratch_persist(
        rare.select(
            F.explode(
                F.expr(
                    "flatten(transform(array_sort(ids), (a, i) -> "
                    "transform(slice(array_sort(ids), i + 2, size(ids)), "
                    "b -> struct(a AS id_a, b AS id_b))))"
                )
            ).alias("p")
        )
        .select("p.*")
        .distinct(),
        "rare_token_edges/pairs",
    )


def hierarchy_depth(
    parents: DataFrame,
    id_col: str = "id",
    parent_col: str = "parent",
    max_iter: int = 40,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Depth of every node in a forest given (id, parent) edges — parent
    NULL marks a root (depth 0). The transitive-closure sibling of
    ``dedup.connected_components``, via POINTER DOUBLING: each round every
    node's known ancestor jumps to THAT ancestor's known ancestor and the
    step counts add, so reachable distance doubles per round — a depth-10⁶
    chain resolves in ~20 rounds, each ONE self-join of the node-sized
    state table (never a per-level corpus join). localCheckpoint per round
    keeps lineage O(1); exceeding ``max_iter`` raises (a cycle — depth is
    undefined — or a tree deeper than 2^40) rather than returning wrong
    depths.

    ADAPTIVE (r10, the connected_components discipline): hierarchies at
    most ``local_threshold`` rows resolve driver-side with a memoized
    parent walk (exact integers, identical cycle raise);
    ``local_threshold=0`` pins the distributed path.
    """
    p, rows = _size_gate(
        parents.select(
            F.col(id_col).alias("id"), F.col(parent_col).alias("parent")
        ),
        "hierarchy_depth/parents",
        local_threshold,
    )
    if rows is not None:
        parent = {r[0]: r[1] for r in rows if r[1] is not None}
        roots_l = [r[0] for r in rows if r[1] is None]
        depth: dict = {}
        # shared raise contract (ADVICE r10): the local walk enforces
        # the SAME depth budget the doubling loop implies (resolvable
        # depth <= 2^max_iter) and raises the SAME mechanism-neutral
        # message on either trigger — previously the local path
        # accepted arbitrarily deep acyclic chains the distributed
        # path would reject, and its message misdescribed the walk.
        bound = 1 << max_iter

        def resolve(x):
            chain = []
            cur = x
            while cur in parent and cur not in depth:
                if cur in seen_on_path:
                    raise RuntimeError(_hier_budget_msg(max_iter))
                seen_on_path.add(cur)
                chain.append(cur)
                cur = parent[cur]
            base = depth.get(cur, 0)
            for node in reversed(chain):
                base += 1
                if base > bound:
                    raise RuntimeError(_hier_budget_msg(max_iter))
                depth[node] = base

        for r in rows:
            if r[1] is not None and r[0] not in depth:
                seen_on_path: set = set()
                resolve(r[0])
        out = [(x, 0) for x in roots_l] + [
            (x, depth[x]) for x in (r[0] for r in rows) if x in depth
        ]
        return local_rows_df(parents.sparkSession,
            out, f"id {dict(parents.dtypes)[id_col]}, depth int"
        )

    roots = p.filter(F.col("parent").isNull()).select(
        "id", F.lit(0).alias("depth")
    )
    state = (
        p.filter(F.col("parent").isNotNull())
        .select("id", F.col("parent").alias("anc"), F.lit(1).alias("d"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iter):
        t = state.select(
            F.col("id").alias("t_id"),
            F.col("anc").alias("t_anc"),
            F.col("d").alias("t_d"),
        )
        jumped = (
            state.join(t, state.anc == t.t_id, "left")
            .select(
                "id",
                F.coalesce("t_anc", "anc").alias("anc"),
                (F.col("d") + F.coalesce("t_d", F.lit(0))).alias("d"),
                F.col("t_id").isNotNull().alias("__moved"),
            )
            .localCheckpoint(eager=False)
        )
        moved = jumped.filter(F.col("__moved")).limit(1).count()
        state = jumped.drop("__moved")
        if not moved:
            break
    else:
        raise RuntimeError(_hier_budget_msg(max_iter))
    return roots.union(state.select("id", F.col("d").alias("depth")))


def _hier_budget_msg(max_iter: int) -> str:
    """One message for BOTH hierarchy_depth execution paths: the raise
    fires when depth exceeds the 2^max_iter budget OR the parent edges
    contain a cycle (depth undefined) — mechanism-neutral wording so the
    local memoized walk and the distributed doubling loop share one
    contract (ADVICE r10)."""
    return (
        f"hierarchy_depth exceeded its depth budget (depth > 2^{max_iter}) "
        "or the parent edges contain a cycle (depth is undefined on a "
        "cycle) — raise max_iter only for genuinely deeper forests"
    )


def triangle_count(edges: DataFrame, a: str = "id_a", b: str = "id_b") -> DataFrame:
    """Exact global triangle count over an undirected edge list, via
    DEGREE-ORIENTED wedge joins — the O(E^1.5) bound that survives skew.

    A naive wedge join explodes on hub nodes (Σ deg² wedges; one celebrity
    node with degree 10⁶ yields 10¹² wedges). Orienting every edge from
    its lower-(degree, id) endpoint to the higher one caps every node's
    OUT-degree at O(√E), so the wedge join generates at most O(E^1.5)
    candidates regardless of degree skew, and each triangle is counted
    exactly once (at its minimum-order vertex). Three equi-joins total:
    degrees (one agg), wedges (out×out self-join), closing-edge probe.

    Input edges may carry duplicates or both directions; they are
    normalized to distinct undirected pairs first. Returns one row:
    (n_edges, n_triangles).
    """
    # both consumed >=2x (degrees + orientation + edge count; wedge x2 +
    # closing probe): persist so the normalize/orient subtrees run once —
    # without this every reference replays the full upstream plan
    und = scratch_persist(
        edges.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        "triangle_count/und",
    )
    deg = (
        und.select(F.col("u").alias("n"))
        .unionAll(und.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    # orientation key: degree-major, id-minor — a total order, encoded as
    # one comparable long (ids are < 2^31 in every fixture/TPC-H domain;
    # degree < 2^31 by pigeonhole)
    key = (F.col("d").cast("long") * F.lit(1 << 31) + F.col("n")).alias("k")
    keyed = deg.select("n", key)
    ku = keyed.select(F.col("n").alias("u"), F.col("k").alias("ku"))
    kv = keyed.select(F.col("n").alias("v"), F.col("k").alias("kv"))
    oriented = scratch_persist((
        und.join(ku, "u")
        .join(kv, "v")
        .select(
            F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(F.col("ku") < F.col("kv"), F.col("kv")).otherwise(F.col("ku")).alias("kdst"),
        )
    ), "triangle_count/oriented")
    o1 = oriented.select("src", F.col("dst").alias("w1"), F.col("kdst").alias("k1"))
    o2 = oriented.select("src", F.col("dst").alias("w2"), F.col("kdst").alias("k2"))
    wedges = o1.join(o2, "src").filter(F.col("k1") < F.col("k2")).select("w1", "w2")
    # inner (not semi): oriented edges are distinct, so each wedge matches
    # its closing edge at most once — the join IS the triangle set
    closed = wedges.join(
        oriented.select(F.col("src").alias("w1"), F.col("dst").alias("w2")),
        ["w1", "w2"],
    )
    n_tri = closed.agg(F.count("*").alias("n_triangles"))
    n_e = und.agg(F.count("*").alias("n_edges"))
    return n_e.crossJoin(F.broadcast(n_tri))


def _local_frontier_relax(edge_rows, seed_ids, max_iter):
    """Driver-side twin of the :func:`shortest_paths` round loop: the
    SAME round-based Bellman–Ford over undirected ``(s, d, w)`` rows,
    with the same round budget, in exact integer arithmetic. Returns
    ``(dist, live)``; ``live`` is True when a frontier survives
    ``max_iter`` rounds, and the caller raises on it."""
    adj: dict = {}
    for s, d, w in edge_rows:
        adj.setdefault(s, []).append((d, w))
        adj.setdefault(d, []).append((s, w))
    dist = {sd: 0 for sd in seed_ids}
    frontier = set(seed_ids)
    for _ in range(max_iter):
        if not frontier:
            break
        nxt = set()
        for u in frontier:
            du = dist[u]
            for v, w in adj.get(u, ()):
                nd = du + w
                if v not in dist or nd < dist[v]:
                    dist[v] = nd
                    nxt.add(v)
        frontier = nxt
    return dist, bool(frontier)


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    weight: str = "w",
    max_iter: int = 30,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Single-source-set WEIGHTED shortest paths over an undirected edge
    list — Bellman–Ford frontier relaxation as pure DataFrame rounds; the
    weighted generalization of BFS (:func:`bfs_hops` is this operator
    with every weight 1).

    ``seeds`` is a one-column DataFrame of source node ids (distance 0);
    ``weight`` must be a NON-NEGATIVE integer-typed column (distances
    accumulate in long, so sums are exact and the result is
    hash-certifiable against a declarative oracle — float weights would
    reintroduce order-dependent rounding). Null-weight edges are ignored
    on both execution paths. Returns (id, dist long) for every node
    reachable from a seed; unreachable nodes are absent (their distance
    is undefined, and a sentinel would poison downstream minimums).

    Scale shape: state is one row per REACHED node; each round relaxes
    only the just-improved DELTA against the edge table (one equi-join +
    one min-aggregate — map-side partial, so the shuffle carries
    node-sized data), then min-merges into the state; localCheckpoint per
    round keeps lineage O(1). Bellman–Ford settles every shortest path
    that uses ≤ k edges by round k, so convergence within ``max_iter``
    PROVES no shortest path is longer than max_iter hops — which is
    exactly the bound a depth-limited recursive-CTE oracle needs to be
    exhaustive. Raises after ``max_iter`` rounds with a live frontier
    instead of returning silently-truncated distances.

    ADAPTIVE (r10, the connected_components discipline): at most
    ``local_threshold`` edges (:func:`_size_gate`) solve driver-side with
    the SAME round-counting Bellman–Ford (exact long arithmetic,
    identical raise contract), replacing rounds × 2 driver actions of
    distributed fixpoint with one bounded collect.
    ``local_threshold=0`` pins the distributed path.
    """
    weighted, rows = _size_gate(
        edges.filter(F.col(weight).isNotNull()).select(
            F.col(a).alias("s"),
            F.col(b).alias("d"),
            F.col(weight).cast("long").alias("w"),
        ),
        "shortest_paths/weighted",
        local_threshold,
    )
    if rows is not None:
        seed_ids = [r[0] for r in seeds.distinct().collect()]
        dist, live = _local_frontier_relax(rows, seed_ids, max_iter)
        out = local_rows_df(edges.sparkSession,
            list(dist.items()), f"id {dict(edges.dtypes)[a]}, dist long"
        )
    else:
        e = scratch_persist(
            _both_directions(weighted, "s", "d", "w"), "shortest_paths/edges"
        )
        state = (
            seeds.select(F.col(seeds.columns[0]).alias("id"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
            .localCheckpoint(eager=False)
        )
        frontier = state
        live = False
        for _ in range(max_iter):
            if frontier.isEmpty():
                break
            relaxed = (
                e.join(frontier.withColumnRenamed("id", "s"), "s")
                .groupBy(F.col("d").alias("id"))
                .agg(F.min(F.col("dist") + F.col("w")).alias("dist"))
            )
            # ONE aggregate yields both the merged state (min over
            # old+new) and the old value needed to detect the delta — so
            # each round is one exchange and ONE localCheckpoint; a
            # separate merged-vs-state join would double both (r8 bench:
            # halves per-round driver jobs)
            merged = (
                state.withColumn("__old", F.col("dist"))
                .unionByName(relaxed.withColumn("__old", F.lit(None).cast("long")))
                .groupBy("id")
                .agg(F.min("dist").alias("dist"), F.min("__old").alias("__old"))
                .localCheckpoint(eager=False)
            )
            frontier = merged.filter(
                F.col("__old").isNull() | (F.col("dist") < F.col("__old"))
            ).select("id", "dist")
            state = merged.select("id", "dist")
        else:
            live = not frontier.isEmpty()
        out = state.select("id", F.col("dist").cast("long").alias("dist"))
    if live:
        raise RuntimeError(
            f"shortest_paths did not converge in {max_iter} rounds — some "
            "shortest path uses more edges; raise max_iter for this graph"
        )
    return out


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    max_iter: int = 30,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Minimum hop distance from a seed set over an undirected edge list:
    :func:`shortest_paths` with every edge weight 1, so both share one
    relaxation loop, one size gate and one raise contract (rounds = seed-
    set eccentricity; a frontier still live after ``max_iter`` rounds
    raises instead of returning truncated distances).

    ``seeds`` is a one-column DataFrame of seed node ids (distance 0).
    Returns (id, hops int) for every node REACHABLE from a seed;
    unreachable nodes are absent. ``local_threshold=0`` pins the
    distributed path.
    """
    unit = edges.select(
        F.col(a).alias("s"), F.col(b).alias("d"), F.lit(1).alias("w")
    )
    return shortest_paths(
        unit, seeds, "s", "d", "w", max_iter, local_threshold
    ).select("id", F.col("dist").cast("int").alias("hops"))


def kcore(
    edges: DataFrame,
    a: str = "id_a",
    b: str = "id_b",
    k: int = 3,
    max_iter: int = 50,
    local_threshold: int = 100_000,
) -> DataFrame:
    """k-core decomposition (membership tier): the maximal subgraph in
    which every vertex keeps degree >= k, computed by the standard
    iterative peeling — delete all vertices below degree k, recompute,
    repeat to a fixed point.  The degree test must CASCADE: a vertex
    whose initial degree clears k can still die when its neighbors
    peel (pinned in tests — a one-round degree filter is wrong).

    Input is an undirected edge list; duplicate edges, reversed
    duplicates, self-loops, and NULL endpoints are dropped on BOTH
    execution paths (one contract — the shortest_paths/bfs advice
    lesson).  Returns (id, core_degree int): the members of the k-core
    with their degree INSIDE the core (>= k by construction); an empty
    result means the graph has no k-core.

    Scale shape: each round is one partial+final degree aggregate plus
    two left-anti joins against the (bounded, usually tiny) victim
    set; the EDGE SET ITSELF SHRINKS monotonically — the d137
    large/small-star property — so late rounds touch a fraction of the
    input; localCheckpoint per round keeps lineage O(1) and the
    victim-set emptiness probe is the only driver round-trip.  Rounds
    are bounded by the peeling depth (degeneracy ordering length), in
    practice a handful; after ``max_iter`` rounds with a live victim
    set it raises instead of returning a silently-non-maximal core.

    ADAPTIVE: sub-``local_threshold`` edge tables peel driver-side
    (identical cascade, identical raise contract);
    ``local_threshold=0`` pins the distributed path."""
    clean, rows = _size_gate(
        _simple_edges(edges, a, b), "kcore/clean_edges", local_threshold
    )
    if rows is not None:
        adj: dict = {}
        for u, v in rows:
            adj.setdefault(u, set()).add(v)
            adj.setdefault(v, set()).add(u)
        for _ in range(max_iter):
            victims = [u for u, nb in adj.items() if len(nb) < k]
            if not victims:
                break
            for u in victims:
                for v in adj.pop(u):
                    if v in adj:
                        adj[v].discard(u)
        live = any(len(nb) < k for nb in adj.values())
        out = local_rows_df(edges.sparkSession,
            [(u, len(nb)) for u, nb in adj.items()],
            f"id {dict(edges.dtypes)[a]}, core_degree int",
        )
    else:
        e = scratch_persist(_both_directions(clean, a, b), "kcore/edges")

        def victims_of(e):
            deg = e.groupBy("s").agg(F.count("*").alias("__deg"))
            return deg.filter(F.col("__deg") < k).select("s")

        live = False
        for _ in range(max_iter):
            victims = victims_of(e)
            if victims.isEmpty():
                break
            # the victim set is bounded by this round's casualties — AQE
            # broadcasts it; both anti-joins prune the SAME shrinking
            # edge set
            e = (
                e.join(victims, "s", "left_anti")
                .join(victims.withColumnRenamed("s", "d"), "d", "left_anti")
                .localCheckpoint(eager=False)
            )
        else:
            live = not victims_of(e).isEmpty()
        out = (
            e.groupBy("s")
            .agg(F.count("*").cast("int").alias("core_degree"))
            .select(F.col("s").alias("id"), "core_degree")
        )
    if live:
        raise RuntimeError(
            f"kcore did not converge in {max_iter} rounds — peeling depth "
            "exceeds max_iter; raise it for this graph"
        )
    return out


def label_propagation_communities(
    edges: DataFrame, a: str = "id_a", b: str = "id_b", rounds: int = 2
) -> DataFrame:
    """Community detection by synchronous label propagation (the
    Raghavan-et-al LPA family): every node starts as its own label and
    each round adopts the MOST FREQUENT label among its neighbors
    (ties to the smallest label — fully deterministic, so the op is
    oracle-replayable round by round).  FIXED round count by design:
    synchronous LPA can oscillate on bipartite structures, so "run to
    convergence" is not a well-defined distributed contract — callers
    pick the horizon, and the certified semantics are exactly
    ``rounds`` synchronous updates (the d98c unrolled-replay
    precedent).

    Input hygiene matches kcore (:func:`_simple_edges`): NULL endpoints
    and self-loops drop, duplicates and reversed duplicates collapse.  Returns
    (id, community) for every node that appears in an edge.

    Scale: per round ONE label-lookup equi-join (labels are
    node-sized, AQE picks broadcast vs shuffled-hash) + one
    (node, label)-keyed partial+final count + one node-keyed
    min(struct) argmax — no collect_list, so hub neighborhoods never
    materialize; localCheckpoint per round keeps lineage O(1)."""
    e = scratch_persist(
        _both_directions(_simple_edges(edges, a, b), a, b), "lpa/edges"
    )
    labels = (
        e.select(F.col("s").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("lbl"))
        .localCheckpoint(eager=False)
    )
    for _ in range(rounds):
        nb = e.join(labels.withColumnRenamed("id", "d"), "d").select("s", "lbl")
        cnt = nb.groupBy("s", "lbl").agg(F.count("*").alias("c"))
        labels = (
            cnt.groupBy("s")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("nc"), F.col("lbl").alias("l")
                    )
                ).alias("__w")
            )
            .select(F.col("s").alias("id"), F.col("__w.l").alias("lbl"))
            .localCheckpoint(eager=False)
        )
    return labels.select("id", F.col("lbl").alias("community"))
