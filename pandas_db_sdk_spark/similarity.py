"""Vector similarity search — SURVEY §2 D3/D4.

Embeddings are `array<float>` columns. Cosine scoring runs as JVM
higher-order functions (zip_with / aggregate) in double precision; the
only Python in a search path is a vectorized pandas_udf mapping vectors
to signatures, cells or codes (one numpy matmul per Arrow batch).

Five tiers, one results contract — per-query top-k rows
(query_id, neighbor_id, score, rank):

* brute force (:func:`cosine_topk_bruteforce`) — broadcast the small
  query set, score every corpus row. The exact baseline.
* hyperplane LSH (:func:`cosine_topk_lsh`) — seeded random-hyperplane
  signatures, equi-join on (table, bucket), exact rerank inside buckets.
  No training; cost ∝ bucket collisions, not corpus size.
* IVF (:func:`cosine_topk_ivf`) — k-means cells, probe the nearest cells
  per query, exact rerank inside the probed cells.
* PQ (:func:`pq_train` / :func:`pq_encode` / :func:`pq_topk`) —
  per-subspace codebooks, asymmetric-distance (ADC) top-k over m-byte
  codes.
* IVF-PQ (:func:`ivf_pq_index` / :func:`ivf_pq_topk`) — IVF cells
  restrict the candidates, PQ codes score them.

Every decision the tiers share has one home:

* :func:`_sq_dists` — the squared-L2 expansion ‖x‖² − 2x·c + ‖c‖².
* :func:`_nearest_cells` — the vector → cell pandas_udf (argmin, or the
  n nearest cells in argsort order).
* :func:`_lloyd` — the Lloyd k-means loop over m subspaces (IVF: m = 1,
  PQ: m = m_subspaces).
* :func:`_rerank_side` / :func:`_cos_topk` — the per-row-norm projection
  and the rounded-cosine rerank with its (cos desc, neighbor_id) top-k.
* :func:`_lsh_candidates` — the hyperplane bucket equi-join.
* :func:`_pq_lut` / :func:`_adc_topk` — the ADC lookup table and top-k.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _scratch
from ._localrel import local_rows_df


def _double_literal(x) -> str:
    """SQL double literal for a Python/numpy scalar, safe under any numpy.

    cast('…' as double) form, not the D suffix: repr() can emit scientific
    notation for tiny loadings and cast('1e-07' as double) is the parse
    that is valid for every float repr.  The float() conversion is load-
    bearing (ADVICE r10): numpy >= 2.0 reprs its scalars as
    'np.float64(0.1)', which would embed an invalid literal — convert to
    a builtin float FIRST so repr() is always the bare decimal form."""
    return f"cast('{float(x)!r}' as double)"


def dot(a, b):
    """Σ aᵢ·bᵢ in double — zip_with + aggregate, fully codegen'd."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def l2_norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a, b):
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _sq_dists(x, c):
    """(rows × cells) squared L2 via the expansion trick — one matmul."""
    return (x * x).sum(1)[:, None] - 2 * (x @ c.T) + (c * c).sum(1)[None, :]


def _nearest_cells(centroids, n_probes: int | None = None):
    """pandas_udf: array<double> vector → its nearest centroid (``int``),
    or with ``n_probes`` its n nearest (``array<int>``, argsort order, so
    ties keep numpy's order). The centroid matrix rides the closure."""
    from pyspark.sql.pandas.functions import pandas_udf

    cent = np.asarray(centroids)

    @pandas_udf("int" if n_probes is None else "array<int>")
    def cells(vecs: pd.Series) -> pd.Series:
        d = _sq_dists(np.stack(vecs.to_numpy()), cent)
        if n_probes is None:
            return pd.Series(d.argmin(1).astype("int32"))
        return pd.Series(list(np.argsort(d, 1)[:, :n_probes].astype("int32")))

    return cells


def _rerank_side(df: DataFrame, id_col: str, vec_col: str, side: str, *extra) -> DataFrame:
    """One side of a cosine rerank: (query_id, __qv, __qn) for side "q",
    (neighbor_id, __cv, __cn) for "c", plus ``extra`` columns. Norms are
    per-ROW quantities — computed once here, not once per (query, corpus)
    pair inside the scoring join: at Q queries that's 2Q× fewer
    aggregate() passes over every corpus vector."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias("query_id" if side == "q" else "neighbor_id"),
        v.alias(f"__{side}v"),
        l2_norm(v).alias(f"__{side}n"),
        *extra,
    )


def _cos_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact rerank of joined :func:`_rerank_side` pairs: cosine rounded
    to 6 dp, per-query top-k by (cos desc, neighbor_id) →
    (query_id, neighbor_id, cos, rank)."""
    scored = pairs.withColumn(
        "cos",
        F.round(dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")), 6),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """D3 baseline: exact top-k by cosine. Queries are broadcast (they must be
    small — that's the contract of this tier); the corpus never shuffles
    until the final per-query top-k, which moves k·partitions rows."""
    qs = _rerank_side(queries, query_id, vec_col, "q")
    cs = _rerank_side(corpus, corpus_id, vec_col, "c")
    return _cos_topk(cs.join(F.broadcast(qs)), k)


def ivf_nprobe_recall_sweep(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    dims: tuple = (1, 17, 33, 49),
    grid: tuple = (1, 2, 4, 8, 16),
    k: int = 5,
) -> DataFrame:
    """IVF design tool — the d72 band-tuning symmetry for the inverted-
    file tiers: for each ``nprobe`` in ``grid``, the ACHIEVED recall@k
    against brute-force ground truth and the fraction of the corpus a
    probe at that setting scans (the recall-vs-cost curve nprobe trades
    along, d03d/d03g's only approximation knob).

    The coarse quantizer here is a SIGN-BIT cell — cell id =
    Σⱼ 2ʲ·[v[dims[j]] > 0], probe order by Hamming distance between the
    query's sign pattern and each cell's bits (ties by cell id) — rather
    than the trained k-means the runtime tiers use: k-means centroids
    are float MEANS whose partial-aggregation order is engine-specific,
    so a sweep over them could never hash-certify, while sign tests and
    Hamming ranks are exact integer arithmetic both engines replay
    bit-for-bit. The MECHANICS being measured — ground-truth neighbors
    live in cells the query may not probe first; recall grows and scan
    cost grows as nprobe rises — are identical, so the curve transfers.

    Key insight that keeps this ONE job: with exact rerank inside probed
    cells, a true neighbor is recalled IFF its cell ranks ≤ nprobe in
    the query's probe order — membership arithmetic over the observed
    neighbor sets; the banded search itself never needs to run. Shapes:
    one brute-force GT pass (broadcast queries — the small-query-set
    contract of this design tier), a 2^|dims| × 2^|dims| broadcast rank
    table, node-sized joins; nothing corpus² anywhere.

    Returns one row per nprobe: (nprobe int, n_queries, n_true, n_found
    bigint, recall double, scan_frac double)."""
    n_bits = len(dims)
    n_cells = 2 ** n_bits

    def pattern(col):
        expr = F.lit(0)
        for j, d in enumerate(dims):
            expr = expr + F.when(
                F.element_at(col, d) > 0, F.lit(2 ** (n_bits - 1 - j))
            ).otherwise(F.lit(0))
        return expr.cast("int")

    v = F.col(vec_col)
    qpat = queries.select(
        F.col(query_id).alias("query_id"), pattern(v).alias("qpat")
    )
    ncell = corpus.select(
        F.col(corpus_id).alias("neighbor_id"), pattern(v).alias("cell")
    )

    spark = queries.sparkSession
    # probe-order rank of every cell for every query pattern: a
    # 2^|dims| × 2^|dims| table of exact integers, built driver-side
    # (256 rows for 4 bits — constant-sized, never data-dependent) and
    # broadcast; a windowed crossJoin would spend 3 exchanges building
    # what a literal expresses
    rank_rows = []
    for p in range(n_cells):
        order = sorted(
            range(n_cells), key=lambda c: (bin(p ^ c).count("1"), c)
        )
        rank_rows += [(p, c, r + 1) for r, c in enumerate(order)]
    ranktab = local_rows_df(spark,
        rank_rows, "qpat int, cell int, prank int"
    )
    gridf = local_rows_df(spark, [(int(g),) for g in grid], "nprobe int")

    gt = cosine_topk_bruteforce(queries, corpus, query_id, corpus_id, vec_col, k)
    hits = (
        gt.join(ncell, "neighbor_id")
        .join(F.broadcast(qpat), "query_id")
        .join(F.broadcast(ranktab), ["qpat", "cell"])
        .crossJoin(F.broadcast(gridf))
        .groupBy("nprobe")
        .agg(
            F.countDistinct("query_id").cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_true"),
            F.sum(
                F.when(F.col("prank") <= F.col("nprobe"), 1).otherwise(0)
            ).cast("long").alias("n_found"),
        )
    )
    sizes = ncell.groupBy("cell").agg(F.count("*").alias("sz"))
    scantab = (
        ranktab.join(sizes, "cell", "left")
        .crossJoin(F.broadcast(gridf))
        .groupBy("qpat", "nprobe")
        .agg(
            F.sum(
                F.when(
                    F.col("prank") <= F.col("nprobe"), F.coalesce("sz", F.lit(0))
                ).otherwise(0)
            ).alias("scanned")
        )
    )
    n_corpus = ncell.count()
    scans = (
        qpat.join(F.broadcast(scantab), "qpat")
        .groupBy("nprobe")
        .agg(F.sum("scanned").alias("total_scanned"), F.count("*").alias("nq"))
    )
    return (
        hits.join(scans, "nprobe")
        .select(
            "nprobe",
            "n_queries",
            "n_true",
            "n_found",
            F.round(F.col("n_found").cast("double") / F.col("n_true"), 6).alias(
                "recall"
            ),
            F.round(
                F.col("total_scanned").cast("double")
                / (F.col("nq") * F.lit(float(n_corpus))),
                6,
            ).alias("scan_frac"),
        )
    )


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    label_col: str = "label",
    vec_col: str = "embedding",
    k: int = 5,
    max_broadcast_queries: int = 4096,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each query vector,
    the top-k most-similar corpus vectors with a DIFFERENT label (the
    near-misses a contrastive loss learns the most from).

    Two tiers, auto-selected by query-side size (the same contract as
    ``pq_topk``'s ``max_collect_queries``):

    * ``count(queries) <= max_broadcast_queries`` (the interactive case —
      a batch of training queries): the :func:`cosine_topk_bruteforce`
      shape with a label-inequality join condition — a broadcast
      nested-loop with the tiny query side as build, so the corpus never
      shuffles before the per-query top-k. Exact.
    * Larger query sides (corpus-vs-corpus mining at 100 TB): a BNLJ's
      work is |Q|×|C| and its build side no longer fits — route through
      the multi-table hyperplane-LSH bucket equi-join instead (ANN
      candidates, label filter post-probe, exact cosine rerank in
      buckets). Recall < 1.0 by construction, like every ANN tier.

    The one-job query-side count is the price of the guard; callers who
    know their side can pin the tier by setting ``max_broadcast_queries``
    to 0 (always LSH) or a large value (always exact).
    """
    qs = _rerank_side(queries, query_id, vec_col, "q", F.col(label_col).alias("__ql"))
    cs = _rerank_side(corpus, corpus_id, vec_col, "c", F.col(label_col).alias("__cl"))
    differ = F.col("__ql") != F.col("__cl")
    if queries.count() > max_broadcast_queries:
        pairs = _lsh_candidates(qs, cs, n_planes=12, n_tables=4, where=differ)
    else:
        pairs = cs.join(F.broadcast(qs), differ)
    return _cos_topk(pairs, k)


def hyperplane_signatures(n_planes: int = 16, n_tables: int = 4, seed: int = 7):
    """Column expression: embedding → array<long> of n_tables bucket keys,
    via random-hyperplane signatures.

    Implemented as a vectorized pandas_udf: all tables' projections are ONE
    numpy matmul per Arrow batch — (batch × dim) @ (dim × tables·planes).
    This is the textbook case for dropping out of JVM expressions: the
    equivalent zip_with/aggregate HOF tree evaluates interpreted per
    element (measured 5.0s vs 0.9s at sf0.1 for 6 tables × 10 planes), and
    a literal plane matrix bloats the plan past analyzer budgets. Planes
    are derived from the seed inside the UDF on every executor — nothing
    is shipped, signatures are deterministic across the cluster; the plane
    width is the batch's embedding width.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    @pandas_udf("array<long>")
    def _sig(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy())  # (batch, dim)
        rng = np.random.default_rng(seed)
        # ±1 planes, one matrix for all tables: (tables·planes, dim)
        planes = rng.integers(0, 2, size=(n_tables * n_planes, mat.shape[1])) * 2.0 - 1.0
        bits = (mat @ planes.T) >= 0  # (batch, tables·planes)
        weights = 1 << np.arange(n_planes - 1, -1, -1, dtype=np.int64)
        keys = bits.reshape(len(mat), n_tables, n_planes) @ weights  # (batch, tables)
        return pd.Series(list(keys.astype(np.int64)))

    return _sig


def _lsh_candidates(
    qs: DataFrame, cs: DataFrame, n_planes: int, n_tables: int, where=None
) -> DataFrame:
    """Candidate pairs for :func:`_cos_topk` from multi-table hyperplane
    LSH over two :func:`_rerank_side` frames: both sides posexplode their
    (table, bucket) keys and equi-join on them — at 100 TB a plain
    shuffled equi-join Catalyst/AQE can plan, never a crossJoin.
    ``where`` filters pairs before multi-table collisions are deduped."""
    sig_udf = hyperplane_signatures(n_planes, n_tables, seed=101)

    def with_buckets(side, vec):
        sigs = sig_udf(F.col(vec).cast("array<double>"))
        return side.select("*", F.posexplode(sigs).alias("__table", "__bucket"))

    cand = with_buckets(qs, "__qv").join(with_buckets(cs, "__cv"), ["__table", "__bucket"])
    if where is not None:
        cand = cand.filter(where)
    return cand.select(
        "query_id", "neighbor_id", "__qv", "__qn", "__cv", "__cn"
    ).dropDuplicates(["query_id", "neighbor_id"])


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 12,
    n_tables: int = 4,
) -> DataFrame:
    """D3 scale path: multi-table hyperplane LSH → bucket equi-join → exact
    cosine rerank inside buckets → per-query top-k.

    Recall < 1.0 by construction (ANN); raise n_tables for recall, n_planes
    for selectivity.
    """
    qs = _rerank_side(queries, query_id, vec_col, "q")
    cs = _rerank_side(corpus, corpus_id, vec_col, "c")
    return _cos_topk(_lsh_candidates(qs, cs, n_planes, n_tables), k)


def _kmeans_centroids(
    corpus: DataFrame, vec_col: str, n_centroids: int, max_iter: int, seed: int
):
    """Coarse k-means quantizer: :func:`_lloyd` over the whole vector (one
    subspace) → (n_centroids × dim). Only the centroid matrix ever lands
    on the driver; that's the IVF contract (the coarse quantizer is small
    by definition)."""
    return _lloyd(corpus.select(vec_col), n_centroids, max_iter, seed, 1)[0]


def _lloyd(vecs: DataFrame, k: int, max_iter: int, seed: int, m: int):
    """Lloyd's k-means over the single vector column of ``vecs``, split
    into ``m`` contiguous subspaces with ``k`` centroids each → an
    (m × k × dim/m) array. ALL subspaces train in the SAME loop: one
    assignment pass and one (subspace, cell, pos) update aggregation per
    iteration instead of m separate k-means runs — the per-iteration job
    count is constant in m (a naive per-subspace loop was 8× slower
    wall-clock at sf0.1, pure job-scheduling overhead).

    Deterministic: init picks the k rows with the smallest
    xxhash64(seed, vec) — a seeded pseudo-random sample with no RNG
    state. A cell no row reaches keeps its previous centroid."""
    from pyspark import StorageLevel

    # The loop reads the vectors max_iter+1 times (init sample + one
    # assignment pass per iteration); persist the projected column so
    # that's one corpus scan total, not one per iteration.
    vecs = vecs.select(
        F.col(vecs.columns[0]).cast("array<double>").alias("v")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        init = (
            vecs.withColumn("__r", F.xxhash64(F.lit(seed), F.col("v")))
            .orderBy("__r")
            .limit(k)
            .collect()
        )
        full = np.stack([np.asarray(r.v) for r in init])  # (k, dim)
        sub = full.shape[1] // m
        books = np.stack(
            [full[:, s * sub : (s + 1) * sub] for s in range(m)]
        )  # (m, k, sub)

        for _ in range(max_iter):
            cur = books  # close over this iteration's centroids

            def assign_and_partial(batches):
                # assignment AND the mean-update partial aggregation in one
                # worker pass: each batch emits at most m × k × sub
                # (sum, n) cells — the map-side combine that keeps the
                # shuffle O(cells), never O(rows × dim)
                for pdf in batches:
                    mat = np.stack(pdf["v"].to_numpy())
                    sums = np.zeros((m, k, sub))
                    cnts = np.zeros((m, k), dtype=np.int64)
                    for si in range(m):
                        x = mat[:, si * sub : (si + 1) * sub]
                        codes = _sq_dists(x, cur[si]).argmin(1)
                        np.add.at(sums[si], codes, x)
                        np.add.at(cnts[si], codes, 1)
                    si_idx, c_idx = np.nonzero(cnts)
                    rows = {
                        "s": np.repeat(si_idx, sub).astype("int32"),
                        "cid": np.repeat(c_idx, sub).astype("int32"),
                        "sp": np.tile(np.arange(sub, dtype="int32"), len(si_idx)),
                        "sum": sums[si_idx, c_idx].ravel(),
                        "n": np.repeat(cnts[si_idx, c_idx], sub),
                    }
                    yield pd.DataFrame(rows)

            cells = (
                vecs.mapInPandas(
                    assign_and_partial, "s int, cid int, sp int, sum double, n long"
                )
                .groupBy("s", "cid", "sp")
                .agg(F.sum("sum").alias("sum"), F.sum("n").alias("n"))
                .collect()
            )
            new = books.copy()
            for r in cells:
                new[r.s, r.cid, r.sp] = r.sum / r.n
            if np.allclose(new, books):
                break
            books = new
    finally:
        vecs.unpersist()
    return books


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probes: int = 4,
    max_iter: int = 5,
    seed: int = 42,
) -> DataFrame:
    """D3 scale path #2: IVF — coarse k-means cells, probe the n_probes
    nearest cells per query, exact cosine rerank inside probed cells.

    Complements the hyperplane-LSH tier: IVF adapts to the data's actual
    density (cells follow clusters), so it wins when the corpus is
    clustered; LSH needs no training pass. With n_probes == n_centroids the
    search is exhaustive and exactly equals the brute-force baseline (the
    property tests/test_similarity.py pins).

    The probed join is an equi-join on cell id — at 100 TB the corpus side
    is partitioned by cid (an inverted file), queries touch only their
    probed cells, and nothing is ever a crossJoin.
    """
    centroids = _kmeans_centroids(corpus, vec_col, n_centroids, max_iter, seed)
    v = F.col(vec_col).cast("array<double>")
    inverted = _rerank_side(
        corpus, corpus_id, vec_col, "c", _nearest_cells(centroids)(v).alias("__cell")
    )
    probed = _rerank_side(
        queries, query_id, vec_col, "q",
        F.explode(_nearest_cells(centroids, n_probes)(v)).alias("__cell"),
    )
    return _cos_topk(probed.join(inverted, "__cell"), k)


def dedup_corpus_by_embedding(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """D2/D3 end-to-end: embedding-cosine near-dup pairs (within blocks) →
    transitive clusters → keep the min-id canonical per cluster. The
    embedding twin of dedup.dedup_corpus_minhash."""
    from .dedup import connected_components

    pairs = near_dup_pairs_by_cosine(df, id_col, vec_col, block_col, threshold)
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def near_dup_pairs_by_cosine(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    block_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """D2/D3: embedding-cosine near-duplicate pairs within blocking groups.

    The caller provides the blocking column (a cluster id, an LSH bucket, a
    shard key) — pair generation is an equi-join on it, so cost is
    Σ block² instead of n². Returns (id_a, id_b, cos) above threshold.
    """
    a = df.select(
        F.col(block_col).alias("__blk"), F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a")
    ).withColumn("__n_a", l2_norm(F.col("v_a")))
    b = df.select(
        F.col(block_col).alias("__blk"), F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b")
    ).withColumn("__n_b", l2_norm(F.col("v_b")))
    pairs = a.join(b, "__blk").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cos",
            F.round(dot(F.col("v_a"), F.col("v_b")) / (F.col("__n_a") * F.col("__n_b")), 6),
        )
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


# ---------------------------------------------------------------- product quantization

def pq_train(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m_subspaces: int = 8,
    n_codes: int = 16,
    max_iter: int = 5,
    seed: int = 42,
):
    """D3 scale path #3 (train): per-subspace k-means codebooks for product
    quantization. The D-dim space splits into ``m_subspaces`` contiguous
    slices; each slice gets its own ``n_codes``-centroid quantizer, all
    trained by one :func:`_lloyd` loop (only m × n_codes × D/m doubles
    ever reach the driver).

    Returns ``[codebook_0, …]`` — one (n_codes × sub_dim) numpy array per
    subspace.

    Docstring-level parity note: the reference has no ANN surface at all
    (client-side pandas only); this tier exists for the 100 TB goal where
    even IVF's probed cells are too much float traffic — PQ codes are
    m bytes per vector instead of D floats (32× smaller at D=64, m=8).
    """
    dim = len(corpus.select(vec_col).first()[0])
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    return list(_lloyd(corpus.select(vec_col), n_codes, max_iter, seed, m_subspaces))


def pq_encode(
    corpus: DataFrame,
    codebooks,
    corpus_id: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """D3 scale path #3 (encode): quantize every corpus vector to its
    per-subspace nearest-code ids → (id, codes array<int> of length m).

    One Arrow-batched pandas_udf pass; this is the ingest-time path, run
    once per corpus. The codes table is what query-time touches — m small
    ints per vector.
    """
    from pyspark.sql.pandas.functions import pandas_udf

    books = [np.asarray(b) for b in codebooks]
    m = len(books)
    sub = books[0].shape[1]

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        out = np.empty((mat.shape[0], m), dtype=np.int32)
        for s, cb in enumerate(books):
            out[:, s] = _sq_dists(mat[:, s * sub : (s + 1) * sub], cb).argmin(1)
        return pd.Series(list(out))

    v = F.col(vec_col).cast("array<double>")
    return corpus.select(F.col(corpus_id).alias("neighbor_id"), encode(v).alias("codes"))


def _pq_lut(
    queries: DataFrame,
    books,
    query_id: str,
    vec_col: str,
    collect_lut: bool | None,
    max_collect_queries: int,
) -> DataFrame:
    """Per-query ADC lookup table (query_id, s, code, pd) — the scoring
    input shared by :func:`pq_topk` and :func:`ivf_pq_topk`.

    Two tiers (``collect_lut``; ``None`` picks by counting queries against
    ``max_collect_queries``):

    * collected — the query vectors land on the driver, numpy builds the
      LUT, and it broadcasts into the code join. Right for interactive
      Q (the LUT is Q × m × n_codes doubles).
    * distributed — the m × n_codes codebook (an algorithm constant that
      already lives on the driver) becomes a literal table, broadcast-
      crossJoined against the query DataFrame; per-cell partial distances
      are zip_with/aggregate HOFs over the sliced query vector. The query
      set never leaves the cluster, and the resulting LUT carries no
      broadcast hint — AQE picks the join strategy from its actual size.

    The two tiers accumulate the sub-dimension squared differences in
    different orders (numpy ``.sum`` is pairwise, the HOF fold is strictly
    left-to-right), so per-cell partial distances can differ by an ulp —
    at near-ties that can flip top-k membership or rank. Parity tests
    therefore compare distance profiles with rounding, not exact rows
    (tests/test_similarity.py::test_pq_topk_distributed_lut_parity).
    """
    m = len(books)
    sub = books[0].shape[1]
    spark = queries.sparkSession

    if collect_lut is None:
        collect_lut = queries.count() <= max_collect_queries

    if collect_lut:
        qrows = queries.select(query_id, vec_col).collect()
        lut_rows = []
        for r in qrows:
            qv = np.asarray(r[1], dtype=np.float64)
            for s, cb in enumerate(books):
                x = qv[s * sub : (s + 1) * sub]
                d = ((cb - x[None, :]) ** 2).sum(1)
                for c, pd_ in enumerate(d):
                    lut_rows.append((r[0], s, c, float(pd_)))
        return F.broadcast(
            local_rows_df(spark, lut_rows, "query_id long, s int, code int, pd double")
        )

    cb_rows = [
        (s, c, [float(x) for x in books[s][c]])
        for s in range(m)
        for c in range(books[s].shape[0])
    ]
    cb_tbl = local_rows_df(spark, cb_rows, "s int, code int, cvec array<double>")
    qv = queries.select(
        F.col(query_id).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("__qv"),
    )
    # slice the query vector to the cell's subspace, then Σ (a-b)² as
    # codegen'd HOFs (left-to-right fold in double)
    diff2 = F.zip_with(
        F.slice("__qv", F.col("s") * sub + 1, F.lit(sub)),
        "cvec",
        lambda a, b: (a - b) * (a - b),
    )
    return qv.crossJoin(F.broadcast(cb_tbl)).select(
        "query_id",
        "s",
        "code",
        F.aggregate(diff2, F.lit(0.0), lambda acc, x: acc + x).alias("pd"),
    )


def _adc_topk(cand: DataFrame, lut: DataFrame, k: int) -> DataFrame:
    """ADC scoring of candidate code rows (neighbor_id, codes), or
    (query_id, neighbor_id, codes) when candidates are per query: codes
    posexplode to (s, code) and equi-join the :func:`_pq_lut` table on
    every column the two share, one partial+final sum per (query,
    neighbor) pair, per-query top-k by (approx_sqdist, neighbor_id) →
    (query_id, neighbor_id, approx_sqdist rounded to 6 dp, rn)."""
    exploded = cand.select(
        *[c for c in cand.columns if c != "codes"],
        F.posexplode("codes").alias("s", "code"),
    )
    dists = (
        exploded.join(lut, [c for c in exploded.columns if c in lut.columns])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("pd").alias("approx_sqdist"))
    )
    w = Window.partitionBy("query_id").orderBy("approx_sqdist", "neighbor_id")
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("approx_sqdist", 6).alias("approx_sqdist"), "rn")
    )


def pq_topk(
    queries: DataFrame,
    corpus_codes: DataFrame,
    codebooks,
    query_id: str,
    k: int = 5,
    vec_col: str = "embedding",
    collect_lut: bool | None = None,
    max_collect_queries: int = 4096,
) -> DataFrame:
    """D3 scale path #3 (query): asymmetric-distance top-k over PQ codes,
    entirely JVM-side (:func:`_adc_topk` over every corpus code row).

    No vector floats move at query time, no Python in the scoring path;
    the scan side is the m-byte code table, 32× narrower than the
    embeddings. The LUT tier (collected for interactive Q, distributed
    for corpus-scale Q) is :func:`_pq_lut`'s, which documents the tier
    contract and the ulp-level cross-tier agreement.
    """
    lut = _pq_lut(
        queries, [np.asarray(b) for b in codebooks], query_id, vec_col,
        collect_lut, max_collect_queries,
    )
    return _adc_topk(corpus_codes.select("neighbor_id", "codes"), lut, k)


# ------------------------------------------------------------ centroid ops

# Exact decimal accumulator for centroid / distance sums: double values cast
# to a fixed scale and summed associatively, so 32-partition partial aggs and
# a single-node oracle agree bit-for-bit.  Unit-ish embedding components and
# 64-dim sums fit (18 integer digits) with room to spare.
_CDEC = "decimal(28,10)"


def label_centroids(
    emb: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label mean embedding in long form (label, pos, centroid) —
    the cluster-profile/class-prototype op (semantic dedup, cluster-based
    filtering, and IVF-style routing all start here).

    posexplode → one partial+final agg keyed (label, pos).  The decimal
    accumulator makes the mean deterministic under any partitioning; the
    single double division happens after the exact sum."""
    return (
        emb.select(
            F.col(label_col).alias("label"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"),
        )
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast(_CDEC)).cast("double") / F.count("*")
            ).alias("centroid")
        )
    )


def assign_nearest_centroid(
    emb: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest label centroid by squared L2 —
    the cluster-assignment pass (semantic dedup's bucketing step, or a
    1-NN classifier against class prototypes).

    The centroid table is O(labels × dim) — an algorithm constant — so it
    broadcasts as assembled arrays; each vector scores against all
    centroids via one zip_with/aggregate per pair, 100% JVM.  Per-element
    squared differences are computed in double (bit-identical in any
    engine) and summed through the exact decimal accumulator, so the
    argmin is deterministic; ties break toward the smaller label."""
    return assign_to_centroid_table(
        emb, label_centroids(emb, label_col, vec_col), id_col, vec_col
    )


def assign_to_centroid_table(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """:func:`assign_nearest_centroid` against an EXPLICIT centroid
    table in :func:`label_centroids`' long form (label, pos, centroid)
    — the form an INCREMENTAL index needs: the quantizer is FROZEN at
    index-build time and new vectors route against it without
    retraining (:func:`ivf_drift_card`'s reference frame).  Same
    exact-decimal distance, same (dist, label) argmin tie-break, same
    broadcast O(labels × dim) plan as the self-trained form (which
    delegates here)."""
    cent = centroids.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
            lambda s: s.centroid,
        ).alias("cvec")
    )
    v = emb.select(id_col, F.col(vec_col).cast("array<double>").alias("__v"))
    sq = F.zip_with(
        F.col("__v"), F.col("cvec"), lambda a, b: ((a - b) * (a - b)).cast(_CDEC)
    )
    dist = F.aggregate(
        sq, F.lit(0).cast(_CDEC), lambda acc, x: (acc + x).cast(_CDEC)
    ).cast("double")
    w = Window.partitionBy(id_col).orderBy("dist", "clabel")
    return (
        v.crossJoin(F.broadcast(cent))
        .select(id_col, F.col("clabel"), dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col,
            F.col("clabel").alias("nearest_label"),
            F.round("dist", 6).alias("dist"),
        )
    )


def ivf_drift_card(
    reference: DataFrame,
    vectors: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rebuild_threshold: float = 0.05,
) -> DataFrame:
    """IVF CENTROID-DRIFT card (d166 — VERDICT r12 #4): an incremental
    ANN index assigns streamed vectors to cells FROZEN at build time;
    as the distribution moves, cell means walk away from their
    centroids and recall decays.  This card quantifies that: build
    centroids from the ``reference`` snapshot (per ``cell_col``),
    assign EVERY current vector to its nearest frozen centroid
    (:func:`assign_to_centroid_table`), and per cell report

    * ``n_ref``      — reference rows the cell was built from,
    * ``n_assigned`` — vectors currently routed to the cell,
    * ``drift``      — L2 distance between the frozen centroid and the
      RUNNING MEAN of the vectors now assigned to it (rounded 6 dp;
      NULL when the cell is empty),
    * ``rebuild``    — 1 when drift exceeds ``rebuild_threshold``: the
      retrain signal.

    Exact-decimal means and distance composition keep every number
    deterministic (the d26/d27 discipline).  Scale: one centroid agg
    over the reference, one broadcast assignment pass, one (cell, pos)
    agg over assignments — no driver state beyond the O(cells × dim)
    broadcast."""
    cent = label_centroids(reference, cell_col, vec_col)
    assigned = assign_to_centroid_table(vectors, cent, id_col, vec_col)
    av = (
        vectors.select(
            F.col(id_col),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "pos", "v"
            ),
        )
        .join(
            assigned.select(
                F.col(id_col), F.col("nearest_label").alias("cell")
            ),
            id_col,
        )
        .groupBy("cell", "pos")
        .agg(
            (
                F.sum(F.col("v").cast(_CDEC)).cast("double") / F.count("*")
            ).alias("m")
        )
    )
    drift = (
        av.join(
            cent,
            (av["cell"] == cent["label"]) & (av["pos"] == cent["pos"]),
        )
        .select(
            "cell",
            ((F.col("m") - F.col("centroid"))
             * (F.col("m") - F.col("centroid"))).cast(_CDEC).alias("__d2"),
        )
        .groupBy("cell")
        .agg(
            F.round(
                F.sqrt(F.sum("__d2").cast("double")), 6
            ).alias("drift")
        )
    )
    n_ref = reference.groupBy(
        F.col(cell_col).alias("cell")
    ).agg(F.count("*").cast("long").alias("n_ref"))
    n_asg = assigned.groupBy(
        F.col("nearest_label").alias("cell")
    ).agg(F.count("*").cast("long").alias("n_assigned"))
    return (
        n_ref.join(n_asg, "cell", "left")
        .join(drift, "cell", "left")
        .select(
            "cell",
            "n_ref",
            F.coalesce(F.col("n_assigned"), F.lit(0).cast("long")).alias(
                "n_assigned"
            ),
            "drift",
            F.when(
                F.col("drift") > F.lit(float(rebuild_threshold)), 1
            ).otherwise(0).cast("int").alias("rebuild"),
        )
    )


def similarity_histogram(
    emb: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_buckets: int = 10,
) -> DataFrame:
    """Distribution of pairwise cosine similarity over block-scoped pairs —
    the threshold-picking diagnostic run before committing a near-dup or
    semantic-dedup cutoff (choose τ where the histogram's dup mode
    separates from the body).

    Pair generation is the block-join contract (Σ block², never n²) shared
    with near_dup_pairs_by_cosine; scoring is the hoisted-norm JVM dot
    product; the histogram is one tiny partial+final count keyed by
    bucket = floor(cos × n_buckets)."""
    v = emb.select(
        F.col(block_col).alias("__b"),
        F.col(id_col).alias("__id"),
        F.col(vec_col).cast("array<double>").alias("__v"),
    ).withColumn("__n", F.sqrt(dot(F.col("__v"), F.col("__v"))))
    a = v.select(
        F.col("__b"), F.col("__id").alias("id_a"),
        F.col("__v").alias("va"), F.col("__n").alias("na"),
    )
    b = v.select(
        F.col("__b"), F.col("__id").alias("id_b"),
        F.col("__v").alias("vb"), F.col("__n").alias("nb"),
    )
    cos = dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        a.join(b, "__b")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(F.floor(cos * n_buckets).cast("int").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_pairs"))
    )


def adaptive_cell_count(n_rows: int, lo: int = 16, hi: int = 4096) -> int:
    """Blocking cell count for a corpus of ``n_rows`` vectors: ~sqrt(n),
    clamped. Soft-blocked pair cost is Σ cell² ≈ (n_assign·n)²/C, so a
    fixed C means pair work grows n² while C=√n keeps it ~n^1.5 — the
    difference between 300M and 20M scored pairs already at 50K vectors.
    The ceiling bounds the centroid matrix (hi × dim doubles) that rides
    the closure to every task; raise it past 4096 only with a broadcast
    variable."""
    return max(lo, min(hi, int(n_rows ** 0.5)))


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int | None = None,
    n_assign: int = 2,
    max_iter: int = 5,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Unsupervised end-to-end semantic dedup: k-means blocks → within-block
    cosine near-dup pairs → transitive clusters → keep the min-id canonical.
    The fully self-contained version of ``dedup_corpus_by_embedding``, for
    corpora with NO usable blocking column.

    Each vector is assigned to its ``n_assign`` nearest cells (soft
    blocking), so near-dup pairs straddling one cell boundary still meet in
    their shared second-choice cell; pair cost stays Σ cell², never n².
    Identical vectors always share all assignments and are always caught.
    Only the (n_clusters × dim) centroid matrix touches the driver.

    ``n_clusters=None`` sizes the blocking grid adaptively
    (:func:`adaptive_cell_count`, ~√n) — a fixed cell count silently turns
    the Σ cell² pair join quadratic as the corpus grows.

    ``centroids``: bring-your-own blocking model (an (n_clusters × dim)
    array) — skips the training pass. Training is an ingest-time step at
    scale; see ``_models.cached_model`` for the reuse pattern.
    """
    from .dedup import connected_components

    if centroids is None:
        if n_clusters is None:
            n_clusters = adaptive_cell_count(df.count())
        centroids = _kmeans_centroids(df, vec_col, n_clusters, max_iter, seed)
    cells_of = _nearest_cells(centroids, n_assign)

    blocked = df.select(
        F.col(id_col), F.col(vec_col).alias("__v")
    ).withColumn("__cell", F.explode(cells_of(F.col("__v").cast("array<double>"))))
    pairs = near_dup_pairs_by_cosine(blocked, id_col, "__v", "__cell", threshold)
    # Persist the scored pairs: connected_components reads the edge set
    # from both directions (union of pair ∪ swapped pair), which would
    # otherwise re-run the block-join scoring — the expensive pass — twice.
    # The surviving pair set is near-dup-density-sized, tiny next to the
    # corpus, so one cached generation is cheap at any scale.
    pairs = _scratch.scratch_persist(pairs, "semantic_dedup/pairs")
    # a pair meeting in both shared cells appears twice — connected
    # components edge-distincts internally, so no pre-dedup shuffle needed
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def ivf_pq_index(
    corpus: DataFrame,
    corpus_id: str,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m_subspaces: int = 8,
    n_codes: int = 16,
    max_iter: int = 5,
    seed: int = 42,
):
    """D3 scale path #4 (build): the IVF-PQ inverted file — the layout
    production ANN systems converge on at billion-vector scale. One
    ingest-time pass builds (a) coarse k-means cells for candidate
    restriction and (b) PQ codes for in-cell scoring, so query time touches
    only the probed cells' m-byte code rows.

    Returns ``(centroids, codebooks, index_df)`` with ``index_df`` =
    (neighbor_id, cid, codes) — at scale, write it partitioned by ``cid``
    (that IS the inverted file; partition pruning then serves the probe).
    Driver holds centroids + codebooks only — algorithm constants.
    """
    centroids = _kmeans_centroids(corpus, vec_col, n_centroids, max_iter, seed)
    books = pq_train(corpus, vec_col, m_subspaces, n_codes, max_iter, seed)
    return centroids, books, ivf_pq_index_append(
        corpus, centroids, books, corpus_id, vec_col
    )


def ivf_pq_index_append(
    new_vecs: DataFrame,
    centroids,
    codebooks,
    corpus_id: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Incremental index maintenance: encode NEW vectors against the
    EXISTING coarse quantizer and codebooks → (neighbor_id, cid, codes)
    rows ready to land in the inverted file
    (``write_ivf_pq_index(..., mode="append")`` adds the rows to the
    cid-partitioned tree without touching existing files).

    This is how a production corpus grows daily without retraining: the
    quantizers are frozen artifacts (retrain only on drift), ingest is one
    Arrow-batched encode pass over the new rows only, and appended vectors
    are immediately visible to :func:`ivf_pq_topk` probes. Also the build
    path of :func:`ivf_pq_index` itself (append-to-empty)."""
    codes = pq_encode(new_vecs, codebooks, corpus_id, vec_col)
    cells = new_vecs.select(
        F.col(corpus_id).alias("neighbor_id"),
        _nearest_cells(centroids)(F.col(vec_col).cast("array<double>")).alias("cid"),
    )
    return codes.join(cells, "neighbor_id")


def write_ivf_pq_index(index_df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Materialize the IVF-PQ index as a cid-partitioned parquet tree —
    the on-disk form of the inverted file. One directory per coarse cell;
    each file holds only (neighbor_id, codes), m bytes of PQ codes per
    vector.

    The payoff is at query time: :func:`ivf_pq_topk`'s probe is an
    equi-join on ``cid``, and against this layout Catalyst inserts a
    DynamicPruningExpression on the partition column — executors open ONLY
    the probed cells' files (verified structurally in
    ``tests/test_similarity.py::test_ivf_pq_partitioned_index_prunes``).
    At 100 TB that is the difference between scanning the whole code table
    and scanning n_probes/n_centroids of it."""
    index_df.write.partitionBy("cid").parquet(path, mode=mode)


def read_ivf_pq_index(spark, path: str) -> DataFrame:
    """Open a :func:`write_ivf_pq_index` tree for querying. Schema is
    (neighbor_id, codes, cid) with ``cid`` recovered from the directory
    names; pass straight to :func:`ivf_pq_topk`."""
    return spark.read.parquet(path)


def ivf_pq_topk(
    queries: DataFrame,
    centroids,
    codebooks,
    index_df: DataFrame,
    query_id: str,
    k: int = 5,
    n_probes: int = 4,
    vec_col: str = "embedding",
    collect_lut: bool | None = None,
    max_collect_queries: int = 4096,
) -> DataFrame:
    """D3 scale path #4 (query): probe the ``n_probes`` nearest cells per
    query, ADC-score ONLY those cells' PQ codes, top-k per query.

    Probing is an equi-join on cid (partition-pruned against a
    cid-partitioned index at scale); scoring reuses :func:`pq_topk`'s
    two-tier LUT (:func:`_pq_lut`) restricted to the probed candidates —
    large query sets (corpus-vs-corpus semantic dedup) take the
    distributed tier, so no query vector ever lands on the driver.
    Scoring is :func:`_adc_topk`, the same as :func:`pq_topk`'s. With
    ``n_probes == n_centroids`` the candidate set is the whole corpus
    and the result equals plain ``pq_topk`` (pinned in tests, profile
    compare) — the probe cutoff is the ONLY approximation this tier adds
    over PQ.
    """
    probed = queries.select(
        F.col(query_id).alias("query_id"),
        F.explode(
            _nearest_cells(centroids, n_probes)(F.col(vec_col).cast("array<double>"))
        ).alias("cid"),
    )
    # candidate codes: only rows of probed (query, cell) pairs survive
    cand = index_df.join(probed, "cid").select("query_id", "neighbor_id", "codes")
    books = [np.asarray(b) for b in codebooks]
    lut = _pq_lut(queries, books, query_id, vec_col, collect_lut, max_collect_queries)
    return _adc_topk(cand, lut, k)


def _per_dim_arrays(emb: DataFrame, vec_col: str, aggs: dict) -> DataFrame:
    """1-row frame of per-dimension statistics as pos-ordered arrays:
    posexplode → one (pos)-keyed partial+final aggregate (64 groups — the
    shuffle carries n_partitions × dims rows, nothing corpus-sized) →
    collect_list re-assembled in pos order. The result broadcasts."""
    x = emb.select(F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "v"))
    per = x.groupBy("pos").agg(*[aggs[k].alias(k) for k in aggs])

    # closure factory, NOT a default-arg lambda: pyspark's HOF binding
    # turns EVERY lambda parameter into a lambda variable, so a `k=k`
    # default would be shadowed by a second namedlambdavariable
    def field(k):
        return lambda s: s.getField(k)

    return per.agg(
        *[
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", k))), field(k)
            ).alias(k)
            for k in aggs
        ]
    )


def quantize_int8_error(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Scalar int8 quantization audit: per-dimension min/max affine codes
    (the storage layout that cuts an embedding corpus 4× vs float32;
    asymmetric per-channel quantization, the standard vector-DB compression
    tier below PQ) and the per-vector reconstruction error it would cost.

    Returns (id, mse, max_abs_err). The code path is exactly what an int8
    writer would run — scale = (max-min)/255, code = clamp(floor((x-min)/
    scale + 0.5)) — so the error report is the true round-trip error.

    Plan: one 64-group aggregate for the min/max arrays (broadcast back),
    then a single codegen'd HOF pass per vector; the squared-error sum
    accumulates in DECIMAL so the report is bit-deterministic under any
    partitioning.
    """
    mm = _per_dim_arrays(
        emb, vec_col, {"mn": F.min("v"), "mx": F.max("v")}
    )
    v = f"cast({vec_col} as array<double>)"
    err = (
        f"transform(sequence(1, size({vec_col})), i -> "
        f"element_at({v}, i) - (element_at(mn, i) + "
        f"(CASE WHEN element_at(mx, i) > element_at(mn, i) THEN "
        f"least(greatest(cast(floor((element_at({v}, i) - element_at(mn, i)) / "
        f"((element_at(mx, i) - element_at(mn, i)) / 255.0D) + 0.5D) as int), 0), 255) "
        f"ELSE 0 END) * "
        f"(CASE WHEN element_at(mx, i) > element_at(mn, i) THEN "
        f"(element_at(mx, i) - element_at(mn, i)) / 255.0D ELSE 0.0D END)))"
    )
    return emb.crossJoin(F.broadcast(mm)).select(
        F.col(id_col),
        F.round(
            F.expr(
                f"cast(aggregate({err}, cast(0 as decimal(28,12)), "
                f"(acc, e) -> cast(acc + cast(e * e as decimal(28,12)) as decimal(28,12))) as double)"
            )
            / F.size(F.col(vec_col)),
            6,
        ).alias("mse"),
        F.round(
            F.expr(f"array_max(transform({err}, e -> abs(e)))"), 6
        ).alias("max_abs_err"),
    )


def standardize_embeddings(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-dimension z-scoring (diagonal whitening): subtract the corpus
    mean and divide by the corpus std per dimension — the cheap
    de-correlation step before cosine/IP search when dimensions have wildly
    different scales. (Full PCA whitening needs a 64×64 eigendecomposition
    — driver-side trivially, but its float orchestration is not
    oracle-reproducible; the diagonal form is, and is what vector stores
    actually run inline.)

    Returns (id, z_norm, max_abs_z). Mean and variance come from exact
    DECIMAL sums (deterministic under partial aggregation); the z math is
    plain double arithmetic, identical on any engine.
    """
    mu = (F.sum(F.col("v").cast(_CDEC)).cast("double") / F.count("*")).alias("mu")
    m2 = (
        F.sum((F.col("v") * F.col("v")).cast("decimal(28,12)")).cast("double")
        / F.count("*")
    ).alias("m2")
    stats = _per_dim_arrays(emb, vec_col, {"mu": mu, "m2": m2}).select(
        "mu",
        F.expr(
            "zip_with(mu, m2, (m, s) -> sqrt(greatest(s - m * m, 0.0D)))"
        ).alias("sd"),
    )
    v = f"cast({vec_col} as array<double>)"
    z = (
        f"transform(sequence(1, size({vec_col})), i -> "
        f"CASE WHEN element_at(sd, i) > 0.0D THEN "
        f"(element_at({v}, i) - element_at(mu, i)) / element_at(sd, i) "
        f"ELSE 0.0D END)"
    )
    return emb.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.round(
            F.expr(
                f"sqrt(cast(aggregate({z}, cast(0 as decimal(28,12)), "
                f"(acc, e) -> cast(acc + cast(e * e as decimal(28,12)) as decimal(28,12))) as double))"
            ),
            6,
        ).alias("z_norm"),
        F.round(F.expr(f"array_max(transform({z}, e -> abs(e)))"), 6).alias(
            "max_abs_z"
        ),
    )


def mmr_select(
    query: DataFrame,
    corpus: DataFrame,
    query_id: str = "vec_id",
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    lam: float = 0.7,
    n_candidates: int = 64,
) -> DataFrame:
    """Maximal Marginal Relevance selection: greedily pick ``k`` corpus
    vectors maximizing ``lam·relevance − (1−lam)·max-sim-to-already-picked``
    — the diverse-retrieval step behind dedup-aware few-shot example
    selection and diverse training-batch mining (Carbonell & Goldstein '98).

    MMR is inherently SEQUENTIAL (each pick depends on all prior picks), so
    the distributed part is the candidate generation: an exact top-
    ``n_candidates`` cosine retrieval (broadcast query, corpus never
    shuffles before the top-k). Only the ``n_candidates`` winners — a
    PARAMETER-bounded set, the same contract as ``pq_topk``'s LUT collect —
    reach the driver, where the greedy loop runs on a (C × dim) numpy
    matrix. Ties break on neighbor id; scores round to 6 dp first so the
    selection is float-order-independent.

    SINGLE-QUERY contract (ADVICE r5): the candidate pool, relevance
    scores, and the k-distinct guarantee are all keyed to ONE query
    vector — pooling several queries' candidates into one greedy pass
    would mix their relevances and could pick the same neighbor twice.
    A multi-row ``query`` frame raises; run once per query id.
    """
    if query.limit(2).count() > 1:
        raise ValueError(
            "mmr_select takes a single-row query frame (the greedy pool and "
            "relevance scores are per-query); call once per query id"
        )
    cand = cosine_topk_bruteforce(
        query, corpus, query_id, corpus_id, vec_col, k=n_candidates
    )
    vecs = cand.join(
        corpus.select(F.col(corpus_id).alias("neighbor_id"), vec_col), "neighbor_id"
    ).select("neighbor_id", "cos", vec_col)
    rows = vecs.collect()  # bounded by n_candidates — the tier contract
    if not rows:
        return local_rows_df(query.sparkSession,
            [], "rank_selected int, neighbor_id long, relevance double, mmr_score double"
        )
    ids = [r["neighbor_id"] for r in rows]
    rel = np.array([r["cos"] for r in rows])
    mat = np.stack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 6)

    selected: list[int] = []
    out = []
    remaining = list(range(len(ids)))
    for rank in range(1, min(k, len(ids)) + 1):
        best, best_score = None, None
        for i in remaining:
            penalty = max(sims[i][j] for j in selected) if selected else 0.0
            score = round(lam * rel[i] - (1.0 - lam) * penalty, 6)
            # deterministic: higher score wins, ties to the smaller id
            key = (score, -ids[i])
            if best is None or key > best_score:
                best, best_score = i, key
        selected.append(best)
        remaining.remove(best)
        out.append((rank, ids[best], float(rel[best]), float(best_score[0])))
    return local_rows_df(query.sparkSession,
        out, "rank_selected int, neighbor_id long, relevance double, mmr_score double"
    )


def compact_ivf_pq_index(spark, path: str) -> dict:
    """Housekeeping for an appended-to inverted file
    (``write_ivf_pq_index(mode="append")``): appends fragment each cell
    directory (one file per batch per cell) and a replayed batch can leave
    duplicate (id, codes) rows. Rewrite the tree to one file per cell with
    the NEWEST codes row per neighbor kept — recency comes from the
    ``_metadata`` file columns (modification time, then path, descending),
    so a re-appended vector's latest encode wins deterministically
    (ADVICE r5: ``orderBy(lit(1))`` kept an arbitrary row). True replays
    are byte-identical either way (codes are a pure function of the
    frozen quantizers), so any order is safe for them.

    Atomic swap: the rewrite lands in a sibling temp dir and replaces the
    old tree only after success, so a crash mid-compact leaves the
    readable original. Returns before/after file and row counts.
    """
    import os
    import shutil
    import uuid

    from pyspark.sql import Window as W

    def _stats(p):
        files = rows = 0
        for root, _d, names in os.walk(p):
            files += sum(1 for n in names if n.endswith(".parquet"))
        return files

    before_files = _stats(path)
    idx = read_ivf_pq_index(spark, path)
    before_rows = idx.count()
    stamped = idx.select(
        "*",
        F.col("_metadata.file_modification_time").alias("__mtime"),
        F.col("_metadata.file_path").alias("__fpath"),
    )
    w = W.partitionBy("neighbor_id").orderBy(
        F.col("__mtime").desc(), F.col("__fpath").desc()
    )
    deduped = (
        stamped.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__mtime", "__fpath")
    )
    tmp = f"{path}.compact.{uuid.uuid4().hex}"
    (
        deduped.repartition("cid")
        .write.partitionBy("cid")
        .mode("overwrite")
        .parquet(tmp)
    )
    old = f"{path}.old.{uuid.uuid4().hex}"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)
    after = read_ivf_pq_index(spark, path)
    return {
        "files_before": before_files,
        "files_after": _stats(path),
        "rows_before": before_rows,
        "rows_after": after.count(),
    }


def silhouette_by_label(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Mean silhouette coefficient per label over squared-Euclidean
    distance — the cluster-quality gate before trusting labels as dedup
    blocks, routing cells, or mixture strata (s near 1: cohesive and
    separated; near 0: overlapping; negative: mis-assigned).

    The textbook definition is O(n²) pairwise: a(i) = mean distance to
    own-cluster points, b(i) = min over other clusters of the mean
    distance. For SQUARED Euclidean both collapse algebraically to
    per-cluster sufficient statistics —

        Σ_{y in C} ||x - y||² = n_C·||x||² + Σ_{y in C}||y||² - 2·x·Σ_{y in C} y

    — so ONE posexplode pass builds the (label, dim) sum matrix plus a
    per-label (count, Σ||y||²) row, and every point needs only its k dot
    products against the k×dim sum matrix: O(n·k·dim) with the cluster
    stats broadcast, never a pair join. At 100 TB the plan is two narrow
    aggregations and a broadcast join — the same shape at any corpus size
    (contrast the O(n²) oracle, which is only runnable at fixture scale).

    All sums ride exact DECIMAL accumulators (the d36 discipline), so
    a(i)/b(i) — and the 6-dp-rounded silhouette — are bit-deterministic
    under any partitioning and hash-certifiable against a SQL oracle
    mirroring the same algebra.

    Returns one row per label: (label, n_points bigint, avg_silhouette
    double). Singleton clusters would divide by zero in a(i); callers
    with possibly-singleton labels must pre-filter them (the sklearn
    convention sets s=0 — out of scope here, the fixture has none).
    """
    u = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__own"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__val"),
    )
    cs = u.groupBy(F.col("__own").alias("__lab"), "__pos").agg(
        F.sum(F.col("__val").cast("decimal(28,12)")).cast("double").alias("__s")
    )
    xx = u.groupBy("__id", "__own").agg(
        F.sum((F.col("__val") * F.col("__val")).cast("decimal(28,12)"))
        .cast("double")
        .alias("__xx")
    )
    cstat = (
        xx.groupBy(F.col("__own").alias("__lab"))
        .agg(
            F.count("*").alias("__n"),
            F.sum(F.col("__xx").cast("decimal(28,12)")).cast("double").alias("__s2"),
        )
    )
    dots = (
        u.join(F.broadcast(cs), "__pos")
        .groupBy("__id", "__lab")
        .agg(
            F.sum((F.col("__val") * F.col("__s")).cast("decimal(28,12)"))
            .cast("double")
            .alias("__dot")
        )
    )
    ssd = (
        dots.join(F.broadcast(cstat), "__lab")
        .join(xx, "__id")
        .withColumn(
            "__ssd",
            F.col("__n") * F.col("__xx") + F.col("__s2") - 2 * F.col("__dot"),
        )
    )
    per_point = ssd.groupBy("__id", "__own").agg(
        F.max(F.when(F.col("__lab") == F.col("__own"), F.col("__ssd") / (F.col("__n") - 1))).alias("__a"),
        F.min(F.when(F.col("__lab") != F.col("__own"), F.col("__ssd") / F.col("__n"))).alias("__b"),
    )
    sil = F.round(
        (F.col("__b") - F.col("__a")) / F.greatest("__a", "__b"), 6
    )
    return (
        per_point.select(F.col("__own").alias(label_col), sil.alias("__sil"))
        .groupBy(label_col)
        .agg(
            F.count("*").alias("n_points"),
            F.round(
                F.sum(F.col("__sil").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_silhouette"),
        )
    )


def cluster_medoids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The medoid of every label — the actual MEMBER minimizing total
    squared-Euclidean distance to its cluster (the representative you
    can serve when a centroid must be a real document/vector: dedup
    exemplars, cluster labeling, few-shot prototype picks).

    Same sufficient-statistics collapse as ``silhouette_by_label``:
    Σ_y ||x−y||² = n·||x||² + Σ||y||² − 2·x·Σy, so one posexplode pass
    builds the per-label (count, Σ||y||², per-dim sums) stats, each
    point scores against ONLY its own label's broadcast row, and the
    argmin is a single min_by aggregate — O(n·dim) total, never a pair
    join. Decimal accumulators end-to-end (the d36 discipline); the
    mean excludes the self-distance (0) via the n−1 divisor.

    Returns one row per label: (label, medoid_id, mean_sq_dist double
    rounded 6 dp), medoid ties broken by lowest id.
    """
    u = df.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__lab"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("__pos", "__val"),
    )
    cs = u.groupBy("__lab", "__pos").agg(
        F.sum(F.col("__val").cast("decimal(28,12)")).cast("double").alias("__s")
    )
    xx = u.groupBy("__id", "__lab").agg(
        F.sum((F.col("__val") * F.col("__val")).cast("decimal(28,12)"))
        .cast("double")
        .alias("__xx")
    )
    cstat = xx.groupBy("__lab").agg(
        F.count("*").alias("__n"),
        F.sum(F.col("__xx").cast("decimal(28,12)")).cast("double").alias("__s2"),
    )
    dots = (
        u.join(F.broadcast(cs), ["__lab", "__pos"])
        .groupBy("__id", "__lab")
        .agg(
            F.sum((F.col("__val") * F.col("__s")).cast("decimal(28,12)"))
            .cast("double")
            .alias("__dot")
        )
    )
    scored = (
        dots.join(xx, ["__id", "__lab"])
        .join(F.broadcast(cstat), "__lab")
        .select(
            "__lab",
            "__id",
            F.round(
                (F.col("__n") * F.col("__xx") + F.col("__s2") - 2 * F.col("__dot"))
                / (F.col("__n") - 1),
                6,
            ).alias("__mean_sq"),
        )
    )
    return scored.groupBy("__lab").agg(
        F.min_by("__id", F.struct("__mean_sq", "__id")).alias("medoid_id"),
        F.min(F.struct("__mean_sq", "__id")).getField("__mean_sq").alias("mean_sq_dist"),
    ).select(F.col("__lab").alias(label_col), "medoid_id", "mean_sq_dist")


def embedding_covariance(
    emb: DataFrame,
    vec_col: str = "embedding",
    dims: int = 8,
    round_dp: int = 8,
) -> DataFrame:
    """Population covariance matrix of the first ``dims`` embedding
    dimensions — the sufficient-statistics front end of PCA whitening /
    decorrelation (the full-matrix generalization of
    ``standardize_embeddings``'s diagonal). Returns the upper triangle as
    rows ``(i, j, cov)`` with 1-based ``i <= j``.

    One global aggregation computes ALL dims + dims*(dims+1)/2 sufficient
    statistics (per-dim DECIMAL(28,10) sums and DECIMAL(28,12) cross-product
    sums) in a single data pass — map-side partial aggregation means the
    shuffle carries one 1-row frame of O(dims^2) exact accumulators
    regardless of corpus size; the covariance arithmetic then runs on that
    single row and explodes to the triangle. Every sum is DECIMAL-exact
    (tie-free double->decimal casts), so results are bit-stable under any
    partitioning; only the final covariance rounds (``round_dp``).

    The eigendecomposition that would follow (dims x dims, driver-side,
    O(dims^3)) is deliberately out of scope: its float orchestration is not
    oracle-reproducible (see ``standardize_embeddings``); this certified
    matrix is its exact, engine-checked input.
    """
    # Both stages are built as WHOLE expression strings (selectExpr /
    # inline) — one JVM parse each instead of ~80 py4j Column round-trips;
    # measured 2x on the bench's plan-build path, identical plan.
    el = lambda i: f"cast(element_at({vec_col}, {i}) as double)"  # noqa: E731
    aggs = ["cast(count(*) as double) as n"]
    for i in range(1, dims + 1):
        aggs.append(
            f"cast(sum(cast({el(i)} as decimal(28,10))) as double) as sx{i}"
        )
    pairs = [(i, j) for i in range(1, dims + 1) for j in range(i, dims + 1)]
    for i, j in pairs:
        aggs.append(
            f"cast(sum(cast({el(i)} * {el(j)} as decimal(28,12))) as double)"
            f" as sxy{i}_{j}"
        )
    one = emb.selectExpr(*aggs)
    entries = ", ".join(
        f"struct({i} as i, {j} as j, "
        f"round(sxy{i}_{j} / n - (sx{i} / n) * (sx{j} / n), {round_dp}) as cov)"
        for i, j in pairs
    )
    return one.selectExpr(f"inline(array({entries}))")


def pca_project(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 16,
    k: int = 4,
    round_dp: int = 6,
):
    """PCA dimensionality reduction over the first ``dims`` embedding
    dimensions (r10, d132) — the storage/serving-side companion of the
    ANN tier (project 64-dim vectors to k principal components before
    indexing; the classic embedding-compression move next to int8
    quantization, d67): sufficient statistics come from ONE exact
    decimal aggregate pass (the ``embedding_covariance`` pattern —
    means + the full cross-product triangle in a single 1-row shuffle),
    the ``dims×dims`` eigendecomposition runs DRIVER-side (O(dims³) on
    one row of accumulators — never data-sized), eigenvectors are
    SIGN-FIXED deterministically (largest-|component| entry positive),
    and the projection applies as pure codegen — one
    ``aggregate(zip_with(...))`` dot product per component with the
    loadings as literal arrays, zero UDFs, zero shuffles.

    Returns ``(projected, model)``: projected — (id, p1..pk double,
    rounded ``round_dp``); model — dict with ``mean`` (len dims),
    ``components`` (k×dims, row-orthonormal), ``eigvals`` (k,
    descending), ``trace`` (total variance). Certification (d132b):
    the distributed per-component variance of the PROJECTED data must
    equal its eigenvalue — the end-to-end wiring check that makes the
    driver-side eigh oracle-accountable without replaying floats."""
    import numpy as np

    el = lambda i: f"cast(element_at({vec_col}, {i}) as double)"  # noqa: E731
    aggs = ["cast(count(*) as double) as n"]
    for i in range(1, dims + 1):
        aggs.append(
            f"cast(sum(cast({el(i)} as decimal(28,10))) as double) as sx{i}"
        )
    pairs = [(i, j) for i in range(1, dims + 1) for j in range(i, dims + 1)]
    for i, j in pairs:
        aggs.append(
            f"cast(sum(cast({el(i)} * {el(j)} as decimal(28,12))) as double)"
            f" as sxy{i}_{j}"
        )
    row = emb.selectExpr(*aggs).collect()[0]
    n = row["n"]
    mean = np.array([row[f"sx{i}"] / n for i in range(1, dims + 1)])
    cov = np.zeros((dims, dims))
    for i, j in pairs:
        c = row[f"sxy{i}_{j}"] / n - mean[i - 1] * mean[j - 1]
        cov[i - 1, j - 1] = cov[j - 1, i - 1] = c
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    eigvals = vals[order]
    comps = vecs[:, order].T  # (k, dims)
    for r_ in range(k):  # deterministic sign: largest-|entry| positive
        jmax = int(np.argmax(np.abs(comps[r_])))
        if comps[r_, jmax] < 0:
            comps[r_] = -comps[r_]

    cols = [F.col(id_col)]
    for r_ in range(k):
        w = ", ".join(_double_literal(comps[r_, i]) for i in range(dims))
        bias = float(-(comps[r_] @ mean))
        cols.append(
            F.round(
                F.expr(
                    f"aggregate(zip_with(slice({vec_col}, 1, {dims}), "
                    f"array({w}), (x, w) -> cast(x as double) * w), "
                    f"cast({bias!r} as double), (acc, v) -> acc + v)"
                ),
                round_dp,
            ).alias(f"p{r_ + 1}")
        )
    projected = emb.select(*cols)
    model = {
        "mean": mean.tolist(),
        "components": comps.tolist(),
        "eigvals": eigvals.tolist(),
        "trace": float(np.trace(cov)),
    }
    return projected, model
