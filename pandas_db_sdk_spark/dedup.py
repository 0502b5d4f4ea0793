"""Deduplication operators — SURVEY §2 D1/D2 (north-star LLM-pipeline ops).

Every operator is DataFrame→DataFrame, built from JVM-side primitives
(higher-order functions + hash functions + groupBy), so the same code runs
on local[32] and a 1000-executor cluster:

* exact dedup — hash-groupBy, one shuffle on the content hash;
* MinHash-LSH near-dedup — shingle → minhash signature → band buckets →
  bucket-local self-join. The band groupBy replaces the O(n²) crossJoin:
  candidate generation cost is Σ bucket² over real buckets, not n².
* SimHash — 64-bit signatures, 4×16-bit band blocking, Hamming verify.
* n-gram Jaccard — token/char shingle set overlap for candidate pairs.

No Python in the hot path: xxhash64 / transform / aggregate / array_* are
all codegen'd Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._scratch import scratch_persist
from ._localrel import local_rows_df, sql_ident as _sql_ident
from .graph import _size_gate


def exact_dedup(df: DataFrame, content_col: str, order_col: str) -> DataFrame:
    """D1: keep the first row (by order_col) of each exact-content group.

    sha2 group key instead of raw content: the shuffle carries 32 bytes per
    row, not the document text — at 100 TB that's the difference between
    shuffling hashes and shuffling the corpus.
    """
    w = Window.partitionBy(F.sha2(F.col(content_col), 256)).orderBy(order_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _safe_ceil_frac(threshold: float, n):
    """``ceil(threshold * n)`` with the float product snapped to 9 dp first.

    The prefix-filter lemma needs the exact rational ceil: for thresholds
    whose binary double sits a hair ABOVE the rational value (0.55 * 100 =
    55.000000000000007), a raw ``F.ceil`` rounds past the integer and
    shortens the prefix below the lemma's bound — silently dropping
    qualifying pairs and breaking the functions' EXACT contract. Snapping
    to 9 dp restores the rational product for any threshold written with
    <= 9 decimal digits while leaving genuinely fractional products
    (the common case) untouched.
    """
    return F.ceil(F.round(F.lit(threshold) * n.cast("double"), 9))


def _shingle_hash_rows(df: DataFrame, id_col: str, text_col: str, size: int) -> DataFrame:
    """Explode each document into its distinct word-shingle HASHES:
    (__id, __h long), one row per distinct shingle.

    Shingles never exist as strings: each token is xxhash64'd once, and a
    shingle's hash combines the k consecutive token hashes with one more
    xxhash64 — no substring building, no string concat, 8 bytes per shingle
    from the first moment. At 100 TB the explode output is the largest
    intermediate of the whole dedup pipeline, so its row width matters most.
    """
    # two server-side parses instead of ~100 py4j Column calls; the
    # try_element_at form means docs shorter than the shingle width yield
    # one degenerate shingle of the available tokens (xxhash64 skips the
    # NULLs) instead of an out-of-bounds error.
    args = ", ".join(f"try_element_at(__th, i + {j})" for j in range(size))
    return df.selectExpr(
        f"{_sql_ident(id_col)} AS __id",
        f"transform(split({_sql_ident(text_col)}, ' '), t -> xxhash64(t))"
        " AS __th",
    ).selectExpr(
        "__id",
        f"explode(array_distinct(transform("
        f"sequence(1, greatest(size(__th) - {size} + 1, 1)),"
        f" i -> xxhash64({args})))) AS __h",
    )


def _min_hash_exprs(n_hashes: int):
    """The n_hashes ``min(xxhash64(i, __h))`` aggregate Columns, each built
    as ONE server-side parse — the seed literal stays an INT (as
    ``F.lit(i)`` was), so the hash family is byte-identical; construction
    drops from ~5 py4j calls per member to 1 (guide §1.2 step 2: the
    signature aggregate is rebuilt on every query construction)."""
    return [
        F.expr(f"min(xxhash64({i}, __h)) AS __mh{i}") for i in range(n_hashes)
    ]


def _band_keys(n_hashes: int, bands: int):
    """The LSH band-key array over the ``__mh*`` signature columns: band b
    is ``xxhash64(b, __mh{b*rows} .. __mh{b*rows + rows-1})``. Every
    banding caller builds it here, so the layout has one definition. Pure
    column arithmetic over plan-time constants (stays in whole-stage
    codegen), parsed server-side in one call."""
    rows = n_hashes // bands
    return F.expr(
        "array("
        + ", ".join(
            "xxhash64(%d, %s)"
            % (b, ", ".join(f"__mh{b * rows + r}" for r in range(rows)))
            for b in range(bands)
        )
        + ")"
    )


def _cap_buckets(band_entries: DataFrame, max_bucket_size: int | None) -> DataFrame:
    """Drop (band_idx, band_key) buckets holding more than
    ``max_bucket_size`` rows; None keeps every bucket. One window count
    over the banding shuffle key — no extra shuffle."""
    if max_bucket_size is None:
        return band_entries
    wb = Window.partitionBy("band_idx", "band_key")
    return (
        band_entries.withColumn("__bn", F.count("*").over(wb))
        .filter(F.col("__bn") <= max_bucket_size)
        .drop("__bn")
    )


def minhash_signatures_with_sets(
    df: DataFrame, id_col: str, text_col: str, n_hashes: int = 64, shingle: int = 3
) -> DataFrame:
    """One aggregation producing BOTH the MinHash signature and the exact
    shingle-hash set per document: (__id, __mh0..__mhN-1, __shset).

    The n_hashes mins are codegen'd partial aggregates over exploded shingle
    hashes (map-side combine → one shuffle keyed by id), so signature cost
    parallelizes regardless of input file splits; collect_set rides the same
    shuffle, so the verify sets cost no extra pass over the corpus text.
    Hash family: xxhash64(seed_i, shingle_hash) — re-hashing one base hash
    per family member is ~10× cheaper than hashing the shingle n_hashes
    times, with the same min-wise independence.
    """
    exploded = _shingle_hash_rows(df, id_col, text_col, shingle)
    return exploded.groupBy("__id").agg(
        *_min_hash_exprs(n_hashes), F.collect_set("__h").alias("__shset")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    shingle: int = 3,
    max_bucket_size: int | None = None,
    est_margin: float | None = 0.25,
) -> DataFrame:
    """D2: near-duplicate candidate pairs via MinHash + LSH banding, verified
    with exact Jaccard on the shingle sets.

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    The reported jaccard is always the EXACT set overlap (pinned by
    tests/test_dedup.py::test_minhash_jaccard_is_exact_set_overlap).

    One pass over the input:

    1. One aggregate per document, persisted:
       ``minhash_signatures_with_sets`` yields the n_hashes 8-byte mins
       and the exact shingle-hash set (``collect_set``) from the same
       shuffle. Banding + candidate self-join move 16-byte rows.
    2. Exact verify, candidates only. The deduplicated candidate pairs
       join the persisted aggregate once per side, carrying each side's
       signature and shingle set; one filter drops the pairs whose
       signature estimate misses the cutoff and then those whose exact
       Jaccard misses the threshold. Verify cost scales with near-dup
       density, not corpus size.

    The trade: the persisted aggregate holds every document's shingle-hash
    set (≈ the input re-expressed as 8-byte hashes; MEMORY_AND_DISK, so it
    spills rather than OOMs). In exchange the input lineage is planned
    once. Rebuilding the sets only for the documents in a surviving pair
    would semi-join back into ``df`` once per verify side, so the input
    (in ``pipeline.prepare_corpus``: the quality score plus the
    exact-dedup shuffle) would be planned three times.

    ``est_margin``: pairs whose signature-estimated Jaccard (the
    matching-component fraction, an unbiased estimate of J) falls below
    ``jaccard_threshold - est_margin`` are dropped before the exact set
    intersection and union are computed. The signatures ride the verify
    join with the sets, so the estimate needs no join of its own. The
    estimator's std is sqrt(J(1-J)/n_hashes) <= 0.5/sqrt(n_hashes) (0.088
    at n=32), so the default 0.25 margin is ~3σ: by Hoeffding the chance a
    truly-qualifying pair is dropped is <= exp(-2·n_hashes·margin²) (<2%
    at n=32, <0.04% at n=64) — well under the banding's own miss rate.
    ``None`` disables the pre-filter (every banding candidate is verified
    exactly).

    ``max_bucket_size``: drop band buckets holding more than this many docs
    before the self-join. Candidate pairs are quadratic in bucket size — one
    degenerate bucket (boilerplate shingles, or a giant duplicate cluster
    that should have been exact-deduped first, see pipeline.prepare_corpus)
    can dominate the whole job at corpus scale. Capping bounds the worst
    bucket at cap², at the cost of missing pairs whose ONLY collision is a
    super-cap bucket — with 16 bands a true near-dup pair collides in many
    bands, so a generous cap (10³–10⁴) loses ~nothing. Default None keeps
    exact recall for the oracle corpus.
    """
    # Signature work is CPU-bound and small inputs arrive in one partition
    # (one parquet split, or a shuffle AQE coalesced), so spread the input
    # by id. Always: under AQE a frame's partition count is known only after
    # its shuffles run, so asking for it launches a job at plan time. The
    # signature aggregate groups by the same id, so it plans no second
    # exchange: the spread replaces its shuffle (text rows instead of
    # partial signatures) rather than adding one.
    spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
    # The aggregate feeds four plan branches (band-join left and right, one
    # verify join per side); Spark does not reliably reuse the exchange
    # across self-join re-aliasing, so materialize it once. MEMORY_AND_DISK:
    # spills rather than OOMs, and recomputing it costs a corpus text pass.
    # Slot-pooled (see _scratch): identical re-invocations reuse the cached
    # aggregate; parameter/input changes evict the stale generation.
    agg = scratch_persist(
        minhash_signatures_with_sets(spread, id_col, text_col, n_hashes, shingle),
        "minhash_lsh_pairs/agg",
    )
    band_entries = _cap_buckets(
        agg.select(
            "__id",
            F.posexplode(_band_keys(n_hashes, bands)).alias("band_idx", "band_key"),
        ),
        max_bucket_size,
    )
    left = band_entries.select("band_idx", "band_key", F.col("__id").alias("id_a"))
    right = band_entries.select("band_idx", "band_key", F.col("__id").alias("id_b"))
    cand = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        # multi-band collisions pair up once, before the verify joins
        .dropDuplicates(["id_a", "id_b"])
    )
    # Attach both sides' signature and set with two equi-joins on the
    # persisted aggregate. No broadcast hint in either direction: candidate
    # volume is data-dependent (quadratic in bucket size), and a forced
    # broadcast of it can exhaust the driver on a dup-heavy corpus, so AQE
    # chooses, degrading gracefully to shuffled joins.
    side = agg.select(
        "__id", F.array(*[f"__mh{i}" for i in range(n_hashes)]), "__shset"
    )
    pairs = cand.join(side.toDF("id_a", "sig_a", "sh_a"), "id_a").join(
        side.toDF("id_b", "sig_b", "sh_b"), "id_b"
    )
    if est_margin is not None:
        matches = F.size(
            F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)
        )
        cutoff = max(0.0, jaccard_threshold - est_margin)
        pairs = pairs.filter(matches / F.lit(float(n_hashes)) >= F.lit(cutoff))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return (
        pairs.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _cc_star_fixpoint(src: DataFrame, id_type: str, max_iter: int) -> DataFrame:
    """Two-phase STAR CONTRACTION fixpoint (Kiveris et al., "Connected
    Components in MapReduce and Beyond") — the one distributed path of
    :func:`connected_components`: alternating large-star / small-star
    rounds contract every component onto a star rooted at its minimum
    vertex.  Unlike min-label propagation (whose edge⋈label join stays
    EDGE-sized every round no matter how far convergence has
    progressed), star contraction rewires the edge set itself, so the
    per-round volume SHRINKS as components collapse — the property that
    matters when the pair table is 100-TB-scale.

      large-star: every vertex connects its strictly-larger neighbors to
        the minimum of its neighborhood (min(Γ(u) ∪ u));
      small-star: in canonical (larger→smaller) orientation, every vertex
        connects its smaller-or-equal neighbors and itself to that min.

    Both phases are groupBy(min) + same-key join — no collect_list, so a
    high-degree hub never materializes its neighborhood in one task.
    Convergence is EXACT star-ness — satellites and roots disjoint (one
    early-stopping semi-join per round), never a hash checksum.  Both
    operations preserve the original component relation and only ever
    add same-component edges, so a star-shaped edge set means every
    original component is exactly one star; and since every edge keeps
    the smaller id on the root side, a component's minimum can never sit
    on a satellite side — star roots ARE the component minima.  Raises
    past ``max_iter`` (truncation is a correctness bug).  Returns (id,
    cluster) over every vertex of ``src``, a self-loop-only vertex as
    its own cluster."""
    ids = scratch_persist(
        src.select(F.col("id_a").alias("id"))
        .union(src.select(F.col("id_b").alias("id")))
        .distinct(),
        "connected_components/star_ids",
    )
    edges = (
        src.filter(F.col("id_a") != F.col("id_b"))
        .select(
            F.greatest("id_a", "id_b").alias("u"),
            F.least("id_a", "id_b").alias("v"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    if edges.isEmpty():
        return ids.select("id", F.col("id").alias("cluster"))
    converged = False
    for _ in range(max_iter):
        # large-star: directed neighborhoods both ways; strictly-larger
        # neighbors re-point at min(Γ(u) ∪ u). Its repeats are left in:
        # small-star's min and join ignore them and its distinct drops
        # them, one exchange per round fewer
        nbrs = edges.union(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        large = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # small-star: canonical orientation already holds (u > v after
        # large-star's (larger, min) output); neighbors and u itself
        # re-point at the min neighbor
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        joined = large.join(smins, "u")
        small = (
            joined.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(joined.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        edges = small
        # star-ness: no vertex is both a satellite (u side) and a root
        # (v side) — the exact termination criterion, one node-keyed
        # partial+final aggregate over both endpoint columns
        ends = small.select(F.col("u").alias("x"), F.lit(1).alias("sat")).union(
            small.select(F.col("v").alias("x"), F.lit(0).alias("sat"))
        )
        if (
            ends.groupBy("x")
            .agg(F.min("sat").alias("lo"), F.max("sat").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .isEmpty()
        ):
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds — star contraction "
            "needs O(log n) rounds, so check the pair-generation stage "
            "for a runaway candidate explosion before raising max_iter"
        )
    labels = ids.join(
        edges.select(F.col("u").alias("id"), F.col("v").alias("cluster")),
        "id",
        "left",
    ).select(
        "id", F.coalesce("cluster", F.col("id")).cast(id_type).alias("cluster")
    )
    return labels


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Cluster ids transitively connected by pairs: returns (id, cluster)
    where cluster is the minimum id in the component. A vertex seen only
    in a self-loop pair (x, x) is its own component.

    ADAPTIVE execution (r10, VERDICT r9 #6 — the q27 round-trip tax):
    when the pair table holds at most ``local_threshold`` rows
    (``graph._size_gate``: one persisted projection and an
    early-stopping limit-count probe, never a full count on the big path),
    the component problem is solved DRIVER-SIDE with union-find — a
    ≤100k-row collect (~1.6 MB of longs) replacing a handful of rounds ×
    2 driver actions of distributed fixpoint, the same
    count-gated-with-distributed-fallback contract as the PQ LUT tier
    (similarity.py). Near-dup pair tables are dup-count-sized, not
    corpus-sized, so even 100-TB corpora often land under the gate.
    Pass ``local_threshold=0`` to pin the distributed path (tests and
    d137 do).

    Distributed path: two-phase large/small-star contraction
    (:func:`_cc_star_fixpoint`) over the same persisted projection — the
    edge set itself shrinks round over round, O(log n) rounds, and it
    RAISES past ``max_iter`` rather than returning silently-mislabeled
    clusters (VERDICT r2 #8: truncation here is a correctness bug, not a
    degraded mode).
    """
    # Output id/cluster type: the WIDER of the two pair columns (ADVICE
    # r10) — with heterogeneous pair columns (id_a int, id_b bigint) the
    # local path's collected id_b values could overflow an id_a-typed
    # schema, where the distributed path's least/min would coerce wide.
    _rank = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
    _ta, _tb = dict(pairs.dtypes)[id_a], dict(pairs.dtypes)[id_b]
    id_type = max((_ta, _tb), key=lambda t: _rank.get(t, 99))
    proj, rows = _size_gate(
        pairs.select(
            F.col(id_a).cast(id_type).alias("id_a"),
            F.col(id_b).cast(id_type).alias("id_b"),
        ),
        "connected_components/pairs",
        local_threshold,
    )
    if rows is None:
        return _cc_star_fixpoint(proj, id_type, max_iter)
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for r in rows:
        a, b = find(r[0]), find(r[1])
        if a != b:
            parent[max(a, b)] = min(a, b)
    out = [(x, find(x)) for x in {v for r in rows for v in (r[0], r[1])}]
    return local_rows_df(pairs.sparkSession,
        out, f"id {id_type}, cluster {id_type}"
    )


def dedup_corpus_minhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.8,
    shingle: int = 3,
    max_bucket_size: int | None = 10_000,
) -> DataFrame:
    """End-to-end near-dedup: MinHash-LSH pairs → transitive clusters →
    keep one canonical document (min id) per cluster.

    The anti-join removes only non-canonical members of clusters;
    singletons never enter the pair/cluster computation at all, so the
    heavy stages scale with the number of near-duplicates, not the corpus.

    ``max_bucket_size`` defaults to a generous 10⁴ cap (unlike the raw
    pair operator): the end-to-end path is what runs unattended on a whole
    corpus, where one degenerate band bucket must bound at cap², not n².
    With 16 bands a true near-dup pair collides in many bands, so the cap
    costs ~no recall (see minhash_lsh_pairs).
    """
    pairs = minhash_lsh_pairs(
        df, id_col, text_col, n_hashes=n_hashes, bands=bands,
        jaccard_threshold=jaccard_threshold, shingle=shingle,
        max_bucket_size=max_bucket_size,
    )
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("cluster")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """D2: 64-bit SimHash per document, built from token xxhash64 bit votes.

    Explode tokens → per-bit ±1 vote sums → sign → reassemble. The explode +
    groupBy is one shuffle keyed by id; per-bit sums are plain aggregates.
    """
    toks = df.select(
        F.col(id_col).alias("__id"),
        F.explode(F.split(F.col(text_col), " ")).alias("__tok"),
    ).withColumn("__h", F.xxhash64("__tok"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("__h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"__v{b}")
        for b in range(bits)
    ]
    agg = toks.groupBy("__id").agg(*votes)
    sig = None
    for b in range(bits):
        bit = F.when(F.col(f"__v{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        sig = term if sig is None else sig.bitwiseXOR(term)  # disjoint bits: XOR == OR
    return agg.select(F.col("__id").alias(id_col), sig.alias("simhash"))


def simhash_near_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """D2: near-dup pairs whose SimHash Hamming distance <= max_hamming.

    Blocking: split the 64-bit signature into ``max_hamming + 1`` bands; by
    pigeonhole, a pair within the distance bound differs in at most
    ``max_hamming`` bits, which can dirty at most ``max_hamming`` bands — at
    least one band matches exactly, so the candidate join is band-count
    equi-joins on band keys, never a crossJoin. Band count derives from the
    bound (a fixed 4-band split silently loses recall for max_hamming >= 4);
    beyond 7 the bands get narrower than 8 bits and bucket collision rates
    explode, so that's a hard error rather than a silent slowdown.
    """
    # slim (id, simhash) persisted before the band self-join: both join
    # sides otherwise recompute the corpus-wide simhash aggregate (guide
    # §2.4 — one exchange, reused; 16 bytes/row, text never cached)
    return hamming_near_pairs(
        scratch_persist(
            simhash(df, id_col, text_col), "dedup/simhash_near_pairs/sig"
        ),
        id_col,
        "simhash",
        max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )


def hamming_near_pairs(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near pairs under Hamming distance over ANY precomputed 64-bit
    signature column — the banding engine behind
    :func:`simhash_near_pairs`, factored out (r10) so pixel-space keys
    (``multimodal.ahash_64``) get the same pigeonhole blocking as text
    SimHash: split the signature into ``max_hamming + 1`` bands; a pair
    within the bound dirties at most ``max_hamming`` bands, so at least
    one band matches exactly — band-count equi-joins, never a crossJoin.
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    if not 0 <= max_hamming <= 7:
        raise ValueError(
            f"max_hamming={max_hamming} out of range: need 0 <= h <= 7 "
            "(h+1 bands over 64 bits; narrower bands degenerate to "
            "near-full-corpus buckets)"
        )
    n_bands = max_hamming + 1
    base, extra = divmod(64, n_bands)
    widths = [base + (1 if i < extra else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    # NOTE: both sides of the band self-join below re-evaluate sig_df.
    # Callers whose signatures are not already cached (the audio/video
    # chunk tiers, SimHash) persist their slim projection FIRST —
    # hamming_clusters feeds an already-cached reps frame, so persisting
    # here again would only add a per-construction plan canonicalization.
    sig = sig_df.select(F.col(id_col).alias("__id"), F.col(sig_col).alias("__sig"))
    bands = sig.select(
        "__id",
        "__sig",
        F.posexplode(
            F.array(
                *[
                    # width==64 (max_hamming=0, one band): the mask would
                    # overflow int64; the band IS the signature.
                    F.col("__sig")
                    if widths[i] == 64
                    else F.shiftright("__sig", offsets[i]).bitwiseAND(
                        F.lit((1 << widths[i]) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_key"),
    )
    bands = _cap_buckets(bands, max_bucket_size)
    left = bands.select("band_idx", "band_key", F.col("__id").alias("id_a"), F.col("__sig").alias("sig_a"))
    right = bands.select("band_idx", "band_key", F.col("__id").alias("id_b"), F.col("__sig").alias("sig_b"))
    pairs = (
        left.join(right, ["band_idx", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def hamming_clusters(
    sig_df: DataFrame,
    id_col: str,
    sig_col: str,
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup CLUSTERS under Hamming distance over a 64-bit signature
    column — the scale-correct composition above
    :func:`hamming_near_pairs` (r10, d117): collapse EXACT-equal
    signatures first (one groupBy — a 10³-member identical-hash cluster
    contributes ONE node, not 10⁶ pairs), band only the DISTINCT
    signatures, run connected components over signature-space, then
    broadcast the component label back to members through the signature.
    Emitting member-level pairs for an identical-hash cluster is
    quadratic in the ANSWER; clusters are linear — this is the same
    "singletons and duplicates never enter the pair stage" discipline
    the MinHash tier documents. Returns (id, cluster, cluster_size) with
    cluster = min id in the component, for every row whose component has
    ≥ 2 members."""
    from ._scratch import scratch_persist

    sigs = scratch_persist(
        sig_df.select(F.col(id_col).alias("id"), F.col(sig_col).alias("__sig")),
        "hamming_clusters/sigs",
    )
    reps = scratch_persist(
        sigs.groupBy("__sig").agg(
            F.min("id").alias("rep"), F.count("*").alias("__members")
        ),
        "hamming_clusters/reps",
    )
    pairs = hamming_near_pairs(reps, "rep", "__sig", max_hamming=max_hamming)
    comp = connected_components(pairs)
    # label every signature: its rep's component root where one exists,
    # else the rep itself (exact-dup-only clusters have no near pair)
    labeled = reps.join(
        comp.select(F.col("id").alias("rep"), "cluster"), "rep", "left"
    ).select(
        "__sig",
        "__members",
        F.coalesce("cluster", F.col("rep")).alias("__root"),
    )
    # __root is already the component minimum id (comp labels by min rep,
    # reps are per-signature min ids), so it IS the cluster label
    w = Window.partitionBy("__root")
    sized = labeled.withColumn("cluster_size", F.sum("__members").over(w)).filter(
        F.col("cluster_size") >= 2
    )
    return sigs.join(
        sized.select("__sig", F.col("__root").alias("cluster"), "cluster_size"),
        "__sig",
    ).select("id", "cluster", F.col("cluster_size").cast("long").alias("cluster_size"))


def char_ngrams(col, n: int = 3):
    """Distinct character n-grams of a string column, as a codegen'd HOF."""
    c = F.col(col) if isinstance(col, str) else col
    starts = F.sequence(F.lit(1), F.greatest(F.length(c) - n + 1, F.lit(1)))
    return F.array_distinct(F.transform(starts, lambda i: F.substr(c, i, F.lit(n))))


def ngram_jaccard_consecutive(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """D2: character-n-gram Jaccard between consecutive ids (id, id+1) — a
    bounded, oracle-checkable pairing exercising the n-gram set arithmetic."""
    a = df.select(F.col(id_col).alias("id_a"), char_ngrams(text_col, n).alias("g_a"))
    b = df.select(
        (F.col(id_col) - 1).alias("id_a"),
        F.col(id_col).alias("id_b"),
        char_ngrams(text_col, n).alias("g_b"),
    )
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("double")
    union = F.size(F.array_union("g_a", "g_b")).cast("double")
    return j.select("id_a", "id_b", F.round(inter / union, 6).alias("ngram_jaccard"))


def cross_jaccard_pairs(
    df_a: DataFrame,
    df_b: DataFrame,
    id_col: str,
    text_col: str,
    shingle: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT word-shingle Jaccard pairs BETWEEN two frames:
    (id_a, id_b, jaccard) for every cross pair at or above the threshold.

    Candidates come from a shingle-hash equi-join (a pair is considered iff
    it shares >= 1 shingle — which J >= t > 0 guarantees), never a cartesian;
    intersection sizes ride the join's aggregation and set sizes join back
    from per-doc counts, so no shingle SET is ever shuffled. This is the
    exact audit tier (decontamination verification, LSH-recall
    certification): candidate volume is Σ_h freq_a(h)·freq_b(h), fine for
    audit-sized frames; the scale path for full corpora remains
    ``incremental_dedup_minhash``'s banded LSH.
    """
    # each side feeds BOTH its size aggregate and the intersection join —
    # persist so the shingle explode runs once per side
    ra = scratch_persist(
        _shingle_hash_rows(df_a, id_col, text_col, shingle),
        "cross_jaccard_pairs/a",
    )
    rb = scratch_persist(
        _shingle_hash_rows(df_b, id_col, text_col, shingle),
        "cross_jaccard_pairs/b",
    )
    na = ra.groupBy("__id").agg(F.count("*").alias("__na")).withColumnRenamed("__id", "id_a")
    nb = rb.groupBy("__id").agg(F.count("*").alias("__nb")).withColumnRenamed("__id", "id_b")
    inter = (
        ra.withColumnRenamed("__id", "id_a")
        .join(rb.withColumnRenamed("__id", "id_b"), "__h")
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__ni"))
    )
    j = F.col("__ni").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__ni")
    ).cast("double")
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", j)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
    shingle: int = 3,
) -> DataFrame:
    """EXACT Jaccard-threshold self-join via PREFIX FILTERING — the
    deterministic complement to MinHash-LSH: zero recall loss (every
    qualifying pair is returned, so the full pair SET is oracle-checkable),
    at the cost of a frequency-ordered prefix index instead of banding.

    The classic prefix-filter lemma (SSJoin/PPJoin family): order every
    document's shingles by ascending global document frequency (rarest
    first, ties by hash); if J(A,B) >= t, the two docs must share a
    shingle within their first |X| - ceil(t*|X|) + 1 shingles under that
    common order. So the candidate join explodes ONLY prefixes — for
    t=0.8 that is ~20% of each doc's shingles, and because prefixes hold
    the RAREST shingles, candidate volume is Σ over rare shingles of
    df_prefix² — the high-df head that dominates a naive inverted-index
    join (Σ df² over everything) never enters the join. Candidates then
    verify exactly on the full shingle sets, read from the same persisted
    per-doc table (as minhash_lsh_pairs verifies from its persisted
    aggregate). Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    rows = scratch_persist(
        _shingle_hash_rows(df, id_col, text_col, shingle),
        "set_similarity_join/rows",
    )
    dfreq = rows.groupBy("__h").agg(F.count("*").alias("__df"))
    # ONE per-doc aggregation yields the frequency-sorted shingle array —
    # the prefix is a slice of it and the verify set a projection of it,
    # so there is no window sort over the exploded rows and no second
    # per-doc aggregation (this halved q21's warm time at sf0.1)
    docs = scratch_persist(
        rows.join(dfreq, "__h")
        .groupBy("__id")
        .agg(
            F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__arr")
        ),
        "set_similarity_join/docs",
    )
    n = F.size("__arr")
    plen = (n - _safe_ceil_frac(threshold, n) + 1).cast("int")
    pref = docs.select(
        "__id",
        F.explode(
            F.transform(F.slice("__arr", F.lit(1), plen), lambda s: s["__h"])
        ).alias("__h"),
    )
    cand = (
        pref.select(F.col("__id").alias("id_a"), "__h")
        .join(pref.select(F.col("__id").alias("id_b"), "__h"), "__h")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets_ = docs.select(
        "__id",
        F.transform("__arr", lambda s: s["__h"]).alias("__s"),
        F.size("__arr").alias("__n"),
    )
    return (
        cand.join(
            sets_.select(
                F.col("__id").alias("id_a"),
                F.col("__s").alias("__sa"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            sets_.select(
                F.col("__id").alias("id_b"),
                F.col("__s").alias("__sb"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn("__ni", F.size(F.array_intersect("__sa", "__sb")))
        .withColumn(
            "jaccard",
            F.col("__ni") / (F.col("__na") + F.col("__nb") - F.col("__ni")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


# ------------------------------------------------------------ incremental

def incremental_exact_dedup(new_df: DataFrame, corpus_df: DataFrame, content_col: str) -> DataFrame:
    """Keep only rows of ``new_df`` whose content does not already exist in
    ``corpus_df`` — the production shape of dedup: every incoming batch is
    checked against everything previously ingested, without re-deduping the
    whole corpus.

    Anti-join on sha2(content): the shuffle carries 32-byte hashes, never
    document text, and the corpus side reduces to distinct hashes first —
    at 100 TB the join input is the hash set, not the corpus.
    """
    h = F.sha2(F.col(content_col), 256)
    seen = corpus_df.select(h.alias("__h")).distinct()
    return new_df.withColumn("__h", h).join(seen, "__h", "left_anti").drop("__h")


def incremental_dedup_minhash(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 64,
    bands: int = 16,
    jaccard_threshold: float = 0.5,
    shingle: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup incremental dedup: drop new docs whose Jaccard similarity to
    ANY existing corpus doc reaches the threshold. Same MinHash-LSH machinery
    as minhash_lsh_pairs, but the band join is new×corpus instead of
    corpus×corpus — candidate generation scales with the batch, not the
    corpus squared. Returns the surviving rows of ``new_df``.
    """
    def prep(df, prefix):
        spread = df.repartition(df.sparkSession.sparkContext.defaultParallelism, id_col)
        agg = scratch_persist(
            minhash_signatures_with_sets(spread, id_col, text_col, n_hashes, shingle),
            f"incremental_dedup_minhash/{prefix}",
        )
        bands_tbl = agg.select(
            F.col("__id").alias(f"{prefix}_id"),
            F.posexplode(_band_keys(n_hashes, bands)).alias("band_idx", "band_key"),
        )
        sh_tbl = agg.select(
            F.col("__id").alias(f"{prefix}_id"), F.col("__shset").alias(f"{prefix}_sh")
        )
        return bands_tbl, sh_tbl

    new_bands, new_sh = prep(new_df, "new")
    cor_bands, cor_sh = prep(corpus_df, "cor")
    cor_bands = _cap_buckets(cor_bands, max_bucket_size)
    cand = (
        new_bands.join(cor_bands, ["band_idx", "band_key"])
        .select("new_id", "cor_id")
        .dropDuplicates(["new_id", "cor_id"])
    )
    verified = (
        cand.join(new_sh, "new_id")
        .join(cor_sh, "cor_id")
        .withColumn(
            "__j",
            F.size(F.array_intersect("new_sh", "cor_sh")).cast("double")
            / F.size(F.array_union("new_sh", "cor_sh")).cast("double"),
        )
        .filter(F.col("__j") >= jaccard_threshold)
        .select(F.col("new_id").alias("__dup_id"))
        .distinct()
    )
    return new_df.join(
        verified, F.col(id_col) == F.col("__dup_id"), "left_anti"
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    max_dist: int = 1,
) -> DataFrame:
    """All DISTINCT string pairs within Levenshtein distance ``max_dist``
    (currently 1) via SymSpell-style deletion-neighborhood blocking —
    entity resolution over near-identical names/IDs without the O(V²)
    comparison.

    Two strings are within distance 1 iff their deletion neighborhoods
    (the string itself plus every single-character deletion) intersect:
    a substitution matches where both delete the differing position, an
    insertion/deletion matches where the longer string deletes the extra
    character. Candidates come from ONE hash-partitioned aggregation on
    the variant key — never a crossJoin — with in-bucket pair generation
    as a codegen'd HOF and a BANDED ``levenshtein(a, b, 1)`` verify
    (O(len) diagonal band, not the O(len²) DP) only on bucket collisions.
    Variant generation is likewise a codegen'd sequence/transform HOF:
    |s|+1 rows per distinct string, all JVM-side.

    At 100 TB: the aggregation shuffles corpus × (avg_len+1) 8-byte
    variant hashes (linear), and a bucket is STRUCTURALLY bounded — the
    strings whose deletion neighborhood contains variant ``v`` are ``v``
    itself plus single-character insertions into ``v``, at most
    (|v|+1) × alphabet_size distinct strings — so ``collect_set`` per
    bucket is O(len × alphabet), independent of corpus size, and pair
    volume is Σ bucket², concentrated exactly where true near-matches
    are. (A hash collision on xxhash64 can only merge two buckets and
    add false candidates; the levenshtein verify drops them.)

    The earlier self-join formulation (two exchanges + 977K joined rows
    at sf0.1) measured 5.4 s warm; this single-shuffle bucket form with
    the banded verify is 2.1 s on the same input.
    """
    if max_dist != 1:
        raise ValueError("deletion-neighborhood blocking implements max_dist=1")
    s = df.select(F.col(text_col).alias("s")).distinct()
    # array_distinct BEFORE the explode: a run of k equal characters
    # yields k identical deletion variants (k−1 redundant rows through
    # the explode and the bucket shuffle); collect_set deduped them
    # anyway, so dropping them early is result-invisible (guide §2.3 —
    # shuffle fewer bytes). Measured 285k → 195k variant rows at sf0.1.
    variants = s.select(
        "s",
        F.explode(
            F.expr(
                "array_distinct(transform(sequence(0, length(s)), "
                "i -> xxhash64(concat("
                "substring(s, 1, i-1), substring(s, i+1, length(s))))))"
            )
        ).alias("vh"),
    )
    # explicit width for the bucket stage: its output is small in BYTES
    # (AQE would coalesce to a few partitions) but the in-bucket pair
    # explode + banded levenshtein downstream are CPU-bound — a
    # user-specified repartition pins one task per core (2.1 s → 1.1 s at
    # sf0.1 on local[32]; on a cluster defaultParallelism scales it)
    width = df.sparkSession.sparkContext.defaultParallelism
    buckets = (
        variants.repartition(width, "vh")
        .groupBy("vh")
        .agg(F.collect_set("s").alias("ss"))
        .filter(F.size("ss") > 1)
    )
    pairs = buckets.selectExpr("array_sort(ss) AS ss").select(
        F.explode(
            F.expr(
                # ss is pre-sorted ONCE above: the in-bucket pair explode
                # runs the O(k log k) sort once per bucket instead of once
                # per outer element (guide §1.2 step 2 — this HOF is the
                # CPU-bound stage of the operator). The banded
                # levenshtein VERIFY runs inside the same HOF, before the
                # explode and before the dedup exchange: candidates that
                # fail the distance bound (~73% at sf0.1) never become
                # rows and never shuffle (guide §2.3) — previously every
                # candidate pair was exploded, shuffled through
                # distinct(), and only then verified.
                "flatten(transform(ss, (a, i) -> "
                "filter(transform(slice(ss, i + 2, size(ss)), "
                f"b -> struct(a AS name_a, b AS name_b, "
                f"levenshtein(a, b, {max_dist}) AS dist)), "
                "p -> p.dist >= 0)))"
            )
        ).alias("p")
    ).select("p.*")
    # a pair can collide in several shared variants; dist is a pure
    # function of the pair, so dedup after the verify is the same set
    return pairs.distinct()


def soft_dedup_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """SoftDeDup-style duplicate DOWN-WEIGHTING instead of removal: every
    row gets ``dup_count`` (the size of its exact-duplicate cluster) and
    ``weight`` = 1/dup_count, so a training loader sampling by weight sees
    each distinct text with equal total mass while keeping all copies
    available (the soft variant of D1's keep-one: recent data-curation
    work finds down-weighting beats dropping when duplicates carry
    distribution signal).

    One shuffle, re-keyed on the 32-byte sha2 of the text (never the text
    itself): the cluster size is a COUNT window over the hash. At 100 TB
    this is the d01 plan shape exactly — map-side projection to hashes,
    one hash-partitioned window, no join back.

    ``weight`` rounds to 6 dp (ADVICE r5): pins one representation for
    non-terminating cluster reciprocals (1/3, 1/7, …) so IEEE-double
    engines and DECIMAL-division engines agree on the stored value.
    """
    w = Window.partitionBy(F.sha2(F.col(text_col), 256))
    return df.withColumn("dup_count", F.count("*").over(w)).withColumn(
        "weight", F.round(F.lit(1.0) / F.col("dup_count"), 6)
    )


def cross_source_dup_matrix(
    df: DataFrame,
    text_col: str,
    source_col: str,
    shingle: int = 0,
) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source pair
    (a < b), how many DISTINCT content units appear in both — the first
    diagnostic before mixing corpora (a high cell means the mix
    double-counts that content; cf. the decontamination sweeps in
    Gopher/The Pile appendices). ``shingle=0`` matches whole texts;
    ``shingle=n`` matches word n-gram SPANS (the decontamination
    granularity — partial overlap shows up long before whole-document
    duplication does).

    Plan: project to (sha2(unit), source) → distinct → group by hash
    collecting the source SET (bounded by the number of SOURCES, a
    catalog-sized constant — never corpus-scale) → explode the in-set
    pairs → count. One aggregation shuffle on 32-byte keys plus one on
    (src, src) pairs; no self-join of the corpus against itself.
    """
    if shingle > 0:
        from .text import word_ngrams

        unit = F.explode(F.array_distinct(word_ngrams(text_col, shingle)))
    else:
        unit = F.col(text_col)
    hs = df.select(
        F.col(source_col).alias("__s"), unit.alias("__u")
    ).select(F.sha2(F.col("__u"), 256).alias("__h"), "__s").distinct()
    sets = hs.groupBy("__h").agg(F.collect_set("__s").alias("ss")).filter(
        F.size("ss") > 1
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(array_sort(ss), (a, i) -> "
                "transform(slice(array_sort(ss), i + 2, size(ss)), "
                "b -> struct(a AS source_a, b AS source_b))))"
            )
        ).alias("p")
    ).select("p.*")
    return pairs.groupBy("source_a", "source_b").agg(
        F.count("*").alias("n_shared_texts")
    )


def containment_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    shingle: int = 3,
) -> DataFrame:
    """EXACT containment-threshold join: every DIRECTED pair (a, b) where
    |shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold — the
    asymmetric near-superset detector set_similarity_join can't express
    (a 50-token excerpt inside a 5000-token original has containment ~1.0
    but Jaccard ~0.01, invisible at any symmetric threshold). The
    excerpt/quotation/truncation-variant signal for corpus curation.

    Prefix filtering adapts to the asymmetry: if overlap >= ceil(t*|A|),
    A must share a shingle within its first |A| - ceil(t*|A|) + 1 under
    the global rarest-first order — but B is unconstrained (containment
    puts no lower bound on B's similarity), so A's prefix probes B's FULL
    inverted index. Candidate volume is Σ over shingles of
    df_prefix(h) * df_all(h); because prefixes hold each doc's RAREST
    shingles, df_prefix collapses on the high-df head that dominates a
    naive index join. Verification is exact on the full hash sets (the
    same shape as set_similarity_join: the probe and the verify both read
    one scratch-persisted frequency-sorted shingle table).

    Returns (id_a, id_b, containment) with id_a != id_b: id_a's shingles
    are >= threshold contained in id_b's.
    """
    rows = scratch_persist(
        _shingle_hash_rows(df, id_col, text_col, shingle),
        "containment_join/rows",
    )
    dfreq = rows.groupBy("__h").agg(F.count("*").alias("__df"))
    docs = scratch_persist(
        rows.join(dfreq, "__h")
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list(F.struct("__df", "__h"))).alias("__arr")),
        "containment_join/docs",
    )
    n = F.size("__arr")
    plen = (n - _safe_ceil_frac(threshold, n) + 1).cast("int")
    pref = docs.select(
        "__id",
        F.explode(
            F.transform(F.slice("__arr", F.lit(1), plen), lambda s: s["__h"])
        ).alias("__h"),
    )
    cand = (
        pref.select(F.col("__id").alias("id_a"), "__h")
        .join(rows.select(F.col("__id").alias("id_b"), "__h"), "__h")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sets_ = docs.select(
        "__id",
        F.transform("__arr", lambda s: s["__h"]).alias("__s"),
        F.size("__arr").alias("__n"),
    )
    return (
        cand.join(
            sets_.select(
                F.col("__id").alias("id_a"),
                F.col("__s").alias("__sa"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            sets_.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.size(F.array_intersect("__sa", "__sb")) / F.col("__na"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", F.round("containment", 6).alias("containment"))
    )
