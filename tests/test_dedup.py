"""Property tests for the near-dedup operators — SURVEY §7 Stage 5.

MinHash-LSH and SimHash are rows-only in the oracle harness (banding
internals are engine-specific), so their correctness gate lives here:
exact duplicates must ALWAYS be caught (MinHash signatures are equal →
every band collides; SimHash distance 0), and reported Jaccard values must
be exact set overlaps.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark import dedup

WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


def _doc(i: int, seed: int) -> str:
    # deterministic pseudo-text, 30 tokens; the doc-unique prefix token keeps
    # different ids from colliding by modular accident
    body = " ".join(WORDS[(i * 7 + j * seed) % len(WORDS)] for j in range(27))
    return f"doc{i} marker{i} uniq{i} " + body


def _shingles(t: str) -> set:
    """Word 3-shingle set as the dedup operators define it: split on single
    spaces; a doc shorter than the width is one shingle of all its words."""
    ws = t.split(" ")
    if len(ws) < 3:
        return {tuple(ws)}
    return {tuple(ws[i : i + 3]) for i in range(len(ws) - 2)}


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, _doc(i, seed=3)) for i in range(40)]
    # ids 100+i are exact duplicates of ids 0..9
    rows += [(100 + i, _doc(i, seed=3)) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dups_always_collide_minhash(docs):
    """Identical text → identical signature → all bands collide; the pair
    must appear with jaccard == 1.0 regardless of band parameters."""
    for n_hashes, bands in [(32, 8), (64, 16), (16, 4)]:
        pairs = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n_hashes=n_hashes, bands=bands, jaccard_threshold=0.9
        )
        got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
        for i in range(10):
            assert got.get((i, 100 + i)) == 1.0, (n_hashes, bands, i)


def test_minhash_jaccard_is_exact_set_overlap(spark):
    """The verify stage reports exact shingle-set Jaccard, not an estimate:
    two docs sharing exactly half their shingle sets → jaccard ≈ 1/3
    (|A∩B| / |A∪B| with |A|=|B|, half common)."""
    a = " ".join(f"w{i}" for i in range(20))
    b = " ".join(f"w{i}" for i in range(10)) + " " + " ".join(f"x{i}" for i in range(10))
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", n_hashes=64, bands=64, jaccard_threshold=0.0, shingle=3
    ).collect()
    # shingle=3 over 20 tokens → 18 shingles each; shared prefix of 10 tokens
    # gives 8 common shingles → J = 8 / (18 + 18 - 8)
    assert len(pairs) == 1
    assert pairs[0].jaccard == pytest.approx(8 / 28, abs=1e-6)


def test_minhash_no_false_positives_above_threshold(docs):
    """Every returned pair's jaccard respects the threshold (verify stage
    filters banding false positives)."""
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=32, bands=16, jaccard_threshold=0.8
    )
    assert pairs.filter(F.col("jaccard") < 0.8).count() == 0


def test_connected_components_transitive(spark):
    """a-b and b-c chain into one cluster labelled by the min id; disjoint
    pairs stay separate; convergence handles a long path."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (5, 4), (6, 5), (7, 6), (8, 7)],
        "id_a long, id_b long",
    )
    # both execution paths must agree: the count-gated driver-side
    # union-find (default) and the distributed star contraction
    for thr in (100_000, 0):
        comp = {
            r.id: r.cluster
            for r in dedup.connected_components(
                pairs, local_threshold=thr
            ).collect()
        }
        assert comp[1] == comp[2] == comp[3] == 1
        assert comp[10] == comp[11] == 10
        # path 4-5-6-7-8 (diameter 4) all collapse to 4
        assert comp[4] == comp[5] == comp[6] == comp[7] == comp[8] == 4


def test_connected_components_long_chain_converges(spark):
    """Path compression: a 300-vertex chain (diameter 300) must converge
    well inside the default round budget — O(log d) rounds, not O(d)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs, local_threshold=0)
    assert comp.select(F.countDistinct("cluster")).first()[0] == 1
    assert comp.filter(F.col("cluster") != 0).count() == 0


def test_connected_components_raises_instead_of_truncating(spark):
    """Non-convergence is a hard error, never a silently mislabeled
    clustering (a chain of diameter 4 cannot settle in one round)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(4)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=1, local_threshold=0)


def test_connected_components_heterogeneous_pair_types_widen(spark):
    """Heterogeneous pair columns (id_a int, id_b bigint) widen to the
    COMMON type on both execution paths (ADVICE r10): the local path
    previously typed both output columns from id_a's dtype, so an id_b
    beyond int range overflowed the declared schema where the
    distributed path's least/min coerced wide."""
    big = 5_000_000_000  # > 2^31
    pairs = spark.createDataFrame(
        [(1, big), (2, big), (3, 4)], "id_a int, id_b long"
    )
    for thr in (100_000, 0):
        out = dedup.connected_components(pairs, local_threshold=thr)
        assert dict(out.dtypes) == {"id": "bigint", "cluster": "bigint"}
        got = {r.id: r.cluster for r in out.collect()}
        assert got == {1: 1, 2: 1, big: 1, 3: 3, 4: 3}


def test_minhash_estimate_prefilter_off_matches_on(spark, docs):
    """The signature-estimate pre-filter is an optimization, not a result
    change: with the generous default margin the surviving pairs and their
    exact Jaccard values match the unfiltered run on a normal corpus."""
    kw = dict(n_hashes=64, bands=16, jaccard_threshold=0.5)
    on = dedup.minhash_lsh_pairs(docs, "doc_id", "text", **kw)
    off = dedup.minhash_lsh_pairs(docs, "doc_id", "text", est_margin=None, **kw)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(on) == rows(off)


def test_dedup_corpus_keeps_one_per_cluster(spark, docs):
    """End-to-end: each exact-dup pair loses its higher id; all unique docs
    survive."""
    out = dedup.dedup_corpus_minhash(
        docs, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.9
    )
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    for i in range(10):
        assert i in kept and (100 + i) not in kept  # canonical = min id
    assert {i for i in range(10, 40)} <= kept  # uniques untouched


def test_minhash_on_exact_dedup_output_builds_without_a_job(spark, docs):
    """Building the pipeline's dedup stages is planning only: asking a
    shuffled (AQE) input for its partition count would run its shuffle
    stages while the DataFrame is still being built."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup("minhash-plan"))
    sc.setJobGroup("minhash-plan", "plan-time job pin")
    try:
        dedup.minhash_lsh_pairs(
            dedup.exact_dedup(docs, "text", "doc_id"), "doc_id", "text", jaccard_threshold=0.9
        )
    finally:
        sc.setJobGroup(None, None)
    assert set(tracker.getJobIdsForGroup("minhash-plan")) - before == set()


def test_minhash_on_exact_dedup_plans_its_input_once(docs, monkeypatch):
    """The verify joins read the persisted signature + shingle-set
    aggregate, so the input lineage (here the exact_dedup window) is planned
    in one place: inside that one cached relation. Rebuilding the sets from
    the input for the surviving pairs would take a second scratch slot and
    semi-join back into the input once per verify side."""
    from pandas_db_sdk_spark._scratch import scratch_persist

    slots = []

    def recording(df, slot, *args, **kwargs):
        slots.append(slot)
        return scratch_persist(df, slot, *args, **kwargs)

    monkeypatch.setattr(dedup, "scratch_persist", recording)
    pairs = dedup.minhash_lsh_pairs(
        dedup.exact_dedup(docs, "text", "doc_id"), "doc_id", "text", jaccard_threshold=0.9
    )
    assert slots == ["minhash_lsh_pairs/agg"]
    # walk the plan with cached relations substituted: an InMemoryRelation
    # is a leaf there, so a Window outside it is a re-planned input
    nodes = []

    def walk(p):
        nodes.append(p)
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(pairs._jdf.queryExecution().withCachedData())
    names = [p.nodeName() for p in nodes]
    assert names.count("Window") == 0, names
    cached = {
        p.cacheBuilder().cachedPlan().toString()
        for p in nodes
        if p.nodeName() == "InMemoryRelation"
    }
    assert len(cached) == 1 and "row_number()" in cached.pop()


# normalised-row hashes (sorted row reprs, sha256) at sf0.01: a change
# detector for the queries' output; d18 drops its bin layout (pack_group,
# bin_idx), which follows the session's default parallelism
_PINNED_ROWS = {
    "d02_minhash_lsh": (25, "887a409e1d6df81267d7d9af3ec40f07923b9bc228a2335d63fc422f18ae6b2f"),
    "d02d_dedup_corpus": (476, "8b532a48bd0886ad59f5ee3cbe4187e171f4c7e678b2587361d88db95dece844"),
    "d18_prep_pipeline": (476, "5d76ad5e3ad4a323ccb2f4cae2c7ed29512d465f66f46c9e333ae37b53a5d609"),
}


def test_minhash_queries_exact_against_brute_force(spark):
    """d02's pairs against an independent brute force over word 3-shingle
    sets at sf0.01: every pair is a true pair at Jaccard >= 0.5 with its
    exact Jaccard, and every true pair at Jaccard >= 0.9 is found (a pair
    at J collides in one of d02's 8 bands of 4 rows with probability
    1 - (1 - J^4)^8, >= 0.9998 at 0.9). d02, d02d and d18 also match their
    pinned row hashes."""
    import hashlib

    from pandas_db_sdk_spark.corpus import all_queries
    from pandas_db_sdk_spark.io import tables

    sf = "/root/testdata/sf0.01"
    qs = all_queries()
    frames = {
        "d02_minhash_lsh": qs["d02_minhash_lsh"](spark, sf),
        "d02d_dedup_corpus": qs["d02d_dedup_corpus"](spark, sf),
        "d18_prep_pipeline": qs["d18_prep_pipeline"](spark, sf).select(
            "doc_id", "n_tokens", "quality_score"
        ),
    }
    rows = {name: df.collect() for name, df in frames.items()}
    text = tables(spark, sf)("documents").select("doc_id", "text").collect()
    sets_ = {r.doc_id: _shingles(r.text) for r in text}
    got = {(r.id_a, r.id_b): r.jaccard for r in rows["d02_minhash_lsh"]}
    for (a, b), j in got.items():
        assert a < b
        exact = len(sets_[a] & sets_[b]) / len(sets_[a] | sets_[b])
        assert exact >= 0.5 and j == round(exact, 6), (a, b, j, exact)
    ids = sorted(sets_)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets_[a] & sets_[b])
            if inter and inter / len(sets_[a] | sets_[b]) >= 0.9:
                assert (a, b) in got, (a, b)
    hashes = {
        name: (
            len(rs),
            hashlib.sha256(
                "\n".join(sorted(repr(tuple(r)) for r in rs)).encode()
            ).hexdigest(),
        )
        for name, rs in rows.items()
    }
    assert hashes == _PINNED_ROWS


def test_exact_dups_always_collide_simhash(docs):
    pairs = dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=0)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    for i in range(10):
        assert (i, 100 + i) in got


def test_simhash_signature_deterministic(docs):
    s1 = dedup.simhash(docs, "doc_id", "text").orderBy("doc_id").collect()
    s2 = dedup.simhash(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert s1 == s2


def test_exact_dedup_keeps_first_by_order(spark):
    df = spark.createDataFrame(
        [(1, "same text", 10), (2, "same text", 5), (3, "other", 1)],
        "id long, text string, ord long",
    )
    out = dedup.exact_dedup(df, "text", "ord").orderBy("id").collect()
    assert [(r.id, r.ord) for r in out] == [(2, 5), (3, 1)]


def test_minhash_short_docs_no_crash(spark):
    """Docs shorter than the shingle width still get signatures (degenerate
    shingle of the available tokens) and exact short dups still collide."""
    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two"), (3, "x")], "doc_id long, text string"
    )
    pairs = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", n_hashes=16, bands=4, jaccard_threshold=0.9
    ).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_lsh_bucket_cap_bounds_degenerate_clusters(spark):
    """max_bucket_size: a giant duplicate cluster (the quadratic blowup
    case) is suppressed by a small cap, while pair-finding on the normal
    corpus is unchanged by a generous cap."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import dedup
    from pandas_db_sdk_spark.io import tables

    d = tables(spark, "/root/testdata/sf0.001")("documents").limit(100)
    base = dedup.minhash_lsh_pairs(d, "doc_id", "text", jaccard_threshold=0.8)
    capped = dedup.minhash_lsh_pairs(
        d, "doc_id", "text", jaccard_threshold=0.8, max_bucket_size=1000
    )
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(base) == rows(capped)  # generous cap: identical output

    # degenerate corpus: ONE text duplicated 60 times → every band bucket
    # holds all 60 ids; cap=10 suppresses the 60²-pair explosion entirely
    one = d.limit(1).select("text")
    cluster = one.crossJoin(spark.range(60).withColumnRenamed("id", "doc_id"))
    boom = dedup.minhash_lsh_pairs(cluster, "doc_id", "text", jaccard_threshold=0.8)
    quiet = dedup.minhash_lsh_pairs(
        cluster, "doc_id", "text", jaccard_threshold=0.8, max_bucket_size=10
    )
    assert boom.count() == 60 * 59 / 2
    assert quiet.count() == 0


def test_simhash_bands_derive_from_max_hamming(docs):
    """For every bound h, the banded candidate join must find EXACTLY the
    pairs whose signature Hamming distance <= h (pigeonhole guarantee:
    h+1 bands). A fixed 4-band split would lose pairs at h >= 4."""
    sigs = {r[0]: r[1] for r in dedup.simhash(docs, "doc_id", "text").collect()}
    ids = sorted(sigs)
    for h in (0, 3, 4, 6):
        want = {
            (a, b)
            for i, a in enumerate(ids)
            for b in ids[i + 1:]
            if bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1") <= h
        }
        got = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=h).collect()
        }
        assert got == want, f"max_hamming={h}: got {len(got)}, want {len(want)}"


def test_simhash_max_hamming_out_of_range_rejected(docs):
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_near_pairs(docs, "doc_id", "text", max_hamming=8)


def test_split_leakage_scrub_removes_exact_cross_split_dups(spark):
    """d47's guarantee: a train-split doc whose text is IDENTICAL to a
    test-split doc never survives the scrub (exact dups always collide in
    every MinHash band). Keys are chosen so the md5 split assignment is
    known a priori; unrelated train docs survive."""
    import hashlib

    from pandas_db_sdk_spark import dedup as dd
    from pandas_db_sdk_spark.pipeline import hash_split

    def bucket(key: int) -> int:
        return int(hashlib.md5(f"{key}:0".encode()).hexdigest()[:4], 16)

    train_ids = [k for k in range(1000) if bucket(k) < int(0.8 * 65536)]
    test_ids = [k for k in range(1000) if bucket(k) >= int(0.9 * 65536)]
    leak = "the quick brown fox jumps over the lazy dog again and again"
    clean = "completely unrelated text about distributed query planning engines"
    rows = [
        (train_ids[0], leak),   # leaks: identical to a test doc
        (train_ids[1], clean),  # survives
        (test_ids[0], leak),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    split = hash_split(df, "doc_id", (0.8, 0.1), salt="0")
    assert {r.doc_id: r.split for r in split.collect()} == {
        train_ids[0]: "train", train_ids[1]: "train", test_ids[0]: "test"
    }
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    out = dd.incremental_dedup_minhash(
        train, test, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
    )
    assert [r.doc_id for r in out.collect()] == [train_ids[1]]


def test_simhash_cluster_absorbs_exact_duplicates(spark):
    """d76 composition: exact-duplicate texts always share a SimHash
    signature, so they must land in the same connected component, with
    cluster = min doc_id and cluster_size counting every copy."""
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),
        (3, "alpha beta gamma delta epsilon zeta eta theta"),
        (4, "completely different content about other things entirely xyz"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    got = {r.id: r.cluster for r in cc.collect()}
    assert got.get(1) == got.get(2) == got.get(3) == 1
    assert 4 not in got or got[4] == 4


def test_cross_jaccard_pairs_exact_values(spark):
    """d47b's audit primitive: cross-frame Jaccard is the EXACT distinct
    word-shingle overlap — verified against a hand-computed pair — and
    pairs sharing no shingle never appear (equi-join candidates only)."""
    # a and b share 5 of their distinct 3-shingles; c is disjoint
    a_txt = "w1 w2 w3 w4 w5 w6 w7"          # shingles: 5 (w1w2w3 .. w5w6w7)
    b_txt = "w1 w2 w3 w4 w5 w6 w7 w8"       # shingles: 6, shares all 5 of a
    c_txt = "x1 x2 x3 x4 x5 x6 x7"
    left = spark.createDataFrame([(1, a_txt)], "doc_id long, text string")
    right = spark.createDataFrame(
        [(10, b_txt), (11, c_txt)], "doc_id long, text string"
    )
    out = dedup.cross_jaccard_pairs(
        left, right, "doc_id", "text", shingle=3, threshold=0.0
    ).collect()
    got = {(r.id_a, r.id_b): r.jaccard for r in out}
    assert set(got) == {(1, 10)}  # disjoint pair generates no candidate
    assert got[(1, 10)] == pytest.approx(5 / 6)
    # thresholding drops the sub-threshold pair
    assert (
        dedup.cross_jaccard_pairs(
            left, right, "doc_id", "text", shingle=3, threshold=0.9
        ).count()
        == 0
    )


def test_set_similarity_join_exact_vs_brute_force(spark):
    """Prefix filtering must lose NOTHING: the returned pair set equals
    brute-force threshold filtering over all pairs, at several thresholds,
    on docs engineered with shared and unique shingle runs."""
    rows = [(i, _doc(i, seed=3)) for i in range(25)]
    rows += [(200 + i, _doc(i, seed=3)) for i in range(5)]      # exact dups
    rows += [(300 + i, _doc(i, seed=3) + " tail extra") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sets_ = {i: _shingles(t) for i, t in rows}
    for t in (0.5, 0.8, 0.95):
        got = {
            (r.id_a, r.id_b): r.jaccard
            for r in dedup.set_similarity_join(
                df, "doc_id", "text", threshold=t
            ).collect()
        }
        want = {}
        ids = sorted(sets_)
        for x in ids:
            for y in ids:
                if x >= y:
                    continue
                j = len(sets_[x] & sets_[y]) / len(sets_[x] | sets_[y])
                if j >= t:
                    want[(x, y)] = round(j, 6)
        assert got == want, t


def test_set_similarity_join_plan_has_no_cartesian(spark):
    """The candidate stage is a prefix-token equi-join — never all-pairs."""
    df = spark.createDataFrame(
        [(i, _doc(i, seed=3)) for i in range(10)], "doc_id long, text string"
    )
    out = dedup.set_similarity_join(df, "doc_id", "text", threshold=0.7)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_containment_join_finds_excerpt_inside_original(spark):
    """A truncated excerpt is ~fully contained in its original (directed:
    excerpt -> original, never the reverse at the same threshold), and
    unrelated docs never pair."""
    from pandas_db_sdk_spark import dedup

    base = " ".join(f"tok{i}" for i in range(40))
    excerpt = " ".join(f"tok{i}" for i in range(12))
    other = " ".join(f"zzz{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, excerpt), (3, other)], "doc_id long, text string"
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_join(df, "doc_id", "text", threshold=0.9).collect()
    }
    assert (2, 1) in got and got[(2, 1)] == 1.0
    assert (1, 2) not in got  # 40-token doc is NOT contained in the excerpt
    assert not any(3 in k for k in got)


def test_prefix_ceil_is_float_safe(spark):
    """ceil(t * n) must equal the rational ceil even when the binary double
    of t*n rounds a hair above the integer (0.55*100 -> 55.000000000000007,
    raw ceil 56): a prefix one short of the lemma's bound silently drops
    qualifying pairs, breaking set_similarity_join/containment_join's
    EXACT contract."""
    from pandas_db_sdk_spark.dedup import _safe_ceil_frac

    rows = spark.range(1).select(
        _safe_ceil_frac(0.55, F.lit(100)).alias("safe"),
        F.ceil(F.lit(0.55) * F.lit(100).cast("double")).alias("raw"),
        _safe_ceil_frac(0.7, F.lit(10)).alias("safe2"),
        _safe_ceil_frac(0.65, F.lit(20)).alias("frac"),  # 13.0 exactly
        _safe_ceil_frac(0.6, F.lit(7)).alias("frac2"),  # 4.2 -> 5
    ).collect()[0]
    assert rows.raw == 56  # the double artifact the helper exists to fix
    assert rows.safe == 55 and rows.safe2 == 7
    assert rows.frac == 13 and rows.frac2 == 5


def test_connected_components_star_matches_label_method(spark):
    """The one distributed path (large/small-star contraction, pinned at
    local_threshold=0) returns the SAME labels as the driver-side
    union-find on transitive chains, disjoint clusters and a
    self-loop-only vertex."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (5, 4), (6, 5), (7, 6), (8, 7), (20, 20)],
        "id_a long, id_b long",
    )
    local, star = (
        {
            r.id: r.cluster
            for r in dedup.connected_components(
                pairs, local_threshold=thr
            ).collect()
        }
        for thr in (100_000, 0)
    )
    assert star == local
    assert star[20] == 20  # self-loop-only vertex labels itself


def test_connected_components_star_long_chain_and_raise(spark):
    """Star contraction converges on a 300-vertex path well inside the
    default budget and raises (never truncates) when max_iter is too
    tight."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], "id_a long, id_b long"
    )
    comp = dedup.connected_components(pairs, local_threshold=0)
    assert comp.select(F.countDistinct("cluster")).first()[0] == 1
    assert comp.filter(F.col("cluster") != 0).count() == 0
    with pytest.raises(RuntimeError, match="star"):
        dedup.connected_components(pairs, max_iter=1, local_threshold=0)


def _kcore_fixture_edges(spark):
    """5-clique + pendant chain + a trap vertex whose initial degree
    clears k but whose neighbors peel — the cascade detector."""
    clique = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    chain = [(10, 11), (11, 12), (12, 13)]
    trap = [(100, 10), (100, 11), (100, 12)]  # deg 3 >= k, all die
    bridge = [(0, 10)]
    dup_and_noise = [(1, 0), (2, 2), (None, 3)]  # reversed dup, loop, null
    return spark.createDataFrame(
        clique + chain + trap + bridge + dup_and_noise,
        "id_a long, id_b long",
    )


def test_kcore_cascade_local_and_distributed_agree(spark):
    from pandas_db_sdk_spark import graph

    edges = _kcore_fixture_edges(spark)
    expect = {i: 4 for i in range(5)}  # the 5-clique, degree 4 inside
    for thr in (100_000, 0):  # local gate, then pinned distributed
        got = {
            r.id: r.core_degree
            for r in graph.kcore(edges, k=3, local_threshold=thr).collect()
        }
        assert got == expect, (thr, got)


def test_kcore_raise_contract_matches_across_paths(spark):
    """max_iter=1 leaves the trap vertex alive after one round on this
    graph — BOTH paths raise the same contract instead of returning a
    non-maximal core."""
    import pytest as _pytest

    from pandas_db_sdk_spark import graph

    edges = _kcore_fixture_edges(spark)
    for thr in (100_000, 0):
        with _pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
            graph.kcore(edges, k=3, max_iter=1, local_threshold=thr)


def test_kcore_empty_core_is_empty_frame(spark):
    from pandas_db_sdk_spark import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    assert graph.kcore(edges, k=3).count() == 0
    assert graph.kcore(edges, k=3, local_threshold=0).count() == 0


def test_lpa_two_cliques_separate_communities(spark):
    """d148 operator contract: after enough rounds two bridged cliques
    settle on their own minimum labels; the tie rule is smallest label;
    null/self-loop hygiene shared with kcore."""
    from pandas_db_sdk_spark import graph

    cliq_a = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    cliq_b = [(i, j) for i in range(10, 15) for j in range(i + 1, 15)]
    edges = spark.createDataFrame(
        cliq_a + cliq_b + [(4, 10), (3, 3), (None, 1)],
        "id_a long, id_b long",
    )
    out = {
        r.id: r.community
        for r in graph.label_propagation_communities(edges, rounds=4).collect()
    }
    assert set(out) == set(range(5)) | set(range(10, 15))
    assert {out[i] for i in range(5)} == {0}
    assert {out[i] for i in range(10, 15)} == {10}


def test_lpa_round_semantics_are_synchronous(spark):
    """One round on a 3-path 1-2-3: ends adopt the middle's label, the
    middle adopts the smaller end — the SYNCHRONOUS update (an async
    sweep would let 2's new label leak into 3's update)."""
    from pandas_db_sdk_spark import graph

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {
        r.id: r.community
        for r in graph.label_propagation_communities(edges, rounds=1).collect()
    }
    assert out == {1: 2, 2: 1, 3: 2}


def test_kcore_peeling_depth_budget_on_chain(spark):
    """kcore's round budget is the graph's PEELING DEPTH, which is O(n)
    on a path at k=2 (ends peel two per round) — the documented raise
    contract must fire on a chain deeper than max_iter and succeed once
    the budget covers it, on BOTH paths."""
    import pytest as _pytest

    from pandas_db_sdk_spark import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    for thr in (100_000, 0):
        with _pytest.raises(RuntimeError, match="did not converge"):
            graph.kcore(chain, k=2, max_iter=5, local_threshold=thr)
        # 41-node path: ends peel pairwise -> depth 20; budget 25 clears
        assert graph.kcore(chain, k=2, max_iter=25, local_threshold=thr).count() == 0


def test_hamming_near_pairs_bucket_cap(spark):
    """max_bucket_size on the Hamming banding: every band bucket of an
    identical-signature cluster holds the whole cluster, so a cluster
    larger than the cap yields no pairs and one at the cap yields all of
    them."""
    cap = 5
    rows = [(i, 0) for i in range(cap)] + [(100 + i, -1) for i in range(cap + 1)]
    sigs = spark.createDataFrame(rows, "id long, sig long")
    at_cap = {(a, b, 0) for a in range(cap) for b in range(a + 1, cap)}

    got = dedup.hamming_near_pairs(sigs, "id", "sig", max_hamming=3, max_bucket_size=cap)
    assert {tuple(r) for r in got.collect()} == at_cap
    uncapped = dedup.hamming_near_pairs(sigs, "id", "sig", max_hamming=3)
    assert uncapped.count() == len(at_cap) + (cap + 1) * cap // 2
