"""Sequence-packing invariants (packing.py) and incremental dedup
(dedup.incremental_*) — the per-batch production shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandas_db_sdk_spark import dedup, packing
from pandas_db_sdk_spark.io import tables

SF = "/root/testdata/sf0.001"
BUDGET = 512


def _tokens(spark):
    d = tables(spark, SF)("documents")
    return d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))


def test_packing_covers_every_doc_once(spark):
    toks = _tokens(spark)
    packed = packing.pack_greedy(toks, "doc_id", "n_tokens", BUDGET)
    assert packed.count() == toks.count()
    assert packed.select("doc_id").distinct().count() == toks.count()


def test_packing_respects_budget(spark):
    packed = packing.pack_greedy(_tokens(spark), "doc_id", "n_tokens", BUDGET)
    over = (
        packed.groupBy("pack_group", "bin_idx")
        .agg(F.sum("n_tokens").alias("total"), F.count("*").alias("n"))
        .filter((F.col("total") > BUDGET) & (F.col("n") > 1))
    )
    # only singleton bins (oversized docs) may exceed the budget
    assert over.count() == 0


def test_packing_is_deterministic(spark):
    a = packing.pack_greedy(_tokens(spark), "doc_id", "n_tokens", BUDGET)
    b = packing.pack_greedy(_tokens(spark), "doc_id", "n_tokens", BUDGET)
    rows = lambda df: sorted(tuple(r) for r in df.collect())
    assert rows(a) == rows(b)


def test_packing_beats_one_doc_per_bin(spark):
    """FFD must actually pack: far fewer bins than documents."""
    toks = _tokens(spark)
    packed = packing.pack_greedy(toks, "doc_id", "n_tokens", BUDGET)
    n_bins = packed.select("pack_group", "bin_idx").distinct().count()
    n_docs = toks.count()
    assert n_bins < n_docs * 0.6, (n_bins, n_docs)


def test_packing_carries_extra_columns(spark):
    """Columns beyond (id, tokens) come back row for row, and the bins are
    those of the plain two-column call; an input that already has an
    output column is rejected."""
    toks = _tokens(spark)
    wide = toks.select(
        "*",
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("tag"),
        (F.col("doc_id") / 7.0).alias("score"),
    )
    packed = packing.pack_greedy(wide, "doc_id", "n_tokens", BUDGET)
    assert packed.columns == [
        "doc_id", "n_tokens", "tag", "score", "pack_group", "bin_idx"
    ]
    rows = lambda df, *cols: sorted(tuple(r) for r in df.select(*cols).collect())
    extra = ("doc_id", "tag", "score")
    assert rows(packed, *extra) == rows(wide, *extra)
    plain = packing.pack_greedy(toks, "doc_id", "n_tokens", BUDGET)
    key = ("doc_id", "n_tokens", "pack_group", "bin_idx")
    assert rows(packed, *key) == rows(plain, *key)
    with pytest.raises(ValueError, match="bin_idx"):
        packing.pack_greedy(
            toks.withColumn("bin_idx", F.lit(0)), "doc_id", "n_tokens", BUDGET
        )


def test_incremental_exact_dedup_removes_known_content(spark):
    d = tables(spark, SF)("documents")
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    survived = dedup.incremental_exact_dedup(new, corpus, "text")
    # every survivor's text is genuinely absent from the corpus
    assert (
        survived.join(corpus.select("text").distinct(), "text", "left_semi").count() == 0
    )
    # feeding the corpus against itself removes everything
    assert dedup.incremental_exact_dedup(corpus, corpus, "text").count() == 0


def test_incremental_minhash_catches_exact_dups_and_keeps_novel(spark):
    d = tables(spark, SF)("documents").limit(200)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    # new batch = half novel docs, half literal copies of corpus docs
    copies = corpus.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    novel = d.filter(F.col("doc_id") % 2 == 1)
    new = novel.unionByName(copies)
    survived = dedup.incremental_dedup_minhash(
        new, corpus, "doc_id", "text", jaccard_threshold=0.9
    )
    ids = {r[0] for r in survived.select("doc_id").collect()}
    # all literal copies are caught (Jaccard 1.0 ≥ any threshold)
    assert not any(i >= 1_000_000 for i in ids)
    # novel docs that aren't accidental near-dups survive — at least the
    # exact-level check: any dropped novel doc must be a real near-dup, so
    # just require some survivors
    assert len(ids) > 0


def test_prep_pipeline_invariants(spark):
    """d18: survivors are unique, content-distinct, quality-filtered, and
    every survivor is packed exactly once within budget."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import pipeline
    from pandas_db_sdk_spark.io import tables

    d = tables(spark, SF)("documents")
    out = pipeline.prepare_corpus(d, min_quality=0.5, token_budget=BUDGET)
    n = out.count()
    assert 0 < n <= d.count()
    assert out.select("doc_id").distinct().count() == n
    # no two survivors share identical text (exact dedup held)
    joined = out.join(d, "doc_id")
    assert joined.select("text").distinct().count() == n
    # quality floor held
    assert out.filter(F.col("quality_score") < 0.5).count() == 0
    # bins respect the budget except singletons
    over = (
        out.groupBy("pack_group", "bin_idx")
        .agg(F.sum("n_tokens").alias("t"), F.count("*").alias("c"))
        .filter((F.col("t") > BUDGET) & (F.col("c") > 1))
    )
    assert over.count() == 0


def test_packing_string_ids(spark):
    """Dedup stages emit string ids (uuid/sha); packing must honour the
    input id type instead of forcing int64."""
    toks = _tokens(spark).select(
        F.concat(F.lit("doc-"), F.col("doc_id")).alias("doc_id"), "n_tokens"
    )
    packed = packing.pack_greedy(toks, "doc_id", "n_tokens", BUDGET)
    assert dict(packed.dtypes)["doc_id"] == "string"
    assert packed.count() == toks.count()
    over = (
        packed.filter(F.col("n_tokens") <= BUDGET)
        .groupBy("pack_group", "bin_idx")
        .agg(F.sum("n_tokens").alias("s"))
        .filter(F.col("s") > BUDGET)
        .count()
    )
    assert over == 0


def test_shard_assign_deterministic_balanced_total_order(spark):
    df = _tokens(spark).select("doc_id")
    a = packing.shard_assign(df, "doc_id", 8).collect()
    b = packing.shard_assign(df, "doc_id", 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # reproducible
    from collections import Counter
    sizes = Counter(r.shard for r in a)
    n = len(a)
    assert set(sizes) == set(range(8))
    assert max(sizes.values()) < 2 * n / 8  # multiplicative hash spreads ids
    # shard_pos is a total order 1..size within each shard
    by_shard: dict = {}
    for r in a:
        by_shard.setdefault(r.shard, []).append(r.shard_pos)
    for s, positions in by_shard.items():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # decorrelated from id order: consecutive ids don't share a shard run
    first = {r.doc_id: r.shard for r in a}
    runs = sum(1 for i in sorted(first)[1:] if first[i] == first[i - 1])
    assert runs < n / 4


def test_prep_pipeline_with_decontamination_and_shards(spark):
    from pandas_db_sdk_spark import pipeline
    from pandas_db_sdk_spark.io import tables

    docs = tables(spark, SF)("documents")
    bench = docs.filter(F.col("doc_id") % 100 == 0)
    out = pipeline.prepare_corpus(
        docs, min_quality=0.0, benchmark=bench, n_shards=4
    )
    rows = out.collect()
    assert rows, "pipeline produced no sequences"
    cols = set(out.columns)
    assert {"shard", "shard_pos", "pack_group", "bin_idx"} <= cols
    # benchmark docs overlap themselves -> must be gone
    surviving = {r.doc_id for r in rows}
    assert not any(d % 100 == 0 for d in surviving)
    assert {r.shard for r in rows} <= set(range(4))


def test_prepare_corpus_normalize_collapses_surface_variants(spark):
    """normalize=True: case/punctuation variants of the same content must
    dedup to ONE surviving document (min id), while genuinely different
    texts survive. Quality gate disabled so short fixtures pass through."""
    from pandas_db_sdk_spark import pipeline

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base.upper() + "!!!"),       # same canonical form
            (3, base.replace("  ", " ") + "."),  # same canonical form
            (4, "a completely different document about spark engines here"),
        ],
        "doc_id long, text string",
    )
    out = pipeline.prepare_corpus(
        docs, min_quality=0.0, jaccard_threshold=0.99, token_budget=64,
        normalize=True,
    )
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [1, 4]
    plain = pipeline.prepare_corpus(
        docs, min_quality=0.0, jaccard_threshold=0.99, token_budget=64
    )
    # without normalization the surface variants are distinct exact texts
    assert sorted(r.doc_id for r in plain.collect()) == [1, 2, 3, 4]


def test_waterfill_quota_invariants(spark):
    """Water-filling contracts: allocations never exceed source size, total
    lands within n_sources of the budget (integer caps), small sources are
    uncapped, capped sources share one level."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark.pipeline import waterfill_quota

    df = spark.range(2000).select(
        F.when(F.col("id") < 1200, "a")
        .when(F.col("id") < 1700, "b")
        .when(F.col("id") < 1950, "c")
        .otherwise("d")
        .alias("source")
    )
    out = waterfill_quota(df, "source", 0.4).toPandas().set_index("source")
    budget = int(0.4 * 2000)
    assert (out.allocation <= out.n_docs).all()
    assert budget - len(out) < out.allocation.sum() <= budget
    # 'd' (50 docs) is far below fair share: kept whole
    assert out.loc["d"].allocation == 50
    capped = out[out.allocation < out.n_docs]
    assert capped.allocation.nunique() == 1  # one shared water level


def test_sft_loss_mask_arrays_and_edges(spark):
    """d161 operator contract on hand-checkable pairs: labels are -100
    exactly over prompt positions with response ids verbatim after,
    input_ids line up with the sorted-vocab dense rank, an
    empty-response example masks everything, and repeated separators
    contribute no tokens."""
    from pandas_db_sdk_spark import packing

    pairs = spark.createDataFrame(
        [
            (1, "b a", "c a"),
            (2, "a", ""),          # empty response: all masked
            (3, "c  c", "b"),      # double space: no empty token
        ],
        "doc_id long, prompt string, response string",
    )
    out = {
        r.doc_id: r for r in packing.sft_loss_mask(pairs).collect()
    }
    # vocab sorted: a=1, b=2, c=3
    assert list(out[1].input_ids) == [2, 1, 3, 1]
    assert list(out[1].labels) == [-100, -100, 3, 1]
    assert (out[1].n_tokens, out[1].n_masked) == (4, 2)
    assert list(out[2].input_ids) == [1] and list(out[2].labels) == [-100]
    assert list(out[3].input_ids) == [3, 3, 2]
    assert list(out[3].labels) == [-100, -100, 2]


def test_dpo_pair_prep_contract(spark):
    """d164 operator contract on hand-checkable prompts: chosen/rejected
    are the (score, response) argmax/argmin with the text tie-break,
    degenerate prompts (single candidate, or all candidates identical)
    drop, the margin gate drops low-gap prompts, and joint-pair dedup
    keeps the smallest prompt key."""
    from pandas_db_sdk_spark import packing

    cand = spark.createDataFrame(
        [
            # prompt 1: clear winner/loser + middle candidate
            (1, "great", 3.0), (1, "meh", 2.0), (1, "awful", 1.0),
            # prompt 2: score tie broken by response text (z > a)
            (2, "a", 5.0), (2, "z", 5.0), (2, "bad", 0.0),
            # prompt 3: single candidate -> degenerate, drops
            (3, "only", 4.0),
            # prompt 4: all candidates identical -> chosen==rejected, drops
            (4, "same", 2.0), (4, "same", 7.0),
            # prompts 5 and 6: SAME (chosen, rejected) pair -> dedup keeps 5
            (5, "good", 9.0), (5, "bad", 0.0),
            (6, "good", 8.0), (6, "bad", 1.0),
        ],
        "prompt_id long, response string, score double",
    )
    out = {r.prompt_id: r for r in packing.dpo_pair_prep(cand).collect()}
    assert set(out) == {1, 2, 5}
    assert (out[1].chosen, out[1].rejected) == ("great", "awful")
    assert (out[1].score_chosen, out[1].score_rejected) == (3.0, 1.0)
    assert out[1].n_candidates == 3
    assert (out[2].chosen, out[2].rejected) == ("z", "bad")  # text tie-break
    assert out[5].score_gap == 9.0  # prompt 6's identical pair deduped away
    assert out[5].pair_sha == out[5].pair_sha and len(out[5].pair_sha) == 64

    # margin gate: prompts 5 (gap 9) and 6 (gap 7) survive a margin of 7,
    # prompts 1 (gap 2) and 2 (gap 5) do not -- dedup then keeps 5 over 6
    gated = {
        r.prompt_id
        for r in packing.dpo_pair_prep(cand, margin=7.0).collect()
    }
    assert gated == {5}

    # a NULL-score or NULL-response candidate must not poison its prompt:
    # pre-fix, max(struct) ranked the null as the extremum, score_gap went
    # null, and the gap filter silently dropped the prompt's VALID pair
    # (red before the r13 fix)
    poisoned = spark.createDataFrame(
        [
            (1, "good", 5.0), (1, "bad", 1.0), (1, "unscored", None),
            (2, None, 9.0), (2, "x", 4.0), (2, "y", 2.0),
            (3, "lonely", 3.0), (3, "nul", None),  # degenerate after drop
        ],
        "prompt_id long, response string, score double",
    )
    out2 = {r.prompt_id: r for r in packing.dpo_pair_prep(poisoned).collect()}
    assert set(out2) == {1, 2}
    assert (out2[1].chosen, out2[1].rejected) == ("good", "bad")
    assert out2[1].n_candidates == 2  # scored candidates only
    assert (out2[2].chosen, out2[2].rejected) == ("x", "y")


def test_rejection_sampling_prep_contract(spark):
    """d174 operator contract on hand-checkable prompts: best_response
    is the (score, response) argmax with the text tie-break, kept is a
    FLAG (below-threshold prompts stay in the card), score_std is the
    sample std (NULL for single-candidate prompts), and NULL-scored /
    NULL-response candidates are excluded before aggregation."""
    from pandas_db_sdk_spark import packing

    cand = spark.createDataFrame(
        [
            # prompt 1: clear winner, mean 2.0, std 1.0
            (1, "great", 3.0), (1, "meh", 2.0), (1, "awful", 1.0),
            # prompt 2: score tie broken by response text (z > a)
            (2, "a", 5.0), (2, "z", 5.0),
            # prompt 3: single candidate -> std NULL; below threshold
            (3, "only", 1.0),
            # prompt 4: null score + null response excluded, 1 survivor
            (4, "good", 4.0), (4, "unscored", None), (4, None, 9.0),
        ],
        "prompt_id long, response string, score double",
    )
    out = {
        r.prompt_id: r
        for r in packing.rejection_sampling_prep(
            cand, score_threshold=3.0
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4}  # kept is a flag, nothing drops
    assert (out[1].best_response, out[1].score_best) == ("great", 3.0)
    assert (out[1].score_mean, out[1].score_std) == (2.0, 1.0)
    assert (out[1].n_candidates, out[1].kept) == (3, 1)
    assert out[2].best_response == "z"  # text tie-break at equal scores
    assert (out[3].kept, out[3].score_std) == (0, None)
    assert (out[4].best_response, out[4].n_candidates) == ("good", 1)


def test_multiturn_loss_mask_contract(spark):
    """d176 operator contract on a hand-checkable conversation: labels
    mask every non-assistant token wherever it falls (not just a
    prefix), assistant labels equal their input ids, an UNKNOWN role
    masks (conservative default), empty turns contribute nothing, and
    turn order (not row order) drives the sequence."""
    from pandas_db_sdk_spark import packing

    convs = spark.createDataFrame(
        [
            # conversation 1, rows deliberately out of turn order
            (1, 2, "assistant", "bb cc"),
            (1, 0, "system", "aa"),
            (1, 3, "user", "dd"),
            (1, 4, "assistant", "aa dd"),
            (1, 1, "user", "cc"),
            # conversation 2: unknown role masks; empty turn drops
            (2, 0, "tool", "aa bb"),
            (2, 1, "assistant", "dd"),
            (2, 2, "user", ""),
        ],
        "conv_id long, turn_no int, role string, text string",
    )
    out = {
        r.conv_id: r
        for r in packing.multiturn_loss_mask(convs).collect()
    }
    # vocab is the dense rank over sorted distinct tokens:
    # aa=1 bb=2 cc=3 dd=4
    r1 = out[1]
    assert (r1.n_turns, r1.n_train_turns) == (5, 2)
    assert (r1.n_tokens, r1.n_masked) == (7, 3)
    # turn-major order: aa | cc | bb cc | dd | aa dd
    assert r1.input_ids == [1, 3, 2, 3, 4, 1, 4]
    assert r1.labels == [-100, -100, 2, 3, -100, 1, 4]
    r2 = out[2]
    assert (r2.n_turns, r2.n_train_turns) == (2, 1)  # empty turn gone
    assert r2.input_ids == [1, 2, 4]
    assert r2.labels == [-100, -100, 4]  # unknown role 'tool' masked
