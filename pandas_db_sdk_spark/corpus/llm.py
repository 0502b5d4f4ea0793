"""LLM-data-pipeline operators — SURVEY §2 Tier D (north star).

Queries over `documents` (500×SF rows of tokenizable text) and `embeddings`
(64-dim float vectors with cluster-ish labels). Implementations live in
pandas_db_sdk_spark.{dedup,similarity,text,multimodal}; this module binds
them to oracle-checkable result shapes. Algorithmic ops whose internals are
engine-specific (MinHash banding, SimHash, hyperplane LSH) are rows-only
here and property-tested in tests/.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .. import dedup, multimodal, packing, pipeline, similarity, text
from ._util import registry, tables
from .._localrel import local_rows_df

QUERIES, ORACLE, q = registry()


@q(
    "d01_exact_dedup",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
         FROM documents) WHERE rn = 1""",
)
def d01(spark, sf_dir):
    """D1: exact dedup by content hash, keep lowest doc_id per text."""
    d = tables(spark, sf_dir)("documents")
    return dedup.exact_dedup(d, "text", "doc_id").select("doc_id", "lang")


@q("d02_minhash_lsh")  # rows-only: banding internals are engine-specific
def d02(spark, sf_dir):
    """D2: MinHash-LSH near-dup candidate pairs (verified Jaccard >= 0.5).
    Property test in tests/test_dedup.py proves exact dups always collide."""
    d = tables(spark, sf_dir)("documents")
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
    )


@q("d02d_dedup_corpus")  # rows-only: cluster layout depends on LSH internals
def d02d(spark, sf_dir):
    """D2 end-to-end: MinHash pairs → connected components → keep the min-id
    canonical per cluster (transitivity pinned in tests/test_dedup.py)."""
    d = tables(spark, sf_dir)("documents")
    return dedup.dedup_corpus_minhash(
        d, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
    ).select("doc_id", "lang", "source")


@q("d02b_simhash")  # rows-only: bit-vote signature is hash-family-specific
def d02b(spark, sf_dir):
    """D2: SimHash near-dup pairs (Hamming <= 3 on 64-bit signatures,
    4×16-bit band blocking — no crossJoin)."""
    d = tables(spark, sf_dir)("documents")
    return dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)


@q(
    "d02c_ngram_jaccard",
    """WITH g AS (
         SELECT doc_id,
                list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-2, 1) + 1)]) AS grams
         FROM documents)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                    len(list_distinct(list_concat(a.grams, b.grams))), 6) AS ngram_jaccard
       FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""",
)
def d02c(spark, sf_dir):
    """D2: character-3-gram Jaccard over consecutive-id pairs (bounded,
    oracle-checkable pairing of the set arithmetic used for near-dedup)."""
    d = tables(spark, sf_dir)("documents")
    return dedup.ngram_jaccard_consecutive(d, "doc_id", "text", n=3)


@q(
    "d03_cosine_topk",
    """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 8),
            scored AS (
              SELECT q.query_id, c.vec_id AS neighbor_id,
                     round(
                       list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                       (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                        sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos
              FROM q CROSS JOIN embeddings c)
       SELECT query_id, neighbor_id, cos, rank FROM (
         SELECT query_id, neighbor_id, cos,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos DESC, neighbor_id) AS rank
         FROM scored)
       WHERE rank <= 5""",
)
def d03(spark, sf_dir):
    """D3: brute-force cosine top-5 for 8 query vectors — exact baseline;
    the LSH variant (d03b) is the scale path."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk_bruteforce(queries, e, "vec_id", "vec_id", "embedding", k=5)


@q("d03b_ann_lsh")  # rows-only: hyperplane bucketing is hash-family-specific
def d03b(spark, sf_dir):
    """D3 scale path: hyperplane-LSH approximate top-k (recall measured
    against the exact baseline in tests/test_similarity.py)."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk_lsh(
        queries, e, "vec_id", "vec_id", "embedding", k=5, n_planes=10, n_tables=6
    )


@q("d03d_ann_ivf")  # rows-only: k-means cell layout is init-specific
def d03d(spark, sf_dir):
    """D3 scale path #2: IVF approximate top-k — coarse k-means cells,
    multi-probe, exact rerank. With n_probes == n_centroids it equals the
    brute-force baseline exactly (pinned in tests/test_similarity.py)."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.cosine_topk_ivf(
        queries, e, "vec_id", "vec_id", "embedding", k=5, n_centroids=16, n_probes=4
    )


@q("d03f_ann_pq")  # rows-only: PQ codebook layout is init-specific
def d03f(spark, sf_dir):
    """D3 scale path #3: product-quantization top-k — per-subspace k-means
    codebooks, m-byte codes per vector, JVM-only ADC scoring via a
    broadcast lookup-table join (recall vs brute force pinned in
    tests/test_similarity.py)."""
    from .. import _models
    from .._scratch import scratch_persist

    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)

    # Training + encoding are the INGEST-time steps of PQ (run once per
    # corpus build); the query binding serves from the cached codebooks +
    # persisted code table exactly as a production deployment serves from
    # the written index (max_iter=2: quantizer quality needs no Lloyd
    # convergence; recall pinned with default iterations in tests/).
    def _build():
        books = similarity.pq_train(e, "embedding", m_subspaces=8, n_codes=16, max_iter=2)
        codes = scratch_persist(
            similarity.pq_encode(e, books, "vec_id", "embedding"), "d03f/codes"
        )
        return books, codes

    books, codes = _models.cached_model(e, "d03f/pq", (8, 16, 2), _build)
    return similarity.pq_topk(queries, codes, books, "vec_id", k=5)


@q(
    "d03c_embedding_near_dup",
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
              round(
                list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cos
       FROM embeddings a JOIN embeddings b
            ON a.label = b.label AND a.vec_id < b.vec_id
       WHERE round(
                list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
                (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                 sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) >= 0.35""",
)
def d03c(spark, sf_dir):
    """D2/D3: embedding-cosine near-duplicate pairs, blocked by label (the
    blocking column is the pluggable part — an LSH bucket at scale).
    Threshold 0.35 sits below the testdata's max within-block cosine (~0.5)
    so the check exercises real pairs (26 at sf0.01) — at the old 0.95 the
    green row was a trivially-empty 0 == 0. No pair's rounded cosine falls
    within 4.7e-4 of the threshold, so cross-engine ulp noise cannot flip
    membership."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.near_dup_pairs_by_cosine(e, "vec_id", "embedding", "label", 0.35)


@q(
    "d04_vector_ops",
    """SELECT vec_id,
              round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6) AS l2_norm,
              round(list_sum(embedding::DOUBLE[]), 6) AS v_sum,
              len(embedding) AS dim
       FROM embeddings""",
)
def d04(spark, sf_dir):
    """D4: vector norms/sums via array HOFs (all JVM-side)."""
    e = tables(spark, sf_dir)("embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.round(similarity.l2_norm(emb), 6).alias("l2_norm"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x.cast("double")), 6
        ).alias("v_sum"),
        F.size(emb).alias("dim"),
    )


@q(
    "d05_tfidf",
    """WITH terms AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       tf AS (SELECT doc_id, token, count(*) AS tf FROM terms GROUP BY 1, 2),
       dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1 HAVING count(*) >= 2),
       n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
       SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
              round(tf.tf * (ln((n.n + 1)::DOUBLE / (dfreq.df + 1)) + 1.0), 6) AS tfidf
       FROM tf JOIN dfreq USING (token) CROSS JOIN n""",
)
def d05(spark, sf_dir):
    """D5: TF-IDF (smoothed idf), document frequency broadcast-joined."""
    d = tables(spark, sf_dir)("documents")
    return text.tf_idf(d, "doc_id", "text", min_df=2)


@q(
    "d06_facet_stats",
    """SELECT lang, source, count(*) AS n_docs,
              CAST(sum(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) / count(n_chars) AS avg_chars,
              min(n_chars) AS min_chars, max(n_chars) AS max_chars
       FROM documents GROUP BY lang, source""",
)
def d06(spark, sf_dir):
    """D6: language/source facet stats."""
    d = tables(spark, sf_dir)("documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double") / F.count("n_chars")).alias(
            "avg_chars"
        ),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@q(
    "d07_multimodal",
    """SELECT doc_id,
              octet_length(encode(text)) AS n_bytes,
              sha256(text) AS payload_sha,
              'text/plain' AS modality
       FROM documents""",
)
def d07(spark, sf_dir):
    """D7: multimodal column plumbing — binary payload + typed metadata
    struct; output flattened to scalars for the oracle. The decoder path
    (mapInPandas, deterministic fake) is exercised in tests/."""
    d = tables(spark, sf_dir)("documents")
    m = multimodal.attach_binary_payload(d, "text")
    return m.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.sha256").alias("payload_sha"),
        F.col("media_meta.modality").alias("modality"),
    )


@q(
    "d08_char_stats",
    """SELECT lang,
              count(*) AS n_docs,
              CAST(sum(CAST(length(text) AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS avg_len,
              CAST(sum(CASE WHEN length(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent
       FROM documents GROUP BY lang""",
)
def d08(spark, sf_dir):
    """D8: text length/char stats + n_chars consistency validation."""
    d = tables(spark, sf_dir)("documents")
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.length("text").cast("decimal(18,4)")).cast("double") / F.count("*")).alias(
            "avg_len"
        ),
        F.sum(F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)).alias(
            "n_consistent"
        ),
    )


@q(
    "d09_language_id",
    """WITH toks AS (
         SELECT doc_id, lang,
                list_transform(string_split(text, ' '), t -> lower(t)) AS tk
         FROM documents)
       SELECT doc_id, lang AS actual_lang,
              round(len(list_filter(tk, t -> t IN ('the','and','of','to','a','in','is','that','for','it')))::DOUBLE
                    / greatest(len(tk), 1), 6) AS score_en
       FROM toks""",
)
def d09(spark, sf_dir):
    """North-star language ID: stopword-hit scoring (en score oracle-checked;
    full argmax across 4 lexicons returned by text.language_id, tested in
    tests/test_text.py)."""
    d = tables(spark, sf_dir)("documents")
    scored = text.language_id(d, "text")
    return scored.select("doc_id", F.col("lang").alias("actual_lang"), "score_en")


@q(
    "d10_quality_score",
    """WITH t AS (
         SELECT doc_id, text,
                len(string_split(text, ' ')) AS n_words,
                length(text) AS n_chars,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','and','of','to','a','in','is','that','for','it'))) AS n_stop
         FROM documents)
       SELECT doc_id,
              n_words,
              round(n_chars::DOUBLE / greatest(n_words, 1), 6) AS avg_word_len,
              round(n_punct::DOUBLE / greatest(n_chars, 1), 6) AS punct_ratio,
              round(n_stop::DOUBLE / greatest(n_words, 1), 6) AS stopword_ratio,
              round(
                (CASE WHEN n_words BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END) +
                (CASE WHEN n_chars::DOUBLE / greatest(n_words, 1) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END) +
                (CASE WHEN n_punct::DOUBLE / greatest(n_chars, 1) < 0.2 THEN 0.2 ELSE 0.0 END) +
                (CASE WHEN n_stop::DOUBLE / greatest(n_words, 1) > 0.01 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
       FROM t""",
)
def d10(spark, sf_dir):
    """North-star quality scoring (C4/Gopher-style signals)."""
    d = tables(spark, sf_dir)("documents")
    return text.quality_score(d, "text").select(
        "doc_id", "n_words", "avg_word_len", "punct_ratio", "stopword_ratio", "quality_score"
    )


@q(
    "d11_token_count",
    """SELECT doc_id,
              len(string_split(text, ' ')) AS n_words,
              len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpeish_tokens
       FROM documents""",
)
def d11(spark, sf_dir):
    """North-star token counting: whitespace + BPE-ish regex pieces."""
    d = tables(spark, sf_dir)("documents")
    return text.token_counts(d, "text").select("doc_id", "n_words", "n_bpeish_tokens")


@q(
    "d12_fingerprint",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
       SELECT doc_id,
              list_min([md5(array_to_string(tk[i:i+4], ' '))
                        FOR i IN range(1, greatest(len(tk) - 4, 1) + 1)]) AS fingerprint,
              greatest(len(tk) - 4, 1) AS n_shingles
       FROM tok""",
)
def d12(spark, sf_dir):
    """North-star document fingerprinting: min-md5 over rolling 5-word
    shingles (winnowing-lite) — stable under content moves, no shuffle."""
    d = tables(spark, sf_dir)("documents")
    return text.fingerprint(d, "doc_id", "text", shingle=5)


@q(
    "d13_repetition_ratio",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          g AS (SELECT doc_id,
                       [array_to_string(tk[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)] AS grams
                FROM tok)
       SELECT doc_id,
              round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) /
                    greatest(len(grams), 1), 6) AS repetition_ratio
       FROM g""",
)
def d13(spark, sf_dir):
    """North-star repetition signal (Gopher-style): fraction of 3-word
    shingles that repeat within the document. Per-row HOFs, no shuffle."""
    d = tables(spark, sf_dir)("documents")
    return text.repetition_ratio(d, "text", shingle=3).select(
        "doc_id", "repetition_ratio"
    )


@q(
    "d14_pii_flags",
    """SELECT doc_id,
              len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_emails,
              len(regexp_extract_all(text,
                  '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]')) AS n_phones,
              len(regexp_extract_all(text,
                  '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) AS n_ipv4s,
              (len(regexp_extract_all(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) > 0
               OR len(regexp_extract_all(text,
                  '\\+?[0-9][0-9()\\-\\s]{7,}[0-9]')) > 0
               OR len(regexp_extract_all(text,
                  '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b')) > 0) AS has_pii
       FROM documents""",
)
def d14(spark, sf_dir):
    """North-star PII gating signal: per-document pattern counts
    (emails/phones/IPv4) + a combined flag. One scan, no Python."""
    d = tables(spark, sf_dir)("documents")
    return text.pii_flags(d, "text").select(
        "doc_id", "n_emails", "n_phones", "n_ipv4s", "has_pii"
    )


@q(
    "d15_stratified_sample",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_total, true AS within_tol
       FROM documents WHERE lang IN ('en', 'es', 'fr', 'de')
       GROUP BY lang""",
)
def d15(spark, sf_dir):
    """North-star stratified sampling: per-language fractions via sampleBy —
    the coin flip evaluates in the scan, nothing shuffles.

    Oracle upgrade (VERDICT r2 #6): Bernoulli draws are engine-specific, so
    the HASH-CHECKED result is the statistical contract, not the sample —
    per-stratum totals plus a within_tol flag asserting the realized sample
    fraction sits within 5σ of the requested fraction (binomial σ =
    sqrt(f(1-f)/n); false-alarm < 1e-6 per stratum). The oracle states
    within_tol = true; a broken sampler (wrong fraction, missing stratum,
    unseeded drift) flips the flag and fails the hash compare. The raw
    sample path stays exercised: the check consumes stratified_sample's
    actual output."""
    d = tables(spark, sf_dir)("documents")
    fr = {"en": 0.5, "es": 0.25, "fr": 0.25, "de": 0.25}
    sampled = text.stratified_sample(d, "lang", fr, seed=7)
    totals = (
        d.filter(F.col("lang").isin(*fr))
        .groupBy("lang")
        .agg(F.count("*").alias("n_total"))
    )
    counts = sampled.groupBy("lang").agg(F.count("*").alias("n_samp"))
    frac = F.element_at(
        F.create_map(*[F.lit(x) for kv in fr.items() for x in kv]), F.col("lang")
    )
    realized = F.coalesce(F.col("n_samp"), F.lit(0)) / F.col("n_total")
    tol = F.lit(5.0) * F.sqrt(frac * (F.lit(1.0) - frac) / F.col("n_total"))
    return totals.join(counts, "lang", "left").select(
        "lang", "n_total", (F.abs(realized - frac) <= tol).alias("within_tol")
    )


@q(
    "d03e_dedup_by_embedding",
    """WITH RECURSIVE
       n AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       pr AS (SELECT a.vec_id AS ia, b.vec_id AS ib
              FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
              WHERE round(list_dot_product(a.v, b.v) /
                    (sqrt(list_dot_product(a.v, a.v)) *
                     sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35),
       ed AS (SELECT ia AS s, ib AS d FROM pr
              UNION ALL SELECT ib, ia FROM pr),
       reach(s, d) AS (SELECT s, d FROM ed
                       UNION
                       SELECT r.s, e2.d FROM reach r JOIN ed e2 ON r.d = e2.s),
       lab AS (SELECT s AS id, least(s, min(d)) AS cluster
               FROM reach GROUP BY s)
       SELECT e.vec_id, e.label FROM embeddings e
       WHERE e.vec_id NOT IN (SELECT id FROM lab WHERE id <> cluster)""",
)
def d03e(spark, sf_dir):
    """D2/D3 end-to-end: embedding-cosine near-dup clusters (blocked by
    label) reduced to min-id canonicals; the embedding twin of d02d.

    Oracle upgrade (VERDICT r2 #6): the clustering IS deterministic given
    the pair set (min-id label propagation = connected components), so the
    full pipeline hash-checks against a recursive-CTE transitive closure in
    DuckDB. Threshold 0.35 yields real clusters at sf0.01 (the old 0.95 had
    zero pairs — a vacuous check); boundary margin 4.7e-4 >> ulp noise."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.dedup_corpus_by_embedding(
        e, "vec_id", "embedding", "label", threshold=0.35
    ).select("vec_id", "label")


@q(
    "d16_incremental_dedup",
    """SELECT d.doc_id, d.n_chars FROM documents d
       WHERE d.doc_id % 2 = 1 AND NOT EXISTS (
           SELECT 1 FROM documents c
           WHERE c.doc_id % 2 = 0 AND c.text = d.text)""",
)
def d16(spark, sf_dir):
    """D1 incremental: dedup an incoming batch (odd doc_ids) against the
    already-ingested corpus (even doc_ids) — anti-join on content sha2, the
    shape a production ingest runs per batch. Oracle states it as NOT EXISTS
    on text equality (identical result barring sha256 collisions)."""
    d = tables(spark, sf_dir)("documents")
    new = d.filter(F.col("doc_id") % 2 == 1)
    corpus = d.filter(F.col("doc_id") % 2 == 0)
    return dedup.incremental_exact_dedup(new, corpus, "text").select("doc_id", "n_chars")


@q("d17_sequence_packing")  # rows-only: bin layout is packing-order-specific
def d17(spark, sf_dir):
    """North-star sequence packing: documents → fixed token-budget bins
    (first-fit-decreasing inside hash-salted groups; see packing.py).
    Invariants (every doc exactly once, bin sums <= budget) are asserted in
    tests/test_packing.py."""
    from .. import packing

    d = tables(spark, sf_dir)("documents")
    toks = d.select("doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens"))
    return packing.pack_greedy(toks, "doc_id", "n_tokens", budget=512)


@q(
    "d17b_packing_invariants",
    """SELECT 'n_docs' AS rule, CAST(count(*) AS BIGINT) AS val FROM documents
       UNION ALL
       SELECT 'n_docs_distinct', CAST(count(DISTINCT doc_id) AS BIGINT) FROM documents
       UNION ALL
       SELECT 'sum_tokens', CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM documents
       UNION ALL
       SELECT 'multi_doc_bins_over_budget', CAST(0 AS BIGINT)
       UNION ALL
       SELECT 'oversized_not_singleton', CAST(0 AS BIGINT)""",
)
def d17b(spark, sf_dir):
    """D17 oracle-checkable half (VERDICT r3 item #6): the bin LAYOUT is
    packing-order-specific (d17 stays rows-only), but the packing
    invariants are deterministic and SQL-expressible — emit them as a
    validation frame the DuckDB oracle reproduces from the SOURCE table:

    * ``n_docs`` / ``n_docs_distinct`` — every document appears in the
      packed output exactly once (counts match the source).
    * ``sum_tokens`` — token mass is conserved through packing.
    * ``multi_doc_bins_over_budget`` — no bin holding >1 doc exceeds the
      token budget (oversized docs are allowed alone; expected 0).
    * ``oversized_not_singleton`` — docs larger than the budget always
      sit alone in their bin (expected 0).

    One applyInPandas packing pass + two tiny aggregates over its output;
    the invariant frame is 5 rows regardless of corpus size."""
    d = tables(spark, sf_dir)("documents")
    budget = 512
    toks = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    packed = packing.pack_greedy(toks, "doc_id", "n_tokens", budget=budget)
    bins = packed.groupBy("pack_group", "bin_idx").agg(
        F.sum("n_tokens").alias("bin_tokens"),
        F.count("*").alias("bin_docs"),
        F.max("n_tokens").alias("bin_max_tok"),
    )
    totals = packed.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("doc_id").alias("n_docs_distinct"),
        F.sum("n_tokens").alias("sum_tokens"),
    )
    bin_checks = bins.agg(
        F.sum(
            ((F.col("bin_docs") > 1) & (F.col("bin_tokens") > budget)).cast("long")
        ).alias("over"),
        F.sum(
            ((F.col("bin_max_tok") > budget) & (F.col("bin_docs") > 1)).cast("long")
        ).alias("oversized_shared"),
    )
    # reshape both 1-row aggregates to (rule, val) lazily — the whole
    # validation stays one DataFrame program, no driver action
    totals_long = totals.select(
        F.expr(
            "stack(3, 'n_docs', n_docs, 'n_docs_distinct', n_docs_distinct, "
            "'sum_tokens', sum_tokens) AS (rule, val)"
        )
    )
    checks_long = bin_checks.select(
        F.expr(
            "stack(2, 'multi_doc_bins_over_budget', over, "
            "'oversized_not_singleton', oversized_shared) AS (rule, val)"
        )
    )
    return totals_long.unionAll(checks_long)


@q(
    "d05b_stopword_filter",
    """SELECT doc_id,
              CAST(len(list_filter(string_split(text, ' '),
                       x -> x NOT IN ('the','and','of','to','in','is'))) AS BIGINT) AS n_kept,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_total
       FROM documents""",
)
def d05b(spark, sf_dir):
    """D5: stopword filtering — array HOF filter inside codegen, no explode
    and no Python; the shuffle-free shape token cleanup should take at
    100 TB (explode-then-antijoin would multiply the row count ×tokens)."""
    d = tables(spark, sf_dir)("documents")
    toks = F.split(F.col("text"), " ")
    kept = F.filter(toks, lambda t: ~t.isin("the", "and", "of", "to", "in", "is"))
    return d.select(
        "doc_id",
        F.size(kept).cast("long").alias("n_kept"),
        F.size(toks).cast("long").alias("n_total"),
    )


@q("d18_prep_pipeline")  # rows-only: MinHash internals + bin layout
def d18(spark, sf_dir):
    """North-star composition: the full training-data prep pipeline
    (quality filter → exact dedup → MinHash near-dedup → token counts →
    sequence packing) as ONE DataFrame program — see pipeline.py.
    Invariants asserted in tests/test_packing.py."""
    from .. import pipeline

    d = tables(spark, sf_dir)("documents")
    return pipeline.prepare_corpus(d).select(
        "doc_id", "n_tokens", "pack_group", "bin_idx", "quality_score"
    )


_DUCK_GRAMS = """
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    idx AS (SELECT doc_id, t,
                   unnest(range(1, greatest(len(t) - {m}, 1) + 1)) AS i
            FROM toks),
    grams AS (
        SELECT doc_id, array_to_string(list_slice(t, i, i + {m}), ' ') AS g
        FROM idx
    )
"""


@q(
    "d19_decontaminate",
    """WITH """ + _DUCK_GRAMS.format(m=4) + """,
       bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
       cont AS (SELECT DISTINCT doc_id FROM grams
                WHERE g IN (SELECT g FROM bench))
       SELECT d.doc_id, d.lang,
              CAST(c.doc_id IS NOT NULL AS INT) AS is_contaminated
       FROM documents d LEFT JOIN cont c USING (doc_id)""",
)
def d19(spark, sf_dir):
    """D19 (ext): benchmark decontamination — flag documents sharing any
    word 5-gram with the benchmark set (every 50th doc stands in for an
    eval suite). The benchmark gram-hash set broadcasts (eval suites are
    bounded); corpus grams stream through the semi-join as 8-byte hashes."""
    d = tables(spark, sf_dir)("documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return text.decontaminate(d, bench, "doc_id", "text", n=5).select(
        "doc_id", "lang", F.col("is_contaminated").cast("int").alias("is_contaminated")
    )


@q(
    "d20_top_ngrams",
    """WITH """ + _DUCK_GRAMS.format(m=2) + """
       SELECT g AS ngram, count(*) AS cnt FROM grams
       GROUP BY 1 ORDER BY cnt DESC, ngram LIMIT 20""",
)
def d20(spark, sf_dir):
    """D20 (ext): corpus-wide top-k word trigrams (the n-gram census behind
    boilerplate detection). Deterministic: ties broken by gram text; TopK
    plans as TakeOrderedAndProject (k-row driver merge, no global sort)."""
    d = tables(spark, sf_dir)("documents")
    return text.top_ngrams(d, "text", n=3, k=20)


@q(
    "d21_unigram_logprob",
    """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       counts AS (SELECT token, count(*) AS cnt FROM terms GROUP BY 1),
       tot AS (SELECT sum(cnt) AS total FROM counts),
       lm AS (SELECT token, ln(CAST(cnt AS DOUBLE)) - ln(CAST(total AS DOUBLE)) AS logp
              FROM counts, tot)
       SELECT doc_id, count(*) AS n_tokens, round(avg(logp), 6) AS avg_logprob
       FROM terms JOIN lm USING (token) GROUP BY doc_id""",
)
def d21(spark, sf_dir):
    """D21 (ext): unigram-LM average log-probability per document — the
    cheap perplexity-proxy quality filter, LM trained on the corpus in the
    same job. Vocabulary join carries no broadcast hint (unbounded at
    scale; AQE decides)."""
    d = tables(spark, sf_dir)("documents")
    return text.unigram_logprob(d, "doc_id", "text")


@q(
    "d22_shard_assign",
    """WITH h AS (
           SELECT doc_id, lang,
                  ((doc_id % 1000003) * 2654435761) % 2147483647 AS hh
           FROM documents)
       SELECT doc_id, lang,
              CAST(hh % 8 AS INT) AS shard,
              CAST(row_number() OVER (
                  PARTITION BY hh % 8
                  ORDER BY (hh * 48271) % 2147483647, doc_id) AS INT) AS shard_pos
       FROM h""",
)
def d22(spark, sf_dir):
    """D22 (ext): deterministic global shuffle + shard assignment for
    training-data layout (multiplicative hashing in pure int64 arithmetic —
    reproducible across engines and re-runs). One window shuffle."""
    d = tables(spark, sf_dir)("documents")
    return packing.shard_assign(d.select("doc_id", "lang"), "doc_id", 8)


# ---------------------------------------------------------------------------
# Round 3 D-tier extensions: quality gates, mix rebalancing, percentile
# trims, centroid ops, contamination scoring, normalization.


@q(
    "d23_gopher_quality",
    """WITH t AS (
         SELECT doc_id,
                string_split(text, ' ') AS toks,
                len(string_split(text, ' ')) AS n_words,
                list_sum(list_transform(string_split(text, ' '), w -> length(w))) AS word_chars,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_sym,
                len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','and','of','to','a','in','is','that','for','it'))) AS n_stop
         FROM documents),
       s AS (
         SELECT doc_id, n_words,
                word_chars::DOUBLE / greatest(n_words, 1) AS mwl,
                n_sym::DOUBLE / greatest(n_words, 1) AS symr,
                n_stop
         FROM t)
       SELECT doc_id, n_words,
              round(mwl, 6) AS mean_word_len,
              round(symr, 6) AS symbol_ratio,
              n_stop AS n_stopwords,
              CAST(n_words BETWEEN 50 AND 100000 AS INT) AS rule_word_count,
              CAST(mwl BETWEEN 3.0 AND 10.0 AS INT) AS rule_mean_word_len,
              CAST(symr < 0.1 AS INT) AS rule_symbol_ratio,
              CAST(n_stop >= 2 AS INT) AS rule_stopwords,
              CAST(n_words BETWEEN 50 AND 100000
                   AND mwl BETWEEN 3.0 AND 10.0
                   AND symr < 0.1
                   AND n_stop >= 2 AS INT) AS passes_gopher
       FROM s""",
)
def d23(spark, sf_dir):
    """D-ext: Gopher-style hard quality gates (word-count band, mean word
    length band, symbol ratio cap, minimum stopword hits) — the boolean
    drop-filter stage; d10 is the soft-score twin."""
    d = tables(spark, sf_dir)("documents")
    return text.gopher_rules(d, "doc_id", "text")


@q(
    "d24_domain_mix_weights",
    """WITH counts AS (
         SELECT source, count(*) AS cnt FROM documents GROUP BY source),
       tot AS (SELECT sum(cnt) AS total, count(*) AS n_facets FROM counts)
       SELECT c.source, c.cnt,
              round(c.cnt / t.total, 6) AS actual_frac,
              round(1.0 / t.n_facets, 6) AS target_frac,
              round((1.0 / t.n_facets) / (c.cnt / t.total), 6) AS weight
       FROM counts c, tot t""",
)
def d24(spark, sf_dir):
    """D-ext: training-mix rebalancing weights toward a uniform source
    distribution — two tiny aggregates + a 1-row crossJoin, size-independent."""
    d = tables(spark, sf_dir)("documents")
    return text.domain_mix_weights(d, "source")


@q(
    "d25_length_percentile_filter",
    """WITH p AS (SELECT quantile_cont(n_chars, 0.05) AS plo,
                         quantile_cont(n_chars, 0.95) AS phi
                  FROM documents)
       SELECT d.doc_id, d.lang, d.source, d.n_chars
       FROM documents d, p
       WHERE d.n_chars BETWEEN p.plo AND p.phi""",
)
def d25(spark, sf_dir):
    """D-ext: trim length-outlier documents outside exact [P5, P95] —
    truncated fragments and concatenation blobs.  Exact interpolated
    percentile in both engines keeps the cut oracle-checkable."""
    d = tables(spark, sf_dir)("documents")
    return text.length_percentile_filter(d, "n_chars").select(
        "doc_id", "lang", "source", "n_chars"
    )


@q(
    "d26_embedding_centroids",
    """SELECT e.label, t.i - 1 AS pos,
              round(CAST(sum(CAST(e.embedding[t.i]::DOUBLE AS DECIMAL(28,10))) AS DOUBLE)
                    / count(*), 6) AS centroid
       FROM embeddings e, range(1, 65) t(i)
       GROUP BY e.label, t.i
       ORDER BY e.label, pos""",
)
def d26(spark, sf_dir):
    """D-ext: per-label mean embedding (class prototypes) in long form.
    Decimal-exact sums make the mean bit-deterministic under partial
    aggregation."""
    e = tables(spark, sf_dir)("embeddings")
    return (
        similarity.label_centroids(e, "label", "embedding")
        .select("label", "pos", F.round("centroid", 6).alias("centroid"))
        .orderBy("label", "pos")
    )


@q(
    "d27_nearest_centroid",
    """WITH cent AS (
         SELECT e.label AS clabel, t.i,
                CAST(sum(CAST(e.embedding[t.i]::DOUBLE AS DECIMAL(28,10))) AS DOUBLE)
                  / count(*) AS c
         FROM embeddings e, range(1, 65) t(i)
         GROUP BY e.label, t.i),
       dists AS (
         SELECT e.vec_id, c.clabel,
                CAST(sum(CAST((e.embedding[c.i]::DOUBLE - c.c)
                              * (e.embedding[c.i]::DOUBLE - c.c)
                              AS DECIMAL(28,10))) AS DOUBLE) AS dist
         FROM embeddings e, cent c
         GROUP BY e.vec_id, c.clabel),
       ranked AS (
         SELECT vec_id, clabel, dist,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY dist, clabel) AS rn
         FROM dists)
       SELECT vec_id, clabel AS nearest_label, round(dist, 6) AS dist
       FROM ranked WHERE rn = 1""",
)
def d27(spark, sf_dir):
    """D-ext: nearest-centroid assignment (squared L2 against class
    prototypes) — semantic-dedup bucketing / 1-NN prototype classifier.
    Per-element double ops + decimal-exact sums ⇒ deterministic argmin."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.assign_nearest_centroid(e, "vec_id", "label", "embedding")


@q(
    "d28_similarity_histogram",
    """WITH v AS (SELECT label, vec_id, embedding::DOUBLE[] AS ve FROM embeddings),
       pairs AS (
         SELECT list_dot_product(a.ve, b.ve)
                / (sqrt(list_dot_product(a.ve, a.ve)) * sqrt(list_dot_product(b.ve, b.ve)))
                  AS cos
         FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id)
       SELECT CAST(floor(cos * 10) AS INT) AS bucket, count(*) AS n_pairs
       FROM pairs GROUP BY bucket""",
)
def d28(spark, sf_dir):
    """D-ext: blocked pairwise cosine-similarity histogram — the
    threshold-picking diagnostic before near-dup cutoffs.  Block-scoped
    pair join (Σ block², never n²), hoisted norms, JVM dot products."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.similarity_histogram(e, "label", "vec_id", "embedding")


@q(
    "d29_contamination_score",
    """WITH """ + _DUCK_GRAMS.format(m=4) + """,
       dg AS (SELECT DISTINCT doc_id, g FROM grams),
       bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0)
       SELECT dg.doc_id,
              count(*) AS n_grams,
              CAST(sum(CAST(bench.g IS NOT NULL AS INT)) AS BIGINT) AS n_contaminated,
              round(sum(CAST(bench.g IS NOT NULL AS INT))::DOUBLE / count(*), 6)
                  AS contamination
       FROM dg LEFT JOIN bench ON dg.g = bench.g
       GROUP BY dg.doc_id""",
)
def d29(spark, sf_dir):
    """D-ext: graded contamination — fraction of each document's distinct
    5-grams appearing in the benchmark set (every 50th doc stands in).
    The thresholdable version of d19's any-hit boolean."""
    d = tables(spark, sf_dir)("documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return text.contamination_score(d, bench, "doc_id", "text", n=5)


@q(
    "d30_text_normalize",
    """SELECT doc_id,
              trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS norm_text,
              md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g'))) AS norm_hash
       FROM documents""",
)
def d30(spark, sf_dir):
    """D-ext: canonical normalization (lowercase → strip symbols →
    collapse whitespace) + md5 dedup key — the pre-hash step of content
    dedup.  Pure regexp codegen, zero shuffle."""
    d = tables(spark, sf_dir)("documents")
    return text.normalize_text(d, "doc_id", "text")


@q("d31_semantic_dedup")  # rows-only: k-means cell layout is seed/algorithm-specific
def d31(spark, sf_dir):
    """D-ext: unsupervised semantic dedup — k-means soft blocking (2 nearest
    cells) → within-block cosine pairs → connected components → min-id
    canonicals. The label-free twin of d03e; invariants (exact dups always
    collapse, distinct vectors survive) pinned in tests/test_similarity.py."""
    from .. import _models

    e = tables(spark, sf_dir)("embeddings")
    # max_iter=2: blocking k-means only needs rough cells — recall safety
    # comes from the 2-nearest-cell soft assignment, not Lloyd convergence.
    # Cell count scales ~sqrt(corpus) so the pair join stays ~n^1.5, not
    # n²/16. The blocking model is an ingest-time artifact: cache it per
    # (corpus plan, params) so repeated invocations skip the training jobs
    # entirely (semantic-hash + sameSemantics keyed — changed input
    # retrains, _models.py).
    n_cells = similarity.adaptive_cell_count(e.count())
    cents = _models.cached_model(
        e, "d31/centroids", ("embedding", n_cells, 2, 42),
        lambda: similarity._kmeans_centroids(e, "embedding", n_cells, 2, 42),
    )
    return similarity.semantic_dedup(
        e, "vec_id", "embedding", threshold=0.98,
        centroids=cents,
    ).select("vec_id", "label")


@q("d03g_ann_ivf_pq")  # rows-only: cell/codebook layout is seed-specific
def d03g(spark, sf_dir):
    """D3 scale path #4: IVF-PQ — coarse cells restrict candidates, PQ
    codes score them (the billion-vector production ANN layout). Probe
    cutoff is the only approximation over plain PQ (parity pinned in
    tests/test_similarity.py)."""
    from .. import _models
    from .._scratch import scratch_persist

    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)

    # The inverted file is built ONCE per corpus (at 100 TB it is written
    # partitioned by cid and served to every query); the query binding
    # models that: the (centroids, codebooks, encoded index) triple is
    # cached per (corpus plan, params) and the code table persists via the
    # scratch pool — repeated queries pay only the probe + ADC join.
    # max_iter=2 on both quantizers: coarse cells and PQ codebooks are
    # approximations by design — two Lloyd passes buy nearly all the
    # recall (self-retrieval + parity pinned in tests).
    def _build():
        cent, books, index = similarity.ivf_pq_index(
            e, "vec_id", "embedding", n_centroids=16, m_subspaces=8, n_codes=16,
            max_iter=2,
        )
        return cent, books, scratch_persist(index, "d03g/index")

    cent, books, index = _models.cached_model(e, "d03g/ivf_pq", (16, 8, 16, 2), _build)
    return similarity.ivf_pq_topk(
        queries, cent, books, index, "vec_id", k=5, n_probes=4
    )


# ---------------------------------------------------------------- round 4


@q(
    "d32_vocab_per_source",
    """SELECT source, CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab,
              CAST(count(*) AS BIGINT) AS n_tokens,
              round(count(DISTINCT tok) / count(*), 6) AS type_token_ratio
       FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents)
       GROUP BY source""",
)
def d32(spark, sf_dir):
    """D5-ext: vocabulary size / type-token ratio per source — the
    vocabulary-growth diagnostic run before tokenizer training (a source
    whose TTR collapses is boilerplate; one that explodes is noise).
    Explode → one partial+final agg; the distinct-count shuffles 8-byte
    token hashes per (source, token), never document text."""
    d = tables(spark, sf_dir)("documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("tok"))
    return toks.groupBy("source").agg(
        F.countDistinct("tok").alias("n_vocab"),
        F.count("*").alias("n_tokens"),
        F.round(F.countDistinct("tok") / F.count("*"), 6).alias("type_token_ratio"),
    )


@q(
    "d33_token_truncate",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(CASE WHEN len(string_split(text, ' ')) > 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated,
              CAST(sum(least(len(string_split(text, ' ')), 64)) AS BIGINT) AS kept_tokens,
              CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
       FROM documents GROUP BY source""",
)
def d33(spark, sf_dir):
    """D-ext: context-budget truncation audit — per source, how many docs
    exceed a 64-token budget and how much token mass survives truncation
    (the sizing pass before fixing a training sequence length). Pure
    scan→project→agg, zero extra shuffle beyond the facet re-key."""
    d = tables(spark, sf_dir)("documents")
    n = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((n > 64).cast("long")).alias("n_truncated"),
        F.sum(F.least(n, F.lit(64)).cast("long")).alias("kept_tokens"),
        F.sum(n.cast("long")).alias("total_tokens"),
    )


@q(
    "d34_length_buckets",
    """SELECT (len(string_split(text, ' ')) // 50) * 50 AS bucket,
              CAST(count(*) AS BIGINT) AS n_docs,
              round(CAST(sum(len(string_split(text, ' '))) AS BIGINT) / count(*), 6) AS avg_tokens
       FROM documents GROUP BY bucket""",
)
def d34(spark, sf_dir):
    """D8-ext: document-length histogram in 50-token buckets (the
    length-distribution look every corpus intake starts with). Integer
    bucket arithmetic — no float boundary ambiguity — and exact integer
    sums make the average deterministic under any partitioning."""
    d = tables(spark, sf_dir)("documents")
    n = F.size(F.split("text", " "))
    return (
        d.select((F.floor(n / 50) * 50).cast("long").alias("bucket"), n.alias("__n"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.sum(F.col("__n").cast("long")) / F.count("*"), 6).alias("avg_tokens"),
        )
    )


@q(
    "d35_dup_rate_by_source",
    """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(count(DISTINCT text) AS BIGINT) AS n_unique,
              round(1.0 - count(DISTINCT text) / count(*), 6) AS dup_rate
       FROM documents GROUP BY source""",
)
def d35(spark, sf_dir):
    """D1-ext: exact-duplicate rate per source facet — the contamination
    scoreboard that decides which sources need aggressive dedup. The
    distinct-count re-keys on (source, sha-sized text hash) internally;
    at 100 TB swap text for sha2(text) explicitly to shuffle 32-byte keys
    (same result, d01's trick) — here the built-in keeps the oracle
    1:1."""
    d = tables(spark, sf_dir)("documents")
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("text").alias("n_unique"),
        F.round(F.lit(1.0) - F.countDistinct("text") / F.count("*"), 6).alias("dup_rate"),
    )


@q(
    "d36_centroid_outliers",
    """WITH u AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS val,
                         generate_subscripts(embedding, 1) AS pos
                  FROM embeddings),
         m AS (SELECT pos, CAST(sum(CAST(val AS DECIMAL(28,10))) AS DOUBLE) / count(*) AS mu
               FROM u GROUP BY pos),
         d AS (SELECT vec_id,
                      round(sqrt(CAST(sum(CAST((val - mu) * (val - mu) AS DECIMAL(28,12))) AS DOUBLE)), 6) AS dist
               FROM u JOIN m USING (pos) GROUP BY vec_id),
         s AS (SELECT CAST(sum(CAST(dist AS DECIMAL(28,10))) AS DOUBLE) AS sm,
                      CAST(sum(CAST(dist * dist AS DECIMAL(28,10))) AS DOUBLE) AS sq,
                      count(*) AS c
               FROM d)
       SELECT vec_id, dist, CAST(abs((dist - sm / c) / sqrt((sq - sm * sm / c) / (c - 1))) > 2 AS INT) AS is_outlier
       FROM d, s""",
)
def d36(spark, sf_dir):
    """D4-ext: embedding outliers by distance from the global centroid —
    the intake gate that catches corrupt/degenerate vectors (the corpus is
    unit-normalized, so NORM-based gating is blind; distance from the mean
    vector is the discriminating signal). Per-dimension means come from
    one posexplode partial agg with exact decimal sums; squared diffs sum
    through decimals too, so the distance — and the >2σ flag computed from
    decimal-summed moments — is bit-deterministic under any partitioning.
    The 64-row mean table and the 1-row stats frame both broadcast."""
    e = tables(spark, sf_dir)("embeddings")
    u = e.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "val")
    )
    m = u.groupBy("pos").agg(
        (F.sum(F.col("val").cast("decimal(28,10)")).cast("double") / F.count("*")).alias("mu")
    )
    diff2 = ((F.col("val") - F.col("mu")) * (F.col("val") - F.col("mu"))).cast(
        "decimal(28,12)"
    )
    d = (
        u.join(F.broadcast(m), "pos")
        .groupBy("vec_id")
        .agg(F.round(F.sqrt(F.sum(diff2).cast("double")), 6).alias("dist"))
    )
    s = d.agg(
        F.sum(F.col("dist").cast("decimal(28,10)")).cast("double").alias("sm"),
        F.sum((F.col("dist") * F.col("dist")).cast("decimal(28,10)")).cast("double").alias("sq"),
        F.count("*").alias("c"),
    )
    z = F.abs(
        (F.col("dist") - F.col("sm") / F.col("c"))
        / F.sqrt((F.col("sq") - F.col("sm") * F.col("sm") / F.col("c")) / (F.col("c") - 1))
    )
    return d.crossJoin(F.broadcast(s)).select(
        "vec_id", "dist", (z > 2).cast("int").alias("is_outlier")
    )


@q(
    "d37_intra_label_cosine",
    """WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS ev FROM embeddings)
       SELECT a.label, CAST(count(*) AS BIGINT) AS n_pairs,
              round(CAST(sum(CAST(round(list_cosine_similarity(a.ev, b.ev), 6) AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) AS avg_cos
       FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
       GROUP BY a.label""",
)
def d37(spark, sf_dir):
    """D3-ext: intra-label cohesion — average pairwise cosine within each
    label (the cluster-quality diagnostic before trusting labels as dedup
    blocks or routing cells). Pair generation is the Σ block² equi-join
    contract (never n²); per-pair cosines round to 6 dp and sum through
    an exact decimal, so the block average is partitioning-independent."""
    from ..similarity import dot, l2_norm

    e = tables(spark, sf_dir)("embeddings")
    v = F.col("embedding").cast("array<double>")
    side = e.select(F.col("label"), F.col("vec_id"), v.alias("__v")).withColumn(
        "__n", l2_norm(F.col("__v"))
    )
    a = side.select("label", F.col("vec_id").alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na"))
    b = side.select("label", F.col("vec_id").alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb"))
    cos = F.round(dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6)
    return (
        a.join(b, "label")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("label", cos.alias("__cos"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_pairs"),
            F.round(
                F.sum(F.col("__cos").cast("decimal(18,6)")).cast("double") / F.count("*"), 6
            ).alias("avg_cos"),
        )
    )


@q(
    "d38_hard_negatives",
    """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding::DOUBLE[] AS qv
                  FROM embeddings WHERE vec_id < 8),
            c AS (SELECT vec_id AS neighbor_id, label AS cl, embedding::DOUBLE[] AS cv
                  FROM embeddings)
       SELECT query_id, neighbor_id, cos, rank FROM (
         SELECT q.query_id, c.neighbor_id,
                round(list_cosine_similarity(q.qv, c.cv), 6) AS cos,
                row_number() OVER (PARTITION BY q.query_id
                                   ORDER BY round(list_cosine_similarity(q.qv, c.cv), 6) DESC,
                                            c.neighbor_id) AS rank
         FROM q JOIN c ON q.ql != c.cl)
       WHERE rank <= 3""",
)
def d38(spark, sf_dir):
    """D3-ext: hard-negative mining — per query vector, the top-3
    most-similar vectors with a DIFFERENT label (what a contrastive loss
    trains against). Broadcast-BNLJ with the tiny query side as build;
    the corpus never shuffles before the per-query top-k window."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)
    return similarity.hard_negatives(
        queries, e, "vec_id", "vec_id", label_col="label", k=3
    )


@q(
    "d39_gram_doc_frequency",
    """WITH """ + _DUCK_GRAMS.format(m=2) + """
       SELECT g AS ngram, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
       FROM grams GROUP BY 1 ORDER BY doc_freq DESC, ngram LIMIT 20""",
)
def d39(spark, sf_dir):
    """D20-ext: top word-trigrams by DOCUMENT frequency (how many distinct
    docs contain the gram — the boilerplate census proper: a gram in 40%
    of documents is template text even if its raw count is modest). One
    explode → per-doc distinct → count; TakeOrdered top-k, no global
    sort."""
    d = tables(spark, sf_dir)("documents")
    grams = d.select(
        "doc_id", F.explode(text.word_ngrams(F.col("text"), 3)).alias("ngram")
    ).distinct()
    return (
        grams.groupBy("ngram")
        .agg(F.count("*").alias("doc_freq"))
        .orderBy(F.col("doc_freq").desc(), "ngram")
        .limit(20)
    )


@q(
    "d40_dedup_keep_longest",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang, row_number() OVER (
             PARTITION BY array_to_string(list_slice(string_split(text, ' '), 1, 10), ' ')
             ORDER BY len(string_split(text, ' ')) DESC, doc_id) AS rn
         FROM documents) WHERE rn = 1""",
)
def d40(spark, sf_dir):
    """D1-ext: prefix-fingerprint dedup with a keep-LONGEST policy — group
    documents by their first-10-token fingerprint (truncation variants and
    elaborated rewrites share a prefix) and keep the most complete
    representative instead of d01's arbitrary min-id. One window re-key on
    the fingerprint; at 100 TB hash the prefix (xxhash64) so the shuffle
    key is 8 bytes, not text — here the raw prefix keeps the oracle 1:1."""
    d = tables(spark, sf_dir)("documents")
    toks = F.split("text", " ")
    fp = F.array_join(F.slice(toks, 1, 10), " ")
    w = Window.partitionBy(fp).orderBy(F.size(toks).desc(), "doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


@q(
    "d02e_lsh_guarantees",
    """SELECT 'exact_dup_pairs_found' AS rule,
              CAST(COALESCE(sum(n * (n - 1) / 2), 0) AS BIGINT) AS val
       FROM (SELECT count(*) AS n FROM documents GROUP BY text)
       WHERE n > 1
       UNION ALL
       SELECT 'below_threshold_violations', CAST(0 AS BIGINT)
       UNION ALL
       SELECT 'simhash_exact_dup_pairs_found',
              CAST(COALESCE(sum(n * (n - 1) / 2), 0) AS BIGINT)
       FROM (SELECT count(*) AS n FROM documents GROUP BY text)
       WHERE n > 1""",
)
def d02e(spark, sf_dir):
    """D2 certification frame: the HARD guarantees of the near-dup stack,
    hash-checked (the pair SETS stay rows-only — they are recall-
    dependent — but these invariants are exact):

    * MinHash-LSH finds every exact-duplicate pair — identical texts
      yield identical signatures, which collide in every band and verify
      at Jaccard 1.0; the oracle computes the expected pair count
      Σ C(n,2) from the source table itself.
    * no reported pair falls below the verification threshold (the
      reported jaccard is always the exact set overlap).
    * SimHash finds every exact-duplicate pair too — identical texts
      yield identical 64-bit signatures (Hamming 0), which share every
      16-bit block key.
    """
    d = tables(spark, sf_dir)("documents")
    texts = d.select(F.col("doc_id"), F.col("text"))

    def eq_text_pairs(pairs):
        return (
            pairs.join(
                texts.select(F.col("doc_id").alias("id_a"), F.col("text").alias("__ta")),
                "id_a",
            )
            .join(
                texts.select(F.col("doc_id").alias("id_b"), F.col("text").alias("__tb")),
                "id_b",
            )
        )

    mh = eq_text_pairs(
        dedup.minhash_lsh_pairs(
            d, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
        )
    ).agg(
        F.sum((F.col("__ta") == F.col("__tb")).cast("long")).alias("eq"),
        F.sum((F.col("jaccard") < 0.5).cast("long")).alias("below"),
    )
    sh = eq_text_pairs(
        dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    ).agg(F.sum((F.col("__ta") == F.col("__tb")).cast("long")).alias("eq"))

    left = mh.select(
        F.expr(
            "stack(2, 'exact_dup_pairs_found', coalesce(eq, 0), "
            "'below_threshold_violations', coalesce(below, 0)) AS (rule, val)"
        )
    )
    right = sh.select(
        F.lit("simhash_exact_dup_pairs_found").alias("rule"),
        F.coalesce(F.col("eq"), F.lit(0)).alias("val"),
    )
    return left.unionAll(right)


@q(
    "d03h_ann_self_retrieval",
    """SELECT 'lsh_top1_self' AS tier, CAST(count(*) AS BIGINT) AS n_self
       FROM embeddings WHERE vec_id < 8
       UNION ALL
       SELECT 'ivf_top1_self', CAST(count(*) AS BIGINT)
       FROM embeddings WHERE vec_id < 8
       UNION ALL
       SELECT 'pq_self_in_top5', CAST(count(*) AS BIGINT)
       FROM embeddings WHERE vec_id < 8
       UNION ALL
       SELECT 'ivfpq_self_in_top5', CAST(count(*) AS BIGINT)
       FROM embeddings WHERE vec_id < 8""",
)
def d03h(spark, sf_dir):
    """D3 certification frame: self-retrieval across all four ANN tiers,
    hash-checked (the neighbor LISTS stay rows-only — bucketing is
    algorithm-specific — but a query vector that exists in the corpus
    must come back):

    * LSH / IVF rerank candidates with EXACT cosine, and the query's own
      cell/buckets always contain it → rank-1 is self, per query.
    * PQ / IVF-PQ score by quantized distance (self's ADC distance is
      its quantization error, not 0), so the guarantee is containment in
      the top-5, not rank-1.

    The oracle states the expected count (all 8 queries) per tier from
    the source table."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") < 8)

    lsh = similarity.cosine_topk_lsh(
        queries, e, "vec_id", "vec_id", "embedding", k=5, n_planes=10, n_tables=6
    )
    ivf = similarity.cosine_topk_ivf(
        queries, e, "vec_id", "vec_id", "embedding", k=5, n_centroids=16, n_probes=4
    )

    from .. import _models
    from .._scratch import scratch_persist

    def _build():
        books = similarity.pq_train(e, "embedding", m_subspaces=8, n_codes=16, max_iter=2)
        codes = scratch_persist(
            similarity.pq_encode(e, books, "vec_id", "embedding"), "d03f/codes"
        )
        return books, codes

    books, codes = _models.cached_model(e, "d03f/pq", (8, 16, 2), _build)
    pq = similarity.pq_topk(queries, codes, books, "vec_id", k=5)

    def _build_ivfpq():
        cent, bks, index = similarity.ivf_pq_index(
            e, "vec_id", "embedding", n_centroids=16, m_subspaces=8, n_codes=16,
            max_iter=2,
        )
        return cent, bks, scratch_persist(index, "d03g/index")

    cent, bks, index = _models.cached_model(e, "d03g/ivf_pq", (16, 8, 16, 2), _build_ivfpq)
    ivfpq = similarity.ivf_pq_topk(queries, cent, bks, index, "vec_id", k=5, n_probes=4)

    def self_count(df, rank_col, top1_only, label):
        cond = F.col("query_id") == F.col("neighbor_id")
        if top1_only:
            cond = cond & (F.col(rank_col) == 1)
        return df.filter(cond).agg(
            F.lit(label).alias("tier"), F.count("*").alias("n_self")
        )

    return (
        self_count(lsh, "rank", True, "lsh_top1_self")
        .unionAll(self_count(ivf, "rank", True, "ivf_top1_self"))
        .unionAll(self_count(pq, "rn", False, "pq_self_in_top5"))
        .unionAll(self_count(ivfpq, "rn", False, "ivfpq_self_in_top5"))
    )


@q(
    "d18b_pipeline_invariants",
    """SELECT 'docs_not_in_source' AS rule, CAST(0 AS BIGINT) AS val
       UNION ALL SELECT 'duplicate_doc_ids', CAST(0 AS BIGINT)
       UNION ALL SELECT 'duplicate_texts_in_output', CAST(0 AS BIGINT)
       UNION ALL SELECT 'below_quality_gate', CAST(0 AS BIGINT)
       UNION ALL SELECT 'multi_doc_bins_over_budget', CAST(0 AS BIGINT)""",
)
def d18b(spark, sf_dir):
    """D18 certification frame: the prep pipeline's output SET is
    algorithm-dependent (near-dedup recall — d18 stays rows-only), but
    its CONTRACT is exact and hash-checked: every surviving doc exists in
    the source, ids are unique, no two survivors share a text (the exact
    stage ran), every survivor clears the quality gate, and no multi-doc
    bin exceeds the token budget. Violation counters computed Spark-side
    must all be zero."""
    from .. import pipeline, text as text_mod

    d = tables(spark, sf_dir)("documents")
    out = pipeline.prepare_corpus(d, min_quality=0.5, token_budget=512)
    j = out.join(d.select("doc_id", "text"), "doc_id", "left")

    not_in_source = out.join(d.select("doc_id"), "doc_id", "left_anti").count()
    dup_ids = out.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    dup_texts = (
        j.groupBy("text").count().filter(F.col("count") > 1).count()
    )
    below_gate = out.filter(F.col("quality_score") < 0.5).count()
    over_budget = (
        out.groupBy("pack_group", "bin_idx")
        .agg(F.sum("n_tokens").alias("s"), F.count("*").alias("c"))
        .filter((F.col("c") > 1) & (F.col("s") > 512))
        .count()
    )
    rows = [
        ("docs_not_in_source", not_in_source),
        ("duplicate_doc_ids", dup_ids),
        ("duplicate_texts_in_output", dup_texts),
        ("below_quality_gate", below_gate),
        ("multi_doc_bins_over_budget", over_budget),
    ]
    return local_rows_df(spark, rows, "rule string, val long")


@q(
    "d41_chunk_documents",
    """WITH words AS (
         SELECT doc_id, string_split(text, ' ') AS w FROM documents
       ), spans AS (
         SELECT doc_id, w,
                unnest(range(1, greatest(len(w), 1) + 1, 40)) AS i
         FROM words
       )
       SELECT doc_id,
              CAST((i - 1) // 40 AS INT) AS chunk_idx,
              CAST(least(50, len(w) - i + 1) AS INT) AS n_chunk_tokens,
              array_to_string(list_slice(w, i, i + 49), ' ') AS chunk
       FROM spans""",
)
def d41(spark, sf_dir):
    """D-ext: token-window chunking — split every document into 50-token
    training windows with 10-token overlap (step 40); the final window is
    shorter where the tail runs out. sequence/slice/array_join HOFs only:
    a pure codegen map over the corpus, zero shuffle at any scale."""
    d = tables(spark, sf_dir)("documents")
    out = text.chunk_documents(d, "doc_id", "text", window=50, step=40)
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("n_chunk_tokens").cast("int").alias("n_chunk_tokens"),
        "chunk",
    )


@q(
    "d42_source_quota_sample",
    """WITH counts AS (
         SELECT source, count(*) AS nf FROM documents GROUP BY 1
       ), tot AS (SELECT count(*) AS t FROM documents),
       quotas AS (
         SELECT source, greatest(1, (500::HUGEINT * nf) // t) AS q
         FROM counts, tot
       ), ranked AS (
         SELECT doc_id, source, lang,
                row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
         FROM documents
       )
       SELECT doc_id, source, lang
       FROM ranked r JOIN quotas USING (source) WHERE rn <= q""",
)
def d42(spark, sf_dir):
    """D-ext: deterministic quota subsample — 500 slots allocated across
    sources proportionally (exact decimal div, floor 1 per source), each
    source contributing its lowest-doc_id rows. The auditable sampling
    tier: the selected id set is engine-independent, unlike seeded
    sample(). One facet-count aggregate broadcast back + one per-facet
    window re-key."""
    d = tables(spark, sf_dir)("documents")
    return pipeline.source_quota_sample(d, 500).select("doc_id", "source", "lang")


@q(
    "d43_train_split",
    """SELECT doc_id, source,
              CASE WHEN substr(md5(doc_id::VARCHAR || ':0'), 1, 4) < 'cccc' THEN 'train'
                   WHEN substr(md5(doc_id::VARCHAR || ':0'), 1, 4) < 'e666' THEN 'val'
                   ELSE 'test' END AS split
       FROM documents""",
)
def d43(spark, sf_dir):
    """D-ext: deterministic train/val/test split — 80/10/10 by md5 bucket
    of the key (4 hex chars = 65536 buckets vs precomputed boundaries).
    Assignment is engine- and layout-independent (unlike randomSplit) and
    stable as the corpus grows: a key's split never flips between runs, so
    checkpoints can't leak test docs into train. Pure per-row codegen —
    zero shuffle."""
    d = tables(spark, sf_dir)("documents")
    return pipeline.hash_split(d, "doc_id", (0.8, 0.1), salt="0").select(
        "doc_id", "source", "split"
    )


@q(
    "d44_pii_redact",
    r"""WITH p AS (
         SELECT doc_id,
                text || ' contact user' || doc_id::VARCHAR || '@example.com ip 10.0.0.' ||
                (doc_id % 256)::VARCHAR || ' tel +1555010' ||
                lpad((doc_id % 100)::VARCHAR, 2, '0') AS t
         FROM documents)
       SELECT doc_id,
              len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
              len(regexp_extract_all(t, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS n_ipv4s,
              len(regexp_extract_all(t, '\+?[0-9][0-9()\-\s]{7,}[0-9]')) AS n_phones,
              regexp_replace(regexp_replace(regexp_replace(t,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
                  '\+?[0-9][0-9()\-\s]{7,}[0-9]', '<PHONE>', 'g') AS redacted
       FROM p""",
)
def d44(spark, sf_dir):
    """D-ext: PII redaction (write path of d14's flags) — emails/IPv4s/
    phones replaced in place with typed placeholders, per-category counts
    from the pre-redaction text. The fixture corpus is PII-free word soup,
    so both engines append the same synthetic contact line per doc (keyed
    off doc_id) and redact it — the oracle then certifies nonzero
    redactions end-to-end. Pure regexp codegen, zero shuffle."""
    d = tables(spark, sf_dir)("documents")
    pii = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(" tel +1555010"),
            F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        ).alias("text"),
    )
    return text.redact_pii(pii, "doc_id", "text")


@q(
    "d45_importance_weight",
    """WITH terms AS (
         SELECT doc_id, CAST(source = 'src0' AS BIGINT) AS is_tgt,
                unnest(string_split(text, ' ')) AS token
         FROM documents),
       counts AS (SELECT token, count(*) AS c_all, sum(is_tgt) AS c_tgt
                  FROM terms GROUP BY 1),
       tot AS (SELECT sum(c_all) AS t_all, sum(c_tgt) AS t_tgt, count(*) AS vocab
               FROM counts),
       lm AS (SELECT token,
                     round(ln((c_tgt + 1) / (t_tgt + vocab)) -
                           ln((c_all + 1) / (t_all + vocab)), 6) AS log_ratio
              FROM counts, tot)
       SELECT doc_id, count(*) AS n_tokens,
              round(CAST(sum(CAST(log_ratio AS DECIMAL(18,6))) AS DOUBLE)
                    / count(*), 6) + 0.0 AS importance_weight
       FROM terms JOIN lm USING (token) GROUP BY doc_id""",
)
def d45(spark, sf_dir):
    """D-ext: DSIR-style importance weight (Xie et al. 2023) — per-doc mean
    log-ratio of add-1-smoothed unigram LMs, target slice (source='src0')
    vs whole corpus; threshold/resample on it to reshape the mix toward a
    target domain without a trained classifier. One token-level agg builds
    both LMs in a single pass; ratio table joins back unhinted (unbounded
    vocab — AQE decides); totals ride a 1-row broadcast BNLJ."""
    d = tables(spark, sf_dir)("documents")
    return text.importance_weight(d, "doc_id", "text", "source", "src0")


@q(
    "d46_bigram_perplexity",
    """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       bgl AS (SELECT doc_id,
                      [{'w1': tk[i], 'w2': tk[i+1]} FOR i IN range(1, len(tk))] AS bs
               FROM tok),
       bg0 AS (SELECT doc_id, unnest(bs) AS b FROM bgl),
       bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg0),
       c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       ctx AS (SELECT w1, sum(c12) AS c1 FROM c12 GROUP BY 1),
       voc AS (SELECT count(DISTINCT w2) AS vocab FROM bg),
       lm AS (SELECT w1, w2, round(ln((c12 + 1) / (c1 + vocab)), 6) AS logp
              FROM c12 JOIN ctx USING (w1), voc)
       SELECT doc_id, count(*) AS n_bigrams,
              round(CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE) / count(*), 4)
                  + 0.0 AS avg_bigram_logprob,
              round(exp(-(round(CAST(sum(CAST(logp AS DECIMAL(18,6))) AS DOUBLE)
                                / count(*), 4) + 0.0)), 2) AS perplexity
       FROM bg JOIN lm USING (w1, w2) GROUP BY doc_id""",
)
def d46(spark, sf_dir):
    """D-ext: bigram-LM perplexity — the quality-ladder rung above d21's
    unigram score (gibberish scores low, templated boilerplate high; gate
    on both tails). Model trained on the corpus in the same job: bigram
    explode → one count agg; context counts re-agg the MODEL (not the
    corpus); unhinted model join back; decimal-exact mean."""
    d = tables(spark, sf_dir)("documents")
    return text.bigram_logprob(d, "doc_id", "text")


@q("d47_split_leakage_scrub")  # rows-only: LSH banding internals (house rule)
def d47(spark, sf_dir):
    """D-ext: train/test leakage scrub — the composition every released
    benchmark run needs: deterministic hash split (d43), then drop train
    docs that near-duplicate ANY test doc (MinHash-LSH cross-join shape:
    candidates scale with train×test band collisions, never corpus²;
    `dedup.incremental_dedup_minhash` with the test split as 'corpus').
    Property-pinned in tests/test_dedup.py: a train doc with text
    identical to a test doc NEVER survives."""
    d = tables(spark, sf_dir)("documents")
    split = pipeline.hash_split(d, "doc_id", (0.8, 0.1), salt="0")
    train = split.filter(F.col("split") == "train").drop("split")
    test = split.filter(F.col("split") == "test").drop("split")
    return dedup.incremental_dedup_minhash(
        train, test, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
    ).select("doc_id", "lang", "source")


@q(
    "d47b_leakage_scrub_guarantees",
    """WITH sh AS (
         SELECT doc_id,
                list_distinct([array_to_string(ws[i:i+2], ' ')
                               FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)]) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)),
       tr AS (SELECT * FROM sh WHERE doc_id % 10 <> 0),
       te AS (SELECT * FROM sh WHERE doc_id % 10 = 0),
       leak AS (SELECT DISTINCT tr.doc_id FROM tr, te
                WHERE len(list_intersect(tr.s, te.s))::DOUBLE
                      / len(list_distinct(tr.s || te.s)) >= 0.5)
       SELECT 'train_docs_in' AS rule,
              (SELECT CAST(count(*) AS BIGINT) FROM tr) AS val
       UNION ALL
       SELECT 'train_docs_surviving',
              (SELECT CAST(count(*) AS BIGINT) FROM tr)
                  - (SELECT CAST(count(*) AS BIGINT) FROM leak)
       UNION ALL
       SELECT 'leaky_survivor_pairs', CAST(0 AS BIGINT)""",
)
def d47b(spark, sf_dir):
    """d47 certification frame (the d02e/d31b pattern — VERDICT r5 #3): the
    concrete scrub SET stays rows-only (banding internals), but the
    checkable contract hash-certifies against an EXACT oracle on a
    deterministic modulo split chosen so near-dup pairs genuinely straddle
    it (non-vacuous at sf0.001 and sf0.01 — verified in the fixture):

    * ``train_docs_in`` — the split arithmetic itself;
    * ``train_docs_surviving`` — the scrub removes EXACTLY the train docs
      with word-shingle Jaccard >= 0.5 against some test doc: LSH recall
      is 100% on the fixture (the oracle recomputes survivors from the
      exact O(n²) Jaccard; the engine never pays that — banded candidates
      + exact verify), and precision is exact by the verify pass;
    * ``leaky_survivor_pairs`` — an INDEPENDENT engine-side exact audit
      (``dedup.cross_jaccard_pairs``, shingle-hash equi-join, no
      cartesian) proving no surviving train doc shares a >= threshold
      overlap with any test doc. Must be 0.
    """
    d = tables(spark, sf_dir)("documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    scrubbed = dedup.incremental_dedup_minhash(
        train, test, "doc_id", "text", n_hashes=32, bands=8, jaccard_threshold=0.5
    )
    leaks = dedup.cross_jaccard_pairs(
        scrubbed, test, "doc_id", "text", shingle=3, threshold=0.5
    )

    def one(df, rule):
        return df.agg(F.count("*").cast("long").alias("val")).select(
            F.lit(rule).alias("rule"), "val"
        )

    return (
        one(train, "train_docs_in")
        .unionAll(one(scrubbed, "train_docs_surviving"))
        .unionAll(one(leaks, "leaky_survivor_pairs"))
    )


@q(
    "d76b_simhash_cluster_guarantees",
    """SELECT 'exact_copies_injected' AS rule, CAST(count(*) AS BIGINT) AS val
       FROM documents WHERE doc_id % 7 = 0
       UNION ALL
       SELECT 'copy_pairs_found_hamming0', CAST(count(*) AS BIGINT)
       FROM documents WHERE doc_id % 7 = 0
       UNION ALL
       SELECT 'copy_pairs_absorbed', CAST(count(*) AS BIGINT)
       FROM documents WHERE doc_id % 7 = 0""",
)
def d76b(spark, sf_dir):
    """d76 certification frame (VERDICT r5 #3): the cluster LAYOUT stays
    rows-only (bit-vote signatures are hash-family-specific), but exact-dup
    absorption hash-certifies NON-vacuously by injecting known duplicates:
    every 7th doc gets an exact copy at doc_id + 2^40, so the oracle knows
    the ground truth from modulo arithmetic alone.

    * ``copy_pairs_found_hamming0`` — identical texts yield identical
      64-bit signatures, which share every band key and report Hamming 0;
      the banded candidate join must surface ALL of them;
    * ``copy_pairs_absorbed`` — connected components place each copy in
      its original's cluster (label propagation over the found pairs).
    """
    d = tables(spark, sf_dir)("documents").select("doc_id", "text")
    offset = 1 << 40
    copies = d.filter(F.col("doc_id") % 7 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(offset)
    )
    aug = d.unionByName(copies)
    pairs = dedup.simhash_near_pairs(aug, "doc_id", "text", max_hamming=3)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    copy_pairs = pairs.filter(
        (F.col("id_b") - F.col("id_a") == offset) & (F.col("hamming") == 0)
    )
    origs = cc.filter(F.col("id") < offset).select(
        F.col("id").alias("__oid"), F.col("cluster").alias("__ocl")
    )
    cops = cc.filter(F.col("id") >= offset).select(
        (F.col("id") - offset).alias("__oid"), F.col("cluster").alias("__ccl")
    )
    absorbed = cops.join(origs, "__oid").filter(F.col("__ocl") == F.col("__ccl"))

    def one(df, rule):
        return df.agg(F.count("*").cast("long").alias("val")).select(
            F.lit(rule).alias("rule"), "val"
        )

    return (
        one(d.filter(F.col("doc_id") % 7 == 0), "exact_copies_injected")
        .unionAll(one(copy_pairs, "copy_pairs_found_hamming0"))
        .unionAll(one(absorbed, "copy_pairs_absorbed"))
    )


@q(
    "d78_kmv_distinct",
    """WITH h AS (SELECT o_orderpriority AS p,
                         (o_custkey * 1327217885) % 2147483647 AS h
                  FROM orders),
       r AS (SELECT p, h, dense_rank() OVER (PARTITION BY p ORDER BY h) AS rk
             FROM (SELECT DISTINCT p, h FROM h)),
       s AS (SELECT p, count(*) AS n_seen, max(h) AS kth
             FROM r WHERE rk <= 64 GROUP BY p),
       e AS (SELECT o_orderpriority AS p, count(DISTINCT o_custkey) AS n_exact
             FROM orders GROUP BY 1)
       SELECT s.p AS o_orderpriority,
              CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                   ELSE round(63.0 * 2147483647 / kth, 4) END AS est_distinct,
              CAST(n_exact AS BIGINT) AS n_exact,
              round(CASE WHEN n_seen < 64 THEN n_seen::DOUBLE
                         ELSE round(63.0 * 2147483647 / kth, 4) END
                    / n_exact - 1, 4) AS rel_err
       FROM s JOIN e USING (p)""",
)
def d78(spark, sf_dir):
    """Sketch tier (r6): KMV/bottom-k distinct estimation per group —
    bounded-state cardinality with the estimate ITSELF hash-certified
    (the golden-ratio modular permutation is plain integer arithmetic in both
    engines, so the oracle recomputes the exact same kth-min and
    estimator — no error-band indirection needed). WindowGroupLimit
    pushes the k-limit map-side: at 100 TB the shuffle carries ≤ k rows
    per (task, group) where exact count-distinct shuffles every distinct
    pair. Fixture groups hold ~1300 distinct customers against k=64, so
    the estimator path (not the exact-count fallback) is what certifies."""
    from .. import sketches

    o = tables(spark, sf_dir)("orders")
    return sketches.kmv_distinct(o, "o_orderpriority", "o_custkey", k=64)


@q(
    "d48_media_headers",
    """SELECT doc_id,
              CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'wav' ELSE 'mp4' END AS format,
              CASE WHEN doc_id % 3 = 0 THEN CAST(16 + doc_id % 64 AS INT)
                   WHEN doc_id % 3 = 2 THEN CAST(320 + (doc_id % 16) * 16 AS INT) END AS width,
              CASE WHEN doc_id % 3 = 0 THEN CAST(16 + (doc_id * 7) % 64 AS INT)
                   WHEN doc_id % 3 = 2 THEN CAST(240 + (doc_id * 3 % 16) * 16 AS INT) END AS height,
              CASE WHEN doc_id % 3 = 0 THEN CAST(8 AS INT) END AS bit_depth,
              CASE WHEN doc_id % 3 = 1
                   THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
              CASE WHEN doc_id % 3 = 1 THEN CAST(1 + doc_id % 2 AS INT) END AS n_channels,
              CASE WHEN doc_id % 3 = 1
                   THEN round(CAST(1000 + doc_id % 100 AS DOUBLE)
                              / (8000 + (doc_id % 8) * 1000), 6)
                   WHEN doc_id % 3 = 2
                   THEN CAST(5 + doc_id % 20 AS DOUBLE) END AS duration_s
       FROM documents""",
)
def d48(spark, sf_dir):
    """D7 upgrade: REAL media-metadata extraction, certified end-to-end —
    Spark manufactures valid PNG (IHDR + CRC32) / RIFF-WAVE / MP4
    (ISO-BMFF ftyp + moov{mvhd, trak{tkhd}}, 16.16 fixed-point track
    dimensions) bytes per doc
    and parses them back with the codec-free container parser
    (`multimodal.synth_media_payload` → `parse_media_headers`, both
    Arrow-batched mapInPandas); the oracle computes the expected fields
    arithmetically from the generator seed, so a hash match proves the
    binary encode→parse round trip bit-exact. This is the resolution/
    duration gating tier of a multimodal pipeline — the decode step proper
    remains the documented env-forced stub."""
    d = tables(spark, sf_dir)("documents")
    payloads = multimodal.synth_media_payload(d, "doc_id")
    return multimodal.parse_media_headers(payloads, "payload", "doc_id")


@q(
    "d48b_jpeg_headers",
    """SELECT doc_id,
              CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                              WHEN 2 THEN 'mp4' ELSE 'jpeg' END AS format,
              CASE WHEN doc_id % 4 = 0 THEN CAST(16 + doc_id % 64 AS INT)
                   WHEN doc_id % 4 = 2 THEN CAST(320 + (doc_id % 16) * 16 AS INT)
                   WHEN doc_id % 4 = 3 THEN CAST(32 + doc_id % 96 AS INT) END AS width,
              CASE WHEN doc_id % 4 = 0 THEN CAST(16 + (doc_id * 7) % 64 AS INT)
                   WHEN doc_id % 4 = 2 THEN CAST(240 + (doc_id * 3 % 16) * 16 AS INT)
                   WHEN doc_id % 4 = 3 THEN CAST(32 + (doc_id * 5) % 96 AS INT) END AS height,
              CASE WHEN doc_id % 4 IN (0, 3) THEN CAST(8 AS INT) END AS bit_depth,
              CASE WHEN doc_id % 4 = 1
                   THEN CAST(8000 + (doc_id % 8) * 1000 AS INT) END AS sample_rate,
              CASE WHEN doc_id % 4 = 1 THEN CAST(1 + doc_id % 2 AS INT) END AS n_channels,
              CASE WHEN doc_id % 4 = 1
                   THEN round(CAST(1000 + doc_id % 100 AS DOUBLE)
                              / (8000 + (doc_id % 8) * 1000), 6)
                   WHEN doc_id % 4 = 2
                   THEN CAST(5 + doc_id % 20 AS DOUBLE) END AS duration_s
       FROM documents""",
)
def d48b(spark, sf_dir):
    """D7 extension (r6): the d48 encode→parse round trip under the
    4-format rotation — adds a valid baseline JPEG (SOI + JFIF APP0 +
    SOF0 marker walk: precision, height, width) to the certified
    container-parsing tier; PNG/WAV/MP4 re-certify under the new modulo
    in the same pass. Same codec-free contract: every field is id
    arithmetic, so the oracle proves the binary round trip bit-exact."""
    d = tables(spark, sf_dir)("documents")
    payloads = multimodal.synth_media_payload(d, "doc_id", kinds=4)
    return multimodal.parse_media_headers(payloads, "payload", "doc_id")


@q(
    "d49_bloom_prune_join",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       WHERE l_orderkey IN
         (SELECT o_orderkey FROM orders WHERE o_totalprice > 400000)""",
)
def d49(spark, sf_dir):
    """Sketch tier: Bloom-prefiltered semi join (sketches.bloom_semi_join).
    The big side is pruned by a broadcast 128 KiB bitmap (distributed OR-tree
    build, vectorized Arrow probe) BEFORE the shuffle; the trailing exact
    semi join makes the result oracle-identical to a plain IN-subquery.
    At 100 TB this is the runtime-filter pattern: shuffle bytes scale with
    the match rate + Bloom fp-rate, not the big-table size."""
    from .. import _models, sketches

    t = tables(spark, sf_dir)
    li, o = t("lineitem"), t("orders")
    small = o.filter(F.col("o_totalprice") > 400000)
    # the bitmap is an amortizable artifact by contract (bloom_semi_join's
    # prebuilt-bitmap path): cache it per (small-side plan, params) so
    # repeated queries pay only the probe + verify join, exactly like the
    # served-index bindings d03g/d31. A changed filter or table retrains.
    keys = small.select(F.col("o_orderkey").alias("l_orderkey")).distinct()
    bitmap = _models.cached_model(
        keys, "d49/bloom", (1 << 20, 5),
        lambda: sketches.build_bloom_bitmap(keys, "l_orderkey", num_bits=1 << 20, num_hashes=5),
    )
    out = sketches.bloom_semi_join(
        li, small, "l_orderkey", "o_orderkey", bitmap=bitmap
    )
    return out.select("l_orderkey", "l_linenumber", "l_extendedprice")


@q(
    "d50_heavy_hitters",
    """WITH toks AS (
           SELECT unnest(string_split(text, ' ')) AS item FROM documents),
       tot AS (SELECT count(*) AS n FROM toks)
       SELECT item, count(*) AS cnt FROM toks, tot
       GROUP BY item, n HAVING count(*) > 0.002 * n""",
)
def d50(spark, sf_dir):
    """Sketch tier: EXACT heavy hitters (tokens with >0.2% corpus
    frequency) via per-partition Misra–Gries candidate nomination + exact
    recount of the bounded candidate set (sketches.heavy_hitters). The
    full-corpus groupBy never materializes the unbounded token domain —
    per-task state is k counters, the recount domain is ≤ partitions × k
    keys — yet the output is oracle-equal to the naive GROUP BY/HAVING."""
    from .. import sketches

    d = tables(spark, sf_dir)("documents")
    toks = d.select(F.explode(text.tokens("text")).alias("token"))
    return sketches.heavy_hitters(toks, "token", 0.002)


@q(
    "d51_vocab_growth",
    """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       per_doc AS (SELECT doc_id, count(*) AS n_tokens FROM terms GROUP BY 1),
       firsts AS (SELECT token, min(doc_id) AS doc_id FROM terms GROUP BY 1),
       newt AS (SELECT doc_id, count(*) AS new_tokens FROM firsts GROUP BY 1)
       SELECT p.doc_id,
              CAST(sum(p.n_tokens) OVER (ORDER BY p.doc_id) AS BIGINT) AS cum_tokens,
              CAST(sum(coalesce(n.new_tokens, 0)) OVER (ORDER BY p.doc_id) AS BIGINT)
                  AS cum_vocab
       FROM per_doc p LEFT JOIN newt n USING (doc_id)""",
)
def d51(spark, sf_dir):
    """Heaps'-law vocabulary growth curve: cumulative distinct vocabulary vs
    cumulative token count in doc_id order (the corpus-diversity diagnostic
    behind dedup/mix decisions). The running distinct count reduces to a
    SUM: each token contributes at its min-doc_id first occurrence — so no
    windowed COUNT(DISTINCT) exists anywhere; both prefix sums run through
    scale.global_cumsum (range-partition → local running sum → broadcast
    per-partition offsets), never a single-task global window. Oracle
    states the same semantics with the naive OVER (ORDER BY)."""
    from ..scale import global_cumsum

    d = tables(spark, sf_dir)("documents")
    terms = d.select("doc_id", F.explode(text.tokens("text")).alias("token"))
    per_doc = terms.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    firsts = terms.groupBy("token").agg(F.min("doc_id").alias("doc_id"))
    newt = firsts.groupBy("doc_id").agg(F.count("*").alias("new_tokens"))
    j = per_doc.join(newt, "doc_id", "left").na.fill(0, ["new_tokens"])
    out = global_cumsum(
        j, ["doc_id"], {"cum_tokens": "n_tokens", "cum_vocab": "new_tokens"},
        n_partitions=8,
    )
    return out.select("doc_id", "cum_tokens", "cum_vocab")


@q(
    "d52_weighted_sample",
    """SELECT doc_id, lang, n_chars FROM (
         SELECT doc_id, lang, n_chars,
                round(ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
                          + 0.5) / 4294967296.0) / n_chars, 12) AS wkey
         FROM documents)
       ORDER BY wkey DESC, doc_id LIMIT 100""",
)
def d52(spark, sf_dir):
    """Deterministic weighted sampling without replacement (A-ES
    exponential sort, weight = document length): the md5-derived uniform
    makes the sampled ID set engine/layout-independent — the oracle
    recomputes the identical formula and must select the identical 100
    docs. Plans as TakeOrderedAndProject (k-row driver merge, no global
    sort)."""
    from .. import pipeline as pl

    d = tables(spark, sf_dir)("documents")
    return pl.weighted_sample(d, "doc_id", "n_chars", 100).select(
        "doc_id", "lang", "n_chars"
    )


@q(
    "d53_edit_distance_pairs",
    """WITH v AS (SELECT DISTINCT c_name AS s FROM customer)
       SELECT a.s AS name_a, b.s AS name_b,
              CAST(levenshtein(a.s, b.s) AS INT) AS dist
       FROM v a JOIN v b ON a.s < b.s AND levenshtein(a.s, b.s) <= 1""",
)
def d53(spark, sf_dir):
    """Entity resolution: all customer-name pairs within edit distance 1,
    via SymSpell deletion-neighborhood blocking (dedup.edit_distance_pairs)
    — candidates from ONE equi-join on deletion variants (codegen'd HOF
    generation, no crossJoin), levenshtein verify only on bucket
    collisions. The oracle does the O(V²) comparison the blocking
    avoids; both must produce the identical 19.5k pairs."""
    d = tables(spark, sf_dir)("customer")
    out = dedup.edit_distance_pairs(d, "c_name", max_dist=1)
    return out.withColumn("dist", F.col("dist").cast("int"))


@q(
    "d54_normalized_dedup",
    """WITH n AS (
         SELECT doc_id, lang,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS h
         FROM documents)
       SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
         FROM n) WHERE rn = 1""",
)
def d54(spark, sf_dir):
    """Fuzzy-exact dedup tier (between d01 exact and d02 MinHash): dedup on
    the CANONICALIZED text (d30's lowercase → strip → collapse → md5) —
    catches case/punctuation/whitespace variants the byte-exact pass
    misses, at exact-dedup cost: the shuffle re-keys on 16-byte norm
    hashes, never text."""
    from pyspark.sql import Window as W

    d = tables(spark, sf_dir)("documents")
    # one projection, no self-join: the d30 normalization expression runs
    # inline so the only shuffle is the norm-hash window re-key
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    n = d.select("doc_id", "lang", F.md5(norm).alias("norm_hash"))
    w = W.partitionBy("norm_hash").orderBy("doc_id")
    return (
        n.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang")
    )


@q(
    "d55_corpus_novelty",
    """WITH toks AS (
         SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       gl AS (
         SELECT doc_id,
                CASE WHEN len(tk) >= 3
                     THEN [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                           FOR i IN range(1, len(tk) - 1)]
                     -- <3 tokens: word_ngrams emits ONE degenerate gram of
                     -- the available words; the oracle must agree
                     ELSE [array_to_string(tk, ' ')] END AS gs
         FROM toks),
       grams AS (SELECT DISTINCT doc_id, unnest(gs) AS g FROM gl),
       old_g AS (SELECT DISTINCT g FROM grams WHERE doc_id % 5 <> 0),
       newd AS (SELECT doc_id, g FROM grams WHERE doc_id % 5 = 0)
       SELECT n.doc_id,
              count(*) AS n_grams,
              CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
              round(CAST(sum(CASE WHEN o.g IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                    / count(*), 6) AS novelty
       FROM newd n LEFT JOIN old_g o ON n.g = o.g
       GROUP BY n.doc_id""",
)
def d55(spark, sf_dir):
    """Snapshot novelty: for each doc in the NEW snapshot (doc_id%5=0),
    the fraction of its distinct word-trigrams absent from the OLD corpus
    — the "is this batch actually new data" gate of incremental ingest
    (high novelty → keep; near-zero → the batch is a re-crawl). Gram join
    is an unhinted equi-join on gram strings (corpus-sized domain: AQE
    decides); per-doc counts are one partial+final agg."""
    from .._scratch import scratch_persist

    d = tables(spark, sf_dir)("documents")
    # both snapshot branches read the exploded gram set — persist it once
    # (scratch pool: bounded, warm-path reusable) instead of scanning and
    # exploding the corpus twice
    grams = scratch_persist(
        d.select(
            "doc_id", F.explode(text.word_ngrams(F.col("text"), 3)).alias("g")
        ).distinct(),
        "llm/d55_grams",
    )
    old_g = grams.filter(F.col("doc_id") % 5 != 0).select("g").distinct()
    newd = grams.filter(F.col("doc_id") % 5 == 0)
    j = newd.join(old_g.withColumn("__hit", F.lit(1)), "g", "left")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).alias("novel_grams"),
        F.round(
            F.sum(F.when(F.col("__hit").isNull(), 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("novelty"),
    )


@q(
    "d56_template_prefixes",
    """WITH p AS (
         SELECT doc_id,
                array_to_string(string_split(text, ' ')[1:8], ' ') AS prefix
         FROM documents)
       SELECT prefix, count(*) AS n_docs,
              CAST(min(doc_id) AS BIGINT) AS first_doc
       FROM p GROUP BY prefix HAVING count(*) >= 3
       ORDER BY n_docs DESC, prefix LIMIT 50""",
)
def d56(spark, sf_dir):
    """Boilerplate/template detection: document families sharing the same
    8-token prefix (scraped-corpus headers, licence blocks, nav chrome).
    One partial+final agg over 8-token prefixes + TakeOrdered — the cheap
    census read before prefix-stripping; composes with d30 normalize and
    d40 keep-longest for the actual strip."""
    d = tables(spark, sf_dir)("documents")
    prefix = F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    return (
        d.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc"))
        .filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "prefix")
        .limit(50)
    )


@q(
    "d57_waterfill_quota",
    """WITH counts AS (
         SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
       ranked AS (
         SELECT source, n_docs,
                floor(0.6 * sum(n_docs) OVER ()) AS b,
                coalesce(sum(n_docs) OVER (ORDER BY n_docs, source
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS p,
                count(*) OVER () - row_number() OVER (ORDER BY n_docs, source) + 1 AS r
         FROM counts),
       cand AS (
         SELECT source, n_docs,
                CASE WHEN floor((b - p) / r) < n_docs AND floor((b - p) / r) >= 0
                     THEN floor((b - p) / r) END AS valid_cap
         FROM ranked),
       cap AS (SELECT coalesce(max(valid_cap), max(n_docs)) AS c FROM cand)
       SELECT source, n_docs,
              CAST(least(n_docs, c) AS BIGINT) AS allocation
       FROM cand, cap""",
)
def d57(spark, sf_dir):
    """Water-filling budget allocation across sources
    (pipeline.waterfill_quota): small sources keep everything, large ones
    share one cap so Σ allocations fills 60% of the corpus — the
    hard-budget counterpart of d24's soft mix weights. Closed form over
    ONE ROW PER SOURCE (integer-exact, no iteration); the bounded
    single-partition windows are the x29 contract."""
    from .. import pipeline as pl

    d = tables(spark, sf_dir)("documents")
    return pl.waterfill_quota(d, "source", 0.6)


@q(
    "d58_zipf_fit",
    """WITH counts AS (
         SELECT unnest(string_split(text, ' ')) AS token FROM documents),
       freq AS (SELECT token, count(*) AS cnt FROM counts GROUP BY token),
       ranked AS (
         SELECT round(ln(row_number() OVER (ORDER BY cnt DESC, token)), 6) AS lx,
                round(ln(cnt), 6) AS ly
         FROM freq),
       m AS (
         SELECT CAST(count(*) AS DECIMAL(10,0)) AS n,
                CAST(sum(CAST(lx AS DECIMAL(18,6))) AS DECIMAL(19,6)) AS sx,
                CAST(sum(CAST(ly AS DECIMAL(18,6))) AS DECIMAL(19,6)) AS sy,
                CAST(sum(CAST(lx AS DECIMAL(18,6)) * CAST(ly AS DECIMAL(18,6)))
                     AS DECIMAL(27,12)) AS sxy,
                CAST(sum(CAST(lx AS DECIMAL(18,6)) * CAST(lx AS DECIMAL(18,6)))
                     AS DECIMAL(27,12)) AS sxx
         FROM ranked)
       SELECT CAST(n AS BIGINT) AS n_ranks,
              round(CAST(n*sxy - sx*sy AS DOUBLE)
                    / CAST(n*sxx - sx*sx AS DOUBLE), 4) + 0.0 AS zipf_slope
       FROM m""",
)
def d58(spark, sf_dir):
    """Corpus-law diagnostic: the Zipf exponent — OLS slope of ln(freq)
    against ln(rank) over the token frequency table (a natural corpus has
    slope ≈ −1; templated/synthetic text deviates hard). Per-point lns are
    6-dp-rounded then decimal-summed (order-independent); a single
    ln-ulp flip moves the slope by ~1e-9, far below the 4-dp output grid.
    Ranks come from scale.global_row_index — the vocabulary is 10^8-10^9
    tokens at 100 TB, past any single-task sort."""
    from pyspark.sql import Window as W

    d = tables(spark, sf_dir)("documents")
    freq = (
        d.select(F.explode(text.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )
    # rank WITHOUT a single-task vocabulary sort: at 100 TB the vocab is
    # 10^8-10^9 tokens, so the global rank goes through the range-partition
    # + per-partition offsets composition (scale.global_row_index), the
    # same as d62's corpus ordering — only the n_partitions-row offsets
    # frame is ever single-partition.
    from ..scale import global_row_index

    ranked_ix = global_row_index(
        freq, [F.col("cnt").desc(), F.col("token")], index_col="__rank"
    )
    ranked = ranked_ix.select(
        F.round(F.log("__rank"), 6).cast("decimal(18,6)").alias("lx"),
        F.round(F.log("cnt"), 6).cast("decimal(18,6)").alias("ly"),
    )
    m = ranked.agg(
        F.count("*").cast("decimal(10,0)").alias("n"),
        F.sum("lx").cast("decimal(19,6)").alias("sx"),
        F.sum("ly").cast("decimal(19,6)").alias("sy"),
        F.sum(F.col("lx") * F.col("ly")).cast("decimal(27,12)").alias("sxy"),
        F.sum(F.col("lx") * F.col("lx")).cast("decimal(27,12)").alias("sxx"),
    )
    n = F.col("n")
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (n * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    return m.select(
        n.cast("long").alias("n_ranks"),
        (F.round(num / den, 4) + F.lit(0.0)).alias("zipf_slope"),
    )


@q(
    "d59_dup_cluster_sizes",
    """WITH sizes AS (
         SELECT count(*) AS cluster_size FROM documents GROUP BY text)
       SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
              count(*) AS n_clusters,
              CAST(cluster_size * count(*) AS BIGINT) AS n_docs
       FROM sizes GROUP BY cluster_size ORDER BY cluster_size""",
)
def d59(spark, sf_dir):
    """Dedup diagnostics: the duplicate-cluster size distribution (how many
    exact-dup families of each size, and the docs they hold) — the read
    that sizes d02's `max_bucket_size` valve and predicts LSH pair volume
    (Σ size² scales the verify). Two chained aggs; the first re-keys on
    text hash semantics, the second on a tiny size domain."""
    d = tables(spark, sf_dir)("documents")
    sizes = d.groupBy(F.sha2("text", 256)).agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@q(
    "d60_snapshot_drift",
    """WITH o AS (
         SELECT lang, count(*) AS n FROM documents WHERE doc_id % 5 <> 0 GROUP BY 1),
       n AS (
         SELECT lang, count(*) AS n FROM documents WHERE doc_id % 5 = 0 GROUP BY 1),
       ot AS (SELECT sum(n) AS t FROM o), nt AS (SELECT sum(n) AS t FROM n),
       shares AS (
         SELECT coalesce(o.lang, n.lang) AS lang,
                CAST(coalesce(o.n, 0) AS DOUBLE) / ot.t AS share_old,
                CAST(coalesce(n.n, 0) AS DOUBLE) / nt.t AS share_new
         FROM o FULL OUTER JOIN n USING (lang), ot, nt)
       SELECT lang, round(share_old, 6) AS share_old,
              round(share_new, 6) AS share_new,
              round(abs(share_new - share_old), 6) AS drift
       FROM shares""",
)
def d60(spark, sf_dir):
    """Data-monitoring: per-facet distribution drift between corpus
    snapshots (old = doc_id%5≠0, new = %5=0): each language's share in
    both snapshots and the absolute drift — the alarm read before a new
    crawl batch shifts the training mix. Two facet aggs + a full outer
    join over one row per FACET; totals are 1-row broadcast BNLJ sides."""
    d = tables(spark, sf_dir)("documents")
    old = d.filter(F.col("doc_id") % 5 != 0).groupBy("lang").agg(F.count("*").alias("n_o"))
    new = d.filter(F.col("doc_id") % 5 == 0).groupBy("lang").agg(F.count("*").alias("n_n"))
    ot = old.agg(F.sum("n_o").alias("t_o"))
    nt = new.agg(F.sum("n_n").alias("t_n"))
    shares = (
        old.join(new, "lang", "full_outer")
        .crossJoin(F.broadcast(ot))
        .crossJoin(F.broadcast(nt))
        .select(
            "lang",
            (F.coalesce(F.col("n_o"), F.lit(0)).cast("double") / F.col("t_o")).alias("so"),
            (F.coalesce(F.col("n_n"), F.lit(0)).cast("double") / F.col("t_n")).alias("sn"),
        )
    )
    return shares.select(
        "lang",
        F.round("so", 6).alias("share_old"),
        F.round("sn", 6).alias("share_new"),
        F.round(F.abs(F.col("sn") - F.col("so")), 6).alias("drift"),
    )


@q(
    "d61_stratified_weighted_sample",
    """SELECT doc_id, source, n_chars FROM (
         SELECT doc_id, source, n_chars,
                row_number() OVER (
                  PARTITION BY source
                  ORDER BY round(ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
                                     + 0.5) / 4294967296.0) / n_chars, 12) DESC,
                           doc_id) AS rn
         FROM documents) WHERE rn <= 10""",
)
def d61(spark, sf_dir):
    """d52's stratified sibling: 10 weighted picks PER SOURCE (A-ES key,
    weight = length) — balanced subsampling that still favors longer docs
    within each stratum, ID set engine/layout-independent. One window
    re-key on source."""
    from .. import pipeline as pl

    d = tables(spark, sf_dir)("documents")
    return pl.weighted_sample_by_group(d, "source", "doc_id", "n_chars", 10).select(
        "doc_id", "source", "n_chars"
    )


@q(
    "d31b_semantic_dedup_guarantees",
    """WITH n AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       paired AS (
         SELECT DISTINCT id FROM (
           SELECT a.vec_id AS id FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 6) >= 0.98
           UNION ALL
           SELECT b.vec_id FROM n a JOIN n b ON a.vec_id < b.vec_id
           WHERE round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))), 6) >= 0.98)),
       iso AS (SELECT count(*) AS c FROM embeddings
               WHERE vec_id NOT IN (SELECT id FROM paired))
       SELECT 'isolated_docs' AS rule, CAST(c AS BIGINT) AS val FROM iso
       UNION ALL SELECT 'isolated_removed', CAST(0 AS BIGINT)
       UNION ALL SELECT 'kept_not_in_source', CAST(0 AS BIGINT)""",
)
def d31b(spark, sf_dir):
    """d31 certification frame (the d02e pattern): the concrete cluster
    layout stays rows-only, but the SAFETY contract hash-checks — a doc
    with no ≥τ partner ANYWHERE may never be removed by the k-means-blocked
    dedup (soft blocking could only fail toward false negatives; this pins
    that it never manufactures false positives). The frame's exact
    all-pairs pass is certification harness at fixture scale, not an
    operator path — the operator itself stays blocked."""
    from .. import _models

    e = tables(spark, sf_dir)("embeddings")
    n_cells = similarity.adaptive_cell_count(e.count())
    cents = _models.cached_model(
        e, "d31/centroids", ("embedding", n_cells, 2, 42),
        lambda: similarity._kmeans_centroids(e, "embedding", n_cells, 2, 42),
    )
    # both small id frames persist: the counts below are separate actions
    # and must not re-run the quadratic scoring or the dedup tail
    kept = (
        similarity.semantic_dedup(
            e, "vec_id", "embedding", threshold=0.98, centroids=cents
        )
        .select("vec_id")
        .persist()
    )

    a = e.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = e.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = (
        a.join(b, F.col("ia") < F.col("ib"))
        .filter(
            F.round(similarity.cosine(F.col("va"), F.col("vb")), 6) >= 0.98
        )
    )
    paired = pairs.select(F.col("ia").alias("vec_id")).union(
        pairs.select(F.col("ib").alias("vec_id"))
    ).distinct()
    iso = e.select("vec_id").exceptAll(paired).persist()
    try:
        n_iso = iso.count()
        n_iso_removed = iso.exceptAll(kept).count()
        n_ghost = kept.exceptAll(e.select("vec_id")).count()
    finally:
        # the returned frame is a literal built FROM the collected counts
        # — nothing downstream depends on these cached blocks, so free
        # them now instead of leaking a generation per invocation
        iso.unpersist(False)
        kept.unpersist(False)
    return local_rows_df(spark,
        [
            ("isolated_docs", n_iso),
            ("isolated_removed", n_iso_removed),
            ("kept_not_in_source", n_ghost),
        ],
        "rule string, val long",
    )


@q(
    "d62_curriculum_order",
    """WITH t AS (
         SELECT doc_id,
                len(string_split(text, ' ')) AS n_words,
                length(text) AS n_chars,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','and','of','to','a','in','is','that','for','it'))) AS n_stop
         FROM documents),
       s AS (
         SELECT doc_id,
                round(
                  (CASE WHEN n_words BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END) +
                  (CASE WHEN n_chars::DOUBLE / greatest(n_words, 1) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END) +
                  (CASE WHEN n_punct::DOUBLE / greatest(n_chars, 1) < 0.2 THEN 0.2 ELSE 0.0 END) +
                  (CASE WHEN n_stop::DOUBLE / greatest(n_words, 1) > 0.01 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
         FROM t)
       SELECT doc_id, quality_score,
              row_number() OVER (ORDER BY quality_score DESC, doc_id) AS curriculum_pos
       FROM s""",
)
def d62(spark, sf_dir):
    """Curriculum ordering: every doc's global training position, best
    quality first (anti-curriculum = flip the sort) — d10's score composed
    with scale.global_row_index, so the total order costs a range re-key +
    pid-local ranks + a broadcast offsets row, never the single-task
    OVER (ORDER BY …) the oracle states."""
    from ..scale import global_row_index

    d = tables(spark, sf_dir)("documents")
    scored = text.quality_score(d, "text").select("doc_id", "quality_score")
    out = global_row_index(
        scored,
        [F.col("quality_score").desc(), F.col("doc_id")],
        index_col="curriculum_pos",
        n_partitions=8,
    )
    return out.select("doc_id", "quality_score", "curriculum_pos")


@q(
    "d63_soft_dedup_weights",
    """SELECT doc_id, source,
              CAST(count(*) OVER (PARTITION BY text) AS BIGINT) AS dup_count,
              round(CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY text), 6) AS weight
       FROM documents""",
)
def d63(spark, sf_dir):
    """D-ext (r5): SoftDeDup — duplicate down-weighting instead of removal:
    weight = 1/exact-dup-cluster-size, so weighted sampling sees each
    distinct text with equal mass while keeping every copy. One window
    re-keyed on sha2(text) (32-byte shuffle keys; the oracle partitions by
    the text itself — same clusters, sha2 is injective in practice)."""
    d = tables(spark, sf_dir)("documents")
    return dedup.soft_dedup_weights(d, "doc_id", "text").select(
        "doc_id", "source", "dup_count", "weight"
    )


@q(
    "d68_crossdup_matrix",
    """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
       hs AS (
         SELECT DISTINCT source,
                unnest(list_distinct(
                  [array_to_string(ws[i:i+4], ' ')
                   FOR i IN range(1, greatest(len(ws) - 4, 1) + 1)])) AS g
         FROM w)
       SELECT a.source AS source_a, b.source AS source_b,
              CAST(count(*) AS BIGINT) AS n_shared_spans
       FROM hs a JOIN hs b ON a.g = b.g AND a.source < b.source
       GROUP BY 1, 2""",
)
def d68(spark, sf_dir):
    """D-ext (r5): cross-source contamination matrix — distinct word
    5-gram SPANS shared by each unordered source pair (the decontamination
    granularity: partial overlap shows up long before whole-document
    duplication). The source set per span is bounded by the source
    CATALOG, so collect_set + in-set pair explode replaces the oracle's
    hash self-join: one 32-byte-keyed aggregation, no corpus-vs-corpus
    join."""
    d = tables(spark, sf_dir)("documents")
    out = dedup.cross_source_dup_matrix(d, "text", "source", shingle=5)
    return out.withColumnRenamed("n_shared_texts", "n_shared_spans")


@q(
    "d75_idf_rarity_score",
    """WITH pairs AS (
         SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
         FROM documents),
       dfreq AS (SELECT token, count(*) AS df FROM pairs GROUP BY token),
       n AS (SELECT count(DISTINCT doc_id) AS n FROM documents)
       SELECT p.doc_id,
              round(avg(ln((n.n + 1)::DOUBLE / (d.df + 1)) + 1.0), 6) AS mean_idf,
              CAST(count(*) AS BIGINT) AS n_distinct_tokens
       FROM pairs p JOIN dfreq d USING (token), n
       GROUP BY p.doc_id""",
)
def d75(spark, sf_dir):
    """D-ext (r5): per-document rarity — mean smoothed IDF over the doc's
    distinct tokens (the cheap tail-knowledge detector for mix up-sampling).
    tf_idf's plan shape: unhinted vocab join (AQE strategy — the vocabulary
    is unbounded at 100 TB), doc-keyed mean."""
    d = tables(spark, sf_dir)("documents")
    return text.idf_rarity_score(d, "doc_id", "text")


@q(
    "d64_rouge_overlap",
    """WITH t AS (
         SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
         FROM documents)
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              CAST(len(list_intersect(a.toks, b.toks)) AS INT) AS n_overlap,
              round(len(list_intersect(a.toks, b.toks))::DOUBLE / len(b.toks), 6)
                  AS rouge1_recall
       FROM t a JOIN t b ON b.doc_id = a.doc_id + 1""",
)
def d64(spark, sf_dir):
    """D-ext (r5): ROUGE-1 recall over consecutive-id pairs (candidate =
    id, reference = id+1) — the summarization-eval overlap metric on the
    same bounded pairing as d02c. One pair-id equi-join moving one token
    ARRAY per doc; the intersection is a codegen'd HOF, never a
    (doc, token) explode join."""
    d = tables(spark, sf_dir)("documents")
    out = text.rouge1_consecutive(d, "doc_id", "text")
    return out.withColumn("n_overlap", F.col("n_overlap").cast("int"))


@q(
    "d67_embedding_quantize_int8",
    """WITH mm AS (
         SELECT t.i, min(e.embedding[t.i]::DOUBLE) AS mn,
                max(e.embedding[t.i]::DOUBLE) AS mx
         FROM embeddings e, range(1, 65) t(i) GROUP BY t.i),
       terms AS (
         SELECT e.vec_id, e.embedding[m.i]::DOUBLE AS x, m.mn,
                CASE WHEN m.mx > m.mn THEN (m.mx - m.mn) / 255.0 ELSE 0.0 END AS sc
         FROM embeddings e, mm m),
       err AS (
         SELECT vec_id,
                x - (mn + (CASE WHEN sc > 0 THEN
                             least(greatest(CAST(floor((x - mn) / sc + 0.5) AS INT), 0), 255)
                           ELSE 0 END) * sc) AS e
         FROM terms)
       SELECT vec_id,
              round(CAST(sum(CAST(e * e AS DECIMAL(28,12))) AS DOUBLE) / 64, 6) AS mse,
              round(max(abs(e)), 6) AS max_abs_err
       FROM err GROUP BY vec_id""",
)
def d67(spark, sf_dir):
    """D-ext (r5): int8 scalar-quantization audit — per-channel affine
    codes (the 4× embedding-storage tier below PQ) and the exact
    round-trip error per vector. One 64-group min/max aggregate broadcasts
    back; the code/error math is a codegen'd HOF with a DECIMAL error
    accumulator (bit-deterministic under partitioning)."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.quantize_int8_error(e, "vec_id", "embedding")


@q(
    "d71_ccnet_perplexity_buckets",
    """WITH terms AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       counts AS (SELECT token, count(*) AS cnt FROM terms GROUP BY 1),
       tot AS (SELECT sum(cnt) AS total FROM counts),
       lm AS (SELECT token, ln(CAST(cnt AS DOUBLE)) - ln(CAST(total AS DOUBLE)) AS logp
              FROM counts, tot),
       scored AS (
           SELECT doc_id, round(avg(logp), 6) AS avg_logprob
           FROM terms JOIN lm USING (token) GROUP BY doc_id),
       b AS (SELECT quantile_cont(avg_logprob, 1.0/3) AS q1,
                    quantile_cont(avg_logprob, 2.0/3) AS q2
             FROM scored)
       SELECT doc_id, avg_logprob,
              CASE WHEN avg_logprob > q2 THEN 'head'
                   WHEN avg_logprob > q1 THEN 'middle'
                   ELSE 'tail' END AS bucket
       FROM scored, b""",
)
def d71(spark, sf_dir):
    """D-ext (r5): CCNet-style head/middle/tail bucketing by LM score —
    the corpus-relative perplexity triage CCNet runs before mixing
    (head = most-fluent third). LM score is d21's unigram avg-logprob;
    the two tertile boundaries come from ONE 1-row percentile aggregate
    broadcast back (c77 pattern — no global sort, no ntile; swap
    approx_percentile at 100 TB)."""
    from .._scratch import scratch_persist

    d = tables(spark, sf_dir)("documents")
    # scored feeds BOTH the boundary aggregate and the bucketed output —
    # persist, or the whole unigram-LM pipeline runs twice
    scored = scratch_persist(
        text.unigram_logprob(d, "doc_id", "text").select("doc_id", "avg_logprob"),
        "d71/scored",
    )
    b = scored.agg(
        F.expr("percentile(avg_logprob, 1.0/3)").alias("q1"),
        F.expr("percentile(avg_logprob, 2.0/3)").alias("q2"),
    )
    return scored.crossJoin(F.broadcast(b)).select(
        "doc_id",
        "avg_logprob",
        F.when(F.col("avg_logprob") > F.col("q2"), "head")
        .when(F.col("avg_logprob") > F.col("q1"), "middle")
        .otherwise("tail")
        .alias("bucket"),
    )


@q(
    "d72_minhash_band_tuning",
    """WITH g AS (
         SELECT doc_id,
                list_distinct([text[i:i+2] FOR i IN range(1, greatest(length(text)-2, 1) + 1)]) AS grams
         FROM documents),
       pairs AS (
         SELECT round(len(list_intersect(a.grams, b.grams))::DOUBLE /
                      len(list_distinct(list_concat(a.grams, b.grams))), 6) AS j
         FROM g a JOIN g b ON b.doc_id = a.doc_id + 1),
       grid AS (SELECT * FROM (VALUES (4, 8), (8, 4), (16, 2), (32, 1)) v(bands, rpb))
       SELECT bands, rpb,
              round(pow(1.0 / bands, 1.0 / rpb), 6) AS s_star,
              CAST(count(*) FILTER (WHERE j >= 0.3) AS BIGINT) AS n_true_pairs,
              round(CAST(sum(CAST(1.0 - pow(1.0 - pow(j, rpb), bands) AS DECIMAL(18,12)))
                             FILTER (WHERE j >= 0.3) AS DOUBLE)
                    / count(*) FILTER (WHERE j >= 0.3), 6) AS expected_recall
       FROM pairs, grid GROUP BY bands, rpb""",
)
def d72(spark, sf_dir):
    """D-ext (r5): LSH band-tuning report — for each (bands, rows/band)
    split of a 32-hash MinHash signature, the S-curve threshold
    s* = (1/b)^(1/r) and the expected recall over the corpus's OBSERVED
    near-dup pairs (d02c's consecutive-pair 3-gram Jaccard, j ≥ 0.3):
    E[recall] = avg(1 - (1 - j^r)^b). This is the design tool that picks
    d02's banding before the expensive job runs; pure column math over a
    4-row grid crossed with the bounded pair set, DECIMAL-accumulated."""
    d = tables(spark, sf_dir)("documents")
    pairs = dedup.ngram_jaccard_consecutive(d, "doc_id", "text", n=3).select(
        F.col("ngram_jaccard").alias("j")
    )
    grid = local_rows_df(spark,
        [(4, 8), (8, 4), (16, 2), (32, 1)], "bands int, rpb int"
    )
    p = 1.0 - F.pow(1.0 - F.pow(F.col("j"), F.col("rpb")), F.col("bands"))
    true_pair = F.col("j") >= 0.3
    return (
        pairs.crossJoin(F.broadcast(grid))
        .groupBy("bands", "rpb")
        .agg(
            F.round(F.pow(1.0 / F.col("bands"), 1.0 / F.col("rpb")), 6).alias("s_star"),
            F.count(F.when(true_pair, 1)).alias("n_true_pairs"),
            F.round(
                F.sum(F.when(true_pair, p).cast("decimal(18,12)")).cast("double")
                / F.count(F.when(true_pair, 1)),
                6,
            ).alias("expected_recall"),
        )
    )


@q(
    "d73_token_budget_pack",
    """WITH t AS (
         SELECT doc_id, source,
                len(string_split(text, ' ')) AS n_words,
                length(text) AS n_chars,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS n_punct,
                len(list_filter(string_split(text, ' '),
                    w -> lower(w) IN ('the','and','of','to','a','in','is','that','for','it'))) AS n_stop
         FROM documents),
       s AS (
         SELECT doc_id, source, n_words,
                round(
                  (CASE WHEN n_words BETWEEN 10 AND 10000 THEN 0.4 ELSE 0.0 END) +
                  (CASE WHEN n_chars::DOUBLE / greatest(n_words, 1) BETWEEN 3 AND 12 THEN 0.3 ELSE 0.0 END) +
                  (CASE WHEN n_punct::DOUBLE / greatest(n_chars, 1) < 0.2 THEN 0.2 ELSE 0.0 END) +
                  (CASE WHEN n_stop::DOUBLE / greatest(n_words, 1) > 0.01 THEN 0.1 ELSE 0.0 END), 2) AS quality_score
         FROM t),
       r AS (
         SELECT doc_id, source, quality_score, n_words,
                sum(n_words) OVER (PARTITION BY source
                                   ORDER BY quality_score DESC, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
         FROM s)
       SELECT doc_id, source, quality_score, CAST(n_words AS INT) AS n_words,
              CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM r WHERE cum_tokens <= 5000""",
)
def d73(spark, sf_dir):
    """D-ext (r5): per-source token-budget packing — greedy best-quality
    prefix whose cumulative word count fits 5k tokens (the selection stage
    that executes d24's mix decision). One source-keyed window; integer
    cumsum makes the cut engine-exact."""
    d = tables(spark, sf_dir)("documents")
    out = pipeline.token_budget_pack(
        d, "doc_id", "text", "source", budget=5000
    )
    return out.withColumn("n_words", F.col("n_words").cast("int")).withColumn(
        "cum_tokens", F.col("cum_tokens").cast("long")
    )


@q(
    "d74_embedding_standardize",
    """WITH st AS (
         SELECT t.i,
                CAST(sum(CAST(e.embedding[t.i]::DOUBLE AS DECIMAL(28,10))) AS DOUBLE)
                    / count(*) AS mu,
                CAST(sum(CAST(e.embedding[t.i]::DOUBLE * e.embedding[t.i]::DOUBLE
                              AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS m2
         FROM embeddings e, range(1, 65) t(i) GROUP BY t.i),
       sd AS (SELECT i, mu, sqrt(greatest(m2 - mu * mu, 0.0)) AS sd FROM st),
       z AS (
         SELECT e.vec_id,
                CASE WHEN s.sd > 0 THEN (e.embedding[s.i]::DOUBLE - s.mu) / s.sd
                     ELSE 0.0 END AS z
         FROM embeddings e, sd s)
       SELECT vec_id,
              round(sqrt(CAST(sum(CAST(z * z AS DECIMAL(28,12))) AS DOUBLE)), 6) AS z_norm,
              round(max(abs(z)), 6) AS max_abs_z
       FROM z GROUP BY vec_id""",
)
def d74(spark, sf_dir):
    """D-ext (r5): per-dimension z-scoring (diagonal whitening) — the
    de-correlation step before cosine/IP search when channels have wildly
    different scales. DECIMAL-exact per-dim moments broadcast back; the z
    math is one codegen'd HOF pass per vector."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.standardize_embeddings(e, "vec_id", "embedding")


_PR_ITER = """
       r{K} AS (
         SELECT nd.id,
                round((1.0 - 0.85) / nd.n + 0.85 * coalesce(m.m, 0.0), 12) AS rank
         FROM (SELECT deg.s AS id, n.n FROM deg, n) nd
         LEFT JOIN (
           SELECT e.d AS id,
                  CAST(sum(CAST(p.rank / dg.deg AS DECIMAL(28,14))) AS DOUBLE) AS m
           FROM ed e JOIN deg dg ON e.s = dg.s JOIN r{P} p ON p.id = e.s
           GROUP BY e.d) m USING (id))"""


@q(
    "d65_doc_graph_pagerank",
    """WITH w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
       pairs AS (
         SELECT id, unnest(list_distinct(
           [array_to_string(ws[i:i+2], ' ')
            FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)])) AS token
         FROM w),
       rare AS (
         SELECT token, list_sort(list(id)) AS ids FROM pairs GROUP BY token
         HAVING count(*) BETWEEN 2 AND 3),
       ed AS (
         SELECT DISTINCT a.id AS s, b.id AS d
         FROM (SELECT token, unnest(ids) AS id FROM rare) a
         JOIN (SELECT token, unnest(ids) AS id FROM rare) b USING (token)
         WHERE a.id <> b.id),
       deg AS (SELECT s, count(*) AS deg FROM ed GROUP BY s),
       n AS (SELECT count(*) AS n FROM deg),
       r0 AS (SELECT deg.s AS id, round(1.0 / n.n, 12) AS rank FROM deg, n),"""
    + _PR_ITER.format(K=1, P=0) + ","
    + _PR_ITER.format(K=2, P=1) + ","
    + _PR_ITER.format(K=3, P=2) + """
       SELECT id AS doc_id, round(rank, 6) AS rank FROM r3""",
)
def d65(spark, sf_dir):
    """D-ext (r5): PageRank over the rare-token co-occurrence graph (docs
    sharing a word 3-gram with document frequency 2–3) — influence scoring for
    curriculum/sampling decisions. The ITERATIVE-algorithm class: three
    join+aggregate rounds with localCheckpoint lineage control
    (graph.pagerank); rank mass accumulates through DECIMAL and each round
    rounds to 12 dp, so the single-node oracle replays the unrolled
    recurrence bit-exactly. Rare-token blocking bounds edge volume at
    O(vocab × max_df²) — never a corpus self-join."""
    from .. import graph

    d = tables(spark, sf_dir)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", min_df=2, max_df=3, shingle=3)
    out = graph.pagerank(edges, "id_a", "id_b", iterations=3, damping=0.85)
    return out.select(
        F.col("id").alias("doc_id"), F.round("rank", 6).alias("rank")
    )


@q(
    "d70_wordpiece_tokenize",
    """WITH terms AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents),
       vocab AS (
         SELECT token FROM (
           SELECT token, count(*) AS cnt FROM terms GROUP BY token
           ORDER BY cnt DESC, token LIMIT 200)),
       scored AS (
         SELECT t.doc_id,
                CASE WHEN v.token IS NOT NULL THEN 1 ELSE length(t.token) END AS wp
         FROM terms t LEFT JOIN vocab v USING (token))
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(wp) AS BIGINT) AS n_wp_tokens,
              round(sum(wp)::DOUBLE / count(*), 6) AS tokens_per_word
       FROM scored GROUP BY doc_id""",
)
def d70(spark, sf_dir):
    """D-ext (r5): WordPiece-budget token counting — greedy
    longest-match-first against a chars + top-200-words vocabulary
    collapses to the closed form Σ(1 if word ∈ vocab else |word|), which
    is what training-cost estimates need and what the oracle can check.
    Vocabulary = one explode+count + TakeOrdered top-200 (k-row driver
    merge); membership join broadcasts (bounded by construction)."""
    d = tables(spark, sf_dir)("documents")
    out = text.wordpiece_token_counts(d, "doc_id", "text", vocab_size=200)
    return out.withColumn("n_wp_tokens", F.col("n_wp_tokens").cast("long"))


@q(
    "d69_suffix_array_ngrams",
    """WITH subs AS (
         SELECT substr(text, i, 20) AS gram
         FROM documents, LATERAL (
           SELECT unnest(range(1, greatest(length(text) - 19, 1) + 1)) AS i))
       SELECT gram, CAST(count(*) AS BIGINT) AS n
       FROM subs GROUP BY gram HAVING count(*) >= 4
       ORDER BY n DESC, gram LIMIT 25""",
)
def d69(spark, sf_dir):
    """D-ext (r5): repeated-span mining — the top-25 most frequent 20-char
    substrings (the sliding-window form of suffix-array duplicate
    detection; memorized spans surface as high-count substrings). Pass 1
    counts xxhash64(substring) so the corpus-sized shuffle moves 8-byte
    hashes; surviving hashes join back (unhinted) to recover the text;
    final top-k is TakeOrdered."""
    d = tables(spark, sf_dir)("documents")
    out = text.frequent_substrings(d, "text", length=20, min_count=4, k=25)
    return out.withColumn("n", F.col("n").cast("long"))


@q("d66_mmr_diverse_sample")  # rows-only: greedy selection is order-sequential
def d66(spark, sf_dir):
    """D-ext (r5): MMR diverse retrieval for query vec 0 — top-8 by
    relevance-minus-redundancy over a 64-candidate exact-retrieval pool.
    The greedy tail is driver-side over the PARAMETER-bounded candidate
    set (pq_topk's LUT contract); candidate generation is the distributed
    broadcast-query top-k. Invariants (first pick = argmax relevance,
    diversity vs pure top-k) pinned in tests/test_similarity.py."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.mmr_select(
        e.filter(F.col("vec_id") == 0), e.filter(F.col("vec_id") != 0),
        "vec_id", "vec_id", "embedding", k=8, lam=0.7, n_candidates=64,
    )


@q("d76_near_dup_clusters_simhash")  # rows-only: bit-vote signature is hash-family-specific
def d76(spark, sf_dir):
    """D-ext (r5): SimHash end-to-end near-dup clustering — d02b's banded
    Hamming pairs → connected components → per-doc cluster label and
    cluster size (the d02d composition on the SimHash tier). Exact-dup
    absorption pinned in tests/test_dedup.py."""
    d = tables(spark, sf_dir)("documents")
    pairs = dedup.simhash_near_pairs(d, "doc_id", "text", max_hamming=3)
    cc = dedup.connected_components(pairs, "id_a", "id_b")
    sizes = cc.groupBy("cluster").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, "cluster")
        .select(F.col("id").alias("doc_id"), "cluster", "cluster_size")
    )


@q(
    "d66b_mmr_guarantees",
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
       scored AS (
         SELECT c.vec_id,
                round(list_dot_product(q.qv, c.embedding::DOUBLE[]) /
                      (sqrt(list_dot_product(q.qv, q.qv)) *
                       sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6) AS cos
         FROM embeddings c, q WHERE c.vec_id != 0),
       best AS (SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 1)
       SELECT 'first_pick_is_argmax_relevance' AS rule,
              CAST((SELECT vec_id FROM best) AS BIGINT) AS val
       UNION ALL SELECT 'n_selected', CAST(8 AS BIGINT)
       UNION ALL SELECT 'n_distinct', CAST(8 AS BIGINT)""",
)
def d66b(spark, sf_dir):
    """d66 certification frame (the d02e/d31b pattern): the greedy
    selection ORDER stays rows-only, but the checkable contract
    hash-certifies — pick #1 must be the pure-relevance argmax (the
    diversity penalty is zero with nothing selected), and the output is
    exactly k distinct ids. The oracle recomputes the argmax with the
    same 6-dp rounding and id tiebreak."""
    e = tables(spark, sf_dir)("embeddings")
    sel = similarity.mmr_select(
        e.filter(F.col("vec_id") == 0), e.filter(F.col("vec_id") != 0),
        "vec_id", "vec_id", "embedding", k=8, lam=0.7, n_candidates=64,
    )
    rows = sel.collect()  # k rows — bounded by construction
    first = next(r.neighbor_id for r in rows if r.rank_selected == 1)
    return local_rows_df(spark,
        [
            ("first_pick_is_argmax_relevance", int(first)),
            ("n_selected", len(rows)),
            ("n_distinct", len({r.neighbor_id for r in rows})),
        ],
        "rule string, val long",
    )


@q(
    "d80_set_similarity_join",
    """WITH sh AS (
         SELECT doc_id,
                list_distinct([array_to_string(ws[i:i+2], ' ')
                               FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)]) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE
                    / len(list_distinct(a.s || b.s)), 6) AS jaccard
       FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       WHERE len(list_intersect(a.s, b.s))::DOUBLE
             / len(list_distinct(a.s || b.s)) >= 0.5""",
)
def d80(spark, sf_dir):
    """D2 exact tier (r6): Jaccard-threshold self-join by PREFIX FILTERING
    (``dedup.set_similarity_join``) — the deterministic complement to
    MinHash-LSH: the complete qualifying pair SET is returned (no banding
    recall term), so unlike d02 this is fully hash-certified against the
    oracle's O(n²) join. The engine explodes only frequency-ordered
    prefixes (~(1-t) of each doc's rarest shingles) into the candidate
    equi-join and verifies exactly — the high-df shingle head never
    enters the join."""
    d = tables(spark, sf_dir)("documents")
    return dedup.set_similarity_join(d, "doc_id", "text", threshold=0.5)


@q(
    "d79_triangle_count",
    """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
                   WHERE l_quantity > 30),
       e AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb
             FROM li a JOIN li b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
       SELECT (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
              (SELECT CAST(count(*) AS BIGINT)
               FROM e e1 JOIN e e2 ON e1.pb = e2.pa
                         JOIN e e3 ON e3.pa = e1.pa AND e3.pb = e2.pb)
                  AS n_triangles""",
)
def d79(spark, sf_dir):
    """Graph tier (r6): exact triangle count over the part co-purchase
    graph (parts sharing a high-quantity order line) —
    ``graph.triangle_count``'s DEGREE-ORIENTED wedge join: out-degree is
    capped at O(√E) by orienting edges low→high (degree, id), so wedge
    volume is O(E^1.5) under ANY skew, where the oracle's id-ordered
    3-way self-join pays Σ deg² (hub-quadratic). Counts are exact and
    identical; non-vacuous at fixture scale (≈11k triangles at sf0.01)."""
    from .. import graph

    li = tables(spark, sf_dir)("lineitem").filter(F.col("l_quantity") > 30).select(
        "l_orderkey", "l_partkey"
    )
    pairs = li.alias("a").join(
        li.alias("b"),
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("id_a"), F.col("b.l_partkey").alias("id_b"))
    return graph.triangle_count(pairs).select("n_edges", "n_triangles")


@q(
    "d77_hierarchy_depth",
    """SELECT doc_id, CAST(floor(log2(doc_id + 1)) AS INT) AS depth
       FROM documents""",
)
def d77(spark, sf_dir):
    """D-ext (r5): transitive-closure depth over a parent hierarchy —
    the org-chart/category-tree/thread-ancestry primitive, via POINTER
    DOUBLING (`graph.hierarchy_depth`: reachable distance doubles per
    self-join round, so a depth-10⁶ chain needs ~20 rounds — never a
    per-level loop). The fixture hierarchy is the binary-heap forest
    parent(i) = floor((i-1)/2), whose depth has the closed form
    floor(log2(i+1)) — so the oracle checks a genuinely iterative
    distributed computation against pure arithmetic."""
    from .. import graph

    d = tables(spark, sf_dir)("documents").select("doc_id")
    parents = d.select(
        F.col("doc_id").alias("id"),
        F.when(
            F.col("doc_id") > 0,
            F.floor((F.col("doc_id") - 1) / 2).cast("long"),
        ).alias("parent"),
    )
    out = graph.hierarchy_depth(parents)
    return out.select(
        F.col("id").alias("doc_id"), F.col("depth").cast("int").alias("depth")
    )


@q(
    "d81_cms_frequency",
    """WITH js AS (SELECT unnest(range(0, 4)) AS j,
                   unnest([1327217885, 48271, 16807, 69621]) AS m),
       g AS (SELECT j, ((user_id + j) * m) % 2147483647 % 64 AS b,
                    count(*) AS c
             FROM events CROSS JOIN js GROUP BY 1, 2),
       probe AS (SELECT DISTINCT user_id FROM events WHERE user_id < 30),
       pc AS (SELECT user_id, j,
                     ((user_id + j) * m) % 2147483647 % 64 AS b
              FROM probe CROSS JOIN js),
       est AS (SELECT user_id, min(coalesce(c, 0)) AS est_count
               FROM pc LEFT JOIN g USING (j, b) GROUP BY 1),
       t AS (SELECT user_id, count(*) AS true_count FROM events
             WHERE user_id < 30 GROUP BY 1)
       SELECT est.user_id, CAST(est_count AS BIGINT) AS est_count,
              CAST(true_count AS BIGINT) AS true_count,
              CAST(est_count - true_count AS BIGINT) AS overcount
       FROM est JOIN t USING (user_id)""",
)
def d81(spark, sf_dir):
    """Sketch tier (r6): Count-Min frequency estimates for the user_id<30
    probe set over event counts (``sketches.count_min_frequency``, depth 4
    x width 64) — bounded-state frequency, the mergeable complement to
    d78's KMV cardinality and d50's Misra-Gries heavy hitters. The shuffle
    carries at most depth*width counter cells per task regardless of input
    rows; probes broadcast-join the finished 256-row sketch. Width 64 is
    deliberately SMALLER than the ~150-user fixture domain so collisions
    are real and the min-over-rows estimator path (not a trivial
    zero-collision identity) is what certifies — estimates themselves are
    hash-checked because the d78 modular-permutation hash is plain integer
    arithmetic in both engines; overcount >= 0 is the CMS one-sided
    guarantee."""
    from .. import sketches

    e = tables(spark, sf_dir)("events")
    return sketches.count_min_frequency(
        e,
        "user_id",
        e.filter(F.col("user_id") < 30),
        "user_id",
        depth=4,
        width=64,
    )


@q(
    "d82_token_pmi",
    """WITH toks AS (SELECT DISTINCT doc_id, tok FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents)),
       vocab AS (SELECT tok, count(*) AS df FROM toks
                 GROUP BY 1 ORDER BY df DESC, tok LIMIT 40),
       vt AS (SELECT t.doc_id, t.tok, v.df FROM toks t JOIN vocab v USING (tok)),
       n AS (SELECT count(*) AS nd FROM documents),
       p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab,
                    any_value(a.df) AS dfa, any_value(b.df) AS dfb
             FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.tok < b.tok
             GROUP BY 1, 2)
       SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
              round(ln(n_ab::DOUBLE * nd / (dfa * dfb)), 6) AS pmi
       FROM p, n WHERE n_ab >= 5
       ORDER BY pmi DESC, tok_a, tok_b LIMIT 20""",
)
def d82(spark, sf_dir):
    """D5-ext (r6): top-20 token pairs by document-level PMI — the
    collocation/phrase-mining signal (``text.token_pmi``). The pair join
    is bounded by the broadcast top-40 vocabulary BEFORE pairing (per-doc
    fan-out C(vocab_hits, 2), never C(doc_len, 2)); N rides a broadcast
    1-row aggregate. ln is IEEE libm in both engines; 6-dp rounding
    absorbs the last-ulp divergence (the d58 treatment)."""
    d = tables(spark, sf_dir)("documents")
    return text.token_pmi(
        d, "doc_id", "text", top_vocab=40, min_pair_count=5, k=20
    )


@q(
    "d83_containment_join",
    """WITH sh AS (
         SELECT doc_id,
                list_distinct([array_to_string(ws[i:i+2], ' ')
                               FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)]) AS s
         FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))
       SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              round(len(list_intersect(a.s, b.s))::DOUBLE / len(a.s), 6)
                  AS containment
       FROM sh a JOIN sh b ON a.doc_id != b.doc_id
       WHERE len(list_intersect(a.s, b.s))::DOUBLE / len(a.s) >= 0.6""",
)
def d83(spark, sf_dir):
    """D2 exact tier (r6): directed containment join — |A∩B|/|A| >= 0.6
    over word-3-shingle sets (``dedup.containment_join``), the asymmetric
    near-superset detector d80's symmetric Jaccard cannot express (an
    excerpt inside a long original has containment ~1 but Jaccard ~0).
    Prefix filtering adapts to the asymmetry: A's rarest-first prefix
    probes B's FULL inverted index (containment bounds only the contained
    side), then exact verification on the full hash sets; fully
    hash-certified against the oracle's O(n²) pair join."""
    d = tables(spark, sf_dir)("documents")
    return dedup.containment_join(d, "doc_id", "text", threshold=0.6)


@q(
    "d84_silhouette",
    """WITH u AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS val,
                         generate_subscripts(embedding, 1) AS pos
                  FROM embeddings),
       cs AS (SELECT label AS lab, pos,
                     CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) AS s
              FROM u GROUP BY 1, 2),
       xx AS (SELECT vec_id, label AS own,
                     CAST(sum(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE) AS xx
              FROM u GROUP BY 1, 2),
       cstat AS (SELECT own AS lab, count(*) AS n,
                        CAST(sum(CAST(xx AS DECIMAL(28,12))) AS DOUBLE) AS s2
                 FROM xx GROUP BY 1),
       dots AS (SELECT u.vec_id, cs.lab,
                       CAST(sum(CAST(u.val * cs.s AS DECIMAL(28,12))) AS DOUBLE)
                           AS dot
                FROM u JOIN cs USING (pos) GROUP BY 1, 2),
       ssd AS (SELECT d.vec_id, x.own, d.lab, c.n,
                      c.n * x.xx + c.s2 - 2 * d.dot AS ssd
               FROM dots d JOIN cstat c USING (lab) JOIN xx x USING (vec_id)),
       pp AS (SELECT vec_id, own,
                     max(CASE WHEN lab = own THEN ssd / (n - 1) END) AS a,
                     min(CASE WHEN lab != own THEN ssd / n END) AS b
              FROM ssd GROUP BY 1, 2),
       sil AS (SELECT own AS label,
                      round((b - a) / greatest(a, b), 6) AS sil FROM pp)
       SELECT label, CAST(count(*) AS BIGINT) AS n_points,
              round(CAST(sum(CAST(sil AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6)
                  AS avg_silhouette
       FROM sil GROUP BY 1""",
)
def d84(spark, sf_dir):
    """D3-ext (r6): mean silhouette per label over squared-Euclidean
    distance (``similarity.silhouette_by_label``) — cluster quality
    before trusting labels as dedup blocks or routing cells. The O(n²)
    pairwise definition collapses to per-cluster sufficient statistics
    (Σ||x-y||² = n·||x||² + Σ||y||² - 2·x·Σy), so the engine is one
    posexplode pass + a broadcast k×dim sum matrix — O(n·k·dim) at any
    corpus size. The oracle mirrors the SAME algebra (not the pair join)
    through identical decimal accumulators, so a(i)/b(i) and the 6-dp
    silhouette are bit-equal."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.silhouette_by_label(e, "vec_id", "embedding", "label")


@q(
    "d85_tfidf_doc_similarity",
    """WITH tf AS (SELECT doc_id, tok, count(*) AS tf FROM (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok
           FROM documents) GROUP BY 1, 2),
       n AS (SELECT count(*) AS nd FROM documents),
       kept AS (SELECT tok, round(ln(nd::DOUBLE / df), 6) AS idf FROM
                (SELECT tok, count(*) AS df FROM tf GROUP BY 1), n
                WHERE df <= 0.5 * nd),
       w AS (SELECT tf.doc_id, tf.tok, tf.tf * kept.idf AS w
             FROM tf JOIN kept USING (tok)),
       norms AS (SELECT doc_id,
                        sqrt(CAST(sum(CAST(w * w AS DECIMAL(28,12))) AS DOUBLE))
                            AS nrm
                 FROM w GROUP BY 1),
       dots AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       CAST(sum(CAST(a.w * b.w AS DECIMAL(28,12))) AS DOUBLE)
                           AS dot
                FROM w a JOIN w b ON a.tok = b.tok AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
       SELECT id_a, id_b, round(dot / (na.nrm * nb.nrm), 6) AS cos_sim
       FROM dots JOIN norms na ON na.doc_id = id_a
                 JOIN norms nb ON nb.doc_id = id_b
       ORDER BY cos_sim DESC, id_a, id_b LIMIT 20""",
)
def d85(spark, sf_dir):
    """D5-ext (r6): top-20 document pairs by TF-IDF cosine over a SPARSE
    inverted-index join (``text.tfidf_doc_similarity``) — text similarity
    without embeddings: the pair sum runs only over shared tokens via a
    token equi-join, never an n² document product; the max-df cut drops
    the df² head (which carries ~zero idf weight) before the join. IDF's
    single ln() is pinned to 6 dp at birth; every accumulation after it
    is exact decimal, so the cosine — and the top-20 cut ordered by
    (rounded cos, ids) — is engine-independent."""
    d = tables(spark, sf_dir)("documents")
    return text.tfidf_doc_similarity(
        d, "doc_id", "text", max_df_frac=0.5, k=20
    )


@q(
    "d86_bm25_topk",
    """WITH q AS (SELECT unnest(['hash', 'join', 'vector']) AS tok),
       dl AS (SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents),
       stats AS (SELECT count(*) AS nd,
                        CAST(sum(CAST(dl AS DECIMAL(18,4))) AS DOUBLE)
                        / count(*) AS avgdl
                 FROM dl),
       tf AS (SELECT t.doc_id, t.tok, count(*) AS tf FROM (
                SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents) t JOIN q USING (tok) GROUP BY 1, 2),
       dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
       sc AS (SELECT tf.doc_id,
                     round(round(ln((nd - df + 0.5) / (df + 0.5) + 1), 6)
                           * tf * (1.2 + 1)
                           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl)),
                           6) AS c
              FROM tf JOIN dfq USING (tok) JOIN dl USING (doc_id), stats)
       SELECT doc_id, round(CAST(sum(CAST(c AS DECIMAL(18,6))) AS DOUBLE), 6)
                  AS bm25
       FROM sc GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""",
)
def d86(spark, sf_dir):
    """D5-ext (r6): BM25 top-10 retrieval for the query "hash join vector"
    (``text.bm25_topk``, k1=1.2 b=0.75) — ranking documents against a
    QUERY with tf saturation and length normalization, the retrieval
    complement to d85's doc-to-doc cosine. The query's term set is a
    literal isin filter pushed into the token explode — no data-sized
    join anywhere: matched-term tf, a ≤|query|-row df table (broadcast),
    one corpus-stats row, TakeOrdered top-k. idf and per-term
    contributions round to 6 dp; per-doc sums ride exact decimals."""
    d = tables(spark, sf_dir)("documents")
    return text.bm25_topk(d, "hash join vector", "doc_id", "text", k=10)


@q(
    "d87_cluster_medoids",
    """WITH u AS (SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS val,
                         generate_subscripts(embedding, 1) AS pos
                  FROM embeddings),
       cs AS (SELECT label AS lab, pos,
                     CAST(sum(CAST(val AS DECIMAL(28,12))) AS DOUBLE) AS s
              FROM u GROUP BY 1, 2),
       xx AS (SELECT vec_id, label AS lab,
                     CAST(sum(CAST(val * val AS DECIMAL(28,12))) AS DOUBLE) AS xx
              FROM u GROUP BY 1, 2),
       cstat AS (SELECT lab, count(*) AS n,
                        CAST(sum(CAST(xx AS DECIMAL(28,12))) AS DOUBLE) AS s2
                 FROM xx GROUP BY 1),
       dots AS (SELECT u.vec_id, u.label AS lab,
                       CAST(sum(CAST(u.val * cs.s AS DECIMAL(28,12))) AS DOUBLE)
                           AS dot
                FROM u JOIN cs ON cs.lab = u.label AND cs.pos = u.pos
                GROUP BY 1, 2),
       sc AS (SELECT d.lab, d.vec_id,
                     round((c.n * x.xx + c.s2 - 2 * d.dot) / (c.n - 1), 6)
                         AS mean_sq
              FROM dots d JOIN xx x ON x.vec_id = d.vec_id AND x.lab = d.lab
                          JOIN cstat c ON c.lab = d.lab),
       r AS (SELECT lab, vec_id, mean_sq,
                    row_number() OVER (PARTITION BY lab
                                       ORDER BY mean_sq, vec_id) AS rn
             FROM sc)
       SELECT lab AS label, vec_id AS medoid_id, mean_sq AS mean_sq_dist
       FROM r WHERE rn = 1""",
)
def d87(spark, sf_dir):
    """D3-ext (r6b): per-label medoids — the actual member vector
    minimizing total squared distance to its cluster
    (``similarity.cluster_medoids``), the servable representative where a
    centroid must be a real item. Same sufficient-statistics collapse as
    d84 (each point scores against only its own label's broadcast stats
    row, argmin via one min_by aggregate — O(n·dim), no pair join); the
    oracle mirrors the algebra and takes the same (mean_sq, id)-ordered
    argmin."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.cluster_medoids(e, "vec_id", "embedding", "label")


@q(
    "d88_embedding_covariance",
    """WITH s AS (
         SELECT t.i,
                CAST(sum(CAST(e.embedding[t.i]::DOUBLE AS DECIMAL(28,10)))
                     AS DOUBLE) AS sx
         FROM embeddings e, range(1, 9) t(i) GROUP BY 1),
       n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings),
       xy AS (
         SELECT ti.i, tj.j,
                CAST(sum(CAST(e.embedding[ti.i]::DOUBLE
                              * e.embedding[tj.j]::DOUBLE
                              AS DECIMAL(28,12))) AS DOUBLE) AS sxy
         FROM embeddings e, range(1, 9) ti(i), range(1, 9) tj(j)
         WHERE tj.j >= ti.i GROUP BY 1, 2)
       SELECT CAST(xy.i AS INT) AS i, CAST(xy.j AS INT) AS j,
              round(xy.sxy / n.n - (si.sx / n.n) * (sj.sx / n.n), 8) AS cov
       FROM xy JOIN s si ON si.i = xy.i JOIN s sj ON sj.i = xy.j
       CROSS JOIN n""",
)
def d88(spark, sf_dir):
    """D-ext (r6): covariance matrix of the leading embedding dimensions
    (``similarity.embedding_covariance``) — the exact sufficient-statistics
    input to PCA whitening, channel-correlation audits, and d74's diagonal
    z-scoring upgrade path. One data pass, one 1-row shuffle of DECIMAL
    accumulators, triangle exploded driver-free; the oracle recomputes the
    identical exact sums per (i, j)."""
    e = tables(spark, sf_dir)("embeddings")
    return similarity.embedding_covariance(e, "embedding", dims=8)


@q(
    "d89_source_kl_divergence",
    """WITH tok AS (
         SELECT source AS src, unnest(string_split(text, ' ')) AS tok
         FROM documents),
       cnt AS (SELECT src, tok, count(*) AS c_st FROM tok
               WHERE tok <> '' GROUP BY 1, 2),
       tot AS (SELECT src, CAST(sum(c_st) AS BIGINT) AS t_s FROM cnt GROUP BY 1),
       corpus AS (SELECT tok, CAST(sum(c_st) AS BIGINT) AS c_t FROM cnt GROUP BY 1),
       n AS (SELECT CAST(sum(t_s) AS BIGINT) AS n_total FROM tot)
       SELECT cnt.src AS source, CAST(max(tot.t_s) AS BIGINT) AS n_tokens,
              CAST(count(*) AS BIGINT) AS vocab,
              round(CAST(sum(CAST(
                  (cnt.c_st::DOUBLE / tot.t_s)
                  * round(ln((cnt.c_st::DOUBLE / tot.t_s)
                             / (corpus.c_t::DOUBLE / n.n_total)), 12)
                  AS DECIMAL(28,12))) AS DOUBLE), 6) AS kl_vs_corpus
       FROM cnt JOIN corpus USING (tok) JOIN tot USING (src) CROSS JOIN n
       GROUP BY 1""",
)
def d89(spark, sf_dir):
    """D-ext (r6c): per-source token-distribution KL divergence from the
    corpus (``text.source_kl_divergence``) — the DoReMi-style domain-
    reweighting signal and the distributional generalization of d60's
    facet-share drift. Token-keyed unhinted join, persisted count tree,
    12-dp-ln DECIMAL accumulation."""
    d = tables(spark, sf_dir)("documents")
    return text.source_kl_divergence(d, "text", "source")


@q(
    "d90_kmv_set_ops",
    """WITH dist AS (SELECT DISTINCT year(o_orderdate) AS g,
                            (o_custkey * 1327217885) % 2147483647 AS h
                     FROM orders),
       sk AS (SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
                FROM dist) WHERE rk <= 64),
       sizes AS (SELECT g, count(*) AS nd FROM dist GROUP BY 1),
       un AS (SELECT pair, h FROM (
                SELECT pair, h,
                       row_number() OVER (PARTITION BY pair ORDER BY h) AS rk
                FROM (SELECT DISTINCT pair, h FROM (
                        SELECT g AS pair, h FROM sk
                        UNION SELECT g - 1 AS pair, h FROM sk)))
              WHERE rk <= 64),
       ustat AS (SELECT pair, count(*) AS u_seen, max(h) AS u_kth
                 FROM un GROUP BY 1),
       b AS (SELECT un.pair, count(*) AS n_both FROM un
             JOIN sk sa ON sa.g = un.pair AND sa.h = un.h
             JOIN sk sb ON sb.g = un.pair + 1 AND sb.h = un.h
             GROUP BY 1),
       vals AS (SELECT DISTINCT year(o_orderdate) AS g, o_custkey AS v
                FROM orders),
       exi AS (SELECT l.g AS pair, count(*) AS exact_int
               FROM vals l JOIN vals r ON r.g = l.g + 1 AND r.v = l.v
               GROUP BY 1),
       j AS (SELECT u.pair, u.u_seen, u.u_kth,
                    sa.nd AS n_a, sb.nd AS n_b,
                    coalesce(b.n_both, 0) AS n_both,
                    coalesce(exi.exact_int, 0) AS exact_int,
                    CASE WHEN u.u_seen < 64 THEN u.u_seen::DOUBLE
                         ELSE round(63.0 * 2147483647 / u.u_kth, 4) END AS est_u
             FROM ustat u
             JOIN sizes sa ON sa.g = u.pair
             JOIN sizes sb ON sb.g = u.pair + 1
             LEFT JOIN b ON b.pair = u.pair
             LEFT JOIN exi ON exi.pair = u.pair)
       SELECT pair AS group_a, pair + 1 AS group_b,
              CAST(n_a AS BIGINT) AS exact_a, CAST(n_b AS BIGINT) AS exact_b,
              est_u AS est_union,
              round(n_both::DOUBLE / u_seen, 6) AS est_jaccard,
              round((n_both::DOUBLE / u_seen) * est_u, 4) AS est_intersection,
              CAST(n_a + n_b - exact_int AS BIGINT) AS exact_union,
              CAST(exact_int AS BIGINT) AS exact_intersection
       FROM j""",
)
def d90(spark, sf_dir):
    """Sketch tier (r6c): KMV sketch ALGEBRA (``sketches.kmv_set_ops``) —
    union/intersection/Jaccard estimation between consecutive order-year
    customer cohorts by MERGING bottom-k sketches (Beyer SIGMOD'07), the
    operation that lets per-partition/per-epoch sketches roll up without a
    second data pass at 100 TB. The d78 modular-permutation hash keeps the
    estimates themselves oracle-certifiable; exact pair truth rides along
    for the rel-err audit."""
    from .. import sketches

    o = tables(spark, sf_dir)("orders").select(
        F.year("o_orderdate").alias("yr"), "o_custkey"
    )
    return sketches.kmv_set_ops(o, "yr", "o_custkey", k=64)


@q(
    "d91_k_anonymity_audit",
    """WITH g AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
                count(*) AS sz,
                count(DISTINCT c_acctbal) AS l_div
         FROM customer GROUP BY 1, 2, 3)
       SELECT CAST(count(*) AS BIGINT) AS n_groups,
              CAST(min(sz) AS BIGINT) AS min_group_size,
              CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_small_groups,
              CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
                  AS n_rows_at_risk,
              round(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)::DOUBLE
                    / sum(sz), 6) AS suppression_rate,
              CAST(min(l_div) AS BIGINT) AS min_l_diversity
       FROM g""",
)
def d91(spark, sf_dir):
    """D-ext (r6c): k-anonymity / l-diversity audit over the quasi-
    identifier triple (nation, segment, coarse balance bucket) — the
    privacy gate a training-data release runs next to d14's PII flags:
    groups smaller than k are re-identifiable and their row mass is the
    suppression cost; min l-diversity is the homogeneity-attack bound
    (Sweeney '02 / Machanavajjhala '07). One QI-keyed aggregation (map-
    side partial) collapses the corpus to the QI-group frame; the audit
    summary is a second, group-frame-sized agg — counts are integer-
    exact, the one ratio rounds 6 dp. At 100 TB the QI frame is
    cardinality-bounded by the QI domain, not the data."""
    c = tables(spark, sf_dir)("customer")
    g = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_bucket"),
    ).agg(
        F.count("*").alias("sz"),
        F.countDistinct("c_acctbal").alias("l_div"),
    )
    small = F.when(F.col("sz") < 5, F.col("sz")).otherwise(0)
    return g.agg(
        F.count("*").cast("long").alias("n_groups"),
        F.min("sz").cast("long").alias("min_group_size"),
        F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
        .cast("long")
        .alias("n_small_groups"),
        F.sum(small).cast("long").alias("n_rows_at_risk"),
        F.round(F.sum(small).cast("double") / F.sum("sz"), 6).alias(
            "suppression_rate"
        ),
        F.min("l_div").cast("long").alias("min_l_diversity"),
    )


@q(
    "d92_source_data_card",
    """WITH d AS (
         SELECT source, text, md5(text) AS th,
                len(list_filter(string_split(text, ' '), x -> x <> ''))
                    AS n_words
         FROM documents),
       tok AS (SELECT source, unnest(string_split(text, ' ')) AS tok
               FROM documents),
       voc AS (SELECT source, count(DISTINCT tok) AS vocab
               FROM tok WHERE tok <> '' GROUP BY 1)
       SELECT d.source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_words) AS BIGINT) AS total_words,
              round(sum(n_words)::DOUBLE / count(*), 4) AS avg_words,
              CAST(min(n_words) AS BIGINT) AS min_words,
              CAST(max(n_words) AS BIGINT) AS max_words,
              round(sum(CASE WHEN n_words < 50 THEN 1 ELSE 0 END)::DOUBLE
                    / count(*), 6) AS pct_short,
              round(1.0 - count(DISTINCT th)::DOUBLE / count(*), 6)
                  AS exact_dup_rate,
              CAST(any_value(v.vocab) AS BIGINT) AS vocab
       FROM d JOIN voc v USING (source)
       GROUP BY 1""",
)
def d92(spark, sf_dir):
    """D-ext (r6c): the per-source DATA CARD — the release-artifact summary
    every corpus ship runs last (Datasheets for Datasets, Gebru '18): doc
    counts, token mass, length distribution, short-doc fraction, exact-
    duplicate rate (1 − distinct text hashes / docs) and vocabulary size.
    Two source-keyed aggregations (doc-level stats; token-level vocab) —
    the doc pass carries a 128-bit text hash instead of the text, so the
    shuffle is hash-sized; integer counts exact, the three ratios round.
    At 100 TB this is the same two passes — both map-side-partial,
    source-cardinality output."""
    d = tables(spark, sf_dir)("documents")
    docs = d.select(
        "source",
        F.md5("text").alias("th"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("n_words"),
    )
    base = docs.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.round(F.sum("n_words").cast("double") / F.count("*"), 4).alias(
            "avg_words"
        ),
        F.min("n_words").cast("long").alias("min_words"),
        F.max("n_words").cast("long").alias("max_words"),
        F.round(
            F.sum(F.when(F.col("n_words") < 50, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("pct_short"),
        F.round(
            1.0 - F.countDistinct("th").cast("double") / F.count("*"), 6
        ).alias("exact_dup_rate"),
    )
    voc = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("source")
        .agg(F.countDistinct("tok").cast("long").alias("vocab"))
    )
    return base.join(F.broadcast(voc), "source")


@q(
    "d93_raw_pixel_stats",
    """WITH px AS (
         SELECT d.doc_id, c.c AS channel,
                (7 * d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256 AS v
         FROM documents d, range(0, 16) x(x), range(0, 16) y(y),
              range(0, 3) c(c))
       SELECT doc_id, CAST(channel AS INT) AS channel,
              round(sum(v)::DOUBLE / count(*), 6) AS mean,
              CAST(min(v) AS INT) AS min, CAST(max(v) AS INT) AS max,
              round(sqrt(sum(v*v)::DOUBLE / count(*)
                         - (sum(v)::DOUBLE / count(*))
                           * (sum(v)::DOUBLE / count(*))), 6) AS std
       FROM px GROUP BY 1, 2""",
)
def d93(spark, sf_dir):
    """D7-ext (r6c): REAL pixel-level feature extraction, certified
    end-to-end — Spark synthesizes deterministic raw RGB888 frames
    (``multimodal.synth_raw_rgb``) and computes per-channel mean/min/max/
    std with numpy over Arrow batches (``raw_pixel_stats``); the oracle
    regenerates every pixel arithmetically and aggregates. Extends the
    d48 container tier down to DECODED-frame math: the only step still
    stubbed in this environment is the codec between the two."""
    d = tables(spark, sf_dir)("documents")
    frames = multimodal.synth_raw_rgb(d, "doc_id")
    return multimodal.raw_pixel_stats(frames, "payload", "doc_id")


# Shared rare-token edge CTE (the d65 graph): docs sharing a word 3-gram
# with document frequency 2-3, as a directed-both-ways distinct edge set.
_ED_CTE = """w AS (SELECT doc_id AS id, string_split(text, ' ') AS ws FROM documents),
       prs AS (
         SELECT id, unnest(list_distinct(
           [array_to_string(ws[i:i+2], ' ')
            FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)])) AS token
         FROM w),
       rare AS (
         SELECT token, list_sort(list(id)) AS ids FROM prs GROUP BY token
         HAVING count(*) BETWEEN 2 AND 3),
       ed AS (
         SELECT DISTINCT a.id AS s, b.id AS d
         FROM (SELECT token, unnest(ids) AS id FROM rare) a
         JOIN (SELECT token, unnest(ids) AS id FROM rare) b USING (token)
         WHERE a.id <> b.id)"""


@q(
    "d94_connected_components",
    "WITH RECURSIVE " + _ED_CTE + """,
       reach(id, r) AS (
         SELECT s, d FROM ed
         UNION
         SELECT rc.id, e.d FROM reach rc JOIN ed e ON e.s = rc.r
       )
       SELECT id AS doc_id, CAST(least(id, min(r)) AS BIGINT) AS cluster
       FROM reach GROUP BY id""",
)
def d94(spark, sf_dir):
    """Graph tier (r7): connected components over the d65 rare-token
    co-occurrence graph — the transitive dedup-cluster primitive as a
    STANDALONE certified operator (``dedup.connected_components`` at its
    default gate: the edge table fits under ``local_threshold``, so it
    is solved by driver-side union-find; d137 pins the distributed star
    contraction on the same fixture). The oracle is a DuckDB RECURSIVE
    CTE computing each node's full reachable set and taking the min —
    O(Σ component²) single-node transitive closure; identical labels
    certify the operator against a declarative fixpoint."""
    from .. import dedup, graph

    d = tables(spark, sf_dir)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", min_df=2, max_df=3, shingle=3)
    out = dedup.connected_components(edges, "id_a", "id_b")
    return out.select(
        F.col("id").alias("doc_id"), F.col("cluster").cast("long").alias("cluster")
    )


@q(
    "d95_bfs_hops",
    "WITH RECURSIVE " + _ED_CTE + """,
       seeds AS (SELECT DISTINCT s AS id FROM ed WHERE s % 23 = 0),
       walk(id, dist) AS (
         SELECT id, 0 FROM seeds
         UNION
         SELECT e.d, wk.dist + 1 FROM walk wk JOIN ed e ON e.s = wk.id
         WHERE wk.dist < 30
       )
       SELECT id AS doc_id, CAST(min(dist) AS INT) AS hops
       FROM walk GROUP BY id""",
)
def d95(spark, sf_dir):
    """Graph tier (r7): minimum hop distance from a seed set (doc_id %
    23 == 0 within the d65 rare-token graph) — the influence-radius /
    contamination-spread primitive (``graph.bfs_hops``: d100's
    ``graph.shortest_paths`` with every weight 1 — Bellman–Ford frontier
    relaxation, delta-only joins, node-sized state, rounds = seed-set
    eccentricity). The oracle is a depth-bounded DuckDB RECURSIVE CTE
    enumerating all ≤30-hop walks and taking the min — safe because the
    engine RAISES if any frontier survives 30 rounds (BFS settles level
    L at round L, so convergence within 30 proves every distance < 30).
    Unreachable nodes are absent on both sides."""
    from .. import graph

    d = tables(spark, sf_dir)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", min_df=2, max_df=3, shingle=3)
    nodes = edges.select(F.col("id_a").alias("id")).union(
        edges.select(F.col("id_b").alias("id"))
    ).distinct()
    seeds = nodes.filter(F.col("id") % 23 == 0)
    out = graph.bfs_hops(edges, seeds, "id_a", "id_b", max_iter=30)
    return out.select(F.col("id").alias("doc_id"), "hops")


@q(
    "d96_skipgram_ppmi",
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       pos AS (SELECT doc_id, i AS pos, ws[i] AS tok
               FROM ws, LATERAL (
                 SELECT unnest(range(1, len(ws) + 1)) AS i)),
       vocab AS (SELECT tok FROM (
         SELECT tok, count(*) AS c FROM pos GROUP BY tok
         ORDER BY c DESC, tok LIMIT 50)),
       h AS (SELECT p.doc_id, p.pos, p.tok FROM pos p JOIN vocab v USING (tok)),
       pr AS (SELECT least(a.tok, b.tok) AS tok_a, greatest(a.tok, b.tok) AS tok_b,
                     count(*) AS n_ab
              FROM h a JOIN h b
              ON a.doc_id = b.doc_id AND b.pos > a.pos
                 AND b.pos <= a.pos + 3 AND a.tok <> b.tok
              GROUP BY 1, 2),
       t AS (SELECT sum(n_ab) AS tt FROM pr),
       m AS (SELECT tok, sum(n) AS mm FROM (
               SELECT tok_a AS tok, n_ab AS n FROM pr
               UNION ALL SELECT tok_b, n_ab FROM pr) GROUP BY 1)
       SELECT tok_a, tok_b, CAST(n_ab AS BIGINT) AS n_ab,
              round(greatest(0, ln(4.0 * n_ab * tt / (ma.mm * mb.mm))), 6) AS ppmi
       FROM pr JOIN m ma ON ma.tok = pr.tok_a
               JOIN m mb ON mb.tok = pr.tok_b, t
       WHERE n_ab >= 5
       ORDER BY ppmi DESC, tok_a, tok_b LIMIT 20""",
)
def d96(spark, sf_dir):
    """D5-ext (r7): top-20 token pairs by POSITIVE PMI at skip-gram
    granularity — co-occurrence within ±3 token positions
    (``text.skipgram_ppmi``), the word2vec-style phrase/syntax signal
    d82's whole-document presence integrates away. The positional
    self-join is vocab-pruned BEFORE pairing and banded to ±3 positions,
    so the pair stream is O(tokens × window), never C(doc_len, 2);
    probabilities derive from the pair table itself (exact-integer
    marginals), so the ln's argument is an exact ratio and 6-dp rounding
    pins it cross-engine (the d58/d82 libm treatment)."""
    d = tables(spark, sf_dir)("documents")
    return text.skipgram_ppmi(
        d, "doc_id", "text", top_vocab=50, window=3, min_pair_count=5, k=20
    )


@q(
    "d97_kneser_ney_bigram",
    """WITH t AS (SELECT string_split(text, ' ') AS ws FROM documents),
       bg AS (SELECT ws[i] AS w1, ws[i+1] AS w2
              FROM t, LATERAL (
                SELECT unnest(range(1, greatest(len(ws), 1))) AS i)),
       c AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
       m AS (SELECT w1, w2, c12,
                    sum(c12) OVER (PARTITION BY w1) AS c1,
                    count(*) OVER (PARTITION BY w1) AS n1p_fw,
                    count(*) OVER (PARTITION BY w2) AS n1p_bw
             FROM c),
       tt AS (SELECT count(*) AS tt FROM c)
       SELECT w1, w2, CAST(c12 AS BIGINT) AS c12,
              round(c12::DOUBLE / c1, 6) AS p_mle,
              round((c12 - 0.75::DOUBLE) / c1
                    + 0.75::DOUBLE * n1p_fw / c1 * (n1p_bw::DOUBLE / tt.tt),
                    6) AS p_kn
       FROM m, tt ORDER BY c12 DESC, w1, w2 LIMIT 30""",
)
def d97(spark, sf_dir):
    """D-ext (r7): interpolated Kneser–Ney bigram probabilities for the
    top-30 corpus bigrams (``text.kneser_ney_bigram``, d=0.75) — the
    proper-smoothing rung above d46's add-1 model: absolute discounting
    plus continuation-probability backoff, the estimator perplexity-
    gated corpus filters actually use. One corpus-sized bigram count;
    context totals / fan-outs / fan-ins are windows over the MODEL rows
    (the d46 re-key trick) and the type total broadcasts. Every input to
    the probability is an exact integer (+ the dyadic 0.75), so the IEEE
    arithmetic agrees cross-engine and 6-dp rounding pins it — the
    smoothed probabilities themselves hash-certify."""
    d = tables(spark, sf_dir)("documents")
    return text.kneser_ney_bigram(d, "text", discount=0.75, k=30)


@q("d98_bpe_merges")
def d98(spark, sf_dir):
    """D-ext (r7): BPE merge-rule learning (``text.bpe_merges``, 8
    merges) — the Sennrich tokenizer-training loop as a distributed
    iterative operator: vocabulary-sized (word, freq, symbols) state,
    one pair-explode + count + TakeOrdered(1) argmax per round, symbol
    rewrite via a whole-stage-codegen ``aggregate`` HOF (the classic
    (out, pending) scan — greedy left-to-right non-overlapping merge).
    Rows-only by design: iterations 2+ depend on mutated symbol state
    only an iterative engine holds; iteration 1 is hash-certified from
    raw character pairs by the d98b twin, and the full loop is checked
    against a hand-computed textbook corpus in pytest."""
    d = tables(spark, sf_dir)("documents")
    return text.bpe_merges(d, "text", n_merges=8)


@q(
    "d98b_bpe_first_merge",
    """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM wd WHERE length(w) > 0 GROUP BY 1),
       ch AS (SELECT f, w[i] AS a, w[i+1] AS b
              FROM wf, LATERAL (
                SELECT unnest(range(1, length(w))) AS i)),
       pc AS (SELECT a, b, sum(f) AS cnt FROM ch GROUP BY 1, 2)
       SELECT CAST(1 AS INT) AS rank, a AS sym_a, b AS sym_b,
              a || b AS merged, CAST(cnt AS BIGINT) AS pair_count
       FROM pc ORDER BY cnt DESC, a, b LIMIT 1""",
)
def d98b(spark, sf_dir):
    """Certification twin for d98 (the d02e/d47b pattern): BPE iteration
    1 — the argmax over frequency-weighted adjacent CHARACTER pairs — is
    exactly SQL-expressible, so the engine's first learned merge rule
    (pair, merged symbol, weighted count, deterministic count-desc/pair
    tie-break) hash-certifies against the oracle; later iterations
    mutate symbol state the declarative side cannot reach."""
    d = tables(spark, sf_dir)("documents")
    return text.bpe_merges(d, "text", n_merges=1)


@q(
    "d99_bmp_ppm_decode",
    """WITH dims AS (SELECT doc_id,
                     CAST(5 + doc_id % 8 AS INT) AS w,
                     CAST(4 + (3 * doc_id) % 8 AS INT) AS h,
                     CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'ppm' END AS fmt
              FROM documents),
       px AS (SELECT d.doc_id, d.fmt, d.w, d.h, c.c AS channel,
                     (7 * d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256 AS v,
                     (x.x + 1) * (y.y + 2) AS wgt
              FROM dims d, range(0, 12) x(x), range(0, 11) y(y),
                   range(0, 3) c(c)
              WHERE x.x < d.w AND y.y < d.h)
       SELECT doc_id, fmt AS format, w AS width, h AS height,
              CAST(channel AS INT) AS channel,
              round(sum(v)::DOUBLE / count(*), 6) AS mean,
              CAST(min(v) AS INT) AS min, CAST(max(v) AS INT) AS max,
              round(sqrt(sum(v * v)::DOUBLE / count(*)
                         - (sum(v)::DOUBLE / count(*))
                           * (sum(v)::DOUBLE / count(*))), 6) AS std,
              CAST(sum(v * wgt) AS BIGINT) AS pos_sum
       FROM px GROUP BY 1, 2, 3, 4, 5""",
)
def d99(spark, sf_dir):
    """D7-ext (r8): REAL image-file decode, certified end-to-end with NO
    codec library — Spark writes a valid 24-bit BMP (bottom-up BGR rows,
    4-byte padding) or binary PPM (P6) per document
    (``multimodal.synth_bmp_ppm``), decodes it back to the logical pixel
    grid in pure numpy (``decode_bmp_ppm_stats``: header walk, padding
    strip, row un-flip, BGR→RGB), and aggregates per-channel stats plus a
    POSITION-WEIGHTED checksum Σ v·(x+1)·(y+2) that a mis-flipped or
    mis-padded decode cannot fake (order-free stats alone would pass a
    row-flip bug). The oracle regenerates every pixel arithmetically —
    the d48/d93 certification pattern — closing the codec gap down to
    COMPRESSED formats only (JPEG/PNG entropy coding: `decode_real`)."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_bmp_ppm(d, "doc_id")
    return multimodal.decode_bmp_ppm_stats(files, "payload", "doc_id")


# d98c: per-round SQL replay of the BPE loop.  The greedy left-to-right
# non-overlapping merge is replayed as a single-pass string replace over a
# sentinel-delimited symbol string: symbols are joined with a DOUBLE
# chr(31) separator and the pattern <s1>a<s1><s1>b<s1> is replaced by
# <s1>ab<s1> — the pattern consumes one sentinel from each side of the
# double separator and the replacement restores them, so consecutive
# matches stay matchable ([a,b,a,b] merges BOTH pairs) while a single-pass
# replace still cannot re-match its own output ([a,a,a] with pair (a,a)
# gives [aa, a] — exactly the engine's (out, pend) scan semantics).
_BPE_SEP = "chr(31)"  # sentinels inlined: DuckDB's array_to_string/
_BPE_SEP2 = "(chr(31) || chr(31))"  # string_agg demand a CONSTANT separator

_BPE_ROUND = """,
       syms{r} AS (SELECT f, s,
                          list_filter(string_split(s, {ss2}), x -> x <> '') AS syms
                   FROM s{r}),
       p{r} AS (SELECT syms[i] AS a, syms[i + 1] AS b, sum(f) AS cnt
                FROM syms{r}, LATERAL (
                  SELECT unnest(range(1, greatest(len(syms), 1))) AS i)
                GROUP BY 1, 2),
       m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
       s{n} AS (SELECT f,
                       replace(s, {s1} || m.a || {ss2} || m.b || {s1},
                               {s1} || m.a || m.b || {s1}) AS s
                FROM syms{r}, m{r} m)"""


# The 3-round learning chain (wf -> s1..s4, winners m1..m3), shared by the
# d98c replay certification and the d102 encoder oracle.
_BPE_CHAIN3 = (
    """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM wd WHERE length(w) > 0 GROUP BY 1),
       s1 AS (SELECT f, {ss2} || array_to_string(
                          [w[i] FOR i IN range(1, length(w) + 1)], {s2lit}) || {ss2} AS s
              FROM wf)""".format(ss2=_BPE_SEP2, s2lit=_BPE_SEP2)
    + _BPE_ROUND.format(r=1, n=2, s1=_BPE_SEP, ss2=_BPE_SEP2)
    + _BPE_ROUND.format(r=2, n=3, s1=_BPE_SEP, ss2=_BPE_SEP2)
    + _BPE_ROUND.format(r=3, n=4, s1=_BPE_SEP, ss2=_BPE_SEP2)
)


@q(
    "d98c_bpe_merge_replay",
    _BPE_CHAIN3
    + """
       SELECT CAST(1 AS INT) AS rank, a AS sym_a, b AS sym_b, a || b AS merged,
              CAST(cnt AS BIGINT) AS pair_count FROM m1
       UNION ALL
       SELECT CAST(2 AS INT), a, b, a || b, CAST(cnt AS BIGINT) FROM m2
       UNION ALL
       SELECT CAST(3 AS INT), a, b, a || b, CAST(cnt AS BIGINT) FROM m3""",
)
def d98c(spark, sf_dir):
    """Certification deepener for d98 (VERDICT r7 #3): merges 1–3 of the
    BPE loop hash-certify against an UNROLLED per-round SQL replay — each
    round recomputes the frequency-weighted pair argmax (count desc, pair
    tie-break) and rewrites the symbol state with a sentinel-delimited
    greedy string replace that reproduces the engine's (out, pend) scan
    exactly (see _BPE_ROUND).  Rounds 2–3 exercise what d98b cannot: the
    argmax over MUTATED symbol state, including merged symbols competing
    in later pair counts.  d98 itself stays rows-only for the full
    8-merge table.  chr(31) (ASCII unit separator) cannot appear in the
    corpus text, so the sentinel encoding is collision-free."""
    d = tables(spark, sf_dir)("documents")
    return text.bpe_merges(d, "text", n_merges=3)


# Shared weighted-edge fragment for d100: the d94/d95 rare-token graph
# with a deterministic symmetric integer weight 1 + (a + b) mod 5.
@q(
    "d100_shortest_paths",
    "WITH RECURSIVE " + _ED_CTE + """,
       wed AS (SELECT s, d, 1 + (s + d) % 5 AS w FROM ed),
       seeds AS (SELECT DISTINCT s AS id FROM ed WHERE s % 23 = 0),
       walk(id, dist, hops) AS (
         SELECT id, CAST(0 AS BIGINT), 0 FROM seeds
         UNION
         SELECT e.d, wk.dist + e.w, wk.hops + 1
         FROM walk wk JOIN wed e ON e.s = wk.id
         WHERE wk.hops < 30
       )
       SELECT id AS doc_id, CAST(min(dist) AS BIGINT) AS dist
       FROM walk GROUP BY id""",
)
def d100(spark, sf_dir):
    """Graph tier (r8): single-source-set WEIGHTED shortest paths over
    the d65 rare-token graph with deterministic integer edge weights
    1 + (id_a + id_b) mod 5 (``graph.shortest_paths``: Bellman–Ford
    frontier relaxation — delta-only joins, node-sized state, exact long
    distance sums, raise-on-non-convergence).  Completes the graph tier
    next to CC/BFS/PageRank/triangles.  The oracle enumerates all ≤30-hop
    walks in a depth-bounded recursive CTE and takes the min — exhaustive
    BECAUSE the engine raises if any frontier survives 30 rounds
    (Bellman–Ford settles every shortest path of ≤ k edges by round k,
    so convergence within 30 proves no shortest path is longer)."""
    from .. import graph

    d = tables(spark, sf_dir)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", min_df=2, max_df=3, shingle=3)
    weighted = edges.withColumn(
        "w", (F.lit(1) + (F.col("id_a") + F.col("id_b")) % 5).cast("long")
    )
    nodes = edges.select(F.col("id_a").alias("id")).union(
        edges.select(F.col("id_b").alias("id"))
    ).distinct()
    seeds = nodes.filter(F.col("id") % 23 == 0)
    out = graph.shortest_paths(weighted, seeds, "id_a", "id_b", "w", max_iter=30)
    return out.select(F.col("id").alias("doc_id"), "dist")


@q(
    "d101_ivf_nprobe_recall",
    """WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
                  WHERE vec_id % 29 = 0),
       gt AS (SELECT query_id, neighbor_id FROM (
                SELECT q.query_id, c.vec_id AS neighbor_id,
                       row_number() OVER (PARTITION BY q.query_id ORDER BY
                         round(
                           list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) /
                           (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[])) *
                            sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))), 6)
                         DESC, c.vec_id) AS rnk
                FROM q CROSS JOIN embeddings c)
              WHERE rnk <= 5),
       pat AS (SELECT vec_id,
                      CAST(8 * (embedding[1] > 0)::INT + 4 * (embedding[17] > 0)::INT
                           + 2 * (embedding[33] > 0)::INT + (embedding[49] > 0)::INT
                           AS INT) AS patt
               FROM embeddings),
       rk AS (SELECT p.p AS qpat, c.c AS cell,
                     row_number() OVER (PARTITION BY p.p ORDER BY
                       abs((p.p // 8) % 2 - (c.c // 8) % 2)
                       + abs((p.p // 4) % 2 - (c.c // 4) % 2)
                       + abs((p.p // 2) % 2 - (c.c // 2) % 2)
                       + abs(p.p % 2 - c.c % 2), c.c) AS prank
              FROM range(0, 16) p(p), range(0, 16) c(c)),
       grid AS (SELECT np FROM (VALUES (1), (2), (4), (8), (16)) v(np)),
       sizes AS (SELECT patt AS cell, count(*) AS sz FROM pat GROUP BY 1),
       scant AS (SELECT r.qpat, g.np,
                        sum(CASE WHEN r.prank <= g.np
                            THEN coalesce(s.sz, 0) ELSE 0 END) AS scanned
                 FROM rk r LEFT JOIN sizes s USING (cell), grid g
                 GROUP BY 1, 2),
       hits AS (SELECT g.np,
                       count(DISTINCT gt.query_id) AS n_queries,
                       count(*) AS n_true,
                       sum((r.prank <= g.np)::INT) AS n_found
                FROM gt JOIN pat pn ON pn.vec_id = gt.neighbor_id
                        JOIN pat pq ON pq.vec_id = gt.query_id
                        JOIN rk r ON r.qpat = pq.patt AND r.cell = pn.patt,
                     grid g
                GROUP BY 1),
       scans AS (SELECT st.np, sum(st.scanned) AS total_scanned,
                        count(*) AS nq
                 FROM q JOIN pat pq ON pq.vec_id = q.query_id
                        JOIN scant st ON st.qpat = pq.patt
                 GROUP BY 1),
       corp AS (SELECT count(*) AS nc FROM embeddings)
       SELECT CAST(h.np AS INT) AS nprobe,
              CAST(h.n_queries AS BIGINT) AS n_queries,
              CAST(h.n_true AS BIGINT) AS n_true,
              CAST(h.n_found AS BIGINT) AS n_found,
              round(h.n_found::DOUBLE / h.n_true, 6) AS recall,
              round(s.total_scanned::DOUBLE / (s.nq * corp.nc), 6) AS scan_frac
       FROM hits h JOIN scans s ON s.np = h.np, corp""",
)
def d101(spark, sf_dir):
    """ANN design tool (r8, VERDICT r7 #5): the d72 band-tuning symmetry
    for the IVF tiers — achieved recall@5 vs brute-force ground truth AND
    corpus-scan fraction per nprobe in {1,2,4,8,16}, over a 16-cell
    SIGN-BIT coarse quantizer with Hamming-distance probe order
    (``similarity.ivf_nprobe_recall_sweep``).  Sign tests and Hamming
    ranks are exact integer arithmetic both engines replay bit-for-bit —
    unlike trained k-means centroids (float means, partial-aggregation
    order) — so this sweep hash-certifies while measuring the same
    recall-vs-cost mechanics nprobe trades along in d03d/d03g.  A true
    neighbor is recalled iff its cell ranks ≤ nprobe in the query's probe
    order, so the whole curve is membership arithmetic over the observed
    neighbor sets: one GT pass + broadcast rank table, no banded search,
    nothing corpus²."""
    e = tables(spark, sf_dir)("embeddings")
    queries = e.filter(F.col("vec_id") % 29 == 0)
    return similarity.ivf_nprobe_recall_sweep(
        queries, e, "vec_id", "vec_id", "embedding",
        dims=(1, 17, 33, 49), grid=(1, 2, 4, 8, 16), k=5,
    )


@q(
    "d102_bpe_encode",
    _BPE_CHAIN3
    + """,
       swf AS (SELECT source, w, count(*) AS f FROM (
                 SELECT source, unnest(string_split(text, ' ')) AS w
                 FROM documents)
               WHERE length(w) > 0 GROUP BY 1, 2),
       st AS (SELECT source, w, f,
                     {ss2} || array_to_string(
                       [w[i] FOR i IN range(1, length(w) + 1)], {ss2}) || {ss2} AS s
              FROM swf),
       e1 AS (SELECT source, w, f,
                     replace(s, {s1} || m.a || {ss2} || m.b || {s1},
                             {s1} || m.a || m.b || {s1}) AS s
              FROM st, m1 m),
       e2 AS (SELECT source, w, f,
                     replace(s, {s1} || m.a || {ss2} || m.b || {s1},
                             {s1} || m.a || m.b || {s1}) AS s
              FROM e1, m2 m),
       e3 AS (SELECT source, w, f,
                     replace(s, {s1} || m.a || {ss2} || m.b || {s1},
                             {s1} || m.a || m.b || {s1}) AS s
              FROM e2, m3 m),
       enc AS (SELECT source, f, length(w) AS nc,
                      len(list_filter(string_split(s, {ss2}), x -> x <> '')) AS nt
               FROM e3)""".format(s1=_BPE_SEP, ss2=_BPE_SEP2)
    + """
       SELECT source, CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(f) AS BIGINT) AS n_word_occurrences,
              CAST(sum(f * nc) AS BIGINT) AS n_chars,
              CAST(sum(f * nt) AS BIGINT) AS n_tokens,
              round(sum(f * nt)::DOUBLE / sum(f), 6) AS tokens_per_word,
              round(sum(f * nc)::DOUBLE / sum(f * nt), 6) AS compression
       FROM enc GROUP BY 1""",
)
def d102(spark, sf_dir):
    """Tokenizer APPLICATION (r8) — completes the train→certify→apply
    story: learn 3 BPE merges (the d98 loop), ENCODE the corpus with them
    (text.bpe_encode_stats: the whole rule chain is nested codegen
    bpe_rewrite_expr projections applied in ONE scan — no per-rule
    shuffle), and report per-source tokenizer fertility (tokens/word) and
    compression (chars/token), the numbers a tokenizer choice is judged
    by. The oracle re-learns the rules with the d98c replay chain and
    re-encodes every (source, word) with the same sentinel-replace; all
    counts are exact integers, the two ratios 6-dp."""
    d = tables(spark, sf_dir)("documents")
    return text.bpe_encode_stats(d, "text", "source", n_merges=3)


def _logreg_oracle(steps: int = 3) -> str:
    """Unrolled GD replay for d103 (the PageRank/d98c discipline): each
    step recomputes the snapped-term gradient sums from the feature CTE
    and the previous step's rounded weights, entirely in SQL."""
    z = "(w.w0 * f.x0 + w.w1 * f.x1 + w.w2 * f.x2)"
    sql = """WITH f AS (
         SELECT (lang = 'en')::INT AS y, 1.0 AS x0,
                len(list_filter(string_split(text, ' '),
                    w -> w <> ''))::DOUBLE / 100.0 AS x1,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                  / greatest(length(text), 1) AS x2
         FROM documents),
       w0s AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)"""
    for s in range(1, steps + 1):
        terms = ",\n              ".join(
            "CAST(sum(CAST(round((f.y - 1 / (1 + exp(-{z}))) * f.x{j}, 12)"
            " AS DECIMAL(30,12))) AS DOUBLE) AS g{j}".format(z=z, j=j)
            for j in range(3)
        )
        sql += """,
       g{s} AS (SELECT count(*) AS n, w.w0 AS pw0, w.w1 AS pw1, w.w2 AS pw2,
              {terms},
              sum((({z} > 0)::INT = f.y)::INT) AS ok
              FROM f, w{p}s w GROUP BY 2, 3, 4),
       w{s}s AS (SELECT n, round(pw0 + g0 / n, 12) AS w0,
                      round(pw1 + g1 / n, 12) AS w1,
                      round(pw2 + g2 / n, 12) AS w2,
                      round(ok::DOUBLE / n, 6) AS acc
               FROM g{s})""".format(s=s, p=s - 1, terms=terms, z=z)
    sql += "\n       " + "\n       UNION ALL ".join(
        "SELECT CAST({s} AS INT) AS step, w0 AS w_bias, w1 AS w_f_len, "
        "w2 AS w_f_punct, acc AS accuracy, CAST(n AS BIGINT) AS n "
        "FROM w{s}s".format(s=s)
        for s in range(1, steps + 1)
    )
    return sql


@q("d103_logreg_quality", _logreg_oracle(3))
def d103(spark, sf_dir):
    """Iterative SUPERVISED training (r8) — full-batch logistic-
    regression GD (``stats.logistic_regression_gd``): 3 sweeps training
    an is-English gate from length and punctuation features, the
    fastText-style quality/language-filter training step of a data
    pipeline.  Joins the k-means/PageRank/label-propagation/BPE evidence
    class with the SUPERVISED loop: each step is one map-side-combined
    aggregate (k+1 snapped-term DECIMAL gradient sums + exact sign-test
    accuracy), the driver holds only the weight vector, and the oracle
    replays the unrolled recurrence — per-row terms 12-dp-snapped before
    DECIMAL summing (the PSI/ln libm discipline: the one exp ulp is 3
    orders below the snap), weights 12-dp-rounded between steps so step
    k+1's inputs are engine-exact."""
    from .. import stats

    d = tables(spark, sf_dir)("documents")
    feats = d.select(
        (F.col("lang") == "en").cast("int").alias("y"),
        (
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
            .cast("double") / F.lit(100.0)
        ).alias("f_len"),
        (
            F.size(
                F.regexp_extract_all("text", F.lit("[^A-Za-z0-9\\s]"), 0)
            ).cast("double") / F.greatest(F.length("text"), F.lit(1))
        ).alias("f_punct"),
    )
    return stats.logistic_regression_gd(
        feats, ["f_len", "f_punct"], "y", lr=1.0, steps=3
    )


@q(
    "d104_html_extract",
    r"""WITH h AS (
         SELECT doc_id,
                '<html><head><title>doc ' || doc_id ||
                '</title><script>var x=1;</script><style>.a{color:red}</style>' ||
                '</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>' ||
                '<div class="main"><p>' || text || '</p></div>' ||
                '<footer>(c) corpus ' || (doc_id % 7) || '</footer></body></html>' AS html,
                text
         FROM documents),
       e AS (
         SELECT doc_id, html, text,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
                      '(?is)<footer[^>]*>.*?</footer>', ' ', 'g'),
                    '<[^>]+>', ' ', 'g'),
                  '\s+', ' ', 'g')) AS extracted
         FROM h)
       SELECT doc_id,
              CAST(len(regexp_extract_all(html, '<[^>]+>')) AS INT) AS n_tags,
              CAST(length(html) AS BIGINT) AS html_len,
              CAST(length(extracted) AS BIGINT) AS text_len,
              round(length(extracted)::DOUBLE / length(html), 6) AS text_ratio,
              CAST((extracted = 'doc ' || doc_id || ' ' ||
                    trim(regexp_replace(text, '\s+', ' ', 'g'))) AS INT)
                  AS roundtrip_ok
       FROM e""",
)
def d104(spark, sf_dir):
    """Web-crawl tier (r8): HTML boilerplate-strip / main-content
    extraction (``text.html_main_text``) — the FIRST step of every
    common-crawl pipeline, certified end-to-end by the d48/d99 synth
    pattern: wrap each document in a deterministic HTML page
    (title/script/style/nav/footer boilerplate), extract the main text
    with a pure-codegen backreference-free regexp chain (same
    expressions run on Java regex and RE2), and check the ROUNDTRIP —
    extracted text must equal the title remnant plus the original
    document with collapsed whitespace, so a chain that eats content or
    leaks boilerplate fails the flag, not just a ratio. Zero UDFs, zero
    shuffles; per-doc boilerplate-ratio stats are the gating signal."""
    d = tables(spark, sf_dir)("documents")
    html = F.concat(
        F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script><style>.a{color:red}</style>'),
        F.lit('</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>'),
        F.lit('<div class="main"><p>'), F.col("text"),
        F.lit("</p></div><footer>(c) corpus "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    h = d.select("doc_id", html.alias("html"), "text")
    extracted = text.html_main_text(F.col("html"))
    want = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
        F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")),
    )
    return h.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit("<[^>]+>"), 0)).alias("n_tags"),
        F.length("html").cast("long").alias("html_len"),
        F.length(extracted).cast("long").alias("text_len"),
        F.round(
            F.length(extracted).cast("double") / F.length("html"), 6
        ).alias("text_ratio"),
        (extracted == want).cast("int").alias("roundtrip_ok"),
    )


# shared by d105 (sequential scanlines) and d120 (Adam7 interlaced): the
# pass layout must be RESULT-INVISIBLE, so both decode to identical stats
_PNG_RGB_ORACLE = """WITH dims AS (SELECT doc_id,
                     CAST(6 + doc_id % 7 AS INT) AS w,
                     CAST(5 + (2 * doc_id) % 7 AS INT) AS h
              FROM documents),
       px AS (SELECT d.doc_id, d.w, d.h, c.c AS channel,
                     (7 * d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256 AS v,
                     (x.x + 1) * (y.y + 2) AS wgt
              FROM dims d, range(0, 12) x(x), range(0, 11) y(y),
                   range(0, 3) c(c)
              WHERE x.x < d.w AND y.y < d.h)
       SELECT doc_id, 'png' AS format, w AS width, h AS height,
              CAST(channel AS INT) AS channel,
              round(sum(v)::DOUBLE / count(*), 6) AS mean,
              CAST(min(v) AS INT) AS min, CAST(max(v) AS INT) AS max,
              round(sqrt(sum(v * v)::DOUBLE / count(*)
                         - (sum(v)::DOUBLE / count(*))
                           * (sum(v)::DOUBLE / count(*))), 6) AS std,
              CAST(sum(v * wgt) AS BIGINT) AS pos_sum
       FROM px GROUP BY 1, 2, 3, 4, 5"""


@q("d105_png_decode", _PNG_RGB_ORACLE)
def d105(spark, sf_dir):
    """D7-ext (r9, VERDICT r8 #3): REAL COMPRESSED-format decode with no
    codec library — Spark writes a valid zlib-DEFLATE PNG per document
    (``multimodal.synth_png``: CRC-stamped chunks, scanline y filtered
    with type (id+y)%5 so every image exercises ALL FIVE PNG filters,
    ids ≡ 0 mod 3 split across two IDAT chunks), decodes it back
    (``multimodal.decode_png_stats``: chunk walk + CRC verify + IDAT
    concat + inflate + Sub/Up/Average/Paeth unfiltering) and aggregates
    per-channel stats plus the position-weighted checksum
    Σ v·(x+1)·(y+2).  A wrong unfilter corrupts every later filtered
    row, so pos_sum certifies the whole filter chain; the oracle
    regenerates every pixel arithmetically (the d48/d93/d99 pattern).
    The multimodal stub now shrinks to LOSSY codecs only (JPEG entropy
    decode, audio resample).  Scale: pure mapInPandas over Arrow
    batches, zero shuffles, one output row per (image, channel)."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_png(d, "doc_id")
    return multimodal.decode_png_stats(files, "payload", "doc_id")


@q(
    "d106_bpe_batched_merges",
    """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM wd WHERE length(w) > 0 GROUP BY 1),
       ch AS (SELECT f, w[i] AS a, w[i+1] AS b
              FROM wf, LATERAL (
                SELECT unnest(range(1, length(w))) AS i)),
       pc AS (SELECT a, b, sum(f) AS cnt FROM ch GROUP BY 1, 2),
       fm AS (SELECT cnt FROM pc ORDER BY cnt DESC, a, b LIMIT 1)
       SELECT 'vocab_words' AS rule, CAST(count(*) AS BIGINT) AS val FROM wf
       UNION ALL
       SELECT 'initial_token_mass', CAST(sum(f * length(w)) AS BIGINT) FROM wf
       UNION ALL
       SELECT 'mass_start', CAST(sum(f * length(w)) AS BIGINT) FROM wf
       UNION ALL
       SELECT 'first_merge_count', CAST(cnt AS BIGINT) FROM fm
       UNION ALL SELECT 'n_rules', CAST(60 AS BIGINT)
       UNION ALL SELECT 'head_nonmonotone_rounds', CAST(0 AS BIGINT)
       UNION ALL SELECT 'rank_order_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'batch_overlap_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'mass_increase_rounds', CAST(0 AS BIGINT)
       UNION ALL SELECT 'mass_drop_exceeds_counts_rounds', CAST(0 AS BIGINT)
       UNION ALL SELECT 'mass_drop_below_rules_rounds', CAST(0 AS BIGINT)""",
)
def d106(spark, sf_dir):
    """Tokenizer tier at scale (r9, VERDICT r8 #4): BATCHED BPE merge
    learning — ``text.bpe_merges_batched`` admits the top-k mutually
    symbol-disjoint pairs per round and rewrites the vocabulary with all
    of them in ONE map-lookup codegen pass, taking the rounds budget
    from n_merges to ~n_merges/batch (60 merges in 3-4 rounds here;
    SCALE.md has the budget table). Batched selection can diverge from
    sequential BPE past rank 1 BY DESIGN (later in-batch rules ignore
    earlier rules' effects), so certification is an INVARIANTS frame the
    oracle replays from the source: vocabulary size and initial token
    mass (recomputed), the rank-1 rule's count (the SQL-expressible
    sequential argmax — batched and sequential agree at rank 1), and
    pinned-zero violation counters — per-round head-count monotonicity
    (new pairs' counts are bounded by the consumed rule's count), exact
    mass-conservation bounds (n_rules ≤ per-round mass drop ≤ admitted
    count sum), within-round rank ordering, and batch symbol
    disjointness. d98/d98c keep certifying the sequential semantics."""
    d = tables(spark, sf_dir)("documents")
    merges, rounds = text.bpe_merges_batched(d, "text", n_merges=60, batch=20)
    # The oracle pins n_rules = 60, but the learner legitimately stops
    # early when the candidate pool dries up or no symbol-disjoint pair
    # remains — on a thinner corpus Spark and oracle would then silently
    # hash-diverge.  Make the fixture-richness assumption explicit
    # (ADVICE r9): merges is a driver-built rule table, so count() is a
    # local-relation scan, not a cluster job.
    n_rules = merges.count()
    if n_rules != 60:
        raise ValueError(
            f"d106: corpus sustained only {n_rules}/60 batched BPE merges "
            "(candidate pool dried up or no symbol-disjoint pair was "
            "admissible) — the DuckDB oracle pins n_rules=60, so this "
            "fixture cannot certify; enrich the corpus or lower n_merges"
        )

    wf = (
        d.select(F.explode(text.tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    base = wf.agg(
        F.count("*").cast("long").alias("vocab_words"),
        F.sum(F.col("f") * F.length("w")).cast("long").alias("initial_token_mass"),
    ).select(
        F.expr(
            "stack(2, 'vocab_words', vocab_words, "
            "'initial_token_mass', initial_token_mass) AS (rule, val)"
        )
    )
    # rounds_df is round-count-sized (tiny); the constant partition key
    # states the single-partition sort is intentional and silences the
    # WindowExec all-to-one-partition warning in bench logs
    rw = Window.partitionBy(F.lit(0)).orderBy("round")
    r = rounds.withColumn("prev_head", F.lag("head_count").over(rw))
    drop = F.col("mass_before") - F.col("mass_after")
    round_checks = r.agg(
        F.min(F.when(F.col("round") == 1, F.col("mass_before")))
        .cast("long")
        .alias("mass_start"),
        F.sum(
            (
                F.col("prev_head").isNotNull()
                & (F.col("head_count") > F.col("prev_head"))
            ).cast("long")
        ).alias("head_nonmonotone_rounds"),
        F.sum((F.col("mass_after") > F.col("mass_before")).cast("long")).alias(
            "mass_increase_rounds"
        ),
        F.sum((drop > F.col("batch_count_sum")).cast("long")).alias(
            "mass_drop_exceeds_counts_rounds"
        ),
        F.sum((drop < F.col("n_rules")).cast("long")).alias(
            "mass_drop_below_rules_rounds"
        ),
    ).select(
        F.expr(
            "stack(5, 'mass_start', mass_start, "
            "'head_nonmonotone_rounds', head_nonmonotone_rounds, "
            "'mass_increase_rounds', mass_increase_rounds, "
            "'mass_drop_exceeds_counts_rounds', mass_drop_exceeds_counts_rounds, "
            "'mass_drop_below_rules_rounds', mass_drop_below_rules_rounds) "
            "AS (rule, val)"
        )
    )
    mw = Window.partitionBy("round").orderBy("rank")
    rule_checks = (
        merges.withColumn("prev_cnt", F.lag("pair_count").over(mw))
        .agg(
            F.count("*").cast("long").alias("n_rules"),
            F.sum(
                (
                    F.col("prev_cnt").isNotNull()
                    & (F.col("pair_count") > F.col("prev_cnt"))
                ).cast("long")
            ).alias("rank_order_violations"),
            F.min(F.when(F.col("rank") == 1, F.col("pair_count")))
            .cast("long")
            .alias("first_merge_count"),
        )
        .select(
            F.expr(
                "stack(3, 'n_rules', n_rules, "
                "'rank_order_violations', rank_order_violations, "
                "'first_merge_count', first_merge_count) AS (rule, val)"
            )
        )
    )
    overlap = (
        # array_distinct: a single rule may legally repeat a symbol
        # (e.g. (e, e) → ee); disjointness is about symbols shared
        # ACROSS rules of one round, so dedup within the rule first
        merges.select(
            "round",
            F.explode(
                F.array_distinct(F.array("sym_a", "sym_b", "merged"))
            ).alias("s"),
        )
        .groupBy("round", "s")
        .agg(F.count("*").alias("c"))
        .agg(
            F.coalesce(F.sum((F.col("c") > 1).cast("long")), F.lit(0))
            .cast("long")
            .alias("batch_overlap_violations")
        )
        .select(
            F.expr(
                "stack(1, 'batch_overlap_violations', batch_overlap_violations) "
                "AS (rule, val)"
            )
        )
    )
    return base.unionAll(round_checks).unionAll(rule_checks).unionAll(overlap)


def _softmax_oracle(steps: int = 3) -> str:
    """Unrolled softmax-GD replay for d107 (the _logreg_oracle pattern
    with a C=3 weight matrix): each step recomputes the 9 snapped-term
    gradient sums and the argmax accuracy from the feature CTE and the
    previous step's rounded weights, entirely in SQL."""

    def z(c: int) -> str:
        return f"(w.w{c}0 * f.x0 + w.w{c}1 * f.x1 + w.w{c}2 * f.x2)"

    den = f"(exp({z(0)}) + exp({z(1)}) + exp({z(2)}))"
    pred = (
        f"CASE WHEN {z(0)} >= {z(1)} AND {z(0)} >= {z(2)} THEN 0 "
        f"WHEN {z(1)} >= {z(2)} THEN 1 ELSE 2 END"
    )
    sql = """WITH f AS (
         SELECT CASE WHEN lang = 'en' THEN 0
                     WHEN lang = 'zh' THEN 1 ELSE 2 END AS y,
                1.0 AS x0,
                len(list_filter(string_split(text, ' '),
                    w -> w <> ''))::DOUBLE / 100.0 AS x1,
                len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                  / greatest(length(text), 1) AS x2
         FROM documents),
       w0s AS (SELECT """ + ", ".join(
        f"0.0 AS w{c}{j}" for c in range(3) for j in range(3)
    ) + ")"
    for s in range(1, steps + 1):
        terms = ",\n              ".join(
            "CAST(sum(CAST(round(((f.y = {c})::INT - exp({zc}) / {den})"
            " * f.x{j}, 12) AS DECIMAL(30,12))) AS DOUBLE) AS g{c}{j}".format(
                c=c, j=j, zc=z(c), den=den
            )
            for c in range(3)
            for j in range(3)
        )
        prev = ", ".join(
            f"w.w{c}{j} AS pw{c}{j}" for c in range(3) for j in range(3)
        )
        upd = ",\n                      ".join(
            f"round(pw{c}{j} + g{c}{j} / n, 12) AS w{c}{j}"
            for c in range(3)
            for j in range(3)
        )
        sql += """,
       g{s} AS (SELECT count(*) AS n, {prev},
              {terms},
              sum(({pred} = f.y)::INT) AS ok
              FROM f, w{p}s w GROUP BY {groups}),
       w{s}s AS (SELECT n, {upd},
                      round(ok::DOUBLE / n, 6) AS acc
               FROM g{s})""".format(
            s=s,
            p=s - 1,
            prev=prev,
            terms=terms,
            pred=pred,
            upd=upd,
            groups=", ".join(str(i) for i in range(2, 11)),
        )
    names = []
    for c in range(3):
        names.append(f"w{c}0 AS w_c{c}_bias")
        names.append(f"w{c}1 AS w_c{c}_f_len")
        names.append(f"w{c}2 AS w_c{c}_f_punct")
    sql += "\n       " + "\n       UNION ALL ".join(
        "SELECT CAST({s} AS INT) AS step, {names}, acc AS accuracy, "
        "CAST(n AS BIGINT) AS n FROM w{s}s".format(s=s, names=", ".join(names))
        for s in range(1, steps + 1)
    )
    return sql


@q("d107_softmax_language_id", _softmax_oracle(3))
def d107(spark, sf_dir):
    """Iterative-trainer breadth (r9, VERDICT r8 #6): full-batch SOFTMAX
    multi-class GD (``stats.softmax_regression_gd``) — a 3-class
    language-ID head (en / zh / other) over the d103 features, the
    C-way generalization of the binary quality gate.  Still ONE
    map-side-combined aggregate per step (C·k + 2 = 11 cells), the
    driver holds only the 3×3 weight matrix, and the oracle replays the
    unrolled recurrence with the same 12-dp term-snap discipline; the
    argmax accuracy uses a first-class-wins CASE both engines evaluate
    on bit-identical z values (no libm in the comparison)."""
    from .. import stats

    d = tables(spark, sf_dir)("documents")
    feats = d.select(
        F.when(F.col("lang") == "en", 0)
        .when(F.col("lang") == "zh", 1)
        .otherwise(2)
        .alias("y"),
        (
            F.size(F.filter(F.split("text", " "), lambda x: x != ""))
            .cast("double") / F.lit(100.0)
        ).alias("f_len"),
        (
            F.size(
                F.regexp_extract_all("text", F.lit("[^A-Za-z0-9\\s]"), 0)
            ).cast("double") / F.greatest(F.length("text"), F.lit(1))
        ).alias("f_punct"),
    )
    return stats.softmax_regression_gd(
        feats, ["f_len", "f_punct"], "y", n_classes=3, lr=1.0, steps=3
    )


# shared by d108 (plain scan) and d118 (restart intervals): the DRI/RSTn
# machinery must be RESULT-INVISIBLE, so both decode to identical stats
_JPEG_GRAY_ORACLE = """WITH dims AS (SELECT doc_id,
                     CAST(8 * (1 + doc_id % 3) AS INT) AS w,
                     CAST(8 * (1 + (2 * doc_id) % 3) AS INT) AS h
              FROM documents),
       px AS (SELECT d.doc_id, d.w, d.h,
                     128 + 2 * ((5 * d.doc_id + 3 * (x.x // 8)
                                 + 7 * (y.y // 8)) % 21 - 10) AS v,
                     (x.x + 1) * (y.y + 2) AS wgt
              FROM dims d, range(0, 24) x(x), range(0, 24) y(y)
              WHERE x.x < d.w AND y.y < d.h)
       SELECT doc_id, 'jpeg' AS format, w AS width, h AS height,
              CAST(0 AS INT) AS channel,
              round(sum(v)::DOUBLE / count(*), 6) AS mean,
              CAST(min(v) AS INT) AS min, CAST(max(v) AS INT) AS max,
              round(sqrt(sum(v * v)::DOUBLE / count(*)
                         - (sum(v)::DOUBLE / count(*))
                           * (sum(v)::DOUBLE / count(*))), 6) AS std,
              CAST(sum(v * wgt) AS BIGINT) AS pos_sum
       FROM px GROUP BY 1, 2, 3, 4, 5"""


@q("d108_jpeg_decode", _JPEG_GRAY_ORACLE)
def d108(spark, sf_dir):
    """D7-ext (r9): REAL baseline JPEG ENTROPY decode with no codec
    library — the lossy-codec stub closed for grayscale baseline JPEG.
    Spark writes a spec-valid JPEG per document
    (``multimodal.synth_jpeg``: DQT in zigzag order, canonical-Huffman
    DHT, DC-diff prediction across the scan, EOB-coded AC, FF byte
    stuffing) and decodes it back (``multimodal.decode_jpeg_stats``:
    marker walk, DHT canonical-code rebuild, bit-level Huffman decode,
    unstuffing, dequant, separable IDCT, level shift).  Certification
    rides DC-only blocks where the IDCT collapses to exact integer
    arithmetic (q0=16, pixel = 128 + 2·dc — no rounding freedom), so a
    wrong Huffman table, mis-chained DC predictor, zigzag slip, or
    dequant error shifts whole blocks and the position-weighted checksum
    catches it; the AC run-length path (runs, ZRL, mid-block EOB) is
    unit-tested against a reference IDCT where exactness is impossible
    by construction (irrational cosine basis).  The remaining multimodal
    stub shrinks to audio resample + chroma/progressive JPEG.  Scale:
    two chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg(d, "doc_id")
    return multimodal.decode_jpeg_stats(files, "payload", "doc_id")


@q(
    "d109_audio_resample",
    """WITH p AS (SELECT doc_id,
                   CAST(256 + doc_id % 64 AS BIGINT) AS n,
                   CAST(3 + doc_id % 5 AS BIGINT) AS a,
                   CAST(doc_id % 97 AS BIGINT) AS b
            FROM documents),
       o AS (SELECT doc_id, n, a, b, ((n - 1) * 3) // 2 + 1 AS n_out FROM p),
       y AS (SELECT doc_id, n, n_out, j.j AS j,
                    3 * ((a * ((j.j * 2) // 3) + b) % 2048 - 1024)
                    + ((j.j * 2) % 3)
                      * (((a * ((j.j * 2) // 3 + 1) + b) % 2048 - 1024)
                         - ((a * ((j.j * 2) // 3) + b) % 2048 - 1024)) AS ys
             FROM o, range(0, 478) j(j) WHERE j.j < n_out)
       SELECT doc_id, CAST(8000 AS INT) AS sr_in, CAST(12000 AS INT) AS sr_out,
              CAST(n AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
              CAST(sum(ys) AS BIGINT) AS sum_scaled,
              CAST(min(ys) AS BIGINT) AS min_scaled,
              CAST(max(ys) AS BIGINT) AS max_scaled,
              CAST(sum(ys * (j + 1)) AS BIGINT) AS pos_sum
       FROM y GROUP BY 1, 2, 3, 4, 5""",
)
def d109(spark, sf_dir):
    """D7-ext (r9): REAL audio RESAMPLING with no audio library — the
    resample stub closed for the linear-interpolation tier.  Spark
    writes a valid mono 16-bit PCM WAV per document
    (``multimodal.synth_pcm_wav``, samples an arithmetic function of
    the id), parses the container back and resamples 8 kHz → 12 kHz
    (up/down = 3/2) with linear interpolation
    (``multimodal.resample_pcm_stats``).  Certification rides the
    CUSUM multiply-through trick: all statistics are computed on
    up·y[j] — PURE INTEGER arithmetic with no float division — so the
    oracle replays every interpolated sample exactly, and the
    order-sensitive checksum Σ y_scaled·(j+1) catches any phase,
    boundary, or index-mapping error.  The remaining multimodal stub
    shrinks to chroma/progressive JPEG and non-rational resampling.
    Scale: two chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_pcm_wav(d, "doc_id")
    return multimodal.resample_pcm_stats(files, "payload", "doc_id", up=3, down=2)


# shared by d110 (interleaved baseline) and d126 (progressive): scan
# structure must be result-invisible
_JPEG_COLOR_ORACLE = """WITH dims AS (SELECT doc_id,
                     CAST(16 * (1 + doc_id % 2) AS INT) AS w,
                     CAST(16 * (1 + (3 * doc_id) % 2) AS INT) AS h
              FROM documents),
       px AS (SELECT d.doc_id, d.w, d.h, c.c AS channel,
                     128 + 2 * ((5 * d.doc_id + 3 * (x.x // 8)
                                 + 7 * (y.y // 8)) % 21 - 10) AS v,
                     (x.x + 1) * (y.y + 2) AS wgt
              FROM dims d, range(0, 32) x(x), range(0, 32) y(y),
                   range(0, 3) c(c)
              WHERE x.x < d.w AND y.y < d.h)
       SELECT doc_id, 'jpeg' AS format, w AS width, h AS height,
              CAST(channel AS INT) AS channel,
              round(sum(v)::DOUBLE / count(*), 6) AS mean,
              CAST(min(v) AS INT) AS min, CAST(max(v) AS INT) AS max,
              round(sqrt(sum(v * v)::DOUBLE / count(*)
                         - (sum(v)::DOUBLE / count(*))
                           * (sum(v)::DOUBLE / count(*))), 6) AS std,
              CAST(sum(v * wgt) AS BIGINT) AS pos_sum
       FROM px GROUP BY 1, 2, 3, 4, 5"""


@q("d110_jpeg_color_decode", _JPEG_COLOR_ORACLE)
def d110(spark, sf_dir):
    """D7-ext (r9): baseline COLOR JPEG decode (YCbCr 4:2:0) — the d108
    grayscale tier extended to the common color case with NO codec
    library: 3-component interleaved-MCU scan (Y00 Y01 Y10 Y11 Cb Cr),
    per-component DC predictor chains, TWO quant tables + FOUR Huffman
    tables, 2×2 sample-replication chroma upsampling, JFIF YCbCr→RGB
    (``multimodal.synth_jpeg_color`` / ``decode_jpeg_color_stats``).
    Certification rides NEUTRAL chroma: Cb = Cr = 128 exactly, so the
    color transform collapses to R = G = B = Y with zero float-rounding
    freedom and the oracle replays every pixel — while a chroma
    mis-decode anywhere (MCU order, predictor mixing, table ids,
    upsampling geometry) pushes chroma off 128 and fails the checksum.
    Nonzero chroma is unit-tested against the reference conversion.
    Scale: two chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_color(d, "doc_id")
    return multimodal.decode_jpeg_color_stats(files, "payload", "doc_id")


@q(
    "d111_url_canonicalize",
    """WITH u AS (SELECT doc_id,
            CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
              || '://WWW.Site' || (doc_id % 7) || '.COM'
              || CASE WHEN doc_id % 3 = 0 THEN
                   (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END)
                 WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
              || '/Docs/' || (doc_id % 13)
              || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
              || '?utm_source=feed&b=' || (doc_id % 5) || '&a=' || (doc_id % 3)
              || CASE WHEN doc_id % 5 = 0 THEN '#sec' || doc_id ELSE '' END
              AS url,
            CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END
              || '://www.site' || (doc_id % 7) || '.com'
              || CASE WHEN doc_id % 3 = 1 THEN ':8080' ELSE '' END
              || '/Docs/' || (doc_id % 13)
              || '?a=' || (doc_id % 3) || '&b=' || (doc_id % 5) AS canon
         FROM documents)
       SELECT doc_id, url, canon,
              CAST((url <> canon) AS INT) AS changed
       FROM u""",
)
def d111(spark, sf_dir):
    """Web-crawl tier (r9): URL canonicalization
    (``text.canonical_url``) — the dedup key computed before content
    dedup: scheme/host lowercasing, fragment strip, default-port strip
    (non-default ports survive), tracking-parameter removal (utm_*,
    fbclid, gclid), query-parameter sort, empty-query drop, non-root
    trailing-slash strip.  Pure codegen (regexp_extract / filter /
    array_sort) — a projection inside the scan stage, zero UDFs/
    shuffles.  The d48/d99 synth pattern: URLs are built per doc with
    every normalization hazard derived from the id (mixed-case
    scheme+host, default AND non-default ports, trailing slashes,
    unsorted + tracking query params, fragments) and the oracle states
    the expected canonical form arithmetically — so a canonicalizer
    that over- or under-normalizes any component hash-mismatches."""
    d = tables(spark, sf_dir)("documents")
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https")),
        F.lit("://WWW.Site"), (F.col("doc_id") % 7).cast("string"), F.lit(".COM"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.when(F.col("doc_id") % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")),
        ).when(F.col("doc_id") % 3 == 1, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/Docs/"), (F.col("doc_id") % 13).cast("string"),
        F.when(F.col("doc_id") % 4 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="), (F.col("doc_id") % 5).cast("string"),
        F.lit("&a="), (F.col("doc_id") % 3).cast("string"),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("#sec"), F.col("doc_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    base = d.select("doc_id", url.alias("url"))
    canon = text.canonical_url(F.col("url"))
    return base.select(
        "doc_id",
        "url",
        canon.alias("canon"),
        (F.col("url") != canon).cast("int").alias("changed"),
    )


_WARC_EXTRACT_ORACLE = r"""WITH h AS (
         SELECT doc_id,
                '<html><head><title>doc ' || doc_id ||
                '</title><script>var x=1;</script><style>.a{color:red}</style>' ||
                '</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>' ||
                '<div class="main"><p>' || text || '</p></div>' ||
                '<footer>(c) corpus ' || (doc_id % 7) || '</footer></body></html>' AS html,
                'https://www.site' || (doc_id % 7) || '.com/Docs/' || (doc_id % 13)
                  || '?a=' || (doc_id % 3) || '&b=' || (doc_id % 5) AS uri,
                text
         FROM documents),
       e AS (
         SELECT doc_id, uri, html,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
                      '(?is)<footer[^>]*>.*?</footer>', ' ', 'g'),
                    '<[^>]+>', ' ', 'g'),
                  '\s+', ' ', 'g')) AS extracted,
                'doc ' || doc_id || ' ' ||
                  trim(regexp_replace(text, '\s+', ' ', 'g')) AS want
         FROM h)
       SELECT doc_id, CAST(2 AS INT) AS n_records, uri AS target_uri,
              CAST(200 AS INT) AS http_status,
              CAST(length(extracted) AS BIGINT) AS text_len,
              CAST((extracted = want) AS INT) AS roundtrip_ok
       FROM e"""


@q("d112_warc_extract", _WARC_EXTRACT_ORACLE)
def d112(spark, sf_dir):
    """Web-crawl tier (r9): WARC ingestion end to end — the literal
    Common-Crawl chain: Spark writes a spec-valid WARC/1.0 file per
    document (``multimodal.synth_warc``: warcinfo + response records,
    exact Content-Lengths, full HTTP response block), parses it back
    (``multimodal.parse_warc``: length-driven record walk — never
    delimiter scanning — case-insensitive headers, HTTP status/body
    split) and pipes the recovered body straight into the d104
    boilerplate stripper (``text.html_main_text``, pure codegen).  The
    ROUNDTRIP flag certifies the whole container→HTTP→HTML→text chain:
    a length slip, header miss, or strip error breaks it.  URI ties to
    the d111 canonical formula.  Scale: one mapInPandas synth + one
    mapInPandas parse + a regexp projection, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    html = F.concat(
        F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script><style>.a{color:red}</style>'),
        F.lit('</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>'),
        F.lit('<div class="main"><p>'), F.col("text"),
        F.lit("</p></div><footer>(c) corpus "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Docs/"), (F.col("doc_id") % 13).cast("string"),
        F.lit("?a="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&b="), (F.col("doc_id") % 5).cast("string"),
    )
    src = d.select("doc_id", html.alias("html"), uri.alias("uri"), "text")
    files = multimodal.synth_warc(src, "html", "uri", "doc_id")
    parsed = multimodal.parse_warc(files, "payload", "doc_id")
    extracted = text.html_main_text(F.col("body"))
    want = d.select(
        "doc_id",
        F.concat(
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
            F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")),
        ).alias("want"),
    )
    return (
        parsed.join(want, "doc_id")
        .select(
            "doc_id",
            "n_records",
            "target_uri",
            "http_status",
            F.length(extracted).cast("long").alias("text_len"),
            (extracted == F.col("want")).cast("int").alias("roundtrip_ok"),
        )
    )


@q("d113_warc_gz_extract", _WARC_EXTRACT_ORACLE)
def d113(spark, sf_dir):
    """Web-crawl tier (r9): the d112 chain over Common Crawl's actual
    ON-DISK layout — ``.warc.gz`` with one gzip member PER RECORD,
    members concatenated (``multimodal.synth_warc_gz``, deterministic
    mtime=0 members).  ``parse_warc`` sniffs the gzip magic and inflates
    member-by-member with a stdlib decompressobj loop (eof + unused_data
    — a truncated member invalidates the file) before the same
    length-driven record walk, HTTP split, and boilerplate strip.  The
    oracle is d112's verbatim: compression must be RESULT-INVISIBLE, so
    the two queries hash to the same frame — any member-boundary or
    inflate bug breaks d113 while d112 stays green, isolating the codec
    layer.  Scale: identical zero-shuffle shape; the gzip member walk is
    per-file sequential by format, parallel across files."""
    d = tables(spark, sf_dir)("documents")
    html = F.concat(
        F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script><style>.a{color:red}</style>'),
        F.lit('</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>'),
        F.lit('<div class="main"><p>'), F.col("text"),
        F.lit("</p></div><footer>(c) corpus "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Docs/"), (F.col("doc_id") % 13).cast("string"),
        F.lit("?a="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&b="), (F.col("doc_id") % 5).cast("string"),
    )
    src = d.select("doc_id", html.alias("html"), uri.alias("uri"), "text")
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id")
    parsed = multimodal.parse_warc(files, "payload", "doc_id")
    extracted = text.html_main_text(F.col("body"))
    want = d.select(
        "doc_id",
        F.concat(
            F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
            F.trim(F.regexp_replace(F.col("text"), "\\s+", " ")),
        ).alias("want"),
    )
    return (
        parsed.join(want, "doc_id")
        .select(
            "doc_id",
            "n_records",
            "target_uri",
            "http_status",
            F.length(extracted).cast("long").alias("text_len"),
            (extracted == F.col("want")).cast("int").alias("roundtrip_ok"),
        )
    )


@q(
    "d114_robots_filter",
    """WITH u AS (SELECT doc_id,
                   'www.site' || (doc_id % 7) || '.com' AS host,
                   '/Docs/' || (doc_id % 13) AS path,
                   '/Docs/' || ((3 * (doc_id % 7)) % 13) AS dis
            FROM documents)
       SELECT doc_id, host, path,
              CAST(CASE WHEN NOT starts_with(path, dis)
                          OR starts_with(path, dis || '2')
                        THEN 1 ELSE 0 END AS INT) AS allowed
       FROM u""",
)
def d114(spark, sf_dir):
    """Web-crawl tier (r9): robots.txt politeness filtering — REAL
    Robots-Exclusion-Protocol evaluation: per-domain robots.txt content
    is PARSED (``text.robots_rules``: line split, case-insensitive
    Allow/Disallow extraction) and URL paths are gated with the REP's
    longest-match rule (``text.robots_allowed``: among matching
    prefixes the longest decides, Allow beats Disallow at equal length,
    no match ⇒ allowed) — one broadcast rule join + one max-struct
    aggregate whose (length, is_allow) ordering IS the precedence, no
    window.  The synth exercises the semantics for real: domain K
    disallows /Docs/(3K mod 13) — a PREFIX that also matches two-digit
    paths like /Docs/12 under /Docs/1 — and allows the longer
    /Docs/(3K mod 13)2 back, so both prefix-match and longest-match-
    with-allow-override decide real rows.  The oracle replays the
    decision arithmetically."""
    d = tables(spark, sf_dir)("documents")
    robots = (
        d.select((F.col("doc_id") % 7).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), F.col("k").cast("string"), F.lit(".com")).alias("domain"),
            F.concat(
                F.lit("User-agent: *\n"),
                F.lit("Disallow: /private/\n"),
                F.lit("Disallow: /Docs/"),
                ((F.col("k") * 3) % 13).cast("string"),
                F.lit("\nAllow: /Docs/"),
                ((F.col("k") * 3) % 13).cast("string"),
                F.lit("2\n"),
                F.lit("Disallow:\n"),  # empty = allow-all, must be dropped
            ).alias("robots_txt"),
        )
    )
    rules = text.robots_rules(robots, "robots_txt", "domain")
    urls = d.select(
        "doc_id",
        F.concat(
            F.lit("www.site"), (F.col("doc_id") % 7).cast("string"), F.lit(".com")
        ).alias("host"),
        F.concat(F.lit("/Docs/"), (F.col("doc_id") % 13).cast("string")).alias("path"),
    )
    return text.robots_allowed(urls, rules, "host", "path")


@q(
    "d115_image_ahash",
    """WITH px AS (SELECT doc_id, x.x AS x, y.y AS y,
                 ((7 * doc_id + 3 * x.x + 5 * y.y) % 256)
               + ((7 * doc_id + 3 * x.x + 5 * y.y + 11) % 256)
               + ((7 * doc_id + 3 * x.x + 5 * y.y + 22) % 256) AS gray
           FROM documents, range(0, 16) x(x), range(0, 16) y(y)),
       blk AS (SELECT doc_id, y // 2 AS by, x // 2 AS bx,
                      sum(gray) AS bs
               FROM px GROUP BY 1, 2, 3),
       tot AS (SELECT doc_id, sum(gray) AS t FROM px GROUP BY 1),
       bits AS (SELECT b.doc_id, 8 * by + bx AS idx,
                       (64 * bs > t)::BIGINT AS bit
                FROM blk b JOIN tot USING (doc_id)),
       hsh AS (SELECT doc_id, CAST(sum(bit) AS INT) AS n_ones,
                CAST(sum(CASE WHEN idx < 32
                          THEN bit * (CAST(1 AS BIGINT) << idx)
                          ELSE 0 END) AS BIGINT) AS hash_lo,
                CAST(sum(CASE WHEN idx >= 32
                          THEN bit * (CAST(1 AS BIGINT) << (idx - 32))
                          ELSE 0 END) AS BIGINT) AS hash_hi
               FROM bits GROUP BY 1)
       SELECT doc_id, n_ones, hash_lo, hash_hi,
              CAST(count(*) OVER (PARTITION BY hash_hi, hash_lo) AS BIGINT)
                  AS cluster_size
       FROM hsh""",
)
def d115(spark, sf_dir):
    """Multimodal dedup (r9): perceptual average-hash — the IMAGE
    near-dup key (pixel-space analogue of MinHash for text / cosine
    blocking for embeddings): decoded frames grayscale → 8×8 average
    pool → mean-threshold bits → 64-bit signature
    (``multimodal.ahash_64``), plus the exact-hash cluster size (the
    dedup grouping itself).  Every step is exact integer arithmetic by
    construction — unscaled r+g+b grayscale, block SUMS, the mean test
    multiplied through (64·block_sum > total) — so the oracle replays
    all 64 bits with shift arithmetic and the hash certifies bit for
    bit.  Near-dup (Hamming ≤ t) clustering rides the existing SimHash
    pigeonhole machinery over these bits.  Scale: one mapInPandas pass,
    one hash-keyed aggregate for cluster sizes."""
    d = tables(spark, sf_dir)("documents")
    frames = multimodal.synth_raw_rgb(d, "doc_id", width=16, height=16)
    hashed = multimodal.ahash_64(frames, "payload", "doc_id")
    w = Window.partitionBy("hash_hi", "hash_lo")
    return hashed.select(
        "doc_id", "n_ones", "hash_lo", "hash_hi",
        F.count("*").over(w).cast("long").alias("cluster_size"),
    )


@q(
    "d114b_robots_wildcards",
    """WITH u AS (SELECT doc_id,
                doc_id % 5 AS k, doc_id % 13 AS d, doc_id % 4 AS p,
                CASE doc_id % 3 WHEN 0 THEN 'html' WHEN 1 THEN 'php'
                     ELSE 'asp' END AS ext
         FROM documents)
       SELECT doc_id,
              'www.site' || k || '.com' AS host,
              '/Docs/' || d || '/page' || p || '.' || ext AS path,
              CAST(CASE WHEN p = 2 AND ext = 'php' THEN 0
                        WHEN d = k AND p = 1 THEN 1
                        WHEN d = k THEN 0
                        WHEN ext = 'php' THEN 0
                        ELSE 1 END AS INT) AS allowed
       FROM u""",
)
def d114b(spark, sf_dir):
    """Web-crawl tier (r10, VERDICT r9 #2): FULL RFC 9309 robots
    evaluation — ``*`` wildcards, trailing-``$`` end anchors, and
    per-agent group selection, the three things real robots.txt files
    use that d114's literal-prefix subset cannot express.  The fixture
    robots.txt per domain K carries a decoy ``otherbot``+``thirdbot``
    group (Disallow: /), the selected ``corpusbot`` group —
    ``Disallow: /*.php$`` (wildcard + anchor), ``Disallow: /Docs/K/``
    (literal), ``Allow: /Docs/K/page1.*`` (longest-match override),
    ``Disallow: /Docs/*/page2.php`` (mid-pattern wildcard, unanchored)
    — plus ``Crawl-delay`` noise, an empty ``Disallow:`` (must drop),
    and a ``User-agent: *`` group (``Disallow: /Docs/``) that MUST be
    ignored when the specific group exists: if group selection leaked
    the ``*`` rules, every /Docs/ path would flip to disallowed and the
    hash would catch it.  URL paths /Docs/<d>/page<p>.<ext> sweep all
    rule interactions; the oracle replays the longest-pattern-wins
    decision arithmetically (precedence chain: 17-octet mid-wildcard
    disallow > 15-octet allow override > 8-octet literal > 7-octet
    anchored wildcard > default allow).  Parsing is
    ``text.robots_rules_grouped`` (posexplode + two domain-local
    windows over KiB-scale rule data), matching is
    ``text.robots_allowed_rep`` (patterns compile once to anchored
    regexes rule-side; broadcast join + max-struct aggregate)."""
    d = tables(spark, sf_dir)("documents")
    k = (F.col("doc_id") % 5).cast("string")
    robots = (
        d.select((F.col("doc_id") % 5).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), F.col("k").cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("User-agent: otherbot\nUser-agent: thirdbot\nDisallow: /\n\n"),
                F.lit("User-agent: corpusbot\n"),
                F.lit("Disallow: /*.php$\n"),
                F.lit("Disallow: /Docs/"), F.col("k").cast("string"), F.lit("/\n"),
                F.lit("Allow: /Docs/"), F.col("k").cast("string"), F.lit("/page1.*\n"),
                F.lit("Disallow: /Docs/*/page2.php\n"),
                F.lit("Crawl-delay: 2\n"),
                F.lit("Disallow:\n\n"),
                F.lit("User-agent: *\nDisallow: /Docs/\n"),
            ).alias("robots_txt"),
        )
    )
    rules = text.robots_rules_grouped(robots, "robots_txt", "domain", agent="CorpusBot")
    ext = (
        F.when(F.col("doc_id") % 3 == 0, "html")
        .when(F.col("doc_id") % 3 == 1, "php")
        .otherwise("asp")
    )
    urls = d.select(
        "doc_id",
        F.concat(F.lit("www.site"), k, F.lit(".com")).alias("host"),
        F.concat(
            F.lit("/Docs/"), (F.col("doc_id") % 13).cast("string"),
            F.lit("/page"), (F.col("doc_id") % 4).cast("string"),
            F.lit("."), ext,
        ).alias("path"),
    )
    return text.robots_allowed_rep(urls, rules, "host", "path")


def _ahash_sig64(h):
    """(hash_hi, hash_lo) unsigned 32-bit halves → one signed 64-bit
    signature (Java shiftleft wraps bit 63 into the sign, matching the
    SimHash signed-bigint convention the banding engine expects)."""
    return h.select(
        F.col("doc_id"),
        F.shiftleft("hash_hi", 32).bitwiseOR(F.col("hash_lo")).alias("sig"),
    )


# copies ride the same id space shifted far past any real doc_id
_D117_COPY_OFFSET = 1 << 40


@q("d117_image_near_dup_clusters")  # rows-only: cluster layout depends on
# banding internals; d117b is the hash-green certification twin
def d117(spark, sf_dir):
    """Image near-dup CLUSTERING (r10, VERDICT r9 #4): visual dedup gets
    the same cluster/canonical contract text has — aHash 64-bit
    signatures (d115) fed through ``dedup.hamming_clusters`` — exact-
    equal signatures collapse FIRST (a 10³-member identical-hash
    cluster is ONE node, never 10⁶ pairs), the SimHash pigeonhole
    banding runs over DISTINCT signatures only, components resolve in
    signature-space, and member rows rejoin through the signature.
    The fixture corpus is each frame plus its corner-swapped near-dup
    (``synth_raw_rgb_swapped``: total intensity conserved, ≤ 2 of 64
    bits differ by construction), so every original MUST absorb its
    copy.  Output: (id, cluster, cluster_size) for every frame in a
    non-singleton component."""
    d = tables(spark, sf_dir)("documents")
    orig = _ahash_sig64(
        multimodal.ahash_64(multimodal.synth_raw_rgb(d, "doc_id"), "payload", "doc_id")
    )
    swap = _ahash_sig64(
        multimodal.ahash_64(
            multimodal.synth_raw_rgb_swapped(d, "doc_id"), "payload", "doc_id"
        )
    )
    sigs = orig.select(F.col("doc_id").alias("id"), "sig").unionAll(
        swap.select((F.col("doc_id") + _D117_COPY_OFFSET).alias("id"), "sig")
    )
    return dedup.hamming_clusters(sigs, "id", "sig", max_hamming=3)


@q(
    "d117b_image_cluster_guarantees",
    """WITH g AS (SELECT doc_id, x.x AS x, y.y AS y,
            CASE WHEN x.x = 0 AND y.y = 0 THEN 15
                 WHEN x.x = 15 AND y.y = 15 THEN 0 ELSE x.x END AS sx,
            CASE WHEN x.x = 0 AND y.y = 0 THEN 15
                 WHEN x.x = 15 AND y.y = 15 THEN 0 ELSE y.y END AS sy
         FROM documents, range(0, 16) x(x), range(0, 16) y(y)),
       px AS (SELECT doc_id, x, y,
                 ((7 * doc_id + 3 * x + 5 * y) % 256)
               + ((7 * doc_id + 3 * x + 5 * y + 11) % 256)
               + ((7 * doc_id + 3 * x + 5 * y + 22) % 256) AS gray_o,
                 ((7 * doc_id + 3 * sx + 5 * sy) % 256)
               + ((7 * doc_id + 3 * sx + 5 * sy + 11) % 256)
               + ((7 * doc_id + 3 * sx + 5 * sy + 22) % 256) AS gray_s
              FROM g),
       blk AS (SELECT doc_id, y // 2 AS by, x // 2 AS bx,
                      sum(gray_o) AS bso, sum(gray_s) AS bss
               FROM px GROUP BY 1, 2, 3),
       tot AS (SELECT doc_id, sum(gray_o) AS t_o, sum(gray_s) AS t_s
               FROM px GROUP BY 1),
       bits AS (SELECT b.doc_id,
                       (64 * bso > t_o)::BIGINT AS bo,
                       (64 * bss > t_s)::BIGINT AS bs2
                FROM blk b JOIN tot USING (doc_id))
       SELECT doc_id,
              CAST(sum(CASE WHEN bo <> bs2 THEN 1 ELSE 0 END) AS BIGINT)
                  AS hamming,
              CAST(1 AS INT) AS with_original
       FROM bits GROUP BY doc_id""",
)
def d117b(spark, sf_dir):
    """d117's certification twin (hash-green): the corner swap conserves
    total intensity and touches exactly two grid blocks, so the
    original/copy aHash pair provably sits within Hamming ≤ 2 — the
    banding engine MUST emit the pair and connected components MUST
    put both in one cluster.  The oracle replays BOTH 64-bit hashes
    arithmetically from the pixel formulas (the d115 discipline, with
    the swap as a coordinate remap) and emits the exact per-doc hamming
    plus the pinned with_original = 1; the Spark side computes hamming
    from the signatures (bit_count of XOR) and with_original from the
    ACTUAL cluster assignments, so a banding or CC regression breaks
    the hash, not just a rows count.  Transitivity makes the d115 pin
    (exact copies share a hash) a special case of this one."""
    d = tables(spark, sf_dir)("documents")
    orig = _ahash_sig64(
        multimodal.ahash_64(multimodal.synth_raw_rgb(d, "doc_id"), "payload", "doc_id")
    )
    swap = _ahash_sig64(
        multimodal.ahash_64(
            multimodal.synth_raw_rgb_swapped(d, "doc_id"), "payload", "doc_id"
        )
    )
    sigs = orig.select(F.col("doc_id").alias("id"), "sig").unionAll(
        swap.select((F.col("doc_id") + _D117_COPY_OFFSET).alias("id"), "sig")
    )
    clusters = dedup.hamming_clusters(sigs, "id", "sig", max_hamming=3)
    c_o = clusters.select(F.col("id").alias("doc_id"), F.col("cluster").alias("__c_o"))
    c_s = clusters.select(
        (F.col("id") - _D117_COPY_OFFSET).alias("doc_id"),
        F.col("cluster").alias("__c_s"),
    ).filter(F.col("id") >= _D117_COPY_OFFSET)
    ham = (
        orig.join(swap.select("doc_id", F.col("sig").alias("__sig_s")), "doc_id")
        .select(
            "doc_id",
            F.bit_count(F.col("sig").bitwiseXOR(F.col("__sig_s")))
            .cast("long")
            .alias("hamming"),
        )
    )
    return (
        ham.join(c_o.filter(F.col("doc_id") < _D117_COPY_OFFSET), "doc_id")
        .join(c_s, "doc_id")
        .select(
            "doc_id",
            "hamming",
            (F.col("__c_o") == F.col("__c_s")).cast("int").alias("with_original"),
        )
    )


@q(
    "d116_crawl_pipeline",
    """WITH f AS (SELECT doc_id, doc_id % 260 AS m260,
                  (doc_id % 260) % 13 AS d13,
                  (3 * ((doc_id % 260) % 5)) % 13 AS dis,
                  (doc_id % 260 = 9 OR (doc_id % 260 BETWEEN 90 AND 99))
                      AS allow9
           FROM documents),
       b AS (SELECT *, (d13 = dis AND NOT allow9) AS blocked FROM f)
       SELECT 'n_input' AS rule, CAST(count(*) AS BIGINT) AS val FROM b
       UNION ALL SELECT 'n_robots_blocked',
         CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) FROM b
       UNION ALL SELECT 'n_url_dups_dropped',
         CAST((SELECT count(*) - count(DISTINCT m260) FROM b
               WHERE NOT blocked) AS BIGINT)
       UNION ALL SELECT 'fetch_failures', CAST(0 AS BIGINT)
       UNION ALL SELECT 'non_200_fetches', CAST(0 AS BIGINT)
       UNION ALL SELECT 'docs_not_in_source', CAST(0 AS BIGINT)
       UNION ALL SELECT 'duplicate_doc_ids', CAST(0 AS BIGINT)
       UNION ALL SELECT 'duplicate_canonical_urls', CAST(0 AS BIGINT)
       UNION ALL SELECT 'robots_disallowed_in_output', CAST(0 AS BIGINT)
       UNION ALL SELECT 'nonallowed_lang_in_output', CAST(0 AS BIGINT)
       UNION ALL SELECT 'below_gopher_gate_in_output', CAST(0 AS BIGINT)
       UNION ALL SELECT 'boilerplate_markers_in_output', CAST(0 AS BIGINT)
       UNION ALL SELECT 'roundtrip_failures', CAST(0 AS BIGINT)
       UNION ALL SELECT 'stage_escapees', CAST(0 AS BIGINT)
       UNION ALL SELECT 'doc_conservation_violations', CAST(0 AS BIGINT)""",
)
def d116(spark, sf_dir):
    """THE north-star composition (r10, VERDICT r9 #3): the full
    crawl → training-corpus pipeline as ONE DataFrame program —
    ``.warc.gz`` walk (d113) → HTTP-200 gate → RFC 9309 robots gate
    with wildcard Allow-override and decoy agent groups (d114b) →
    canonical-URL dedup with tracking-param variants (d111) → HTML
    boilerplate strip (d104) → language gate (d09) → gopher quality
    gate (d23) → MinHash near-dedup (d02d) — via
    ``pipeline.crawl_corpus``, certified d18b-style: the output SET
    depends on lexicon scores and LSH recall (stage counts past the
    URL stage are not oracle-pinned), but the pipeline's CONTRACT is
    exact and hash-checked.  Data-derived pins: n_input, the robots
    block count (the d114b arithmetic replay — URIs carry /Docs/<d13>/
    doc<m260> paths, domain K disallows /Docs/<(3K)%13>/ but allows
    the doc9* wildcard back), and the canonical-dup drop count (ids ≡
    mod 260 share a canonical URL once utm_source tracking variants
    strip).  Violation counters recomputed FROM THE OUTPUT (not
    telescoping): survivors exist in source, unique ids, unique
    canonical URLs, re-evaluated robots verdicts, language/gopher
    membership, zero boilerplate markers, exact container→HTTP→HTML→
    text roundtrip at the extract stage, and set-containment between
    consecutive stages (an escapee means a stage INTRODUCED rows).
    Demo form: examples/crawl_pipeline.py."""
    from .. import pipeline as pipeline_mod

    d = tables(spark, sf_dir)("documents")
    m260 = F.col("doc_id") % 260
    k = (m260 % 5).cast("string")
    d13 = (m260 % 13).cast("string")
    html = F.concat(
        F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script><style>.a{color:red}</style>'),
        F.lit('</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>'),
        F.lit('<div class="main"><p>'), F.col("text"),
        F.lit("</p></div><footer>(c) corpus "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    uri = F.concat(
        F.lit("https://www.site"), k, F.lit(".com/Docs/"), d13,
        F.lit("/doc"), m260.cast("string"),
        F.lit("?utm_source=feed"), (F.col("doc_id") % 2).cast("string"),
        F.lit("&q=1"),
    )
    src = d.select("doc_id", html.alias("html"), uri.alias("uri"))
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id")
    parsed = multimodal.parse_warc(files, "payload", "doc_id")

    dis = (F.col("k") * 3) % 13
    robots = (
        d.select((F.col("doc_id") % 5).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), F.col("k").cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("User-agent: otherbot\nDisallow: /\n\n"),
                F.lit("User-agent: corpusbot\n"),
                F.lit("Disallow: /Docs/"), dis.cast("string"), F.lit("/\n"),
                F.lit("Allow: /Docs/"), dis.cast("string"), F.lit("/doc9*\n"),
                F.lit("Disallow:\n\n"),
                F.lit("User-agent: *\nDisallow: /\n"),
            ).alias("robots_txt"),
        )
    )
    stages = pipeline_mod.crawl_corpus(
        parsed, robots, agent="CorpusBot", languages=("en",),
        jaccard_threshold=0.5, n_hashes=32, bands=8,
    )
    n_input = d.count()
    counts = {name: df.count() for name, df in stages.items()}
    final = stages["final"]

    # output-recheck counters — recomputed from the SURVIVOR SET, so a
    # stage-ordering or join bug breaks the hash even though the
    # telescoping stage arithmetic would still balance
    host = F.regexp_extract("uri", "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    path = F.regexp_extract("uri", "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    rules = text.robots_rules_grouped(robots, agent="CorpusBot")
    re_verdict = text.robots_allowed_rep(
        final.select("doc_id", host.alias("host"), path.alias("path")),
        rules, "host", "path",
    )
    robots_bad = re_verdict.filter(F.col("allowed") == 0).count()
    not_in_source = final.join(d.select("doc_id"), "doc_id", "left_anti").count()
    dup_ids = final.groupBy("doc_id").count().filter(F.col("count") > 1).count()
    dup_canon = (
        final.groupBy("canonical_url").count().filter(F.col("count") > 1).count()
    )
    bad_lang = final.filter(~F.col("predicted_lang").isin("en")).count()
    below_gopher = (
        text.gopher_rules(final, "doc_id", "text")
        .filter(F.col("passes_gopher") == 0)
        .count()
    )
    boiler = final.filter(
        F.col("text").contains("<")
        | F.col("text").contains("var x=1")
        | F.col("text").contains("color:red")
        | F.col("text").contains("(c) corpus")
    ).count()
    want = F.concat(
        F.lit("doc "), F.col("doc_id").cast("string"), F.lit(" "),
        F.trim(F.regexp_replace(F.col("__src_text"), "\\s+", " ")),
    )
    roundtrip_bad = (
        stages["extracted"]
        .join(d.select("doc_id", F.col("text").alias("__src_text")), "doc_id")
        .filter(F.col("text") != want)
        .count()
    )
    order = [
        "fetched", "http_ok", "robots_allowed", "url_unique",
        "extracted", "lang_kept", "gopher_kept", "final",
    ]
    # all seven stage-containment anti-joins in ONE job (the frames are
    # persisted; seven separate count() actions were pure driver latency)
    from functools import reduce

    escapee_frames = [
        stages[nxt]
        .select("doc_id")
        .join(stages[prev].select("doc_id"), "doc_id", "left_anti")
        for prev, nxt in zip(order, order[1:])
    ]
    escapees = reduce(lambda a, b: a.unionAll(b), escapee_frames).count()
    # per-stage drops telescope to n_input - n_final by construction, so
    # the conservation row's real content is the two NON-telescoping
    # checks: extraction is exactly 1:1, and no stage GREW (a negative
    # "drop" means a stage manufactured rows)
    stage_counts = [n_input] + [counts[s] for s in order]
    negative_drops = sum(
        1 for a, b in zip(stage_counts, stage_counts[1:]) if b > a
    )
    conservation = negative_drops + abs(counts["url_unique"] - counts["extracted"])
    rows = [
        ("n_input", n_input),
        ("n_robots_blocked", counts["http_ok"] - counts["robots_allowed"]),
        ("n_url_dups_dropped", counts["robots_allowed"] - counts["url_unique"]),
        ("fetch_failures", n_input - counts["fetched"]),
        ("non_200_fetches", counts["fetched"] - counts["http_ok"]),
        ("docs_not_in_source", not_in_source),
        ("duplicate_doc_ids", dup_ids),
        ("duplicate_canonical_urls", dup_canon),
        ("robots_disallowed_in_output", robots_bad),
        ("nonallowed_lang_in_output", bad_lang),
        ("below_gopher_gate_in_output", below_gopher),
        ("boilerplate_markers_in_output", boiler),
        ("roundtrip_failures", roundtrip_bad),
        ("stage_escapees", escapees),
        ("doc_conservation_violations", conservation),
    ]
    return local_rows_df(spark, rows, "rule string, val long")


@q("d118_jpeg_restart_decode", _JPEG_GRAY_ORACLE)
def d118(spark, sf_dir):
    """Codec ladder, next rung (r10, VERDICT r9 #5): JPEG RESTART
    INTERVALS — the resync machinery most real camera JPEGs carry
    (T.81 §B.2.4.4/§E.2.4).  ``synth_jpeg_dri`` writes d108's exact
    pixel content but with a DRI segment and the scan split into 2-MCU
    intervals separated by cycling RST0–RST7 markers, each interval
    byte-aligned (1-padded) with its DC predictor reset;
    ``decode_jpeg_stats`` now honors DRI — segment-split unstuffing
    with marker-cycle verification, per-interval predictor reset, and
    hard failure on interval-count mismatch.  The oracle is d108's
    VERBATIM (the d112/d113 isolation discipline): restart handling
    must be result-invisible, so a predictor that fails to reset, a
    swallowed RST marker, or a broken byte-align breaks d118 while
    d108 stays green — isolating the restart path exactly.  Scale: two
    chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_dri(d, "doc_id", restart_interval=2)
    return multimodal.decode_jpeg_stats(files, "payload", "doc_id")


# d119's filter bank: built ONCE at import by the same pure-math function
# the executors use, then embedded as a literal tap table in the DuckDB
# oracle — the integer taps ARE the certified contract; the float→int
# sinc quantization is pinned by unit tests (test_multimodal).
_D119_TAPS = multimodal.sinc_taps(160, 147, half=4, scale=1 << 14)
_D119_TAPS_VALUES = ", ".join(
    f"({ph}, {m}, {c})"
    for ph, row in enumerate(_D119_TAPS)
    for m, c in zip(range(-3, 5), row)
)


@q(
    "d119_audio_resample_sinc",
    f"""WITH p AS (SELECT doc_id,
                   CAST(256 + doc_id % 64 AS BIGINT) AS n,
                   CAST(3 + doc_id % 5 AS BIGINT) AS a,
                   CAST(doc_id % 97 AS BIGINT) AS b
            FROM documents),
       o AS (SELECT doc_id, n, a, b,
                    ((n - 1) * 160) // 147 + 1 AS n_out FROM p),
       taps(ph, m, c) AS (VALUES {_D119_TAPS_VALUES}),
       yj AS (SELECT doc_id, n, a, b, n_out, j.j AS j,
                     (j.j * 147) // 160 AS i0, (j.j * 147) % 160 AS ph
              FROM o, range(0, 360) j(j) WHERE j.j < n_out),
       conv AS (SELECT y.doc_id, y.n, y.n_out, y.j,
                       sum(t.c * CASE WHEN y.i0 + t.m >= 0
                                       AND y.i0 + t.m < y.n
                                 THEN (y.a * (y.i0 + t.m) + y.b) % 2048
                                      - 1024
                                 ELSE 0 END) AS ys
                FROM yj y JOIN taps t ON t.ph = y.ph
                GROUP BY 1, 2, 3, 4)
       SELECT doc_id, CAST(8000 AS INT) AS sr_in, CAST(8707 AS INT) AS sr_out,
              CAST(n AS BIGINT) AS n_in, CAST(n_out AS BIGINT) AS n_out,
              CAST(sum(ys) AS BIGINT) AS sum_scaled,
              CAST(min(ys) AS BIGINT) AS min_scaled,
              CAST(max(ys) AS BIGINT) AS max_scaled,
              CAST(sum(ys * (j + 1)) AS BIGINT) AS pos_sum
       FROM conv GROUP BY 1, 2, 3, 4, 5""",
)
def d119(spark, sf_dir):
    """Codec ladder (r10, VERDICT r9 #8): ARBITRARY-RATIO windowed-sinc
    resampling — the tier above d109's rational-3/2 linear
    interpolation, at the classic CD→DAT ratio 160/147 (the 44.1 kHz →
    48 kHz conversion every real audio pipeline hits).  The engine is a
    fixed-point POLYPHASE FIR exactly as production resamplers run it:
    ``multimodal.sinc_taps`` quantizes a Hann-windowed sinc to one
    integer tap row per output phase (160 phases × 8 taps, DC gain
    2^14, phase 0 degenerating to the identity row), and
    ``resample_fir_stats`` convolves in PURE int64 — so the oracle
    replays every output sample exactly from a literal tap table built
    by the SAME import-time call (no float ever crosses the engine
    boundary; the sinc quantization itself is unit-pinned).  The
    order-sensitive checksum Σ y_scaled·(j+1) catches phase-selection,
    zero-padding, and index-mapping errors; n_out = ((n−1)·160)//147+1
    pins the output span.  Closes COVERAGE's "non-rational-ratio
    resampling" omission.  Scale: two chained mapInPandas stages, zero
    shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_pcm_wav(d, "doc_id")
    return multimodal.resample_fir_stats(
        files, "payload", "doc_id", up=160, down=147, taps=_D119_TAPS
    )


@q("d120_png_adam7_decode", _PNG_RGB_ORACLE)
def d120(spark, sf_dir):
    """Codec ladder (r10): ADAM7 INTERLACED PNG — the progressive-
    rendering layout (PNG spec §8.2): the image splits into SEVEN
    reduced images on the 8×8 pass lattice, each independently
    scanline-filtered (filters never cross a pass boundary), all seven
    concatenated into ONE DEFLATE stream with empty passes contributing
    nothing — not even filter bytes.  ``synth_png`` emits d105's exact
    pixel content with ``interlace=True`` (per-pass rows still sweep
    all five filter types; the 6–12 × 5–11 dimension sweep makes several
    passes 1-pixel-wide or empty, exercising the lattice edge cases);
    ``decode_png_stats``'s decoder now de-interlaces — per-pass
    unfiltering via the shared ``_png_unfilter`` core, pixel scatter
    back to the output lattice, hard fail on trailing/missing pass
    bytes.  The oracle is d105's VERBATIM (the d112/d113/d118
    isolation discipline): interlacing must be result-invisible, so a
    pass-geometry slip, filter bleed across passes, or scatter error
    breaks d120 while d105 stays green.  Scale: two chained
    mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_png_adam7(d, "doc_id")
    return multimodal.decode_png_stats(files, "payload", "doc_id")


@q("d121_jpeg_progressive_decode", _JPEG_GRAY_ORACLE)
def d121(spark, sf_dir):
    """Codec ladder (r10): PROGRESSIVE JPEG — the multi-scan layout
    (SOF2, T.81 §G) web images actually ship: a DC scan followed by
    spectral-selection AC band scans (1–5, 6–63 here), each a
    non-interleaved single-component entropy segment, coefficients
    ACCUMULATED across scans before one dequant/IDCT.  The one JPEG
    decoder (``multimodal._jpeg_decode``) walks every scan header,
    handles general EOBRUN (EOBn symbols skipping 2ⁿ+ext end-of-band
    blocks), tracks each coefficient's successive-approximation depth
    (a first scan delivers it once, refinements one bit each), and
    rejects a script that leaves any coefficient unfinished.  The
    oracle is d108's
    VERBATIM (the d118/d120 isolation discipline): scan structure must
    be result-invisible, so a band-bookkeeping slip, EOBRUN
    miscount, or DC-chain break isolates to this row while d108/d118
    stay green; random-AC multi-band scans are unit-pinned against the
    baseline decode of the same coefficients.  Scale: two chained
    mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_progressive(d, "doc_id")
    return multimodal.decode_jpeg_stats(files, "payload", "doc_id")


@q("d122_png_palette_decode", _PNG_RGB_ORACLE)
def d122(spark, sf_dir):
    """Codec ladder (r10): INDEXED-COLOR (palette) PNG — color type 3,
    the icon/sprite/screenshot layout: a PLTE chunk of unique colors
    and 1-byte-per-pixel filtered INDEX scanlines (the five filters run
    at bpp=1, so Sub's left neighbor is the adjacent index, not the
    adjacent channel — a bpp slip corrupts every filtered row).  The
    decoder maps indices through the palette after unfiltering and
    hard-skips on a missing PLTE or an index past the palette (never
    garbage pixels).  The oracle is d105's VERBATIM (palette
    indirection certified result-invisible — the d118/d120/d121
    isolation discipline).  Scale: two chained mapInPandas stages,
    zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_png_palette(d, "doc_id")
    return multimodal.decode_png_stats(files, "payload", "doc_id")


@q("d123_jpeg_progressive_sa_decode", _JPEG_GRAY_ORACLE)
def d123(spark, sf_dir):
    """Codec ladder COMPLETE for progressive JPEG (r10): SUCCESSIVE
    APPROXIMATION — the bit-plane refinement real progressive encoders
    actually emit (T.81 §G.1.2.3): DC first at point transform Al=1
    (diffs of dc>>1), AC first at Al=1 (magnitudes truncated toward
    zero — a coefficient of |v|=1 is INVISIBLE until refinement), then
    a one-bit-per-block DC refinement and the AC refinement scan with
    its three interleaved channels — newly-significant coefficients as
    (zero-history run, 1)+sign, correction bits for already-significant
    coefficients buffered between symbols, EOB followed by the band
    remainder's correction bits.  The decoder tracks per-coefficient
    refinement depth (Ah must equal the previous Al, Al = Ah−1) and
    REJECTS an unfinished refinement chain rather than emitting
    half-precision pixels.  Oracle is d108's VERBATIM (the
    d118/d120/d121/d122 isolation discipline); dense-random, sparse,
    and ±1-heavy coefficient grids are unit-pinned against baseline
    decode.  Scale: two chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_progressive_sa(d, "doc_id")
    return multimodal.decode_jpeg_stats(files, "payload", "doc_id")


@q(
    "d124_sitemap_extract",
    """WITH m AS (SELECT DISTINCT doc_id % 260 AS m260 FROM documents)
       SELECT 'www.site' || (m260 % 5) || '.com' AS domain,
              'https://www.site' || (m260 % 5) || '.com/Docs/'
                || (m260 % 13) || '/doc' || m260 AS loc,
              '2024-01-' || CASE WHEN 1 + m260 % 28 < 10
                            THEN '0' || (1 + m260 % 28)
                            ELSE CAST(1 + m260 % 28 AS VARCHAR) END AS lastmod,
              CASE WHEN m260 % 2 = 0 THEN 0.5 + (m260 % 5) * 0.1
                   ELSE NULL END AS priority,
              CAST(0 AS INT) AS is_index
       FROM m""",
)
def d124(spark, sf_dir):
    """Web-crawl tier (r10): SITEMAP extraction — the discovery input
    the crawl pipeline starts from (robots.txt names the sitemap, the
    sitemap names the URLs): per-domain sitemap.xml synthesized from
    the corpus URL universe (one ``<url>`` entry per distinct canonical
    doc, ``lastmod`` always, ``<priority>`` only on even keys so the
    optional-field NULL path decides real rows) and parsed back with
    ``text.sitemap_entries`` — one regexp_extract_all over
    ``<url>…</url>`` blocks, per-element extracts, one explode; pure
    codegen, zero UDFs.  The oracle replays every field arithmetically
    from the id universe.  Scale: sitemap XML is domains-sized; the
    explode output is URL-universe-sized — both linear, no shuffle
    beyond the group-build."""
    d = tables(spark, sf_dir)("documents")
    m260 = (F.col("doc_id") % 260).alias("m260")
    uni = d.select(m260).distinct()
    dd = F.lpad((1 + F.col("m260") % 28).cast("string"), 2, "0")
    entry = F.concat(
        F.lit("<url><loc>https://www.site"),
        (F.col("m260") % 5).cast("string"),
        F.lit(".com/Docs/"), (F.col("m260") % 13).cast("string"),
        F.lit("/doc"), F.col("m260").cast("string"),
        F.lit("</loc><lastmod>2024-01-"), dd, F.lit("</lastmod>"),
        F.when(
            F.col("m260") % 2 == 0,
            F.concat(
                F.lit("<priority>"),
                F.format_number(0.5 + (F.col("m260") % 5) * 0.1, 1),
                F.lit("</priority>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</url>"),
    )
    sitemaps = (
        uni.select((F.col("m260") % 5).alias("k"), F.col("m260"), entry.alias("e"))
        .groupBy("k")
        .agg(
            F.concat(
                F.lit('<?xml version="1.0"?><urlset xmlns='
                      '"http://www.sitemaps.org/schemas/sitemap/0.9">'),
                F.concat_ws("\n", F.array_sort(F.collect_list(F.struct("m260", "e")))
                            .getField("e")),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
        .select(
            F.concat(F.lit("www.site"), F.col("k").cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            "sitemap_xml",
        )
    )
    return text.sitemap_entries(sitemaps, "sitemap_xml", "domain")


@q(
    "d125_surt_urlkeys",
    """WITH u AS (SELECT doc_id, doc_id % 260 AS m,
                   doc_id % 3 AS p, doc_id % 7 AS q
            FROM documents)
       SELECT doc_id,
              'https://WWW.Site' || (m % 5) || '.Example.com'
                || CASE WHEN m % 4 = 0 THEN ':8080' ELSE '' END
                || '/Docs/' || (m % 13) || '/Doc' || m
                || '?utm_source=x&b=' || p || '&a=' || q AS url,
              'com,example,site' || (m % 5)
                || CASE WHEN m % 4 = 0 THEN ':8080' ELSE '' END
                || ')/docs/' || (m % 13) || '/doc' || m
                || '?a=' || q || '&b=' || p AS urlkey
       FROM u""",
)
def d125(spark, sf_dir):
    """Web-crawl tier (r10): SURT urlkeys — the Sort-friendly URI
    Reordering Transform Common Crawl's CDX index keys records by
    (``text.surt_key``): lowercase, scheme and leading www. dropped,
    host labels reversed comma-joined (one domain's pages sort
    contiguously, subdomain trees nest), non-default port kept, path
    lowercased, query sorted with tracking params stripped (the d111
    policy).  Pure codegen projection — zero UDFs, zero shuffles
    (pinned posture of the canonical_url family); the fixture sweeps
    mixed case, ports, and unsorted tracking-polluted queries, and the
    oracle replays the full key arithmetically."""
    d = tables(spark, sf_dir)("documents")
    m = F.col("doc_id") % 260
    url = F.concat(
        F.lit("https://WWW.Site"), (m % 5).cast("string"), F.lit(".Example.com"),
        F.when(m % 4 == 0, F.lit(":8080")).otherwise(F.lit("")),
        F.lit("/Docs/"), (m % 13).cast("string"),
        F.lit("/Doc"), m.cast("string"),
        F.lit("?utm_source=x&b="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&a="), (F.col("doc_id") % 7).cast("string"),
    )
    return d.select(
        "doc_id", url.alias("url"), text.surt_key(url).alias("urlkey")
    )


@q("d126_jpeg_color_progressive_decode", _JPEG_COLOR_ORACLE)
def d126(spark, sf_dir):
    """Codec ladder (r10): PROGRESSIVE COLOR JPEG — the SOF2 scan
    script T.81 §G prescribes for color: ONE INTERLEAVED DC scan (all
    three components in MCU order, per-component predictor chains)
    followed by three SINGLE-COMPONENT AC scans, each walking its
    component's own block raster (luma's 2×2-per-MCU grid vs the
    chroma grids) with EOBRUN handling — the geometry split that makes
    color progressive genuinely different from grayscale (d121): a
    decoder that walks AC scans in MCU order, mixes predictor chains,
    or uses the luma raster for chroma shears whole planes.
    Coefficients accumulate across scans before the 4:2:0
    reconstruction of the one JPEG decoder (``multimodal._jpeg_decode``);
    an incomplete scan script (missing any AC component) is REJECTED.  Oracle is d110's
    VERBATIM (neutral-chroma exactness + result-invisible scan
    structure); random-chroma grids are unit-pinned against the
    baseline decoder.  Scale: two chained mapInPandas stages, zero
    shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_color_progressive(d, "doc_id")
    return multimodal.decode_jpeg_color_stats(files, "payload", "doc_id")


_PNG16 = "(7 * d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256 AS v"
assert _PNG16 in _PNG_RGB_ORACLE
_PNG_RGB16_ORACLE = _PNG_RGB_ORACLE.replace(
    _PNG16,
    "((7 * d.doc_id + 3 * x.x + 5 * y.y + 11 * c.c) % 256) * 257 AS v",
)


@q("d127_png_16bit_decode", _PNG_RGB16_ORACLE)
def d127(spark, sf_dir):
    """Codec ladder (r10): 16-BIT truecolor PNG — the scientific/
    screenshot depth: big-endian sample pairs, the five filters running
    over BYTES at bpp=6 (a filter that operates on samples instead of
    bytes corrupts every row — the spec's subtlest trap), odd ids
    additionally Adam7-interlaced so the 16-bit × interlace combination
    decides real rows.  Values expand by the standard v·257 replication,
    so the oracle is d105's scaled 257× exactly — bit depth must change
    the VALUES and nothing else (means/std/pos_sum all 257×).  With
    d120/d122/d127 the PNG matrix (8/16-bit × sequential/Adam7 ×
    truecolor/palette) is fully closed.  Scale: two chained mapInPandas
    stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_png_16bit(d, "doc_id")
    return multimodal.decode_png_stats(files, "payload", "doc_id")


@q("d128_jpeg_color_sa_decode", _JPEG_COLOR_ORACLE)
def d128(spark, sf_dir):
    """Codec ladder CLOSED (r10): COLOR successive-approximation
    progressive JPEG — the eight-scan script a real `cjpeg -progressive`
    emits: interleaved DC first at Al=1, three per-component AC first
    scans at Al=1 (truncated magnitudes — |v|=1 invisible until
    refinement), one INTERLEAVED one-bit DC refinement in MCU order,
    and three per-component AC refinements running the shared T.81 §G.2
    correction algorithm over each component's own block raster.  The
    decoder tracks FOUR refinement chains (DC + per-component AC) and
    rejects any unfinished one.  With d108→d128 every marker-level
    JPEG feature this tier models (baseline gray/color, restart
    intervals, spectral selection, SA, gray and color) decodes from
    first principles; what remains stubbed is only real-world library
    integration (`decode_real`).  Oracle is d110's VERBATIM; dense and
    sparse random-chroma grids unit-pinned against baseline.  Scale:
    two chained mapInPandas stages, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    files = multimodal.synth_jpeg_color_progressive_sa(d, "doc_id")
    return multimodal.decode_jpeg_color_stats(files, "payload", "doc_id")


@q(
    "d129_warc_cdx_random_access",
    """SELECT doc_id, CAST(2 AS INT) AS n_members,
              CAST(1 AS INT) AS n_response,
              CAST(1 AS INT) AS coverage_ok, CAST(1 AS INT) AS fetch_ok,
              CAST(200 AS INT) AS http_status
       FROM documents""",
)
def d129(spark, sf_dir):
    """Web-crawl tier (r10): CDX-style RANDOM ACCESS — the reason
    Common Crawl's index (whose urlkey is d125) exists: per-record
    (offset, length) byte geometry over the ``.warc.gz`` member layout,
    PROVEN by re-fetching every record through it — slice, inflate the
    single member independently, parse standalone, compare
    byte-for-byte against the sequential walk
    (``multimodal.warc_gz_cdx_stats``).  The oracle pins the full
    contract arithmetically: 2 members per file (warcinfo + response),
    1 response, spans tiling the file exactly, every fetch reproducing
    its record, status 200 — a one-byte geometry slip breaks a member's
    gzip header and flips fetch_ok.  At 100 TB this is the difference
    between serving single-record reads off an index and streaming
    whole files.  Scale: one synth + one verification mapInPandas,
    zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Docs/"), (F.col("doc_id") % 13).cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    )
    src = d.select("doc_id", html.alias("html"), uri.alias("uri"))
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id")
    return multimodal.warc_gz_cdx_stats(files, "payload", "doc_id")


@q("d130_unigram_lm_vocab")  # rows-only: Viterbi segmentation choices are
# float-score dependent; d130b is the hash-green certification twin
def d130(spark, sf_dir):
    """Tokenizer tier (r10): SentencePiece-style UNIGRAM-LM vocabulary
    training — the THIRD tokenizer family next to BPE (d98/d106) and
    WordPiece (d70), and the one modern multilingual models actually
    ship: substring-candidate inventory → hard-EM rounds (Viterbi
    E-step over WORD TYPES with the piece inventory in the task
    closure, exact integer frequency-weighted counts; M-step
    re-estimates scores), unused pieces self-pruning, single-char
    coverage guaranteed (``text.unigram_lm_vocab``).  Returns the final
    ranked inventory.  Scale: one corpus scan for word frequencies;
    each EM round is one mapInPandas pass over vocabulary-sized state —
    the BPE discipline."""
    d = tables(spark, sf_dir)("documents")
    pieces, _ = text.unigram_lm_vocab(
        d, "text", vocab_size=200, max_piece_len=4, em_iters=3
    )
    return pieces


@q(
    "d130b_unigram_lm_guarantees",
    """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM wd WHERE length(w) > 0 GROUP BY 1)
       SELECT 'initial_token_mass' AS rule,
              CAST(sum(f * length(w)) AS BIGINT) AS val FROM wf
       UNION ALL SELECT 'n_rounds', CAST(3 AS BIGINT)
       UNION ALL SELECT 'mass_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'nll_increase_rounds', CAST(0 AS BIGINT)
       UNION ALL SELECT 'char_coverage_missing', CAST(0 AS BIGINT)
       UNION ALL SELECT 'pieces_not_substring', CAST(0 AS BIGINT)""",
)
def d130b(spark, sf_dir):
    """d130's certification twin (hash-green, the d106 discipline): the
    EM internals are float-ordered, but the trainer's CONTRACT is exact
    and the oracle replays it — every round's Viterbi segmentation
    conserves the corpus token mass EXACTLY (Σ count·len(piece) =
    Σ f·len(word), integer arithmetic — a segmentation that drops or
    duplicates a character breaks it), the hard-EM objective never
    increases (coordinate ascent on (segmentation, scores)), every
    character occurring in the corpus stays segmentable, and every
    surviving piece is a substring of some corpus word.  Violation
    counters recomputed Spark-side; n_rounds and the initial mass are
    data-derived pins."""
    d = tables(spark, sf_dir)("documents")
    pieces, rounds = text.unigram_lm_vocab(
        d, "text", vocab_size=200, max_piece_len=4, em_iters=3
    )
    wf = (
        d.select(F.explode(text.tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    init_mass = int(
        wf.agg(F.sum(F.col("f") * F.length("w"))).collect()[0][0] or 0
    )
    r = rounds.collect()
    mass_viol = sum(1 for row in r if row["token_mass"] != init_mass)
    nll_up = sum(
        1
        for a, b in zip(r, r[1:])
        if b["neg_loglik"] > a["neg_loglik"] + 1e-6
    )
    corpus_chars = (
        wf.select(F.explode(F.split("w", "")).alias("c"))
        .filter(F.col("c") != "")
        .distinct()
    )
    piece_set = pieces.select(F.col("piece").alias("c"))
    missing = corpus_chars.join(piece_set, "c", "left_anti").count()
    # every piece must be a substring of some corpus word (broadcast the
    # piece inventory — it is vocab-sized by construction)
    hit = (
        wf.crossJoin(F.broadcast(pieces.select("piece")))
        # position(), not LIKE: a piece containing % or _ must match
        # literally, never as a wildcard
        .filter(F.expr("position(piece IN w) > 0"))
        .select("piece")
        .distinct()
    )
    not_sub = pieces.join(hit, "piece", "left_anti").count()
    rows = [
        ("initial_token_mass", init_mass),
        ("n_rounds", len(r)),
        ("mass_violations", mass_viol),
        ("nll_increase_rounds", nll_up),
        ("char_coverage_missing", missing),
        ("pieces_not_substring", not_sub),
    ]
    return local_rows_df(spark, rows, "rule string, val long")


@q(
    "d131_robots_sitemap_discovery",
    """WITH k AS (SELECT DISTINCT doc_id % 5 AS k FROM documents)
       SELECT 'www.site' || k || '.com' AS domain,
              'https://www.site' || k || '.com/sitemap'
                || (k % 2) || '.xml' AS sitemap_url,
              CAST(1 + k % 3 AS DOUBLE) AS crawl_delay_s,
              CAST(2 + k % 2 AS BIGINT) AS n_disallow
       FROM k""",
)
def d131(spark, sf_dir):
    """Web-crawl tier (r10): robots DIRECTIVE mining — the discovery
    side of robots.txt the matcher tiers (d114/d114b) ignore by
    design: ``Sitemap:`` lines are how sitemap discovery actually
    happens (feeding d124's extractor), and ``Crawl-delay`` feeds the
    politeness scheduler.  ``text.robots_directives`` extracts every
    directive flat (comments stripped, unknown directives preserved);
    this query reassembles the per-domain crawl config — sitemap URL,
    numeric crawl delay, disallow-rule count — certified
    arithmetically: domain K declares sitemap(K%2).xml, delay 1+K%3,
    and 2+K%2 disallow lines.  Pure codegen extraction + one
    domains-sized pivot aggregate."""
    d = tables(spark, sf_dir)("documents")
    k = F.col("k")
    robots = (
        d.select((F.col("doc_id") % 5).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), k.cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("# corpus crawler config\n"),
                F.lit("User-agent: *\n"),
                F.lit("Crawl-delay: "), (1 + k % 3).cast("string"), F.lit("\n"),
                F.lit("Disallow: /private/\n"),
                F.lit("Disallow: /tmp/\n"),
                F.when(k % 2 == 1, F.lit("Disallow: /staging/\n")).otherwise(
                    F.lit("")
                ),
                F.lit("Sitemap: https://www.site"), k.cast("string"),
                F.lit(".com/sitemap"), (k % 2).cast("string"), F.lit(".xml\n"),
            ).alias("robots_txt"),
        )
    )
    dirs = text.robots_directives(robots, "robots_txt", "domain")
    return dirs.groupBy("domain").agg(
        F.max(F.when(F.col("directive") == "sitemap", F.col("value"))).alias(
            "sitemap_url"
        ),
        F.max(
            F.when(F.col("directive") == "crawl-delay", F.col("value"))
            .try_cast("double")
        ).alias("crawl_delay_s"),
        F.sum((F.col("directive") == "disallow").cast("long")).alias(
            "n_disallow"
        ),
    )


@q("d132_pca_embeddings")  # rows-only: eigendecomposition floats are
# engine-orchestration-specific; d132b is the hash-green twin
def d132(spark, sf_dir):
    """Embedding tier (r10): PCA dimensionality reduction
    (``similarity.pca_project``) — project embeddings onto the top-k
    principal components before indexing/serving, the classic
    embedding-compression move next to int8 quantization (d67):
    exact-decimal sufficient statistics in ONE pass, driver-side
    dims×dims eigh (never data-sized), deterministic eigenvector signs,
    pure-codegen projection (one aggregate(zip_with) per component,
    zero UDFs/shuffles)."""
    emb = tables(spark, sf_dir)("embeddings")
    proj, _ = similarity.pca_project(emb, "vec_id", "embedding", dims=16, k=4)
    return proj


@q(
    "d132b_pca_guarantees",
    """SELECT 'n_vectors' AS rule,
              CAST(count(*) AS BIGINT) AS val FROM embeddings
       UNION ALL SELECT 'dims', CAST(16 AS BIGINT)
       UNION ALL SELECT 'k', CAST(4 AS BIGINT)
       UNION ALL SELECT 'variance_mismatches', CAST(0 AS BIGINT)
       UNION ALL SELECT 'orthonormality_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'eigval_order_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'explained_exceeds_trace', CAST(0 AS BIGINT)""",
)
def d132b(spark, sf_dir):
    """d132's certification twin (hash-green): the eigendecomposition's
    floats are not oracle-replayable, but its CONTRACT is — for every
    kept component the DISTRIBUTED variance of the projected data must
    equal the eigenvalue (the end-to-end wiring check: a wrong loading,
    a missed mean subtraction, or a mis-wired dot product shifts the
    realized variance), the loading rows must be orthonormal,
    eigenvalues must come out descending, and the explained variance
    can never exceed the total (trace).  Violation counters recomputed
    Spark/driver-side; n_vectors is the data-derived pin."""
    import numpy as np

    emb = tables(spark, sf_dir)("embeddings")
    proj, model = similarity.pca_project(
        emb, "vec_id", "embedding", dims=16, k=4
    )
    k = len(model["eigvals"])
    aggs = [F.count("*").alias("n")]
    for j in range(1, k + 1):
        aggs.append(
            F.sum(F.col(f"p{j}").cast("decimal(28,10)")).alias(f"s{j}")
        )
        aggs.append(
            F.sum(
                (F.col(f"p{j}") * F.col(f"p{j}")).cast("decimal(28,12)")
            ).alias(f"ss{j}")
        )
    r = proj.agg(*aggs).collect()[0]
    n = float(r["n"])
    mism = 0
    for j in range(1, k + 1):
        var = float(r[f"ss{j}"]) / n - (float(r[f"s{j}"]) / n) ** 2
        ev = model["eigvals"][j - 1]
        if abs(var - ev) > max(abs(ev), 1e-12) * 1e-4:
            mism += 1
    C = np.array(model["components"])
    ortho = int(np.abs(C @ C.T - np.eye(k)).max() > 1e-9)
    ev = model["eigvals"]
    order_viol = sum(1 for a, b in zip(ev, ev[1:]) if b > a + 1e-12)
    exceeds = int(sum(ev) > model["trace"] * (1 + 1e-9) + 1e-12)
    rows = [
        ("n_vectors", int(n)),
        ("dims", 16),
        ("k", k),
        ("variance_mismatches", mism),
        ("orthonormality_violations", ortho),
        ("eigval_order_violations", order_viol),
        ("explained_exceeds_trace", exceeds),
    ]
    return local_rows_df(spark, rows, "rule string, val long")


@q(
    "d133_crawl_discovery_chain",
    """WITH k AS (SELECT DISTINCT doc_id % 5 AS k FROM documents),
       m AS (SELECT DISTINCT doc_id % 260 AS m260 FROM documents)
       SELECT 'www.site' || (m260 % 5) || '.com' AS domain,
              'https://www.site' || (m260 % 5) || '.com/sitemap'
                || ((m260 % 5) % 2) || '.xml' AS discovered_from,
              'https://www.site' || (m260 % 5) || '.com/Docs/'
                || (m260 % 13) || '/doc' || m260 AS loc
       FROM m""",
)
def d133(spark, sf_dir):
    """Web-crawl tier (r10): the full DISCOVERY CHAIN as one DataFrame
    program — how a crawler actually builds its frontier: robots.txt
    names the sitemap (``text.robots_directives``, d131), the DISCOVERED
    sitemap URL selects which sitemap document to read (an equi-join on
    the discovered loc — reading a sitemap the robots never named would
    silently pass a weaker fixture, so domain K's robots names
    sitemap(K%2).xml and BOTH variants exist per domain), and
    ``text.sitemap_entries`` (d124) explodes the chosen one into the
    URL frontier.  Output: (domain, discovered_from, loc) — one row per
    frontier URL, every field replayed arithmetically by the oracle.
    The frontier then feeds d116's fetch pipeline.  Scale: everything
    up to the final explode is domains-sized; the explode output is
    frontier-sized — linear, broadcast joins only."""
    d = tables(spark, sf_dir)("documents")
    k = F.col("k")
    robots = (
        d.select((F.col("doc_id") % 5).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), k.cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("User-agent: *\nDisallow: /private/\n"),
                F.lit("Sitemap: https://www.site"), k.cast("string"),
                F.lit(".com/sitemap"), (k % 2).cast("string"), F.lit(".xml\n"),
            ).alias("robots_txt"),
        )
    )
    discovered = (
        text.robots_directives(robots, "robots_txt", "domain")
        .filter(F.col("directive") == "sitemap")
        .select("domain", F.col("value").alias("sitemap_url"))
    )
    # per domain, BOTH sitemap variants exist (0.xml carries the real URL
    # universe, 1.xml carries it too — but under its own name): the join
    # on the DISCOVERED url must pick exactly the robots-named one
    m260 = (F.col("doc_id") % 260).alias("m260")
    uni = d.select(m260).distinct()
    entry = F.concat(
        F.lit("<url><loc>https://www.site"), (F.col("m260") % 5).cast("string"),
        F.lit(".com/Docs/"), (F.col("m260") % 13).cast("string"),
        F.lit("/doc"), F.col("m260").cast("string"), F.lit("</loc></url>"),
    )
    per_domain = (
        uni.select((F.col("m260") % 5).alias("k"), F.col("m260"), entry.alias("e"))
        .groupBy("k")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "", F.array_sort(F.collect_list(F.struct("m260", "e")))
                    .getField("e")
                ),
                F.lit("</urlset>"),
            ).alias("xml")
        )
    )
    variants = per_domain.select(
        "k", "xml", F.explode(F.array(F.lit(0), F.lit(1))).alias("v")
    ).select(
        F.concat(
            F.lit("https://www.site"), F.col("k").cast("string"),
            F.lit(".com/sitemap"), F.col("v").cast("string"), F.lit(".xml"),
        ).alias("sitemap_url"),
        F.col("xml").alias("sitemap_xml"),
    )
    chosen = discovered.join(F.broadcast(variants), "sitemap_url")
    entries = text.sitemap_entries(
        chosen.select("domain", "sitemap_xml"), "sitemap_xml", "domain"
    )
    out = entries.join(
        discovered.select("domain", F.col("sitemap_url").alias("discovered_from")),
        "domain",
    )
    return out.select("domain", "discovered_from", "loc")


_D134_SPANS_ORACLE = """
    WITH g AS (
      SELECT doc_id, i AS pos, substr(text, i, 30) AS gram
      FROM documents, LATERAL (SELECT unnest(range(1, length(text) - 28)) AS i)
      WHERE length(text) >= 30),
    c AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
    d AS (SELECT g.doc_id, g.pos FROM g JOIN c USING (gram)),
    isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 30
                  THEN 1 ELSE 0 END AS brk
      FROM d),
    isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl)
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(pos) + 29 AS BIGINT) AS span_end,
           CAST(max(pos) + 29 - min(pos) + 1 AS BIGINT) AS span_len
    FROM isl2 GROUP BY doc_id, island"""


@q("d134_duplicate_spans", _D134_SPANS_ORACLE)
def d134(spark, sf_dir):
    """LLM-dedup tier COMPLETED (r11): exact-substring duplicate-SPAN
    dedup — the Lee-et-al suffix-array tier d69's top-k form only
    approximates: every maximal character span >= 30 bytes occurring
    >= 2 times corpus-wide, emitted as the per-doc cut list
    (doc_id, span_start, span_end, span_len).  Distributed shape
    (``text.duplicate_spans``): shingle-hash counting (the corpus
    shuffle carries 8-byte hashes + positions, never text), survivors
    RE-VERIFIED on the actual substring so a 64-bit collision can never
    mint a span — output exactly equals the suffix array's — then one
    per-doc gaps-and-islands window merges window positions into
    maximal spans.  The oracle replays the whole contract in SQL
    (LATERAL slide → HAVING count >= 2 → lag/sum islands)."""
    d = tables(spark, sf_dir)("documents")
    return text.duplicate_spans(d, "doc_id", "text", length=30, min_count=2)


# the planted span: 200 deterministic chars no synthetic doc contains
# (xq/zj digrams never occur in the corpus generator's vocabulary)
_D134_PLANT = "".join(
    "xq{:02d}zj".format(i % 97) for i in range(34)
)[:200]


_D134B_ORACLE = (
    "WITH spans AS ("
    + _D134_SPANS_ORACLE.replace(
        "FROM documents",
        f"FROM (SELECT doc_id, text || '{_D134_PLANT}' AS text FROM documents)",
    )
    + """)
    SELECT d.doc_id,
           CAST(max(CASE WHEN s.span_start <= length(d.text) + 1
                          AND s.span_end >= length(d.text) + 200
                         THEN 1 ELSE 0 END) AS INT) AS planted_span_cut
    FROM documents d JOIN spans s USING (doc_id)
    GROUP BY d.doc_id"""
)


@q("d134b_duplicate_span_guarantees", _D134B_ORACLE)
def d134b(spark, sf_dir):
    """d134's guarantee twin (hash-green): a planted 200-byte duplicate
    span is ALWAYS cut.  Every doc gets the same deterministic 200-char
    tail appended (a digram alphabet the corpus generator never emits,
    so the plant is the only guaranteed corpus-wide duplicate); the
    cut list must then contain, for every doc, a span covering exactly
    that suffix — span_start <= len+1 and span_end >= len+200.  The
    oracle replays the full span derivation on the SAME planted corpus
    and re-checks coverage independently, so a merge bug that splits,
    shifts, or drops the planted span breaks the hash."""
    d = tables(spark, sf_dir)("documents")
    planted = d.select(
        "doc_id",
        F.concat(F.col("text"), F.lit(_D134_PLANT)).alias("text"),
        F.length("text").alias("orig_len"),
    )
    spans = text.duplicate_spans(planted, "doc_id", "text", length=30, min_count=2)
    covered = (
        spans.join(planted.select("doc_id", "orig_len"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max(
                (
                    (F.col("span_start") <= F.col("orig_len") + 1)
                    & (F.col("span_end") >= F.col("orig_len") + 200)
                ).cast("int")
            ).alias("planted_span_cut")
        )
    )
    return covered


@q(
    "d136_politeness_schedule",
    """WITH m AS (SELECT DISTINCT doc_id % 260 AS m260 FROM documents),
       f AS (SELECT 'www.site' || (m260 % 5) || '.com' AS domain,
                    'https://www.site' || (m260 % 5) || '.com/Docs/'
                      || (m260 % 13) || '/doc' || m260 AS loc,
                    CAST(1 + (m260 % 5) % 3 AS DOUBLE) AS crawl_delay_s
             FROM m)
       SELECT domain, loc,
              CAST(row_number() OVER (PARTITION BY domain ORDER BY loc)
                   AS BIGINT) AS fetch_rank,
              crawl_delay_s,
              round((row_number() OVER (PARTITION BY domain ORDER BY loc) - 1)
                    * crawl_delay_s, 6) AS scheduled_offset_s
       FROM f""",
)
def d136(spark, sf_dir):
    """Web-crawl tier (r11): POLITENESS-SCHEDULED frontier — the step
    that turns discovery into an actionable fetch plan: d131 mines
    ``Crawl-delay``, d133 builds the frontier, and
    ``text.politeness_schedule`` assigns every URL its fetch slot —
    per-host row_number × crawl_delay = scheduled_offset_s, hosts
    without a mined delay at the 1 s politeness floor.  The fixture
    chains the REAL extractors end-to-end (robots_directives mines the
    delay domain K declares — 1+K%3 — and the sitemap; sitemap_entries
    explodes the frontier), and the oracle replays every field
    arithmetically including the window.  Scale: delays are
    hosts-sized (broadcast); the one shuffle partitions the frontier by
    host — exactly the co-location a fetch fleet needs, so the schedule
    exits pre-partitioned for per-host workers."""
    d = tables(spark, sf_dir)("documents")
    k = F.col("k")
    robots = (
        d.select((F.col("doc_id") % 5).alias("k"))
        .distinct()
        .select(
            F.concat(F.lit("www.site"), k.cast("string"), F.lit(".com")).alias(
                "domain"
            ),
            F.concat(
                F.lit("User-agent: *\n"),
                F.lit("Crawl-delay: "), (1 + k % 3).cast("string"), F.lit("\n"),
                F.lit("Disallow: /private/\n"),
                F.lit("Sitemap: https://www.site"), k.cast("string"),
                F.lit(".com/sitemap"), (k % 2).cast("string"), F.lit(".xml\n"),
            ).alias("robots_txt"),
        )
    )
    dirs = text.robots_directives(robots, "robots_txt", "domain")
    delays = (
        dirs.filter(F.col("directive") == "crawl-delay")
        .select("domain", F.col("value").try_cast("double").alias("crawl_delay_s"))
    )
    discovered = (
        dirs.filter(F.col("directive") == "sitemap")
        .select("domain", F.col("value").alias("sitemap_url"))
    )
    m260 = (F.col("doc_id") % 260).alias("m260")
    uni = d.select(m260).distinct()
    entry = F.concat(
        F.lit("<url><loc>https://www.site"), (F.col("m260") % 5).cast("string"),
        F.lit(".com/Docs/"), (F.col("m260") % 13).cast("string"),
        F.lit("/doc"), F.col("m260").cast("string"), F.lit("</loc></url>"),
    )
    sitemaps = (
        uni.select((F.col("m260") % 5).alias("k"), F.col("m260"), entry.alias("e"))
        .groupBy("k")
        .agg(
            F.concat(
                F.lit("<urlset>"),
                F.concat_ws(
                    "", F.array_sort(F.collect_list(F.struct("m260", "e")))
                    .getField("e")
                ),
                F.lit("</urlset>"),
            ).alias("sitemap_xml")
        )
        .select(
            F.concat(
                F.lit("https://www.site"), F.col("k").cast("string"),
                F.lit(".com/sitemap"), (F.col("k") % 2).cast("string"),
                F.lit(".xml"),
            ).alias("sitemap_url"),
            "sitemap_xml",
        )
    )
    chosen = discovered.join(F.broadcast(sitemaps), "sitemap_url")
    frontier = text.sitemap_entries(
        chosen.select("domain", "sitemap_xml"), "sitemap_xml", "domain"
    ).select("domain", "loc")
    return text.politeness_schedule(
        frontier, delays, "domain", "loc", "crawl_delay_s", default_delay_s=1.0
    )


@q("d130c_unigram_lm_encode")  # rows-only: piece counts are float-score
# dependent (the d130 discipline); d130d is the hash-green twin
def d130c(spark, sf_dir):
    """Tokenizer tier (r11): unigram-LM Viterbi ENCODE — the apply side
    d130's trainer was missing (BPE has d102): train the inventory,
    then segment the corpus with the trained scores
    (``text.unigram_lm_encode``), emitting per-doc token accounting
    (n_words, n_oov_words, n_pieces, n_piece_chars, n_chars).  Training
    and encode share one Viterbi routine (``text._viterbi_segment``) and
    one smoothing (``text.unigram_lm_scores``), so parity with the
    E-step is structural.  Scale: vocab-sized inventory in the task
    closure, one mapInPandas pass with per-batch word-type memoization
    (Zipf makes the memo the point), zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    pieces, _ = text.unigram_lm_vocab(
        d, "text", vocab_size=200, max_piece_len=4, em_iters=3
    )
    return text.unigram_lm_encode(d, pieces, "doc_id", "text")


@q(
    "d130d_unigram_encode_guarantees",
    """WITH wd AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
       wf AS (SELECT w, count(*) AS f FROM wd WHERE length(w) > 0 GROUP BY 1)
       SELECT 'docs_total' AS rule,
              CAST(count(*) AS BIGINT) AS val FROM documents
       UNION ALL SELECT 'char_mass',
              CAST(sum(f * length(w)) AS BIGINT) FROM wf
       UNION ALL SELECT 'oov_words', CAST(0 AS BIGINT)
       UNION ALL SELECT 'mass_violations', CAST(0 AS BIGINT)
       UNION ALL SELECT 'estep_parity_gap', CAST(0 AS BIGINT)""",
)
def d130d(spark, sf_dir):
    """d130c's certification twin (hash-green, the d130b discipline):
    encode's CONTRACT on the training corpus is exact — every word
    segments (coverage ⇒ zero OOV), the per-doc char mass is conserved
    (Σ len(piece) = Σ len(word), the d130b conservation law now checked
    PER DOC), the corpus char mass matches the oracle's arithmetic
    replay, and the doc-level encode reproduces EXACTLY the piece count
    a word-TYPE-level E-step with the same scores produces (frequency-
    weighted — the wiring check between the two granularities).
    Violation counters recomputed Spark-side; docs_total and char_mass
    are data-derived pins."""
    d = tables(spark, sf_dir)("documents")
    pieces, _ = text.unigram_lm_vocab(
        d, "text", vocab_size=200, max_piece_len=4, em_iters=3
    )
    enc = text.unigram_lm_encode(d, pieces, "doc_id", "text")
    agg = enc.agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").alias("chars"),
        F.sum("n_oov_words").alias("oov"),
        F.sum(
            (
                (F.col("n_oov_words") == 0)
                & (F.col("n_piece_chars") != F.col("n_chars"))
            ).cast("long")
        ).alias("mass_viol"),
        F.sum("n_pieces").alias("doc_pieces"),
    ).collect()[0]
    # the same encode at word-TYPE granularity, frequency-weighted — a
    # distributed mapInPandas over the word-frequency table (vocab-sized
    # state, the trainer's own E-step shape)
    scores = text.unigram_lm_scores(
        (r["piece"], r["count"]) for r in pieces.select("piece", "count").collect()
    )
    max_len = max((len(p) for p in scores), default=1)
    wf = (
        d.select(F.explode(text.tokens("text")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )

    def estep(batches, scores=scores, max_len=max_len):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = []
            for w, f in zip(pdf["w"], pdf["f"]):
                seg = text._viterbi_segment(w, scores, max_len)
                out.append(int(f) * seg[1] if seg is not None else 0)
            yield pd.DataFrame({"pk": out})

    type_pieces = (
        wf.mapInPandas(estep, "pk long").agg(F.sum("pk")).collect()[0][0] or 0
    )
    rows = [
        ("docs_total", int(agg["docs"])),
        ("char_mass", int(agg["chars"])),
        ("oov_words", int(agg["oov"])),
        ("mass_violations", int(agg["mass_viol"])),
        ("estep_parity_gap", abs(int(agg["doc_pieces"]) - int(type_pieces))),
    ]
    return local_rows_df(spark, rows, "rule string, val long")


@q(
    "d137_connected_components_star",
    "WITH RECURSIVE " + _ED_CTE + """,
       reach(id, r) AS (
         SELECT s, d FROM ed
         UNION
         SELECT rc.id, e.d FROM reach rc JOIN ed e ON e.s = rc.r
       )
       SELECT id AS doc_id, CAST(least(id, min(r)) AS BIGINT) AS cluster
       FROM reach GROUP BY id""",
)
def d137(spark, sf_dir):
    """Graph tier (r11, VERDICT r10 #6): connected components via
    two-phase LARGE/SMALL-STAR contraction (Kiveris et al.) — the one
    distributed path of ``dedup.connected_components``, for when the
    PAIR TABLE is the 100-TB object: star contraction rewires the edge
    set itself, so per-round volume shrinks as components collapse,
    with exact star-ness termination (``dedup._cc_star_fixpoint``).
    Same pair fixture and IDENTICAL recursive-CTE oracle as d94, pinned
    at ``local_threshold=0`` so the driver certifies the distributed
    star fixpoint itself, not the count-gated union-find d94 runs."""
    from .. import dedup, graph

    d = tables(spark, sf_dir)("documents")
    edges = graph.rare_token_edges(d, "doc_id", "text", min_df=2, max_df=3, shingle=3)
    out = dedup.connected_components(edges, "id_a", "id_b", local_threshold=0)
    return out.select(
        F.col("id").alias("doc_id"), F.col("cluster").cast("long").alias("cluster")
    )


@q(
    "d135_warc_cdx_index_fetch",
    """SELECT doc_id,
              'com,site' || (doc_id % 7) || ')/docs/' || (doc_id % 13) AS urlkey,
              CAST(2 AS INT) AS n_members,
              CAST(1 AS INT) AS indexed_fetch_ok,
              CAST(1 AS INT) AS body_match_ok,
              CAST(200 AS INT) AS http_status
       FROM documents""",
)
def d135(spark, sf_dir):
    """Web-crawl tier (r11): CDX index WRITE + INDEXED FETCH — the half
    d129 left open: d129 PROVES per-member geometry exists; this
    PRODUCES the index a crawler records during ingest
    (``multimodal.warc_gz_cdx_index`` — one (offset, length, uri,
    status) row per gzip member), keys it with the Common-Crawl urlkey
    (``text.surt_key``, d125), then SERVES a record through it: the
    response rows' (offset, length) join back to the payload and
    ``warc_gz_indexed_fetch`` slices + inflates the single member
    independently, never touching the rest of the file.  The fetched
    record is certified against the sequential full-file walk
    (``parse_warc``) by sha256 body compare and URI equality — a
    one-byte geometry slip breaks the member's gzip header and flips
    indexed_fetch_ok; a wrong-member fetch flips body_match_ok.  The
    oracle pins the whole contract arithmetically, urlkey included.
    Scale: synth + index + fetch are mapInPandas (zero shuffles); the
    index→payload join is id-keyed (in production: the storage layout's
    file key), and the index itself is the tiny partitioned table the
    engine's storage serves (round-tripped through DataFrameEngine in
    tests/test_multimodal.py)."""
    from .._scratch import scratch_persist

    d = tables(spark, sf_dir)("documents")
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Docs/"), (F.col("doc_id") % 13).cast("string"),
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"), F.lit("</p></body></html>")
    )
    src = d.select("doc_id", html.alias("html"), uri.alias("uri"))
    files = scratch_persist(
        multimodal.synth_warc_gz(src, "html", "uri", "doc_id"),
        "d135/warc_gz",
    )
    idx = scratch_persist(
        multimodal.warc_gz_cdx_index(files, "payload", "doc_id"),
        "d135/cdx_index",
    )
    n_members = idx.groupBy("doc_id").agg(
        F.count("*").cast("int").alias("n_members")
    )
    resp = idx.filter(F.col("warc_type") == "response").select(
        "doc_id",
        text.surt_key(F.col("target_uri")).alias("urlkey"),
        "offset",
        "length",
    )
    fetched = multimodal.warc_gz_indexed_fetch(
        files.join(resp, "doc_id").select(
            "doc_id", "payload", "urlkey", "offset", "length"
        ),
        "payload",
        "doc_id",
    )
    walk = multimodal.parse_warc(files, "payload", "doc_id").select(
        "doc_id",
        F.col("target_uri").alias("seq_uri"),
        F.sha2(F.col("body"), 256).alias("seq_digest"),
    )
    out = (
        fetched.join(resp.select("doc_id", "urlkey"), "doc_id")
        .join(walk, "doc_id")
        .join(n_members, "doc_id")
    )
    return out.select(
        "doc_id",
        "urlkey",
        "n_members",
        (
            (F.col("fetch_ok") == 1) & (F.col("http_status") == 200)
        ).cast("int").alias("indexed_fetch_ok"),
        (
            (F.sha2(F.col("body"), 256) == F.col("seq_digest"))
            & (F.col("target_uri") == F.col("seq_uri"))
        ).cast("int").alias("body_match_ok"),
        "http_status",
    )


# ---------------------------------------------------------------------------
# d138/d139: line-level cleaning + corpus-wide line dedup.  documents.text
# has no newline structure, so both fixtures synthesize a deterministic line
# table from the word stream (the d99 pattern: the oracle regenerates every
# line arithmetically) — d138 decorates 8-word chunks with the punctuation /
# javascript / lorem-ipsum / brace tells the C4 rules key on, d139 uses raw
# 3-word chunks (short enough that cross-document repeats are guaranteed).
# ---------------------------------------------------------------------------


@q(
    "d138_c4_line_filter",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       ch AS (SELECT doc_id, (s - 1) // 8 AS i,
                     array_to_string(w[s : s + 7], ' ') AS chunk
              FROM w, LATERAL (
                SELECT unnest(range(1, greatest(len(w), 1) + 1, 8)) AS s)),
       ln AS (SELECT doc_id, i,
                CASE (doc_id * 7 + i) % 4
                  WHEN 0 THEN chunk || '.'
                  WHEN 1 THEN chunk || '!'
                  WHEN 2 THEN chunk
                  ELSE 'javascript ' || chunk || '.' END AS line
              FROM ch),
       full_ln AS (
         SELECT doc_id, i, line FROM ln
         UNION ALL
         SELECT doc_id, 1000000, 'lorem ipsum.' FROM documents
         WHERE doc_id % 13 = 0
         UNION ALL
         SELECT doc_id, 1000001, '{ cfg }.' FROM documents
         WHERE doc_id % 17 = 0),
       kept AS (SELECT doc_id, i, line,
                  (regexp_matches(line, '[.!?"]$')
                   AND len(string_split(line, ' ')) >= 5
                   AND NOT contains(lower(line), 'javascript')) AS k
                FROM full_ln),
       agg AS (SELECT doc_id,
                 count(*) AS n_lines,
                 count(*) FILTER (WHERE k) AS n_kept,
                 string_agg(line, chr(10) ORDER BY i)
                   FILTER (WHERE k) AS ktext,
                 bool_or(contains(lower(line), 'lorem ipsum')) AS has_li,
                 bool_or(contains(line, '{')) AS has_brace
               FROM kept GROUP BY 1)
       SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
              CAST(n_kept AS INT) AS n_kept_lines,
              (n_kept >= 3 AND NOT has_li AND NOT has_brace) AS doc_kept,
              CASE WHEN n_kept >= 3 AND NOT has_li AND NOT has_brace
                   THEN coalesce(ktext, '') ELSE '' END AS clean_text
       FROM agg""",
)
def d138(spark, sf_dir):
    """Quality tier (r11): C4-style LINE-level cleaning
    (``text.c4_line_filter`` — terminal-punctuation lines only, >= 5
    words, no 'javascript' lines; pages with 'lorem ipsum' or '{'
    drop whole; < 3 surviving lines drops the page), the public C4
    recipe that runs before dedup in web pipelines.  The fixture
    decorates deterministic 8-word chunks so every rule fires: chunk
    index decides the terminal mark (none for m=2 — dropped), m=3
    plants a javascript line, doc_id %% 13/17 plant the page-level
    poisons.  The oracle regenerates lines arithmetically and replays
    every rule in SQL.  Scale: one filter HOF per row, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(8))

    def decorate(s):
        chunk = F.array_join(F.slice(toks, s, 8), " ")
        i = F.floor((s - 1) / 8).cast("long")
        m = (F.col("doc_id") * 7 + i) % 4
        return (
            F.when(m == 0, F.concat(chunk, F.lit(".")))
            .when(m == 1, F.concat(chunk, F.lit("!")))
            .when(m == 2, chunk)
            .otherwise(F.concat(F.lit("javascript "), chunk, F.lit(".")))
        )

    poison = F.concat(
        F.when(F.col("doc_id") % 13 == 0, F.lit("\nlorem ipsum.")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 17 == 0, F.lit("\n{ cfg }.")).otherwise(
            F.lit("")
        ),
    )
    synth = d.select(
        "doc_id",
        F.concat(F.array_join(F.transform(starts, decorate), "\n"), poison).alias(
            "text"
        ),
    )
    return text.c4_line_filter(synth, "doc_id", "text")


@q(
    "d139_line_dedup_corpus",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       ln AS (SELECT doc_id, CAST((s - 1) // 3 AS INT) AS line_no,
                     array_to_string(w[s : s + 2], ' ') AS line
              FROM w, LATERAL (
                SELECT unnest(range(1, greatest(len(w), 1) + 1, 3)) AS s)),
       r AS (SELECT doc_id, line_no, line,
               row_number() OVER (PARTITION BY line
                                  ORDER BY doc_id, line_no) AS rn
             FROM ln),
       tot AS (SELECT doc_id, count(*) AS n_lines FROM ln GROUP BY 1),
       k AS (SELECT doc_id, count(*) AS n_kept,
               string_agg(line, chr(10) ORDER BY line_no) AS t
             FROM r WHERE rn = 1 GROUP BY 1)
       SELECT tot.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
              CAST(coalesce(n_kept, 0) AS BIGINT) AS n_kept_lines,
              coalesce(t, '') AS dedup_text
       FROM tot LEFT JOIN k USING (doc_id)""",
)
def d139(spark, sf_dir):
    """Dedup tier (r11): CORPUS-WIDE exact line dedup
    (``text.dedup_lines_corpus`` — the CCNet/RefinedWeb pass): every
    distinct line survives once, at its globally first (doc, line_no)
    occurrence; docs reassemble from survivors.  3-word fixture lines
    make cross-document repeats dense, so the keep-first tie-break and
    the zero-survivor document path both exercise for real.  Keep-first
    is a partial-aggregable min(struct) — never a window over the
    skewed line key — then a semi-join filter and one doc-keyed
    reassembly shuffle (see the engine docstring for the 100-TB
    posture).  Oracle: the same keep-first as window SQL at fixture
    scale."""
    d = tables(spark, sf_dir)("documents")
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(3))
    lines = d.select(
        "doc_id",
        F.posexplode(
            F.transform(starts, lambda s: F.array_join(F.slice(toks, s, 3), " "))
        ).alias("line_no", "line"),
    )
    return text.dedup_lines_corpus(lines, "doc_id", "line_no", "line")


@q(
    "d140_temperature_mix",
    """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
       t AS (SELECT sum(cnt) AS total, sum(pow(cnt, 0.3)) AS psum FROM c)
       SELECT lang, cnt,
              round(cnt::DOUBLE / total, 6) AS natural_frac,
              round(pow(cnt, 0.3) / psum, 6) AS sampled_frac,
              round((pow(cnt, 0.3) / psum) / (cnt::DOUBLE / total), 6)
                AS weight
       FROM c, t""",
)
def d140(spark, sf_dir):
    """Mix tier (r11): temperature-based multilingual sampling weights
    (``text.temperature_mix_weights``, alpha=0.3 — the public XLM-R
    recipe): q_l ∝ p_l^0.3 upsamples low-resource languages;
    weight = q/p feeds sample_by.  Complements d24 (explicit target
    mix) with the standard parametric family.  Two tiny aggregates +
    a 1-row broadcast — constant work beyond the facet count."""
    d = tables(spark, sf_dir)("documents")
    return text.temperature_mix_weights(d, "lang", alpha=0.3)


@q(
    "d141_image_phash",
    """WITH px AS (SELECT doc_id, x.x AS x, y.y AS y,
             ((7*doc_id + 3*x.x + 5*y.y) % 256)
           + ((7*doc_id + 3*x.x + 5*y.y + 11) % 256)
           + ((7*doc_id + 3*x.x + 5*y.y + 22) % 256) AS gray
           FROM documents, range(0, 16) x(x), range(0, 16) y(y)),
       ct AS (SELECT u.u AS k, x.x AS i,
              CAST(CASE WHEN cos(pi()*(2*x.x+1)*u.u/32) >= 0
                   THEN floor(cos(pi()*(2*x.x+1)*u.u/32)*1000000 + 0.5)
                   ELSE -floor(-(cos(pi()*(2*x.x+1)*u.u/32))*1000000 + 0.5)
                   END AS BIGINT) AS c
              FROM range(0, 8) u(u), range(0, 16) x(x)),
       coef AS (SELECT p.doc_id, cu.k AS u, cv.k AS v,
                CAST(sum(p.gray * cu.c * cv.c) AS BIGINT) AS coef
                FROM px p JOIN ct cu ON cu.i = p.x JOIN ct cv ON cv.i = p.y
                GROUP BY 1, 2, 3),
       med AS (SELECT doc_id, quantile_disc(coef, 0.5) AS med
               FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY 1),
       bits AS (SELECT c.doc_id,
                CASE WHEN NOT (u = 0 AND v = 0) AND coef > med
                     THEN 1 ELSE 0 END AS b,
                8*v + u AS pos
                FROM coef c JOIN med USING (doc_id))
       SELECT doc_id, CAST(sum(b) AS INT) AS n_ones,
              CAST(sum(CASE WHEN pos < 32
                       THEN b * (1::BIGINT << pos) ELSE 0 END) AS BIGINT)
                AS hash_lo,
              CAST(sum(CASE WHEN pos >= 32
                       THEN b * (1::BIGINT << (pos - 32)) ELSE 0 END)
                   AS BIGINT) AS hash_hi
       FROM bits GROUP BY 1""",
)
def d141(spark, sf_dir):
    """Multimodal tier (r11): DCT perceptual hash
    (``multimodal.phash_64``) — the frequency-domain sibling of d115's
    aHash, robust to the global brightness/contrast shifts aHash's
    mean threshold partially absorbs and banding can't: an affine gray
    map scales every AC coefficient uniformly, so the median compare —
    hence the hash — is EXACTLY invariant (pinned in
    tests/test_multimodal.py).  Hash-green end-to-end because the DCT
    basis is an integer cosine table and the 63-AC median is the exact
    middle element — the oracle replays grayscale, basis, 2-D
    transform, quantile_disc median, and bit packing arithmetically.
    Zero shuffles (mapInPandas); clusters ride hamming_clusters like
    d117."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.phash_64(
        multimodal.synth_raw_rgb(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d143_y4m_frame_sample",
    """WITH f AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
       fr AS (SELECT doc_id, nf, ff.f AS frame_no
              FROM f, range(0, 6) ff(f)
              WHERE ff.f < nf AND ff.f % 2 = 0),
       px AS (SELECT doc_id, nf, frame_no, x.x AS x, y.y AS y,
                (7*doc_id + 3*x.x + 5*y.y + 13*frame_no) % 256 AS yv,
                (7*doc_id + 3*x.x + 5*y.y + 13*frame_no + 11) % 256 AS uv,
                (7*doc_id + 3*x.x + 5*y.y + 13*frame_no + 22) % 256 AS vv
              FROM fr, range(0, 16) x(x), range(0, 16) y(y))
       SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
              CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
              CAST(nf AS INT) AS n_frames,
              round(sum(yv)::DOUBLE / count(*), 6) AS y_mean,
              round(sum(uv)::DOUBLE / count(*), 6) AS u_mean,
              round(sum(vv)::DOUBLE / count(*), 6) AS v_mean,
              CAST(sum(yv * (x + 1) * (y + 2)) AS BIGINT) AS y_pos_sum
       FROM px GROUP BY 1, 2, 5""",
)
def d143(spark, sf_dir):
    """Multimodal tier (r11): VIDEO frame sampling over a REAL container
    — Spark writes a byte-valid YUV4MPEG2 stream per document
    (``multimodal.synth_y4m``: header + FRAME markers + raw planes,
    3–6 frames each), and ``multimodal.y4m_frame_sample`` parses the
    header (W/H/C geometry, C444+C420), walks the frame markers, keeps
    every 2nd frame, and emits plane means + a position-weighted luma
    checksum a transposed/off-by-one-plane parse cannot fake.  The
    oracle regenerates every sampled plane arithmetically (d99
    pattern).  This is the frame-sample step of the video pipeline:
    unsampled frames never leave the operator — a 1/every_n data valve
    ahead of any expensive per-frame featurizer.  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.y4m_frame_sample(
        multimodal.synth_y4m(d, "doc_id"), "payload", "doc_id", every_n=2
    )


@q(
    "d144_image_resize_area",
    """WITH px AS (SELECT doc_id, x.x AS x, y.y AS y, c.c AS c,
                (7*doc_id + 3*x.x + 5*y.y + 11*c.c) % 256 AS v
           FROM documents, range(0, 16) x(x), range(0, 16) y(y),
                range(0, 3) c(c))
       SELECT doc_id, CAST(x // 4 AS INT) AS cell_x,
              CAST(y // 4 AS INT) AS cell_y, CAST(c AS INT) AS channel,
              CAST(sum(v) AS BIGINT) AS block_sum,
              CAST((sum(v) + 8) // 16 AS BIGINT) AS pixel
       FROM px GROUP BY 1, 2, 3, 4""",
)
def d144(spark, sf_dir):
    """Multimodal tier (r11): area-average RESIZE
    (``multimodal.resize_area``) — the 16x16 -> 4x4 box downsample
    (each output cell the round-half-up integer mean of its 4x4x
    channel block), the step the prompt's decode/feature/resize ladder
    was missing as a first-class op (d115/d141 resize internally; this
    exposes the geometry).  Oracle regenerates pixels and replays the
    block grouping + integer rounding exactly.  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.resize_area(
        multimodal.synth_raw_rgb(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d142_audio_stft",
    """WITH p AS (SELECT doc_id, 256 + doc_id % 64 AS n,
                    3 + doc_id % 5 AS a, doc_id % 97 AS b
            FROM documents),
       tb AS (SELECT k.k AS k, t.t AS t,
                CAST(CASE WHEN cos(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(cos(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(cos(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS c,
                CAST(CASE WHEN sin(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(sin(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(sin(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS s
              FROM range(0, 9) k(k), range(0, 64) t(t)),
       fr AS (SELECT doc_id, a, b, f.f AS frame_no
              FROM p, range(0, 5) f(f) WHERE f.f < n // 64),
       sm AS (SELECT doc_id, a, b, frame_no, t.t AS t,
                (a * (frame_no * 64 + t.t) + b) % 2048 - 1024 AS sv
              FROM fr, range(0, 64) t(t)),
       dft AS (SELECT doc_id, frame_no, tb.k AS bin,
                 CAST(sum(sv * tb.c) AS BIGINT) AS re_scaled,
                 CAST(-sum(sv * tb.s) AS BIGINT) AS im_scaled
               FROM sm JOIN tb ON tb.t = sm.t GROUP BY 1, 2, 3),
       pk AS (SELECT doc_id, frame_no, bin, re_scaled, im_scaled,
                CASE WHEN bin >= 1 THEN row_number() OVER (
                       PARTITION BY doc_id, frame_no, (bin >= 1)
                       ORDER BY re_scaled::HUGEINT * re_scaled
                                + im_scaled::HUGEINT * im_scaled DESC,
                                bin ASC)
                     ELSE 0 END AS rnk
              FROM dft)
       SELECT doc_id, CAST(frame_no AS INT) AS frame_no,
              CAST(bin AS INT) AS bin, re_scaled, im_scaled,
              CAST(CASE WHEN rnk = 1 THEN 1 ELSE 0 END AS INT) AS is_peak
       FROM pk""",
)
def d142(spark, sf_dir):
    """Multimodal tier (r11): AUDIO STFT frame features
    (``multimodal.stft_frame_features``) — spectrogram frames with no
    DSP library: RIFF parse, 64-sample non-overlapping frames, DFT at
    bins 0–8 over an INTEGER Fourier basis (the d141 pattern), so
    re/im are exact int64 and the oracle replays the transform;
    ``is_peak`` marks each frame's dominant non-DC bin by exact
    128-bit power compare (HUGEINT in SQL, arbitrary-precision ints in
    the engine).  Completes the audio ladder: decode (d109/d119
    resample) → features (this).  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.stft_frame_features(
        multimodal.synth_pcm_wav(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d145_kcore",
    """WITH m AS (SELECT DISTINCT doc_id % 60 AS m FROM documents
                  WHERE doc_id % 60 < 8)
       SELECT m AS id, CAST(7 AS INT) AS core_degree FROM m""",
)
def d145(spark, sf_dir):
    """Graph tier (r11): k-CORE decomposition (``graph.kcore``, k=4) —
    the degeneracy peel that completes the graph family (CC, BFS,
    Bellman–Ford, PageRank, triangles): delete sub-k vertices,
    recompute, CASCADE to a fixed point.  The fixture graph (built
    from doc_id residues, all 60 present at every SF) is engineered so
    the cascade is the thing certified: an 8-clique (the true 4-core,
    degree 7 inside), a 51-node chain that all peels in round one, a
    bridge that temporarily inflates a clique member to degree 8, and
    a TRAP vertex with initial degree 4 whose neighbors are chain
    nodes — a one-round degree filter keeps the trap and reports the
    bridged member at degree 8; only a true fixed-point peel matches
    the oracle's analytic answer.  Distributed path pinned at
    ``local_threshold=0`` in tests; edge set shrinks monotonically
    round over round (see graph.kcore for the 100-TB posture)."""
    from .. import graph

    d = tables(spark, sf_dir)("documents")
    m = d.select((F.col("doc_id") % 60).alias("m")).distinct()
    mx, my = m.alias("x"), m.alias("y")
    clique = (
        mx.join(my, F.col("x.m") < F.col("y.m"))
        .filter((F.col("x.m") < 8) & (F.col("y.m") < 8))
        .select(F.col("x.m").alias("id_a"), F.col("y.m").alias("id_b"))
    )
    chain = (
        m.filter((F.col("m") >= 8) & (F.col("m") <= 58))
        .select(F.col("m").alias("id_a"), (F.col("m") + 1).alias("id_b"))
    )
    bridge = m.filter(F.col("m") == 0).select(
        F.col("m").alias("id_a"), F.lit(8).cast("long").alias("id_b")
    )
    trap = m.filter((F.col("m") >= 8) & (F.col("m") <= 11)).select(
        F.lit(100).cast("long").alias("id_a"), F.col("m").alias("id_b")
    )
    edges = clique.union(chain).union(bridge).union(trap)
    return graph.kcore(edges, k=4)


# d146: the fixture plants each damage family deterministically; the SQL
# literal below is BUILT FROM text.MOJIBAKE_PATTERN so engine and oracle
# count the same alternation (chr() calls keep the C1/FFFD bytes out of
# the source text).
_D146_SQL = """WITH s AS (SELECT doc_id, text
         || CASE WHEN doc_id % 7 = 0
                 THEN repeat(' Caf\u00c3\u00a9', CAST(doc_id % 3 + 1 AS INT))
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0 THEN ' don\u00e2\u20ac\u2122t'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0 THEN ' ' || chr(65533) ELSE '' END
         || CASE WHEN doc_id % 17 = 0 THEN ' ' || chr(133) || 'ok'
                 ELSE '' END AS text
       FROM documents)
       SELECT doc_id, CAST(length(text) AS INT) AS n_chars,
              CAST(len(regexp_extract_all(text, chr(65533))) AS INT)
                AS n_replacement,
              CAST(len(regexp_extract_all(text, '{moji}')) AS INT)
                AS n_mojibake,
              CAST(len(regexp_extract_all(text, '[\\x{{80}}-\\x{{9f}}]'))
                   AS INT) AS n_c1_controls,
              (len(regexp_extract_all(text, chr(65533)))
               + len(regexp_extract_all(text, '{moji}'))
               + len(regexp_extract_all(text, '[\\x{{80}}-\\x{{9f}}]')))
                > 0 AS is_suspect
       FROM s""".format(moji=text.MOJIBAKE_PATTERN)


@q("d146_encoding_quality", _D146_SQL)
def d146(spark, sf_dir):
    """Quality tier (r11): encoding-damage audit
    (``text.encoding_quality``, the ftfy-style tell counter) — U+FFFD
    replacement chars, classic UTF-8-as-cp1252 mojibake digraphs
    (pattern shared VERBATIM with this oracle via
    ``text.MOJIBAKE_PATTERN``), and C1 control characters; is_suspect
    flags any hit.  The fixture plants each family deterministically
    (repeat counts keyed on doc_id so counts exceed 1), the oracle
    replants and recounts with RE2's \\x{{..}} class for the C1 range.
    Pure regexp_count codegen, zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    idc = F.col("doc_id")
    extra = F.concat(
        F.when(
            idc % 7 == 0,
            F.repeat(F.lit(" Caf\u00c3\u00a9"), (idc % 3 + 1).cast("int")),
        ).otherwise(F.lit("")),
        F.when(idc % 11 == 0, F.lit(" don\u00e2\u20ac\u2122t")).otherwise(
            F.lit("")
        ),
        F.when(idc % 13 == 0, F.lit(" \ufffd")).otherwise(F.lit("")),
        F.when(idc % 17 == 0, F.lit(" \u0085ok")).otherwise(F.lit("")),
    )
    synth = d.select("doc_id", F.concat(F.col("text"), extra).alias("text"))
    return text.encoding_quality(synth, "doc_id", "text")


@q(
    "d147_url_blocklist",
    """WITH m AS (SELECT DISTINCT doc_id % 40 AS m FROM documents),
       u AS (SELECT m, 'w' || m || '.' ||
               CASE m % 5 WHEN 0 THEN 'ads.example.com'
                          WHEN 1 THEN 'cdn.example.com'
                          WHEN 2 THEN 'example.org'
                          WHEN 3 THEN 'malware.bad'
                          ELSE 'ok.net' END AS host
             FROM m),
       uu AS (SELECT m, host, 'https://' || host || '/p/' || m AS url FROM u),
       bl(pattern, category) AS (VALUES
         ('ads.example.com', 'ads'), ('example.com', 'tracking'),
         ('bad', 'malware')),
       sfx AS (SELECT url, host,
                 array_to_string(
                   string_split(host, '.')[i : len(string_split(host, '.'))],
                   '.') AS suffix
               FROM uu, LATERAL (
                 SELECT unnest(
                   range(1, len(string_split(host, '.')) + 1)) AS i)),
       hit AS (SELECT url, pattern, category,
                 row_number() OVER (PARTITION BY url
                                    ORDER BY length(pattern) DESC) AS rn
               FROM sfx JOIN bl ON sfx.suffix = bl.pattern)
       SELECT uu.url, uu.host, h.pattern AS matched_pattern, h.category,
              h.pattern IS NOT NULL AS blocked
       FROM uu LEFT JOIN (SELECT * FROM hit WHERE rn = 1) h USING (url)""",
)
def d147(spark, sf_dir):
    """Web-crawl tier (r11): domain-BLOCKLIST filtering
    (``text.url_blocklist_filter``) — category blocklists matched by
    host SUFFIX with most-specific-wins (``w3.ads.example.com`` hits
    both ``ads.example.com`` and ``example.com``; the longer pattern's
    category wins — the fixture plants exactly that overlap, plus a
    TLD-level rule and unlisted hosts).  Winner per URL is a
    partial-aggregable max(struct) — never a window over the shared
    suffix key, where ``com`` would funnel the whole frontier into one
    partition.  Oracle replays host synthesis, suffix chain, and the
    specificity rule."""
    d = tables(spark, sf_dir)("documents")
    m = d.select((F.col("doc_id") % 40).alias("m")).distinct()
    pool = (
        F.when(F.col("m") % 5 == 0, F.lit("ads.example.com"))
        .when(F.col("m") % 5 == 1, F.lit("cdn.example.com"))
        .when(F.col("m") % 5 == 2, F.lit("example.org"))
        .when(F.col("m") % 5 == 3, F.lit("malware.bad"))
        .otherwise(F.lit("ok.net"))
    )
    host = F.concat(F.lit("w"), F.col("m").cast("string"), F.lit("."), pool)
    frontier = m.select(
        F.concat(
            F.lit("https://"), host, F.lit("/p/"), F.col("m").cast("string")
        ).alias("url")
    )
    bl = local_rows_df(spark,
        [
            ("ads.example.com", "ads"),
            ("example.com", "tracking"),
            ("bad", "malware"),
        ],
        "pattern string, category string",
    )
    return text.url_blocklist_filter(frontier, bl)


@q(
    "d148_lpa_communities",
    """WITH m AS (SELECT DISTINCT doc_id % 30 AS m FROM documents),
       raw(s, d) AS (
         SELECT x.m, y.m FROM m x, m y
         WHERE x.m < y.m AND x.m < 5 AND y.m < 5
         UNION ALL
         SELECT x.m, y.m FROM m x, m y
         WHERE x.m < y.m AND x.m BETWEEN 10 AND 14 AND y.m BETWEEN 10 AND 14
         UNION ALL
         SELECT 4, 10
         UNION ALL
         SELECT x.m, x.m + 1 FROM m x WHERE x.m BETWEEN 20 AND 28),
       e AS (SELECT s, d FROM raw UNION SELECT d, s FROM raw),
       l0 AS (SELECT DISTINCT s AS id, s AS lbl FROM e),
       n1 AS (SELECT e.s, l.lbl, count(*) AS c
              FROM e JOIN l0 l ON l.id = e.d GROUP BY 1, 2),
       l1 AS (SELECT s AS id, lbl FROM (
                SELECT s, lbl, row_number() OVER (
                  PARTITION BY s ORDER BY c DESC, lbl ASC) AS rn
                FROM n1) WHERE rn = 1),
       n2 AS (SELECT e.s, l.lbl, count(*) AS c
              FROM e JOIN l1 l ON l.id = e.d GROUP BY 1, 2),
       l2 AS (SELECT s AS id, lbl FROM (
                SELECT s, lbl, row_number() OVER (
                  PARTITION BY s ORDER BY c DESC, lbl ASC) AS rn
                FROM n2) WHERE rn = 1)
       SELECT id, CAST(lbl AS BIGINT) AS community FROM l2""",
)
def d148(spark, sf_dir):
    """Graph tier (r11): community detection by synchronous label
    propagation (``graph.label_propagation_communities``, 2 rounds) —
    deterministic LPA (most-frequent neighbor label, ties to the
    smallest) certified by a ROUND-UNROLLED SQL replay (the d98c
    precedent): the oracle recomputes each round's (node, label)
    frequency table and argmax exactly, so the synchronous-update
    semantics are the certified thing, not just the final partition.
    Fixture: two 5-cliques joined by one bridge edge plus a 10-node
    chain — cliques collapse onto their minimum label while the chain
    stays locally striped at round 2 (labels still traveling)."""
    from .. import graph

    d = tables(spark, sf_dir)("documents")
    m = d.select((F.col("doc_id") % 30).alias("m")).distinct()
    mx, my = m.alias("x"), m.alias("y")
    pairs = mx.join(my, F.col("x.m") < F.col("y.m"))
    cliq_a = pairs.filter((F.col("x.m") < 5) & (F.col("y.m") < 5))
    cliq_b = pairs.filter(
        F.col("x.m").between(10, 14) & F.col("y.m").between(10, 14)
    )
    sel = lambda df_: df_.select(  # noqa: E731
        F.col("x.m").alias("id_a"), F.col("y.m").alias("id_b")
    )
    bridge = m.filter(F.col("m") == 4).select(
        F.col("m").alias("id_a"), F.lit(10).cast("long").alias("id_b")
    )
    chain = m.filter(F.col("m").between(20, 28)).select(
        F.col("m").alias("id_a"), (F.col("m") + 1).alias("id_b")
    )
    edges = sel(cliq_a).union(sel(cliq_b)).union(bridge).union(chain)
    return graph.label_propagation_communities(edges, rounds=2)


@q(
    "d149_ts_similarity_search",
    """WITH rev AS (SELECT c_nationkey AS nation,
                CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
                CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS r
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2),
       q AS (SELECT day, r AS qr FROM rev WHERE nation = 0),
       d AS (SELECT nation, count(*) AS n_common,
               round(corr(r, qr), 6) AS rho
             FROM rev JOIN q USING (day) GROUP BY 1)
       SELECT CAST(nation AS BIGINT) AS nation,
              CAST(n_common AS BIGINT) AS n_common, rho,
              round(sqrt(greatest(2 * n_common * (1 - rho), 0)), 6)
                AS znorm_dist
       FROM d WHERE n_common >= 2 AND rho IS NOT NULL
       ORDER BY znorm_dist ASC, nation ASC LIMIT 5""",
)
def d149(spark, sf_dir):
    """Time-series tier (r11): SIMILARITY SEARCH over data series
    (``timeseries.znorm_query_topk``) — the top-k most similar
    per-nation daily-revenue series to nation 0's series under
    z-normalized Euclidean distance, via the dist² = 2n(1−ρ) identity:
    the whole search is one co-moment aggregate per series over the
    broadcast query grid (never a series×series pair join), ρ rounded
    6 dp before composition (c86 corr parity), TakeOrdered top-k.
    Nation 0 itself certifies the identity's fixed point (dist 0,
    ρ = 1).  The fact-table side: one customer broadcast join + one
    (nation, day) DECIMAL-exact partial agg — at 100 TB the series
    table stays calendar × entities-sized."""
    from .. import timeseries

    o = tables(spark, sf_dir)("orders")
    c = tables(spark, sf_dir)("customer")
    from ._util import dsum

    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.datediff(
                F.to_date("o_orderdate"), F.lit("1970-01-01").cast("date")
            ).cast("long").alias("day"),
        )
        .agg(dsum("o_totalprice").alias("r"))
    )
    from .._scratch import scratch_persist

    rev = scratch_persist(rev, "d149/nation_daily_revenue")
    query = rev.filter(F.col("nation") == 0).select("day", "r")
    return timeseries.znorm_query_topk(
        rev, query, entity_col="nation", t_col="day", v_col="r", k=5
    )


@q(
    "d150_sax_blocking",
    """WITH rev AS (SELECT c_nationkey AS nation,
           (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS week,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS r
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
       b AS (SELECT min(week) AS tmin, max(week) AS tmax FROM rev),
       seg AS (SELECT nation,
                 ((week - tmin) * 4) // (tmax - tmin + 1) AS s, r
               FROM rev, b),
       ps AS (SELECT nation, s, sum(r) AS sv, sum(r * r) AS svv
              FROM seg GROUP BY 1, 2),
       grid AS (SELECT dn.nation, g.g AS s
                FROM (SELECT DISTINCT nation FROM ps) dn, range(0, 4) g(g)),
       psf AS (SELECT grid.nation, grid.s,
                      coalesce(sv, 0) AS sv, coalesce(svv, 0) AS svv
               FROM grid LEFT JOIN ps
                 ON grid.nation = ps.nation AND grid.s = ps.s),
       pn AS (SELECT nation, s, sv, svv,
                ((s + 1) * (tmax - tmin + 1)) // 4
                  - (s * (tmax - tmin + 1)) // 4 AS n
              FROM psf, b),
       pe AS (SELECT nation, sum(sv) AS tot, sum(svv) AS tot2,
                     sum(n) AS w
              FROM pn GROUP BY 1),
       z AS (SELECT pn.nation, s,
               round(CASE WHEN sqrt(greatest(
                        tot2::DOUBLE / w - (tot::DOUBLE / w) * (tot::DOUBLE / w),
                        0)) = 0 THEN NULL
                 ELSE (sv::DOUBLE / n - tot::DOUBLE / w)
                      / sqrt(greatest(
                          tot2::DOUBLE / w
                            - (tot::DOUBLE / w) * (tot::DOUBLE / w), 0))
                 END, 4) AS paa
             FROM pn JOIN pe ON pn.nation = pe.nation),
       lt AS (SELECT nation, s,
                CASE WHEN paa IS NULL THEN 'a'
                     WHEN paa < -0.6745 THEN 'a'
                     WHEN paa < 0.0 THEN 'b'
                     WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS l
              FROM z),
       wd AS (SELECT nation, string_agg(l, '' ORDER BY s) AS sax_word
              FROM lt GROUP BY 1)
       SELECT CAST(nation AS BIGINT) AS nation, sax_word,
              CAST(count(*) OVER (PARTITION BY sax_word) AS BIGINT)
                AS bucket_size
       FROM wd""",
)
def d150(spark, sf_dir):
    """Time-series tier (r11): SAX BLOCKING (``timeseries.sax_words``)
    — the all-pairs scale path d149's single-query search doesn't
    need: z-normalize each per-nation weekly-revenue series against
    the global calendar, PAA into 4 segments, quantize on the N(0,1)
    breakpoints, and block on the 4-letter word — pair volume becomes
    Σ bucket², the MinHash-band economics in shape space (verify tier
    = d149's exact distance).  Parity levers: weekly sums stay
    DECIMAL-exact through both aggregation levels (moment arithmetic
    runs in double from exact totals), PAA rounds 4 dp before the
    breakpoint compare, segment index/capacity use integer division.
    A totally-inactive segment zero-fills and still emits a letter
    (ADVICE r11: words are always exactly ``segments`` letters), and
    both engine and oracle replay the full per-entity segment grid."""
    from .. import timeseries

    o = tables(spark, sf_dir)("orders")
    c = tables(spark, sf_dir)("customer")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.floor(
                F.datediff(
                    F.to_date("o_orderdate"),
                    F.lit("1970-01-01").cast("date"),
                )
                / F.lit(7)
            ).cast("long").alias("week"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("r")
        )
    )
    from .._scratch import scratch_persist

    # the series table feeds sax_words' global-bounds agg AND its main
    # pass — persist so the orders scan + join run once
    rev = scratch_persist(rev, "d150/nation_weekly_revenue")
    return timeseries.sax_words(
        rev, entity_col="nation", t_col="week", v_col="r", segments=4
    )


@q(
    "d151_revisit_schedule",
    """WITH m AS (SELECT DISTINCT doc_id % 20 AS m FROM documents),
       fr AS (SELECT m, f.f AS f FROM m, range(0, 6) f(f)
              WHERE f.f <= 2 + m % 4),
       h AS (SELECT 'https://h' || (m % 4) || '.com/p/' || m AS url,
                    1700000000 + f * 86400 AS fetch_ts,
                    'sha' || (CASE m % 3 WHEN 0 THEN f
                              WHEN 1 THEN f // 2 ELSE 0 END) AS content_sha
             FROM fr),
       c AS (SELECT url, fetch_ts,
               CASE WHEN lag(content_sha) OVER (
                      PARTITION BY url ORDER BY fetch_ts) IS NOT NULL
                     AND content_sha <> lag(content_sha) OVER (
                      PARTITION BY url ORDER BY fetch_ts)
                    THEN 1 ELSE 0 END AS chg
             FROM h),
       a AS (SELECT url, count(*) AS n_fetches, sum(chg) AS n_changes,
                    max(fetch_ts) - min(fetch_ts) AS span_s,
                    max(fetch_ts) AS last_ts
             FROM c GROUP BY 1),
       i AS (SELECT url, n_fetches, n_changes, span_s, last_ts,
               least(greatest(CASE WHEN span_s = 0 THEN 3600
                    ELSE span_s // greatest(n_changes, 1) END, 3600),
                     2592000) AS iv
             FROM a)
       SELECT url, CAST(n_fetches AS BIGINT) AS n_fetches,
              CAST(n_changes AS BIGINT) AS n_changes,
              CAST(span_s AS BIGINT) AS span_s,
              CAST(iv AS BIGINT) AS revisit_interval_s,
              CAST(last_ts + iv AS BIGINT) AS next_fetch_ts
       FROM i""",
)
def d151(spark, sf_dir):
    """Web-crawl tier (r11): adaptive REVISIT scheduling
    (``text.revisit_schedule``, the freshness loop): per-URL change
    frequency from the fetch history's digest transitions (window lag
    compare), next fetch at last_ts + clamp(span/changes, 1 h, 30 d).
    The fixture plants three behavior classes — changes-every-fetch
    (earns the fast lane), changes-every-other, and never-changes
    (backs off to its full observed span) — across varying history
    lengths, and the oracle replays history, lag, and clamp exactly.
    Closes the crawl loop: discover (d133) → schedule (d136) → fetch
    (d116) → re-schedule (this)."""
    d = tables(spark, sf_dir)("documents")
    m = d.select((F.col("doc_id") % 20).alias("m")).distinct()
    fr = m.select(
        "m", F.explode(F.sequence(F.lit(0), 2 + F.col("m") % 4)).alias("f")
    )
    ver = (
        F.when(F.col("m") % 3 == 0, F.col("f"))
        .when(F.col("m") % 3 == 1, F.floor(F.col("f") / 2).cast("long"))
        .otherwise(F.lit(0))
    )
    hist = fr.select(
        F.concat(
            F.lit("https://h"), (F.col("m") % 4).cast("string"),
            F.lit(".com/p/"), F.col("m").cast("string"),
        ).alias("url"),
        (F.lit(1700000000) + F.col("f") * 86400).alias("fetch_ts"),
        F.concat(F.lit("sha"), ver.cast("string")).alias("content_sha"),
    )
    return text.revisit_schedule(hist)


@q(
    "d152_wet_conversion",
    r"""WITH h AS (
         SELECT doc_id,
                '<html><head><title>doc ' || doc_id ||
                '</title><script>var x=1;</script><style>.a{color:red}</style>' ||
                '</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>' ||
                '<div class="main"><p>' || text || '</p></div>' ||
                '<footer>(c) corpus ' || (doc_id % 7) || '</footer></body></html>' AS html,
                'https://www.site' || (doc_id % 7) || '.com/Docs/' || (doc_id % 13)
                  || '?a=' || (doc_id % 3) || '&b=' || (doc_id % 5) AS uri
         FROM documents),
       e AS (
         SELECT doc_id, uri,
                trim(regexp_replace(
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(
                        regexp_replace(
                          regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                          '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                        '(?is)<nav[^>]*>.*?</nav>', ' ', 'g'),
                      '(?is)<footer[^>]*>.*?</footer>', ' ', 'g'),
                    '<[^>]+>', ' ', 'g'),
                  '\s+', ' ', 'g')) AS extracted
         FROM h)
       SELECT doc_id, uri AS target_uri,
              CAST(strlen(extracted) AS BIGINT) AS content_length,
              sha256(extracted) AS text_sha,
              CAST(1 AS INT) AS roundtrip_ok
       FROM e""",
)
def d152(spark, sf_dir):
    """Web-crawl tier (r11): WARC→WET CONVERSION — producing the other
    real Common Crawl artifact (WET: WARC containers of
    ``WARC-Type: conversion`` text/plain records).  The d112 chain
    runs first (spec-valid WARC → length-driven parse → boilerplate
    strip); then the WET record builds as PURE CODEGEN string concat
    (exact Content-Length from octet_length, deterministic
    sha256-derived record id), encodes to bytes, and RE-PARSES through
    ``multimodal.parse_wet`` (the same length-driven walk) —
    roundtrip_ok certifies byte-exact declared-vs-actual lengths and
    text identity end to end.  The oracle replays the full extraction
    (the d112 regexp chain), byte length, and sha256.  Zero shuffles
    beyond one doc-keyed verify join."""
    d = tables(spark, sf_dir)("documents")
    html = F.concat(
        F.lit("<html><head><title>doc "), F.col("doc_id").cast("string"),
        F.lit('</title><script>var x=1;</script><style>.a{color:red}</style>'),
        F.lit('</head><body><nav><a href="/">home</a> | <a href="/all">all</a></nav>'),
        F.lit('<div class="main"><p>'), F.col("text"),
        F.lit("</p></div><footer>(c) corpus "),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("</footer></body></html>"),
    )
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/Docs/"), (F.col("doc_id") % 13).cast("string"),
        F.lit("?a="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&b="), (F.col("doc_id") % 5).cast("string"),
    )
    files = multimodal.synth_warc(
        d.select("doc_id", html.alias("html"), uri.alias("uri")),
        "html", "uri", "doc_id",
    )
    parsed = multimodal.parse_warc(files, "payload", "doc_id")
    txt = text.html_main_text(F.col("body"))
    wet_str = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "),
        F.col("target_uri"),
        F.lit("\r\nWARC-Record-ID: <urn:sha256:"), F.sha2(txt, 256),
        F.lit(">\r\nContent-Type: text/plain\r\nContent-Length: "),
        F.octet_length(txt).cast("string"),
        F.lit("\r\n\r\n"), txt, F.lit("\r\n\r\n"),
    )
    wet = parsed.select(
        "doc_id",
        F.encode(wet_str, "utf-8").alias("payload"),
        txt.alias("__orig"),
    )
    rep = multimodal.parse_wet(wet.select("doc_id", "payload"), "payload", "doc_id")
    return rep.join(wet.select("doc_id", "__orig"), "doc_id").select(
        "doc_id",
        "target_uri",
        "content_length",
        F.sha2("text", 256).alias("text_sha"),
        (
            (F.col("text") == F.col("__orig"))
            & (F.octet_length("text") == F.col("content_length"))
        ).cast("int").alias("roundtrip_ok"),
    )


@q(
    "d153_anchor_text",
    """WITH pages AS (SELECT doc_id % 7 AS h, doc_id % 50 AS p,
                min(doc_id % 5) AS k, bool_or(doc_id % 3 = 0) AS hub
         FROM documents GROUP BY 1, 2),
       home AS (SELECT 'https://www.site' || h || '.com/' AS target,
                       t.term, count(*) AS n
                FROM pages, (VALUES ('home'), ('page')) t(term)
                GROUP BY 1, 2),
       cat AS (SELECT 'https://www.site' || h || '.com/cat/' || k AS target,
                      t.term, count(*) AS n
               FROM pages, LATERAL (
                 SELECT unnest(['category', CAST(k AS VARCHAR)]) AS term)
                 t
               GROUP BY 1, 2),
       hub AS (SELECT 'https://hub.example.com/x' AS target, t.term,
                      count(*) AS n
               FROM pages, (VALUES ('shared'), ('hub'), ('link')) t(term)
               WHERE pages.hub GROUP BY 1, 2)
       SELECT target, term, CAST(n AS BIGINT) AS n_linking_pages FROM home
       UNION ALL SELECT target, term, CAST(n AS BIGINT) FROM cat
       UNION ALL SELECT target, term, CAST(n AS BIGINT) FROM hub""",
)
def d153(spark, sf_dir):
    """Web-graph tier (r11): ANCHOR-TEXT aggregation
    (``text.anchor_text_terms``) — the link signal that describes the
    TARGET page: per (target, term), the count of distinct linking
    PAGES (per-page dedup first — the fixture repeats its nav link
    twice per page, so the anti-spam normalization is the thing
    certified, along with relative-href resolution against the
    linking page's host and distinct doc_ids collapsing onto one URI).
    Oracle replays the page group, link plan, and counts
    arithmetically.  Shuffles carry (target, term) pairs only; hub
    targets combine map-side."""
    d = tables(spark, sf_dir)("documents")
    k = (F.col("doc_id") % 5).cast("string")
    hub = F.when(
        F.col("doc_id") % 3 == 0,
        F.lit('<a href="https://hub.example.com/x">Shared Hub Link</a>'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home Page</a>'
              '<a href="/">Home Page</a></nav><p>body</p>'),
        F.lit('<a href="/cat/'), k, F.lit('">category '), k, F.lit("</a>"),
        hub,
        F.lit("</body></html>"),
    )
    uri = F.concat(
        F.lit("https://www.site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/p/"), (F.col("doc_id") % 50).cast("string"),
    )
    return text.anchor_text_terms(
        d.select(uri.alias("uri"), html.alias("html")), "uri", "html"
    )


@q(
    "d154_image_dhash",
    """WITH g AS (SELECT doc_id, x.x AS gx, y.y AS gy,
                (x.x * 16) // 9 AS sx, (y.y * 16) // 8 AS sy
           FROM documents, range(0, 9) x(x), range(0, 8) y(y)),
       px AS (SELECT doc_id, gx, gy,
                ((7*doc_id + 3*sx + 5*sy) % 256)
              + ((7*doc_id + 3*sx + 5*sy + 11) % 256)
              + ((7*doc_id + 3*sx + 5*sy + 22) % 256) AS gray
              FROM g),
       b AS (SELECT a.doc_id, a.gy AS y, a.gx AS x,
               CASE WHEN a.gray > r.gray THEN 1 ELSE 0 END AS bit
             FROM px a JOIN px r
               ON r.doc_id = a.doc_id AND r.gy = a.gy AND r.gx = a.gx + 1
             WHERE a.gx < 8)
       SELECT doc_id, CAST(sum(bit) AS INT) AS n_ones,
              CAST(sum(CASE WHEN 8*y + x < 32
                       THEN bit * (1::BIGINT << (8*y + x)) ELSE 0 END)
                   AS BIGINT) AS hash_lo,
              CAST(sum(CASE WHEN 8*y + x >= 32
                       THEN bit * (1::BIGINT << (8*y + x - 32)) ELSE 0 END)
                   AS BIGINT) AS hash_hi
       FROM b GROUP BY 1""",
)
def d154(spark, sf_dir):
    """Multimodal tier (r11): difference-hash (``multimodal.dhash_64``)
    completes the canonical perceptual trio (aHash d115 / pHash d141 /
    dHash): 9x8 nearest-neighbor grid, bit = left-brighter-than-right
    per row — integer-exact end to end, so the oracle replays grid
    sampling and every comparison.  Gradient signs survive global
    brightness shifts; Hamming clustering rides hamming_clusters like
    the others.  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.dhash_64(
        multimodal.synth_raw_rgb(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d155_code_switch",
    """WITH w AS (SELECT doc_id, string_split(text ||
           CASE WHEN doc_id % 6 = 0
                THEN ' el la que y en un por con una el la de que y en un'
                ELSE '' END, ' ') AS w
         FROM documents),
       ln AS (SELECT doc_id, CAST((s - 1) // 8 AS INT) AS line_no,
                list_transform(w[s : s + 7], t -> lower(t)) AS tk
              FROM w, LATERAL (
                SELECT unnest(range(1, greatest(len(w), 1) + 1, 8)) AS s)),
       lex(lang, lx) AS (VALUES
         ('de', ['der','die','und','das','von','zu','mit','ein','auf','ist']),
         ('en', ['the','and','of','to','a','in','is','that','for','it']),
         ('es', ['el','la','de','que','y','en','un','por','con','una']),
         ('fr', ['le','la','de','et','les','des','un','une','du','est'])),
       sc AS (SELECT doc_id, line_no, lex.lang,
                round(len(list_filter(tk, t -> list_contains(lex.lx, t)))::DOUBLE
                      / greatest(len(tk), 1), 6) AS s
              FROM ln, lex),
       pl AS (SELECT doc_id, line_no, lang FROM (
                SELECT doc_id, line_no, lang,
                  row_number() OVER (PARTITION BY doc_id, line_no
                                     ORDER BY s DESC, lang DESC) AS rn
                FROM sc) WHERE rn = 1),
       cnt AS (SELECT doc_id, lang, count(*) AS c FROM pl GROUP BY 1, 2),
       mj AS (SELECT doc_id, lang AS majority_lang FROM (
                SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, lang DESC) AS rn
                FROM cnt) WHERE rn = 1),
       ag AS (SELECT pl.doc_id, count(*) AS n_lines,
                sum(CASE WHEN pl.lang <> mj.majority_lang
                    THEN 1 ELSE 0 END) AS n_sw
              FROM pl JOIN mj ON pl.doc_id = mj.doc_id GROUP BY 1)
       SELECT ag.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
              mj.majority_lang,
              CAST(n_sw AS BIGINT) AS n_switch_lines,
              round(n_sw::DOUBLE / n_lines, 6) AS switch_ratio
       FROM ag JOIN mj ON ag.doc_id = mj.doc_id""",
)
def d155(spark, sf_dir):
    """Multilingual tier (r11): CODE-SWITCH detection
    (``text.code_switch_stats``) — per-LINE language ID (the d09
    lexicons, scores, and (score, lang) argmax verbatim — the op
    composes ``language_id`` over the line table), per-document
    majority (count-desc/lang-desc tie), dissenting-line counts.  The
    fixture plants a 16-word Spanish span in every sixth document —
    long enough that at least one chunk-aligned window is fully
    Spanish regardless of alignment, so those docs MUST report
    nonzero switch lines.  The oracle replays lexicon scoring, both
    argmaxes, and the ratios."""
    d = tables(spark, sf_dir)("documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.lit(" el la que y en un por con una el la de que y en un"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return text.code_switch_stats(planted, "doc_id", "text")


@q(
    "d156_audio_fingerprint",
    """WITH p AS (SELECT doc_id, 256 + doc_id % 64 AS n,
                    1 + doc_id % 7 AS a, 3 + doc_id % 13 AS b
            FROM documents),
       tb AS (SELECT k.k AS k, t.t AS t,
                CAST(CASE WHEN cos(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(cos(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(cos(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS c,
                CAST(CASE WHEN sin(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(sin(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(sin(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS s
              FROM range(0, 9) k(k), range(0, 64) t(t)),
       fr AS (SELECT doc_id, a, b, f.f AS frame_no
              FROM p, range(0, 5) f(f) WHERE f.f < n // 64),
       sm AS (SELECT doc_id, a, b, frame_no, t.t AS t,
                (a * (frame_no * 64 + t.t) * (frame_no * 64 + t.t)
                 + b * (frame_no * 64 + t.t) + doc_id) % 2048 - 1024 AS sv
              FROM fr, range(0, 64) t(t)),
       dft AS (SELECT doc_id, frame_no, tb.k AS bin,
                 CAST(sum(sv * tb.c) AS BIGINT) AS re,
                 CAST(-sum(sv * tb.s) AS BIGINT) AS im
               FROM sm JOIN tb ON tb.t = sm.t GROUP BY 1, 2, 3),
       en AS (SELECT doc_id, frame_no, bin,
                re::HUGEINT * re + im::HUGEINT * im AS e
              FROM dft WHERE bin >= 1),
       gr AS (SELECT lo.doc_id, lo.frame_no, lo.bin - 1 AS pr,
                     lo.e - hi.e AS g
              FROM en lo JOIN en hi
                ON hi.doc_id = lo.doc_id AND hi.frame_no = lo.frame_no
               AND hi.bin = lo.bin + 1),
       dd AS (SELECT cur.doc_id, cur.frame_no, cur.pr,
                CASE WHEN cur.g - prv.g > 0 THEN 1 ELSE 0 END AS bit
              FROM gr cur JOIN gr prv
                ON prv.doc_id = cur.doc_id AND prv.pr = cur.pr
               AND prv.frame_no = cur.frame_no - 1),
       fp AS (SELECT doc_id,
                CAST(sum(CASE WHEN bit = 1
                     THEN (1::BIGINT << (7 * (frame_no - 1) + pr))
                     ELSE 0 END) AS BIGINT) AS val,
                CAST(sum(bit) AS INT) AS ones
              FROM dd GROUP BY 1)
       SELECT p.doc_id, CAST(p.n // 64 AS BIGINT) AS n_frames,
              CAST(least(p.n // 64, 10) AS BIGINT) AS n_frames_used,
              coalesce(fp.ones, 0) AS n_ones,
              CAST(coalesce(fp.val, 0) & 4294967295 AS BIGINT) AS fp_lo,
              CAST(coalesce(fp.val, 0) >> 32 AS BIGINT) AS fp_hi
       FROM p LEFT JOIN fp ON fp.doc_id = p.doc_id""",
)
def d156(spark, sf_dir):
    """Media perceptual tier (r12): Chromaprint-style AUDIO fingerprint
    (``multimodal.audio_fingerprint``) — the sound-side near-dup sieve
    completing the perceptual family (pHash/dHash/aHash images, this
    audio): integer-basis STFT band energies (the d142 machinery), bit
    = sign of the frame-over-frame change of the adjacent-band energy
    gradient (the double-difference filter), over the chirp fixture
    (``synth_chirp_wav`` — quadratic phase, so the spectrum MOVES
    between frames; the linear-ramp fixture is spectrally static and
    fingerprints degenerate to zero on it).  Energies are
    arbitrary-precision (HUGEINT in the oracle), so every bit is
    exact; Hamming clustering rides dedup.hamming_clusters unchanged
    (pinned in tests with volume-doubled and DC-offset copies).
    ``n_frames_used`` = min(n_frames, 63//(n_bands-1) + 1) = LEAST(n,
    10) here surfaces the 64-bit head-coverage cap (r12 ADVICE) so
    long-audio dedup can see when only the head was fingerprinted.
    The oracle replays WAV samples, DFT, band energies, both
    differences, and the bit packing end to end.  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.audio_fingerprint(
        multimodal.synth_chirp_wav(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d156b_audio_fp_guarantees",
    """SELECT doc_id, CAST(1 AS INT) AS volume_invariant FROM documents""",
)
def d156b(spark, sf_dir):
    """d156's certification twin: a volume-DOUBLED copy of every track
    (same signal, gain 2 — every STFT energy scales by exactly 4, so
    every double-difference sign is preserved) must fingerprint
    IDENTICALLY to its original, per document.  The engine computes
    both fleets and compares; the oracle states the invariant, making
    the exact-arithmetic volume-invariance claim driver-checkable
    (the d130d/d134b guarantee-twin pattern)."""
    d = tables(spark, sf_dir)("documents")
    base = multimodal.audio_fingerprint(
        multimodal.synth_chirp_wav(d, "doc_id"), "payload", "doc_id"
    )
    loud = multimodal.audio_fingerprint(
        multimodal.synth_chirp_wav(d, "doc_id", gain=2), "payload", "doc_id"
    )
    b, l = base.alias("b"), loud.alias("l")
    return b.join(l, F.col("b.doc_id") == F.col("l.doc_id")).select(
        F.col("b.doc_id").alias("doc_id"),
        (
            (F.col("b.fp_lo") == F.col("l.fp_lo"))
            & (F.col("b.fp_hi") == F.col("l.fp_hi"))
            & (F.col("b.n_ones") == F.col("l.n_ones"))
        ).cast("int").alias("volume_invariant"),
    )


@q(
    "d157_ts_similarity_join",
    """WITH rev AS (SELECT c_nationkey AS nation,
           (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS week,
           sum(CAST(o_totalprice AS DECIMAL(18,4))) AS r
         FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
       b AS (SELECT min(week) AS tmin, max(week) AS tmax FROM rev),
       seg AS (SELECT nation,
                 ((week - tmin) * 4) // (tmax - tmin + 1) AS s, r
               FROM rev, b),
       ps AS (SELECT nation, s, sum(r) AS sv, sum(r * r) AS svv
              FROM seg GROUP BY 1, 2),
       grid AS (SELECT dn.nation, g.g AS s
                FROM (SELECT DISTINCT nation FROM ps) dn, range(0, 4) g(g)),
       psf AS (SELECT grid.nation, grid.s,
                      coalesce(sv, 0) AS sv, coalesce(svv, 0) AS svv
               FROM grid LEFT JOIN ps
                 ON grid.nation = ps.nation AND grid.s = ps.s),
       pn AS (SELECT nation, s, sv, svv,
                ((s + 1) * (tmax - tmin + 1)) // 4
                  - (s * (tmax - tmin + 1)) // 4 AS n
              FROM psf, b),
       pe AS (SELECT nation, sum(sv) AS tot, sum(svv) AS tot2,
                     sum(n) AS w
              FROM pn GROUP BY 1),
       z AS (SELECT pn.nation, s,
               round(CASE WHEN sqrt(greatest(
                        tot2::DOUBLE / w - (tot::DOUBLE / w) * (tot::DOUBLE / w),
                        0)) = 0 THEN NULL
                 ELSE (sv::DOUBLE / n - tot::DOUBLE / w)
                      / sqrt(greatest(
                          tot2::DOUBLE / w
                            - (tot::DOUBLE / w) * (tot::DOUBLE / w), 0))
                 END, 4) AS paa
             FROM pn JOIN pe ON pn.nation = pe.nation),
       lt AS (SELECT nation, s,
                CASE WHEN paa IS NULL THEN 'a'
                     WHEN paa < -0.6745 THEN 'a'
                     WHEN paa < 0.0 THEN 'b'
                     WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS l
              FROM z),
       wd AS (SELECT nation, string_agg(l, '' ORDER BY s) AS sax_word
              FROM lt GROUP BY 1),
       cand AS (SELECT qw.nation AS qid, cw.nation AS entity
                FROM wd qw JOIN wd cw ON qw.sax_word = cw.sax_word
                WHERE qw.nation IN (0, 1, 2)),
       vr AS (SELECT c.qid, c.entity, count(*) AS n_common,
                round(corr(ce.r::DOUBLE, qe.r::DOUBLE), 6) AS rho
              FROM cand c
              JOIN rev qe ON qe.nation = c.qid
              JOIN rev ce ON ce.nation = c.entity AND ce.week = qe.week
              GROUP BY 1, 2),
       d AS (SELECT qid, entity, n_common, rho,
               round(sqrt(greatest(2 * n_common * (1 - rho), 0)), 6) AS dist
             FROM vr WHERE n_common >= 2 AND rho IS NOT NULL),
       rk AS (SELECT qid, entity, n_common, rho, dist,
                row_number() OVER (PARTITION BY qid
                                   ORDER BY dist ASC, entity ASC) AS rank
              FROM d)
       SELECT CAST(qid AS BIGINT) AS qid, CAST(entity AS BIGINT) AS entity,
              CAST(n_common AS BIGINT) AS n_common, rho,
              dist AS znorm_dist, CAST(rank AS INT) AS rank
       FROM rk WHERE rank <= 3""",
)
def d157(spark, sf_dir):
    """Time-series tier (r12): MULTI-QUERY similarity JOIN
    (``timeseries.ts_similarity_join``) — the composition d149's
    single-query contract and d150's SAX blocking exist for: block
    queries AND corpus on the shared-grid SAX word (candidate volume
    Σ_word q-bucket × c-bucket, never queries × corpus), znorm-verify
    only within blocks (dist² = 2n(1−ρ), ρ rounded 6 dp), top-k per
    query via WindowGroupLimit.  Queries here are nations 0-2's weekly
    revenue series verbatim (self-retrieval anchors the answer: each
    qid's rank 1 is itself at distance 0 — certified corpus-wide by
    d157b); the oracle replays grid, PAA, quantization, word join,
    co-moment verify, and ranking end to end."""
    from .. import timeseries

    o = tables(spark, sf_dir)("orders")
    c = tables(spark, sf_dir)("customer")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.floor(
                F.datediff(
                    F.to_date("o_orderdate"),
                    F.lit("1970-01-01").cast("date"),
                )
                / F.lit(7)
            ).cast("long").alias("week"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("r")
        )
    )
    from .._scratch import scratch_persist

    # the series table feeds the bounds agg, both SAX passes and the
    # verify joins — persist so the orders scan + join run once
    rev = scratch_persist(rev, "d157/nation_weekly_revenue")
    q = rev.filter(F.col("nation") <= 2).select(
        F.col("nation").alias("qid"), "week", "r"
    )
    return timeseries.ts_similarity_join(
        rev, q, entity_col="nation", t_col="week", v_col="r",
        qid_col="qid", segments=4, k=3,
    ).withColumnRenamed("nation", "entity")


@q(
    "d157b_ts_join_self_retrieval",
    """SELECT DISTINCT CAST(c_nationkey AS BIGINT) AS qid,
              CAST(1 AS INT) AS self_retrieved
       FROM customer""",
)
def d157b(spark, sf_dir):
    """d157's certification twin — the self-retrieval guarantee the
    blocked search inherits from exact blocking arithmetic: EVERY
    nation's series, used verbatim as a query, shares its own SAX word
    (same grid, same quantization), survives the verify at exactly
    ρ = 1 / distance 0, and wins rank 1 (distance-then-entity order).
    One guarantee row per nation; the oracle states the invariant
    (the d156b pattern).  This is the recall floor the lossy blocking
    still guarantees — the d02-style exact-dup anchor in shape space."""
    from .. import timeseries

    o = tables(spark, sf_dir)("orders")
    c = tables(spark, sf_dir)("customer")
    rev = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.floor(
                F.datediff(
                    F.to_date("o_orderdate"),
                    F.lit("1970-01-01").cast("date"),
                )
                / F.lit(7)
            ).cast("long").alias("week"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("r")
        )
    )
    from .._scratch import scratch_persist

    rev = scratch_persist(rev, "d157b/nation_weekly_revenue")
    q = rev.select(F.col("nation").alias("qid"), "week", "r")
    top1 = timeseries.ts_similarity_join(
        rev, q, entity_col="nation", t_col="week", v_col="r",
        qid_col="qid", segments=4, k=1,
    )
    return top1.select(
        "qid",
        (
            (F.col("nation") == F.col("qid"))
            & (F.col("znorm_dist") == F.lit(0.0))
        ).cast("int").alias("self_retrieved"),
    )


@q(
    "d158_branch_lineage_card",
    """WITH c AS (SELECT
         sum(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END) AS n0,
         sum(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END) AS n1,
         sum(CASE WHEN doc_id % 4 = 2 THEN 1 ELSE 0 END) AS n2,
         sum(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 0 END) AS n3
       FROM documents)
       SELECT 'main' AS dataset, 'v1' AS version,
              CAST(n0 AS BIGINT) AS n_rows,
              CAST(NULL AS VARCHAR) AS branched_from,
              CAST(0 AS INT) AS at_fork, CAST(0 AS INT) AS post_fork
       FROM c
       UNION ALL SELECT 'main', 'v2', CAST(n1 AS BIGINT), NULL, 0, 0 FROM c
       UNION ALL SELECT 'main', 'm3', CAST(n3 AS BIGINT), NULL, 0, 0 FROM c
       UNION ALL SELECT 'exp', 'v1', CAST(n0 AS BIGINT), 'main', 1, 0 FROM c
       UNION ALL SELECT 'exp', 'v2', CAST(n1 AS BIGINT), 'main', 1, 0 FROM c
       UNION ALL SELECT 'exp', 'b3', CAST(n2 AS BIGINT), 'main', 0, 1
       FROM c""",
)
def d158(spark, sf_dir):
    """Storage tier (r12, VERDICT r11 #8): the BRANCH LINEAGE CARD —
    ``engine.branch_card``, the queryable face of the r11 branching
    trio: per committed version, its row count plus its lineage
    position (fork-inherited vs branch-grown, with the recorded fork
    source).  The fixture builds a real two-branch warehouse from the
    documents table (main commits v1/v2, forks to exp, then each side
    diverges — m3 on main, b3 on exp) and unions both cards; the
    oracle replays every count and lineage flag arithmetically.
    Certifies that branching is not just storable but AUDITABLE — the
    per-branch deltas a release review needs."""
    import tempfile

    from ..engine import DataFrameEngine

    d = tables(spark, sf_dir)("documents")
    eng = DataFrameEngine(spark, tempfile.mkdtemp(prefix="d158_wh_"))
    eng.save(d.filter(F.col("doc_id") % 4 == 0), "main", external_key="v1")
    eng.save(d.filter(F.col("doc_id") % 4 == 1), "main", external_key="v2")
    eng.branch_dataset("main", "exp")
    eng.save(d.filter(F.col("doc_id") % 4 == 2), "exp", external_key="b3")
    eng.save(d.filter(F.col("doc_id") % 4 == 3), "main", external_key="m3")
    return eng.branch_card("main").unionAll(eng.branch_card("exp"))


@q(
    "d159_exif_extract",
    """SELECT doc_id, CAST(1 AS INT) AS has_exif, 'II' AS byte_order,
              'cam' || (doc_id % 7) AS make,
              'm' || (doc_id % 13) AS model,
              CAST(1 + doc_id % 8 AS INT) AS orientation,
              '2024:01:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
                || ' 03:04:05' AS datetime
       FROM documents""",
)
def d159(spark, sf_dir):
    """Media metadata tier (r12): EXIF EXTRACTION
    (``multimodal.exif_extract``) — the image-metadata parse every
    crawl pipeline runs before shipping media (device identity, EXIF
    timestamps — a PII surface): JPEG marker-segment walk, APP1
    ``Exif\\0\\0`` discovery, TIFF container parse (byte order, IFD0
    entry walk, data-area ASCII resolution).  The fixture
    (``synth_jpeg_exif``) plants a deterministic little-endian IFD0 —
    Make/Model/Orientation/DateTime all arithmetic in the id — so the
    oracle replays every extracted field.  The redaction half is
    ``exif_strip``, certified by d159b's byte-exact identity.  Zero
    shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.exif_extract(
        multimodal.synth_jpeg_exif(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d159b_exif_strip_guarantees",
    """SELECT doc_id, CAST(1 AS INT) AS strip_identity FROM documents""",
)
def d159b(spark, sf_dir):
    """d159's redaction twin (the media analogue of d44's PII redact
    guarantees): because ``synth_jpeg_exif`` INSERTS the APP1 segment
    into ``synth_jpeg``'s byte stream, ``exif_strip`` must reproduce
    the plain stream BYTE-EXACTLY (sha256 compare), report exactly one
    stripped segment, and leave nothing a re-extraction can find.  One
    guarantee row per document; the oracle states the invariant."""
    d = tables(spark, sf_dir)("documents")
    plain = multimodal.synth_jpeg(d, "doc_id").select(
        "doc_id", F.sha2(F.col("payload"), 256).alias("__psha")
    )
    stripped = multimodal.exif_strip(
        multimodal.synth_jpeg_exif(d, "doc_id"), "payload", "doc_id"
    )
    from .._scratch import scratch_persist

    stripped = scratch_persist(stripped, "d159b/stripped")
    residual = multimodal.exif_extract(
        stripped.select("doc_id", "payload"), "payload", "doc_id"
    ).select("doc_id", "has_exif")
    return (
        stripped.select(
            "doc_id", F.sha2(F.col("payload"), 256).alias("__ssha"),
            "n_stripped",
        )
        .join(plain, "doc_id")
        .join(residual, "doc_id")
        .select(
            "doc_id",
            (
                (F.col("__ssha") == F.col("__psha"))
                & (F.col("n_stripped") == 1)
                & (F.col("has_exif") == 0)
            ).cast("int").alias("strip_identity"),
        )
    )


@q(
    "d156c_audio_near_dup_clusters",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS id, CAST(i AS BIGINT) AS cluster,
              CAST(2 AS BIGINT) AS cluster_size FROM m
       UNION ALL
       SELECT CAST(i + 1000 AS BIGINT), CAST(i AS BIGINT),
              CAST(2 AS BIGINT) FROM m""",
)
def d156c(spark, sf_dir):
    """d156's cluster-level certification (the audio twin of d117's
    image near-dup clusters): a fleet of 8 distinct chirp tracks plus
    one DC-offset copy of each (id + 1000, offset 7 — same signal up
    to basis rounding residue) runs fingerprint →
    ``dedup.hamming_clusters`` END TO END.  The fixture's measured
    separation (copies at Hamming 0, distinct tracks at ≥ 6 vs the
    max_hamming=3 band) makes the cluster answer analytic: exactly 8
    two-member clusters, each labeled by its original's id, no
    cross-track merges — which the oracle states arithmetically.
    Certifies the banding + exact-collapse + connected-components
    composition over the audio signature space, not just the
    signature values."""
    from .. import dedup

    d = tables(spark, sf_dir)("documents")
    ids = d.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    fleet = multimodal.synth_chirp_wav(ids, "doc_id").unionAll(
        multimodal.synth_chirp_wav(ids, "doc_id", offset=7).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "payload"
        )
    )
    fps = multimodal.audio_fingerprint(fleet, "payload", "doc_id").select(
        "doc_id",
        (F.col("fp_lo") + F.shiftleft(F.col("fp_hi"), 32)).alias("sig"),
    )
    return dedup.hamming_clusters(fps, "doc_id", "sig", max_hamming=3)


@q(
    "d161_sft_loss_mask",
    """WITH t AS (SELECT doc_id,
                    list_filter(string_split(text, ' '), x -> x <> '') AS w
            FROM documents),
       u AS (SELECT doc_id, w[i.i] AS tok, i.i AS pos,
                    least(len(w), 8) AS np
             FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i),
       v AS (SELECT tok, row_number() OVER (ORDER BY tok) AS vid
             FROM (SELECT DISTINCT tok FROM u)),
       j AS (SELECT u.doc_id, u.pos, u.np, v.vid FROM u JOIN v USING (tok))
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(CASE WHEN pos <= np THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_masked,
              sha256(string_agg(vid::VARCHAR, ',' ORDER BY pos)) AS ids_sha,
              sha256(string_agg(CASE WHEN pos <= np THEN '-100'
                                     ELSE vid::VARCHAR END,
                                ',' ORDER BY pos)) AS labels_sha
       FROM j GROUP BY doc_id""",
)
def d161(spark, sf_dir):
    """Training-data tier (r12): SFT LOSS-MASK prep
    (``packing.sft_loss_mask``) — the (input_ids, labels) build between
    cleaning and batching: per example, prompt tokens mask to -100 and
    loss flows only through the response.  The fixture splits every
    document at token 8 (prompt = head, response = tail); token ids
    come from the corpus-derived vocabulary (dense rank over sorted
    distinct tokens via ``scale.global_row_index`` — range-partitioned,
    no single-task window), so the oracle replays every id, every mask
    position, and the exact sequence shas.  Arrays project to
    sha256(join(ids)) at the query boundary per the corpus discipline
    (arrays never cross the compare)."""
    from .. import packing

    d = tables(spark, sf_dir)("documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    pairs = d.select(
        "doc_id",
        F.array_join(F.slice(w, 1, 8), " ").alias("prompt"),
        F.array_join(
            F.slice(w, 9, F.greatest(F.size(w) - 8, F.lit(0))), " "
        ).alias("response"),
    )
    out = packing.sft_loss_mask(pairs, "doc_id", "prompt", "response")
    to_str = lambda col: F.array_join(  # noqa: E731
        F.transform(col, lambda x: x.cast("string")), ","
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_masked",
        F.sha2(to_str(F.col("input_ids")), 256).alias("ids_sha"),
        F.sha2(to_str(F.col("labels")), 256).alias("labels_sha"),
    )


@q(
    "d163_schema_evolution_card",
    """SELECT 'ds' AS dataset, 'v1' AS version, CAST(2 AS INT) AS n_columns,
              'doc_id,text' AS added, '' AS removed
       FROM (SELECT 1) one
       UNION ALL SELECT 'ds', 'v2', CAST(3 AS INT), 'lang', ''
       FROM (SELECT 1) one
       UNION ALL SELECT 'ds', 'v3', CAST(2 AS INT), 'n_chars', 'lang,text'
       FROM (SELECT 1) one""",
)
def d163(spark, sf_dir):
    """Storage tier (r12): SCHEMA-EVOLUTION CARD
    (``engine.schema_history``) — per committed version, the
    user-facing column count and the columns ADDED/REMOVED vs the
    previous version, read from parquet footers only (no data pages).
    The fixture commits three versions of the documents table with a
    widening then a narrowing projection, so the card must show the
    merge-visible history (v2 adds ``lang``, v3 drops ``lang,text``
    and adds ``n_chars``); the oracle states it literally.  The
    manifest's merged end-state schema alone cannot answer 'where did
    this column enter' — this card can."""
    import tempfile

    from ..engine import DataFrameEngine

    d = tables(spark, sf_dir)("documents")
    eng = DataFrameEngine(spark, tempfile.mkdtemp(prefix="d163_wh_"))
    eng.save(d.select("doc_id", "text"), "ds", external_key="v1")
    eng.save(d.select("doc_id", "text", "lang"), "ds", external_key="v2")
    eng.save(d.select("doc_id", "n_chars"), "ds", external_key="v3")
    return eng.schema_history("ds")


@q(
    "d164_dpo_pair_prep",
    """WITH c AS (SELECT doc_id // 4 AS pid,
                    array_to_string(
                      (list_filter(string_split(text, ' '),
                                   x -> x <> ''))[1:1], ' ') AS resp,
                    CAST(doc_id % 7 AS DOUBLE) AS score
            FROM documents),
       rk AS (SELECT pid, resp, score,
                row_number() OVER (PARTITION BY pid
                                   ORDER BY score DESC, resp DESC) AS rhi,
                row_number() OVER (PARTITION BY pid
                                   ORDER BY score ASC, resp ASC) AS rlo
              FROM c),
       n AS (SELECT pid, count(*) AS nc FROM c GROUP BY 1),
       hi AS (SELECT pid, resp AS chosen, score AS shi FROM rk WHERE rhi = 1),
       lo AS (SELECT pid, resp AS rejected, score AS slo FROM rk WHERE rlo = 1),
       p AS (SELECT n.pid, n.nc, hi.chosen, lo.rejected, shi, slo
             FROM n JOIN hi ON n.pid = hi.pid JOIN lo ON n.pid = lo.pid
             WHERE hi.chosen <> lo.rejected AND shi - slo >= 0.0),
       ph AS (SELECT *, sha256(chosen || chr(31) || rejected) AS pair_sha
              FROM p),
       dd AS (SELECT *, row_number() OVER (PARTITION BY pair_sha
                                           ORDER BY pid) AS rn FROM ph)
       SELECT CAST(pid AS BIGINT) AS prompt_id,
              CAST(nc AS BIGINT) AS n_candidates,
              chosen, rejected,
              round(shi, 6) AS score_chosen,
              round(slo, 6) AS score_rejected,
              round(shi - slo, 6) AS score_gap,
              pair_sha
       FROM dd WHERE rn = 1""",
)
def d164(spark, sf_dir):
    """Training-data tier (r13): DPO PREFERENCE-PAIR prep
    (``packing.dpo_pair_prep``) — the SFT tier's sibling (VERDICT r12
    #2): d161 builds (input_ids, labels); a preference pipeline ships
    (chosen, rejected) pairs.  The fixture derives a scored candidate
    pool from documents (prompt = doc_id//4 — up to four candidates per
    prompt; response = the doc's FIRST WORD, which collides across
    prompts — 8-11 joint pairs dedup away at sf0.001/0.01, so the
    keep-min path is non-vacuous — and ties within a prompt exercise
    the degenerate-drop rule; score =
    doc_id%7 — distinct within a prompt since four consecutive ints
    can't collide mod 7).  Chosen/rejected = (score, response) argmax/
    argmin with the deterministic text tie-break; degenerate prompts
    (one candidate) drop; pairs dedup on sha256(chosen||0x1f||rejected)
    keeping the smallest prompt.  The oracle replays ranking, gap,
    joint hash, and keep-min dedup exactly.  Scale: two key shuffles
    of one row per prompt; map-side-combinable aggregates."""
    from .. import packing

    d = tables(spark, sf_dir)("documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    cand = d.select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        F.array_join(F.slice(w, 1, 1), " ").alias("response"),
        (F.col("doc_id") % 7).cast("double").alias("score"),
    )
    return packing.dpo_pair_prep(cand, "prompt_id", "response", "score")


@q(
    "d164b_dpo_leakage_guarantees",
    """WITH c AS (SELECT doc_id // 4 AS pid,
                    array_to_string(
                      (list_filter(string_split(text, ' '),
                                   x -> x <> ''))[1:1], ' ') AS resp,
                    CAST(doc_id % 7 AS DOUBLE) AS score
            FROM documents),
       rk AS (SELECT pid, resp, score,
                row_number() OVER (PARTITION BY pid
                                   ORDER BY score DESC, resp DESC) AS rhi,
                row_number() OVER (PARTITION BY pid
                                   ORDER BY score ASC, resp ASC) AS rlo
              FROM c),
       hi AS (SELECT pid, resp AS chosen FROM rk WHERE rhi = 1),
       lo AS (SELECT pid, resp AS rejected FROM rk WHERE rlo = 1),
       p AS (SELECT hi.pid, chosen, rejected
             FROM hi JOIN lo ON hi.pid = lo.pid
             WHERE chosen <> rejected),
       dd AS (SELECT pid, row_number() OVER (
                PARTITION BY chosen || chr(31) || rejected
                ORDER BY pid) AS rn FROM p),
       keep AS (SELECT pid FROM dd WHERE rn = 1),
       heads AS (SELECT doc_id // 4 AS hpid,
                   array_to_string(
                     (list_filter(string_split(text, ' '),
                                  x -> x <> ''))[1:8], ' ') AS prompt
                 FROM documents WHERE doc_id % 4 = 0),
       pp AS (SELECT k.pid,
                CASE WHEN k.pid % 5 = 0 AND k.pid > 0
                     THEN k.pid - 1 ELSE k.pid END AS src
              FROM keep k),
       pt AS (SELECT pp.pid, h.prompt
              FROM pp JOIN heads h ON h.hpid = pp.src),
       sh AS (SELECT pid,
                list_distinct([array_to_string(ws[i:i+2], ' ')
                               FOR i IN range(1, greatest(len(ws) - 2, 1) + 1)]) AS s
              FROM (SELECT pid, string_split(prompt, ' ') AS ws FROM pt)),
       tr AS (SELECT * FROM sh WHERE pid % 10 <> 0),
       te AS (SELECT * FROM sh WHERE pid % 10 = 0),
       leak AS (SELECT DISTINCT tr.pid FROM tr, te
                WHERE len(list_intersect(tr.s, te.s))::DOUBLE
                      / len(list_distinct(tr.s || te.s)) >= 0.5)
       SELECT 'train_pairs_in' AS rule,
              (SELECT CAST(count(*) AS BIGINT) FROM tr) AS val
       UNION ALL
       SELECT 'train_pairs_surviving',
              CAST((SELECT count(*) FROM tr)
                   - (SELECT count(*) FROM leak) AS BIGINT)
       UNION ALL
       SELECT 'leaky_survivor_pairs', CAST(0 AS BIGINT)""",
)
def d164b(spark, sf_dir):
    """d164's certification twin (the d47b pattern at PAIR granularity
    — VERDICT r12 #2's leakage-guarantee ask): a released preference
    dataset must guarantee no eval prompt near-duplicates a train
    prompt.  The fixture attaches a PROMPT TEXT to every d164 pair
    (the first 8 words of the prompt group's head document), with a
    deterministic PLANT: every fifth prompt reuses the PREVIOUS
    group's head text, so eval prompt pid=10k is byte-identical to
    train prompt pid=10k-1 — leaks genuinely straddle the pid%10
    split (non-vacuous at sf0.001 and sf0.01).  Train pairs scrub in
    the production two-tier shape: the certified MinHash-LSH machinery
    first (``dedup.incremental_dedup_minhash`` on prompt text — the
    100 TB path), then an EXACT residual scrub
    (``dedup.cross_jaccard_pairs`` over the LSH survivors — audit-
    sized by then).  The LSH verify step is exact-Jaccard, so
    LSH-caught ⊆ exact-caught and the two-tier survivors equal the
    oracle's exact-Jaccard survivors BY CONSTRUCTION at any scale —
    an accidental non-identical near-dup that slips LSH's ~40-60%
    recall near J=0.5 (r13 ADVICE) is caught by the residual tier.
    ``leaky_survivor_pairs`` is an INDEPENDENT engine-side exact audit
    (shingle equi-join, no cartesian) that must be 0."""
    d = tables(spark, sf_dir)("documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    cand = d.select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        F.array_join(F.slice(w, 1, 1), " ").alias("response"),
        (F.col("doc_id") % 7).cast("double").alias("score"),
    )
    pairs = packing.dpo_pair_prep(cand, "prompt_id", "response", "score")
    heads = d.filter(F.col("doc_id") % 4 == 0).select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("hpid"),
        F.array_join(F.slice(w, 1, 8), " ").alias("prompt"),
    )
    src = F.when(
        (F.col("prompt_id") % 5 == 0) & (F.col("prompt_id") > 0),
        F.col("prompt_id") - 1,
    ).otherwise(F.col("prompt_id"))
    pt = (
        pairs.select("prompt_id", src.alias("__src"))
        .join(heads, F.col("__src") == F.col("hpid"))
        .select("prompt_id", "prompt")
    )
    train = pt.filter(F.col("prompt_id") % 10 != 0)
    ev = pt.filter(F.col("prompt_id") % 10 == 0)
    lsh_surv = dedup.incremental_dedup_minhash(
        train, ev, "prompt_id", "prompt",
        n_hashes=32, bands=8, jaccard_threshold=0.5,
    )
    residual = dedup.cross_jaccard_pairs(
        lsh_surv, ev, "prompt_id", "prompt", shingle=3, threshold=0.5
    )
    surv = lsh_surv.join(
        residual.select(F.col("id_a").alias("prompt_id")).distinct(),
        "prompt_id",
        "left_anti",
    )
    audit = dedup.cross_jaccard_pairs(
        surv, ev, "prompt_id", "prompt", shingle=3, threshold=0.5
    )
    r1 = train.agg(F.count("*").cast("long").alias("val")).select(
        F.lit("train_pairs_in").alias("rule"), "val"
    )
    r2 = surv.agg(F.count("*").cast("long").alias("val")).select(
        F.lit("train_pairs_surviving").alias("rule"), "val"
    )
    r3 = audit.agg(F.count("*").cast("long").alias("val")).select(
        F.lit("leaky_survivor_pairs").alias("rule"), "val"
    )
    return r1.unionAll(r2).unionAll(r3)


@q(
    "d165_vad_segments",
    """WITH p AS (SELECT doc_id, 512 + (doc_id % 8) * 64 AS n,
                    1 + doc_id % 7 AS a, 3 + doc_id % 13 AS b
            FROM documents),
       fr AS (SELECT doc_id, a, b, f.f AS frame_no
              FROM p, range(0, 16) f(f) WHERE f.f < n // 64),
       sm AS (SELECT doc_id, frame_no,
                (frame_no + doc_id) % 4 AS cls,
                frame_no * 64 + t.t AS gt, a, b
              FROM fr, range(0, 64) t(t)),
       sv AS (SELECT doc_id, frame_no,
                CASE WHEN cls = 0 THEN (3 * gt + doc_id) % 16 - 8
                     WHEN cls = 3 THEN (a*gt*gt + b*gt + doc_id) % 720 - 360
                     ELSE (a*gt*gt + b*gt + doc_id) % 2048 - 1024
                END AS s
              FROM sm),
       en AS (SELECT doc_id, frame_no, CAST(sum(s * s) AS BIGINT) AS e
              FROM sv GROUP BY 1, 2),
       pk AS (SELECT doc_id, max(e) AS peak FROM en GROUP BY 1),
       ev AS (SELECT en.doc_id, frame_no, e,
                CASE WHEN e * 4 >= peak THEN 1
                     WHEN e * 16 < peak THEN 0
                     ELSE NULL END AS event
              FROM en JOIN pk ON en.doc_id = pk.doc_id),
       st AS (SELECT doc_id, frame_no, e,
                coalesce(last_value(event IGNORE NULLS) OVER (
                  PARTITION BY doc_id ORDER BY frame_no
                  ROWS UNBOUNDED PRECEDING), 0) AS state
              FROM ev),
       act AS (SELECT doc_id, frame_no, e,
                 frame_no - row_number() OVER (
                   PARTITION BY doc_id ORDER BY frame_no) AS isl
               FROM st WHERE state = 1),
       seg AS (SELECT doc_id, isl, min(frame_no) AS f0,
                      max(frame_no) AS f1, count(*) AS nf,
                      CAST(sum(e) AS BIGINT) AS energy
               FROM act GROUP BY 1, 2)
       SELECT doc_id,
              CAST(row_number() OVER (PARTITION BY doc_id ORDER BY f0)
                   AS INT) AS seg_no,
              CAST(f0 AS INT) AS f0, CAST(f1 AS INT) AS f1,
              CAST(nf AS INT) AS n_frames, energy
       FROM seg""",
)
def d165(spark, sf_dir):
    """Audio tier (r13): VAD ENERGY SEGMENTATION
    (``multimodal.vad_segments`` — VERDICT r12 #3): per-frame exact
    integer energies, hysteresis thresholds RELATIVE to the file's
    peak frame (open ≥ peak/4, close < peak/16, hold between), then
    gaps-and-islands — the c57 session pattern applied inside the
    sample array.  The fixture (``synth_speech_wav``) cycles
    silence/loud/loud/medium blocks with a per-id phase, where the
    MEDIUM class lands strictly inside the hysteresis dead band: a
    medium block after speech extends the segment, after silence it
    stays quiet — so the oracle's IGNORE-NULLS carry-forward replay
    (the SQL form of the state machine) certifies the hysteresis rule
    itself, not just thresholding.  Zero shuffles, one row per
    emitted segment."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.vad_segments(
        multimodal.synth_speech_wav(d, "doc_id"), "payload", "doc_id"
    )


@q(
    "d165b_vad_volume_invariance",
    """SELECT doc_id, CAST(1 AS INT) AS volume_invariant FROM documents""",
)
def d165b(spark, sf_dir):
    """d165's certification twin (the d156b pattern): a volume-TRIPLED
    copy of every track (gain 3 — every frame energy scales by exactly
    9, multiplying BOTH sides of each rational threshold comparison)
    must segment IDENTICALLY: same segment count, same (seg_no, f0,
    f1) boundaries per document.  The engine segments both fleets and
    compares boundary fingerprints; the oracle states the invariant,
    making the exact-arithmetic claim driver-checkable.  (Energies
    scale by 9 and are deliberately EXCLUDED from the fingerprint —
    boundaries, not magnitudes, are the invariant.)"""
    d = tables(spark, sf_dir)("documents")

    def fp(gain):
        segs = multimodal.vad_segments(
            multimodal.synth_speech_wav(d, "doc_id", gain=gain),
            "payload",
            "doc_id",
        )
        return segs.groupBy("doc_id").agg(
            F.sha2(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("seg_no", "f0", "f1")
                            )
                        ),
                        lambda s: F.concat_ws(
                            ":",
                            s["seg_no"].cast("string"),
                            s["f0"].cast("string"),
                            s["f1"].cast("string"),
                        ),
                    ),
                    ",",
                ),
                256,
            ).alias("sig")
        )

    b, t = fp(1).alias("b"), fp(3).alias("t")
    return b.join(t, F.col("b.doc_id") == F.col("t.doc_id")).select(
        F.col("b.doc_id").alias("doc_id"),
        (F.col("b.sig") == F.col("t.sig")).cast("int").alias(
            "volume_invariant"
        ),
    )


@q(
    "d167_video_near_dup",
    """WITH f AS (SELECT doc_id, 3 + doc_id % 4 AS nf FROM documents),
       v AS (SELECT doc_id AS vid, ff.f AS frame_no,
                    ff.f AS src_f, doc_id AS src_id
             FROM f, range(0, 6) ff(f) WHERE ff.f < nf
             UNION ALL
             SELECT doc_id + 1000000, ff.f - 1, ff.f, doc_id
             FROM f, range(0, 6) ff(f)
             WHERE ff.f < nf AND ff.f >= 1 AND doc_id % 4 = 0),
       ys AS (SELECT vid, frame_no,
                CAST(sum(((7*src_id + 3*x.x + 5*y.y + 13*src_f) % 256)
                         * (x.x + 1) * (y.y + 2)) AS BIGINT) AS yps
              FROM v, range(0, 16) x(x), range(0, 16) y(y)
              GROUP BY vid, frame_no),
       sh AS (SELECT vid, frame_no,
                yps::VARCHAR || ':'
                  || lead(yps) OVER (PARTITION BY vid
                                     ORDER BY frame_no)::VARCHAR AS shingle
              FROM ys),
       shn AS (SELECT * FROM sh WHERE shingle IS NOT NULL),
       pr AS (SELECT a.vid AS id_a, b.vid AS id_b,
                     b.frame_no - a.frame_no AS off
              FROM shn a JOIN shn b
                ON a.shingle = b.shingle AND a.vid < b.vid)
       SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared,
              CAST(count(DISTINCT off) AS BIGINT) AS n_offsets,
              CAST(min(off) AS BIGINT) AS offset
       FROM pr GROUP BY 1, 2""",
)
def d167(spark, sf_dir):
    """Video tier (r13): TEMPORAL NEAR-DUP
    (``multimodal.video_shingle_near_dup`` — VERDICT r12 #5): frame-
    hash SEQUENCES, shingled and equi-joined, catch the trimmed/
    re-encoded duplicates single-frame hashing misses.  The fixture
    unions every document's y4m stream with a TRIMMED COPY (first
    frame dropped, id + 1e6) of every fourth one via
    ``multimodal.y4m_trim`` — each copy must pair with its original
    at one consistent offset of -1 (copy frame j = original frame
    j+1, so original→copy offset is negative).  The synthetic plane
    formula also makes videos 256 ids apart share content (7·Δid ≡ 0
    mod 256), so genuine cross-video near-dups exist and are replayed
    exactly — the oracle regenerates every frame checksum
    arithmetically (the d143 pattern), shingles with the same lead
    window, and re-joins.  Scale: Σ bucket² pair work, no cartesian."""
    d = tables(spark, sf_dir)("documents")
    originals = multimodal.synth_y4m(d, "doc_id")
    copies = multimodal.y4m_trim(
        multimodal.synth_y4m(d.filter(F.col("doc_id") % 4 == 0), "doc_id"),
        "payload",
        "doc_id",
        start=1,
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "payload")
    fleet = originals.unionAll(copies)
    return multimodal.video_shingle_near_dup(fleet, "payload", "doc_id")


@q(
    "d167b_video_trim_guarantees",
    """WITH f AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0)
       SELECT CAST(doc_id AS BIGINT) AS id_a,
              CAST(doc_id + 1000000 AS BIGINT) AS id_b,
              CAST(1 AS INT) AS pairs_with_original,
              CAST(1 AS INT) AS single_offset,
              CAST(-1 AS BIGINT) AS offset
       FROM f""",
)
def d167b(spark, sf_dir):
    """d167's certification twin (VERDICT r12 #5's 'trimmed copy
    clusters with its original'): EVERY trimmed copy must appear in
    the near-dup pair set with its own original, at exactly ONE
    distinct alignment offset equal to -1 (the trim length, seen from
    the original's frame numbering).  The engine filters the d167
    pair set to (original, copy) identity pairs and asserts the
    alignment; the oracle states the guarantee arithmetically — one
    row per trimmed copy, unconditional."""
    d = tables(spark, sf_dir)("documents")
    originals = multimodal.synth_y4m(d, "doc_id")
    copies = multimodal.y4m_trim(
        multimodal.synth_y4m(d.filter(F.col("doc_id") % 4 == 0), "doc_id"),
        "payload",
        "doc_id",
        start=1,
    ).select((F.col("doc_id") + 1000000).alias("doc_id"), "payload")
    pairs = multimodal.video_shingle_near_dup(
        originals.unionAll(copies), "payload", "doc_id"
    )
    return pairs.filter(
        F.col("id_b") == F.col("id_a") + 1000000
    ).select(
        "id_a",
        "id_b",
        F.lit(1).cast("int").alias("pairs_with_original"),
        (F.col("n_offsets") == 1).cast("int").alias("single_offset"),
        "offset",
    )


@q(
    "d168_tokenizer_fertility",
    """WITH w AS (SELECT doc_id, string_split(text ||
           CASE WHEN doc_id % 6 = 0
                THEN ' el la que y en un por con una el la de que y en un'
                ELSE '' END, ' ') AS w
         FROM documents),
       ln AS (SELECT doc_id, CAST((s - 1) // 8 AS INT) AS line_no,
                list_transform(w[s : s + 7], t -> lower(t)) AS tk
              FROM w, LATERAL (
                SELECT unnest(range(1, greatest(len(w), 1) + 1, 8)) AS s)),
       lex(lang, lx) AS (VALUES
         ('de', ['der','die','und','das','von','zu','mit','ein','auf','ist']),
         ('en', ['the','and','of','to','a','in','is','that','for','it']),
         ('es', ['el','la','de','que','y','en','un','por','con','una']),
         ('fr', ['le','la','de','et','les','des','un','une','du','est'])),
       sc AS (SELECT doc_id, line_no, lex.lang,
                round(len(list_filter(tk, t -> list_contains(lex.lx, t)))::DOUBLE
                      / greatest(len(tk), 1), 6) AS s
              FROM ln, lex),
       pl AS (SELECT doc_id, line_no, lang FROM (
                SELECT doc_id, line_no, lang,
                  row_number() OVER (PARTITION BY doc_id, line_no
                                     ORDER BY s DESC, lang DESC) AS rn
                FROM sc) WHERE rn = 1),
       cnt AS (SELECT doc_id, lang, count(*) AS c FROM pl GROUP BY 1, 2),
       mj AS (SELECT doc_id, lang AS majority_lang FROM (
                SELECT doc_id, lang,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY c DESC, lang DESC) AS rn
                FROM cnt) WHERE rn = 1),
       tk2 AS (SELECT doc_id, unnest(list_filter(w, x -> x <> '')) AS tok
               FROM w),
       vc AS (SELECT tok FROM (
                SELECT tok, count(*) AS c FROM tk2 GROUP BY 1
                ORDER BY c DESC, tok LIMIT 200)),
       sc2 AS (SELECT tk2.doc_id,
                 CASE WHEN vc.tok IS NULL THEN length(tk2.tok)
                      ELSE 1 END AS wp,
                 CASE WHEN vc.tok IS NULL THEN 1 ELSE 0 END AS oov
               FROM tk2 LEFT JOIN vc ON tk2.tok = vc.tok)
       SELECT mj.majority_lang AS lang,
              CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
              CAST(count(*) AS BIGINT) AS n_words,
              CAST(sum(oov) AS BIGINT) AS n_oov_words,
              CAST(sum(wp) AS BIGINT) AS n_tokens,
              round(sum(wp)::DOUBLE / count(*), 6) AS fertility,
              round(sum(oov)::DOUBLE / count(*), 6) AS oov_rate,
              round(sum(CASE WHEN oov = 1 THEN wp ELSE 0 END)::DOUBLE
                    / sum(wp), 6) AS char_fallback_rate
       FROM sc2 s JOIN mj ON s.doc_id = mj.doc_id
       GROUP BY 1""",
)
def d168(spark, sf_dir):
    """Multilingual tier (r13): TOKENIZER FERTILITY data card
    (``text.tokenizer_fertility_card`` — VERDICT r12 #6): per-language
    tokens-per-word under a fixed corpus vocab, OOV rate, and the
    character-fallback budget share — the card that shows which
    languages a vocabulary budget starves.  Runs over the d155
    code-switch fixture (Spanish spans planted into every sixth
    document) with the language label taken from
    ``text.code_switch_stats``' per-document MAJORITY line language —
    the composition a real multilingual pipeline runs (predicted
    language, not trusted metadata).  The oracle replays the full
    d155 lexicon/argmax chain AND the d70 closed-form token costs
    (top-200 vocab word = 1 token, OOV word = |word| char tokens)
    end to end.  Scale: vocab TakeOrdered + broadcast membership
    join + a few-row groupBy(lang)."""
    d = tables(spark, sf_dir)("documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 6 == 0,
                F.lit(" el la que y en un por con una el la de que y en un"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    from .._scratch import scratch_persist

    # the (doc_id, majority_lang) label table is joined back for BOTH
    # fertility passes (vocab build + scoring) — persist the slim 2-column
    # frame so the code_switch majority aggregates run once per build
    mj = scratch_persist(
        text.code_switch_stats(planted, "doc_id", "text").select(
            "doc_id", "majority_lang"
        ),
        "d168/majority_lang",
    )
    dd = planted.join(mj, "doc_id").select(
        "doc_id", "text", F.col("majority_lang").alias("lang")
    )
    return text.tokenizer_fertility_card(
        dd, "doc_id", "text", "lang", vocab_size=200
    )


@q(
    "d166_ivf_drift_card",
    """WITH ref AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
       cent AS (SELECT r.label AS clabel, t.i,
                  CAST(sum(CAST(r.embedding[t.i]::DOUBLE
                                AS DECIMAL(28,10))) AS DOUBLE)
                    / count(*) AS c
                FROM ref r, range(1, 65) t(i) GROUP BY r.label, t.i),
       dists AS (SELECT e.vec_id, c.clabel,
                   CAST(sum(CAST((e.embedding[c.i]::DOUBLE - c.c)
                                 * (e.embedding[c.i]::DOUBLE - c.c)
                                 AS DECIMAL(28,10))) AS DOUBLE) AS dist
                 FROM embeddings e, cent c GROUP BY e.vec_id, c.clabel),
       asg AS (SELECT vec_id, clabel AS cell FROM (
                 SELECT vec_id, clabel,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, clabel) AS rn
                 FROM dists) WHERE rn = 1),
       mn AS (SELECT a.cell, t.i,
                CAST(sum(CAST(e.embedding[t.i]::DOUBLE
                              AS DECIMAL(28,10))) AS DOUBLE)
                  / count(*) AS m
              FROM asg a, embeddings e, range(1, 65) t(i)
              WHERE a.vec_id = e.vec_id GROUP BY a.cell, t.i),
       dr AS (SELECT mn.cell,
                round(sqrt(CAST(sum(CAST((m - c) * (m - c)
                                         AS DECIMAL(28,10))) AS DOUBLE)),
                      6) AS drift
              FROM mn JOIN cent ON mn.cell = cent.clabel AND mn.i = cent.i
              GROUP BY mn.cell),
       nr AS (SELECT label AS cell, CAST(count(*) AS BIGINT) AS n_ref
              FROM ref GROUP BY 1),
       na AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_assigned
              FROM asg GROUP BY 1)
       SELECT nr.cell, nr.n_ref,
              coalesce(na.n_assigned, 0) AS n_assigned, dr.drift,
              CAST(CASE WHEN dr.drift > 0.13 THEN 1 ELSE 0 END AS INT)
                  AS rebuild
       FROM nr LEFT JOIN na ON nr.cell = na.cell
               LEFT JOIN dr ON nr.cell = dr.cell""",
)
def d166(spark, sf_dir):
    """ANN tier (r13): IVF CENTROID-DRIFT card
    (``similarity.ivf_drift_card`` — VERDICT r12 #4): an incremental
    index (``streaming.ingest.stream_embeddings_into_ivf``) routes new
    vectors against centroids FROZEN at build time; this card is the
    rebuild trigger: per cell, the L2 distance between the frozen
    centroid and the running mean of everything now assigned to it.
    The fixture freezes centroids on the even-vec_id HALF of the
    embeddings table (the index-build snapshot) and assigns the FULL
    table (the snapshot plus the 'streamed' odd half), so drift is
    genuinely nonzero and the 0.13 threshold splits the cells at both
    certification scales.  Exact-decimal means/distances keep every
    number deterministic; the oracle replays centroids, the argmin
    assignment, running means, and the drift norm end to end.  Scale:
    one reference agg + one broadcast assignment + one (cell, pos)
    agg — no driver state beyond the O(cells × dim) broadcast."""
    e = tables(spark, sf_dir)("embeddings")
    ref = e.filter(F.col("vec_id") % 2 == 0)
    return similarity.ivf_drift_card(
        ref, e, "label", "vec_id", "embedding", rebuild_threshold=0.13
    )


@q(
    "d169_replay_convergence",
    """SELECT 'batch_twin_match' AS rule, CAST(1 AS BIGINT) AS val
       UNION ALL
       SELECT 'docs_landed',
              (SELECT CAST(count(*) AS BIGINT) FROM documents
               WHERE doc_id < 40)
       UNION ALL
       SELECT 'replay_hash_equal', CAST(1 AS BIGINT)""",
)
def d169(spark, sf_dir):
    """Streaming tier (r13): REPLAY-CONVERGENCE guarantee as a
    driver-checkable row (VERDICT r12 #7): the kill/replay contract the
    pytest suite pins — a micro-batch killed after its engine.save
    commits but before the streaming checkpoint commit must converge
    when Structured Streaming re-runs it under the same epoch — made
    certifiable: this query RUNS the corpus-line-dedup sink
    (``streaming.ingest.stream_lines_dedup_into_engine``, the r12
    guard class at ``streaming/ingest.py`` — membership probes exclude
    their own epoch label; epochs overwrite their own versions) over a
    40-document two-batch stream, FORCES a replay by deleting the last
    checkpoint commit marker, re-runs, and emits

    * ``docs_landed``       — rows in the final dataset (hollow docs
      included — 40, the oracle's arithmetic),
    * ``replay_hash_equal`` — dataset hash before vs after the forced
      replay (must be 1: byte-identical convergence),
    * ``batch_twin_match``  — the converged dataset equals the BATCH
      operator (``text.dedup_lines_corpus``) over the concatenated
      input (the house streaming-parity invariant, must be 1).

    The dataset hash is DISTRIBUTED (VERDICT r13 #4): sha2 per row
    over a canonical struct JSON, combined with an order-insensitive
    sum of two 60-bit slices plus a row count — one scalar aggregate
    row crosses the driver, never the dataset — so this exact
    guarantee query runs unchanged against a production-sized index.
    The guarantee values are unconditional; the doc count is replayed
    by the oracle."""
    import os
    import shutil
    import tempfile

    from ..engine import DataFrameEngine
    from ..streaming.ingest import stream_lines_dedup_into_engine

    d = tables(spark, sf_dir)("documents").filter(F.col("doc_id") < 40)
    w = F.filter(F.split("text", " "), lambda x: x != "")
    docs = d.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.array_join(F.slice(w, 1, 4), " "),
            F.array_join(F.slice(w, 5, 4), " "),
        ).alias("text"),
    )
    def dhash(frame):
        """Distributed order-insensitive dataset hash: sha2 per row of
        the canonical struct JSON, summed in two 60-bit slices + count.
        Only the 3-value scalar row crosses the driver."""
        h = F.sha2(
            F.to_json(
                F.struct("doc_id", "n_lines", "n_kept_lines", "dedup_text")
            ),
            256,
        )
        row = frame.select(h.alias("__h")).agg(
            F.sum(
                F.conv(F.substring("__h", 1, 15), 16, 10).cast(
                    "decimal(38,0)"
                )
            ).alias("s1"),
            F.sum(
                F.conv(F.substring("__h", 16, 15), 16, 10).cast(
                    "decimal(38,0)"
                )
            ).alias("s2"),
            F.count("*").alias("n"),
        ).collect()[0]
        return (row.s1, row.s2, row.n)

    base = tempfile.mkdtemp(prefix="d169_")
    try:
        src, ck = os.path.join(base, "src"), os.path.join(base, "ckpt")
        schema = "doc_id long, text string"
        docs.filter(F.col("doc_id") < 20).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        docs.filter(F.col("doc_id") >= 20).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        eng = DataFrameEngine(spark, os.path.join(base, "wh"))

        def run():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = stream_lines_dedup_into_engine(
                stream, eng, "docs", checkpoint_dir=ck
            )
            q.awaitTermination()

        run()
        h1 = dhash(eng.load("docs"))
        # commit filenames are batch ids: sort NUMERICALLY (lexicographic
        # misorders once ids reach 10 — '9' > '10')
        commits = sorted(
            (
                c
                for c in os.listdir(os.path.join(ck, "commits"))
                if not c.startswith(".")
            ),
            key=int,
        )
        os.remove(os.path.join(ck, "commits", commits[-1]))
        crc = os.path.join(ck, "commits", f".{commits[-1]}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        run()  # forced replay of the final epoch under the same label
        h2 = dhash(eng.load("docs"))
        n2 = h2[2]

        lines = docs.select(
            "doc_id",
            F.posexplode(F.split("text", "\n")).alias("line_no", "line"),
        )
        ht = dhash(text.dedup_lines_corpus(lines))
        return local_rows_df(spark,
            [
                ("docs_landed", n2),
                ("replay_hash_equal", 1 if h1 == h2 else 0),
                ("batch_twin_match", 1 if h2 == ht else 0),
            ],
            "rule string, val long",
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


@q(
    "d170_audio_chunk_fingerprints",
    """WITH p AS (SELECT doc_id, 1256 + doc_id % 64 AS n,
                    1 + doc_id % 7 AS a, 3 + doc_id % 13 AS b
            FROM documents),
       tb AS (SELECT k.k AS k, t.t AS t,
                CAST(CASE WHEN cos(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(cos(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(cos(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS c,
                CAST(CASE WHEN sin(2*pi()*k.k*t.t/64) >= 0
                     THEN floor(sin(2*pi()*k.k*t.t/64)*1000000 + 0.5)
                     ELSE -floor(-(sin(2*pi()*k.k*t.t/64))*1000000 + 0.5)
                     END AS BIGINT) AS s
              FROM range(0, 9) k(k), range(0, 64) t(t)),
       fr AS (SELECT doc_id, a, b, f.f AS frame_no
              FROM p, range(0, 21) f(f) WHERE f.f < n // 64),
       sm AS (SELECT doc_id, a, b, frame_no, t.t AS t,
                (a * (frame_no * 64 + t.t) * (frame_no * 64 + t.t)
                 + b * (frame_no * 64 + t.t) + doc_id) % 2048 - 1024 AS sv
              FROM fr, range(0, 64) t(t)),
       dft AS (SELECT doc_id, frame_no, tb.k AS bin,
                 CAST(sum(sv * tb.c) AS BIGINT) AS re,
                 CAST(-sum(sv * tb.s) AS BIGINT) AS im
               FROM sm JOIN tb ON tb.t = sm.t GROUP BY 1, 2, 3),
       en AS (SELECT doc_id, frame_no, bin,
                re::HUGEINT * re + im::HUGEINT * im AS e
              FROM dft WHERE bin >= 1),
       gr AS (SELECT lo.doc_id, lo.frame_no, lo.bin - 1 AS pr,
                     lo.e - hi.e AS g
              FROM en lo JOIN en hi
                ON hi.doc_id = lo.doc_id AND hi.frame_no = lo.frame_no
               AND hi.bin = lo.bin + 1),
       dd AS (SELECT cur.doc_id, cur.frame_no // 10 AS chunk_no,
                     cur.frame_no % 10 AS loc, cur.pr,
                CASE WHEN cur.g - prv.g > 0 THEN 1 ELSE 0 END AS bit
              FROM gr cur JOIN gr prv
                ON prv.doc_id = cur.doc_id AND prv.pr = cur.pr
               AND prv.frame_no = cur.frame_no - 1
              WHERE cur.frame_no % 10 >= 1),
       fp AS (SELECT doc_id, chunk_no,
                CAST(sum(CASE WHEN bit = 1
                     THEN (1::BIGINT << (7 * (loc - 1) + pr))
                     ELSE 0 END) AS BIGINT) AS val,
                CAST(sum(bit) AS INT) AS ones
              FROM dd GROUP BY 1, 2),
       ch AS (SELECT doc_id, frame_no // 10 AS chunk_no,
                     count(*) AS used
              FROM fr GROUP BY 1, 2)
       SELECT ch.doc_id, CAST(ch.chunk_no AS BIGINT) AS chunk_no,
              CAST(used AS BIGINT) AS n_frames_used,
              coalesce(fp.ones, 0) AS n_ones,
              CAST(coalesce(fp.val, 0) & 4294967295 AS BIGINT) AS fp_lo,
              CAST(coalesce(fp.val, 0) >> 32 AS BIGINT) AS fp_hi
       FROM ch LEFT JOIN fp
         ON fp.doc_id = ch.doc_id AND fp.chunk_no = ch.chunk_no""",
)
def d170(spark, sf_dir):
    """Audio tier (r13): CHUNKED fingerprints
    (``multimodal.audio_chunk_fingerprints``) — the long-audio
    completion of the r12 ADVICE head-coverage fix: d156's 64-bit
    signature covers only the first 10 frames (``n_frames_used``);
    this op fingerprints EVERY consecutive 10-frame chunk with the
    same double-difference bits, so whole-track near-dup becomes
    chunk-sequence matching (the video tier's shingle idea in audio
    space).  The fixture lengthens the chirp to 19-20 frames
    (``synth_chirp_wav(extra=1000)`` — past the cap, with a PARTIAL
    second chunk on ~40% of tracks), and the oracle replays samples →
    DFT → HUGEINT energies → per-chunk double differences → bit
    packing, LEFT-JOINed so zero-bit chunks still emit.  Chunk 0 is
    bit-identical to d156's head signature and Σ n_frames_used =
    n_frames — both pinned by d170b.  Zero shuffles."""
    d = tables(spark, sf_dir)("documents")
    return multimodal.audio_chunk_fingerprints(
        multimodal.synth_chirp_wav(d, "doc_id", extra=1000),
        "payload",
        "doc_id",
    )


@q(
    "d170b_chunk_fp_guarantees",
    """SELECT doc_id, CAST(1 AS INT) AS head_parity,
              CAST(1 AS INT) AS coverage_complete
       FROM documents""",
)
def d170b(spark, sf_dir):
    """d170's certification twin: per track, (a) HEAD PARITY — chunk 0
    of the chunked fingerprints is bit-identical (fp_lo, fp_hi,
    n_ones) to ``audio_fingerprint``'s whole-track signature, which is
    exactly the claim behind the r12 n_frames_used ADVICE fix (the
    single signature IS the head chunk); (b) COMPLETE COVERAGE —
    Σ n_frames_used over chunks equals the track's n_frames (chunks
    partition the frame sequence; nothing beyond the cap is silently
    dropped any more).  The engine computes both fleets and compares;
    the oracle states the invariants."""
    d = tables(spark, sf_dir)("documents")
    long_wav = multimodal.synth_chirp_wav(d, "doc_id", extra=1000)
    head = multimodal.audio_fingerprint(long_wav, "payload", "doc_id")
    chunks = multimodal.audio_chunk_fingerprints(
        long_wav, "payload", "doc_id"
    )
    c0 = chunks.filter(F.col("chunk_no") == 0).alias("c")
    h = head.alias("h")
    parity = c0.join(h, F.col("c.doc_id") == F.col("h.doc_id")).select(
        F.col("c.doc_id").alias("doc_id"),
        (
            (F.col("c.fp_lo") == F.col("h.fp_lo"))
            & (F.col("c.fp_hi") == F.col("h.fp_hi"))
            & (F.col("c.n_ones") == F.col("h.n_ones"))
        ).cast("int").alias("head_parity"),
    )
    cover = (
        chunks.groupBy("doc_id")
        .agg(F.sum("n_frames_used").alias("__cov"))
        .join(head.select("doc_id", "n_frames"), "doc_id")
        .select(
            "doc_id",
            (F.col("__cov") == F.col("n_frames")).cast("int").alias(
                "coverage_complete"
            ),
        )
    )
    return parity.join(cover, "doc_id").select(
        "doc_id", "head_parity", "coverage_complete"
    )


@q(
    "d171_vad_segment_extract",
    """WITH p AS (SELECT doc_id, 512 + (doc_id % 8) * 64 AS n,
                    1 + doc_id % 7 AS a, 3 + doc_id % 13 AS b
            FROM documents),
       fr AS (SELECT doc_id, a, b, f.f AS frame_no
              FROM p, range(0, 16) f(f) WHERE f.f < n // 64),
       sm AS (SELECT doc_id, frame_no,
                (frame_no + doc_id) % 4 AS cls,
                frame_no * 64 + t.t AS gt, t.t AS tt, a, b
              FROM fr, range(0, 64) t(t)),
       sv AS (SELECT doc_id, frame_no, tt,
                CASE WHEN cls = 0 THEN (3 * gt + doc_id) % 16 - 8
                     WHEN cls = 3 THEN (a*gt*gt + b*gt + doc_id) % 720 - 360
                     ELSE (a*gt*gt + b*gt + doc_id) % 2048 - 1024
                END AS s
              FROM sm),
       en AS (SELECT doc_id, frame_no,
                CAST(sum(s * s) AS BIGINT) AS e,
                CAST(sum(s) AS BIGINT) AS ssum
              FROM sv GROUP BY 1, 2),
       pk AS (SELECT doc_id, max(e) AS peak FROM en GROUP BY 1),
       ev AS (SELECT en.doc_id, frame_no, e, ssum,
                CASE WHEN e * 4 >= peak THEN 1
                     WHEN e * 16 < peak THEN 0
                     ELSE NULL END AS event
              FROM en JOIN pk ON en.doc_id = pk.doc_id),
       st AS (SELECT doc_id, frame_no, e, ssum,
                coalesce(last_value(event IGNORE NULLS) OVER (
                  PARTITION BY doc_id ORDER BY frame_no
                  ROWS UNBOUNDED PRECEDING), 0) AS state
              FROM ev),
       act AS (SELECT doc_id, frame_no, ssum,
                 frame_no - row_number() OVER (
                   PARTITION BY doc_id ORDER BY frame_no) AS isl
               FROM st WHERE state = 1),
       sg AS (SELECT doc_id, isl, min(frame_no) AS f0,
                     max(frame_no) AS f1,
                     CAST(sum(ssum) AS BIGINT) AS sample_sum
              FROM act GROUP BY 1, 2),
       sgn AS (SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id
                                         ORDER BY f0) AS INT) AS seg_no,
                 f0, f1, sample_sum
               FROM sg)
       SELECT sgn.doc_id, seg_no,
              CAST((f1 - f0 + 1) * 64 AS INT) AS n_samples,
              sample_sum,
              CAST(fv.s AS INT) AS first_sample,
              CAST(lv.s AS INT) AS last_sample
       FROM sgn
       JOIN sv fv ON fv.doc_id = sgn.doc_id AND fv.frame_no = sgn.f0
                  AND fv.tt = 0
       JOIN sv lv ON lv.doc_id = sgn.doc_id AND lv.frame_no = sgn.f1
                  AND lv.tt = 63""",
)
def d171(spark, sf_dir):
    """Audio tier (r13): VAD SEGMENT EXTRACTION
    (``multimodal.wav_extract_segments``) — the step after d165 every
    speech pipeline runs: each detected segment becomes its own
    byte-valid WAV clip (header rebuilt around the sliced samples, no
    re-encode — the audio twin of ``y4m_trim``), the unit a
    transcription stage consumes.  The clip BYTES never cross the
    compare; the emitted integer invariants do — n_samples,
    sample_sum, first/last sample — and the oracle replays all four
    from the synthesis formula through the full d165 state machine
    (so a mis-sliced clip, an off-by-one frame bound, or a
    byte-order bug cannot hash-match).  Scale: one segment-list
    equi-join + one zero-shuffle Arrow map."""
    d = tables(spark, sf_dir)("documents")
    wavs = multimodal.synth_speech_wav(d, "doc_id")
    segs = multimodal.vad_segments(wavs, "payload", "doc_id")
    out = multimodal.wav_extract_segments(wavs, segs, "payload", "doc_id")
    return out.select(
        "doc_id", "seg_no", "n_samples", "sample_sum",
        "first_sample", "last_sample",
    )


@q(
    "d172_audio_chunk_near_dup",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS id_a,
              CAST(i + 1000 AS BIGINT) AS id_b,
              CAST(1 AS BIGINT) AS n_shared,
              CAST(1 AS BIGINT) AS n_offsets,
              CAST(-1 AS BIGINT) AS offset,
              CAST(0 AS INT) AS min_hamming
       FROM m""",
)
def d172(spark, sf_dir):
    """Audio tier (r13): WHOLE-TRACK NEAR-DUP for LONG audio
    (``multimodal.audio_chunk_near_dup``) — the matcher that makes
    d170's chunk signatures actionable: Hamming-band the CHUNK
    signatures (``dedup.hamming_near_pairs`` pigeonhole banding over
    the composite track<<20|chunk key) and alignment-verify per track
    pair (n_shared / n_offsets / min offset / min_hamming — the d167
    aggregate in audio space).  Fixture: 8 distinct long chirps (two
    chunks each), a CHUNK-ALIGNED trimmed copy of each
    (``wav_trim(start_sample=640)`` = drop exactly chunk 0, id+1000)
    and a PHASE-SHIFTED copy (``start_sample=320``, half a frame,
    id+2000).  Measured separation: aligned copies hit their original
    at Hamming 0 (copy chunk 0 ≡ original chunk 1 bit-exactly —
    sample values untouched, frame phase preserved); phase-shifted
    copies land at ≥ 24 and every cross-track chunk pair > 6 vs the
    max_hamming=2 band, so the answer is analytic: exactly 8 pairs
    (i, i+1000) at one offset of -1, and the ABSENCE of any id+2000
    row is part of the hash (frame-phase sensitivity certified, the
    negative control).  Scale: zero-shuffle fingerprinting, banding
    work Σ bucket² over chunk-band buckets, never tracks²."""
    d = tables(spark, sf_dir)("documents")
    ids = d.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    orig = multimodal.synth_chirp_wav(ids, "doc_id", extra=1000)
    aligned = multimodal.wav_trim(
        orig, "payload", "doc_id", start_sample=640
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    shifted = multimodal.wav_trim(
        orig, "payload", "doc_id", start_sample=320
    ).select((F.col("doc_id") + 2000).alias("doc_id"), "payload")
    fleet = orig.unionAll(aligned).unionAll(shifted)
    return multimodal.audio_chunk_near_dup(
        fleet, "payload", "doc_id", max_hamming=2
    )


@q(
    "d173_audio_phase_robust_near_dup",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS id_a,
              CAST(i + 1000 AS BIGINT) AS id_b,
              CAST(4 AS BIGINT) AS n_shared,
              CAST(1 AS BIGINT) AS n_offsets,
              CAST(-10 AS BIGINT) AS offset,
              CAST(0 AS INT) AS min_hamming
       FROM m
       UNION ALL
       SELECT CAST(i AS BIGINT),
              CAST(i + 2000 AS BIGINT),
              CAST(CASE WHEN i IN (1, 5) THEN 11 ELSE 9 END AS BIGINT),
              CAST(CASE WHEN i IN (1, 5) THEN 2 ELSE 1 END AS BIGINT),
              CAST(-5 AS BIGINT), CAST(0 AS INT)
       FROM m
       UNION ALL
       SELECT CAST(i + 1000 AS BIGINT), CAST(i + 2000 AS BIGINT),
              CAST(4 AS BIGINT), CAST(1 AS BIGINT),
              CAST(5 AS BIGINT), CAST(0 AS INT)
       FROM m""",
)
def d173(spark, sf_dir):
    """Audio tier (r14): PHASE-ROBUST whole-track near-dup
    (``multimodal.audio_phase_robust_near_dup``) — VERDICT r13 #2:
    promote d172's negative control into a capability.  The SAME
    fleet as d172 (8 long chirps, a chunk-aligned trimmed copy
    id+1000, a HALF-CHUNK-shifted copy id+2000), but chunk signatures
    start at EVERY frame (``chunk_hop=1`` multi-phase probe), so the
    shifted copy d172 certifiably MISSES becomes a POSITIVE match at
    one consistent offset: (i, i+2000) pairs at offset -5 (5 frames,
    in chunk_hop units) with min_hamming 0 — bit-exact chunk
    signatures, no tolerance needed.  The aligned copy still pairs
    (offset -10 here: chunk offsets are frame-granular now), and the
    two copies pair with each other (+5).  Tracks 1 and 5 carry one
    ADDITIONAL bit-identical chunk pair at a second offset (two
    distinct 10-frame windows of the same chirp collide — the
    signature-entropy bound made visible), deterministically encoded
    in the oracle.  Short tail chunks (< 6 frames) are excluded from
    banding — a 1-frame chunk is val=0 for every track, a universal
    Hamming-0 collision the aligned layout never sees.  Scale:
    zero-shuffle fingerprinting at chunk_size/chunk_hop × the aligned
    row count, banding Σ bucket², never tracks²."""
    d = tables(spark, sf_dir)("documents")
    ids = d.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    orig = multimodal.synth_chirp_wav(ids, "doc_id", extra=1000)
    aligned = multimodal.wav_trim(
        orig, "payload", "doc_id", start_sample=640
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    shifted = multimodal.wav_trim(
        orig, "payload", "doc_id", start_sample=320
    ).select((F.col("doc_id") + 2000).alias("doc_id"), "payload")
    fleet = orig.unionAll(aligned).unionAll(shifted)
    return multimodal.audio_phase_robust_near_dup(
        fleet, "payload", "doc_id", max_hamming=2
    )


@q(
    "d174_rejection_sampling_prep",
    """WITH c AS (SELECT doc_id // 4 AS prompt_id,
             array_to_string(
               (list_filter(string_split(text, ' '),
                            x -> x <> ''))[1:2], ' ') AS response,
             CAST(doc_id % 5 AS DOUBLE) AS score
           FROM documents),
       r AS (SELECT *, row_number() OVER (PARTITION BY prompt_id
               ORDER BY score DESC, response DESC) AS rn FROM c),
       g AS (SELECT prompt_id, CAST(count(*) AS BIGINT) AS n_candidates,
               round(avg(score), 6) AS score_mean,
               round(stddev_samp(score), 6) AS score_std
             FROM c GROUP BY 1)
       SELECT g.prompt_id, g.n_candidates, r.response AS best_response,
              round(r.score, 6) AS score_best, g.score_mean, g.score_std,
              CAST(CASE WHEN r.score >= 3.0 THEN 1 ELSE 0 END AS INT)
                AS kept
       FROM g JOIN r ON r.prompt_id = g.prompt_id AND r.rn = 1""",
)
def d174(spark, sf_dir):
    """RLHF-data tier (r14): REJECTION-SAMPLING / BEST-OF-N prep
    (``packing.rejection_sampling_prep``) — VERDICT r13 #3, the DPO
    tier's second sibling: keep the top-1-of-n response per prompt
    (the d164 max-of-struct argmax, response tie-break) with a score
    threshold as a KEPT FLAG (not a filter — reward-model analysis
    reads the rejected prompts too) and the per-prompt score
    distribution (n_candidates, mean, max, sample std).  Fixture:
    4 scored candidates per prompt (score = doc_id mod 5 — four
    consecutive ids are distinct mod 5, so the argmax is unique here;
    ties are d174b's job), threshold 3.0 splits prompts by whether
    their window of ids reaches a 3-or-4 score.  The oracle replays
    the argmax via a window (independent derivation), the stats via
    the group aggregate.  Scale: ONE groupBy(prompt), every aggregate
    map-side combinable — strictly cheaper than d164's two shuffles;
    viral prompts combine before the exchange."""
    d = tables(spark, sf_dir)("documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    cand = d.select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        F.array_join(F.slice(w, 1, 2), " ").alias("response"),
        (F.col("doc_id") % 5).cast("double").alias("score"),
    )
    return packing.rejection_sampling_prep(
        cand, "prompt_id", "response", "score", score_threshold=3.0
    )


@q(
    "d174b_rejection_sampling_guarantees",
    """WITH c AS (SELECT doc_id // 4 AS prompt_id,
             array_to_string(
               (list_filter(string_split(text, ' '),
                            x -> x <> ''))[1:2], ' ') AS response,
             CAST(doc_id % 2 AS DOUBLE) AS score
           FROM documents),
       m AS (SELECT prompt_id, max(score) AS mx FROM c GROUP BY 1)
       SELECT c.prompt_id,
              CAST(count(*) FILTER (WHERE c.score = m.mx) AS BIGINT)
                AS n_max_candidates,
              CAST(1 AS INT) AS argmax_ok
       FROM c JOIN m ON m.prompt_id = c.prompt_id
       GROUP BY c.prompt_id""",
)
def d174b(spark, sf_dir):
    """d174's certification twin (the d164 max-of-struct contract
    re-pinned for best-of-n): with scores = doc_id mod 2, every
    4-candidate prompt has TWO candidates tied at the max score, so
    the argmax is decided by the deterministic response tie-break —
    the twin derives the expected winner INDEPENDENTLY via a window
    (row_number over score DESC, response DESC) and asserts the
    aggregate path picked the same (response, score); the oracle
    replays ``n_max_candidates`` (2 for full prompts — ties genuinely
    present, non-vacuous) and states the invariant.  A
    nondeterministic tie-break (e.g. first-seen under shuffle order)
    would flip argmax_ok on some prompt at some partitioning."""
    d = tables(spark, sf_dir)("documents")
    wds = F.filter(F.split("text", " "), lambda x: x != "")
    cand = d.select(
        F.floor(F.col("doc_id") / 4).cast("long").alias("prompt_id"),
        F.array_join(F.slice(wds, 1, 2), " ").alias("response"),
        (F.col("doc_id") % 2).cast("double").alias("score"),
    )
    card = packing.rejection_sampling_prep(
        cand, "prompt_id", "response", "score", score_threshold=1.0
    )
    win = Window.partitionBy("prompt_id").orderBy(
        F.desc("score"), F.desc("response")
    )
    exp = (
        cand.withColumn("__rn", F.row_number().over(win))
        .filter(F.col("__rn") == 1)
        .select(
            "prompt_id",
            F.col("response").alias("__exp_r"),
            F.round(F.col("score"), 6).alias("__exp_s"),
        )
    )
    nmax = (
        cand.join(
            cand.groupBy("prompt_id").agg(F.max("score").alias("__mx")),
            "prompt_id",
        )
        .filter(F.col("score") == F.col("__mx"))
        .groupBy("prompt_id")
        .agg(F.count("*").cast("long").alias("n_max_candidates"))
    )
    return (
        card.join(exp, "prompt_id")
        .join(nmax, "prompt_id")
        .select(
            "prompt_id",
            "n_max_candidates",
            (
                (F.col("best_response") == F.col("__exp_r"))
                & (F.col("score_best") == F.col("__exp_s"))
            ).cast("int").alias("argmax_ok"),
        )
    )


@q(
    "d175_video_rescale_near_dup",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS id_a,
              CAST(i + 1000 AS BIGINT) AS id_b,
              CAST(1 + i % 4 AS BIGINT) AS n_shared,
              CAST(1 AS BIGINT) AS n_offsets,
              CAST(-1 AS BIGINT) AS offset
       FROM m""",
)
def d175(spark, sf_dir):
    """Video tier (r14): RESOLUTION-INVARIANT temporal near-dup
    (``multimodal.video_rescale_near_dup``) — VERDICT r13 #6: d167
    matches exact luma checksums, so a re-encoded copy at a different
    resolution NEVER pairs (the same blindness class d173 fixed in
    audio; pinned in the unit test — d167 returns zero rows on this
    very fleet).  The fix feeds d167's shingle machinery UNCHANGED a
    ``y4m_frame_grid_sig`` signature instead: fixed 4×4 block-mean
    gradient SIGNS per frame (the d141 pHash idea), proportional block
    boundaries, so an area-rescaled copy aggregates the same source
    regions and the signature is bit-identical.  Fixture: 8 textured
    16×16 videos (``synth_textured_y4m`` — quadratic mod-256 pattern;
    the linear d143 pattern degenerates every gradient sign to 1),
    each copied by TRIM(1 frame) + AREA-RESCALE(×2 → 8×8, id+1000).
    Every copy pairs with ONLY its original: n_shared = its
    (3 + i%4) − 2 shingles, ONE offset of −1 (the trim), no
    cross-track rows (36 frames → 36 distinct signatures).  Scale:
    zero-shuffle signatures, shingle equi-join Σ bucket² with the d02
    frequency valve, never videos²; at corpus scale pairs are
    CANDIDATES for a pixel verify (24-bit signatures — LSH two-pass
    economics)."""
    d = tables(spark, sf_dir)("documents")
    ids = d.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    orig = multimodal.synth_textured_y4m(ids, "doc_id")
    copy = multimodal.y4m_rescale_area(
        multimodal.y4m_trim(orig, "payload", "doc_id", start=1),
        "payload", "doc_id", factor=2,
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    fleet = orig.unionAll(copy)
    return multimodal.video_rescale_near_dup(fleet, "payload", "doc_id")


def _d176_conversations(spark, sf_dir):
    """Shared d176/d176b fixture: role-segmented conversations from
    documents — 6 turns per conversation (system, user, assistant,
    user, assistant, user: assistant turns INTERLEAVED with masked
    turns, the layout single-pair SFT cannot express), text = each
    document's first 3 words."""
    d = tables(spark, sf_dir)("documents")
    w = F.filter(F.split("text", " "), lambda x: x != "")
    role = (
        F.when(F.col("turn_no").isin(2, 4), F.lit("assistant"))
        .when(F.col("turn_no") == 0, F.lit("system"))
        .otherwise(F.lit("user"))
    )
    return d.select(
        F.floor(F.col("doc_id") / 6).cast("long").alias("conv_id"),
        (F.col("doc_id") % 6).cast("int").alias("turn_no"),
        F.array_join(F.slice(w, 1, 3), " ").alias("text"),
    ).withColumn("role", role)


_D176_ORACLE_TOKENS = """
    WITH c AS (SELECT doc_id // 6 AS conv_id, doc_id % 6 AS turn_no,
                 array_to_string(
                   (list_filter(string_split(text, ' '),
                                x -> x <> ''))[1:3], ' ') AS txt,
                 CASE WHEN doc_id % 6 IN (2, 4) THEN 'assistant'
                      WHEN doc_id % 6 = 0 THEN 'system'
                      ELSE 'user' END AS role
               FROM documents),
       t AS (SELECT conv_id, turn_no, role,
                    list_filter(string_split(txt, ' '),
                                x -> x <> '') AS w
             FROM c),
       u AS (SELECT conv_id, turn_no, role, w[i.i] AS tok, i.i AS pos
             FROM t, LATERAL (SELECT unnest(range(1, len(w) + 1)) AS i) i),
       v AS (SELECT tok, row_number() OVER (ORDER BY tok) AS vid
             FROM (SELECT DISTINCT tok FROM u)),
       j AS (SELECT u.conv_id, u.turn_no, u.pos, u.role, v.vid,
                    CASE WHEN u.role <> 'assistant' THEN 1 ELSE 0 END
                      AS msk
             FROM u JOIN v USING (tok))
"""


@q(
    "d176_multiturn_loss_mask",
    _D176_ORACLE_TOKENS
    + """
       SELECT conv_id,
              CAST(count(DISTINCT turn_no) AS BIGINT) AS n_turns,
              CAST(count(DISTINCT CASE WHEN msk = 0 THEN turn_no END)
                   AS BIGINT) AS n_train_turns,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(msk) AS BIGINT) AS n_masked,
              sha256(string_agg(vid::VARCHAR, ','
                                ORDER BY turn_no, pos)) AS ids_sha,
              sha256(string_agg(CASE WHEN msk = 1 THEN '-100'
                                     ELSE vid::VARCHAR END, ','
                                ORDER BY turn_no, pos)) AS labels_sha
       FROM j GROUP BY conv_id""",
)
def d176(spark, sf_dir):
    """Training-data tier (r14): MULTI-TURN conversation loss masking
    (``packing.multiturn_loss_mask``) — VERDICT r13 #7, d161's
    multi-turn extension: SFT data is increasingly role-segmented
    conversations, and the masking convention is 'train on assistant
    turns only' — system/user/tool tokens mask to -100 WHEREVER they
    fall in the sequence (d161 can only mask a prefix).  Fixture: 6
    turns per conversation with assistant turns interleaved
    (s,u,a,u,a,u); token ids from the corpus-derived vocabulary
    (range-partitioned dense rank), so the oracle replays every id,
    every mask position, and the exact sequence shas.  Arrays project
    to sha256(join(ids)) at the query boundary per the corpus
    discipline.  Scale: d161's exact shape — one posexplode, one
    vocab equi-join, one per-conv reassembly bounded at conversation
    length."""
    convs = _d176_conversations(spark, sf_dir)
    out = packing.multiturn_loss_mask(
        convs, "conv_id", "turn_no", "role", "text"
    )
    to_str = lambda col: F.array_join(  # noqa: E731
        F.transform(col, lambda x: x.cast("string")), ","
    )
    return out.select(
        "conv_id",
        "n_turns",
        "n_train_turns",
        "n_tokens",
        "n_masked",
        F.sha2(to_str(F.col("input_ids")), 256).alias("ids_sha"),
        F.sha2(to_str(F.col("labels")), 256).alias("labels_sha"),
    )


@q(
    "d176b_multiturn_mask_guarantees",
    _D176_ORACLE_TOKENS
    + """
       SELECT conv_id,
              CAST(sum(CASE WHEN role = 'user' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_user_tokens,
              CAST(1 AS INT) AS nontrain_all_masked,
              CAST(1 AS INT) AS train_labels_match
       FROM j GROUP BY conv_id""",
)
def d176b(spark, sf_dir):
    """d176's certification twin: per conversation, derive every
    token's global position INDEPENDENTLY (a window row_number over
    (turn_no, pos) — not the operator's collect/sort path) and assert
    against the emitted arrays element-by-element: (a) NO token of a
    non-train turn (system or user) ever carries a label other than
    -100 — the leakage direction: a single user token with a live
    label trains the model to imitate users; (b) every assistant
    token's label equals its input id (loss actually flows).  The
    oracle replays ``n_user_tokens`` (non-vacuous: 3 user turns per
    conversation) and states both invariants."""
    convs = _d176_conversations(spark, sf_dir)
    out = packing.multiturn_loss_mask(
        convs, "conv_id", "turn_no", "role", "text"
    )
    toks = convs.select(
        "conv_id",
        F.col("turn_no").alias("__turn"),
        F.col("role").alias("__role"),
        F.posexplode(
            F.filter(F.split("text", " "), lambda x: x != "")
        ).alias("__pos", "__tok"),
    )
    win = Window.partitionBy("conv_id").orderBy("__turn", "__pos")
    g = toks.withColumn("__g", F.row_number().over(win))
    j = g.join(out.select("conv_id", "input_ids", "labels"), "conv_id")
    lab = F.element_at("labels", F.col("__g"))
    iid = F.element_at("input_ids", F.col("__g"))
    return j.groupBy("conv_id").agg(
        F.sum((F.col("__role") == "user").cast("long"))
        .cast("long")
        .alias("n_user_tokens"),
        F.min(
            F.when(
                F.col("__role") != "assistant", (lab == F.lit(-100)).cast("int")
            ).otherwise(F.lit(1))
        ).cast("int").alias("nontrain_all_masked"),
        F.min(
            F.when(
                F.col("__role") == "assistant", (lab == iid).cast("int")
            ).otherwise(F.lit(1))
        ).cast("int").alias("train_labels_match"),
    )


def _d177_fleet(spark, sf_dir):
    """Shared d177/d177b fixture: 8 textured 25fps videos long enough
    for whole-second tick spans (21 + 5·(id%4) frames — 5 + id%4
    ticks at tick_hz=5), each with a DIVISIBLE frame-rate copy
    (``y4m_decimate`` every_n=5 → F25:5, id+1000: keeps source frames
    0,5,10,… at their original timestamps) and a PHASE-SHIFTED
    decimation negative control (trim 2 frames THEN decimate, id+2000:
    keeps source frames 2,7,12,… — every tick now shows a frame no
    tick of the original ever shows)."""
    d = tables(spark, sf_dir)("documents")
    ids = d.select((F.col("doc_id") % 8).alias("doc_id")).distinct()
    orig = multimodal.synth_textured_y4m(
        ids, "doc_id", n_frames_base=21, n_frames_step=5
    )
    copy = multimodal.y4m_decimate(
        orig, "payload", "doc_id", every_n=5
    ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    neg = multimodal.y4m_decimate(
        multimodal.y4m_trim(orig, "payload", "doc_id", start=2),
        "payload", "doc_id", every_n=5,
    ).select((F.col("doc_id") + 2000).alias("doc_id"), "payload")
    return orig, copy, neg


@q(
    "d177_video_fps_near_dup",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS id_a,
              CAST(i + 1000 AS BIGINT) AS id_b,
              CAST(4 + i % 4 AS BIGINT) AS n_shared,
              CAST(1 AS BIGINT) AS n_offsets,
              CAST(0 AS BIGINT) AS offset
       FROM m""",
)
def d177(spark, sf_dir):
    """Video tier (r14): FRAME-RATE-INVARIANT temporal near-dup
    (``multimodal.video_fps_near_dup``) — the blindness-promotion
    step d175 took for resolution, applied to time: d167/d175 shingle
    frame-INDEXED signatures, so a 25fps master decimated to 5fps (the
    most common re-encode after rescaling) never pairs — its frame n
    shows different content.  The fix anchors the d175 grid signature
    to WALL-CLOCK ticks read through the stream's own F tag
    (``y4m_tick_grid_sig``): tick k samples the frame on screen at
    k/tick_hz seconds, so both encodes emit identical tick sequences
    and the SAME shingle machinery pairs them at one consistent tick
    offset.  Fixture (``_d177_fleet``): every divisible 5fps copy
    pairs with ONLY its original — n_shared = its (5 + i%4) − 1 tick
    shingles, ONE offset of 0 — and the phase-shifted decimation
    (frames 2,7,12,…: every tick shows a frame no original tick
    shows) pairs with NOTHING, pinning that tick anchoring, not id
    adjacency, drives the match.  Scale: zero-shuffle signatures, one
    window per video, shingle equi-join Σ bucket² with the d02
    frequency valve, never videos²."""
    orig, copy, neg = _d177_fleet(spark, sf_dir)
    fleet = orig.unionAll(copy).unionAll(neg)
    return multimodal.video_fps_near_dup(fleet, "payload", "doc_id")


@q(
    "d177b_fps_tick_guarantees",
    """WITH m AS (SELECT DISTINCT doc_id % 8 AS i FROM documents)
       SELECT CAST(i AS BIGINT) AS doc_id,
              CAST(5 + i % 4 AS BIGINT) AS n_ticks,
              CAST(5 + i % 4 AS BIGINT) AS n_copy_ticks,
              CAST(5 + i % 4 AS BIGINT) AS n_sig_match,
              CAST(1 AS INT) AS all_ticks_match
       FROM m""",
)
def d177b(spark, sf_dir):
    """d177's certification twin — ELEMENT-WISE tick bit-identity,
    stronger than the pair-level n_shared d177 emits: join the
    original's tick signatures with its 5fps copy's on (id, tick) and
    assert every tick exists on both sides (the decimated stream
    spans the same wall-clock range: ceil(n·5/25) = ceil((n/5)·25/5)
    ticks) and every signature matches bit-for-bit (tick k reads
    source frame 5k on BOTH sides — the F-tag arithmetic, not frame
    luck).  The oracle replays n_ticks = 5 + i%4 per video and states
    the invariant; one missed tick or one flipped gradient bit breaks
    the hash."""
    orig, copy, _neg = _d177_fleet(spark, sf_dir)
    o = multimodal.y4m_tick_grid_sig(orig, "payload", "doc_id").select(
        "doc_id", "tick", F.col("grid_sig").alias("__so")
    )
    c = multimodal.y4m_tick_grid_sig(copy, "payload", "doc_id").select(
        (F.col("doc_id") - 1000).alias("doc_id"),
        "tick",
        F.col("grid_sig").alias("__sc"),
    )
    j = o.join(c, ["doc_id", "tick"], "full_outer")
    return j.groupBy("doc_id").agg(
        F.count("__so").cast("long").alias("n_ticks"),
        F.count("__sc").cast("long").alias("n_copy_ticks"),
        F.sum(
            (F.col("__so") == F.col("__sc")).cast("long")
        ).cast("long").alias("n_sig_match"),
        F.min(
            (
                F.col("__so").isNotNull()
                & F.col("__sc").isNotNull()
                & (F.col("__so") == F.col("__sc"))
            ).cast("int")
        ).cast("int").alias("all_ticks_match"),
    )
