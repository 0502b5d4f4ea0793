"""Text analysis operators — SURVEY §2 D5/D8 + north-star text ops.

Language ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), TF-IDF, and rolling-hash fingerprinting —
all as composable DataFrame→DataFrame functions using only codegen'd
built-ins (split/explode/regexp/array HOFs). No Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from ._localrel import (
    local_rows_df,
    require_unicode_literals as _require_unicode_literals,
    sql_ident as _sql_ident,
)

# Tiny per-language function-word lexicons for the n-gram/stopword heuristic.
# Deliberately small: the point is the distributed scoring shape, not lexicon
# quality (swap in real profiles for production).
LANG_LEXICONS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "for", "it"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "una"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "du", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "ein", "auf", "ist"],
}

# BPE-ish tokenization: word pieces, numbers, or any single non-space symbol.
BPE_ISH_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

ENGLISH_STOPWORDS = LANG_LEXICONS["en"]


def tokens(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.split(c, " ")


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """D5/north-star token counting: whitespace words + BPE-ish regex pieces."""
    c = F.col(text_col)
    return df.withColumn("n_words", F.size(tokens(c))).withColumn(
        "n_bpeish_tokens", F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0))
    )


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """North-star language ID: score = fraction of tokens hitting each
    language's lexicon; predict the argmax (ties broken by language code).

    One pass, no shuffle: per-row array intersection against broadcast-free
    literal arrays.
    """
    # two server-side parses instead of ~700 py4j Column calls (guide
    # §1.2 step 2: this scorer sits inside per-line loops like
    # code_switch_stats, so construction cost is paid per query build);
    # size(toks) == size(split(...)) since transform preserves length
    _require_unicode_literals(df.sparkSession)
    tc = _sql_ident(text_col)
    toks = f"transform(split({tc}, ' '), t -> lower(t))"
    denom = f"greatest(size(split({tc}, ' ')), 1)"
    score_cols = [
        (
            f"round(cast(size(filter({toks}, t -> t IN "
            f"({', '.join(_sql_str(w) for w in lex)}))) as double)"
            f" / {denom}, 6) AS score_{lang}"
        )
        for lang, lex in LANG_LEXICONS.items()
    ]
    out = df.selectExpr("*", *score_cols)
    # array_max on struct: ordered by (score, lang) — deterministic tie-break.
    structs = ", ".join(
        f"struct(score_{lang} AS s, {_sql_str(lang)} AS l)"
        for lang in sorted(LANG_LEXICONS)
    )
    return out.selectExpr("*", f"array_max(array({structs})).l AS predicted_lang")


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """North-star quality scoring: length, punctuation ratio, stopword ratio,
    mean word length → a [0,1]-ish composite. Heuristics follow the common
    C4/Gopher-style signals, expressed as plain columns."""
    c = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(c)
    n_words = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(c, F.lit("[^A-Za-z0-9\\s]"), 0))
    n_stop = F.size(F.filter(toks, lambda t: F.lower(t).isin(*ENGLISH_STOPWORDS)))
    avg_word_len = n_chars.cast("double") / F.greatest(n_words, F.lit(1))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = n_stop.cast("double") / F.greatest(n_words, F.lit(1))
    score = (
        F.when((n_words >= 10) & (n_words <= 10000), 0.4).otherwise(0.0)
        + F.when((avg_word_len >= 3) & (avg_word_len <= 12), 0.3).otherwise(0.0)
        + F.when(punct_ratio < 0.2, 0.2).otherwise(0.0)
        + F.when(stop_ratio > 0.01, 0.1).otherwise(0.0)
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("avg_word_len", F.round(avg_word_len, 6))
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("quality_score", F.round(score, 2))
    )


def tf_idf(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 2,
    max_vocab: int | None = None,
) -> DataFrame:
    """D5: TF-IDF over whitespace tokens.

    One pass over the corpus text: the (doc, term) count table is persisted
    (MEMORY_AND_DISK — spills, never OOMs) because both the document-
    frequency aggregate and the final scoring read it; without the persist
    the tokenize+explode runs twice. df and N fold into ONE dim table
    (dfreq × n_docs); the scoring join carries NO broadcast hint — at 100 TB
    the post-``min_df`` vocabulary is 10^8–10^9 terms, far past broadcast
    limits, so we let AQE pick the strategy (it still broadcasts when the
    dim is genuinely small, and falls back to a shuffled hash join on
    ``token`` otherwise). For a guaranteed-broadcastable dim, pass
    ``max_vocab``: the vocabulary is capped to the top-N terms by document
    frequency (ties broken by token, deterministic) and everything rarer is
    dropped from the output. idf uses the smoothed ln((N+1)/(df+1)) + 1 form.
    """
    from ._scratch import scratch_persist

    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    terms = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    tf = scratch_persist(
        terms.groupBy("doc_id", "token").agg(F.count("*").alias("tf")), "tf_idf/tf"
    )
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df")).filter(F.col("df") >= min_df)
    if max_vocab is not None:
        dfreq = (
            dfreq.orderBy(F.col("df").desc(), F.col("token"))
            .limit(max_vocab)
        )
    dim = dfreq.crossJoin(n_docs)
    dim = F.broadcast(dim) if max_vocab is not None else dim
    return (
        tf.join(dim, "token")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1)) + 1.0),
                6,
            ),
        )
        .select("doc_id", "token", "tf", "df", "tfidf")
    )


def word_ngrams(col, n: int):
    """All (overlapping, order-preserving) word n-grams of a text column as
    an array of strings — codegen'd HOFs, no Python. Documents shorter than
    n words yield one degenerate gram of the available words."""
    toks = tokens(col)
    m = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(m - n + 1, F.lit(1)))
    return F.transform(starts, lambda i: F.array_join(F.slice(toks, i, n), " "))


def _bigram_pairs(toks):
    """Adjacent word pairs of a token array as an array of (w1, w2)
    structs — n−1 pairs, none for documents shorter than two words."""
    n = F.size(toks)
    return F.arrays_zip(
        F.slice(toks, 1, F.greatest(n - 1, F.lit(0))).alias("w1"),
        F.slice(toks, 2, F.greatest(n - 1, F.lit(0))).alias("w2"),
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination — the training-data hygiene op: flag every
    corpus document sharing ANY word n-gram with the benchmark/eval set
    (the n-gram-overlap rule used for eval contamination checks).

    Scale shape: the benchmark side is a fixed eval suite — bounded and
    small by definition — so its distinct gram-hash set broadcasts; the
    corpus side streams through a broadcast LEFT SEMI probe per gram with
    no shuffle of corpus text at all (grams travel as 8-byte xxhash64
    keys). Returns the corpus with an ``is_contaminated`` flag.
    """
    grams = word_ngrams(text_col, n)
    bench_hashes = (
        benchmark.select(F.explode(grams).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    corpus_grams = corpus.select(
        F.col(id_col), F.explode(grams).alias("g")
    ).select(id_col, F.xxhash64("g").alias("gh"))
    contaminated = (
        corpus_grams.join(F.broadcast(bench_hashes), "gh", "left_semi")
        .select(id_col)
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return corpus.join(contaminated, id_col, "left").fillna(
        False, subset=["is_contaminated"]
    )


def top_ngrams(df: DataFrame, text_col: str = "text", n: int = 3, k: int = 20) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count (deterministic:
    ties broken by gram text). One explode → partial+final count → TopK
    (TakeOrderedAndProject — a k-sized driver merge, never a global sort)."""
    return (
        df.select(F.explode(word_ngrams(text_col, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("ngram"))
        .limit(k)
    )


def unigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Perplexity-proxy quality score: average unigram log-probability per
    document, with the unigram LM trained on the corpus itself in the same
    job (the cheap first-pass LM filter of training-data pipelines).

    Two aggregates over one exploded (doc, token) table: token counts and
    the corpus total; the scoring join is on ``token`` with NO broadcast
    hint (vocabulary is unbounded at 100 TB — AQE broadcasts only when the
    vocab is actually small; see tf_idf).
    """
    terms = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token"))
    counts = terms.groupBy("token").agg(F.count("*").alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("total"))
    lm = counts.crossJoin(total).select(
        "token", (F.log(F.col("cnt").cast("double")) - F.log(F.col("total").cast("double"))).alias("logp")
    )
    return (
        terms.join(lm, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg("logp"), 6).alias("avg_logprob"),
        )
    )


def repetition_ratio(df: DataFrame, text_col: str = "text", shingle: int = 3) -> DataFrame:
    """Gopher-style repetition signal: fraction of word shingles that are
    duplicates of an earlier shingle in the same document
    (1 − distinct/total). High values flag boilerplate/spam. Pure per-row
    HOF arithmetic — no shuffle."""
    grams = word_ngrams(text_col, shingle)
    total = F.size(grams)
    distinct = F.size(F.array_distinct(grams))
    return df.withColumn(
        "repetition_ratio",
        F.round(1.0 - distinct.cast("double") / F.greatest(total, F.lit(1)), 6),
    )


# deliberately simple, auditable patterns; swap for validated ones in prod
PII_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phones": r"\+?[0-9][0-9()\-\s]{7,}[0-9]",
    "ipv4s": r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b",
}


def pii_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document PII-pattern counts (emails/phones/IPv4) — the filter
    signal a training-data pipeline gates on. regexp_extract_all per
    pattern: one scan of the column, no Python."""
    c = F.col(text_col)
    out = df
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(f"n_{name}", F.size(F.regexp_extract_all(c, F.lit(pat), 0)))
    any_pii = None
    for name in PII_PATTERNS:
        flag = F.col(f"n_{name}") > 0
        any_pii = flag if any_pii is None else (any_pii | flag)
    return out.withColumn("has_pii", any_pii)


def redact_pii(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """PII redaction — the write-path counterpart of `pii_flags`: replaces
    every email/IPv4/phone match in place with a typed placeholder
    (`<EMAIL>`, `<IP>`, `<PHONE>`) and reports the per-category match
    counts from the original text. Patterns apply in a fixed order
    (email → ipv4 → phone) so a span consumed by an earlier category can't
    re-match a later one. Pure regexp codegen over the scan — zero shuffle
    at any scale."""
    c = F.col(text_col)
    out = df.select(
        F.col(id_col),
        c,
        F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS["emails"]), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS["ipv4s"]), 0)).alias("n_ipv4s"),
        F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS["phones"]), 0)).alias("n_phones"),
    )
    red = F.regexp_replace(F.col(text_col), PII_PATTERNS["emails"], "<EMAIL>")
    red = F.regexp_replace(red, PII_PATTERNS["ipv4s"], "<IP>")
    red = F.regexp_replace(red, PII_PATTERNS["phones"], "<PHONE>")
    return out.withColumn("redacted", red).drop(text_col)


def importance_weight(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    facet_col: str = "source",
    target_value: str = "web",
) -> DataFrame:
    """DSIR-style importance weight (Xie et al. 2023, data selection via
    importance resampling): per-document mean log-ratio of add-1-smoothed
    unigram probabilities under the TARGET slice (``facet_col ==
    target_value``) vs the whole corpus. Documents that look like the
    target domain score high; resample/threshold on the weight to reshape
    the mix without a trained classifier.

    Scale shape mirrors `unigram_logprob`: one token-level partial+final
    agg builds both LMs in a single pass (conditional count), the per-token
    ratio table joins back UNHINTED (vocabulary is unbounded at 100 TB —
    AQE picks the strategy), and the 1-row totals frame is a broadcast BNLJ
    build side. Per-token ratios are rounded before the mean so the result
    is stable under aggregation order."""
    terms = df.select(
        F.col(id_col),
        (F.col(facet_col) == target_value).cast("long").alias("__is_tgt"),
        F.explode(tokens(text_col)).alias("token"),
    )
    counts = terms.groupBy("token").agg(
        F.count("*").alias("c_all"),
        F.sum("__is_tgt").alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_all").alias("t_all"),
        F.sum("c_tgt").alias("t_tgt"),
        F.count("*").alias("vocab"),
    )
    lm = counts.crossJoin(F.broadcast(totals)).select(
        "token",
        F.round(
            F.log((F.col("c_tgt") + 1) / (F.col("t_tgt") + F.col("vocab")))
            - F.log((F.col("c_all") + 1) / (F.col("t_all") + F.col("vocab"))),
            6,
        ).alias("log_ratio"),
    )
    # exact decimal sum of the pre-rounded ratios, ONE double division at
    # the end: the mean is order-independent, so it can't flip a 6-dp
    # rounding boundary under partial-aggregation order (module discipline)
    return (
        terms.join(lm, "token")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_tokens"),
            (
                F.round(
                    F.sum(F.col("log_ratio").cast("decimal(18,6)")).cast("double")
                    / F.count("*"),
                    6,
                )
                + F.lit(0.0)  # canonical zero: an ulp-level ln flip on one
                # token can sign the rounded mean as -0.0 on one engine
            ).alias("importance_weight"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Bigram-LM scoring — the next rung of the perplexity-proxy quality
    ladder above `unigram_logprob`: per-document mean log P(w_i | w_{i-1})
    under an add-1-smoothed bigram model trained on the corpus in the same
    job, plus the implied perplexity. Low-probability documents are
    gibberish/OCR noise; high ones are templated boilerplate — pipelines
    gate on both tails.

    Movement: one bigram explode (n−1 rows per doc, two 8-byte-hashable
    words wide) feeds a partial+final count agg; context counts derive
    from the bigram counts (word-level re-agg — model-sized, not
    corpus-sized); the model joins back UNHINTED (bigram vocabulary is
    unbounded at 100 TB — AQE decides). Per-bigram log-probs are rounded,
    then decimal-summed so the mean is aggregation-order-independent."""
    bg = df.select(
        F.col(id_col), F.explode(_bigram_pairs(tokens(text_col))).alias("__b")
    ).select(
        id_col, F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2")
    )
    from pyspark.sql import Window

    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    # context totals as a window sum over the MODEL rows: one re-key on w1,
    # no groupBy+join-back pair (saves an exchange and a join)
    c12 = c12.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
    vocab = bg.agg(F.countDistinct("w2").alias("vocab"))
    lm = (
        c12.crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.round(
                F.log((F.col("c12") + 1) / (F.col("c1") + F.col("vocab"))), 6
            ).alias("logp"),
        )
    )
    return (
        bg.join(lm, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            (
                # 4-dp output grid: a single ln-ulp flip on one POPULAR
                # bigram (integer count ratios repeat corpus-wide) shifts
                # doc means by ~1e-6/n; a 6-dp grid then flips any doc
                # whose mean sits near its own boundary (seen at sf0.1).
                # At 1e-4 the double-coincidence probability is negligible.
                F.round(
                    F.sum(F.col("logp").cast("decimal(18,6)")).cast("double")
                    / F.count("*"),
                    4,
                )
                + F.lit(0.0)  # canonical zero (see importance_weight)
            ).alias("avg_bigram_logprob"),
        )
        .withColumn(
            "perplexity", F.round(F.exp(-F.col("avg_bigram_logprob")), 2)
        )
    )


def stratified_sample(
    df: DataFrame, strata_col: str, fractions: dict, seed: int = 7
) -> DataFrame:
    """Per-stratum Bernoulli sampling (pandas `groupby.sample` analogue) —
    `sampleBy` pushes the coin flip into the scan; nothing shuffles."""
    return df.sampleBy(strata_col, fractions, seed=seed)


def fingerprint(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", shingle: int = 5
) -> DataFrame:
    """North-star document fingerprinting (winnowing-lite): the minimum hash
    over rolling word shingles — one stable 32-hex fingerprint per document,
    computed entirely with HOFs (no shuffle at all)."""
    hashes = F.transform(word_ngrams(text_col, shingle), F.md5)
    return df.select(
        F.col(id_col),
        F.array_min(hashes).alias("fingerprint"),
        F.size(hashes).alias("n_shingles"),
    )


def gopher_rules(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-style heuristic quality GATES (Rae et al. 2021 §A1.1.2 shape,
    thresholds adapted to the fixture corpus): hard booleans rather than
    d10's soft score — the filter stage a training pipeline actually keys
    drop decisions off.

    All four signals are per-row codegen'd HOFs (no shuffle, no Python):
    word count bounds, mean word length band, symbol-to-word ratio cap, and
    a minimum stopword count (the "has real function words" gate).
    """
    toks = tokens(F.col(text_col))
    n_words = F.size(toks)
    # total word chars via int HOF, one double division at the end
    word_chars = F.aggregate(
        F.transform(toks, lambda w: F.length(w)), F.lit(0), lambda a, x: a + x
    )
    mean_wl = word_chars.cast("double") / F.greatest(n_words, F.lit(1))
    n_sym = F.size(F.regexp_extract_all(F.col(text_col), F.lit("[^A-Za-z0-9\\s]"), 0))
    sym_ratio = n_sym.cast("double") / F.greatest(n_words, F.lit(1))
    n_stop = F.size(
        F.filter(toks, lambda w: F.lower(w).isin(ENGLISH_STOPWORDS))
    )
    r_wc = (n_words >= 50) & (n_words <= 100000)
    r_mwl = (mean_wl >= 3.0) & (mean_wl <= 10.0)
    r_sym = sym_ratio < 0.1
    r_stop = n_stop >= 2
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        F.round(sym_ratio, 6).alias("symbol_ratio"),
        n_stop.alias("n_stopwords"),
        r_wc.cast("int").alias("rule_word_count"),
        r_mwl.cast("int").alias("rule_mean_word_len"),
        r_sym.cast("int").alias("rule_symbol_ratio"),
        r_stop.cast("int").alias("rule_stopwords"),
        (r_wc & r_mwl & r_sym & r_stop).cast("int").alias("passes_gopher"),
    )


def contamination_score(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Graded decontamination: per-document FRACTION of distinct word
    n-grams appearing in the benchmark set (the thresholdable version of
    `decontaminate`'s boolean — pipelines drop at score>τ instead of any-hit).

    Same scale shape as decontaminate: benchmark gram-hashes broadcast
    (eval suites are bounded), corpus grams travel as 8-byte xxhash64 keys,
    one partial+final agg per document."""
    grams = word_ngrams(text_col, n)
    bench_hashes = (
        benchmark.select(F.explode(grams).alias("g"))
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    corpus_grams = (
        corpus.select(F.col(id_col), F.explode(grams).alias("g"))
        .select(id_col, F.xxhash64("g").alias("gh"))
        .distinct()
    )
    return (
        corpus_grams.join(F.broadcast(bench_hashes), "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6),
        )
    )


def normalize_text(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Canonical text normalization (the pre-hash step of every dedup
    pipeline): lowercase → strip non-alphanumerics → collapse whitespace →
    trim, plus the md5 of the result as the dedup key. Pure regexp
    codegen — zero shuffle."""
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return df.select(
        F.col(id_col),
        norm.alias("norm_text"),
        F.md5(norm).alias("norm_hash"),
    )


def domain_mix_weights(
    df: DataFrame, facet_col: str = "source", target: dict | None = None
) -> DataFrame:
    """Training-mix rebalancing: per-facet sampling weight that reshapes
    the corpus toward a target distribution (uniform when ``target`` is
    None — the "flatten the domain mix" default). weight>1 ⇒ upsample,
    <1 ⇒ downsample; downstream `sample_by`/`stratified_sample` consumes
    the weights column.

    One partial+final count per facet + a 1-row global crossJoin — the
    whole computation is two tiny aggregates regardless of corpus size."""
    counts = df.groupBy(facet_col).agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("__total"), F.count("*").alias("__n_facets")
    )
    out = counts.crossJoin(F.broadcast(tot))
    if target is None:
        tgt = F.lit(1.0) / F.col("__n_facets")
    else:
        mapping = F.create_map(
            *[F.lit(x) for kv in target.items() for x in kv]
        )
        tgt = mapping[F.col(facet_col)]
    actual = F.col("cnt") / F.col("__total")
    return out.select(
        facet_col,
        "cnt",
        F.round(actual, 6).alias("actual_frac"),
        F.round(tgt, 6).alias("target_frac"),
        F.round(tgt / actual, 6).alias("weight"),
    )


def length_percentile_filter(
    df: DataFrame,
    len_col: str = "n_chars",
    lo: float = 0.05,
    hi: float = 0.95,
) -> DataFrame:
    """Tail-trimming by exact length percentiles: keep rows whose length
    sits inside [P_lo, P_hi] — the outlier-document cut (truncated docs at
    the short end, concatenation blobs at the long end).

    EXACT percentile (linear interpolation), not approx, so the cut is
    deterministic and oracle-checkable; the 2-value global agg crossJoin-
    broadcasts. At 100 TB swap in percentile_approx and declare the query
    rows-only — the shape is identical."""
    pcts = df.agg(
        F.percentile(len_col, F.lit(lo)).alias("__plo"),
        F.percentile(len_col, F.lit(hi)).alias("__phi"),
    )
    return (
        df.crossJoin(F.broadcast(pcts))
        .filter(F.col(len_col).between(F.col("__plo"), F.col("__phi")))
        .drop("__plo", "__phi")
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 50,
    step: int = 40,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    training-window materialization step (context-length-sized chunks,
    ``window - step`` tokens of overlap so no span is lost at a boundary).

    Per document: chunk starts are 1, 1+step, 1+2·step, … while ≤ the
    token count; each chunk is the next ``window`` tokens (the final
    chunk is shorter when the tail runs out). A document shorter than one
    window yields exactly one chunk. All sequence/slice/array_join HOFs —
    codegen'd, zero shuffle, scales as a pure map over the corpus.

    Returns (id, chunk_idx, n_chunk_tokens, chunk).
    """
    toks = tokens(text_col)
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(step))
    chunks = F.transform(starts, lambda i: F.array_join(F.slice(toks, i, window), " "))
    return df.select(
        F.col(id_col),
        n.alias("__n"),
        F.posexplode(chunks).alias("chunk_idx", "chunk"),
    ).select(
        F.col(id_col),
        "chunk_idx",
        F.least(
            F.lit(window), F.col("__n") - F.col("chunk_idx") * step
        ).alias("n_chunk_tokens"),
        "chunk",
    )


def idf_rarity_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document rarity: the mean smoothed IDF of the document's
    DISTINCT tokens — high = content made of corpus-rare vocabulary (the
    cheap novelty detector used to up-sample tail knowledge in data-mix
    work; the document-level complement of d05's term-level TF-IDF).

    Plan shape mirrors tf_idf, persist included: the (doc, token) DISTINCT
    pairs feed both the document-frequency aggregate and the scoring join,
    so they ride the scratch pool (one tokenize+explode, not two); the
    vocabulary join back is UNHINTED (unbounded at 100 TB — AQE picks the
    strategy), then one doc-keyed mean. IDF uses the same smoothed
    ln((N+1)/(df+1)) + 1 form as tf_idf.
    """
    from ._scratch import scratch_persist

    n_docs = df.select(F.countDistinct(id_col).alias("n"))
    pairs = scratch_persist(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("token"),
        ),
        "idf_rarity/pairs",
    )
    dfreq = pairs.groupBy("token").agg(F.count("*").alias("df"))
    idf = F.log((F.col("n") + 1).cast("double") / (F.col("df") + 1)) + 1.0
    return (
        pairs.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("__idf", idf)
        .groupBy("doc_id")
        .agg(
            F.round(F.avg("__idf"), 6).alias("mean_idf"),
            F.count("*").alias("n_distinct_tokens"),
        )
    )


def rouge1_consecutive(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """ROUGE-1 recall between consecutive ids (id = candidate, id+1 =
    reference): |distinct(cand) ∩ distinct(ref)| / |distinct(ref)| on word
    tokens — the summarization-eval overlap metric, bound to the same
    bounded consecutive-pair scheme as d02c's n-gram Jaccard so the set
    arithmetic is oracle-checkable.

    Per-row array intersection after ONE equi-join on the pair id — token
    sets never explode into (doc, token) rows, so the join moves one array
    per doc and the overlap math is a codegen'd HOF.
    """
    toks = F.array_distinct(tokens(text_col))
    a = df.select(F.col(id_col).alias("id_a"), toks.alias("t_a"))
    b = df.select(
        (F.col(id_col) - 1).alias("id_a"),
        F.col(id_col).alias("id_b"),
        toks.alias("t_b"),
    )
    j = a.join(b, "id_a")
    inter = F.size(F.array_intersect("t_a", "t_b"))
    return j.select(
        "id_a",
        "id_b",
        inter.alias("n_overlap"),
        F.round(inter.cast("double") / F.size("t_b"), 6).alias("rouge1_recall"),
    )


def wordpiece_token_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 200,
) -> DataFrame:
    """WordPiece-style token counting with a corpus-derived vocabulary:
    the vocabulary is the ``vocab_size`` most frequent whole words (ties
    by word) plus implicit single characters; greedy longest-match-first
    tokenization then emits 1 token per in-vocab word and len(word)
    character pieces per OOV word — so the per-doc token count is
    Σ (1 if word ∈ vocab else |word|). That closed form is exactly what
    greedy matching produces for a chars+whole-words vocabulary, which
    makes the count oracle-checkable while measuring the quantity
    training-cost estimates actually need (tokens under a real subword
    vocab budget).

    Plan: one explode+count for the vocabulary, a TakeOrdered top-N (k-row
    driver merge, no global sort), broadcast membership join (the vocab is
    BOUNDED by construction — the one join in this family that may carry a
    broadcast hint), one doc-keyed sum.
    """
    terms = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    )
    vocab = (
        terms.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(vocab_size)
        .select("token", F.lit(1).alias("__in_vocab"))
    )
    scored = terms.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        F.when(F.col("__in_vocab").isNotNull(), 1)
        .otherwise(F.length("token"))
        .alias("wp"),
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_words"),
        F.sum("wp").alias("n_wp_tokens"),
        F.round(
            F.sum("wp").cast("double") / F.count("*"), 6
        ).alias("tokens_per_word"),
    )


def frequent_substrings(
    df: DataFrame,
    text_col: str = "text",
    length: int = 20,
    min_count: int = 10,
    k: int = 25,
) -> DataFrame:
    """The top-k most repeated fixed-length character substrings across the
    corpus — the cheap sliding-window form of suffix-array duplicate-span
    mining (Lee et al., "Deduplicating Training Data Makes Language Models
    Better": memorized spans show up as high-count substrings long before
    a full suffix array is needed).

    Two-pass hash shape for 100 TB: pass 1 slides a window over every doc
    and counts xxhash64(substring) — the corpus-sized shuffle moves 8-byte
    hashes, never the substrings. The surviving hashes (count >= min_count,
    top-k) broadcast back; pass 2 re-extracts only the matching substrings
    to recover the text. At sandbox scale both passes are the same two
    scans; the string shuffle this avoids would be ~length× wider.
    """
    subs = F.expr(
        f"transform(sequence(1, greatest(length({text_col}) - {length - 1}, 1)), "
        f"i -> substring({text_col}, i, {length}))"
    )
    hashed = df.select(F.explode(subs).alias("s")).select(
        F.xxhash64("s").alias("h")
    )
    # every hash clearing min_count survives (a top-N cut HERE could split
    # a count-tie group whose deterministic order is by TEXT, which pass 1
    # can't see); the n >= min_count filter bounds the dim at total/min_count
    # and the join is unhinted — AQE broadcasts when it actually fits
    top = (
        hashed.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    recovered = (
        df.select(F.explode(subs).alias("gram"))
        .withColumn("h", F.xxhash64("gram"))
        .join(top, "h")
        .groupBy("gram")
        .agg(F.max("n").alias("n"))
    )
    return recovered.orderBy(F.col("n").desc(), "gram").limit(k)


def token_pmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_vocab: int = 40,
    min_pair_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k token pairs by pointwise mutual information at DOCUMENT
    co-occurrence granularity — the collocation/phrase-mining signal
    (PMI(a,b) = ln(P(a,b) / (P(a)P(b))) over doc-presence probabilities):
    a pair that co-occurs far above chance is a collocation even if both
    tokens are individually rare.

    The pair join is restricted to the top-``top_vocab`` tokens by
    document frequency BEFORE pairing (the standard PMI-mining cut:
    below-vocab tokens produce unstable, sample-noise PMI). That bound
    is what makes the self-join scale-safe: the per-doc pair fan-out is
    C(min(vocab_hits, top_vocab), 2), never C(doc_len, 2), and the vocab
    table (top_vocab rows) broadcasts to both the presence filter and
    the marginal-count lookup. N (total docs) rides a broadcast 1-row
    aggregate — no driver collect.

    Returns (tok_a, tok_b, n_ab bigint, pmi double) — the k highest-PMI
    pairs with support >= min_pair_count, PMI rounded to 6 dp.
    """
    from ._scratch import scratch_persist

    # the doc-presence table feeds the vocabulary AND both self-join
    # sides — scratch-persist so the explode+distinct runs once
    toks = scratch_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        ).distinct(),
        "token_pmi/toks",
    )
    vocab = scratch_persist(
        toks.groupBy("tok")
        .agg(F.count("*").alias("__df"))
        .orderBy(F.col("__df").desc(), "tok")
        .limit(top_vocab),
        "token_pmi/vocab",
    )
    vt = toks.join(F.broadcast(vocab), "tok")
    n_docs = df.agg(F.count("*").alias("__nd"))
    pairs = (
        vt.select("__id", F.col("tok").alias("tok_a"), F.col("__df").alias("__dfa"))
        .join(
            vt.select(
                "__id", F.col("tok").alias("tok_b"), F.col("__df").alias("__dfb")
            ),
            "__id",
        )
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count("*").alias("n_ab"),
            F.first("__dfa").alias("__dfa"),
            F.first("__dfb").alias("__dfb"),
        )
        .filter(F.col("n_ab") >= min_pair_count)
    )
    return (
        pairs.crossJoin(F.broadcast(n_docs))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.log(
                    F.col("n_ab").cast("double")
                    * F.col("__nd")
                    / (F.col("__dfa") * F.col("__dfb"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "tok_a", "tok_b")
        .limit(k)
    )


def tfidf_doc_similarity(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_df_frac: float = 0.5,
    k: int = 20,
) -> DataFrame:
    """Top-k document pairs by TF-IDF cosine similarity via a SPARSE
    inverted-index join — the text-similarity engine proper (d37's dense
    cosine needs embeddings; this works on raw text): cos(a,b) =
    Σ_t w_at·w_bt / (||a||·||b||) where w = tf · idf, and the sum runs
    only over SHARED tokens, so the pair join is an equi-join on token —
    never an n² document product.

    Scale levers: tokens present in more than ``max_df_frac`` of
    documents are dropped BEFORE the join (the df² head that dominates
    inverted-index joins carries ~zero idf weight anyway — the classic
    max-df stopword cut, documented contract: similarities are over the
    kept vocabulary); the token-frequency table is unhinted (AQE
    broadcasts while it fits); norms come from one per-doc aggregation.
    IDF is ROUNDED to 6 dp at birth so the one ln() call — whose last
    ulp may differ between libm implementations — is pinned before any
    accumulation; thereafter weight products sum through exact decimals,
    making the cosine partitioning-independent and oracle-checkable.

    Returns the k most-similar pairs (id_a, id_b, cos_sim) with
    id_a < id_b, cosine rounded to 6 dp, ordered by (cos_sim desc, ids).
    """
    from ._scratch import scratch_persist

    n_docs = df.agg(F.count("*").alias("__nd"))
    # tf feeds the document-frequency aggregate AND the weight join;
    # norms feed both sides of the final pair stitch — persist each so
    # the tokenize/aggregate trees run once
    tf = scratch_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .groupBy("__id", "tok")
        .agg(F.count("*").alias("__tf")),
        "tfidf_sim/tf",
    )
    dfreq = (
        tf.groupBy("tok")
        .agg(F.count("*").alias("__df"))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("__df") <= max_df_frac * F.col("__nd"))
        .withColumn(
            "__idf", F.round(F.log(F.col("__nd") / F.col("__df")), 6)
        )
        .select("tok", "__idf")
    )
    w = scratch_persist(
        tf.join(dfreq, "tok").select(
            "__id", "tok", (F.col("__tf") * F.col("__idf")).alias("__w")
        ),
        "tfidf_sim/weights",
    )
    norms = scratch_persist(
        w.groupBy("__id").agg(
            F.sqrt(
                F.sum((F.col("__w") * F.col("__w")).cast("decimal(28,12)")).cast(
                    "double"
                )
            ).alias("__norm")
        ),
        "tfidf_sim/norms",
    )
    dots = (
        w.select(F.col("__id").alias("id_a"), "tok", F.col("__w").alias("__wa"))
        .join(
            w.select(F.col("__id").alias("id_b"), "tok", F.col("__w").alias("__wb")),
            "tok",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.sum((F.col("__wa") * F.col("__wb")).cast("decimal(28,12)"))
            .cast("double")
            .alias("__dot")
        )
    )
    return (
        dots.join(norms.select(F.col("__id").alias("id_a"), F.col("__norm").alias("__na")), "id_a")
        .join(norms.select(F.col("__id").alias("id_b"), F.col("__norm").alias("__nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("__dot") / (F.col("__na") * F.col("__nb")), 6).alias(
                "cos_sim"
            ),
        )
        .orderBy(F.col("cos_sim").desc(), "id_a", "id_b")
        .limit(k)
    )


def bm25_topk(
    df: DataFrame,
    query: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k documents for a keyword query by BM25 — the retrieval
    scorer proper (d85's tf-idf cosine compares documents to each other;
    this ranks documents against a QUERY, with BM25's tf saturation and
    length normalization):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    with the Robertson/Lucene idf ln((N - df + ½)/(df + ½) + 1), always
    positive. No joins against anything data-sized: the query's term set
    is a LITERAL isin filter pushed into the token explode, so the only
    aggregations are (doc, term) tf over matched terms, the matched-term
    df table (≤ |query| rows, broadcast), and one corpus-stats row
    (N, avgdl — decimal-summed doc lengths) — a scan-shaped plan at any
    corpus size, finishing in a TakeOrdered top-k, never a global sort.

    Determinism contract: idf and each term contribution round to 6 dp,
    per-doc contributions sum through exact decimals — engine-independent
    and oracle-checkable. Returns (id_col, bm25 double), k rows, ordered
    (bm25 desc, id).
    """
    terms = sorted(set(query.split()))
    dl = df.select(
        F.col(id_col).alias("__id"),
        F.size(F.split(F.col(text_col), " ")).alias("__dl"),
    )
    stats = dl.agg(
        F.count("*").alias("__nd"),
        (
            F.sum(F.col("__dl").cast("decimal(18,4)")).cast("double") / F.count("*")
        ).alias("__avgdl"),
    )
    tf = (
        df.select(
            F.col(id_col).alias("__id"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok").isin(terms))
        .groupBy("__id", "tok")
        .agg(F.count("*").alias("__tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("__df"))
    idf = F.round(
        F.log((F.col("__nd") - F.col("__df") + 0.5) / (F.col("__df") + 0.5) + 1.0), 6
    )
    contrib = F.round(
        F.col("__idf")
        * F.col("__tf")
        * (k1 + 1.0)
        / (
            F.col("__tf")
            + k1 * (1.0 - b + b * F.col("__dl") / F.col("__avgdl"))
        ),
        6,
    )
    return (
        tf.join(F.broadcast(dfreq.crossJoin(stats).withColumn("__idf", idf)), "tok")
        .join(dl, "__id")
        .select("__id", contrib.alias("__c"))
        .groupBy("__id")
        .agg(
            F.round(
                F.sum(F.col("__c").cast("decimal(18,6)")).cast("double"), 6
            ).alias("bm25")
        )
        .select(F.col("__id").alias(id_col), "bm25")
        .orderBy(F.col("bm25").desc(), id_col)
        .limit(k)
    )


def source_kl_divergence(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution divergence from the corpus: KL(q_s || p)
    with q_s a source's unigram distribution and p the whole corpus's — the
    domain-weighting primitive behind DoReMi-style mixture reweighting and
    "which slice is unlike the rest" monitoring (a distributional upgrade of
    the facet-share drift check).

    One token explode → one (source, token) count (scratch-persisted: it
    feeds the per-source totals, the corpus totals, AND the divergence
    join). The divergence join is token-keyed and UNHINTED — corpus
    vocabulary is data-derived, so AQE picks broadcast only when it fits
    (the d05 tf-idf convention). Per-source totals are source-cardinality-
    sized and broadcast. Each ln term is rounded 12 dp at birth and the
    q·ln products accumulate in DECIMAL(28,12) (tie-free casts), so the
    sum is association-free and engine-exact; the libm last-ulp caveat is
    the documented d65/d58 treatment.

    Returns (source, n_tokens, vocab, kl_vs_corpus) — kl >= 0, 0 iff the
    source's distribution equals the corpus's.
    """
    from ._scratch import scratch_persist

    tok = df.select(
        F.col(source_col).alias("src"),
        F.explode(tokens(text_col)).alias("tok"),
    ).filter(F.col("tok") != "")
    cnt = scratch_persist(
        tok.groupBy("src", "tok").agg(F.count("*").alias("c_st")),
        "srckl/source_token_counts",
    )
    tot = cnt.groupBy("src").agg(F.sum("c_st").alias("t_s"))
    corpus = cnt.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    n = tot.agg(F.sum("t_s").alias("n_total"))
    q = F.col("c_st") / F.col("t_s")
    p = F.col("c_t") / F.col("n_total")
    term = (q * F.round(F.log(q / p), 12)).cast("decimal(28,12)")
    return (
        cnt.join(corpus, "tok")
        .join(F.broadcast(tot), "src")
        .crossJoin(F.broadcast(n))
        .groupBy("src")
        .agg(
            F.max("t_s").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("vocab"),
            F.round(F.sum(term).cast("double"), 6).alias("kl_vs_corpus"),
        )
        .withColumnRenamed("src", "source")
    )


def skipgram_ppmi(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_vocab: int = 50,
    window: int = 3,
    min_pair_count: int = 5,
    k: int = 20,
) -> DataFrame:
    """Top-k token pairs by positive PMI at SKIP-GRAM granularity —
    co-occurrence within ±``window`` token POSITIONS, the word2vec-style
    counting that ``token_pmi``'s whole-document presence can't resolve
    (doc-level PMI calls two tokens associated even when they sit
    thousands of tokens apart; positional PMI is the phrase/syntax
    signal).

    Probabilities come from the pair table itself: with T total counted
    pairs and m_a = Σ_b n_ab the pair-marginal, PPMI(a,b) =
    max(0, ln(4·T·n_ab / (m_a·m_b))) — every input to the ln is an exact
    integer, so the ratio and the 6-dp-rounded ln agree cross-engine
    (the d58/d82 libm treatment).

    Scale shape: positions are one posexplode; the vocabulary cut (top
    ``top_vocab`` by occurrence) broadcasts and prunes BEFORE pairing,
    and the positional self-join is equi on the doc id with a ±window
    band — per-position fan-out is at most ``window``, so the pair
    stream is O(corpus_tokens × window), never C(doc_len, 2). Marginals
    and T are aggregates over the vocab²-bounded pair-count table.

    Returns (tok_a, tok_b, n_ab bigint, ppmi double), the k highest-PPMI
    pairs with support >= min_pair_count.
    """
    from ._scratch import scratch_persist

    pos = scratch_persist(
        df.select(
            F.col(id_col).alias("__id"),
            F.posexplode(F.split(F.col(text_col), " ")).alias("__pos", "tok"),
        ),
        "skipgram_ppmi/pos",
    )
    vocab = (
        pos.groupBy("tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.col("__c").desc(), "tok")
        .limit(top_vocab)
        .select("tok")
    )
    hits = scratch_persist(pos.join(F.broadcast(vocab), "tok"), "skipgram_ppmi/hits")
    a = hits.select("__id", F.col("__pos").alias("__pa"), F.col("tok").alias("__ta"))
    b = hits.select("__id", F.col("__pos").alias("__pb"), F.col("tok").alias("__tb"))
    pairs = scratch_persist(
        a.join(b, "__id")
        .filter(
            (F.col("__pb") > F.col("__pa"))
            & (F.col("__pb") <= F.col("__pa") + window)
            & (F.col("__ta") != F.col("__tb"))
        )
        .groupBy(
            F.least("__ta", "__tb").alias("tok_a"),
            F.greatest("__ta", "__tb").alias("tok_b"),
        )
        .agg(F.count("*").alias("n_ab")),
        "skipgram_ppmi/pairs",
    )
    total = pairs.agg(F.sum("n_ab").alias("__t"))
    marg = (
        pairs.select(F.col("tok_a").alias("tok"), "n_ab")
        .unionAll(pairs.select(F.col("tok_b").alias("tok"), "n_ab"))
        .groupBy("tok")
        .agg(F.sum("n_ab").alias("__m"))
    )
    return (
        pairs.filter(F.col("n_ab") >= min_pair_count)
        .join(F.broadcast(marg.select(F.col("tok").alias("tok_a"), F.col("__m").alias("__ma"))), "tok_a")
        .join(F.broadcast(marg.select(F.col("tok").alias("tok_b"), F.col("__m").alias("__mb"))), "tok_b")
        .crossJoin(F.broadcast(total))
        .select(
            "tok_a",
            "tok_b",
            F.col("n_ab").cast("long").alias("n_ab"),
            F.round(
                F.greatest(
                    F.lit(0.0),
                    F.log(
                        F.lit(4.0)
                        * F.col("n_ab").cast("double")
                        * F.col("__t")
                        / (F.col("__ma") * F.col("__mb"))
                    ),
                ),
                6,
            ).alias("ppmi"),
        )
        .orderBy(F.col("ppmi").desc(), "tok_a", "tok_b")
        .limit(k)
    )


def kneser_ney_bigram(
    df: DataFrame,
    text_col: str = "text",
    discount: float = 0.75,
    k: int = 30,
) -> DataFrame:
    """Interpolated Kneser–Ney bigram probabilities for the corpus's
    top-``k`` bigrams — the PROPER-smoothing rung above
    ``bigram_logprob``'s add-1: absolute discounting plus the
    continuation-probability backoff (P_cont(w) = how many distinct
    contexts w follows, over distinct bigram types), the estimator that
    made n-gram LMs competitive and the standard scorer for
    perplexity-gated corpus filtering.

        P_KN(w2|w1) = (c(w1,w2) − d)/c(w1)
                      + d·N1+(w1,·)/c(w1) · N1+(·,w2)/N1+(·,·)

    Movement: ONE bigram count aggregation is corpus-sized; every other
    term is a window over the MODEL rows (context totals and fan-out per
    w1, history fan-in per w2 — the d46 re-key trick, no join-backs) and
    the type total rides a broadcast 1-row aggregate. All inputs to the
    probability are exact integers (+ the dyadic 0.75), so the IEEE
    arithmetic agrees cross-engine and 6-dp rounding pins it.

    Returns (w1, w2, c12 bigint, p_mle double, p_kn double), the k most
    frequent bigrams (ties by w1, w2).
    """
    from pyspark.sql import Window

    bg = df.select(F.explode(_bigram_pairs(tokens(text_col))).alias("__b")).select(
        F.col("__b.w1").alias("w1"), F.col("__b.w2").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    c12 = (
        c12.withColumn("c1", F.sum("c12").over(Window.partitionBy("w1")))
        .withColumn("n1p_fw", F.count("*").over(Window.partitionBy("w1")))
        .withColumn("n1p_bw", F.count("*").over(Window.partitionBy("w2")))
    )
    types = c12.agg(F.count("*").alias("__tt"))
    d = F.lit(discount)
    return (
        c12.crossJoin(F.broadcast(types))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("c12"),
            F.round(F.col("c12") / F.col("c1"), 6).alias("p_mle"),
            F.round(
                (F.col("c12") - d) / F.col("c1")
                + d
                * F.col("n1p_fw")
                / F.col("c1")
                * (F.col("n1p_bw") / F.col("__tt")),
                6,
            ).alias("p_kn"),
        )
        .orderBy(F.col("c12").desc(), "w1", "w2")
        .limit(k)
    )


from ._localrel import sql_literal as _sql_str  # noqa: E402 — shared literal builder


_BPE_INIT_SQL = (
    "struct(cast(array() as array<string>) AS out, "
    "CAST(NULL AS STRING) AS pend)"
)
_BPE_FINISH_SQL = (
    "acc -> CASE WHEN acc.pend IS NULL THEN acc.out "
    "ELSE array_append(acc.out, acc.pend) END"
)


# lineage-truncation cadence for the BPE training loops: rounds between
# two truncations chain this many narrow rewrite projections (fused by
# codegen into one pass over the vocabulary-sized state), trading ≤ M−1
# extra per-row rewrite evaluations for one fewer plan→RDD planning stall
# per round. The corpus scan is always materialized exactly once.
_BPE_CKPT_EVERY = 8


def _bpe_rewrite_sql(child_sql: str, a: str, b: str) -> str:
    """One BPE merge rule ``(a, b) → a+b`` applied left to right over
    ``child_sql`` (a SQL expression producing array<string>) as a single
    ``aggregate`` fold — a codegen'd expression, no UDF."""
    pa, pb, pm = _sql_str(a), _sql_str(b), _sql_str(a + b)
    step = (
        "(acc, x) -> CASE "
        "WHEN acc.pend IS NULL THEN struct(acc.out AS out, x AS pend) "
        f"WHEN acc.pend = {pa} AND x = {pb} THEN "
        f"struct(array_append(acc.out, {pm}) AS out, "
        "CAST(NULL AS STRING) AS pend) "
        "ELSE struct(array_append(acc.out, acc.pend) AS out, x AS pend) END"
    )
    return (
        f"aggregate({child_sql}, {_BPE_INIT_SQL}, {step}, {_BPE_FINISH_SQL})"
    )


def _bpe_rewrite_multi_sql(child_sql: str, rules) -> str:
    """A batch of merge rules in one fold, looked up in a literal map (same
    shape as :func:`_bpe_rewrite_sql`; the batch must be symbol-disjoint,
    which the caller enforces)."""
    sep = "\x1f"
    entries = ", ".join(
        f"{_sql_str(a + sep + b)}, {_sql_str(a + b)}" for a, b in rules
    )
    lookup = f"try_element_at(map({entries}), concat(acc.pend, {_sql_str(sep)}, x))"
    step = (
        "(acc, x) -> CASE "
        "WHEN acc.pend IS NULL THEN struct(acc.out AS out, x AS pend) "
        f"WHEN {lookup} IS NOT NULL THEN "
        f"struct(array_append(acc.out, {lookup}) AS out, "
        "CAST(NULL AS STRING) AS pend) "
        "ELSE struct(array_append(acc.out, acc.pend) AS out, x AS pend) END"
    )
    return (
        f"aggregate({child_sql}, {_BPE_INIT_SQL}, {step}, {_BPE_FINISH_SQL})"
    )


def bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 8,
) -> DataFrame:
    """Learn the first ``n_merges`` BPE merge rules over the corpus — the
    Sennrich byte-pair-encoding loop that every tokenizer-training
    pipeline runs: count adjacent symbol pairs across the word vocabulary
    (weighted by word frequency), merge the most frequent pair everywhere
    (greedy left-to-right, non-overlapping), repeat.

    Distributed shape: the corpus is touched ONCE (word-frequency
    aggregation); the loop state is one row per DISTINCT word — (word
    frequency, current symbol array) — vocabulary-sized, never
    corpus-sized. Each round is one pair-explode + count aggregate, a
    TakeOrdered(1) argmax (count desc, then pair — deterministic), and
    one whole-stage-codegen ``aggregate`` HOF pass that rewrites the
    symbol arrays (the accumulator carries (out, pending) so merges are
    exactly the classic scan: pend==a ∧ x==b → emit merged, else flush
    pend). The driver holds only the single winning pair per round;
    localCheckpoint keeps lineage O(1) across rounds.

    Returns (rank int, sym_a, sym_b, merged, pair_count bigint) — the
    merge table in learned order. Iteration 1 is SQL-certifiable from
    raw character pairs (the d98b twin); later iterations depend on the
    mutated symbol state only an iterative engine can hold.
    """
    _require_unicode_literals(df.sparkSession)
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    # eager=False: the checkpoint truncates lineage immediately (the plan
    # becomes a LogicalRDD) but materializes as a side effect of the NEXT
    # round's candidate collect — one Spark job per round instead of two
    # (guide §1.2: remove per-iteration passes before tuning inside them)
    state = wf.select(
        "f", F.expr("filter(split(w, ''), x -> x != '')").alias("syms")
    ).localCheckpoint(eager=False)

    spark = df.sparkSession
    merges = []
    # loop-invariant Column trees built ONCE: unresolved Columns bind to
    # whichever round's state they are selected from, and each py4j call
    # saved is driver wall-time off every round
    pair_explode = F.explode(
        F.arrays_zip(
            F.slice("syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))).alias("a"),
            F.slice("syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))).alias("b"),
        )
    ).alias("__p")
    pair_cols = [F.col("__p.a").alias("a"), F.col("__p.b").alias("b"), F.col("f")]
    cnt_desc = [F.col("cnt").desc(), F.col("a"), F.col("b")]
    depth = 0  # rewrite projections since the last lineage truncation
    for rank in range(1, n_merges + 1):
        pairs = state.select("f", pair_explode).select(*pair_cols)
        top = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(*cnt_desc)
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        merges.append((rank, a, b, a + b, cnt))
        # one F.expr parse per round instead of ~40 py4j Column calls
        state = state.select(
            "f", F.expr(_bpe_rewrite_sql("syms", a, b)).alias("syms")
        )
        depth += 1
        # checkpoint every _BPE_CKPT_EVERY rounds, not every round: even
        # a LAZY localCheckpoint pays ~35 ms of synchronous driver-side
        # query planning per call (plan → RDD conversion analyzes and
        # physically plans the frame), the dominant slice of the round
        # floor. Un-truncated rounds chain ≤ M narrow projections, which
        # WholeStageCodegen fuses into the next collect's single pass —
        # extra per-row rewrite evaluations (≤ M−1), never extra scans
        # or shuffles; the corpus is still read exactly once (the wf
        # checkpoint above). Skipped when no rounds remain.
        if depth >= _BPE_CKPT_EVERY and rank < n_merges:
            state = state.localCheckpoint(eager=False)
            depth = 0

    return local_rows_df(spark,
        merges, "rank int, sym_a string, sym_b string, merged string, pair_count long"
    )


def bpe_merges_batched(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 64,
    batch: int = 16,
    candidate_factor: int = 4,
):
    """Learn ``n_merges`` BPE rules in ``ceil``-ish ``n_merges/batch``
    rounds instead of one round per rule — the standard batched-merge
    trick that takes the tokenizer loop from toy merge counts to
    real vocabularies (VERDICT r8 #4): each round counts pairs ONCE,
    admits the top-k pairs that are mutually SYMBOL-DISJOINT (greedy in
    (count desc, pair) order over ``candidate_factor·batch`` collected
    candidates; a pair is admitted only if none of {a, b, a+b} touches an
    already-admitted rule), and rewrites the vocabulary with ALL admitted
    rules in one :func:`_bpe_rewrite_multi_sql` codegen pass.

    Scale budget (SCALE.md "BPE"): rounds ≈ n_merges/batch_effective;
    per round = one vocabulary-sized pair-count aggregate (map-side
    combined), one bounded driver collect (candidate_factor·batch rows),
    one map-lookup rewrite projection + localCheckpoint. A 32k-merge
    vocabulary at batch=256 is ~125 rounds over VOCABULARY-sized (not
    corpus-sized) state — the corpus is scanned exactly once, for the
    word-frequency aggregate.

    Trade-off vs sequential BPE (documented, inherent to the trick):
    within a batch, later rules are chosen from counts that IGNORE the
    earlier rules' effects, so the learned table can differ from
    one-rule-at-a-time BPE past rank 1 — the certification therefore
    pins an INVARIANTS frame (d106: mass conservation bound, per-round
    head-count monotonicity, batch disjointness, the SQL-replayable
    first merge) rather than a full replay; d98/d98c certify the
    sequential semantics.

    Returns ``(merges, rounds)``:
      merges — (rank int, round int, sym_a, sym_b, merged,
                pair_count bigint) in learned order;
      rounds — (round int, n_rules int, head_count bigint,
                batch_count_sum bigint, mass_before bigint,
                mass_after bigint) — one row per round, driver-built
                (row count = round count, trivially bounded).
    """
    _require_unicode_literals(df.sparkSession)
    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    # eager=False + observe: each round runs ONE Spark action (the
    # candidate collect), which simultaneously materializes the lazily
    # checkpointed state AND reports its token mass Σ f·|syms| through a
    # CollectMetrics node — the separate per-round checkpoint job and
    # mass() aggregate job are gone (guide §1.2: remove per-iteration
    # passes first). Round N's mass_after is observed by round N+1's
    # collect; only the final round pays an explicit mass() job.
    state = wf.select(
        "f", F.expr("filter(split(w, ''), x -> x != '')").alias("syms")
    ).localCheckpoint(eager=False)

    spark = df.sparkSession

    def mass(s):  # Σ f·|syms| — 1-row aggregate over vocabulary-sized state
        return int(
            s.agg(F.sum(F.col("f") * F.size("syms")).cast("long")).collect()[0][0]
            or 0
        )

    from pyspark.sql import Observation

    merges = []
    rounds = []
    rank, rnd = 0, 0
    depth = 0  # rewrite projections since the last lineage truncation
    pending = None  # rounds row of the PREVIOUS round, awaiting mass_after
    # loop-invariant Column trees built once (see bpe_merges)
    mass_expr = F.sum(F.col("f") * F.size("syms")).cast("long").alias("m")
    pair_explode = F.explode(
        F.arrays_zip(
            F.slice(
                "syms", 1, F.greatest(F.size("syms") - 1, F.lit(0))
            ).alias("a"),
            F.slice(
                "syms", 2, F.greatest(F.size("syms") - 1, F.lit(0))
            ).alias("b"),
        )
    ).alias("__p")
    pair_cols = [F.col("__p.a").alias("a"), F.col("__p.b").alias("b"), F.col("f")]
    cnt_desc = [F.col("cnt").desc(), F.col("a"), F.col("b")]
    while rank < n_merges:
        rnd += 1
        want = n_merges - rank
        obs = Observation()
        pairs = (
            state.observe(obs, mass_expr)
            .select("f", pair_explode)
            .select(*pair_cols)
        )
        cand = (
            pairs.groupBy("a", "b")
            .agg(F.sum("f").alias("cnt"))
            .orderBy(*cnt_desc)
            .limit(candidate_factor * min(batch, want))
            .collect()
        )
        try:
            mass_before = int(obs.get["m"] or 0)
        except Exception:
            # guarded path (ADVICE r14): obs.get BLOCKS until the
            # CollectMetrics node reports, so a node truly absent from
            # the executed plan would hang, not raise — what this catches
            # is metric-surfacing failures (a NULL metric row that resists
            # int(), a re-used Observation). The explicit 1-row aggregate
            # recomputes the same Σ f·|syms| exactly.
            mass_before = mass(state)
        if pending is not None:
            rounds.append(pending + (mass_before,))
            pending = None
        if not cand:
            break
        used: set = set()
        admitted = []
        for r in cand:
            a, b, cnt = r["a"], r["b"], int(r["cnt"])
            if len(admitted) >= min(batch, want):
                break
            if {a, b, a + b} & used:
                continue
            used |= {a, b, a + b}
            admitted.append((a, b, cnt))
        if not admitted:
            break
        for a, b, cnt in admitted:
            rank += 1
            merges.append((rank, rnd, a, b, a + b, cnt))
        state = state.select(
            "f",
            F.expr(
                _bpe_rewrite_multi_sql(
                    "syms", [(a, b) for a, b, _ in admitted]
                )
            ).alias("syms"),
        )
        depth += 1
        # deferred lineage truncation (see bpe_merges / _BPE_CKPT_EVERY):
        # a lazy localCheckpoint still plans synchronously on the driver;
        # chained rewrite projections fuse into the next collect instead
        if depth >= _BPE_CKPT_EVERY and rank < n_merges:
            state = state.localCheckpoint(eager=False)
            depth = 0
        # round N's mass_after doubles as round N+1's mass_before —
        # observed by the next collect; resolved above or after the loop
        pending = (
            rnd,
            len(admitted),
            admitted[0][2],
            sum(c for _, _, c in admitted),
            mass_before,
        )

    if pending is not None:
        # the last admitted round never saw a following collect — one
        # explicit 1-row aggregate resolves its mass_after
        rounds.append(pending + (mass(state),))

    merges_df = local_rows_df(spark,
        merges,
        "rank int, round int, sym_a string, sym_b string, merged string, "
        "pair_count long",
    )
    rounds_df = local_rows_df(spark,
        rounds,
        "round int, n_rules int, head_count long, batch_count_sum long, "
        "mass_before long, mass_after long",
    )
    return merges_df, rounds_df


def bpe_encode_stats(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    n_merges: int = 3,
) -> DataFrame:
    """Apply learned BPE merge rules to the corpus and report per-group
    tokenizer statistics — the APPLICATION half of the tokenizer story
    (:func:`bpe_merges` trains; this encodes), i.e. the fertility /
    compression report every tokenizer choice is judged by.

    Distributed shape: rules are learned once (the d98 loop — driver
    holds n_merges (a, b) pairs); encoding is then ONE per-(group, word)
    frequency aggregation followed by n_merges NESTED
    :func:`_bpe_rewrite_sql` projections — pure codegen column
    expressions, so the whole merge chain applies in a single scan with
    no per-rule shuffle — and a group-keyed final aggregate over exact
    integers. At 100 TB: the word-freq agg is the only corpus-sized
    shuffle (map-side-combined to the per-group vocabulary), the rule
    chain is free, and the output is group-cardinality rows.

    Returns one row per group: (group, n_words distinct, n_word_occurrences,
    n_chars, n_tokens bigint, tokens_per_word double — BPE fertility —
    and compression double = chars per BPE token, both 6-dp)."""
    rules = [
        (r["sym_a"], r["sym_b"])
        for r in bpe_merges(df, text_col, n_merges=n_merges).collect()
    ]
    wf = (
        df.select(
            F.col(group_col).alias("g"), F.explode(tokens(text_col)).alias("w")
        )
        .filter(F.length("w") > 0)
        .groupBy("g", "w")
        .agg(F.count("*").alias("f"))
    )
    # the whole merge chain as ONE server-side parse: k nested rewrites
    # composed as SQL text, not k rounds of py4j Column construction
    syms_sql = "filter(split(w, ''), x -> x != '')"
    for a, b in rules:
        syms_sql = _bpe_rewrite_sql(syms_sql, a, b)
    syms = F.expr(syms_sql)
    enc = wf.select("g", "f", F.length("w").alias("nc"), F.size(syms).alias("nt"))
    return enc.groupBy(F.col("g").alias(group_col)).agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum("f").cast("long").alias("n_word_occurrences"),
        F.sum(F.col("f") * F.col("nc")).cast("long").alias("n_chars"),
        F.sum(F.col("f") * F.col("nt")).cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.col("f") * F.col("nt")).cast("double") / F.sum("f"), 6
        ).alias("tokens_per_word"),
        F.round(
            F.sum(F.col("f") * F.col("nc")).cast("double")
            / F.sum(F.col("f") * F.col("nt")),
            6,
        ).alias("compression"),
    )


def html_main_text(col):
    """Main-content extraction from an HTML string column — the
    boilerplate-strip every web-crawl pipeline (CCNet/RefinedWeb class)
    runs before any quality gate: drop <script>/<style> blocks with
    their contents, drop <nav>/<header>/<footer> boilerplate blocks,
    strip remaining tags, collapse whitespace.

    Pure codegen regexp chain (no UDF). Patterns are deliberately
    backreference-free and use inline (?is) dotall+case-insensitive so
    the SAME expressions run on Java regex (Spark) and RE2 (DuckDB
    oracles) — RE2 has no backreferences, so <nav>/<header>/<footer> get
    one pattern each instead of a <(nav|footer)>.*?</\\1> capture, and
    real crawled HTML mixes tag case (<SCRIPT>, <Style>), so block
    matching must be case-insensitive or their contents leak through the
    final tag strip into the "main text"."""
    c = col if not isinstance(col, str) else F.col(col)
    out = c
    for pat in (
        "(?is)<script[^>]*>.*?</script>",
        "(?is)<style[^>]*>.*?</style>",
        "(?is)<nav[^>]*>.*?</nav>",
        "(?is)<header[^>]*>.*?</header>",
        "(?is)<footer[^>]*>.*?</footer>",
        "<[^>]+>",
    ):
        out = F.regexp_replace(out, pat, " ")
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def canonical_url(col):
    """URL canonicalization — the dedup key every web-crawl pipeline
    computes before content dedup (the same page arrives as
    ``HTTP://Site.COM:80/a/?utm_source=x&b=2&a=1#frag`` and
    ``http://site.com/a?a=1&b=2``): lowercase the scheme and host (path
    and query stay case-sensitive per RFC 3986), strip the fragment,
    drop default ports (:80 for http, :443 for https — non-default
    ports survive), remove tracking parameters (utm_*, fbclid, gclid),
    sort the remaining query parameters, drop an empty query, and strip
    a trailing slash from non-root paths.

    Pure codegen column expression (regexp_extract / filter /
    array_sort / concat) — no UDF, so canonicalizing 100 TB of crawl
    URLs is a projection inside the scan stage."""
    u = col if not isinstance(col, str) else F.col(col)
    no_frag = F.regexp_replace(u, "#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(
        F.regexp_extract(no_frag, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    # strip default ports with a scheme-conditional regex replace
    host = F.when(
        scheme == "http", F.regexp_replace(hostport, ":80$", "")
    ).otherwise(
        F.when(
            scheme == "https", F.regexp_replace(hostport, ":443$", "")
        ).otherwise(hostport)
    )
    path = F.regexp_extract(no_frag, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(
        F.when(
            (F.length(path) > 1) & path.endswith("/"),
            F.substring(path, 1, F.length(path) - 1),
        ).otherwise(path)
    )
    query = F.regexp_extract(no_frag, "\\?([^#]*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    built = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    # anything without a scheme:// (relative URL, garbage) passes through
    # unchanged — canonicalization is only defined for absolute URLs
    return F.when(scheme == "", u).otherwise(built)


def robots_rules(df: DataFrame, txt_col: str = "robots_txt", domain_col: str = "domain") -> DataFrame:
    """Parse robots.txt content into (domain, rule_type, prefix) rows —
    line split, directive extraction (``Allow:`` / ``Disallow:``,
    case-insensitive, surrounding whitespace tolerated), empty
    ``Disallow:`` (allow-all) dropped. Scope: the ``User-agent: *``
    group form (single-group files); per-agent group selection sits a
    filter above this. Pure codegen split/explode/regexp — the rule
    table is domains × rules rows, broadcastable by construction."""
    lines = F.explode(F.split(F.col(txt_col), "\n")).alias("line")
    out = df.select(F.col(domain_col).alias("domain"), lines)
    rule = F.regexp_extract(F.col("line"), "(?i)^\\s*(allow|disallow)\\s*:\\s*(\\S+)", 1)
    prefix = F.regexp_extract(F.col("line"), "(?i)^\\s*(allow|disallow)\\s*:\\s*(\\S+)", 2)
    return (
        out.select("domain", F.lower(rule).alias("rule_type"), prefix.alias("prefix"))
        .filter((F.col("rule_type") != "") & (F.col("prefix") != ""))
    )


def robots_allowed(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """Evaluate URL paths against parsed robots rules with the REP's
    longest-match semantics: among the rules whose prefix matches the
    path, the LONGEST prefix decides; an Allow and a Disallow of equal
    length resolve to Allow; no matching rule ⇒ allowed. One broadcast
    equi-join on the domain (the rule table is tiny by nature) + one
    max-struct aggregate — the (length, is_allow) struct max IS the REP
    precedence order, no window needed.

    Cardinality note (ADVICE r9): the decision aggregate groups by ALL
    columns of ``urls``, so rows identical across every column (the
    same host/path crawled twice with no distinguishing id) collapse to
    ONE output row — include a unique id column when input cardinality
    must be preserved. Scope: literal-prefix patterns only; RFC 9309
    ``*`` wildcards / ``$`` anchors and per-agent group selection live
    in :func:`robots_rules_grouped` + :func:`robots_allowed_rep`."""
    r = rules.select(
        F.col("domain").alias(host_col),
        "prefix",
        (F.col("rule_type") == "allow").cast("int").alias("__is_allow"),
    )
    joined = urls.join(F.broadcast(r), host_col, "left")
    matched = F.when(
        F.col("prefix").isNotNull() & F.col(path_col).startswith(F.col("prefix")),
        F.struct(
            F.length("prefix").alias("l"), F.col("__is_allow").alias("a")
        ),
    )
    keys = [c for c in urls.columns]
    decided = joined.groupBy(*keys).agg(F.max(matched).alias("__best"))
    return decided.select(
        *keys,
        F.when(
            F.col("__best").isNull(), F.lit(1)
        ).otherwise(F.col("__best.a")).alias("allowed"),
    )


def robots_rules_grouped(
    df: DataFrame,
    txt_col: str = "robots_txt",
    domain_col: str = "domain",
    agent: str = "*",
) -> DataFrame:
    """RFC 9309 group parsing + user-agent group selection (the full
    form of :func:`robots_rules`, which handles only single-group
    ``User-agent: *`` files): a GROUP is one or more consecutive
    ``User-agent:`` lines followed by its rules; a ``User-agent:`` line
    after rules starts a new group.  The crawler's product token picks
    the group set — groups naming ``agent`` (case-insensitive token
    equality) win; absent any, the ``*`` groups apply; multiple
    matching groups MERGE (RFC 9309 §2.2.1).  Non-rule lines
    (``Crawl-delay``, ``Sitemap``, comments) and the empty
    ``Disallow:`` (allow-all) are dropped.

    Returns (domain, rule_type, pattern) for the SELECTED groups only.
    Shape: robots files are KiB-sized and the table is domains-sized —
    the posexplode + two per-domain windows run on broadcastable data;
    the output feeds :func:`robots_allowed_rep`'s broadcast join.

    Reference parity: reimplements the Robots Exclusion Protocol per
    RFC 9309 from the public spec (no reference-engine counterpart —
    crawl-tier extension, SURVEY §2 tier D)."""
    from pyspark.sql import Window

    lines = df.select(
        F.col(domain_col).alias("domain"),
        F.posexplode(F.split(F.col(txt_col), "\n")).alias("pos", "line"),
    )
    ua = F.regexp_extract("line", r"(?i)^\s*user-agent\s*:\s*(\S+)", 1)
    rule = F.lower(
        F.regexp_extract("line", r"(?i)^\s*(allow|disallow)\s*:\s*(\S+)", 1)
    )
    patt = F.regexp_extract("line", r"(?i)^\s*(allow|disallow)\s*:\s*(\S+)", 2)
    tagged = lines.select(
        "domain",
        "pos",
        ua.alias("ua"),
        rule.alias("rule_type"),
        patt.alias("pattern"),
    )
    w = Window.partitionBy("domain").orderBy("pos")
    tagged = (
        tagged.withColumn("__is_ua", (F.col("ua") != "").cast("int"))
        .withColumn(
            # a UA line opens a new group unless the previous line was
            # also a UA line (adjacent UA lines share one group)
            "__start",
            (
                (F.col("__is_ua") == 1)
                & (F.coalesce(F.lag("__is_ua").over(w), F.lit(0)) == 0)
            ).cast("int"),
        )
        .withColumn("grp", F.sum("__start").over(w))
    )
    scores = (
        tagged.filter(F.col("__is_ua") == 1)
        .groupBy("domain", "grp")
        .agg(
            F.max(
                F.when(F.lower("ua") == agent.lower(), 2)
                .when(F.col("ua") == "*", 1)
                .otherwise(0)
            ).alias("score")
        )
    )
    best = scores.groupBy("domain").agg(F.max("score").alias("__best_score"))
    chosen = (
        scores.join(best, "domain")
        .filter((F.col("score") == F.col("__best_score")) & (F.col("score") > 0))
        .select("domain", "grp")
    )
    return (
        tagged.filter(F.col("rule_type") != "")
        .join(chosen, ["domain", "grp"])
        .select("domain", "rule_type", "pattern")
    )


def robots_allowed_rep(
    urls: DataFrame,
    rules: DataFrame,
    host_col: str = "host",
    path_col: str = "path",
) -> DataFrame:
    """RFC 9309 path matching over grouped rules — the wildcard-aware
    form of :func:`robots_allowed` (VERDICT r9 #2): ``*`` in a pattern
    matches any octet sequence, a TRAILING ``$`` anchors the match at
    path end (``Disallow: /*.php$``); ``$`` anywhere else is literal.
    Precedence is RFC 9309 §2.2.2 most-octets: among matching rules the
    longest PATTERN (original rule text) decides, Allow beating
    Disallow at equal length; no match ⇒ allowed.

    Each pattern compiles ONCE (rule-table-side, pure codegen string
    ops) to an anchored Java regex — regex metacharacters escaped,
    ``*`` → ``.*``, trailing ``$`` kept as the anchor — and paths are
    gated with ``regexp_like(path, regex)`` under the same broadcast
    join + (length, is_allow) max-struct aggregate as the prefix form.

    Cardinality note: groups by ALL columns of ``urls`` — duplicate
    rows collapse; carry a unique id to preserve input cardinality."""
    ends = F.col("pattern").endswith("$")
    core = F.when(
        ends, F.substring(F.col("pattern"), 1, F.length("pattern") - 1)
    ).otherwise(F.col("pattern"))
    esc = F.regexp_replace(core, r"([.^$+?(){}\[\]|\\])", r"\\$1")
    body = F.regexp_replace(esc, r"\*", ".*")
    regex = F.concat(
        F.lit("^"), body, F.when(ends, F.lit("$")).otherwise(F.lit(""))
    )
    r = rules.select(
        F.col("domain").alias(host_col),
        (F.col("rule_type") == "allow").cast("int").alias("__is_allow"),
        regex.alias("__re"),
        F.length("pattern").alias("__plen"),
    )
    joined = urls.join(F.broadcast(r), host_col, "left")
    matched = F.when(
        F.col("__re").isNotNull() & F.regexp_like(F.col(path_col), F.col("__re")),
        F.struct(F.col("__plen").alias("l"), F.col("__is_allow").alias("a")),
    )
    keys = list(urls.columns)
    decided = joined.groupBy(*keys).agg(F.max(matched).alias("__best"))
    return decided.select(
        *keys,
        F.when(F.col("__best").isNull(), F.lit(1))
        .otherwise(F.col("__best.a"))
        .alias("allowed"),
    )


def sitemap_entries(df: DataFrame, xml_col: str = "sitemap_xml", domain_col: str = "domain") -> DataFrame:
    """Parse sitemap.xml content (sitemaps.org protocol) into one row
    per ``<url>`` entry: (domain, loc, lastmod, priority) — ``loc``
    required (entries without it are dropped per protocol), ``lastmod``
    / ``priority`` optional (NULL when absent).  Pure codegen: one
    regexp_extract_all over ``<url>…</url>`` blocks + per-element
    regexp_extract inside a ``transform`` HOF, then one explode — no
    UDFs, no shuffle beyond the explode.  Scope: the flat ``<urlset>``
    form; ``<sitemapindex>`` recursion is a driver-side fetch loop by
    nature (the child sitemaps must be FETCHED), so the index form's
    ``<sitemap><loc>`` rows parse through the same extractor with
    ``is_index`` marking them.  The crawl tier's discovery input —
    robots.txt names the sitemap, the sitemap names the URLs (d124)."""
    blocks = F.regexp_extract_all(
        F.col(xml_col), F.lit(r"(?s)<(?:url|sitemap)>(.*?)</(?:url|sitemap)>"), 1
    )
    entry = F.explode(blocks).alias("entry")
    loc = F.regexp_extract("entry", r"(?s)<loc>\s*(.*?)\s*</loc>", 1)
    lastmod = F.regexp_extract("entry", r"(?s)<lastmod>\s*(.*?)\s*</lastmod>", 1)
    prio = F.regexp_extract("entry", r"(?s)<priority>\s*(.*?)\s*</priority>", 1)
    is_index = F.col(xml_col).contains("<sitemapindex")
    return (
        df.select(F.col(domain_col).alias("domain"), is_index.alias("__idx"), entry)
        .select(
            "domain",
            loc.alias("loc"),
            F.when(lastmod == "", None).otherwise(lastmod).alias("lastmod"),
            # try_cast: a malformed <priority> in real sitemap data must
            # yield NULL, not an ANSI cast error failing the whole scan
            F.when(prio == "", None)
            .otherwise(prio.try_cast("double"))
            .alias("priority"),
            F.col("__idx").cast("int").alias("is_index"),
        )
        .filter(F.col("loc") != "")
    )


def surt_key(col):
    """The Sort-friendly URI Reordering Transform — Common Crawl's index
    ``urlkey`` (d125): lowercase, scheme dropped, leading ``www.``
    dropped, host labels REVERSED comma-joined, ``)/`` then the path
    (lowercased) and the ?-prefixed sorted query with tracking params
    stripped (the d111 canonical param policy) — so one domain's pages
    sort contiguously and subdomain trees nest:
    ``https://News.Example.com/A?b=1&a=2`` → ``com,example,news)/a?a=2&b=1``.
    Pure codegen (split/reverse/array_join/regexp) — the same zero-UDF
    posture as ``canonical_url``; non-absolute URLs pass through NULL."""
    u = F.lower(col)
    scheme = F.regexp_extract(u, r"^([a-z][a-z0-9+.-]*)://", 1)
    # authority first, then strip userinfo (user:pw@) BEFORE splitting
    # host:port — a colon inside the userinfo must not truncate the host
    authority = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)
    hostport = F.regexp_replace(authority, r"^[^@]*@", "")
    host = F.regexp_replace(hostport, r":\d*$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    port = F.regexp_extract(hostport, r":(\d+)$", 1)
    path0 = F.regexp_extract(u, r"^[a-z][a-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    qs = F.regexp_extract(u, r"\?([^#]*)", 1)
    params = F.filter(
        F.split(qs, "&"),
        lambda p: (F.length(p) > 0)
        & ~p.rlike("^(utm_[^=]*|fbclid|gclid)(=|$)"),
    )
    canon_q = F.array_join(F.array_sort(params), "&")
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    built = F.concat(
        rev_host,
        F.when(port == "", F.lit("")).otherwise(F.concat(F.lit(":"), port)),
        F.lit(")"),
        path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    return F.when((scheme == "") | (host == ""), F.lit(None)).otherwise(built)


def _viterbi_segment(w: str, scores: dict, max_len: int):
    """Best unigram-LM segmentation of one word: ``(score, n_pieces,
    pieces tuple)`` maximizing Σ log-score, or None when unsegmentable.
    Ties break toward FEWER pieces then lexicographic — deterministic.
    Shared VERBATIM by training's E-step (:func:`unigram_lm_vocab`) and
    encode (:func:`unigram_lm_encode`, d130c), so encode-vs-training
    parity is structural, not coincidental."""
    n = len(w)
    best = [None] * (n + 1)
    best[0] = (0.0, 0, ())
    for i in range(n):
        if best[i] is None:
            continue
        s0, k0, ps0 = best[i]
        for ln in range(1, min(max_len, n - i) + 1):
            piece = w[i : i + ln]
            sc = scores.get(piece)
            if sc is None:
                continue
            cand = (s0 + sc, k0 + 1, ps0 + (piece,))
            cur = best[i + ln]
            if (
                cur is None
                or cand[0] > cur[0] + 1e-12
                or (
                    abs(cand[0] - cur[0]) <= 1e-12
                    and (cand[1], cand[2]) < (cur[1], cur[2])
                )
            ):
                best[i + ln] = cand
    return best[n]


def unigram_lm_scores(pieces_rows) -> dict:
    """Piece log-scores from a trained inventory's (piece, count) rows —
    the SAME smoothing the trainer applies between rounds (coverage-kept
    zero-count chars floor at half a count), so encoding with a trained
    model reproduces exactly the segmentations one more E-step would
    pick."""
    import math

    inv = {p: int(c) for p, c in pieces_rows}
    total = max(sum(inv.values()), 1)
    return {
        p: math.log(c if c > 0 else 0.5) - math.log(total)
        for p, c in inv.items()
    }


def unigram_lm_encode(
    df: DataFrame,
    pieces: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Viterbi ENCODE with a trained unigram-LM inventory (r11, d130c) —
    the apply side d130's trainer was missing (BPE has d102): segment
    every doc's words with the trained piece scores and emit per-doc
    token accounting: (doc_id, n_words, n_oov_words, n_pieces,
    n_piece_chars, n_chars).  ``n_chars`` = Σ len(word) is exact and
    oracle-replayable; ``n_piece_chars`` must equal the per-doc char
    mass of segmented words (a segmentation that drops or duplicates a
    character breaks it — the d130b conservation law, now per doc);
    ``n_oov_words`` counts words that cannot segment (impossible on the
    training corpus — single-char coverage — nonzero only on NEW data
    with unseen characters, which is exactly what the column is for).

    Scale: the inventory is vocab-sized by construction → one bounded
    collect into the task closure; encoding is one mapInPandas pass
    over the docs with per-batch word-TYPE memoization (Zipf makes the
    memo hit rate the point), zero shuffles."""
    scores = unigram_lm_scores(
        (r["piece"], r["count"]) for r in pieces.select("piece", "count").collect()
    )
    max_len = max((len(p) for p in scores), default=1)

    def encode(batches, scores=scores, max_len=max_len):
        import pandas as pd  # noqa: PLC0415

        memo: dict = {}
        for pdf in batches:
            rows = []
            for i, txt in zip(pdf[id_col], pdf[text_col]):
                n_words = n_oov = n_pieces = n_pchars = n_chars = 0
                for w in (txt or "").split(" "):
                    if not w:
                        continue
                    n_words += 1
                    n_chars += len(w)
                    if w in memo:
                        seg = memo[w]
                    else:
                        seg = _viterbi_segment(w, scores, max_len)
                        memo[w] = seg
                    if seg is None:
                        n_oov += 1
                        continue
                    n_pieces += seg[1]
                    n_pchars += sum(len(p) for p in seg[2])
                rows.append((int(i), n_words, n_oov, n_pieces, n_pchars, n_chars))
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "n_words", "n_oov_words", "n_pieces",
                    "n_piece_chars", "n_chars",
                ],
            )

    return df.select(id_col, text_col).mapInPandas(
        encode,
        f"{id_col} long, n_words long, n_oov_words long, n_pieces long, "
        "n_piece_chars long, n_chars long",
    )


def unigram_lm_vocab(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 4,
    em_iters: int = 3,
    min_count: int = 2,
):
    """SentencePiece-style UNIGRAM-LM tokenizer training (r10, d130) —
    the third tokenizer family next to BPE (d98/d106) and WordPiece
    (d70): seed a candidate piece inventory from word substrings, then
    run hard-EM (Viterbi) rounds — E-step segments every WORD TYPE by
    the current piece scores, M-step re-estimates scores from the
    Viterbi piece counts. Deterministic throughout: counts are exact
    integers (hard-EM, frequency-weighted), ties in the Viterbi break
    toward fewer pieces then lexicographic, candidate selection orders
    by (count desc, piece).

    Scale shape (the BPE discipline): the corpus is scanned ONCE for
    the word-frequency aggregate; every EM round is one mapInPandas
    pass over the VOCABULARY-sized word table with the piece inventory
    (≤ vocab_size rows) in the task closure, one piece-count aggregate,
    and one bounded driver collect of the new inventory. State never
    exceeds the vocabulary.

    Returns ``(pieces, rounds)``:
      pieces — (piece string, count bigint, rank int) final inventory,
               count = frequency-weighted Viterbi usage;
      rounds — (round int, n_pieces int, total_pieces bigint,
                token_mass bigint, neg_loglik double) — one row per EM
                round, driver-built. Single characters present in any
                word are ALWAYS kept (coverage guarantee: every word
                segmentable)."""
    import math

    wf = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
    )
    from ._scratch import scratch_persist

    wf = scratch_persist(wf, "unigram_lm/word_freq")

    # candidate inventory: all substrings <= max_piece_len weighted by
    # word frequency; single chars are mandatory (coverage), the rest
    # take the top slots by (count desc, piece)
    subs = wf.select(
        "f",
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(1, length(w)), i ->
                    transform(sequence(i, least(length(w), i + {max_piece_len - 1})),
                              j -> substring(w, i, j - i + 1))))"""
            )
        ).alias("p"),
    ).groupBy("p").agg(F.sum("f").alias("cnt"))
    chars = {
        r["p"]: int(r["cnt"])
        for r in subs.filter(F.length("p") == 1).collect()
    }
    multi = (
        subs.filter((F.length("p") > 1) & (F.col("cnt") >= min_count))
        .orderBy(F.col("cnt").desc(), "p")
        .limit(max(vocab_size - len(chars), 0))
        .collect()
    )
    inventory = dict(chars)
    inventory.update({r["p"]: int(r["cnt"]) for r in multi})

    spark = df.sparkSession
    rounds = []
    for rnd in range(1, em_iters + 1):
        total = max(sum(inventory.values()), 1)
        # coverage-kept single chars can carry count 0 after a round —
        # floor them at half a count so they stay USABLE (a word with a
        # rare char must still segment) but never outcompete a real piece
        # (unigram_lm_scores — the same smoothing encode applies, d130c)
        scores = unigram_lm_scores(inventory.items())

        def segment(batches, scores=scores):
            import pandas as pd  # noqa: PLC0415

            max_len = max(len(p) for p in scores)
            out_w, out_p, out_f = [], [], []
            for pdf in batches:
                for w, f in zip(pdf["w"], pdf["f"]):
                    best = _viterbi_segment(w, scores, max_len)
                    if best is None:
                        continue  # unsegmentable (cannot happen: chars kept)
                    for piece in best[2]:
                        out_w.append(w)
                        out_p.append(piece)
                        out_f.append(int(f))
                yield pd.DataFrame({"w": out_w, "p": out_p, "f": out_f})
                out_w, out_p, out_f = [], [], []

        seg = wf.mapInPandas(segment, "w string, p string, f long")
        counts = (
            seg.groupBy("p")
            .agg(F.sum("f").alias("cnt"))
            .collect()
        )
        used = {r["p"]: int(r["cnt"]) for r in counts}
        # coverage guarantee: single chars survive even when unused
        new_inv = {p: c for p, c in used.items() if c > 0}
        for ch in chars:
            new_inv.setdefault(ch, 0)
        # bounded stats for the rounds frame (exact integers + one float)
        total_pieces = sum(used.values())
        mass = sum(c * len(p) for p, c in used.items())
        nll = -sum(
            c * (math.log(inventory.get(p, 1)) - math.log(total))
            for p, c in used.items()
            if inventory.get(p, 0) > 0
        )
        rounds.append(
            (rnd, len(new_inv), total_pieces, mass, round(nll, 6))
        )
        inventory = new_inv

    ranked = sorted(
        inventory.items(), key=lambda kv: (-kv[1], kv[0])
    )
    pieces = local_rows_df(spark,
        [(p, c, i + 1) for i, (p, c) in enumerate(ranked)],
        "piece string, count long, rank int",
    )
    rounds_df = local_rows_df(spark,
        rounds,
        "round int, n_pieces int, total_pieces long, token_mass long, "
        "neg_loglik double",
    )
    return pieces, rounds_df


def duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    length: int = 30,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring duplicate-SPAN mining (r11, d134) — the real
    Lee-et-al suffix-array dedup tier (``frequent_substrings``/d69 is the
    cheap top-k form): find every maximal character span >= ``length``
    bytes that occurs at least ``min_count`` times corpus-wide (self-
    repeats included — a span duplicated within one doc is still
    memorizable), and emit the per-doc CUT LIST a dedup pass would
    remove. Returns (doc_id, span_start 1-based, span_end inclusive,
    span_len) — one row per maximal duplicated span.

    A suffix array answers "which length-L windows repeat" in one sorted
    pass; the distributed re-expression is the equivalent two-pass
    shingle-hash shape: pass 1 slides an L-byte window over every doc
    and counts xxhash64(window) — the corpus-sized shuffle carries
    (doc_id, pos, 8-byte hash), never the text. Hashes clearing
    min_count join back against the candidate windows and are
    RE-VERIFIED on the actual substring (grouping the dup-count-sized
    survivor set by its text), so a 64-bit collision can never mint a
    false span — the output is exact, same as the suffix array's.
    Duplicated window positions then merge into maximal spans with one
    per-doc window pass: consecutive positions whose gap exceeds L
    start a new island (classic gaps-and-islands), min/max per island
    give the span. Every stage is hash- or doc-keyed; nothing is ever
    pairwise in doc count."""
    from ._scratch import scratch_persist
    from pyspark.sql import Window

    grams = df.filter(F.length(text_col) >= length).select(
        F.col(id_col).alias("doc_id"),
        F.explode(
            F.expr(
                f"transform(sequence(1, length({text_col}) - {length - 1}), "
                f"i -> struct(i AS pos, substring({text_col}, i, {length}) AS g))"
            )
        ).alias("w"),
    ).select("doc_id", F.col("w.pos").alias("pos"), F.col("w.g").alias("g"))
    # pass 1: count 8-byte hashes (never shuffles text); pass 2 re-groups
    # the surviving windows BY TEXT so a hash collision cannot create a
    # span the suffix array would not — both passes are one scan each
    hashed = grams.select(F.xxhash64("g").alias("h"))
    survivors = (
        hashed.groupBy("h")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("h")
    )
    candidates = grams.withColumn("h", F.xxhash64("g")).join(
        survivors, "h"
    )
    verified = (
        candidates.groupBy("g")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
        .select("g")
    )
    dup_pos = scratch_persist(
        candidates.join(verified, "g").select("doc_id", "pos"),
        "duplicate_spans/positions",
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    marked = dup_pos.select(
        "doc_id",
        "pos",
        F.when(F.col("pos") - F.lag("pos").over(w) > length, 1)
        .otherwise(0)
        .alias("brk"),
    )
    islands = marked.withColumn("island", F.sum("brk").over(w))
    return (
        islands.groupBy("doc_id", "island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + length - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def politeness_schedule(
    frontier: DataFrame,
    delays: DataFrame,
    host_col: str = "domain",
    url_col: str = "loc",
    delay_col: str = "crawl_delay_s",
    default_delay_s: float = 1.0,
) -> DataFrame:
    """Politeness-scheduled fetch slots (r11, d136) — the step that makes
    the discovery tier actionable: d131 mines ``Crawl-delay`` and d133
    builds the frontier, this assigns every frontier URL its fetch slot
    honoring the per-host delay. One window op: per host, URLs order
    deterministically (by URL — swap in priority/lastmod ordering as
    needed), ``fetch_rank`` = row_number, and
    ``scheduled_offset_s = (fetch_rank - 1) × crawl_delay`` (hosts
    without a mined delay fall back to ``default_delay_s``, the REP's
    conventional politeness floor). Returns (host, url, fetch_rank,
    crawl_delay_s, scheduled_offset_s).

    Scale: the delays side is hosts-sized (bounded, AQE broadcasts);
    the one shuffle partitions the frontier by host — exactly the
    co-location a fetch fleet needs anyway, so the schedule exits
    pre-partitioned for per-host workers. Per-host ordering is
    inherently sequential (that is what politeness MEANS), so a skewed
    giant host bounds its own crawl duration, never the cluster."""
    from pyspark.sql import Window

    d = delays.select(
        F.col(host_col).alias("__host"),
        F.col(delay_col).cast("double").alias("__delay"),
    )
    w = Window.partitionBy(host_col).orderBy(url_col)
    joined = frontier.join(
        d, frontier[host_col] == d["__host"], "left"
    ).drop("__host")
    rn = F.row_number().over(w)
    delay = F.coalesce(F.col("__delay"), F.lit(float(default_delay_s)))
    return joined.select(
        F.col(host_col),
        F.col(url_col),
        rn.cast("long").alias("fetch_rank"),
        delay.alias("crawl_delay_s"),
        F.round((rn - 1) * delay, 6).alias("scheduled_offset_s"),
    )


def robots_directives(
    df: DataFrame, txt_col: str = "robots_txt", domain_col: str = "domain"
) -> DataFrame:
    """RAW robots.txt directive view (r10, d131) — every directive line
    as (domain, directive, value), directive lowercased, value
    whitespace-trimmed: user-agent / allow / disallow / crawl-delay /
    sitemap and any extension directive (the REP says unknown lines are
    ignored by MATCHERS but crawlers still mine them — Sitemap: is how
    sitemap discovery actually happens, and Crawl-delay feeds the
    politeness scheduler). Group semantics live in
    :func:`robots_rules_grouped`; this is the flat extraction layer.
    Pure split/explode/regexp codegen; comments (#…) and blank lines
    drop."""
    lines = F.explode(F.split(F.col(txt_col), "\n")).alias("line")
    out = df.select(F.col(domain_col).alias("domain"), lines)
    clean = F.regexp_replace(F.col("line"), "#.*$", "")
    directive = F.lower(F.regexp_extract(clean, r"^\s*([A-Za-z][A-Za-z-]*)\s*:", 1))
    value = F.trim(F.regexp_extract(clean, r"^\s*[A-Za-z][A-Za-z-]*\s*:\s*(.*?)\s*$", 1))
    return out.select(
        "domain", directive.alias("directive"), value.alias("value")
    ).filter(F.col("directive") != "")


def c4_line_filter(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2, the public
    c4 recipe) — the line/page filter ladder that precedes dedup in
    web-corpus pipelines:

    * keep only lines ending in a terminal punctuation mark (``.!?"``),
    * keep only lines with >= ``min_words`` words,
    * drop any line containing the word ``javascript``,
    * drop the whole page if it contains ``lorem ipsum`` or a curly
      brace ``{`` (code/boilerplate tells),
    * drop the page if fewer than ``min_kept_lines`` lines survive.

    Returns (id, n_lines, n_kept_lines, doc_kept, clean_text) for EVERY
    input document (audit view — the kept corpus is
    ``filter(doc_kept).select(id, clean_text)``).

    Scale: one ``filter`` HOF per row over the line array — pure
    codegen, zero shuffles, embarrassingly parallel; the whole ladder
    is a map over the corpus exactly like the reference pipelines run
    it (C4 used beam; here Catalyst fuses every rule into one stage)."""
    lines = F.split(F.col(text_col), sep)
    keep = lambda x: (  # noqa: E731
        x.rlike('[.!?"]$')
        & (F.size(F.split(x, " ")) >= min_words)
        & ~F.lower(x).contains("javascript")
    )
    kept = F.filter(lines, keep)
    low = F.lower(F.col(text_col))
    doc_kept = (
        (F.size(kept) >= min_kept_lines)
        & ~low.contains("lorem ipsum")
        & ~low.contains("{")
    )
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        F.size(kept).alias("n_kept_lines"),
        doc_kept.alias("doc_kept"),
        F.when(doc_kept, F.array_join(kept, sep)).otherwise(F.lit("")).alias(
            "clean_text"
        ),
    )


def dedup_lines_corpus(
    lines: DataFrame,
    id_col: str = "doc_id",
    line_no_col: str = "line_no",
    line_col: str = "line",
    sep: str = "\n",
) -> DataFrame:
    """CORPUS-WIDE exact line dedup (the CCNet / RefinedWeb pass):
    every distinct line survives exactly once across the WHOLE corpus —
    at its globally first occurrence (lowest (doc, line_no)) — and
    documents are reassembled from their surviving lines.  This is the
    boilerplate killer a within-document dedup cannot reach: nav bars
    and cookie banners repeat across PAGES.

    Input is the exploded line table (id, line_no, line); returns
    (id, n_lines, n_kept_lines, dedup_text) for every document (a doc
    whose every line first appeared elsewhere keeps 0 lines and an
    empty text — counted, not dropped, so retention is auditable).

    Scale: keep-first is a ``groupBy(line).agg(min(struct(id, line_no)))``
    — PARTIAL-aggregable, so the super-common-line skew that breaks a
    window/row_number plan (the empty line appears a billion times; all
    replicas meet in ONE partition) is absorbed map-side: each task
    contributes one candidate per distinct line it holds.  The winner
    set joins back as a semi-filter keyed on (line, id, line_no), then
    one doc-keyed shuffle reassembles.  Line TEXT never rides a shuffle
    twice: the reassembly carries only surviving rows."""
    from ._scratch import scratch_persist

    # the exploded line table feeds three consumers (winner agg, the
    # semi-join's probe side, per-doc totals) — persist so the upstream
    # split/explode (at 100 TB, the corpus scan) runs once
    lines = scratch_persist(lines, "dedup_lines_corpus/lines")
    lid, lno, lln = F.col(id_col), F.col(line_no_col), F.col(line_col)
    winners = (
        lines.groupBy(line_col)
        .agg(F.min(F.struct(lid, lno)).alias("__w"))
        .select(
            F.col(line_col).alias("__wline"),
            F.col(f"__w.{id_col}").alias("__wid"),
            F.col(f"__w.{line_no_col}").alias("__wno"),
        )
    )
    kept = lines.join(
        winners,
        (lln == winners["__wline"])
        & (lid == winners["__wid"])
        & (lno == winners["__wno"]),
        "left_semi",
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines"))
    rebuilt = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept_lines"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(lno, lln))),
                lambda s: s[line_col],
            ),
            sep,
        ).alias("dedup_text"),
    )
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_lines",
            F.coalesce(F.col("n_kept_lines"), F.lit(0)).cast("long").alias(
                "n_kept_lines"
            ),
            F.coalesce(F.col("dedup_text"), F.lit("")).alias("dedup_text"),
        )
    )


def temperature_mix_weights(
    df: DataFrame, facet_col: str = "lang", alpha: float = 0.3
) -> DataFrame:
    """Temperature-based multilingual sampling (the exponential-smoothing
    rebalance from the public mBERT/XLM-R recipes): sample facet ``l``
    with probability q_l ∝ p_l^alpha instead of its corpus share p_l —
    alpha < 1 upsamples low-resource languages without flattening the
    mix entirely (alpha=1 ⇒ natural distribution, alpha=0 ⇒ uniform;
    XLM-R ships alpha=0.3).  Complements :func:`domain_mix_weights`
    (explicit target) with the standard parametric family.

    q_l = cnt_l^alpha / Σ cnt^alpha (the totals cancel), weight_l =
    q_l / p_l is the per-row sampling multiplier downstream
    ``sample_by``/``stratified_sample`` consume.

    Scale: one partial+final count per facet, then a 1-row broadcast of
    the two scalar totals — facet cardinality is languages-sized, so
    the whole computation is constant beyond the first count."""
    a = float(alpha)
    counts = df.groupBy(facet_col).agg(F.count("*").alias("cnt"))
    tot = counts.agg(
        F.sum("cnt").alias("__total"),
        F.sum(F.pow(F.col("cnt").cast("double"), F.lit(a))).alias("__pow_sum"),
    )
    p = F.col("cnt") / F.col("__total")
    qn = F.pow(F.col("cnt").cast("double"), F.lit(a)) / F.col("__pow_sum")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            facet_col,
            "cnt",
            F.round(p, 6).alias("natural_frac"),
            F.round(qn, 6).alias("sampled_frac"),
            F.round(qn / p, 6).alias("weight"),
        )
    )


# Classic UTF-8-read-as-Latin-1/cp1252 digraph tells (the public ftfy
# catalogue), shared verbatim with the d146 oracle so both sides count
# the SAME alternation:
MOJIBAKE_PATTERN = (
    "\u00c3\u00a9|\u00c3\u00a8|\u00c3\u00a1|\u00c3\u00b3|"
    "\u00c3\u00b1|\u00c3\u00bc|\u00e2\u20ac\u2122|"
    "\u00e2\u20ac\u0153|\u00c2\u00b7|\u00c2\u00a0"
)


def encoding_quality(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Encoding-damage audit (the ftfy-style tell counter) — the
    data-cleaning pass that catches text decoded through the wrong
    charset before it poisons tokenizers and dedup keys.  Three public,
    well-known signal families:

    * ``n_replacement`` — U+FFFD replacement characters (a decoder
      already gave up),
    * ``n_mojibake`` — classic UTF-8-read-as-Latin-1/cp1252 digraphs
      (\u00c3\u00a9 "\u00c3©"-family, \u00e2\u20ac\u2122-family smart
      quotes, \u00c2-prefixed punctuation),
    * ``n_c1_controls`` — C1 control characters U+0080–U+009F (never
      legitimate in clean text; the footprint of double-decoding).

    ``is_suspect`` flags any document with a nonzero signal.  Counts are
    non-overlapping regex matches — pure codegen (regexp_count), zero
    shuffles, rides the scan of whatever pipeline stage precedes it."""
    n_repl = F.regexp_count(F.col(text_col), F.lit("\ufffd"))
    n_moji = F.regexp_count(F.col(text_col), F.lit(MOJIBAKE_PATTERN))
    n_c1 = F.regexp_count(F.col(text_col), F.lit("[\u0080-\u009f]"))
    return df.select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        n_repl.cast("int").alias("n_replacement"),
        n_moji.cast("int").alias("n_mojibake"),
        n_c1.cast("int").alias("n_c1_controls"),
        ((n_repl + n_moji + n_c1) > 0).alias("is_suspect"),
    )


def url_blocklist_filter(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    pattern_col: str = "pattern",
    category_col: str = "category",
) -> DataFrame:
    """Domain-blocklist URL filtering — the crawl-exclusion pass every
    public web-corpus pipeline runs (category blocklists of adult /
    malware / ad hosts, matched by HOST SUFFIX so ``ads.example.com``
    blocks ``w3.ads.example.com``): extract the host (userinfo and port
    stripped), explode its dot-suffix chain (bounded by the label
    count, ~6), equi-join the blocklist on suffix equality, and keep
    the MOST SPECIFIC (longest) matching pattern per URL.

    Returns every input URL with (host, matched_pattern, category,
    blocked) — an audit view; the kept frontier is
    ``filter(~blocked)``.

    Scale: the blocklist is rules-sized (AQE broadcasts it), the
    suffix explode multiplies the frontier by its label count only,
    and the winner per URL is a partial-aggregable max(struct) — one
    frontier-keyed exchange, no window over the (skewed) suffix key."""
    u = F.col(url_col)
    host = F.lower(
        F.regexp_extract(
            u, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1
        )
    )
    from ._scratch import scratch_persist

    # the slim (url, host) projection feeds the suffix explode AND the
    # final audit join — persist so the (possibly expensive) frontier
    # upstream scans once
    base = scratch_persist(
        df.select(u.alias("url"), host.alias("host")), "url_blocklist/base"
    )
    # the suffix chain derives from base's OWN host column — deriving it
    # from url_col would break for any url_col other than "url" (the
    # projection renamed it away)
    labels = F.split(F.col("host"), "\\.")
    n = F.size(labels)
    suffixes = F.transform(
        F.sequence(F.lit(1), F.greatest(n, F.lit(1))),
        lambda i: F.array_join(F.slice(labels, i, n), "."),
    )
    exploded = base.select(
        "url", F.explode(suffixes).alias("__suffix")
    )
    bl = blocklist.select(
        F.col(pattern_col).alias("__pat"), F.col(category_col).alias("__cat")
    )
    hits = (
        exploded.join(bl, exploded["__suffix"] == bl["__pat"])
        .groupBy("url")
        .agg(
            F.max(
                F.struct(
                    F.length("__pat").alias("l"),
                    F.col("__pat").alias("p"),
                    F.col("__cat").alias("c"),
                )
            ).alias("__w")
        )
        .select(
            F.col("url").alias("__hurl"),
            F.col("__w.p").alias("matched_pattern"),
            F.col("__w.c").alias("category"),
        )
    )
    return (
        base.join(hits, base["url"] == hits["__hurl"], "left")
        .select(
            "url",
            "host",
            "matched_pattern",
            "category",
            F.col("matched_pattern").isNotNull().alias("blocked"),
        )
    )


def revisit_schedule(
    fetches: DataFrame,
    url_col: str = "url",
    ts_col: str = "fetch_ts",
    digest_col: str = "content_sha",
    min_interval_s: int = 3600,
    max_interval_s: int = 2_592_000,
) -> DataFrame:
    """Adaptive crawl REVISIT scheduling (the freshness tier — the
    Cho/Garcia-Molina line of work, in its standard production form):
    from each URL's fetch history, estimate how often the content
    actually changes and schedule the next fetch proportionally —
    fast-moving pages re-fetch near ``min_interval_s``, static pages
    back off toward ``max_interval_s``.

    Per URL over the (ts-ordered) history:

    * ``n_fetches``, ``n_changes`` — a change is a fetch whose digest
      differs from the PREVIOUS fetch's digest (lag compare);
    * ``span_s`` — last_ts − first_ts;
    * estimated change interval = span / max(n_changes, 1); a history
      with no observed change uses the full span (we only know it's
      AT LEAST that stable);
    * ``next_fetch_ts`` = last_ts + clamp(estimate, min, max).

    Single-fetch histories (span 0) schedule at ``min_interval_s`` —
    a new URL must be re-observed once before it can earn backoff.

    Scale: one URL-keyed re-key (window lag + final aggregate share
    it); state is one row per URL.  The schedule exits partitioned by
    URL hash — join it to the d136 politeness schedule for per-host
    slot assignment."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(ts_col)
    # NULL-hygiene shared with the graph ops: a fetch row without a
    # timestamp cannot order and would poison span/lag — drop it on the
    # way in rather than letting min/max and lag disagree about it
    fetches = fetches.filter(
        F.col(ts_col).isNotNull() & F.col(url_col).isNotNull()
    )
    changed = (
        F.lag(F.col(digest_col)).over(w).isNotNull()
        & (F.col(digest_col) != F.lag(F.col(digest_col)).over(w))
    ).cast("int")
    hist = fetches.select(
        F.col(url_col), F.col(ts_col).cast("long").alias("__ts"),
        changed.alias("__chg"),
    )
    agg = hist.groupBy(url_col).agg(
        F.count("*").cast("long").alias("n_fetches"),
        F.sum("__chg").cast("long").alias("n_changes"),
        F.min("__ts").alias("__first"),
        F.max("__ts").alias("__last"),
    )
    span = F.col("__last") - F.col("__first")
    est = F.when(span == 0, F.lit(min_interval_s)).otherwise(
        F.floor(span / F.greatest(F.col("n_changes"), F.lit(1)))
    )
    interval = F.least(
        F.greatest(est, F.lit(min_interval_s)), F.lit(max_interval_s)
    ).cast("long")
    return agg.select(
        url_col,
        "n_fetches",
        "n_changes",
        span.alias("span_s"),
        interval.alias("revisit_interval_s"),
        (F.col("__last") + interval).alias("next_fetch_ts"),
    )


def anchor_text_terms(
    pages: DataFrame,
    uri_col: str = "uri",
    html_col: str = "html",
) -> DataFrame:
    """Anchor-text aggregation — the classic web-graph signal (anchor
    words describe the TARGET page better than its own text; search
    engines and LLM-corpus builders both mine it): extract every
    ``<a href>`` link with its anchor text, resolve relative hrefs
    against the linking page's scheme+host, and aggregate per
    (target, term) with the count of linking PAGES carrying that term
    (per-page dedup first, so a nav bar repeated in one page counts
    once — the standard anti-spam normalization).

    Pure codegen extraction: one ``regexp_extract_all`` over anchor
    tags + per-element extracts inside ``transform`` HOFs, one
    explode, one distinct, one count — shuffles carry (target, term)
    pairs, never HTML.  Scale: links-per-page-bounded explode; the
    (target, term) aggregate is partial-aggregable, so hub targets
    (everyone links the homepage) combine map-side."""
    u = F.col(uri_col)
    host = F.regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    tags = F.regexp_extract_all(
        F.col(html_col),
        F.lit(r'(?is)<a\s[^>]*href="([^"]*)"[^>]*>(.*?)</a>'),
        0,
    )
    href = F.regexp_extract("__tag", r'(?is)href="([^"]*)"', 1)
    anchor = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_extract("__tag", r"(?is)>(.*?)</a>$", 1),
                r"<[^>]+>|\s+",
                " ",
            )
        )
    )
    target = F.when(
        href.startswith("/"), F.concat(F.col("__host"), href)
    ).otherwise(href)
    links = (
        pages.select(u.alias("__uri"), host.alias("__host"), F.explode(tags).alias("__tag"))
        .select(
            F.col("__uri"),
            target.alias("target"),
            F.explode(F.split(anchor, " ")).alias("term"),
        )
        .filter((F.col("term") != "") & (F.col("target") != ""))
        .distinct()  # one vote per linking page per (target, term)
    )
    return links.groupBy("target", "term").agg(
        F.count("*").cast("long").alias("n_linking_pages")
    )


def code_switch_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_line: int = 8,
) -> DataFrame:
    """Code-switch detection — the multilingual-corpus audit doc-level
    language ID (d09) cannot express: a document whose LINES disagree
    about their language (embedded quotes, boilerplate in another
    locale, scraped bilingual pages) needs per-segment identification
    before per-language routing/filtering.  Chunks the word stream into
    ``words_per_line``-word lines, runs :func:`language_id` per line
    (same lexicons, same rounded scores, same (score, lang) argmax
    tie-break), takes the per-document MAJORITY line language
    (count-desc, lang-desc tie-break), and reports how many lines
    dissent.

    Returns (id, n_lines, majority_lang, n_switch_lines,
    switch_ratio).  Scale: the per-line scoring is pure codegen HOFs
    (zero shuffle); two doc-keyed aggregates + one broadcast-sized
    majority join re-key on the document — line text never shuffles."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    starts = F.sequence(F.lit(1), F.greatest(n, F.lit(1)), F.lit(words_per_line))
    lined = df.select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                starts,
                lambda s: F.array_join(F.slice(toks, s, words_per_line), " "),
            )
        ).alias("line_no", "line"),
    )
    from ._scratch import scratch_persist

    # the slim per-line prediction feeds the per-language counts AND the
    # dissent join — persist so the line scoring (a full corpus scan)
    # runs once
    scored = scratch_persist(
        language_id(lined, "line").select(
            id_col, "line_no", F.col("predicted_lang").alias("__pl")
        ),
        "code_switch/scored",
    )
    per_lang = scored.groupBy(id_col, "__pl").agg(F.count("*").alias("__c"))
    majority = (
        per_lang.groupBy(id_col)
        .agg(
            F.max(
                F.struct(F.col("__c"), F.col("__pl").alias("l"))
            ).alias("__m")
        )
        .select(F.col(id_col).alias("__mid"), F.col("__m.l").alias("majority_lang"))
    )
    joined = scored.join(majority, scored[id_col] == majority["__mid"])
    return (
        joined.groupBy(id_col, "majority_lang")
        .agg(
            F.count("*").cast("long").alias("n_lines"),
            F.sum(
                (F.col("__pl") != F.col("majority_lang")).cast("long")
            ).alias("n_switch_lines"),
        )
        .select(
            id_col,
            "n_lines",
            "majority_lang",
            "n_switch_lines",
            F.round(
                F.col("n_switch_lines") / F.col("n_lines"), 6
            ).alias("switch_ratio"),
        )
    )


def tokenizer_fertility_card(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    vocab_size: int = 200,
) -> DataFrame:
    """TOKENIZER FERTILITY data card (d168 — VERDICT r12 #6): the
    per-language audit every multilingual pipeline publishes before
    committing to a vocabulary budget — under a FIXED corpus-derived
    vocab (the :func:`wordpiece_token_counts` contract: top
    ``vocab_size`` words + implicit single characters, so an in-vocab
    word costs 1 token and an OOV word falls back to |word| character
    tokens), report per language:

    * ``fertility``          = tokens per word (the headline number),
    * ``oov_rate``           = OOV words / words,
    * ``char_fallback_rate`` = character-fallback tokens / all tokens
      (the byte/char-fallback budget share — high values mean the
      vocab starves that language),

    plus the raw counts (n_docs, n_words, n_oov_words, n_tokens).
    ``lang_col`` is caller-supplied: the table's own label, or a
    prediction from :func:`language_id` / the per-line majority from
    :func:`code_switch_stats` (the d168 fixture).

    Scale: one explode+count for the vocab, a TakeOrdered top-N
    (k-row driver merge), one broadcast membership join, one
    groupBy(lang) — language cardinality is tiny, so the final
    aggregate is a map-side-combined shuffle of a few rows."""
    terms = df.select(
        F.col(id_col).alias("__d"),
        F.col(lang_col).alias("lang"),
        F.explode(
            F.filter(F.split(F.col(text_col), " "), lambda x: x != "")
        ).alias("token"),
    )
    vocab = (
        terms.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(vocab_size)
        .select("token", F.lit(1).alias("__iv"))
    )
    scored = terms.join(F.broadcast(vocab), "token", "left").select(
        "__d",
        "lang",
        F.when(F.col("__iv").isNotNull(), F.lit(1))
        .otherwise(F.length("token"))
        .alias("wp"),
        F.col("__iv").isNull().cast("int").alias("oov"),
    )
    return scored.groupBy("lang").agg(
        F.count_distinct("__d").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_words"),
        F.sum("oov").cast("long").alias("n_oov_words"),
        F.sum("wp").cast("long").alias("n_tokens"),
        F.round(F.sum("wp").cast("double") / F.count("*"), 6).alias(
            "fertility"
        ),
        F.round(F.sum("oov").cast("double") / F.count("*"), 6).alias(
            "oov_rate"
        ),
        F.round(
            F.sum(
                F.when(F.col("oov") == 1, F.col("wp")).otherwise(F.lit(0))
            ).cast("double")
            / F.sum("wp"),
            6,
        ).alias("char_fallback_rate"),
    )
