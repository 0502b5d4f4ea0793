"""End-to-end training-data preparation — the north-star ops composed.

One DataFrame program: quality filter → exact dedup → MinHash near-dedup →
token counting → sequence packing. Every stage is a DataFrame→DataFrame
operator from this package, so the whole pipeline is ONE lazy plan per
materialization boundary: Catalyst fuses the quality columns into the scan,
the dedup stages shuffle hashes (never text), and packing adds exactly one
salt shuffle. Nothing touches the driver.

This is the shape a 100 TB corpus actually runs: the same composition, with
the same movement guarantees, on a cluster — stage costs scale with the
corpus, candidate generation with the near-dup density, packing with the
survivor count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import dedup, packing, text


def prepare_corpus(
    documents: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.5,
    jaccard_threshold: float = 0.9,
    token_budget: int = 512,
    benchmark: DataFrame | None = None,
    decontaminate_ngram: int = 5,
    n_shards: int | None = None,
    normalize: bool = False,
) -> DataFrame:
    """documents → packed training sequences.

    Returns (id_col, n_tokens, pack_group, bin_idx, quality_score): one row
    per surviving document, assigned to a token-budget bin.
    ``quality_score`` is carried through ``packing.pack_greedy``'s
    Arrow/pandas step (a double, so it comes back unchanged). Pass
    ``benchmark`` to drop documents sharing any ``decontaminate_ngram``-gram
    with the eval set before dedup (broadcast gram-hash semi-join — the
    hygiene gate belongs before the expensive stages). Pass ``n_shards`` to
    append deterministic (shard, shard_pos) training-layout columns to the
    output. ``normalize=True`` keys the exact-dedup stage on the CANONICAL
    form (lowercase, symbols stripped, whitespace collapsed —
    ``text.normalize_text``) so case/punctuation variants of the same
    content collapse to one copy; the kept document is the original text,
    the normal form is only the dedup key.
    """
    scored = text.quality_score(documents, text_col).filter(
        F.col("quality_score") >= min_quality
    )
    if benchmark is not None:
        scored = text.decontaminate(
            scored, benchmark, id_col, text_col, n=decontaminate_ngram
        ).filter(~F.col("is_contaminated")).drop("is_contaminated")
    # exact first: removes the mass of literal copies for ~one hash shuffle,
    # so the (more expensive) MinHash stage sees only distinct text
    if normalize:
        keyed = scored.join(
            text.normalize_text(scored, id_col, text_col).select(
                id_col, "norm_hash"
            ),
            id_col,
        )
        exact = dedup.exact_dedup(keyed, "norm_hash", id_col).drop("norm_hash")
    else:
        exact = dedup.exact_dedup(scored, text_col, id_col)
    # exact dedup already removed literal-copy clusters, so any remaining
    # super-sized band bucket is boilerplate shingles — cap it (see
    # minhash_lsh_pairs docstring) instead of paying bucket² candidates
    pairs = dedup.minhash_lsh_pairs(
        exact,
        id_col,
        text_col,
        jaccard_threshold=jaccard_threshold,
        max_bucket_size=10_000,
    )
    # survivors: drop the higher id of every near-dup pair (min-id canonical)
    losers = pairs.select(F.col("id_b").alias("__loser")).distinct()
    survivors = exact.join(
        losers, F.col(id_col) == F.col("__loser"), "left_anti"
    )
    toks = survivors.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_tokens"),
        "quality_score",
    )
    # quality_score rides through the packer: a join back to ``toks`` would
    # plan the whole dedup lineage a second time
    out = packing.pack_greedy(toks, id_col, "n_tokens", token_budget).select(
        id_col, "n_tokens", "pack_group", "bin_idx", "quality_score"
    )
    if n_shards is not None:
        out = packing.shard_assign(out, id_col, n_shards)
    return out


def source_quota_sample(
    df: DataFrame,
    n_target: int,
    facet_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quota subsample: allocate ``n_target`` slots across
    facets proportionally to their size, floor 1 per facet (coverage — a
    rare domain never disappears entirely), and take each facet's
    lowest-``id_col`` rows up to its quota.

    The allocation is exact integer arithmetic (quota = max(1,
    (n_target·n_facet) div n_total)) — no floating-point pow/round whose
    ulp differences could flip a quota between engines — so the selected
    id SET is reproducible anywhere, which is what makes a sampling step
    auditable (re-run the allocator and diff the ids; contrast the seeded
    but engine-specific ``sample()``).

    Plan shape: one facet-count aggregate (facet-cardinality-sized),
    broadcast back, one per-facet window rank — a single re-key by facet
    at any corpus size. For temperature-flattened mixes (quota ∝ n^α,
    α<1), compute weights with ``text.domain_mix_weights`` and resample
    by weight instead; this op is the exact-proportional tier.
    """
    from pyspark.sql import Window

    counts = df.groupBy(F.col(facet_col)).agg(F.count("*").alias("__nf"))
    total = df.count()
    # decimal product + integral `div`: n_target·n_f overflows BIGINT at
    # trillion-row facets, and float division would re-introduce the ulp
    # sensitivity the docstring promises away
    quotas = counts.select(
        F.col(facet_col),
        F.greatest(
            F.lit(1).cast("long"),
            F.expr(
                f"cast(cast({int(n_target)} as decimal(38,0)) * __nf"
                f" div {int(total)} as long)"
            ),
        ).alias("__quota"),
    )
    w = Window.partitionBy(facet_col).orderBy(id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .join(F.broadcast(quotas), facet_col)
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def hash_split(
    df: DataFrame,
    key_col: str = "doc_id",
    fractions: tuple[float, float] = (0.8, 0.1),
    salt: str = "0",
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent key
    hash — the split step every training corpus needs, reproducible across
    engines, re-runs, and cluster sizes (unlike `randomSplit`, whose
    assignment depends on partition layout).

    A row's bucket is the first 4 hex chars of `md5(key ":" salt)` — a
    uniform draw from 65536 buckets — compared against precomputed hex
    boundaries (`fractions` = (train, val) shares; test gets the rest).
    Changing `salt` re-deals the whole split; a given key's assignment is
    otherwise stable even as the corpus grows, so train/test membership
    never flips between pipeline runs (the leakage guarantee that matters
    when checkpoints outlive corpus versions).

    Pure per-row codegen (md5 + string compare) — zero shuffle at any
    scale."""
    f_train, f_val = fractions
    if not (0 < f_train and 0 <= f_val and f_train + f_val < 1):
        raise ValueError("fractions must be positive with train+val < 1")
    b_train = format(int(f_train * 65536), "04x")
    b_val = format(int((f_train + f_val) * 65536), "04x")
    bucket = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":" + salt))), 1, 4
    )
    return df.withColumn(
        "split",
        F.when(bucket < b_train, "train")
        .when(bucket < b_val, "val")
        .otherwise("test"),
    )


def _aes_sort_key(id_col: str, weight_col: str):
    """The A-ES exponential-sort key both weighted samplers rank by:
    ln(u)/w with u derived from md5(id), rounded to 12 decimals (ties →
    id) so independent engines agree bit-for-bit."""
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        + F.lit(0.5)
    ) / F.lit(float(1 << 32))
    return F.round(F.log(u) / F.col(weight_col), 12)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (top-k of the
    Efraimidis–Spirakis exponential sort): rank rows by ln(u)/w descending
    where u ∈ (0,1) derives from md5(id) — engine- and layout-independent,
    so the sampled ID SET is reproducible anywhere (same contract as
    ``hash_split``/``source_quota_sample``: auditable sampling, no RNG
    state, no partitioning dependence).

    Inclusion probability is proportional-to-weight in the
    without-replacement sense of A-ES. The sort key is rounded to 12
    decimals (ties broken by id) so independent engines computing the same
    formula agree bit-for-bit despite last-ulp ``ln`` differences.

    Scale: the key is three codegen'd expressions; top-k plans as
    TakeOrderedAndProject — a k-row merge on the driver, never a global
    sort of the corpus.
    """
    key = _aes_sort_key(id_col, weight_col)
    return (
        df.withColumn("__wkey", key)
        .orderBy(F.col("__wkey").desc(), F.col(id_col))
        .limit(k)
        .drop("__wkey")
    )


def waterfill_quota(
    df: DataFrame,
    source_col: str,
    budget_frac: float,
) -> DataFrame:
    """Water-filling allocation of a global document budget across sources:
    find the per-source cap ``c`` such that Σ min(sᵢ, c) fills
    ``budget_frac`` of the corpus — small sources keep everything, big
    sources are capped at one common level (the fair-share rebalance that
    follows d24's mix weights with an actual hard budget).

    Closed form, no iteration: sort sources ascending by size; for each
    rank the candidate cap is ⌊(B − prefix) / remaining⌋, and the unique
    rank where the candidate falls below that source's size yields the
    final cap (if none does, the budget covers the whole corpus). The
    candidate division runs in double (Spark ``/`` on longs), exact for
    any corpus below 2^53 docs; everything else is integer arithmetic.

    Scale: the windows run over ONE ROW PER SOURCE (already aggregated);
    the single-partition sort is bounded by source count, same contract
    as x29's ntile."""
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count("*").alias("n_docs")
    )
    w = Window.orderBy("n_docs", "source")
    wall = Window.partitionBy()
    total = F.sum("n_docs").over(wall)
    budget = F.floor(F.lit(budget_frac) * total)
    prefix = F.coalesce(
        F.sum("n_docs").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    remaining = F.count("*").over(wall) - F.row_number().over(w) + 1
    cand = F.floor((budget - prefix) / remaining)
    ranked = counts.select(
        "source",
        "n_docs",
        F.when((cand < F.col("n_docs")) & (cand >= 0), cand).alias("__valid_cap"),
    )
    # the TRUE cap is the first-crossing candidate (smallest rank where
    # cand < size). Later ranks still produce smaller spurious candidates
    # (their prefix wrongly counts capped sources in full), so first
    # crossing == MAX over valid candidates.
    cap = ranked.select(
        F.coalesce(F.max("__valid_cap"), F.max("n_docs")).alias("__cap")
    )
    return (
        ranked.crossJoin(F.broadcast(cap))
        .select(
            "source",
            "n_docs",
            F.least(F.col("n_docs"), F.col("__cap")).cast("long").alias("allocation"),
        )
    )


def weighted_sample_by_group(
    df: DataFrame,
    group_col: str,
    id_col: str,
    weight_col: str,
    k_per_group: int,
) -> DataFrame:
    """Stratified A-ES: ``weighted_sample``'s exponential-sort key, ranked
    WITHIN each group — k weighted picks per stratum (the balanced,
    auditable subsample: per-source quotas with per-doc weighting). Same
    determinism contract as ``weighted_sample``; one window re-key on the
    group column."""
    key = _aes_sort_key(id_col, weight_col)
    w = Window.partitionBy(group_col).orderBy(key.desc(), id_col)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k_per_group)
        .drop("__rn")
    )


def token_budget_pack(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    budget: int = 5000,
):
    """Per-group token-budget selection: rank each group's documents by a
    deterministic quality score (d10's rule mix) and keep the best prefix
    whose CUMULATIVE word count fits the budget — the greedy knapsack that
    turns "take the best 5k tokens per source" into a plan (data-mix
    execution, the selection stage after d24 decides the weights).

    One window re-keyed on the GROUP (per-source sort, bounded by the
    group's size — for a group too large for one task's sort, compose
    scale.global_row_index per group exactly as d62 documents); the
    cumulative sum is integer arithmetic, so the cut is engine-exact.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from . import text as _text

    scored = _text.quality_score(df, text_col)
    n_words = F.size(F.split(F.col(text_col), " "))
    w = (
        W.partitionBy(group_col)
        .orderBy(F.col("quality_score").desc(), id_col)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    out = (
        scored.withColumn("n_words", n_words)
        .withColumn("cum_tokens", F.sum("n_words").over(w))
        .filter(F.col("cum_tokens") <= budget)
    )
    return out.select(id_col, group_col, "quality_score", "n_words", "cum_tokens")


def crawl_corpus(
    records: DataFrame,
    robots: DataFrame,
    id_col: str = "doc_id",
    uri_col: str = "target_uri",
    body_col: str = "body",
    agent: str = "*",
    languages: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.5,
    n_hashes: int = 32,
    bands: int = 8,
    persist: bool = True,
) -> dict[str, DataFrame]:
    """The end-to-end web-crawl → training-corpus pipeline (r10, VERDICT
    r9 #3) as ONE declarative DataFrame program — the composition every
    Tier-D crawl operator points at:

        fetched records (``multimodal.parse_warc`` output)
          → HTTP 200 gate
          → robots politeness gate  (RFC 9309: ``text.robots_rules_grouped``
                                     + ``text.robots_allowed_rep``)
          → canonical-URL dedup     (``text.canonical_url``, keep min id)
          → boilerplate strip       (``text.html_main_text``)
          → language gate           (``text.language_id``)
          → quality gate            (``text.gopher_rules``)
          → MinHash near-dedup      (``dedup.dedup_corpus_minhash``)

    Returns an ORDERED dict of the survivor frame after every stage
    (keys: fetched, http_ok, robots_allowed, url_unique, extracted,
    lang_kept, gopher_kept, final) so callers can audit per-stage
    document conservation (the d116 invariants frame does exactly
    that); ``final`` carries (id, uri, canonical_url, text,
    predicted_lang).

    Scale shape: the robots decision runs on a SLIM (id, host, path)
    projection — response bodies never enter the decision aggregate's
    shuffle — and survivors rejoin by id (left-semi). The URL-dedup
    window partitions by canonical URL (corpus-wide cardinality, no
    skew beyond genuine URL duplication). Extraction and both gates are
    pure per-row codegen; only the final MinHash stage shuffles
    signature bands. Every frame is lazy — materialize counts off the
    returned dict, nothing is collected here.

    ``persist=False`` skips the slot-pooled stage caches — for a
    caller that runs these gates once per micro-batch, caching a
    never-reread batch frame is pure overhead."""
    stages = crawl_gates(
        records, robots,
        id_col=id_col, uri_col=uri_col, body_col=body_col,
        agent=agent, languages=languages, persist=persist,
    )
    maybe_persist = _stage_persister(persist)
    stages["final"] = maybe_persist(
        dedup.dedup_corpus_minhash(
            stages["gopher_kept"], id_col, "text",
            n_hashes=n_hashes, bands=bands,
            jaccard_threshold=jaccard_threshold,
        ),
        "crawl_corpus/final",
    )
    return stages


def _stage_persister(persist: bool):
    if not persist:
        return lambda df, _slot: df
    from ._scratch import scratch_persist

    return scratch_persist


def crawl_gates(
    records: DataFrame,
    robots: DataFrame,
    id_col: str = "doc_id",
    uri_col: str = "target_uri",
    body_col: str = "body",
    agent: str = "*",
    languages: tuple[str, ...] = ("en",),
    persist: bool = True,
) -> dict[str, DataFrame]:
    """The crawl pipeline's GATE stages (everything except the final
    MinHash near-dedup): fetched → http_ok → robots_allowed →
    url_unique → extracted → lang_kept → gopher_kept. Factored out of
    :func:`crawl_corpus` (r10) so the STREAMING ingest path runs the
    identical gates per micro-batch and then delegates admission to the
    persisted near-dup index instead of a batch-local MinHash pass."""
    maybe_persist = _stage_persister(persist)
    # the fetched frame is the pipeline's most expensive input (a WARC
    # walk is a mapInPandas over raw payloads) and every downstream
    # stage plus the audit counts re-reads it — persist FIRST (r10)
    recs = maybe_persist(
        records.select(
            F.col(id_col), F.col(uri_col).alias("uri"),
            F.col("http_status"), F.col(body_col).alias("__body"),
        ),
        "crawl_corpus/fetched",
    )
    http_ok = recs.filter(F.col("http_status") == 200).drop("http_status")

    host = F.regexp_extract("uri", "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)", 1)
    path0 = F.regexp_extract("uri", "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    path = F.when(path0 == "", F.lit("/")).otherwise(path0)
    slim = http_ok.select(id_col, host.alias("host"), path.alias("path"))
    rules = text.robots_rules_grouped(robots, agent=agent)
    allowed_ids = (
        text.robots_allowed_rep(slim, rules, "host", "path")
        .filter(F.col("allowed") == 1)
        .select(id_col)
    )
    robots_ok = maybe_persist(
        http_ok.join(allowed_ids, id_col, "left_semi"),
        "crawl_corpus/robots_ok",
    )

    canon = text.canonical_url(F.col("uri"))
    w = Window.partitionBy("canonical_url").orderBy(id_col)
    url_unique = (
        robots_ok.withColumn("canonical_url", canon)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )

    extracted = maybe_persist(
        url_unique.withColumn(
            "text", text.html_main_text(F.col("__body"))
        ).drop("__body"),
        "crawl_corpus/extracted",
    )

    lang_kept = maybe_persist(
        text.language_id(extracted, "text").filter(
            F.col("predicted_lang").isin(*languages)
        ),
        "crawl_corpus/lang_kept",
    )

    gate = text.gopher_rules(lang_kept, id_col, "text")
    gopher_kept = maybe_persist(
        lang_kept.join(
            gate.filter(F.col("passes_gopher") == 1).select(id_col),
            id_col,
            "left_semi",
        ),
        "crawl_corpus/gopher_kept",
    )

    return {
        "fetched": recs,
        "http_ok": http_ok,
        "robots_allowed": robots_ok,
        "url_unique": url_unique,
        "extracted": extracted,
        "lang_kept": lang_kept,
        "gopher_kept": gopher_kept,
    }
