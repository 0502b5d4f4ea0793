"""Text-analysis operator tests — SURVEY §2 D5/D8 north-star ops.

The oracle harness checks these over the documents table; here we pin exact
semantics on constructed inputs: known token counts, known language argmax
with deterministic tie-break, hand-computed TF-IDF, fingerprint stability.
"""

from __future__ import annotations

import math

import pytest

from pyspark.sql import functions as F

from pandas_db_sdk_spark import text


def test_token_counts_exact(spark):
    df = spark.createDataFrame([(1, "Hello, world! 42 times")], "id long, text string")
    row = text.token_counts(df).first()
    assert row.n_words == 4  # whitespace split
    # BPE-ish: Hello , world ! 42 times → 6 pieces
    assert row.n_bpeish_tokens == 6


def test_language_id_argmax_and_scores(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog of the house"),
            (2, "el perro y la casa de un gato"),
            (3, "der Hund und die Katze von dem Haus ist"),
        ],
        "id long, text string",
    )
    rows = {r.id: r for r in text.language_id(df).collect()}
    assert rows[1].predicted_lang == "en"
    assert rows[2].predicted_lang == "es"
    assert rows[3].predicted_lang == "de"
    # en doc: hits are the/and/the/of/the = 5 of 8 tokens
    assert rows[1].score_en == pytest.approx(5 / 8)


def test_language_id_tie_breaks_deterministically(spark):
    """Zero hits everywhere → all scores 0.0 → argmax falls back to the
    lexicographically greatest language code (struct max on (s, l))."""
    df = spark.createDataFrame([(1, "zzz qqq xxx")], "id long, text string")
    row = text.language_id(df).first()
    assert row.predicted_lang == sorted(text.LANG_LEXICONS)[-1]


def test_quality_score_components(spark):
    good = " ".join(["the quick brown fox jumps over the lazy dog again"] * 2)  # 20 words
    short = "too short"
    df = spark.createDataFrame([(1, good), (2, short)], "id long, text string")
    rows = {r.id: r for r in text.quality_score(df).collect()}
    # good doc: length ok (0.4) + word len ok (0.3) + punct 0 (0.2) + stopwords (0.1)
    assert rows[1].quality_score == 1.0
    assert rows[2].quality_score < 1.0
    assert rows[2].n_words == 2


def test_tf_idf_matches_hand_computation(spark):
    df = spark.createDataFrame(
        [(1, "a b a"), (2, "a c"), (3, "d d")], "doc_id long, text string"
    )
    out = text.tf_idf(df, min_df=2).collect()
    got = {(r.doc_id, r.token): (r.tf, r.df, r.tfidf) for r in out}
    # only 'a' appears in >= 2 docs
    assert set(got) == {(1, "a"), (2, "a")}
    idf = math.log((3 + 1) / (2 + 1)) + 1.0
    assert got[(1, "a")][0] == 2
    assert got[(1, "a")][2] == pytest.approx(round(2 * idf, 6))
    assert got[(2, "a")][2] == pytest.approx(round(1 * idf, 6))


def test_repetition_ratio_bounds(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),      # all shingles identical
            (2, "one two three four five six seven"),  # all shingles distinct
        ],
        "id long, text string",
    )
    rows = {r.id: r.repetition_ratio for r in text.repetition_ratio(df).collect()}
    # 6 tokens → 4 shingles, 1 distinct → 3/4 repeated
    assert rows[1] == pytest.approx(0.75)
    assert rows[2] == 0.0


def test_pii_flags_counts(spark):
    df = spark.createDataFrame(
        [
            (1, "contact me at alice@example.com or bob@test.org"),
            (2, "server at 10.0.0.1 answered"),
            (3, "call +1 (555) 123-4567 now"),
            (4, "nothing sensitive here"),
        ],
        "id long, text string",
    )
    rows = {r.id: r for r in text.pii_flags(df).collect()}
    assert rows[1].n_emails == 2 and rows[1].has_pii
    assert rows[2].n_ipv4s == 1 and rows[2].has_pii
    assert rows[3].n_phones >= 1 and rows[3].has_pii
    assert rows[4].has_pii is False


def test_stratified_sample_respects_strata(spark):
    df = spark.createDataFrame(
        [(i, "en" if i % 2 == 0 else "es") for i in range(400)], "id long, lang string"
    )
    out = text.stratified_sample(df, "lang", {"en": 1.0}, seed=7)
    langs = {r.lang for r in out.select("lang").distinct().collect()}
    assert langs == {"en"}  # unlisted strata default to fraction 0
    assert out.count() == 200  # fraction 1.0 keeps every row of the stratum


def test_fingerprint_stable_and_discriminative(spark):
    df = spark.createDataFrame(
        [
            (1, "one two three four five six seven"),
            (2, "one two three four five six seven"),  # identical text
            (3, "totally different content here entirely now yes"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.fingerprint(df).collect()}
    assert rows[1].fingerprint == rows[2].fingerprint
    assert rows[1].fingerprint != rows[3].fingerprint
    # 7 tokens, shingle=5 → 3 rolling shingles
    assert rows[1].n_shingles == 3


def test_fingerprint_no_shuffle(spark):
    """Fingerprinting is per-row arithmetic — its plan must contain no
    Exchange at all."""
    df = spark.createDataFrame([(1, "a b c d e f")], "doc_id long, text string")
    plan = text.fingerprint(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_decontaminate_flags_exact_and_partial_overlap(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different words entirely here now okay then"),
            (3, "prefix padding quick brown fox jumps over suffix pad"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "xx quick brown fox jumps over yy")], "doc_id long, text string"
    )
    out = {r.doc_id: r.is_contaminated for r in
           text.decontaminate(corpus, bench, n=5).collect()}
    assert out[1] is True      # shares the 5-gram "quick brown fox jumps over"
    assert out[2] is False
    assert out[3] is True


def test_top_ngrams_deterministic_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "b c b c")], "doc_id long, text string"
    )
    got = [(r.ngram, r.cnt) for r in text.top_ngrams(df, n=2, k=3).collect()]
    # counts: "a b"=2 ("a b" at pos1,? -> doc1 grams: a b, b a, a b => a b x2, b a x1)
    # doc2: b c, c b, b c => b c x2, c b x1; top3 sorted by (cnt desc, gram)
    assert got == [("a b", 2), ("b c", 2), ("b a", 1)]


def test_unigram_logprob_hand_computed(spark):
    import math

    df = spark.createDataFrame([(1, "a a b")], "doc_id long, text string")
    [r] = text.unigram_logprob(df).collect()
    # p(a)=2/3, p(b)=1/3; avg over tokens [a,a,b]
    want = (2 * math.log(2 / 3) + math.log(1 / 3)) / 3
    assert r.n_tokens == 3
    assert abs(r.avg_logprob - round(want, 6)) < 1e-9


# ------------------------------------------------------------- round 3 ops

def test_gopher_rules_each_gate(spark):
    """One document per failing gate + one passing all four."""
    good = " ".join(["the and word"] * 20)  # 60 words, mwl ~3.3, stopwords 40
    df = spark.createDataFrame(
        [
            (1, good),
            (2, "the and of to a"),  # 5 words < 50 → word-count gate fails
            (3, " ".join(["the"] + ["aa"] * 59)),  # mean word len 2.03 < 3
            (4, " ".join(["the!!!", "and???"] * 30)),  # symbol ratio 3.0 ≥ 0.1
            (5, " ".join(["wordy"] * 60)),  # zero stopwords
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.gopher_rules(df).collect()}
    assert rows[1].passes_gopher == 1
    assert rows[2].rule_word_count == 0 and rows[2].passes_gopher == 0
    assert rows[3].rule_mean_word_len == 0 and rows[3].passes_gopher == 0
    assert rows[4].rule_symbol_ratio == 0 and rows[4].passes_gopher == 0
    assert rows[5].rule_stopwords == 0 and rows[5].passes_gopher == 0


def test_contamination_score_matches_set_oracle(spark):
    corpus = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # grams: abcde bcdef
            (2, "a b c d e x"),      # grams: abcde bcdex
            (3, "p q r s t u"),      # no overlap with bench
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "a b c d e")], "doc_id long, text string")
    rows = {r.doc_id: r for r in text.contamination_score(corpus, bench, n=5).collect()}
    assert rows[1].n_grams == 2 and rows[1].n_contaminated == 1
    assert rows[1].contamination == 0.5
    assert rows[2].n_contaminated == 1 and rows[2].contamination == 0.5
    assert rows[3].n_contaminated == 0 and rows[3].contamination == 0.0


def test_normalize_text_canonical_and_idempotent(spark):
    df = spark.createDataFrame(
        [(1, "  Hello,   WORLD!! 42  "), (2, "hello world 42")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in text.normalize_text(df).collect()}
    assert rows[1].norm_text == "hello world 42"
    # different surface forms, same canonical form → same dedup key
    assert rows[1].norm_hash == rows[2].norm_hash
    again = text.normalize_text(
        spark.createDataFrame([(3, rows[1].norm_text)], "doc_id long, text string")
    ).first()
    assert again.norm_text == rows[1].norm_text  # idempotent


def test_domain_mix_weights_rebalance_math(spark):
    df = spark.createDataFrame(
        [(i, "a" if i < 60 else "b") for i in range(100)], "id long, source string"
    )
    rows = {r.source: r for r in text.domain_mix_weights(df, "source").collect()}
    assert rows["a"].cnt == 60 and rows["b"].cnt == 40
    assert rows["a"].weight == round(0.5 / 0.6, 6)
    assert rows["b"].weight == round(0.5 / 0.4, 6)
    # expected post-sampling counts hit the uniform target: cnt×weight = 50
    for r in rows.values():
        assert round(r.cnt * r.weight) == 50
    # explicit target distribution
    rows = {
        r.source: r
        for r in text.domain_mix_weights(df, "source", {"a": 0.9, "b": 0.1}).collect()
    }
    assert rows["a"].target_frac == 0.9
    assert round(rows["a"].cnt * rows["a"].weight) == 90


def test_length_percentile_filter_bounds(spark):
    df = spark.createDataFrame([(i, i) for i in range(1, 101)], "id long, n long")
    kept = text.length_percentile_filter(df, "n", 0.05, 0.95).collect()
    vals = sorted(r.n for r in kept)
    # exact interpolated P5 of 1..100 = 5.95, P95 = 95.05 → keep 6..95
    assert vals[0] == 6 and vals[-1] == 95 and len(vals) == 90


def test_token_pmi_known_collocation(spark):
    """A pair that always co-occurs scores PMI = ln(N / max(df)) above
    independent pairs; support below min_pair_count is cut."""
    import math

    from pandas_db_sdk_spark import text as T

    # "alpha beta" co-occur in all 8 docs; "gamma" joins half of them
    rows = [(i, "alpha beta " + ("gamma" if i % 2 == 0 else "delta")) for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        (r.tok_a, r.tok_b): r
        for r in T.token_pmi(df, top_vocab=10, min_pair_count=4, k=10).collect()
    }
    ab = out[("alpha", "beta")]
    assert ab.n_ab == 8
    assert ab.pmi == round(math.log(8 * 8 / (8 * 8)), 6) == 0.0
    ag = out[("alpha", "gamma")]
    assert ag.n_ab == 4
    assert ag.pmi == round(math.log(4 * 8 / (8 * 4)), 6) == 0.0
    # delta appears in 4 docs, always with alpha: PMI = ln(4*8/(8*4)) = 0,
    # but gamma-delta NEVER co-occur -> absent (support 0 < min_pair_count)
    assert ("delta", "gamma") not in out


def test_tfidf_doc_similarity_near_duplicates_rank_first(spark):
    """Docs sharing rare vocabulary rank above docs sharing only common
    vocabulary; identical docs hit cosine 1.0; max_df drops the universal
    token from scoring."""
    from pandas_db_sdk_spark import text as T

    rows = [
        (1, "common rare1 rare2 rare3"),
        (2, "common rare1 rare2 rare3"),   # exact dup of 1
        (3, "common rare1 other1 other2"),  # partial overlap (rare1: df 3/6)
        (4, "common alone1 alone2 alone3"),  # only the universal token
        (5, "common filler1 filler2 filler3"),
        (6, "common filler4 filler5 filler6"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.tfidf_doc_similarity(df, max_df_frac=0.5, k=10).collect()
    got = {(r.id_a, r.id_b): r.cos_sim for r in out}
    assert got[(1, 2)] == 1.0
    assert 0 < got[(1, 3)] < 1.0
    # "common" is in 4/4 docs > max_df -> doc 4 shares nothing scorable
    assert not any(4 in k for k in got)
    assert out[0].id_a == 1 and out[0].id_b == 2  # top-ranked pair


def test_bm25_prefers_term_density_and_saturates(spark):
    """A doc matching more query terms outranks one matching fewer; a
    100x repetition of one term saturates rather than dominating."""
    from pandas_db_sdk_spark import text as T

    rows = [
        (1, "hash join vector " + "filler " * 5),
        (2, "hash join other " + "filler " * 5),
        (3, "hash " * 100),
        (4, "nothing relevant here"),
    ]
    df = spark.createDataFrame([(i, t.strip()) for i, t in rows], "doc_id long, text string")
    out = T.bm25_topk(df, "hash join vector", k=10).collect()
    ranks = {r.doc_id: i for i, r in enumerate(out)}
    scores = {r.doc_id: r.bm25 for r in out}
    assert 4 not in ranks  # no matched term, no row
    assert ranks[1] < ranks[2]  # 3 terms beat 2
    # tf saturation: 100 repeats of one term still loses to 3 distinct terms
    assert scores[3] < scores[1]


def test_bpe_merges_textbook_corpus(spark):
    """The Sennrich example shape: 'low'-family corpus learns l+o, lo+w
    first (weighted by word frequency), and merged symbols participate in
    later rounds (lo+w requires round 1's lo)."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "id long, text string",
    )
    got = [tuple(r) for r in text.bpe_merges(df, "text", n_merges=4).collect()]
    assert got == [
        (1, "l", "o", "lo", 5),
        (2, "lo", "w", "low", 5),
        (3, "e", "w", "ew", 4),
        (4, "n", "ew", "new", 4),
    ]


def test_bpe_merge_is_greedy_left_to_right(spark):
    """'aaaa' with pair (a,a) merges positions (1,2) and (3,4) — the
    classic non-overlapping scan — so round 1 on an all-'aa' corpus
    counts 3 adjacent pairs but rewrites to exactly 2 symbols."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame([(1, "aaaa")], "id long, text string")
    got = [tuple(r) for r in text.bpe_merges(df, "text", n_merges=2).collect()]
    # round 1: pairs (a,a) x3 -> merge 'aa'; state becomes [aa, aa]
    # round 2: one (aa,aa) pair -> merge 'aaaa'
    assert got == [(1, "a", "a", "aa", 3), (2, "aa", "aa", "aaaa", 1)]


def test_bpe_merges_batched_first_rule_and_invariants(spark):
    """Batched learning agrees with sequential BPE at rank 1 (both take
    the global argmax), batches are symbol-disjoint, within-round counts
    are rank-ordered, per-round head counts never increase, and the
    vocabulary mass drops by at least n_rules and at most the admitted
    count sum each round."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "id long, text string",
    )
    seq_first = text.bpe_merges(df, "text", n_merges=1).collect()[0]
    merges, rounds = text.bpe_merges_batched(df, "text", n_merges=8, batch=3)
    m = sorted((tuple(r) for r in merges.collect()))
    assert m[0][0] == 1
    assert (m[0][2], m[0][3], m[0][5]) == (
        seq_first["sym_a"], seq_first["sym_b"], seq_first["pair_count"]
    )
    by_round: dict = {}
    for rank, rnd, a, b, merged, cnt in m:
        by_round.setdefault(rnd, []).append((rank, a, b, merged, cnt))
    for rnd, rs in by_round.items():
        syms: set = set()
        prev_cnt = None
        for rank, a, b, merged, cnt in sorted(rs):
            assert not ({a, b, merged} & syms), "batch must be symbol-disjoint"
            syms |= {a, b, merged}
            if prev_cnt is not None:
                assert cnt <= prev_cnt, "within-round rank order by count"
            prev_cnt = cnt
    rws = sorted(tuple(r) for r in rounds.collect())
    prev_head = None
    for rnd, n_rules, head, cnt_sum, before, after in rws:
        assert n_rules <= (before - after) <= cnt_sum
        if prev_head is not None:
            assert head <= prev_head, "head counts never increase across rounds"
        prev_head = head
    # round chaining: mass_after of round N is mass_before of round N+1
    for (r1, *_, a1), (r2, *rest) in zip(rws, rws[1:]):
        assert a1 == rest[-2]


def test_bpe_merges_batched_exhausts_gracefully(spark):
    """Asking for more merges than the vocabulary supports stops when no
    pairs remain instead of looping."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame([(1, "ab ab cd")], "id long, text string")
    merges, rounds = text.bpe_merges_batched(df, "text", n_merges=50, batch=8)
    got = sorted(r.merged for r in merges.collect())
    assert got == ["ab", "cd"]


def test_kneser_ney_hand_computed(spark):
    """P_KN(low | lowest): c12=1, c1=1, d=.75 -> .25 discounted MLE;
    lambda=.75; Pcont(low) = 2 preceding contexts / 7 bigram types."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "id long, text string",
    )
    got = {
        (r.w1, r.w2): r.p_kn
        for r in text.kneser_ney_bigram(df, "text", k=10).collect()
    }
    assert abs(got[("lowest", "low")] - round(0.25 + 0.75 * 2 / 7, 6)) < 1e-9
    assert abs(got[("low", "low")] - round(0.25 / 2 + 0.75 * 2 / 2 * (2 / 7), 6)) < 1e-9


def test_bpe_encode_stats_hand_computed(spark):
    """Encoding the Sennrich-style corpus with its own first 2 learned
    merges (l+o, lo+w): per-group token counts equal a hand replay —
    'low'→[low], 'lower'→[low,e,r], 'lowest'→[low,e,s,t], news side
    untouched at depth 2. Invariants: 0 merges ⇒ n_tokens == n_chars;
    more merges never increase n_tokens; every word ≥ 1 token."""
    from pandas_db_sdk_spark import text

    df = spark.createDataFrame(
        [("a", "low lower lowest low low"), ("b", "new newer newest new")],
        "source string, text string",
    )
    got = {
        r.source: r
        for r in text.bpe_encode_stats(df, "text", "source", n_merges=2).collect()
    }
    # group a: words low(f3, 1 tok), lower(f1, 3 toks), lowest(f1, 4 toks)
    a = got["a"]
    assert (a.n_words, a.n_word_occurrences) == (3, 5)
    assert a.n_chars == 3 * 3 + 5 + 6
    assert a.n_tokens == 3 * 1 + 3 + 4
    assert a.tokens_per_word == round(10 / 5, 6)
    assert a.compression == round(20 / 10, 6)
    # group b: depth-2 merges (lo, low) never fire on the new-family
    b = got["b"]
    assert b.n_tokens == b.n_chars == 2 * 3 + 5 + 6  # new f2, newer, newest

    zero = {
        r.source: r
        for r in text.bpe_encode_stats(df, "text", "source", n_merges=0).collect()
    }
    assert all(r.n_tokens == r.n_chars for r in zero.values())
    deeper = {
        r.source: r
        for r in text.bpe_encode_stats(df, "text", "source", n_merges=4).collect()
    }
    for s in ("a", "b"):
        assert deeper[s].n_tokens <= got[s].n_tokens
        assert deeper[s].n_tokens >= deeper[s].n_word_occurrences


def test_html_main_text_strips_boilerplate_keeps_content(spark):
    """Golden checks for the boilerplate stripper: script/style/nav/
    header/footer bodies vanish (including multi-line and attribute-
    bearing forms), inline tags unwrap to their text, whitespace
    collapses, and angle-bracket-free text passes through untouched."""
    from pandas_db_sdk_spark import text

    rows = [
        (1, '<html><head><script type="x">alert("<b>hi</b>")\nmore</script>'
            '<style>.x{}</style></head><body><nav>a|b</nav>'
            '<header>top</header><p>Hello <b>world</b>,\n  again</p>'
            '<footer>bye</footer></body></html>'),
        (2, "plain text, no markup"),
        (3, '<div><p>Multi</p><p>block</p></div>'),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = {
        r.id: r.out
        for r in df.select("id", text.html_main_text("html").alias("out")).collect()
    }
    assert got[1] == "Hello world , again"
    assert got[2] == "plain text, no markup"
    assert got[3] == "Multi block"


def test_html_main_text_blocks_case_insensitive(spark):
    """ADVICE r8: real crawled HTML mixes tag case — <SCRIPT>/<Style>/
    <NAV> blocks must be dropped WITH their contents, not leak script
    bodies into the extracted text via the case-agnostic tag strip."""
    from pandas_db_sdk_spark import text

    rows = [
        (1, '<HTML><HEAD><SCRIPT>var leak=1;</SCRIPT>'
            '<Style>.x{color:red}</Style></HEAD><BODY><NAV>a|b</NAV>'
            '<Header>top</Header><P>Real content</P>'
            '<FOOTER>bye</FOOTER></BODY></HTML>'),
    ]
    df = spark.createDataFrame(rows, "id long, html string")
    got = df.select(text.html_main_text("html").alias("out")).first().out
    assert got == "Real content"


def test_canonical_url_golden_cases(spark):
    """Golden checks for the URL canonicalizer beyond the d111 fixture:
    root paths, queries that empty out after tracking removal, https
    default port, paths whose case must SURVIVE, duplicate-sorted
    params, and the no-scheme passthrough."""
    from pandas_db_sdk_spark import text

    rows = [
        (1, "HTTP://EXAMPLE.com:80/#top", "http://example.com/"),
        (2, "https://a.b:443/?utm_source=x&utm_medium=y", "https://a.b/"),
        (3, "https://a.b:444/", "https://a.b:444/"),
        (4, "http://h/PaTh/Is/CaSe", "http://h/PaTh/Is/CaSe"),
        (5, "http://h/p/?z=1&a=2&fbclid=abc", "http://h/p?a=2&z=1"),
        (6, "http://h", "http://h/"),
        (7, "relative/path?a=1", "relative/path?a=1"),
        (8, "http://h/p?gclid=x#frag", "http://h/p"),
        (9, "http://h:8080/p?b=2&a=1", "http://h:8080/p?a=1&b=2"),
    ]
    df = spark.createDataFrame([(i, u) for i, u, _ in rows], "id long, url string")
    got = {
        r.id: r.canon
        for r in df.select(
            "id", text.canonical_url("url").alias("canon")
        ).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_canonical_url_is_idempotent(spark):
    """canon(canon(u)) == canon(u) — a canonical form must be a fixed
    point, else crawl dedup keys drift across pipeline stages."""
    from pandas_db_sdk_spark import text

    urls = [
        "HTTP://WWW.X.COM:80/A/b/?utm_source=s&b=2&a=1#f",
        "https://h:8080/p/q/?z=9&y=8",
        "http://h",
        "not a url",
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    once = df.select(text.canonical_url("url").alias("c1"))
    twice = once.select("c1", text.canonical_url("c1").alias("c2"))
    for r in twice.collect():
        assert r.c1 == r.c2, r


def test_robots_rules_and_longest_match_semantics(spark):
    """REP golden cases: directive parsing tolerates case/whitespace and
    drops empty Disallow (allow-all); evaluation picks the LONGEST
    matching prefix, Allow beats Disallow at equal length, unmatched
    paths and unknown domains are allowed."""
    from pandas_db_sdk_spark import text

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\n"
                "disallow: /private\n"
                "  Allow:   /private/ok\n"
                "Disallow: /tmp\n"
                "Allow: /tmp\n"          # equal length -> allow wins
                "Disallow:\n",            # empty -> dropped
            ),
        ],
        "domain string, robots_txt string",
    )
    rules = text.robots_rules(robots, "robots_txt", "domain")
    got = {(r.rule_type, r.prefix) for r in rules.collect()}
    assert got == {
        ("disallow", "/private"),
        ("allow", "/private/ok"),
        ("disallow", "/tmp"),
        ("allow", "/tmp"),
    }

    urls = spark.createDataFrame(
        [
            (1, "a.com", "/private/x"),      # disallow /private
            (2, "a.com", "/private/ok/y"),   # longer allow wins
            (3, "a.com", "/tmp/z"),          # equal length: allow wins
            (4, "a.com", "/open"),           # no match -> allowed
            (5, "other.com", "/private/x"),  # unknown domain -> allowed
        ],
        "id long, host string, path string",
    )
    out = {r.id: r.allowed for r in text.robots_allowed(urls, rules).collect()}
    assert out == {1: 0, 2: 1, 3: 1, 4: 1, 5: 1}


ROBOTS_RFC9309 = """User-agent: otherbot
User-agent: thirdbot
Disallow: /

User-agent: corpusbot
Disallow: /*.php$
Disallow: /Docs/1/
Allow: /Docs/1/page1.*
Disallow: /Docs/*/page2.php
Crawl-delay: 2
Disallow:

User-agent: *
Disallow: /Docs/
"""


def test_robots_rules_grouped_agent_selection(spark):
    """RFC 9309 group parsing: the corpusbot group is selected (case-
    insensitive token match), decoy multi-UA and * groups ignored,
    Crawl-delay noise and empty Disallow dropped."""
    from pandas_db_sdk_spark import text

    robots = spark.createDataFrame(
        [("a.com", ROBOTS_RFC9309)], "domain string, robots_txt string"
    )
    rules = text.robots_rules_grouped(robots, agent="CorpusBot")
    got = {(r.rule_type, r.pattern) for r in rules.collect()}
    assert got == {
        ("disallow", "/*.php$"),
        ("disallow", "/Docs/1/"),
        ("allow", "/Docs/1/page1.*"),
        ("disallow", "/Docs/*/page2.php"),
    }
    # no specific group for this agent -> the * group applies
    fallback = text.robots_rules_grouped(robots, agent="nobody")
    got = {(r.rule_type, r.pattern) for r in fallback.collect()}
    assert got == {("disallow", "/Docs/")}
    # adjacent UA lines share one group (otherbot AND thirdbot own /)
    third = text.robots_rules_grouped(robots, agent="thirdbot")
    got = {(r.rule_type, r.pattern) for r in third.collect()}
    assert got == {("disallow", "/")}


def test_robots_allowed_rep_wildcards_and_anchors(spark):
    """Wildcard *, trailing-$ anchor, longest-pattern precedence, and
    Allow-beats-Disallow-at-equal-length over the compiled regexes."""
    from pandas_db_sdk_spark import text

    robots = spark.createDataFrame(
        [("a.com", ROBOTS_RFC9309)], "domain string, robots_txt string"
    )
    rules = text.robots_rules_grouped(robots, agent="corpusbot")
    urls = spark.createDataFrame(
        [
            (1, "a.com", "/Docs/1/page1.php"),      # 15-char allow beats both disallows
            (2, "a.com", "/Docs/1/page3.html"),     # literal /Docs/1/ disallow
            (3, "a.com", "/Docs/2/page2.php"),      # mid-pattern wildcard disallow
            (4, "a.com", "/Docs/2/page3.php"),      # $-anchored wildcard disallow
            (5, "a.com", "/Docs/2/page3.php.html"), # $ must NOT match mid-path
            (6, "a.com", "/Docs/2/page3.html"),     # no corpusbot rule -> allowed
            (7, "a.com", "/other"),                 # * group must not leak in
        ],
        "id long, host string, path string",
    )
    out = {r.id: r.allowed for r in text.robots_allowed_rep(urls, rules).collect()}
    assert out == {1: 1, 2: 0, 3: 0, 4: 0, 5: 1, 6: 1, 7: 1}


def test_crawl_corpus_stage_contract(spark):
    """pipeline.crawl_corpus: exact deterministic funnel — robots blocks
    the two /p/4 docs on h0.com, canonical dedup collapses the utm
    variants to one per (host, path), extraction is 1:1, the shared
    English body passes language + gopher gates, and MinHash absorbs the
    19 identical survivors into one canonical doc."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import multimodal, pipeline

    base = spark.range(0, 40).select(F.col("id").alias("doc_id"))
    sentence = (
        "the quick brown fox jumps over the lazy dog and then the small "
        "cat walks into the open field where the tall grass grows under "
        "the warm sun while the old farmer watches from the wooden gate "
        "near the quiet river that flows past the stone bridge toward "
        "the distant hills beyond the green valley floor"
    )
    html = F.concat(
        F.lit("<html><body><p>"), F.lit(sentence), F.lit("</p></body></html>")
    )
    uri = F.concat(
        F.lit("https://h"), (F.col("doc_id") % 2).cast("string"),
        F.lit(".com/p/"), (F.col("doc_id") % 20).cast("string"),
        F.lit("?utm_source=x&v=1"),
    )
    files = multimodal.synth_warc(
        base.select("doc_id", html.alias("html"), uri.alias("uri")),
        "html", "uri", "doc_id",
    )
    parsed = multimodal.parse_warc(files, "payload", "doc_id")
    robots = spark.createDataFrame(
        [("h0.com", "User-agent: *\nDisallow: /p/4\n"),
         ("h1.com", "User-agent: *\nDisallow:\n")],
        "domain string, robots_txt string",
    )
    stages = pipeline.crawl_corpus(parsed, robots, languages=("en",))
    counts = {k: v.count() for k, v in stages.items()}
    # ids 4 and 24 are the only /p/4 docs on h0.com (even ids)
    # canonical groups: (id%2, id%20) -> id%20 alone (parity follows), 20
    # groups of 2, minus the fully-blocked group 4 -> 19 survivors
    assert counts == {
        "fetched": 40, "http_ok": 40, "robots_allowed": 38,
        "url_unique": 19, "extracted": 19, "lang_kept": 19,
        "gopher_kept": 19, "final": 1,
    }
    final = stages["final"]
    for col in ("doc_id", "canonical_url", "text", "predicted_lang"):
        assert col in final.columns
    row = final.collect()[0]
    assert row["doc_id"] == 0  # min-id canonical survives every stage
    assert row["predicted_lang"] == "en"
    assert "utm_source" not in row["canonical_url"]


def test_surt_key_golden_cases(spark):
    """SURT urlkeys (d125): reversed comma-joined host labels, scheme +
    leading www. dropped, userinfo stripped BEFORE host:port split (a
    colon inside user:pw@ must not truncate the host), non-default port
    kept, sorted tracking-stripped query, non-URLs NULL."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import text

    urls = spark.createDataFrame(
        [
            (1, "https://WWW.Site2.Example.com:8080/Docs/3/Doc7?utm_source=x&b=2&a=1",
             "com,example,site2:8080)/docs/3/doc7?a=1&b=2"),
            (2, "https://user:pw@WWW.Example.com:8080/A?b=1",
             "com,example:8080)/a?b=1"),
            (3, "https://news.example.com/A", "com,example,news)/a"),
            (4, "http://example.com", "com,example)/"),
            (5, "not a url", None),
        ],
        "id long, url string, want string",
    )
    got = urls.select(
        "id", "want", text.surt_key(F.col("url")).alias("k")
    ).collect()
    for r in got:
        assert r.k == r.want, (r.id, r.k, r.want)


def test_unigram_lm_vocab_contract(spark):
    """Unigram-LM trainer (d130): on a corpus dominated by one repeated
    word, the word itself (≤ max_piece_len) wins a vocabulary slot and
    the Viterbi keeps it whole; token mass is conserved exactly every
    round; all corpus characters stay segmentable; the hard-EM
    objective never increases."""
    from pandas_db_sdk_spark import text

    docs = spark.createDataFrame(
        [(i, "data data data data lake x") for i in range(8)],
        "doc_id long, text string",
    )
    pieces, rounds = text.unigram_lm_vocab(
        docs, "text", vocab_size=50, max_piece_len=4, em_iters=3
    )
    inv = {r.piece: r["count"] for r in pieces.collect()}
    # 'data' occurs 32 times and fits max_piece_len: kept whole
    assert inv.get("data") == 32, inv
    # single-char coverage: every char of the corpus present
    for ch in set("datalakex"):
        assert ch in inv, ch
    rr = rounds.collect()
    src_mass = 8 * (4 * 4 + 4 + 1)  # 4x'data' + 'lake' + 'x' per doc
    assert all(row.token_mass == src_mass for row in rr), rr
    assert all(
        b.neg_loglik <= a.neg_loglik + 1e-6 for a, b in zip(rr, rr[1:])
    ), rr


def test_duplicate_spans_merges_and_respects_min_count(spark):
    """d134 operator contract on a hand-built corpus: a shared 80-char
    block is cut in both docs as ONE maximal span at the right offsets;
    unique text yields nothing; a self-repeat within one doc counts."""
    # every filler is a non-self-repeating counter sequence: repeated-char
    # filler like "u"*40 would itself be wall-to-wall duplicated 30-grams
    block = "".join(f"B{i:02d}" for i in range(27))[:80]  # 80 shared chars
    fill = lambda ch, n: "".join(f"{ch}{i:02d}" for i in range(n // 3 + 1))[:n]
    docs = spark.createDataFrame(
        [
            (1, fill("u", 40) + block + fill("v", 35)),  # block at 41..120
            (2, block + fill("w", 50)),                  # block at 1..80
            (3, "completely unique text that repeats nothing " + fill("z", 20)),
            (4, block + fill("q", 31) + block),          # self-repeat, two islands
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end): r.span_len
        for r in text.duplicate_spans(docs, "doc_id", "text", length=30).collect()
    }
    assert (1, 41, 120) in spans and spans[(1, 41, 120)] == 80
    assert (2, 1, 80) in spans
    assert not any(k[0] == 3 for k in spans)
    # doc 4: the 31-char gap exceeds L=30 → two separate spans
    doc4 = sorted(k for k in spans if k[0] == 4)
    assert doc4 == [(4, 1, 80), (4, 112, 191)]


def test_politeness_schedule_default_delay_and_slots(spark):
    frontier = spark.createDataFrame(
        [("a.com", f"https://a.com/{i}") for i in range(3)]
        + [("b.com", "https://b.com/x")],
        "domain string, loc string",
    )
    delays = spark.createDataFrame(
        [("a.com", 2.5)], "domain string, crawl_delay_s double"
    )
    rows = {
        (r.domain, r.loc): (r.fetch_rank, r.crawl_delay_s, r.scheduled_offset_s)
        for r in text.politeness_schedule(frontier, delays).collect()
    }
    assert rows[("a.com", "https://a.com/0")] == (1, 2.5, 0.0)
    assert rows[("a.com", "https://a.com/1")] == (2, 2.5, 2.5)
    assert rows[("a.com", "https://a.com/2")] == (3, 2.5, 5.0)
    # no mined delay → the 1 s politeness floor
    assert rows[("b.com", "https://b.com/x")] == (1, 1.0, 0.0)


def test_c4_line_filter_rules(spark):
    """d138 operator contract: each C4 rule fires independently — terminal
    punctuation, min words, javascript lines, lorem-ipsum / brace page
    drops, and the min-kept-lines page floor."""
    good = "alpha beta gamma delta epsilon zeta."
    docs = spark.createDataFrame(
        [
            (1, f"{good}\n{good}\n{good}\nno terminal punct here at all"),
            (2, f"{good}\nshort line.\n{good}\n{good}"),
            (3, f"{good}\nthis javascript line is long enough.\n{good}\n{good}"),
            (4, f"{good}\n{good}\n{good}\nLorem Ipsum."),
            (5, f"{good}\n{good}\n{good}\nconfig {{ x }}."),
            (6, f"{good}\n{good}"),  # only 2 survivors → page dropped
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in text.c4_line_filter(docs, "doc_id", "text").collect()
    }
    assert out[1].n_kept_lines == 3 and out[1].doc_kept
    assert out[1].clean_text == f"{good}\n{good}\n{good}"
    assert out[2].n_kept_lines == 3 and out[2].doc_kept  # short line dropped
    assert out[3].n_kept_lines == 3 and out[3].doc_kept  # javascript dropped
    assert not out[4].doc_kept and out[4].clean_text == ""  # lorem ipsum page
    assert not out[5].doc_kept  # brace page
    assert not out[6].doc_kept and out[6].n_kept_lines == 2  # under floor


def test_dedup_lines_corpus_keep_first_and_zero_survivors(spark):
    """d139 operator contract: globally-first occurrence wins (doc order,
    then line order); a doc whose every line appeared earlier keeps zero
    lines but stays in the output; within-doc repeats collapse too."""
    lines = spark.createDataFrame(
        [
            (1, 0, "nav bar"),
            (1, 1, "unique to one"),
            (1, 2, "nav bar"),        # within-doc repeat of line 0
            (2, 0, "nav bar"),        # cross-doc repeat
            (2, 1, "unique to two"),
            (3, 0, "nav bar"),        # every line of doc 3 seen before
            (3, 1, "unique to one"),
        ],
        "doc_id long, line_no int, line string",
    )
    out = {
        r.doc_id: r
        for r in text.dedup_lines_corpus(lines, "doc_id", "line_no", "line").collect()
    }
    assert out[1].n_lines == 3 and out[1].n_kept_lines == 2
    assert out[1].dedup_text == "nav bar\nunique to one"
    assert out[2].n_lines == 2 and out[2].n_kept_lines == 1
    assert out[2].dedup_text == "unique to two"
    assert out[3].n_lines == 2 and out[3].n_kept_lines == 0
    assert out[3].dedup_text == ""


def test_temperature_mix_weights_family(spark):
    """d140 operator contract: alpha=1 reproduces the natural mix
    (weight 1 everywhere); alpha=0 flattens to uniform; alpha=0.3
    upsamples the minority facet and q sums to 1."""
    docs = spark.createDataFrame(
        [(i, "en" if i < 9 else "yo") for i in range(10)],
        "doc_id long, lang string",
    )
    w1 = {r.lang: r for r in text.temperature_mix_weights(docs, "lang", 1.0).collect()}
    assert w1["en"].weight == 1.0 and w1["yo"].weight == 1.0
    w0 = {r.lang: r for r in text.temperature_mix_weights(docs, "lang", 0.0).collect()}
    assert w0["en"].sampled_frac == 0.5 and w0["yo"].sampled_frac == 0.5
    w3 = {r.lang: r for r in text.temperature_mix_weights(docs, "lang", 0.3).collect()}
    assert w3["yo"].weight > 1.0 > w3["en"].weight  # minority upsampled
    assert abs(w3["en"].sampled_frac + w3["yo"].sampled_frac - 1.0) < 1e-6


def test_encoding_quality_signal_families(spark):
    """d146 operator contract: each damage family counts independently,
    clean text is not suspect, and counts are per-occurrence."""
    docs = spark.createDataFrame(
        [
            (1, "perfectly clean ascii text"),
            (2, "double tell Caf\u00c3\u00a9 and Caf\u00c3\u00a9 again"),
            (3, "don\u00e2\u20ac\u2122t \u00e2\u20ac\u0153quoted"),
            (4, "lost byte \ufffd here and \ufffd there"),
            (5, "stray C1 \u0085control \u009dtwice"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in text.encoding_quality(docs).collect()}
    assert not out[1].is_suspect and out[1].n_mojibake == 0
    assert out[2].n_mojibake == 2 and out[2].is_suspect
    assert out[3].n_mojibake == 2  # smart quote + open quote digraphs
    assert out[4].n_replacement == 2 and out[4].n_c1_controls == 0
    assert out[5].n_c1_controls == 2 and out[5].n_mojibake == 0


def test_url_blocklist_specificity_and_audit_rows(spark):
    """d147 operator contract: most-specific suffix wins, TLD rules
    match, unlisted hosts pass, userinfo/port strip before matching,
    and every input URL appears in the audit output."""
    urls = spark.createDataFrame(
        [
            ("https://w1.ads.example.com/x",),
            ("https://user:pw@cdn.example.com:8443/y",),
            ("https://clean.ok.net/z",),
            ("https://phish.bad/q",),
        ],
        "url string",
    )
    bl = spark.createDataFrame(
        [("ads.example.com", "ads"), ("example.com", "tracking"), ("bad", "malware")],
        "pattern string, category string",
    )
    out = {r.url: r for r in text.url_blocklist_filter(urls, bl).collect()}
    assert len(out) == 4
    r = out["https://w1.ads.example.com/x"]
    assert (r.matched_pattern, r.category, r.blocked) == ("ads.example.com", "ads", True)
    r = out["https://user:pw@cdn.example.com:8443/y"]
    assert r.host == "cdn.example.com"
    assert (r.matched_pattern, r.category) == ("example.com", "tracking")
    assert out["https://clean.ok.net/z"].blocked is False
    assert out["https://phish.bad/q"].category == "malware"


def test_revisit_schedule_change_classes_and_clamps(spark):
    """d151 operator contract: per-URL change estimation and clamping —
    a page changing every fetch earns span/(n-1); a never-changing page
    backs off to its full span; a single-fetch URL schedules at the
    1-hour floor; the 30-day ceiling clamps a long static span."""
    day = 86400
    rows = (
        # changes every fetch: est = day
        [("a", t * day, f"v{t}") for t in range(4)]
        # never changes over 10 days: est = span = 10*day
        + [("b", t * day, "same") for t in range(11)]
        # single fetch: floor
        + [("c", 0, "x")]
        # static over 90 days: clamped to 30 days
        + [("d", 0, "y"), ("d", 90 * day, "y")]
    )
    fetches = spark.createDataFrame(rows, "url string, fetch_ts long, content_sha string")
    from pandas_db_sdk_spark import text as _t

    out = {r.url: r for r in _t.revisit_schedule(fetches).collect()}
    assert out["a"].n_changes == 3 and out["a"].revisit_interval_s == day
    assert out["a"].next_fetch_ts == 3 * day + day
    assert out["b"].n_changes == 0 and out["b"].revisit_interval_s == 10 * day
    assert out["c"].revisit_interval_s == 3600 and out["c"].next_fetch_ts == 3600
    assert out["d"].revisit_interval_s == 2_592_000  # 30-day ceiling


def test_anchor_text_terms_dedup_resolution_and_votes(spark):
    """d153 operator contract: per-page dedup (a nav link repeated in
    one page counts once), relative hrefs resolve against the linking
    page's host, absolute hrefs pass through, inner tags strip from
    anchors, and votes count distinct linking pages."""
    pages = spark.createDataFrame(
        [
            (
                "https://a.com/1",
                '<a href="/t">Great <b>Docs</b></a><a href="/t">Great Docs</a>',
            ),
            ("https://a.com/2", '<a href="/t">great docs</a>'),
            ("https://b.com/x", '<a href="https://a.com/t">other words</a>'),
        ],
        "uri string, html string",
    )
    from pandas_db_sdk_spark import text as _t

    out = {
        (r.target, r.term): r.n_linking_pages
        for r in _t.anchor_text_terms(pages).collect()
    }
    assert out[("https://a.com/t", "great")] == 2  # page 1 deduped, page 2
    assert out[("https://a.com/t", "docs")] == 2   # inner <b> stripped
    assert out[("https://a.com/t", "other")] == 1  # absolute href resolved
    assert out[("https://a.com/t", "words")] == 1
    assert len(out) == 4


def test_code_switch_stats_majority_and_dissent(spark):
    """d155 operator contract: an all-English doc reports zero switch
    lines; a doc with one fully-Spanish 8-word line reports exactly that
    dissent; the planted-span guarantee (a 16-word foreign span always
    yields >= 1 switch line whatever the chunk alignment) holds at every
    offset."""
    en8 = "the cat and the dog in the house"
    es16 = "el la que y en un por con una el la de que y en un"
    docs = [(1, " ".join([en8] * 3))]
    # plant the span at every alignment offset 0..7
    for off in range(8):
        filler = " ".join(["the and of to a in is that".split()[i % 8] for i in range(off)])
        body = (filler + " " if filler else "") + es16 + " " + " ".join([en8] * 4)
        docs.append((10 + off, body))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    from pandas_db_sdk_spark import text as _t

    out = {r.doc_id: r for r in _t.code_switch_stats(df).collect()}
    assert out[1].majority_lang == "en" and out[1].n_switch_lines == 0
    for off in range(8):
        r = out[10 + off]
        assert r.majority_lang == "en" and r.n_switch_lines >= 1, (off, r)
        assert 0 < r.switch_ratio < 1


def test_tokenizer_fertility_card_closed_form(spark):
    """d168 operator contract on hand-checkable docs: with vocab_size=2
    the two most frequent words cost 1 token each and every other word
    falls back to |word| character tokens; fertility/oov/char-fallback
    ratios follow the closed form per language."""
    from pandas_db_sdk_spark import text

    docs = spark.createDataFrame(
        [
            # 'aa' x3 and 'bb' x3 are the vocab; 'xyz' and 'qwerty' are OOV
            (1, "aa bb xyz", "en"),
            (2, "aa bb", "en"),
            (3, "aa bb qwerty", "es"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {
        r.lang: r
        for r in text.tokenizer_fertility_card(
            docs, vocab_size=2
        ).collect()
    }
    en, es = out["en"], out["es"]
    # en: 5 words, 1 oov (xyz -> 3 char tokens): tokens = 4*1 + 3 = 7
    assert (en.n_docs, en.n_words, en.n_oov_words, en.n_tokens) == (2, 5, 1, 7)
    assert en.fertility == round(7 / 5, 6)
    assert en.oov_rate == round(1 / 5, 6)
    assert en.char_fallback_rate == round(3 / 7, 6)
    # es: 3 words, 1 oov (qwerty -> 6): tokens = 2 + 6 = 8
    assert (es.n_docs, es.n_words, es.n_oov_words, es.n_tokens) == (1, 3, 1, 8)
    assert es.char_fallback_rate == round(6 / 8, 6)
