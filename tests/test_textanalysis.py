"""Text analysis goldens."""

from __future__ import annotations

import pytest

from data_pipeline_rsna_spark.operators import textanalysis as tx


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            (1, "The quick brown fox and the lazy dog"),
            (2, "el la de los que y el la de los"),
            (3, "a a a a"),
            (4, "x1 hello-world 42"),
        ],
        "doc_id long, text string",
    )


def _features(docs, **cols):
    """Row per doc_id with each named column function applied to text."""
    df = docs.select("doc_id", *(fn("text").alias(k) for k, fn in cols.items()))
    return {r.doc_id: r for r in df.collect()}


def test_token_counts(docs):
    rows = _features(
        docs,
        n_ws_tokens=tx.ws_token_count,
        n_bpe_tokens=tx.bpe_ish_token_count,
        ttr=tx.type_token_ratio,
    )
    assert rows[1].n_ws_tokens == 8
    # "x1 hello-world 42" -> x,1,hello,-,world,42
    assert rows[4].n_bpe_tokens == 6
    assert rows[3].ttr == 0.25  # one type, four tokens


def test_stopword_and_lang(docs):
    rows = _features(
        docs,
        en_stopword_ratio=tx.stopword_ratio,
        predicted_lang=tx.predicted_lang,
    )
    # doc1: 'the','and','the' are en stopwords -> 3/8
    assert rows[1].en_stopword_ratio == round(3 / 8, 6)
    assert rows[1].predicted_lang == "en"
    assert rows[2].predicted_lang == "es"
    assert rows[3].predicted_lang == "en"  # all-zero scores -> priority order


def test_fingerprints_order_insensitive(spark):
    a = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha")],
        "doc_id long, text string",
    )
    rows = _features(
        a,
        content_fp=tx.content_fingerprint,
        winnow_fp=tx.min_shingle_fingerprint,
    )
    # same bag of words -> same content fingerprint
    assert rows[1].content_fp == rows[2].content_fp
    # different shingles -> (almost surely) different winnow fingerprint
    assert rows[1].winnow_fp != rows[2].winnow_fp


def test_sequence_packing_bin_contract(spark):
    # 40 docs with deterministic token counts across 4 shards
    rows = [(i, " ".join(["tok"] * (37 + (i * 13) % 150))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    packed = tx.pack_sequences(docs, capacity=256, n_shards=4).collect()
    by_bin = {}
    for r in packed:
        by_bin.setdefault((r.shard, r.bin), []).append(r)
    for (shard, b), members in by_bin.items():
        members.sort(key=lambda r: r.doc_id)
        total = sum(r.n_tokens for r in members)
        # greedy contract: without its last (overflow) doc the bin is
        # strictly under capacity; bins are dense per shard from 0
        assert total - members[-1].n_tokens < 256, (shard, b, total)
    shards = {s for s, _ in by_bin}
    for s in shards:
        bins = sorted(b for sh, b in by_bin if sh == s)
        assert bins == list(range(len(bins)))


def test_token_budget_sample_keeps_null_language(spark):
    """Documents with a NULL language form one quota group, as in
    Window.partitionBy: none is dropped, and each group's last running
    count is its token total."""
    docs = spark.createDataFrame(
        [(1, "a", "x y"), (2, "a", "x y z"), (3, None, "x"),
         (4, None, "x y z w")],
        "doc_id long, lang string, text string",
    )
    rows = tx.token_budget_sample(docs, budget_tokens=100).collect()
    assert sorted(r.doc_id for r in rows) == [1, 2, 3, 4]
    last = {}
    for r in rows:
        last[r.lang] = max(last.get(r.lang, 0), r.cum_tokens)
    assert last == {"a": 5, None: 5}
    # a budget of 1 keeps each group's first document only
    first = tx.token_budget_sample(docs, budget_tokens=1).collect()
    assert sorted(r.lang or "" for r in first) == ["", "a"]
    assert all(r.cum_tokens == r.n_tokens for r in first)


def test_benchmark_contamination_flags_planted_leak(spark):
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # full benchmark text behind a 2-token prefix -> contaminated
            (10, "leaked copy: alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            # clean doc, 10 tokens, zero 8-gram overlap
            (11, "one two three four five six seven eight nine ten"),
        ],
        "doc_id long, text string",
    )
    from data_pipeline_rsna_spark.operators.textanalysis import (
        benchmark_contamination,
    )

    rows = {r.doc_id: r for r in benchmark_contamination(train, bench, n=8).collect()}
    assert set(rows) == {10}  # clean doc joins away entirely
    r = rows[10]
    # prefixed doc: 12 tokens -> 5 distinct 8-grams, of which the 3
    # fully inside the original text all appear in the benchmark
    assert (r.n_shingles, r.n_overlap) == (5, 3)
    assert r.contam_ppm == 3 * 1_000_000 // 5


def test_bpe_first_merges_hand_corpus(spark):
    docs = spark.createDataFrame(
        [(1, "aaab aab"), (2, "ab ba")], "doc_id long, text string"
    )
    from data_pipeline_rsna_spark.operators.textanalysis import (
        bpe_first_merge_pairs,
    )

    got = [(r.pair, r.n) for r in bpe_first_merge_pairs(docs, k=3).collect()]
    # pairs: aaab -> aa,aa,ab ; aab -> aa,ab ; ab -> ab ; ba -> ba
    # deterministic order: count desc, then pair asc
    assert got == [("aa", 3), ("ab", 3), ("ba", 1)]


def test_mixture_resample_deterministic_and_subset_stable(spark):
    from data_pipeline_rsna_spark.operators.textanalysis import mixture_resample

    docs = spark.createDataFrame(
        [(i, f"src{i % 2}", "text " * 5) for i in range(200)],
        "doc_id long, source string, text string",
    )
    rates = {"src0": 1.0, "src1": 0.5}
    kept = {r.doc_id for r in mixture_resample(docs, rates).collect()}
    # rate 1.0 keeps every src0 doc
    assert all(i in kept for i in range(0, 200, 2))
    # src1 keeps roughly half, deterministically
    src1_kept = {i for i in kept if i % 2 == 1}
    assert 20 <= len(src1_kept) <= 80
    # subset stability: running on a half-corpus keeps exactly the
    # intersection — no membership flips from the missing rows
    half = docs.filter("doc_id < 100")
    kept_half = {r.doc_id for r in mixture_resample(half, rates).collect()}
    assert kept_half == {i for i in kept if i < 100}
    # unknown source is excluded under the default rate
    extra = spark.createDataFrame(
        [(1000, "srcX", "words here")], "doc_id long, source string, text string"
    )
    assert mixture_resample(extra, rates).count() == 0


def test_winnowing_guarantees_shared_fingerprint_for_shared_run(spark):
    """Winnowing's locality property: two docs sharing a 6-word run
    (shingle_n + window - 1 = 3 + 4 - 1) must share >= 1 selected
    hash; digests are deterministic and equal for identical docs."""
    shared = "alpha beta gamma delta epsilon zeta"
    docs = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five six"),
            (2, f"{shared} seven eight nine ten eleven twelve"),
            (3, f"one two three {shared} four five six"),  # exact dup of 1
            (4, "totally unrelated words with nothing in common at all here"),
        ],
        "doc_id long, text string",
    )
    from data_pipeline_rsna_spark.operators.textanalysis import (
        winnowing_fingerprints,
    )

    out = {r.doc_id: r for r in winnowing_fingerprints(docs).collect()}
    assert out[1].fp_digest == out[3].fp_digest  # identical docs
    assert out[1].n_fp >= 1 and out[4].fp_digest != out[1].fp_digest


def test_gopher_gates_reason_codes(spark):
    """Each rule trips on a purpose-built doc; reason = first failure
    in gate order; a clean doc gets null."""
    good = ("the cat and the dog sat in the warm sun today " * 6).strip()
    docs = spark.createDataFrame(
        [
            (1, good),                                  # clean: 60 words
            (2, "too short but the and of"),            # word_count
            (3, " ".join(["a"] * 60)),                  # mean_word_length (len 1)
            (4, " ".join(["1234"] * 48 + ["the", "a", "and"] * 4)),  # alpha
            (5, good + " " + " ".join(["####"] * 10)),  # symbol_ratio
            # (4-char hash runs keep the mean-length gate clear)
            (6, " ".join(["zorp" + str(i) for i in range(60)])),  # stopwords
        ],
        "doc_id long, text string",
    )
    flags = {
        r.doc_id: r.reason
        for r in tx.gopher_quality_flags(docs).collect()
    }
    assert flags[1] is None
    assert flags[2] == "word_count"
    assert flags[3] == "mean_word_length"
    assert flags[4] == "alpha_ratio"
    assert flags[5] == "symbol_ratio"
    assert flags[6] == "stopword_count"


def test_bpe_apply_hand_check(spark):
    from data_pipeline_rsna_spark.operators.textanalysis import bpe_apply

    df = spark.createDataFrame(
        [(1, "the thin tree"), (2, "zzz qqq")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_apply(df).collect()}
    # "the" -> t h e -> th e -> the (1); "thin" -> th in (2);
    # "tree" -> t r e e -> t re e (3)
    assert (out[1].n_words, out[1].n_chars, out[1].n_symbols) == (3, 11, 6)
    # no merge applies: symbols == chars
    assert (out[2].n_words, out[2].n_chars, out[2].n_symbols) == (2, 6, 6)


def test_bpe_apply_merges_reduce_monotonically(spark, sf_dir):
    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.operators.textanalysis import bpe_apply

    docs = tables.load(spark, sf_dir, "documents")
    out = bpe_apply(docs).collect()
    assert all(r.n_symbols <= r.n_chars for r in out)
    assert all(r.n_symbols >= r.n_words for r in out)
    # the English merge table must actually fire on English-ish text
    assert sum(r.n_symbols for r in out) < sum(r.n_chars for r in out)


def test_url_canonicalization_rules(spark):
    from data_pipeline_rsna_spark.operators import web

    raw = [
        # all four spellings of the same resource
        "HTTP://Example.COM:80/a/1/?b=2&a=1#frag",
        "http://example.com/a/1?a=1&b=2",
        "http://EXAMPLE.com:80/a/1",
        "http://example.com/a/1/",
        # distinct resources stay distinct
        "https://example.com/a/1",     # scheme differs
        "http://example.com/a/1?a=2",  # param value differs
        "http://example.com:8080/a/1", # non-default port kept
    ]
    df = spark.createDataFrame([(u,) for u in raw], "url string")
    out = {r.canonical_url: r for r in web.url_canonical_dedup(df).collect()}
    assert out["http://example.com/a/1?a=1&b=2"].n_raw == 2
    assert out["http://example.com/a/1"].n_raw == 2
    assert out["http://example.com/a/1"].n_variants == 2
    assert "https://example.com/a/1" in out
    assert "http://example.com/a/1?a=2" in out
    assert "http://example.com:8080/a/1" in out
    assert len(out) == 5


def test_url_root_path_normalization(spark):
    from data_pipeline_rsna_spark.operators import web

    df = spark.createDataFrame(
        [("https://Example.com:443",), ("https://example.com/",)],
        "url string",
    )
    out = web.url_canonical_dedup(df).collect()
    assert len(out) == 1
    assert out[0].canonical_url == "https://example.com/"
    assert out[0].n_raw == 2


def test_html_strip_rules(spark):
    from data_pipeline_rsna_spark.operators import web

    cases = [
        # script/style/comment contents must not leak
        ("<p>a</p><script>var x = '<b>no</b>';</script>b", "a b"),
        ("<STYLE>p{}</STYLE><P>Hi</P>", "Hi"),
        ("x<!-- <p>gone</p> -->y", "x y"),
        # uppercase + attributes
        ('<DIV CLASS="z">k</DIV>', "k"),
        # single-level entity decode: &amp;lt; is literal text "&lt;"
        ("a &amp;lt; b", "a &lt; b"),
        ("1 &lt; 2 &amp; 3 &gt; 2", "1 < 2 & 3 > 2"),
        ("it&#39;s &quot;q&quot;&nbsp;done", "it's \"q\" done"),
        # whitespace collapse + trim
        ("  <p> a </p>\n\t<p> b </p> ", "a b"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, html string"
    )
    got = {
        r.i: r.text
        for r in df.selectExpr(
            "i", f"{web.strip_html_expr('html')} AS text"
        ).collect()
    }
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]!r} != {want!r}"


def test_ngram_novelty_hand_computed(spark):
    """doc 1 and doc 2 share the trigram 'a b c'; each also has one
    unique trigram -> 50% novelty each. doc 3 is too short (2 tokens)
    and must drop out."""
    from data_pipeline_rsna_spark.operators import textanalysis as ta

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),   # trigrams: 'a b c', 'b c d'
            (2, "a b c e"),   # trigrams: 'a b c', 'b c e'
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ta.ngram_novelty(docs, n=3).collect()}
    assert set(out) == {1, 2}
    for d in (1, 2):
        assert (out[d].n_shingles, out[d].n_novel) == (2, 1)
        assert out[d].novelty_ppm == 500000


def test_unigram_doc_surprisal_rare_scores_higher(spark):
    """A doc of corpus-unique tokens must out-score a doc of repeated
    common tokens, and the all-same-token corpus-of-one-word case is
    exactly ln(T) - ln(T) = 0."""
    from data_pipeline_rsna_spark.operators import textanalysis as ta

    docs = spark.createDataFrame(
        [
            (1, "common common common common"),
            (2, "rareword1 rareword2 rareword3 rareword4"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ta.unigram_doc_surprisal(docs).collect()}
    assert out[2].surprisal_micro > out[1].surprisal_micro
    # doc 1: tokens all 'common' with c=4, T=8: ln(8)-ln(4) = ln 2
    import math
    assert out[1].surprisal_micro == round(math.log(8) * 1e6) - round(
        math.log(4) * 1e6
    )
    # doc 2: each c=1 -> surprisal = ln(8) exactly
    assert out[2].surprisal_micro == round(math.log(8) * 1e6)


def test_vocab_coverage_hand_computed(spark):
    """Corpus 'a'x5 'b'x3 'c'x1 'd'x1: top-1 covers 5/10, top-2 8/10,
    top-3 9/10 (ties broken by token order: c before d)."""
    from data_pipeline_rsna_spark.operators import textanalysis as ta

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a a b d")], "doc_id long, text string"
    )
    out = {r.k: r for r in ta.vocab_coverage(docs, ks=(1, 2, 3)).collect()}
    assert (out[1].covered_types, out[1].covered_mass, out[1].mass_ppm) == (
        1, 5, 500000,
    )
    assert (out[2].covered_mass, out[2].mass_ppm) == (8, 800000)
    assert (out[3].covered_mass, out[3].mass_ppm) == (9, 900000)


def test_collocations_pmi_ranks_true_phrase_first(spark):
    """'neural network' always co-occurs; 'the cat'/'the dog' share the
    stopword 'the' — the dedicated phrase must out-PMI the stopword
    bigrams, with the exact micro-nat value."""
    import math

    from data_pipeline_rsna_spark.operators import textanalysis as ta

    rows = [(i, "neural network beats the cat and the dog often")
            for i in range(6)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ta.collocations_pmi(docs, min_count=5, top_n=8).collect()
    pmis = {(r.a, r.b): r.pmi_micro for r in out}
    # counts: c_ab=6, c_a=c_b=6, M=6*8=48, N=6*9=54
    expect = (round(math.log(6) * 1e6) - round(math.log(48) * 1e6)
              - 2 * round(math.log(6) * 1e6) + 2 * round(math.log(54) * 1e6))
    assert pmis[("neural", "network")] == expect
    # every pair free of the doubled stopword ties at the top —
    # alphabetical tiebreak puts ('cat','and') first deterministically
    assert (out[0].a, out[0].b) == ("cat", "and")
    assert out[0].pmi_micro == expect
    # any pair touching 'the' (c=12) scores strictly lower
    assert pmis[("the", "cat")] < expect


def test_naive_bayes_separable_corpus_perfect_diagonal(spark):
    """On a corpus whose classes use disjoint vocabularies, the NB
    confusion matrix must be exactly diagonal, and every test doc must
    appear exactly once."""
    rows = []
    for i in range(20):
        lang = "aa" if i % 2 == 0 else "bb"
        word = "alpha" if lang == "aa" else "beta"
        rows.append((i, f"{word} {word} common", lang))
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = tx.naive_bayes_lang_confusion(docs).collect()
    got = {(r.lang_true, r.lang_pred): r.n for r in out}
    n_test = sum(1 for i in range(20) if i % 5 == 4)
    assert sum(got.values()) == n_test
    assert all(t == p for (t, p) in got)


def test_dsir_weights_rank_target_like_docs_higher(spark):
    """Docs wording-identical to the target slice must outscore docs
    made of tokens the target slice never uses; a brute-force python
    rederivation pins the exact micro-nat value."""
    import hashlib
    import math

    rows = [
        (1, "alpha beta gamma alpha", "en"),
        (2, "alpha beta beta gamma", "en"),
        (3, "zulu yankee xray won", "de"),
        (4, "alpha beta gamma gamma", "de"),  # target-like, non-target
        (5, "zulu zulu yankee xray", "de"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r.doc_id: r
        for r in tx.dsir_importance_weights(docs, "lang = 'en'").collect()
    }

    def bkt(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:4], 16) % 256

    c_raw, c_t = {}, {}
    for _, text, lang in rows:
        for w in text.lower().split():
            b = bkt(w)
            c_raw[b] = c_raw.get(b, 0) + 1
            if lang == "en":
                c_t[b] = c_t.get(b, 0) + 1
    t_raw, t_t = sum(c_raw.values()), sum(c_t.values())
    ln_micro = lambda x: round(math.log(x) * 1_000_000)  # noqa: E731
    const = ln_micro(t_raw + 256) - ln_micro(t_t + 256)
    for doc_id, text, _ in rows:
        want = sum(
            ln_micro(c_t.get(bkt(w), 0) + 1) - ln_micro(c_raw[bkt(w)] + 1)
            for w in text.lower().split()
        ) + len(text.split()) * const
        assert got[doc_id].dsir_weight_micro == want, doc_id
    # ordering: target-vocab docs above never-in-target vocab docs
    assert got[4].dsir_weight_micro > got[5].dsir_weight_micro
    assert got[1].dsir_weight_micro > got[3].dsir_weight_micro


def test_rake_keyphrases_hand_computed(spark):
    """Worked RAKE example: two docs sharing a phrase; degree/freq per
    word and the phrase ranking rederived by hand."""
    docs = spark.createDataFrame(
        [
            (1, "deep learning models the fast gpu"),
            (2, "deep learning a fast gpu"),
        ],
        "doc_id long, text string",
    )
    out = {r.phrase: r for r in tx.rake_keyphrases(docs, top_k=10).collect()}
    # phrases: doc1: "deep learning models" (len 3), "fast gpu" (2)
    #          doc2: "deep learning" (2), "fast gpu" (2)
    # freq: deep 2, learning 2, models 1, fast 2, gpu 2
    # degree: deep 3+2=5, learning 5, models 3, fast 4, gpu 4
    w = {
        "deep": (1_000_000 * 5) // 2,
        "learning": (1_000_000 * 5) // 2,
        "models": (1_000_000 * 3) // 1,
        "fast": (1_000_000 * 4) // 2,
        "gpu": (1_000_000 * 4) // 2,
    }
    assert out["deep learning models"].score_ppm == (
        w["deep"] + w["learning"] + w["models"]
    )
    assert out["fast gpu"].score_ppm == w["fast"] + w["gpu"]
    assert out["fast gpu"].n_occurrences == 2
    assert out["deep learning"].score_ppm == w["deep"] + w["learning"]
    # longest composed phrase outranks its sub-phrase
    assert (out["deep learning models"].score_ppm
            > out["deep learning"].score_ppm)
