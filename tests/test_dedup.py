"""Dedup family: planted-duplicate goldens + blocking-completeness."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "quick brown fox jumps over the lazy dog near the river bank"),  # near dup (first tok dropped)
    (4, "completely different words about spark query engines and shuffles today"),
    (5, "another unrelated document mentioning joins aggregates and window functions"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


_BASE = ("the quick brown fox jumps over the lazy dog near the river bank "
         "while seven small birds watch from an old oak tree")


def _small_corpus():
    """25 documents for the fast-tier parity cases: a 3-member
    exact-duplicate class (1, 2, 9), a near-duplicate of it (4, one
    word changed), twins too short to shingle (30, 31) and 19 filler
    documents drawn from a seeded 300-word vocabulary."""
    import random

    rng = random.Random(25)
    vocab = [f"w{k}" for k in range(300)]
    return [
        (1, _BASE), (2, _BASE), (9, _BASE),
        (4, _BASE.replace("oak", "elm")),
        (30, "tiny doc"), (31, "tiny doc"),
    ] + [(100 + i, " ".join(rng.sample(vocab, 12))) for i in range(19)]


SMALL = _small_corpus()


def _exact_dup_pairs(rows, min_words=1):
    """(a, b), a < b, of documents with identical text and at least
    ``min_words`` words."""
    return {
        (a, b)
        for a, ta in rows
        for b, tb in rows
        if a < b and ta == tb and len(ta.split()) >= min_words
    }


@pytest.mark.slow
def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs).filter(F.col("n_copies") > 1).collect()
    assert len(groups) == 1
    assert groups[0].n_copies == 2 and groups[0].keeper_id == 1
    kept = dedup.exact_dedup(docs)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3, 4, 5]


@pytest.mark.slow
def test_minhash_finds_planted_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    }
    assert (1, 2) in pairs  # exact dups always collide on every band
    assert (1, 3) in pairs or (2, 3) in pairs  # near-dup found
    assert not any({a, b} == {4, 5} for a, b in pairs)  # unrelated not paired


@pytest.mark.slow
def test_simhash_blocking_equals_bruteforce(docs):
    sig = {r.doc_id: r.simhash for r in dedup.simhash(docs).collect()}
    brute = {
        (a, b): bin(sig[a] ^ sig[b]).count("1")
        for a in sig
        for b in sig
        if a < b and bin(sig[a] ^ sig[b]).count("1") <= 3
    }
    blocked = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert blocked == brute  # pigeonhole blocking loses no pairs
    assert blocked[(1, 2)] == 0  # exact dup -> identical signature


def test_ngram_jaccard(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # doc3 = doc1 minus first token: shares all but one 3-gram shingle
    assert pairs[(1, 3)] > 0.8
    assert all({a, b} != {4, 5} for a, b in pairs)


def _shingle_sets(rows, n=3):
    """Python reference: each document's distinct word ``n``-shingles;
    documents shorter than ``n`` words have none."""
    out = {}
    for d, text in rows:
        ws = text.lower().split()
        if len(ws) >= n:
            out[d] = {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}
    return out


def _round6(x):
    """Half-up rounding to 6 decimals of the value's shortest decimal
    form, as the oracle SQL's round does."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


# On SMALL, the near-duplicate 4 shares 19 of its 21 shingles with each
# member of the class 1/2/9: Jaccard 19/23 and containment 19/21 both
# lie just below their 6-decimal roundings, which these thresholds are,
# so those pairs are kept only because they round up onto them.
@pytest.mark.parametrize("rows,threshold", [
    pytest.param(SMALL, 0.826087, id="small"),
    pytest.param(DOCS, 0.5, id="planted", marks=pytest.mark.slow),
])
def test_ngram_jaccard_brute_force_parity(spark, rows, threshold):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): (r.shared, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=threshold
        ).collect()
    }
    sets = _shingle_sets(rows)
    want = {}
    for a in sets:
        for b in sets:
            ov = len(sets[a] & sets[b])
            j = _round6(ov / len(sets[a] | sets[b]))
            if a < b and j >= threshold:
                want[(a, b)] = (ov, j)
    assert got == want
    dups = _exact_dup_pairs(rows, min_words=3)
    assert dups and all(got[p] == (len(sets[p[0]]), 1.0) for p in dups)
    if rows is SMALL:
        assert 19 / 23 < threshold and got[(1, 4)] == (19, threshold)
        assert not any(set(p) & {30, 31} for p in got)


@pytest.mark.parametrize("rows,threshold", [
    pytest.param(SMALL, 0.904762, id="small"),
    pytest.param(DOCS, 0.8, id="planted", marks=pytest.mark.slow),
])
def test_ngram_containment_brute_force_parity(spark, rows, threshold):
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_small, r.doc_big): (r.shared, r.containment)
        for r in dedup.ngram_containment_pairs(
            docs, threshold=threshold
        ).collect()
    }
    sets = _shingle_sets(rows)
    want = {}
    for a in sets:
        for b in sets:
            ov = len(sets[a] & sets[b])
            c = _round6(ov / len(sets[a]))
            if a != b and c >= threshold:
                want[(a, b)] = (ov, c)
    assert got == want
    # directed: both orders of every exact-duplicate pair
    dups = _exact_dup_pairs(rows, min_words=3)
    assert dups and all(
        got[(a, b)] == got[(b, a)] == (len(sets[a]), 1.0) for a, b in dups
    )
    if rows is SMALL:
        assert {(1, 2), (1, 9), (2, 9)} <= dups
        assert 19 / 21 < threshold and got[(4, 1)] == (19, threshold)
        assert not any(set(p) & {30, 31} for p in got)


def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4 (diameter 3) + disjoint pair 10-11
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "doc_a long, doc_b long"
    )
    comps = {
        r.node: r.component
        for r in dedup.connected_components(edges).collect()
    }
    assert comps == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_dedup_clusters_planted(spark):
    rows = [(i, f"alpha beta gamma delta epsilon zeta {i}") for i in range(8)]
    # 100/101 share almost-identical long text with 0 and with each other
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows += [(100, base), (101, base + " extra"), (102, base + " more words")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.dedup_clusters(docs)
    got = {r.doc_id: (r.component, r.is_keeper) for r in out.collect()}
    # the three near-identical docs form one cluster with keeper 100
    assert got[100] == (100, True)
    assert got[101][0] == 100 and not got[101][1]
    assert got[102][0] == 100 and not got[102][1]


def test_minhash_mega_bucket_guard_bounds_pairs(spark):
    """A degenerate bucket (10k identical docs surviving upstream dedup,
    the boilerplate-crawl shape) must not fan out k^2 pairs: with
    max_bucket=B only the B smallest ids per (band, band_hash) bucket
    pair up — bounded BEFORE the collect, so the hot reducer holds <= B
    ids — and every emitted pair is flagged capped for accounting."""
    n, b = 10_000, 64
    mega = [(i, "all your base are belong to us again and again") for i in range(n)]
    normal = [
        (100_000, "a perfectly ordinary document about spark physical plans"),
        (100_001, "a perfectly ordinary document about spark physical plans"),
    ]
    docs = spark.createDataFrame(mega + normal, "doc_id long, text string")
    out = dedup.minhash_lsh_candidates(docs, max_bucket=b).collect()
    assert set(r.capped for r in out) == {True, False}
    mega_pairs = [r for r in out if r.doc_a < 100_000]
    # identical docs agree on every band, so the six band buckets emit the
    # same B-choose-2 id pairs, merged by the final groupBy
    assert len(mega_pairs) == b * (b - 1) // 2
    assert all(r.capped and r.doc_a < b and r.doc_b < b for r in mega_pairs)
    assert all(r.n_shared_bands == 6 for r in mega_pairs)
    # the well-behaved bucket is untouched and unflagged
    small = [r for r in out if r.doc_a >= 100_000]
    assert [(r.doc_a, r.doc_b, r.capped) for r in small] == [
        (100_000, 100_001, False)
    ]
    # uncapped default keeps the exact (oracle-checked) schema
    assert "capped" not in dedup.minhash_lsh_candidates(docs).columns


@pytest.mark.slow
def test_image_dhash_invariant_to_brightness_twins(spark):
    """dHash groups a brightness-shifted twin with its source (order-
    preserving pixel transform, no saturation at mod-200), while the
    exact byte hash separates them — the property that makes dHash the
    image-side near-dup key."""
    from pyspark.sql import functions as SF

    from data_pipeline_rsna_spark.operators import multimodal as mm

    base = mm.synth_images(spark, n=30, mod=200)
    twins = mm.apply_kernel(
        base.filter(SF.col("img_id") % 10 == 0).withColumn(
            "img_id", SF.col("img_id") + 10000
        ),
        "brighten",
    )
    hashes = mm.dhash_images(base.unionByName(twins))
    by_id = {r.img_id: r.dhash for r in hashes.collect()}
    for src in (0, 10, 20):
        assert by_id[src] == by_id[10000 + src]
        assert len(by_id[src]) == 64 and set(by_id[src]) <= {"0", "1"}


def test_incremental_matches_index_docs_with_higher_ids(spark):
    """Collisions with corpus-index docs must count regardless of id
    order — only within-batch matches use the earlier-id rule. An index
    doc with a HIGHER id than the new doc is still prior art."""
    from data_pipeline_rsna_spark.operators import dedup

    text = "the quick brown fox jumps over the lazy dog again and again"
    existing = spark.createDataFrame(
        [(999_999, text)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(5, text), (6, "completely different words with no overlap xyz")],
        "doc_id long, text string",
    )
    index_bands = dedup.lsh_band_buckets(
        dedup.minhash_signatures(existing, num_hashes=12, shingle_n=3),
        num_hashes=12,
        rows_per_band=2,
    )
    got = {
        r.doc_id: r.matched_id
        for r in dedup.incremental_minhash_matches(
            index_bands, batch, num_hashes=12, rows_per_band=2, shingle_n=3
        ).collect()
    }
    assert got.get(5) == 999_999  # index doc counts despite higher id
    assert 6 not in got


@pytest.mark.slow
def test_incremental_matches_against_persisted_index(spark, tmp_path):
    """The documented ingest shape end-to-end: the band index WRITTEN
    partitionBy(band) to parquet and read back must yield the same
    matches as the in-memory index — the corpus is never re-hashed."""
    from data_pipeline_rsna_spark.operators import dedup

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    text_b = "one two three four five six seven eight nine ten eleven"
    existing = spark.createDataFrame(
        [(1, text_a), (2, text_b)], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(100, text_a), (101, "unrelated words entirely distinct corpus")],
        "doc_id long, text string",
    )
    bands = dedup.lsh_band_buckets(
        dedup.minhash_signatures(existing, num_hashes=12, shingle_n=3),
        num_hashes=12,
        rows_per_band=2,
    )
    layout = str(tmp_path / "band_index")
    bands.write.mode("overwrite").partitionBy("band").parquet(layout)
    persisted = spark.read.parquet(layout).select(
        "doc_id", "band", "band_hash"
    )

    def run(idx):
        return {
            r.doc_id: (r.matched_id, r.n_matched_docs)
            for r in dedup.incremental_minhash_matches(
                idx, batch, num_hashes=12, rows_per_band=2, shingle_n=3
            ).collect()
        }

    from_disk = run(persisted)
    in_mem = run(bands)
    assert from_disk == in_mem
    assert from_disk.get(100) == (1, 1)
    assert 101 not in from_disk


def test_duplicate_spans_shared_run(spark):
    from data_pipeline_rsna_spark.operators import dedup

    rows = [
        (1, "a b c d e f g h i j"),
        (2, "x1 x2 a b c d e f g y1"),
        (3, "p q r s t u v w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.duplicate_spans(docs, window=5).collect()}
    # docs 1 and 2 share the 7-token run "a b c d e f g": three 5-token
    # windows each, merged into ONE span of 7 tokens; doc 3 clean
    assert set(got) == {1, 2}
    for d in (1, 2):
        assert got[d].n_spans == 1
        assert got[d].n_dup_windows == 3
        assert got[d].covered_tokens == 7
        assert got[d].max_span_tokens == 7


def test_duplicate_spans_two_islands(spark):
    from data_pipeline_rsna_spark.operators import dedup

    # two shared 5-token runs separated by >5 unique tokens -> 2 spans
    shared_a = "a b c d e"
    shared_b = "v w x y z"
    rows = [
        (1, f"{shared_a} f1 f2 f3 f4 f5 f6 f7 {shared_b}"),
        (2, f"{shared_a} g1 g2 g3 g4 g5 g6 g7 {shared_b}"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dedup.duplicate_spans(docs, window=5).collect()}
    assert got[1].n_spans == 2 and got[2].n_spans == 2
    assert got[1].covered_tokens == 10
    assert got[1].max_span_tokens == 5


def test_duplicate_spans_exact_dup_covers_whole_doc(spark):
    from data_pipeline_rsna_spark.operators import dedup

    text = " ".join(f"t{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in dedup.duplicate_spans(docs, window=5).collect()}
    # identical 12-token docs: every window duplicated, one span = doc
    for d in (1, 2):
        assert got[d].n_spans == 1
        assert got[d].covered_tokens == 12
        assert got[d].n_dup_windows == 8


def _spans_reference(docs, window=5, min_count=2):
    """Pure-Python reference of duplicate_spans' definition: window
    hashes, corpus-wide occurrence counts, per-doc gap<=window merge."""
    from collections import Counter

    toks = {d: t.lower().split() for d, t in docs}
    wins = {
        d: [tuple(ws[p:p + window]) for p in range(len(ws) - window + 1)]
        for d, ws in toks.items() if len(ws) >= window
    }
    counts = Counter(w for ws in wins.values() for w in ws)
    out = {}
    for d, ws in wins.items():
        pos = [p for p, w in enumerate(ws) if counts[w] >= min_count]
        if not pos:
            continue
        spans = []
        for p in pos:
            if spans and p - spans[-1][1] <= window:
                spans[-1] = (spans[-1][0], p, spans[-1][2] + 1)
            else:
                spans.append((p, p, 1))
        covered = [e + window - 1 - s + 1 for s, e, _ in spans]
        out[d] = (
            len(spans),
            sum(n for _, _, n in spans),
            sum(covered),
            max(covered),
        )
    return out


@pytest.mark.slow
def test_duplicate_spans_matches_reference_on_random_corpora(spark):
    """Differential test on low-vocabulary random corpora (tiny vocab
    forces genuine cross-doc window collisions in every example)."""
    import random

    from data_pipeline_rsna_spark.operators import dedup

    rng = random.Random(20260814)
    for trial in range(4):
        docs = [
            (i, " ".join(rng.choice("a b c d".split()) for _ in range(rng.randint(3, 30))))
            for i in range(30)
        ]
        want = _spans_reference(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_spans, r.n_dup_windows, r.covered_tokens,
                       r.max_span_tokens)
            for r in dedup.duplicate_spans(df, window=5).collect()
        }
        assert got == want, f"trial {trial}"


def test_remove_duplicate_spans_keeps_first_occurrence(spark):
    import hashlib

    from data_pipeline_rsna_spark.operators import dedup

    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),
        (3, "x1 x2 a b c d e f"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r
        for r in dedup.remove_duplicate_spans(docs, window=5).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1 is the keeper of every duplicated window: untouched
    assert got[1].n_removed == 0
    assert got[1].clean_hash == md5("a b c d e f")
    # doc 2 is fully covered by non-keeper windows: emptied
    assert got[2].n_removed == 6
    assert got[2].clean_hash == md5("")
    # doc 3 loses the shared 6-token run, keeps its prefix
    assert got[3].n_removed == 6
    assert got[3].clean_hash == md5("x1 x2")


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    from data_pipeline_rsna_spark.operators import dedup

    small = "a b c d e"
    big = small + " " + " ".join(f"f{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    cont = dedup.ngram_containment_pairs(docs, threshold=0.8).collect()
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    # every shingle of the small doc appears in the big one
    assert [(r.doc_small, r.doc_big, r.containment) for r in cont] == [
        (1, 2, 1.0)
    ]
    # but symmetric Jaccard is 3/43 — far below any dedup threshold
    assert jac == []


def _removal_reference(docs, window=5, min_count=2):
    """Pure-Python reference of remove_duplicate_spans: first (doc, pos)
    occurrence of each duplicated window survives; other occurrences'
    token ranges are deleted."""
    import hashlib
    from collections import defaultdict

    toks = {d: t.lower().split() for d, t in docs}
    occ = defaultdict(list)
    for d in sorted(toks):
        ws = toks[d]
        for p in range(len(ws) - window + 1):
            occ[tuple(ws[p:p + window])].append((d, p))
    removed = defaultdict(set)
    for positions in occ.values():
        if len(positions) >= min_count:
            for d, p in positions[1:]:  # keeper = first in (doc, pos)
                removed[d].update(range(p, p + window))
    out = {}
    for d, ws in toks.items():
        kept = [w for i, w in enumerate(ws) if i not in removed[d]]
        out[d] = (
            len(ws),
            len(ws) - len(kept),
            hashlib.md5(" ".join(kept).encode()).hexdigest(),
        )
    return out


@pytest.mark.slow
def test_remove_duplicate_spans_matches_reference(spark):
    import random

    from data_pipeline_rsna_spark.operators import dedup

    rng = random.Random(20260815)
    for trial in range(3):
        docs = [
            (i, " ".join(rng.choice("a b c d".split())
                         for _ in range(rng.randint(3, 25))))
            for i in range(25)
        ]
        want = _removal_reference(docs)
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.n_tokens, r.n_removed, r.clean_hash)
            for r in dedup.remove_duplicate_spans(df, window=5).collect()
        }
        assert got == want, f"trial {trial}"


def test_lsh_bucket_histogram_accounts_all_docs(spark):
    """Histogram invariants on a corpus with exact duplicate pairs:
    per band, sum(bucket_size * n_buckets) == number of shingled docs,
    and identical docs must land in a size>=2 bucket in EVERY band."""
    from data_pipeline_rsna_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different document about spark engines"),
            (4, "yet another unrelated piece of text entirely here"),
        ],
        "doc_id long, text string",
    )
    hist = dedup.lsh_bucket_histogram(
        docs, num_hashes=12, rows_per_band=2, shingle_n=3
    ).collect()
    per_band = {}
    for r in hist:
        per_band.setdefault(r.band, []).append(r)
    assert len(per_band) == 6
    for band, rows in per_band.items():
        assert sum(r.bucket_size * r.n_buckets for r in rows) == 4
        assert any(r.bucket_size >= 2 for r in rows), band


@pytest.mark.parametrize("texts", [
    pytest.param(dict(SMALL), id="small"),
    pytest.param({
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma delta epsilon",        # exact dup of 1
        3: "alpha beta gamma delta zeta",            # j=4/6 with 1
        4: "totally different words here now",
        5: "alpha beta gamma delta epsilon eta",     # j=5/6 with 1
    }, id="planted", marks=pytest.mark.slow),
])
def test_prefix_filter_jaccard_equals_full_inverted_index(spark, texts):
    """Prefix-filter blocking must lose NOTHING: on a corpus with
    planted high-overlap pairs, the result equals the brute-force
    token-Jaccard over all pairs (python reference), including exact
    duplicates (j=1.0) and a pair exactly at the threshold boundary."""
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    t = 0.66
    got = {
        (r.doc_a, r.doc_b): (r.overlap, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, threshold=t
        ).collect()
    }
    expected = {}
    sets = {k: set(v.lower().split()) for k, v in texts.items()}
    for a in sorted(sets):
        for b in sorted(sets):
            if a < b:
                ov = len(sets[a] & sets[b])
                j = round(ov / len(sets[a] | sets[b]), 6)
                if j >= t:
                    expected[(a, b)] = (ov, j)
    assert got == expected
    dups = _exact_dup_pairs(texts.items())
    assert (1, 2) in dups
    assert all(got[p][1] == 1.0 for p in dups)


_TFIDF_PLANTED = [
    (1, "red fox jumps over the lazy dog tonight"),
    (2, "red fox jumps over the lazy dog today"),   # near-copy of 1
    (3, "completely different words appear here now"),
    (4, "red fox jumps over the lazy dog tonight"),  # exact copy of 1
]


@pytest.mark.parametrize("rows", [
    pytest.param(SMALL, id="small"),
    pytest.param(_TFIDF_PLANTED, id="planted", marks=pytest.mark.slow),
])
def test_tfidf_cosine_pairs_brute_force_parity(spark, rows):
    """Exact python rederivation (weights, norms, threshold, ppm) on a
    small corpus with planted exact and near copies and unrelated
    docs."""
    import math
    from collections import Counter

    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.cosine_ppm
        for r in dedup.tfidf_cosine_pairs(
            docs, threshold_num=4, threshold_den=5, shingle_n=3
        ).collect()
    }

    def sh(text):
        ws = text.lower().split()
        return [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]

    tf = {d: Counter(sh(t)) for d, t in rows}
    df = Counter(term for c in tf.values() for term in c)
    n = sum(1 for c in tf.values() if c)  # docs with no term are not counted
    lnn = round(math.log(n) * 1000)
    w = {
        d: {
            term: c * (lnn - round(math.log(df[term]) * 1000))
            for term, c in cnt.items()
            if c * (lnn - round(math.log(df[term]) * 1000)) > 0
        }
        for d, cnt in tf.items()
    }
    n2 = {d: sum(x * x for x in ws_.values()) for d, ws_ in w.items()}
    want = {}
    for a in tf:
        for b in tf:
            if a >= b or not n2.get(a) or not n2.get(b):
                continue
            dot = sum(w[a][t] * w[b][t] for t in w[a] if t in w[b])
            if 25 * dot * dot >= 16 * n2[a] * n2[b]:
                want[(a, b)] = math.floor(
                    1_000_000 * dot / (math.sqrt(n2[a]) * math.sqrt(n2[b]))
                )
    assert got == want
    # exact copies score cosine 1 (up to the display floor)
    dups = _exact_dup_pairs(rows, min_words=3)
    assert dups and all(got[p] in (999_999, 1_000_000) for p in dups)
    if rows is _TFIDF_PLANTED:
        # TF-IDF semantics: the near-copy's two UNSHARED tail shingles
        # are corpus-unique (df=1, max idf) and outweigh the shared
        # df=3 shingles, so (1,2) correctly falls BELOW t=0.8 — exactly
        # the re-weighting that distinguishes this operator from set
        # Jaccard (which scores the same pair 5/7)
        assert (1, 2) not in got
        assert not any(3 in p for p in got)  # unrelated doc pairs with no one


@pytest.mark.slow
def test_tfidf_cosine_pairs_partition_invariant(spark):
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon w{i % 4} z{i % 3}")
         for i in range(24)],
        "doc_id long, text string",
    )
    a = sorted(map(tuple, dedup.tfidf_cosine_pairs(
        docs, 3, 4, shingle_n=3).collect()))
    b = sorted(map(tuple, dedup.tfidf_cosine_pairs(
        docs.repartition(7), 3, 4, shingle_n=3).collect()))
    assert a == b and len(a) > 0


def test_prefix_filter_identical_set_collapse(spark):
    """Three docs with the SAME token set (different order/multiplicity)
    plus one overlapping doc: the collapse path must emit all C(3,2)
    within-class pairs at Jaccard exactly 1 and verify the cross pair
    once — the output-optimal contract."""
    docs = spark.createDataFrame(
        [
            (1, "red fox lazy dog"),
            (5, "dog lazy fox red red"),   # same SET as 1
            (9, "fox red dog lazy"),       # same SET as 1
            (3, "red fox lazy dog extra"),  # J = 4/5 with the class
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_a, r.doc_b): (r.overlap, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, threshold=0.75
        ).collect()
    }
    # within-class: (1,5), (1,9), (5,9) at overlap 4, jaccard 1.0
    for pair in [(1, 5), (1, 9), (5, 9)]:
        assert out[pair] == (4, 1.0), pair
    # cross pairs: doc 3 vs every class member, verified once, J=0.8
    for pair in [(1, 3), (3, 5), (3, 9)]:
        assert out[pair] == (4, 0.8), pair
    assert len(out) == 6


@pytest.mark.slow
def test_pair_expansion_distributed_no_pair_array(spark):
    """Scale contract: member-pair expansion is a streamed self-join,
    never a per-row pair array, so the physical plan of every pair
    operator contains NO `flatten` (a flattened N²/2 struct array built
    inside ONE task is an OOM cliff on a mega-duplicate class), and no
    join runs as a nested loop without a row-bounded side."""
    from data_pipeline_rsna_spark.plans.audit import (
        unbounded_nested_loop_joins,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta") for i in range(50)]
        + [(50, "alpha beta gamma zeta")],
        "doc_id long, text string",
    )
    for out in (
        dedup.prefix_filter_jaccard_pairs(docs, threshold=0.6),
        dedup.tfidf_cosine_pairs(docs, 4, 5, shingle_n=None),
        dedup.ngram_jaccard_pairs(docs, threshold=0.5),
        dedup.ngram_containment_pairs(docs, threshold=0.8),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "flatten" not in plan
        assert unbounded_nested_loop_joins(out) == []


def test_prefix_filter_max_class_caps_mega_duplicate_class(spark):
    """A planted 10^4-member duplicate class with max_class=32: only the
    32 smallest ids expand (C(32,2) within pairs + 32 cross pairs), every
    emitted pair carries capped=True, and the representative (min id) is
    always inside the kept set."""
    n = 10_000
    rows = [(i, "alpha beta gamma delta") for i in range(n)] + [
        (n, "alpha beta gamma zeta")  # J = 3/5 with the class
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.prefix_filter_jaccard_pairs(
        docs, threshold=0.6, max_class=32
    ).collect()
    within = [r for r in out if r.jaccard == 1.0]
    cross = [r for r in out if r.jaccard != 1.0]
    assert len(within) == 32 * 31 // 2
    assert {r.doc_a for r in within} | {r.doc_b for r in within} == set(
        range(32)
    )
    assert all(r.capped for r in within)
    # cross side: 32 kept members x the singleton doc; the singleton's
    # class did not overflow but the mega class did -> capped=True
    assert len(cross) == 32 and all(r.capped for r in cross)
    assert all(r.doc_b == n for r in cross)


@pytest.mark.parametrize("rows", [
    pytest.param(SMALL, id="small"),
    pytest.param([
        (1, "red fox lazy dog"),
        (5, "dog lazy fox red red"),
        (9, "fox red dog lazy"),
        (3, "red fox lazy dog extra"),
        (7, "totally different words here"),
    ], id="planted", marks=pytest.mark.slow),
])
def test_max_class_large_enough_matches_uncapped(spark, rows):
    """max_class >= every class size must reproduce the uncapped output
    exactly, with capped=False everywhere (both operators)."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    base = sorted(
        (r.doc_a, r.doc_b, r.overlap, r.jaccard)
        for r in dedup.prefix_filter_jaccard_pairs(docs, 0.75).collect()
    )
    capped = dedup.prefix_filter_jaccard_pairs(
        docs, 0.75, max_class=1000
    ).collect()
    assert base
    assert sorted((r.doc_a, r.doc_b, r.overlap, r.jaccard) for r in capped) == base
    assert not any(r.capped for r in capped)
    base_t = sorted(
        (r.doc_a, r.doc_b, r.cosine_ppm)
        for r in dedup.tfidf_cosine_pairs(docs, 4, 5, shingle_n=None).collect()
    )
    capped_t = dedup.tfidf_cosine_pairs(
        docs, 4, 5, shingle_n=None, max_class=1000
    ).collect()
    assert base_t
    assert sorted((r.doc_a, r.doc_b, r.cosine_ppm) for r in capped_t) == base_t
    assert not any(r.capped for r in capped_t)


def test_tfidf_max_class_caps_mega_class(spark):
    """tfidf twin of the mega-class cap: 10^3-member class, max_class=16
    -> C(16,2) within pairs, all capped."""
    rows = [(i, "red fox lazy dog") for i in range(1000)] + [
        (1000, "blue whale swims deep")  # keeps df < N so idf > 0
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.tfidf_cosine_pairs(
        docs, 4, 5, shingle_n=None, max_class=16
    ).collect()
    assert len(out) == 16 * 15 // 2
    assert all(r.capped and r.cosine_ppm == 1_000_000 for r in out)


def test_tfidf_collapse_key_injective_on_control_char_tokens(spark):
    """Tokens may legally contain \\x01/\\x02 (Java \\s excludes
    control chars), so the collapse key must not merge distinct term
    multisets whose raw concatenations collide. Doc 1's single token
    'a\\x021\\x01b' must NOT collapse with doc 2's tokens {a, b} (tf 1
    each): a key that concatenates raw terms and counts with those
    control chars as separators gives both the same pre-md5 string."""
    docs = spark.createDataFrame(
        [(1, "a\x021\x01b"), (2, "a b")], "doc_id long, text string"
    )
    out = dedup.tfidf_cosine_pairs(docs, 1, 100, shingle_n=None).collect()
    # threshold 0.01: any within-class pair (cosine 1) would surface;
    # distinct docs share no term, so cosine undefined/0 -> no pair
    assert out == []


_MH_BASE = ("the quick brown fox jumps over the lazy dog near the "
            "river bank today")
_MH_NEAR = _MH_BASE.replace("today", "tonight")


@pytest.mark.parametrize("rows", [
    pytest.param(SMALL, id="small"),
    pytest.param(
        [(100 + i, _MH_BASE) for i in range(6)]
        + [(200 + i, _MH_NEAR) for i in range(3)]
        + [
            (300, "tiny doc"),              # < shingle_n words:
            (301, "tiny doc"),              # excluded even as twins
            (400, "completely different content about catalyst "
                  "optimizer internals"),
            (402, _MH_NEAR + " extra trailing words changing some "
                  "shingles slightly"),
        ],
        id="planted", marks=pytest.mark.slow,
    ),
])
def test_minhash_collapsed_equals_uncollapsed(spark, rows):
    """minhash_lsh_candidates_collapsed must reproduce the uncollapsed
    candidate set PAIR-FOR-PAIR (ids and n_shared_bands): identical
    word sequences share every band, cross-class member pairs inherit
    their reps' shared-band count, and sub-shingle-length classes are
    excluded from both forms. Mixed corpus: identical classes that
    are near-dups of each other, short twins, uniques, a partial
    near-dup."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_lsh_candidates_collapsed(docs).collect()
    )
    assert a == b
    # every exact-duplicate pair long enough to shingle shares all 6
    # bands; the short twins pair in neither form
    got = {(x, y): n for x, y, n in a}
    dups = _exact_dup_pairs(rows, min_words=3)
    assert dups and all(got.get(p) == 6 for p in dups)
    assert not any(set(p) & {30, 31, 300, 301} for p in got)
    # NO path — collapsed, direct, or capped — materializes a pair
    # array; every pair expansion is a streamed self-join
    for df in (
        dedup.minhash_lsh_candidates_collapsed(docs),
        dedup.minhash_lsh_candidates(docs),
        dedup.minhash_lsh_candidates(docs, max_bucket=8),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "flatten" not in plan
        assert "Join" in plan


def test_minhash_direct_pair_join_reuses_signature_exchange(spark):
    """The streamed self-join must not pay for the signature pipeline
    twice: both join inputs are the identical subtree, so the final
    adaptive plan contains a ReusedExchange (one shuffle of the band
    table feeds both sides)."""
    docs = spark.createDataFrame(
        [(i, f"variant {i % 2} of a sufficiently long boilerplate "
             "sentence for shingling") for i in range(20)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_candidates(docs)
    out.collect()  # finalize the AQE plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_minhash_collapsed_signature_stage_sees_reps_only(spark):
    """The cost contract: with k distinct texts among n >> k docs, the
    signature/band stage input is k rows (the collapse is BEFORE the
    expensive stages, not after)."""
    docs = spark.createDataFrame(
        [(i, f"document variant {i % 3} with shared boilerplate text "
              "of enough words to shingle") for i in range(300)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_candidates_collapsed(docs)
    # 3 classes of 100 -> 3*C(100,2) within + cross pairs only if reps
    # near-dup; variants differ by one token in a 12-word text, so all
    # three rep pairs share most bands
    rows = out.collect()
    within = [r for r in rows if r.n_shared_bands == 6]
    assert len(within) >= 3 * (100 * 99) // 2


def test_planted_corpus_ids_unique_at_any_replication(spark, tmp_path):
    """Plant offsets derive from 1 + max(doc_id), so replicated corpora
    get disjoint plant id ranges whatever their id range. A corpus whose
    ids straddle 100000/200000 would collide with fixed +100000/+200000
    offsets; stride-based plants must keep every doc_id unique and
    plant the exact expected counts."""
    from data_pipeline_rsna_spark import queries as Q

    rows = [(i, f"text body number {i} with several words")
            for i in range(0, 250001, 12500)]  # ids 0..250000
    spark.createDataFrame(rows, "doc_id long, text string") \
        .write.parquet(str(tmp_path / "documents.parquet"))
    corpus = Q._planted_corpus(spark, str(tmp_path))
    n = corpus.count()
    d = corpus.select("doc_id").distinct().count()
    assert n == d, "planted ids collided with base ids"
    n_base = len(rows)
    n_exact = sum(1 for i, _ in rows if i % 10 == 0)
    n_near = sum(1 for i, _ in rows if i % 10 == 5)
    assert n == n_base + n_exact + n_near
    # plants sit strictly above the base id range
    stride = 250001
    base_max = corpus.filter(f"doc_id < {stride}").count()
    assert base_max == n_base


@pytest.mark.slow
def test_minhash_adaptive_picks_form_by_duplication(spark):
    """The adaptive headline: mostly-unique corpus routes to the direct
    form, heavy-dup corpus to collapse-first — and BOTH give exactly
    the answer the component forms give (the probe affects cost only,
    never output)."""
    uniq = spark.createDataFrame(
        [(i, f"unique document number {i} about topic {i*7} with "
             "plenty of words") for i in range(40)]
        + [(100, "unique document number 1 about topic 7 with plenty "
                 "of words")],
        "doc_id long, text string",
    )
    heavy = spark.createDataFrame(
        [(i, f"boilerplate variant {i % 3} repeated across the crawl "
             "again and again") for i in range(60)],
        "doc_id long, text string",
    )
    for docs in (uniq, heavy):
        a = sorted((r.doc_a, r.doc_b, r.n_shared_bands) for r in
                   dedup.minhash_lsh_candidates_adaptive(docs).collect())
        b = sorted((r.doc_a, r.doc_b, r.n_shared_bands) for r in
                   dedup.minhash_lsh_candidates(docs).collect())
        c = sorted((r.doc_a, r.doc_b, r.n_shared_bands) for r in
                   dedup.minhash_lsh_candidates_collapsed(docs).collect())
        assert a == b == c


def test_minhash_capped_pair_join_reuses_signature_exchange(spark):
    """The capped form's _capped column must not de-synchronize the
    two join subtrees — both sides project the same columns, so the
    signature pipeline's exchange is reused in the capped form exactly
    like the uncapped one."""
    docs = spark.createDataFrame(
        [(i, f"variant {i % 2} of a sufficiently long boilerplate "
             "sentence for shingling") for i in range(20)],
        "doc_id long, text string",
    )
    out = dedup.minhash_lsh_candidates(docs, max_bucket=4)
    out.collect()  # finalize the AQE plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan


def test_minhash_adaptive_probe_memoized(spark):
    """The probe ratio memoizes by semantic plan hash (catalog-stats
    semantics): probing the same corpus expression twice performs no
    second take() — asserted via the cache dict — and the cached route
    returns identical pairs."""
    docs = spark.createDataFrame(
        [(i, f"one more body of shingle-able words variant {i} here "
             "padded out to length") for i in range(30)],
        "doc_id long, text string",
    )
    dedup._PROBE_RATIO_CACHE.clear()
    first = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates_adaptive(docs).collect()
    }
    assert len(dedup._PROBE_RATIO_CACHE) == 1
    cached_ratio = next(iter(dedup._PROBE_RATIO_CACHE.values()))
    # poison the cache: if the second call re-probed, it would
    # overwrite; if it reads the cache, the poisoned value routes to
    # the collapsed form — both forms are output-identical, so this
    # only proves the read path, never changes the answer
    for k in dedup._PROBE_RATIO_CACHE:
        dedup._PROBE_RATIO_CACHE[k] = 0.0
    second = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_candidates_adaptive(docs).collect()
    }
    assert dedup._PROBE_RATIO_CACHE[k] == 0.0  # not re-probed
    assert second == first
    dedup._PROBE_RATIO_CACHE.clear()
    assert cached_ratio > 0.7  # 30 distinct texts: direct route


def test_minhash_probe_stratified_unbiased_by_layout(spark, tmp_path):
    """A layout-clustered duplicate corpus (all the
    duplicates packed in the LARGEST file, which a prefix take() reads
    first) must not flip the adaptive form. The stratified per-file
    row-group probe estimates the true corpus ratio; the old prefix
    estimate on the same layout lands on the wrong side of the 0.7
    threshold — that contrast is pinned so the bias can't regress."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "corpus"
    d.mkdir()
    # the biggest file is pure duplicates: Spark packs splits largest-
    # file-first, so CollectLimit's first partition is all-dup
    dup = ["the same boilerplate sentence repeated across the crawl"]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(8000), pa.int64()),
                  "text": pa.array(dup * 8000)}),
        str(d / "part-0.parquet"), row_group_size=2000)
    for k in range(1, 4):
        ids = range(10000 * k, 10000 * k + 2000)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(
                          [f"unique document {i} with its own words "
                           f"about topic {i * 7}" for i in ids])}),
            str(d / f"part-{k}.parquet"), row_group_size=500)
    docs = spark.read.parquet(str(d))
    # true distinct ratio: (1 + 6000) / 14000 ≈ 0.43 — wait, the
    # dup file dominates row count, so the TRUE corpus here is
    # duplication-heavy; the stratified estimate must say so even
    # though it reads only 4 row groups, and the estimate must not
    # depend on which file a prefix scan happens to read first.
    est = dedup._stratified_distinct_ratio(docs, "text", 4096)
    assert est is not None
    true_ratio = (1 + 6000) / 14000
    assert abs(est - true_ratio) < 0.25
    # prefix estimate on the same layout: reads the all-dup big file
    # first -> ~0.0, which *here* is the right side of the threshold
    # by luck of the corpus mix; build the INVERSE layout (unique rows
    # in the big file, duplicates sprinkled) to show the flip the
    # stratified probe prevents
    d2 = tmp_path / "corpus2"
    d2.mkdir()
    ids = range(20000)
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()),
                  "text": pa.array(
                      [dup[0] for _ in ids])}),
        str(d2 / "part-0.parquet"), row_group_size=5000)
    for k in range(1, 8):
        ids = range(100000 * k, 100000 * k + 1000)
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(
                          [f"unique document {i} with its own words "
                           f"about topic {i * 7}" for i in ids])}),
            str(d2 / f"part-{k}.parquet"), row_group_size=250)
    docs2 = spark.read.parquet(str(d2))
    true2 = (1 + 7000) / 27000  # ≈ 0.26: duplication-heavy
    prefix = docs2.selectExpr(
        "md5(array_join(split(lower(text), '\\\\s+'), ' ')) AS _ck"
    ).take(4096)
    prefix_ratio = len({r[0] for r in prefix}) / len(prefix)
    est2 = dedup._stratified_distinct_ratio(docs2, "text", 4096)
    assert abs(est2 - true2) < 0.25  # stratified: right side of 0.7
    assert est2 < 0.7
    # the prefix probe reads the all-dup 20k-row file first and cannot
    # see the unique tail — if this ever starts matching the truth,
    # the contrast pin below is obsolete and the fallback can go
    assert prefix_ratio < 0.05
    # end-to-end: the adaptive router consumes the stratified estimate
    dedup._PROBE_RATIO_CACHE.clear()
    pairs = dedup.minhash_lsh_candidates_adaptive(
        docs.limit(200)).collect()
    assert len(dedup._PROBE_RATIO_CACHE) == 1
    del pairs
    dedup._PROBE_RATIO_CACHE.clear()


def test_stratified_probe_falls_back_on_computed_columns(spark):
    """A corpus whose text column is computed (no parquet lineage)
    must return None from the stratified probe — the adaptive router
    then uses the prefix take() fallback and still answers."""
    docs = spark.range(30).selectExpr(
        "id AS doc_id",
        "concat('generated words number ', id, ' padded out to "
        "shingle length for the probe') AS text",
    )
    assert dedup._stratified_distinct_ratio(docs, "text", 1024) is None
    dedup._PROBE_RATIO_CACHE.clear()
    out = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_lsh_candidates_adaptive(docs).collect()
    )
    assert len(dedup._PROBE_RATIO_CACHE) == 1
    # the prefix fallback measured the real (all-distinct) ratio and
    # routed to the direct form; output matches the component forms
    assert next(iter(dedup._PROBE_RATIO_CACHE.values())) > 0.7
    direct = sorted(
        (r.doc_a, r.doc_b, r.n_shared_bands)
        for r in dedup.minhash_lsh_candidates(docs).collect()
    )
    assert out == direct
    dedup._PROBE_RATIO_CACHE.clear()


def test_stratified_probe_sees_cross_file_duplication(spark, tmp_path):
    """A corpus replicated FILE-BY-FILE (each part internally distinct,
    all duplication across parts — exactly the shape of a re-ingested
    dump) must probe duplication-heavy. The per-file weighted ratio is
    blind to this (every file looks all-distinct); the pooled sample
    term catches it — measured at sf10, missing it cost 96 s (direct)
    vs ~10 s (collapsed) on the same corpus."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "replicated"
    d.mkdir()
    texts = [f"distinct body of words number {i} about topic {i * 3}"
             for i in range(1000)]
    for copy in range(6):
        ids = [copy * 10000 + i for i in range(1000)]
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64()),
                      "text": pa.array(texts)}),
            str(d / f"part-{copy}.parquet"))
    docs = spark.read.parquet(str(d))
    est = dedup._stratified_distinct_ratio(docs, "text", 4096)
    assert est is not None and est < 0.7  # routes to collapsed


def test_prefix_filter_equal_size_bound_keeps_boundary_pair(spark):
    """The distinct-sets equal-size candidate bound ((n-1)/(n+1) >= t)
    must be non-strict: two size-3 sets sharing 2 tokens have
    J = 2/4 = 0.5, exactly (n-1)/(n+1) at n=3 - at t=0.5 the pair
    must survive the bound AND the verify; a size-2 analogue
    (J = 1/3 < 0.5) must not appear."""
    from data_pipeline_rsna_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b d"),   # J with 1 = 2/4 = 0.5 exactly
            (3, "x y"),
            (4, "x z"),     # J with 3 = 1/3 < 0.5
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.prefix_filter_jaccard_pairs(
            docs, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): 0.5}


def test_tfidf_cross_bound_keeps_partial_overlap_pairs(spark):
    """Recall of the L2AP candidate cross bound below the exact-copy
    regime: at t = 1/2 the corpus's partial-overlap pairs (shared
    prefix shingles, distinct tails) must match the exact python
    rederivation pair-for-pair — a cosine-just-above-threshold
    survivor cannot be pruned by (1-q_a)(1-q_b) >= t^2."""
    import math
    from collections import Counter

    base = (
        "red fox jumps over the lazy dog tonight and then it sleeps "
        "near the barn"
    )
    rows = [
        (1, base + " quietly always"),
        (2, base + " loudly always"),
        (3, base + " quietly never"),
        (4, "completely different words appear here now for padding body"),
        (5, "another unrelated pile of tokens to thicken document frequency"),
        (6, base + " quietly always"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.cosine_ppm
        for r in dedup.tfidf_cosine_pairs(
            docs, threshold_num=1, threshold_den=2, shingle_n=3
        ).collect()
    }

    def sh(text):
        ws = text.lower().split()
        return [" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)]

    tf = {d: Counter(sh(t)) for d, t in rows}
    dfc = Counter(term for c in tf.values() for term in c)
    n = len(rows)
    lnn = round(math.log(n) * 1000)
    w = {
        d: {
            term: c * (lnn - round(math.log(dfc[term]) * 1000))
            for term, c in cnt.items()
            if c * (lnn - round(math.log(dfc[term]) * 1000)) > 0
        }
        for d, cnt in tf.items()
    }
    n2 = {d: sum(x * x for x in ws_.values()) for d, ws_ in w.items()}
    want = {}
    for a in tf:
        for b in tf:
            if a >= b or not n2.get(a) or not n2.get(b):
                continue
            dot = sum(w[a][t] * w[b][t] for t in w[a] if t in w[b])
            if 4 * dot * dot >= 1 * n2[a] * n2[b]:
                want[(a, b)] = math.floor(
                    1_000_000 * dot / (math.sqrt(n2[a]) * math.sqrt(n2[b]))
                )
    assert got == want
    # the test only means something if partial-overlap pairs survive
    partial = [p for p, ppm in want.items() if ppm < 999_999]
    assert partial, "corpus must contain sub-identical qualifying pairs"
