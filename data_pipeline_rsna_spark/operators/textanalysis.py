"""Text analysis operators (SURVEY.md §2.3 X4): language-ID heuristic,
quality scoring, token counting, document fingerprinting.

Everything is built-in column expressions (JVM-side, codegen'd) — no
Python UDFs anywhere in this module. Each helper returns a Column so the
operators compose into single-pass projections: one scan computes every
text feature, which is the shape you want when the corpus is 100 TB
(feature extraction is scan-bound; never rescan per feature).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TEXT_COL = "text"
ID_COL = "doc_id"
LANG_COL = "lang"
BM25_K1 = 1.2
BM25_B = 0.75
NB_TRAIN_MOD = 5
NB_TRAIN_LT = 4
DSIR_BUCKETS = 256

# A BPE-ish pre-tokenization: letter runs, digit runs, single punctuation.
BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

# Stopword profiles for the language-ID heuristic. Tiny on purpose: the
# profile ships as literals inside the expression (broadcast-free).
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "es": ("el", "la", "de", "los", "que", "y"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
}
# Deterministic arg-max priority when scores tie (incl. all-zero).
LANG_PRIORITY = ("en", "es", "de", "fr")


def whitespace_tokens(text_col: str = "text") -> Column:
    return F.split(F.lower(F.col(text_col)), r"\s+")


def ws_token_count(text_col: str = "text") -> Column:
    return F.size(whitespace_tokens(text_col))


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """Token count under the BPE-ish regex pre-tokenizer — the cheap
    proxy for 'how many LLM tokens is this document'."""
    return F.size(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(BPE_ISH_PATTERN), 0
        )
    )


def avg_token_length() -> Column:
    ws = whitespace_tokens(TEXT_COL)
    total = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda acc, x: acc + x
    )
    return F.round(total / F.size(ws), 6)


def type_token_ratio(text_col: str = "text") -> Column:
    """Lexical diversity: distinct/total tokens ∈ (0,1]."""
    ws = whitespace_tokens(text_col)
    return F.round(F.size(F.array_distinct(ws)) / F.size(ws), 6)


def stopword_ratio(text_col: str = "text",
                   stopwords: tuple[str, ...] = LANG_PROFILES["en"]) -> Column:
    ws = whitespace_tokens(text_col)
    sw = F.array(*[F.lit(s) for s in stopwords])
    hits = F.size(F.filter(ws, lambda t: F.array_contains(sw, t)))
    return F.round(hits / F.size(ws), 6)


def lang_score(text_col: str, lang: str) -> Column:
    """# tokens matching the language's stopword profile."""
    ws = whitespace_tokens(text_col)
    sw = F.array(*[F.lit(s) for s in LANG_PROFILES[lang]])
    return F.size(F.filter(ws, lambda t: F.array_contains(sw, t)))


def predicted_lang(text_col: str = "text") -> Column:
    """Arg-max over profile scores with fixed priority tie-break."""
    scores = {lang: lang_score(text_col, lang) for lang in LANG_PRIORITY}
    expr = None
    for i, lang in enumerate(LANG_PRIORITY):
        cond = None
        for other in LANG_PRIORITY[i + 1:]:
            c = scores[lang] >= scores[other]
            cond = c if cond is None else cond & c
        if cond is None:  # last language: unconditional fallback
            return expr.otherwise(lang)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    raise AssertionError("unreachable")


def content_fingerprint(text_col: str = "text") -> Column:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set. Two documents with the same bag of words collide — the
    'shuffled paraphrase' dedup key."""
    ws = whitespace_tokens(text_col)
    return F.md5(F.array_join(F.array_sort(F.array_distinct(ws)), " "))


def min_shingle_fingerprint(text_col: str = "text", n: int = 3) -> Column:
    """Winnowing-style fingerprint: lexicographic min of md5 over word
    n-gram shingles (a 1-hash MinHash). Stable under local edits that
    don't touch the minimal shingle."""
    from .dedup import shingles_col

    return F.array_min(
        F.transform(shingles_col(text_col, n), lambda s: F.md5(s))
    )


def tfidf_top_terms(docs, k: int = 3):
    """X4: top-k distinguishing terms per document by TF-IDF.

    tf = in-document term count; idf = ln(N / df) over distinct-document
    frequency. Three aggregations and a window top-k — every step is a
    built-in over the exploded token inverted index; the idf table is
    term-cardinality-sized and broadcast back. Ties break by term so the
    ranking is total and engine-independent.
    """
    from pyspark.sql import Window

    tokens = docs.select(
        ID_COL, F.explode(whitespace_tokens(TEXT_COL)).alias("term")
    ).filter(F.col("term") != "")
    n_docs = docs.count()  # dimension-sized driver scalar (job metadata)
    tf = tokens.groupBy(ID_COL, "term").agg(F.count("*").alias("tf"))
    df_ = tokens.select(ID_COL, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    idf = df_.select(
        "term",
        F.round(F.log(F.lit(float(n_docs)) / F.col("df")), 6).alias("idf"),
    )
    scored = tf.join(F.broadcast(idf), "term").select(
        ID_COL,
        "term",
        F.round(F.col("tf") * F.col("idf"), 6).alias("tfidf"),
    )
    w = Window.partitionBy(ID_COL).orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(ID_COL, "rank", "term", "tfidf")
    )


def pack_sequences(docs, capacity: int = 2048, n_shards: int = 32):
    """Sequence packing for training-data assembly: assign documents to
    fixed-capacity token bins ("which context window does this document
    ride in").

    Deterministic shard-parallel first-fit: documents hash to
    ``n_shards`` independent shards; within a shard they pack in id
    order by running token count, a new bin starting whenever the
    cumulative count crosses a capacity boundary (documents never
    split; a bin may overflow by at most one document, the standard
    greedy-packing contract). Each shard's window is independent — no
    global sort, parallelism = n_shards; at scale raise n_shards to
    taste since bins are shard-local anyway.
    """
    from pyspark.sql import Window

    toks = docs.select(
        ID_COL,
        (F.col(ID_COL) % n_shards).alias("shard"),
        ws_token_count(TEXT_COL).alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(ID_COL)
    cum = F.sum("n_tokens").over(w)
    return toks.select(
        ID_COL,
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / capacity).cast("int").alias("bin"),
    )


def token_budget_sample(docs: DataFrame, budget_tokens: int) -> DataFrame:
    """Per-language token-budget quota sampling: take documents in a
    seeded-shuffle priority order (md5 of the id — uniform, deterministic,
    bit-identical across engines) until each language's cumulative token
    count reaches ``budget_tokens``; the document that crosses the budget
    is kept (budget is a floor on coverage, not a cap).

    The tokens taken before each document come from the keyed
    ``relational.prefix_scan`` — NOT ``Window.partitionBy(lang)``,
    which would pin each language onto a single task: with a handful of
    languages over billions of documents that window is the textbook
    low-cardinality skew trap.
    """
    from . import relational as rel

    pri = F.concat(F.md5(F.col(ID_COL).cast("string")),
                   F.col(ID_COL).cast("string"))
    toks = docs.select(
        F.col(LANG_COL).alias("lang"),
        F.col(ID_COL),
        ws_token_count(TEXT_COL).cast("bigint").alias("n_tokens"),
        pri.alias("_pri"),
    )
    before, _ = rel.prefix_scan(
        toks, "_pri", {"_before": ("sum", "n_tokens")}, key="lang"
    )
    return before.where(f"coalesce(_before, 0) < {budget_tokens}").selectExpr(
        "lang", ID_COL, "n_tokens", "coalesce(_before, 0) + n_tokens AS cum_tokens"
    )


def bigram_next_token_table(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """Corpus bigram statistics → argmax next-token table: for every
    leading token whose best bigram occurs ≥ ``min_count`` times, the
    most frequent following token (ties broken lexicographically so the
    table is deterministic).

    Shape: explode adjacent token pairs (narrow — ``transform`` over
    the token array with index), ONE shuffle to count (w1, w2) with
    map-side combine collapsing repeats before the wire, then the
    argmax window on w1 — vocabulary-cardinality keys, no skew beyond
    stopwords, which is exactly what map-side combine absorbs."""
    bigrams = docs.select(
        F.explode(
            F.expr(
                f"transform(slice(split(lower({TEXT_COL}), '\\\\s+'), 1, "
                f"size(split(lower({TEXT_COL}), '\\\\s+')) - 1), "
                "(t, i) -> struct(t AS w1, "
                f"split(lower({TEXT_COL}), '\\\\s+')[i + 1] AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("n"))
    w = Window.partitionBy("w1").orderBy(F.col("n").desc(), F.col("w2"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("n") >= min_count))
        .select("w1", F.col("w2").alias("top_next"), F.col("n").alias("n_occurrences"))
    )


def benchmark_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Train/benchmark n-gram overlap — decontamination, the GPT-3/PaLM
    report procedure: a training document is contaminated to the degree
    its word n-grams appear anywhere in the evaluation benchmark.

    Returns one row per training doc with ≥1 overlapping shingle:
    (id, n_shingles, n_overlap, contam_ppm) where contam_ppm =
    overlap/total in integer parts-per-million (engine-portable, no
    float division).

    Scale shape: the benchmark's distinct-shingle set is the SMALL side
    (benchmarks are ~10⁶ rows against a 100 TB corpus) — broadcast it;
    the corpus side streams through one shuffle (its own per-doc shingle
    aggregation). Never a shuffle keyed on the shingle for the corpus
    side, so stopword-like hot shingles in the benchmark cannot skew a
    reducer; the inner join keeps output bounded by true contamination."""
    from .dedup import exploded_shingles

    bench_sh = (
        exploded_shingles(benchmark, ID_COL, TEXT_COL, n)
        .select("shingle")
        .distinct()
    )
    train_sh = exploded_shingles(train, ID_COL, TEXT_COL, n)
    totals = train_sh.groupBy(ID_COL).agg(
        F.count("*").alias("n_shingles")
    )
    overlaps = (
        train_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(ID_COL)
        .agg(F.count("*").alias("n_overlap"))
    )
    return (
        totals.join(overlaps, ID_COL)
        .withColumn(
            "contam_ppm",
            F.expr("CAST(n_overlap * 1000000 DIV n_shingles AS BIGINT)"),
        )
    )


def bpe_first_merge_pairs(docs: DataFrame, k: int = 20) -> DataFrame:
    """First BPE iteration over the corpus: frequency of every adjacent
    CHARACTER pair inside whitespace words — the statistic whose argmax
    is the first merge a byte-pair-encoding tokenizer learns. Returns
    the top-``k`` pairs by (count desc, pair asc).

    Shape: words explode narrowly, per-word char pairs explode narrowly
    (two-char substrings of the bound word column — avoids split-on-
    empty-pattern, whose trailing empty element differs across engines),
    then ONE count shuffle whose keys are pair strings (≤ alphabet²
    cardinality — map-side combine collapses almost everything before
    the wire) and a global top-k via TakeOrderedAndProject, never a
    single-partition sort."""
    words = docs.select(
        F.explode(whitespace_tokens(TEXT_COL)).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, 2),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count("*").alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("pair")).limit(k)


def mixture_resample(docs: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Deterministic source-mixture resampling: keep a document iff
    ``md5('mix'|id) % 10^6 < rate(source) * 10^6`` — the domain
    up-/down-weighting step that turns a raw crawl into a training
    mixture (downsample boilerplate-heavy domains, keep books at 1.0).

    Per-DOCUMENT hash, so membership is stable under repartitioning,
    subsetting, and incremental re-runs (the same property as
    ``relational.kfold_assign``) — re-running the pipeline on a
    grown corpus never flips a previously kept doc. The mixture config
    is a literal map (a handful of sources), never a join; the whole
    operator is a narrow filter: zero shuffles at any scale. Sources
    absent from ``rates`` are excluded (curated mixtures enumerate
    their sources)."""
    pairs: list[Column] = []
    for s, r in sorted(rates.items()):
        pairs.append(F.lit(s))
        pairs.append(F.lit(int(round(r * 1_000_000))))
    rate_ppm = F.coalesce(
        F.create_map(*pairs)[F.col("source")],
        F.lit(0),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit("mix"), F.col(ID_COL).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    return docs.filter(bucket < rate_ppm)


def boilerplate_ngrams(
    docs: DataFrame,
    n: int = 5,
    min_docs: int = 2,
    k: int = 50,
) -> DataFrame:
    """Boilerplate mining: the word n-grams appearing in at least
    ``min_docs`` DISTINCT documents, ranked by spread — the removal
    list that line/substring-level dedup (the ExactSubstr family)
    consumes: license headers, navigation chrome, templated disclaimers
    all surface here before any pairwise comparison is attempted.

    One shuffle keyed on the shingle with map-side combine (per-doc
    shingles are already distinct, so the combine collapses each
    partition's contribution to one row per gram), then a global top-k
    via TakeOrderedAndProject. Hot grams are exactly the interesting
    output, and partial aggregation is what keeps them from being a
    skew problem."""
    from .dedup import exploded_shingles

    sh = exploded_shingles(docs, ID_COL, TEXT_COL, n)
    return (
        sh.groupBy(F.col("shingle").alias("gram"))
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), "gram")
        .limit(k)
    )


def winnowing_fingerprints(
    docs: DataFrame,
    shingle_n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Full winnowing (the MOSS local-fingerprinting algorithm): hash
    every word ``shingle_n``-gram in position order, slide a window of
    ``window`` consecutive hashes, keep each window's minimum; the
    document's fingerprint is the distinct selected hashes. Guarantees
    at least one selected hash in every ``window`` consecutive shingles,
    so any shared run of ``shingle_n + window - 1`` words between two
    documents shares at least one fingerprint — the locality property
    single-min sketches (``min_shingle_fingerprint``) lack.

    Narrow per-document column work (the hash array is bound to a real
    column before the window transform so the interpreted HOF slices a
    materialized array); output is (id, n_fp, fp_digest), engine-exact
    strings. At scale the fingerprint explode joins an inverted index
    exactly like ``exploded_shingles`` — fingerprints are just a
    w-times-smaller shingle set with the same guarantees."""
    ws = F.split(F.lower(F.col(TEXT_COL)), r"\s+")
    min_tokens = shingle_n + window - 1
    hs = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_ws")) - (shingle_n - 1)),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("_ws"), i, shingle_n))
        ),
    )
    wins = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_hs")) - (window - 1)),
        lambda j: F.array_min(F.slice(F.col("_hs"), j, window)),
    )
    fp = F.array_sort(F.array_distinct(F.col("_wins")))
    return (
        docs.select(ID_COL, ws.alias("_ws"))
        .filter(F.size("_ws") >= min_tokens)
        .select(ID_COL, hs.alias("_hs"))
        .select(ID_COL, wins.alias("_wins"))
        .select(
            ID_COL,
            F.size(fp).alias("n_fp"),
            F.md5(F.array_join(fp, "|")).alias("fp_digest"),
        )
    )


# Gopher/MassiveText quality rules (Rae et al. 2021, table A1 subset) in
# gate order; first failure is the document's reason code.
GOPHER_RULES = (
    "word_count",        # 50 <= n_words <= 100_000
    "mean_word_length",  # 3 <= mean <= 10   (integer form: 3n <= L <= 10n)
    "alpha_ratio",       # >= 80% of words contain a letter (5a >= 4n)
    "symbol_ratio",      # '#'/'...' per word <= 0.1 (10s <= n)
    "stopword_count",    # >= 2 English stopwords
)


def gopher_quality_flags(docs: DataFrame) -> DataFrame:
    """The published Gopher/MassiveText quality heuristics as one narrow
    projection: per document, every rule's verdict plus ``reason`` (the
    FIRST failed rule in gate order, null when clean).

    Every comparison is integer-exact (``3n <= L <= 10n`` instead of a
    float mean) so the verdicts are bit-identical in any engine — the
    property the differential oracle needs and float thresholds break.
    Zero shuffles; at 100 TB this is scan-bound, exactly like the rest
    of the X4 feature family, and composes with mixture_resample +
    exact_dedup into the standard curation cascade."""
    ws = F.split(F.lower(F.col(TEXT_COL)), r"\s+")
    n = F.size(ws)
    total_len = F.aggregate(
        F.transform(ws, F.length), F.lit(0), lambda a, x: a + x
    )
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-z]")))
    hashes = F.length(F.col(TEXT_COL)) - F.length(
        F.regexp_replace(F.col(TEXT_COL), "#", "")
    )
    dots = (
        F.length(F.col(TEXT_COL))
        - F.length(F.regexp_replace(F.col(TEXT_COL), r"\.\.\.", ""))
    ) / 3
    n_sym = (hashes + dots).cast("long")
    sw = F.array(*[F.lit(s) for s in LANG_PROFILES["en"]])
    n_stop = F.size(F.filter(ws, lambda t: F.array_contains(sw, t)))

    ok = {
        "word_count": (n >= 50) & (n <= 100_000),
        "mean_word_length": (total_len >= 3 * n) & (total_len <= 10 * n),
        "alpha_ratio": 5 * n_alpha >= 4 * n,
        "symbol_ratio": 10 * n_sym <= n,
        "stopword_count": n_stop >= 2,
    }
    reason = F.lit(None).cast("string")
    for rule in reversed(GOPHER_RULES):
        reason = F.when(~ok[rule], rule).otherwise(reason)
    return docs.select(
        ID_COL,
        n.alias("n_words"),
        *[ok[r].alias(f"ok_{r}") for r in GOPHER_RULES],
        reason.alias("reason"),
    )


def blocklist_flags(docs: DataFrame, terms: tuple[str, ...]) -> Column:
    """C4-style blocklist predicate: true when ANY whitespace token is
    in ``terms`` (exact token match, not substring — 'class' never
    trips a 'ass' entry, the classic C4 false-positive). The list ships
    as literals in the expression (blocklists are config-sized);
    at 100 TB this is a narrow scan-bound filter like every X4 gate —
    for 10⁵+-entry lists swap the literal array for a broadcast join
    against the exploded token index."""
    ws = whitespace_tokens(TEXT_COL)
    blocked = F.array(*[F.lit(t) for t in terms])
    return F.arrays_overlap(ws, blocked)


def chunk_token_windows(
    docs: DataFrame,
    size: int = 64,
    stride: int = 48,
) -> DataFrame:
    """Fixed-size overlapping token windows per document — the RAG /
    context-window chunker (size=window tokens, stride<size ⇒ overlap
    of size-stride tokens so no boundary sentence is lost).

    Pure narrow plan: split → window count by integer arithmetic →
    explode(sequence) → slice + array_join. No shuffle at all; at
    100 TB chunking parallelizes with the scan and the output is
    written straight back out partition-local. Window count per doc is
    ceil(max(n-size,0)/stride)+1: every token is covered, the final
    window may be short (kept — truncating it would drop tail text).

    Returns (id, chunk_id, start_token, n_tokens, chunk_text)."""
    ws = F.split(F.lower(F.col(TEXT_COL)), r"\s+")
    d = docs.select(
        ID_COL, ws.alias("_ws"), F.size(ws).alias("_n")
    )
    last_start = F.greatest(F.col("_n") - size, F.lit(0))
    n_windows = ((last_start + stride - 1) / stride).cast("int") + F.lit(1)
    exploded = d.select(
        ID_COL,
        "_ws",
        "_n",
        F.explode(F.sequence(F.lit(0), n_windows - 1)).alias("chunk_id"),
    )
    start = F.col("chunk_id") * stride
    piece = F.slice(F.col("_ws"), start + 1, size)
    return exploded.select(
        ID_COL,
        F.col("chunk_id").cast("int").alias("chunk_id"),
        start.cast("int").alias("start_token"),
        F.size(piece).cast("int").alias("n_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


def bigram_cross_entropy(docs: DataFrame) -> DataFrame:
    """Per-document average bigram cross-entropy against the corpus's
    own bigram LM — the perplexity-style quality filter (CCNet-shape):
    templated/boilerplate text scores low, out-of-distribution noise
    scores high; both tails get reviewed before training.

    −ln P(w2|w1) with P = c(w1,w2)/c(w1,·), c from THIS corpus, both
    counts read off one bigram-count table (the unigram denominator is
    the bigram table re-aggregated — no second corpus pass). Each term
    is fixed-point micro-nats (round(ln c1 − ln c2) · 1e6, bigint), so
    per-doc sums are exact integers: no float summation order anywhere,
    bit-stable across engines and partitionings. avg = sum DIV n —
    both engines truncate, and terms are provably ≥ 0 (a bigram count
    never exceeds its first word's count), so trunc == floor.

    Shuffles: bigram counting (map-side combined, moves |distinct
    bigrams|), the join of doc-bigrams to counts (key = bigram), the
    per-doc sum (key = doc). At 100 TB the bigram table is the big
    intermediate; it is exactly the artifact an LM-data pipeline
    already maintains, and every stage partial-aggregates."""
    # ws MUST be materialized in its own projection before any lambda
    # touches it: CollapseProject inlines the expression into every
    # element reference inside higher-order functions, re-running the
    # regex split per element — measured 4.4 s vs 0.27 s at sf0.1 for
    # the pair construction alone (16×)
    base = docs.select(
        ID_COL, F.split(F.lower(F.col(TEXT_COL)), r"\s+").alias("_ws")
    )
    wsc = F.col("_ws")
    tail_len = F.greatest(F.size(wsc) - 1, F.lit(0))
    # adjacent pairs as zip_with of the two shifted slices (empty for
    # single-token docs by construction — matching DuckDB's empty
    # generate_series(1, 0), where Spark's sequence(1, 0) would DESCEND)
    pairs = F.zip_with(
        F.slice(wsc, 1, tail_len),
        F.slice(wsc, 2, tail_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    # collapse to DISTINCT (doc, bigram) with multiplicity FIRST: every
    # later join then moves |distinct doc-bigram| rows instead of every
    # occurrence, and the exploded occurrence stream is consumed once
    db = (
        base.select(ID_COL, F.explode(pairs).alias("bigram"))
        .groupBy(ID_COL, "bigram")
        .agg(F.count("*").alias("m"))
    )
    c2 = db.groupBy("bigram").agg(F.sum("m").alias("c2"))
    c1 = (
        c2.select(
            F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)).alias("w1"),
            "c2",
        )
        .groupBy("w1")
        .agg(F.sum("c2").alias("c1"))
    )
    # per-DISTINCT-bigram score table (|bigram vocab| rows), built from
    # the two count tables, then a single join back to the doc side
    xent = (
        c2.withColumn(
            "w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
        )
        .join(c1, "w1")
        .select(
            "bigram",
            F.expr(
                "CAST(round((ln(c1) - ln(c2)) * 1000000) AS BIGINT)"
            ).alias("x"),
        )
    )
    scored = db.join(xent, "bigram")
    return scored.groupBy(ID_COL).agg(
        F.sum("m").cast("bigint").alias("n_bigrams"),
        F.sum(F.col("m") * F.col("x")).cast("bigint").alias("sum_xent_micro"),
        F.expr(
            "CAST(sum(m * x) DIV sum(m) AS BIGINT)"
        ).alias("avg_xent_micro"),
    )


# Common English character merges, rank-ordered — the shape of a shipped
# tokenizer's merges.txt head. bpe_apply treats the table as CONFIG (real
# tokenizers apply a frozen learned table; learning statistics live in
# bpe_first_merge_pairs).
DEFAULT_BPE_MERGES: tuple[tuple[str, str], ...] = (
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("e", "n"), ("a", "t"), ("o", "r"),
    ("e", "s"), ("s", "t"), ("a", "r"), ("t", "e"), ("n", "d"),
    ("t", "o"),
)


def bpe_apply(docs: DataFrame) -> DataFrame:
    """Apply a frozen BPE merge table to every document and report the
    resulting symbol counts — the tokenizer-application operator (the
    cost model behind every token-budget decision; a corpus is priced
    in post-merge symbols, not characters).

    Mechanics: each word becomes a space-delimited character sequence
    (`` c a t ``); each merge rule (x, y) then rewrites `` x y `` →
    `` xy `` via plain string replace, applied in rank order. replace()
    scans left-to-right over non-overlapping occurrences in BOTH
    engines, which is exactly BPE's leftmost-greedy order; two
    repetitions per rule close the alternation gap where one pass
    leaves an odd run unmerged (2 passes handle runs ≤ 4 of the same
    pair — longer uniform runs are noise text by definition).

    Scale shape: the whole computation is a NARROW projection — the
    per-word fold runs inside higher-order functions (transform +
    aggregate) on each document row, so there is no explode, no
    shuffle, no Python; one pass over the corpus emits (doc, n_words,
    n_chars, n_symbols). The merge table is a literal expression
    (tokenizer tables are KBs — config, not data).
    """
    sym = "concat(' ', regexp_replace(w, '(.)', '$1 '))"
    for _ in range(2):
        for x, y in DEFAULT_BPE_MERGES:
            sym = f"replace({sym}, ' {x} {y} ', ' {x}{y} ')"
    words = (
        f"filter(split(lower(`{TEXT_COL}`), '\\\\s+'), "
        "w -> length(w) > 0)"
    )
    return docs.selectExpr(
        f"`{ID_COL}`",
        f"size({words}) AS n_words",
        f"aggregate(transform({words}, w -> length(w)), 0, "
        "(acc, v) -> acc + v) AS n_chars",
        f"aggregate(transform({words}, w -> "
        f"size(split(trim({sym}), ' '))), 0, "
        "(acc, v) -> acc + v) AS n_symbols",
    )


def temperature_mixture_shares(
    df: DataFrame, group_col: str = "lang"
) -> DataFrame:
    """Temperature-sampled mixture shares at α = 0.5 — the multilingual
    rebalancing rule (share ∝ count^α upweights rare languages so they
    are not drowned by the head language; α=0.5 is the common
    XLM/mT5-style setting). α=0.5 is implemented EXACTLY: the weight is
    the integer floor-sqrt of the count (sqrt is IEEE-correctly-rounded
    in both engines, floor makes it integral) and the share is an
    integer ppm floor-quotient against the integer weight total — no
    float normalization, no summation-order hazard. Other temperatures
    need a pow() chain and stay approximate; the consumer of these
    shares is ``mixture_resample``/``token-budget`` quota sampling.
    One count shuffle; the weight table is |groups| rows of metadata.
    """
    c = df.groupBy(group_col).agg(F.count("*").alias("c"))
    w = c.withColumn("w", F.expr("CAST(floor(sqrt(c)) AS BIGINT)"))
    tot = w.agg(F.sum("w").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .selectExpr(
            group_col,
            "c",
            "w",
            "CAST(w * 1000000 DIV tw AS BIGINT) AS share_ppm",
        )
        .orderBy(group_col)
    )


def ngram_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document n-gram novelty: what fraction of a document's
    distinct word n-grams appear in NO other document. Low novelty is
    the boilerplate/template signal (near-zero: the page is assembled
    from corpus-common fragments); high novelty marks genuinely fresh
    content worth its token budget — the doc-level complement of
    ``boilerplate_ngrams``'s corpus-level view.

    Shape: the shared ``dedup.exploded_shingles`` inverted-index base
    (distinct shingles per doc, tokenized map-side), one
    groupBy(shingle) document-frequency count, a shuffle join back on
    shingle, then a groupBy(doc). Both aggregations map-side combine;
    nothing is ever pairwise. At 100 TB the hot key is a
    corpus-universal shingle — its df row is one accumulator per task
    (combine), and the join back fans it out read-only; cap shingle df
    first (as minhash does) if the join side itself skews.

    Docs with fewer than ``n`` tokens have no shingles and drop out
    (no row), matching the SQL twin. novelty_ppm truncates (both
    engines agree on non-negative integer division).
    """
    from . import dedup

    sh = dedup.exploded_shingles(docs, id_col=ID_COL, text_col=TEXT_COL,
                                 n=n)
    df_counts = sh.groupBy("shingle").agg(
        F.count("*").alias("_df")
    )
    return (
        sh.join(df_counts, "shingle")
        .groupBy(F.col(ID_COL))
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_novel"),
        )
        .selectExpr(
            ID_COL,
            "n_shingles",
            "n_novel",
            "CAST(n_novel * 1000000 DIV n_shingles AS BIGINT) "
            "AS novelty_ppm",
        )
    )


def unigram_doc_surprisal(docs: DataFrame) -> DataFrame:
    """Per-document mean token surprisal under the corpus's own unigram
    LM — the cheap perplexity proxy quality filters rank on: junk
    (mojibake, random ids, boilerplate-free noise) scores high because
    its tokens are corpus-rare; templated text scores low. Unlike a
    real LM pass it needs no model and one corpus scan to train.

    mean surprisal = ln(T) − (Σ_tokens ln c(w)) / len  (nats), shipped
    in integer micro-nats: per-token ln c(w) is the bit-stable
    ``ln_micro`` of an integer count, the per-doc sum is an exact
    integer, and the division truncates identically in both engines
    (all terms non-negative).

    Shape: token explode → groupBy(w) count (map-side combined, the
    unigram "training" pass) → shuffle join tokens⋈freq on w → per-doc
    sum. The join's hot keys are stopwords — their freq rows are
    single accumulators map-side and fan out read-only; at extreme
    skew, broadcast the top-k freq rows and join only the tail (the
    standard split-join), which preserves this exact output.
    """
    toks = docs.select(
        F.col(ID_COL),
        F.explode(
            F.split(F.lower(F.col(TEXT_COL)), r"\s+")
        ).alias("w"),
    )
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    total = freq.agg(
        F.sum("c").cast("bigint").alias("t_tokens")
    ).selectExpr(
        "t_tokens",
        "CAST(round(ln(t_tokens) * 1000000) AS BIGINT) AS ln_t_micro",
    )
    per_doc = (
        toks.join(freq, "w")
        .groupBy(ID_COL)
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum(F.expr("CAST(round(ln(c) * 1000000) AS BIGINT)"))
            .cast("bigint")
            .alias("sum_ln_c_micro"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).selectExpr(
        ID_COL,
        "n_tokens",
        "CAST(ln_t_micro - sum_ln_c_micro DIV n_tokens AS BIGINT) "
        "AS surprisal_micro",
    )


def vocab_coverage(
    docs: DataFrame,
    ks: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """Vocabulary coverage curve: for each k, what share of all token
    OCCURRENCES the top-k most frequent types cover — the tokenizer /
    vocab-size diagnostic (coverage@32k is the question "is a 32k
    vocab enough for this corpus", and a fast-saturating curve means
    templated text). Returns (k, covered_types, covered_mass,
    mass_ppm).

    The global rank never windows over the vocabulary: rank = the
    zipf-slope trick — an exclusive running sum over the
    O(sqrt(tokens))-row frequency-of-frequencies table gives each
    distinct frequency's rank offset, broadcast back, plus a
    row_number within the frequency group (partitioned window,
    parallel by frequency). Coverage per k is then one filtered
    aggregation; all counts integral, ppm truncates identically in
    both engines.
    """
    from pyspark.sql import Window

    freq = (
        docs.selectExpr(
            f"explode(split(lower(`{TEXT_COL}`), '\\\\s+')) AS w"
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("f"))
    )
    w_off = Window.orderBy(F.col("f").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        freq.groupBy("f")
        .agg(F.count("*").alias("nf"))
        .select(
            "f",
            F.coalesce(F.sum("nf").over(w_off), F.lit(0))
            .cast("bigint")
            .alias("_off"),
        )
    )
    w_rank = Window.partitionBy("f").orderBy("w")
    ranked = freq.join(F.broadcast(offsets), "f").withColumn(
        "r", F.col("_off") + F.row_number().over(w_rank).cast("bigint")
    )
    total = freq.agg(F.sum("f").cast("bigint").alias("t_mass"))
    ks_df = docs.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "k long"
    )
    return (
        ranked.crossJoin(F.broadcast(ks_df))
        .filter(F.col("r") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count("*").cast("bigint").alias("covered_types"),
            F.sum("f").cast("bigint").alias("covered_mass"),
        )
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "k",
            "covered_types",
            "covered_mass",
            "CAST(covered_mass * 1000000 DIV t_mass AS BIGINT) AS mass_ppm",
        )
    )


def collocations_pmi(
    docs: DataFrame,
    min_count: int = 5,
    top_n: int = 30,
) -> DataFrame:
    """Collocation mining: adjacent token pairs ranked by pointwise
    mutual information — the phrase detector ("new york", "machine
    learning") a tokenizer-merge or stopword-phrase list is built
    from. High PMI = the pair co-occurs far above chance.

    pmi·1e6 ≈ L(c_ab) − L(M) − L(c_a) − L(c_b) + 2·L(N) with L the
    micro-nat log of an integer count (c_ab bigram count, M total
    bigrams, c_a/c_b unigram counts, N total tokens) — the sum of
    five bit-stable integers, so ranking ties are impossible to get
    wrong across engines; ``min_count`` kills the degenerate
    hapax-pair PMI spike. Ranking is TakeOrdered (top_n), never a
    global sort.

    Shape: one bigram-count shuffle + one unigram-count shuffle (both
    map-side combined), two joins of the bigram table against the
    unigram table (hot keys are stopwords — single accumulator rows
    fanned out read-only), two 1-row broadcasts.
    """
    toks = docs.selectExpr(
        f"split(lower(`{TEXT_COL}`), '\\\\s+') AS _ws"
    ).filter(F.size("_ws") >= 2)
    bigrams = (
        toks.selectExpr(
            "explode(zip_with(slice(_ws, 1, size(_ws) - 1), "
            "slice(_ws, 2, size(_ws) - 1), "
            "(a, b) -> struct(a, b))) AS bg"
        )
        .groupBy("bg.a", "bg.b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uni = (
        docs.selectExpr(
            f"explode(split(lower(`{TEXT_COL}`), '\\\\s+')) AS w"
        )
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    n_tok = uni.agg(F.sum("c").cast("bigint").alias("n"))
    m_big = toks.selectExpr(
        "CAST(size(_ws) - 1 AS BIGINT) AS nb"
    ).agg(F.sum("nb").cast("bigint").alias("m"))
    ua = uni.select(F.col("w").alias("a"), F.col("c").alias("c_a"))
    ub = uni.select(F.col("w").alias("b"), F.col("c").alias("c_b"))
    ln = "CAST(round(ln({x}) * 1000000) AS BIGINT)"
    return (
        bigrams.join(ua, "a")
        .join(ub, "b")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(m_big))
        .selectExpr(
            "a",
            "b",
            "c_ab",
            "c_a",
            "c_b",
            f"CAST({ln.format(x='c_ab')} - {ln.format(x='m')}"
            f" - {ln.format(x='c_a')} - {ln.format(x='c_b')}"
            f" + 2 * {ln.format(x='n')} AS BIGINT) AS pmi_micro",
        )
        .orderBy(F.col("pmi_micro").desc(), F.col("a"), F.col("b"))
        .limit(top_n)
    )


def bm25_rank(docs):
    """BM25 document ranking against a deterministic query: the
    3 highest-document-frequency corpus terms (ties by term) form the
    query, every document is scored with the standard Okapi BM25
    formula (k1 = BM25_K1, b = BM25_B), and the global top-20
    (score desc, doc_id) is returned.

    idf uses the non-negative Robertson form ln(1 + (N-df+0.5)/(df+0.5)).
    Plan shape mirrors ``tfidf_top_terms``: exploded inverted index,
    per-(doc,term) tf aggregation, a broadcast 3-row query-term/idf
    table, one groupBy(doc) score sum, TakeOrderedAndProject for the
    global top-k — no global sort, no full-vocabulary shuffle beyond the
    df aggregation (which partial-aggregates map-side). avgdl is a 1-row
    broadcast aggregate, not a driver collect, so one DAG serves the
    whole query at any corpus size.
    """
    toks = docs.select(
        ID_COL, F.explode(whitespace_tokens(TEXT_COL)).alias("term")
    ).filter(F.col("term") != "")
    doclen = toks.groupBy(ID_COL).agg(F.count("*").alias("dl"))
    stats = doclen.groupBy().agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_ = toks.select(ID_COL, "term").distinct().groupBy("term").agg(
        F.count("*").alias("df")
    )
    qterms = (
        df_.orderBy(F.col("df").desc(), "term")
        .limit(3)
        .join(F.broadcast(stats))
        .select(
            "term",
            F.round(
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                ),
                6,
            ).alias("idf"),
            "avgdl",
        )
    )
    tf = toks.groupBy(ID_COL, "term").agg(F.count("*").alias("tf"))
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(doclen, ID_COL)
        .select(
            ID_COL,
            F.round(
                F.col("idf")
                * (F.col("tf") * (BM25_K1 + 1.0))
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1.0 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                ),
                6,
            ).alias("term_score"),
        )
        .groupBy(ID_COL)
        .agg(F.round(F.sum("term_score"), 6).alias("bm25"))
    )
    return (
        scored.orderBy(F.col("bm25").desc(), ID_COL)
        .limit(20)
        .select(ID_COL, "bm25")
    )


def readability_scores(docs):
    """Flesch reading-ease per document from three exact counts —
    sentences (maximal [.!?]+ runs, minimum 1), words (whitespace
    tokens), syllables (maximal [aeiouy]+ vowel groups per word,
    minimum 1 per word) — then
    206.835 - 1.015*(words/sentences) - 84.6*(syllables/words).

    All three counts are integer regexp aggregations inside whole-stage
    codegen (no UDF); the score is one rounded double expression. The
    vowel-group heuristic is the standard public approximation used
    when no pronunciation dictionary is available; it is deterministic
    and engine-portable, which is what a 100 TB quality-scoring pass
    needs (the score feeds corpus filtering, so two engines must agree
    bit-for-bit)."""
    lower = F.lower(F.col(TEXT_COL))
    n_sent = F.greatest(
        F.size(F.regexp_extract_all(lower, F.lit(r"[.!?]+"), 0)), F.lit(1)
    )
    words = F.filter(
        F.split(lower, r"\s+"), lambda t: t != F.lit("")
    )
    n_words = F.greatest(F.size(words), F.lit(1))
    syl_of = lambda w: F.greatest(  # noqa: E731
        F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), 0)), F.lit(1)
    )
    n_syll = F.aggregate(
        F.transform(words, syl_of), F.lit(0), lambda acc, x: acc + x
    )
    score = F.round(
        F.lit(206.835)
        - F.lit(1.015) * (n_words.cast("double") / n_sent)
        - F.lit(84.6) * (n_syll.cast("double") / n_words),
        4,
    )
    return docs.select(
        ID_COL,
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
        score.alias("flesch"),
    )


def naive_bayes_lang_confusion(docs: DataFrame) -> DataFrame:
    """Multinomial Naive Bayes trained AND scored in one distributed
    DAG — the counts-based quality/language classifier pattern
    (fastText-style corpus routing) expressed relationally: the model
    IS a distributed table of (token, class) counts, never a
    driver-side object, so vocabulary size is unbounded by driver
    memory and training is one map-side-combined shuffle.

    Split: ``doc_id % NB_TRAIN_MOD < NB_TRAIN_LT`` trains, the rest
    scores.
    Score(d, c) = ln(docs_c) − |d| · ln(tok_c + V)
                  + Σ_t∈d  k_t · ln(cnt(t,c) + 1)
    (add-one smoothing; the constant −ln(docs_total) is dropped — it
    cancels in the argmax). All ln terms are integer micro-nats
    (``round(ln(int) * 1e6)``, bit-stable across engines), summed as
    BIGINT — deterministic argmax with (score DESC, class ASC)
    tie-break. Output: the (true, predicted) confusion counts.

    Scale shape: token counting is one shuffle keyed by (token,class);
    scoring joins test doc-term counts × |C| classes against the count
    table on (token,class) — a standard shuffle join whose left side
    is |test tokens|·|C|; classes / per-class totals / vocab size ride
    broadcast 1-row or |C|-row aggregates. The final window partitions
    by doc_id (argmax over |C| rows per doc). No driver-side model, no
    collect of anything data-sized.
    """
    ln = "CAST(round(ln({x}) * 1000000) AS BIGINT)"
    is_train = F.pmod(F.col(ID_COL), F.lit(NB_TRAIN_MOD)) < F.lit(NB_TRAIN_LT)
    toks = docs.select(
        ID_COL,
        LANG_COL,
        F.explode(whitespace_tokens(TEXT_COL)).alias("w"),
    )
    tr = toks.filter(F.pmod(F.col(ID_COL), F.lit(NB_TRAIN_MOD)) < NB_TRAIN_LT)
    te = toks.filter(F.pmod(F.col(ID_COL), F.lit(NB_TRAIN_MOD)) >= NB_TRAIN_LT)

    cnt = tr.groupBy("w", LANG_COL).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tok_c = tr.groupBy(LANG_COL).agg(
        F.count(F.lit(1)).cast("bigint").alias("tok_c")
    )
    docs_c = docs.filter(is_train).groupBy(LANG_COL).agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_c")
    )
    vocab = tr.agg(
        F.countDistinct("w").cast("bigint").alias("v")
    )

    tt = te.groupBy(ID_COL, "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    dlen = te.groupBy(ID_COL).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok")
    )

    classes = tok_c.join(F.broadcast(docs_c), LANG_COL).crossJoin(
        F.broadcast(vocab)
    )
    terms = (
        tt.crossJoin(F.broadcast(classes.select(LANG_COL)))
        .join(cnt, ["w", LANG_COL], "left")
        .groupBy(ID_COL, LANG_COL)
        .agg(
            F.sum(
                F.expr("k * " + ln.format(x="coalesce(cnt, 0) + 1"))
            )
            .cast("bigint")
            .alias("s_term")
        )
    )
    scores = (
        terms.join(dlen, ID_COL)
        .join(F.broadcast(classes), LANG_COL)
        .select(
            ID_COL,
            LANG_COL,
            (
                F.expr(ln.format(x="docs_c"))
                - F.col("n_tok") * F.expr(ln.format(x="tok_c + v"))
                + F.col("s_term")
            ).alias("score"),
        )
    )
    win = Window.partitionBy(ID_COL).orderBy(
        F.col("score").desc(), F.col(LANG_COL).asc()
    )
    pred = (
        scores.withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") == 1)
        .select(ID_COL, F.col(LANG_COL).alias("lang_pred"))
    )
    truth = docs.filter(~is_train).select(
        ID_COL, F.col(LANG_COL).alias("lang_true")
    )
    return (
        pred.join(truth, ID_COL)
        .groupBy("lang_true", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def dsir_importance_weights(
    docs: DataFrame,
    target_pred: str = "lang = 'en'",
) -> DataFrame:
    """Data Selection with Importance Resampling (DSIR, Xie et al. 2023):
    score every document by how much more likely its hashed-unigram
    features are under the TARGET domain's distribution than under the
    raw corpus's — the standard model-free way to up-sample target-like
    pretraining data at corpus scale.

    weight(doc) = Σ_tokens ln( p_target(bucket(w)) / p_raw(bucket(w)) )
    with add-one smoothing over ``DSIR_BUCKETS`` hashed feature buckets.
    bucket(w) = first 4 hex chars of md5(w) mod DSIR_BUCKETS — the same
    engine-portable hash family the SRP/fold kernels use, so an oracle
    re-derives every bucket exactly. Shipped as integer micro-nats: the
    log of each (integer) smoothed count rounds to a micro-nat int once,
    per-doc sums are exact integer arithmetic, so the score is
    bit-identical across engines and partitionings.

    Plan shape (two shuffles, both map-side combined):
      1. token explode → groupBy(bucket): ≤ DSIR_BUCKETS rows AFTER the
         partial agg — the "training" pass for BOTH distributions at
         once (the target's counts are a conditional sum in the same
         aggregate, not a second scan).
      2. tokens ⋈ broadcast(bucket log-ratio dim) → groupBy(doc).
    At 100 TB both passes stream; the only materialized state is the
    DSIR_BUCKETS-row dim. Raising DSIR_BUCKETS (e.g. 65536 for real
    corpora) changes nothing structurally.
    """
    bucket = (
        "CAST(conv(substr(md5(w), 1, 4), 16, 10) AS BIGINT) "
        f"% {DSIR_BUCKETS}"
    )
    toks = docs.selectExpr(
        f"`{ID_COL}`",
        f"CAST(({target_pred}) AS BOOLEAN) AS _is_t",
        f"explode(split(lower(`{TEXT_COL}`), '\\\\s+')) AS w",
    ).selectExpr(f"`{ID_COL}`", "_is_t", f"{bucket} AS bkt")
    counts = toks.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_raw"),
        F.sum(F.expr("CAST(_is_t AS BIGINT)")).cast("bigint").alias("c_t"),
    )
    # ln((c_t+1)/(T_t+B)) - ln((c_raw+1)/(T_raw+B)) splits into a
    # per-bucket term and a per-token constant; both are micro-nat ints.
    const = counts.agg(
        F.sum("c_raw").alias("t_raw"), F.sum("c_t").alias("t_t")
    ).selectExpr(
        "CAST(round(ln(t_raw + {b}) * 1000000) AS BIGINT) - "
        "CAST(round(ln(t_t + {b}) * 1000000) AS BIGINT) AS const_micro"
        .format(b=DSIR_BUCKETS)
    )
    diff = counts.selectExpr(
        "bkt",
        "CAST(round(ln(c_t + 1) * 1000000) AS BIGINT) - "
        "CAST(round(ln(c_raw + 1) * 1000000) AS BIGINT) AS d_micro",
    )
    return (
        toks.join(F.broadcast(diff), "bkt")
        .groupBy(ID_COL)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum("d_micro").cast("bigint").alias("_sd"),
        )
        .crossJoin(F.broadcast(const))
        .selectExpr(
            f"`{ID_COL}`",
            "n_tokens",
            "CAST(_sd + n_tokens * const_micro AS BIGINT) "
            "AS dsir_weight_micro",
        )
    )


def rake_keyphrases(docs: DataFrame, top_k: int = 25) -> DataFrame:
    """RAKE-style keyphrase extraction (Rose et al. 2010), exact-integer
    variant: candidate phrases are maximal runs free of the stopwords
    a/the/and/of/in;
    each word scores degree/frequency (degree = Σ length of phrases
    containing it — co-occurrence weight; frequency = its corpus
    count); a phrase scores the sum of its words' scores. The unsupervised
    keyword miner used to label corpora/cluster topics without a model.

    Exactness: degree and frequency are integer counts; each word's
    score is truncated ONCE to ppm (1e6·degree DIV freq) and phrase
    scores are exact integer sums of those — no float ever enters, so
    ranking is bit-stable (canonical RAKE's rational sum reorders
    float additions; the per-word ppm truncation is the documented
    deviation).

    Shape: stopword-run segmentation is a per-doc prefix sum of the
    stopword flag (window PARTITIONED BY DOC — state is one document);
    phrase assembly is a per-(doc, run) sort_array collect; word stats
    are one map-side-combined shuffle; the final global top-k is a
    TakeOrdered, never a full sort.
    """
    toks = docs.selectExpr(
        f"`{ID_COL}` AS _d",
        f"posexplode(split(lower(`{TEXT_COL}`), '\\\\s+')) AS (_pos, _w)",
    ).selectExpr(
        "_d", "_pos", "_w", "_w IN ('a', 'the', 'and', 'of', 'in') AS _stop"
    )
    grp = Window.partitionBy("_d").orderBy("_pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    runs = (
        toks.withColumn(
            "_run", F.sum(F.expr("CAST(_stop AS INT)")).over(grp)
        )
        .filter("NOT _stop AND _w != ''")
    )
    phrases = runs.groupBy("_d", "_run").agg(
        F.expr(
            "array_join(transform(sort_array(collect_list("
            "struct(_pos, _w))), s -> s._w), ' ')"
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("_plen"),
    )
    # word stats over phrase members: freq = corpus count, degree =
    # Σ length of phrases containing the word (member lists re-derive
    # from runs joined to their phrase length)
    members = runs.join(phrases, ["_d", "_run"]).select(
        "_w", "_plen", "_d", "_run"
    )
    word_scores = (
        members.groupBy("_w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_freq"),
            F.sum("_plen").cast("bigint").alias("_degree"),
        )
        .selectExpr(
            "_w",
            "CAST((1000000 * _degree) DIV _freq AS BIGINT) AS _wscore",
        )
    )
    # no broadcast hint: the word-score dim is vocabulary-sized (can be
    # billions of types at corpus scale) — let AQE pick the strategy
    scored = (
        members.join(word_scores, "_w")
        .groupBy("_d", "_run")
        .agg(F.sum("_wscore").cast("bigint").alias("_score"))
        .join(phrases, ["_d", "_run"])
    )
    return (
        scored.groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.max("_score").cast("bigint").alias("score_ppm"),
        )
        .orderBy(F.col("score_ppm").desc(), F.col("phrase"))
        .limit(top_k)
    )
