"""Deduplication operators for LLM-scale corpora (SURVEY.md §2.3 X1/X2).

Four methods, ordered by cost:

- **exact**: content-hash groupBy (generalizes the reference's sha256
  record keying, ``images_to_tfrecord.py:96-101``). One shuffle on the
  hash; at 100 TB the hash is 16-32 bytes/row, so the shuffle is tiny
  relative to the data.
- **MinHash + LSH banding**: shingle → H minhashes → b bands of r rows →
  bucket-join. Only documents sharing a band bucket ever meet, so the
  candidate join is output-bound, not O(n²).
- **SimHash**: one 16-bit signature per document; near-dups have small
  Hamming distance. Signature computation is a single explode+groupBy.
- **exact set similarity**: one kernel, ``_similarity_join``, joins
  rarity-ordered prefix postings of the distinct vectors and verifies
  each candidate over the full postings — n-gram Jaccard and containment
  (the verifiers for the approximate methods), token-set Jaccard and
  tf-idf cosine, all exact and never a crossJoin.

Portability note: every hash here is ``md5`` of a string and every
"minimum" is the lexicographic min of hex strings. That makes the whole
family bit-reproducible in any engine with md5 — which is what lets the
DuckDB oracle check these queries value-for-value. md5 is uniform enough
for sketching; it is NOT a security choice.
"""

from __future__ import annotations

import hashlib
from fractions import Fraction

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import fixpoint, lineage_cut

ID_COL = "doc_id"
TEXT_COL = "text"
SAMPLE_MAX_FILES = 64

# ---------------------------------------------------------------------------
# tokenization / shingling (shared with textanalysis)
# ---------------------------------------------------------------------------


def tokens_col(text_col: str = "text") -> F.Column:
    """Whitespace tokens, lowercased."""
    return F.split(F.lower(F.col(text_col)), r"\s+")


def shingles_col(text_col: str = "text", n: int = 3) -> F.Column:
    """Distinct word n-gram shingles. Documents shorter than ``n`` tokens
    produce no shingles (callers filter those; the oracle does too)).

    PERF: higher-order-function lambdas are interpreted, not codegen'd,
    and an expression argument referenced inside the lambda is
    re-evaluated per element. With ``ws`` inlined here, the regex split
    runs once per shingle POSITION — O(words²) per document. Hot paths
    must bind the token array to a real column first and pass its name
    (see ``exploded_shingles``); this inline form is kept for one-shot
    column contexts only."""
    return _shingles_over(tokens_col(text_col), n)


def _shingles_over(ws: F.Column, n: int) -> F.Column:
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size(ws) - n),
            lambda i: F.concat_ws(" ", F.slice(ws, i + 1, n)),
        )
    )


def exploded_shingles(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """One row per (doc, distinct shingle). The inverted-index base.

    Tokenizes BEFORE the exchange, shingles after: the regex split is
    bound to a concrete column on the map side, so the interpreted
    shingle lambda slices a materialized array instead of re-running
    ``split`` per shingle position (the exchange is a hard boundary
    CollapseProject can't inline across — measured 1.5× on the whole
    stage). The repartition on ``id_col`` also spreads the CPU-bound
    shingle+hash work across all cores AND already satisfies the
    ``groupBy(id_col)`` distribution every consumer needs, so Catalyst
    plans no second exchange — same shuffle count, tokens move instead
    of raw text (similar bytes). Width cores/2, same measurement as the
    labels cast chain (queries.py::_lineitem_as_raw_labels): the
    shingle+hash stage saturates before all cores and the extra tasks
    only add scheduling (0.62 s vs 0.72 s whole-query at 16 vs 32-way
    on 32 cores)."""
    n_parts = max(
        8, docs.sparkSession.sparkContext.defaultParallelism // 2
    )
    # expr-string form of tokens_col/_shingles_over: identical logical
    # plan, built in a handful of py4j round trips instead of one per
    # Column node. Plan CONSTRUCTION is part of serving latency for
    # repeated queries, and the Column-by-Column form spends ~0.2 s per
    # build in gateway round trips on this function alone (profiled:
    # recv_into dominates, not Python work).
    shingle_expr = (
        f"explode(array_distinct(transform(sequence(0, size(_ws) - {n}), "
        f"i -> concat_ws(' ', slice(_ws, i + 1, {n}))))) AS shingle"
    )
    return (
        docs.selectExpr(
            f"`{id_col}`", f"split(lower(`{text_col}`), '\\\\s+') AS _ws"
        )
        .repartition(n_parts, id_col)
        .filter(F.size(F.col("_ws")) >= n)
        .selectExpr(f"`{id_col}`", shingle_expr)
    )


# ---------------------------------------------------------------------------
# X1 — exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Group identical content by md5; keeper = min id per group.
    Returns (content_hash, n_copies, keeper_id). ``dropDuplicates`` would
    pick an arbitrary survivor; min-id is deterministic."""
    return (
        docs.select(
            F.md5(F.col(TEXT_COL)).alias("content_hash"), F.col(ID_COL)
        )
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(ID_COL).alias("keeper_id"),
        )
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """The dedup itself: keep one row per distinct content (min-id wins)."""
    w = Window.partitionBy(F.md5(F.col(TEXT_COL))).orderBy(ID_COL)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# ---------------------------------------------------------------------------
# X2 — MinHash + LSH banding
# ---------------------------------------------------------------------------


def _spread(docs: DataFrame, id_col: str) -> DataFrame:
    """Hash-repartition ONLY when the input is under-parallel (scan
    collapsed to a handful of partitions — the small-file regime): a
    narrow CPU-bound stage downstream would otherwise run on 1-2 cores.
    At real scale the scan has >> cores partitions and this is a no-op,
    so the CPU stage inherits the scan's parallelism with ZERO shuffle.
    Hash on the id (not round-robin): deterministic under task retry
    without the sort-before-repartition pass round-robin pays."""
    target = max(
        8, docs.sparkSession.sparkContext.defaultParallelism // 2
    )
    if docs.rdd.getNumPartitions() >= target:
        return docs
    return docs.repartition(target, id_col)


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 12,
                       shingle_n: int = 3) -> DataFrame:
    """Wide-form signatures: (doc, mh0..mh{H-1}), mh_i = min over shingles
    of md5(i || '|' || shingle).

    A document's signature depends only on its OWN shingle set, so this
    is a PER-ROW fold, not an aggregation: transform the distinct
    shingle array to md5 digests once, then take H ``array_min``'s over
    8-hex-char digest slices — one md5 yields FOUR independent 32-bit
    hashes, so H hashes cost ceil(H/4) md5 calls per shingle. Portable:
    min over substring(md5(x), 1+8k, 8) is identical SQL everywhere, so
    a DuckDB oracle re-derives signatures exactly.

    Plan shape: entirely NARROW — no explode to shingle rows, no
    hash-agg, no exchange. At 100 TB the signature stage is
    embarrassingly parallel over scan partitions; the earlier
    explode + repartition(id) + groupBy(id) form shuffled the tokenized
    corpus once just to bring each doc's shingles back together.
    ``_spread`` guards the small-input regime where the scan has fewer
    partitions than cores (measured at sf0.1: 0.38 s vs 0.49 s median,
    and one fewer exchange in the plan)."""
    n_seeds = (num_hashes + 3) // 4
    shingles = (
        f"array_distinct(transform(sequence(0, size(_ws) - {shingle_n}), "
        f"i -> concat_ws(' ', slice(_ws, i + 1, {shingle_n}))))"
    )
    digests = [
        f"transform(_sh, x -> md5(concat_ws('|', '{s}', x))) AS _d{s}"
        for s in range(n_seeds)
    ]
    mins = [
        f"array_min(transform(_d{i // 4}, "
        f"d -> substring(d, {1 + 8 * (i % 4)}, 8))) AS mh{i}"
        for i in range(num_hashes)
    ]
    return (
        _spread(docs, id_col)
        .selectExpr(
            f"`{id_col}`", f"split(lower(`{text_col}`), '\\\\s+') AS _ws"
        )
        .filter(F.size(F.col("_ws")) >= shingle_n)
        .selectExpr(f"`{id_col}`", f"{shingles} AS _sh")
        .selectExpr(f"`{id_col}`", *digests)
        .selectExpr(f"`{id_col}`", *mins)
    )


def lsh_band_buckets(signatures: DataFrame, id_col: str = "doc_id",
                     num_hashes: int = 12, rows_per_band: int = 2) -> DataFrame:
    """(doc, band, band_hash) from wide signatures. Docs agreeing on ALL
    rows of a band share a band_hash → candidate pair. Pure narrow ops:
    band hashes are column expressions, the unpivot is an explode."""
    n_bands = num_hashes // rows_per_band
    # one expr string for the whole band array (same plan, ~2 gateway
    # calls instead of ~6 per band)
    structs = ", ".join(
        "struct({b} AS band, md5(concat_ws('|', {cols})) AS band_hash)".format(
            b=b,
            cols=", ".join(
                f"mh{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return signatures.selectExpr(
        f"`{id_col}`", f"explode(array({structs})) AS bb"
    ).selectExpr(f"`{id_col}`", "bb.band", "bb.band_hash")


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", num_hashes: int = 12,
                           rows_per_band: int = 2,
                           shingle_n: int = 3,
                           max_bucket: int | None = None) -> DataFrame:
    """Candidate near-dup pairs: (doc_a, doc_b, n_shared_bands), doc_a <
    doc_b. The self-join is on (band, band_hash) — bucket-local, so its
    cost scales with bucket occupancy (≈ true near-dups), not n².

    ``max_bucket`` is the mega-bucket guard for boilerplate-heavy crawls:
    a degenerate bucket (k near-identical documents that survive exact
    dedup — templated pages, license headers) otherwise lands k ids on
    ONE reducer and fans out k² pairs. With the cap, each (band,
    band_hash) bucket keeps only its ``max_bucket`` smallest doc ids
    (rank-before-collect, so reducer memory is bounded too, not just the
    pair output), pair fan-out is ≤ B(B-1)/2 per bucket, and the output
    gains a ``capped`` column — true when any contributing bucket
    overflowed — so the dedup job can route overflow groups to exact
    dedup or review instead of silently losing pairs. Default ``None``
    keeps the exact LSH semantics (the oracle-checked shape, unchanged
    output schema)."""
    bands = lsh_band_buckets(
        minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        rows_per_band,
    )
    # Streamed bucket-local self-join on (band, band_hash). A join
    # MATCHES rows pair-by-pair as they stream out of the sorted/hashed
    # bucket, so a degenerate mega-bucket (10⁵-10⁶ near-identical docs
    # surviving exact dedup) produces many OUTPUT rows across many tasks
    # instead of one N²/2 in-memory struct array inside one task; AQE
    # skew-join splitting further splits a hot bucket across tasks. Both
    # join inputs are the identical plan subtree, so Spark's exchange
    # reuse (spark.sql.exchange.reuse, on by default) computes the
    # signature pipeline and its shuffle ONCE — asserted by the plan
    # tests (ReusedExchange under the join).
    flags = []
    if max_bucket is not None:
        # mega-bucket guard: keep only the max_bucket smallest ids per
        # (band, band_hash) BEFORE the join (rank-before-join, so both
        # reducer memory and pair fan-out are bounded at B(B-1)/2), and
        # carry a `capped` flag so overflow groups can be routed to
        # exact dedup instead of silently losing pairs.
        bkey = Window.partitionBy("band", "band_hash")
        bands = (
            bands.withColumn(
                "_rn", F.row_number().over(bkey.orderBy(id_col))
            )
            .withColumn("_members", F.count("*").over(bkey))
            .filter(F.col("_rn") <= max_bucket)
            .withColumn("_capped", F.col("_members") > max_bucket)
            .drop("_rn", "_members")
        )
        # Both sides carry the flag, so the two join inputs stay
        # identical subtrees and the exchange is reused; if only one
        # side did, column pruning would make them differ and the
        # window rank would run twice. The two flags are equal (the
        # same bucket on both sides of the equi-join), and ORing them
        # keeps the right side's flag from being pruned.
        flags = [F.max(F.col("_capped_a") | F.col("_capped_b"))
                 .alias("capped")]

    def side(s: str) -> DataFrame:
        return bands.select(
            "band", "band_hash", F.col(id_col).alias(f"doc_{s}"),
            *([F.col("_capped").alias(f"_capped_{s}")] if flags else []),
        )

    return (
        side("a").join(side("b"), ["band", "band_hash"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_bands"), *flags)
    )


def _expand_classes(members: DataFrame, rep_pairs: DataFrame,
                    within: DataFrame, max_class: int | None = None,
                    directed: bool = False) -> DataFrame:
    """Member pairs of duplicate classes whose representatives were
    verified once: the expansion step of every collapse-first pair
    operator.

    - ``members`` is ``(_g, _id)``: every document with its class
      representative ``_g = min(_id)``.
    - ``rep_pairs`` is ``(_ga, _gb, *values)``: the verified
      representative pairs. Each cross-class member pair copies its
      representative pair's values.
    - ``within`` is ``(_g, *values)``: the values of a pair inside
      class ``_g``. A class with no row emits no within pairs.

    Returns ``(doc_a, doc_b, *values)`` with ``doc_a < doc_b``, or,
    when ``directed``, in the order of its representative pair and with
    both orders of a pair inside a class. Both
    expansions are streamed member-row joins, so no task materializes
    a member or pair array: a class duplicated 10⁶ times streams its
    pairs across the join instead of OOMing one reducer.

    ``max_class`` is the mega-class guard, the class-level twin of the
    LSH ``max_bucket`` cap: each class keeps only its ``max_class``
    smallest ids (the representative always among them) and the output
    gains ``capped``, true when either endpoint's class overflowed, so
    overflow groups can be routed to exact dedup instead of silently
    exploding."""
    values = [c for c in rep_pairs.columns if c not in ("_ga", "_gb")]
    cap = []
    if max_class is not None:
        wg = Window.partitionBy("_g")
        members = (
            members.withColumn("_rn", F.row_number().over(wg.orderBy("_id")))
            .withColumn("_n_mem", F.count("*").over(wg))
            .filter(F.col("_rn") <= max_class)
            .select("_g", "_id", (F.col("_n_mem") > max_class).alias("_cap"))
            .transform(lineage_cut)
        )
        cap = [(F.col("_ca") | F.col("_cb")).alias("capped")]

    def side(s: str, key: str) -> DataFrame:
        return members.select(
            F.col("_g").alias(key),
            F.col("_id").alias(f"_m{s}"),
            *([F.col("_cap").alias(f"_c{s}")] if cap else []),
        )

    # classes are disjoint id sets, so least/greatest normalizes each
    # unordered cross pair exactly once
    lo, hi = (F.col("_ma"), F.col("_mb")) if directed else (
        F.least("_ma", "_mb"), F.greatest("_ma", "_mb")
    )
    cross = (
        rep_pairs.join(side("a", "_ga"), "_ga")
        .join(side("b", "_gb"), "_gb")
        .select(lo.alias("doc_a"), hi.alias("doc_b"), *values, *cap)
    )
    inner = (
        side("a", "_g")
        .join(side("b", "_g"), "_g")
        .filter(F.col("_ma") != F.col("_mb") if directed
                else F.col("_ma") < F.col("_mb"))
        .join(within, "_g")
        .select(
            F.col("_ma").alias("doc_a"), F.col("_mb").alias("doc_b"),
            *values, *cap,
        )
    )
    return inner.unionByName(cross)


def minhash_lsh_candidates_collapsed(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Pair-for-pair identical output to :func:`minhash_lsh_candidates`
    (no ``max_bucket``), computed over DISTINCT content only — the
    exact-dedup-first move every crawl-scale near-dup pipeline makes.

    A MinHash signature depends only on the document's lowered word
    sequence, so documents with identical token streams share ALL
    bands by construction. This variant therefore:

    1. collapses docs to classes keyed by an injective hash of the
       word sequence,
    2. runs the signature + band-bucket pipeline over ONE
       representative per class (cost scales with |distinct texts|,
       not |docs| — on a corpus where every page is duplicated k
       times, the expensive stages shrink k×),
    3. expands pairs with :func:`_expand_classes`: rep-pair shared-band
       counts apply to every cross-class member pair; within-class
       pairs share all ``num_hashes/rows_per_band`` bands.

    Classes whose word count is below ``shingle_n`` produce no
    signature in the uncollapsed form and are excluded from BOTH
    expansions here, keeping the equality exact. Measured: the
    uncollapsed form spends 43× more time per 10× data on the sf10
    verbatim-replication corpus (every doc in a ≥100-member class);
    this form's expensive stages see 4 992 reps instead of 500 000
    docs."""
    n_bands = num_hashes // rows_per_band
    mem0 = docs.selectExpr(
        f"`{id_col}` AS _id",
        f"split(lower(`{text_col}`), '\\\\s+') AS _ws",
    ).withColumn(
        # class key: md5 of the single-space re-join. Injective on the
        # word sequence: split('\\s+') yields space-FREE tokens (runs
        # collapse; only boundary empties survive), so the joined
        # string splits back to exactly one array — no separator
        # collision is possible, and no per-token hashing is needed.
        "_ck", F.md5(F.expr("array_join(_ws, ' ')"))
    )
    # one representative per distinct word sequence; classes too short
    # to shingle drop here (the uncollapsed pipeline's size(_ws)
    # filter). The table is text-free (_ck 32 B + _g 8 B per class) and
    # pinned with lineage_cut rather than persist: the cut's blocks are
    # reclaimed when the returned plan is dropped, so repeated calls
    # cannot accumulate cache entries, and the corpus-sized mem0 is
    # never cached or checkpointed.
    groups = lineage_cut(
        mem0.groupBy("_ck")
        .agg(
            F.min("_id").alias("_g"),
            F.first(F.size("_ws")).alias("_nw"),
        )
        .filter(F.col("_nw") >= shingle_n)
        .select("_ck", "_g")
    )
    members = mem0.select("_ck", "_id").join(groups, "_ck").select("_g", "_id")
    # Rep text comes from an ID join against the raw docs (the rep IS
    # doc min(_id), so its own text row carries the class's word
    # sequence verbatim): no second tokenization of the corpus and no
    # persisted text.
    reps = (
        docs.selectExpr(
            f"`{id_col}` AS _rid", f"`{text_col}` AS _rtext"
        )
        .join(groups.select(F.col("_g").alias("_rid")), "_rid")
        .select(F.col("_rid").alias(id_col),
                F.col("_rtext").alias(text_col))
    )
    rep_pairs = minhash_lsh_candidates(
        reps, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        rows_per_band=rows_per_band, shingle_n=shingle_n,
    ).withColumnRenamed("doc_a", "_ga").withColumnRenamed("doc_b", "_gb")
    # identical word sequences share every band
    within = groups.select(
        "_g", F.lit(n_bands).cast("long").alias("n_shared_bands")
    )
    return _expand_classes(members, rep_pairs, within)


# (application id, semanticHash(docs), text_col) -> measured distinct
# ratio. Bounded by distinct corpora probed per session; entries are
# floats, so this never holds data.
_PROBE_RATIO_CACHE: dict[tuple, float] = {}

# The adaptive router collapses first below this distinct-text ratio.
COLLAPSE_BELOW = 0.7
# Rows the distinct-ratio probe reads: the threshold is coarse enough
# that a 64 k-row estimate decides it.
PROBE_ROWS = 65536


def _stratified_distinct_ratio(
    docs: DataFrame, text_col: str, probe_rows: int
) -> float | None:
    """Layout-UNBIASED distinct-text-ratio estimate: one hash-chosen
    row group from each of up to ``SAMPLE_MAX_FILES`` hash-chosen input
    files, read driver-side with pyarrow. A prefix ``take()`` reads
    partition 0 first, so layout-clustered duplicates (crawl dumps
    often sort near-dups together) skew its estimate; a per-file
    row-group sample sees every region of the table at the same bounded
    cost (≤ SAMPLE_MAX_FILES row-group column decodes, no Spark job, no
    text leaves the driver beyond the sampled column).

    Returns None — callers fall back to the prefix probe — when the
    input's lineage doesn't expose LOCAL parquet files carrying
    ``text_col`` verbatim (computed/renamed columns, remote
    filesystems, non-parquet sources). The estimate is of the SOURCE
    rows, before any narrow transform above the scan; like the probe
    itself it affects COST only, never the answer (both routed forms
    are pair-identical)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover - pyarrow is baked in
        return None
    all_uris = docs.inputFiles()
    uris = [u for u in all_uris if u.endswith(".parquet")]
    if not uris or len(uris) != len(all_uris):
        return None
    paths = []
    for u in uris:
        if u.startswith("file:"):
            from urllib.parse import unquote, urlparse

            paths.append(unquote(urlparse(u).path))
        elif "://" in u:
            return None  # remote FS: not reachable driver-side here
        else:
            paths.append(u)
    if len(paths) > SAMPLE_MAX_FILES:
        paths = sorted(
            paths, key=lambda s: hashlib.md5(s.encode()).hexdigest()
        )[:SAMPLE_MAX_FILES]
    per_file = max(256, probe_rows // max(len(paths), 1))
    # Two estimates, combined by min():
    # - WEIGHTED per-file ratio (each file's sample ratio weighted by
    #   its footer row count): robust to unequal file sizes — a small
    #   all-unique file can't outvote a huge all-duplicate one — but
    #   BLIND to cross-file duplication (a corpus replicated file-by-
    #   file looks all-distinct per file: measured at sf10, that
    #   mis-route cost 96 s direct vs ~10 s collapsed).
    # - POOLED ratio over all sampled rows (one global seen-set):
    #   sees cross-file duplicates, but size-biased.
    # min() is the right combiner because the COSTS are asymmetric:
    # wrongly choosing collapsed on a unique corpus wastes ~1 s of
    # collapse machinery; wrongly choosing direct on a dup-heavy
    # corpus is a ~10× blowup. Still cost-only either way.
    w_total = 0
    acc = 0.0
    pooled: set = set()
    pooled_n = 0
    for p in paths:
        try:
            pf = pq.ParquetFile(p)
            if text_col not in pf.schema_arrow.names:
                return None
            nrg = pf.metadata.num_row_groups
            if nrg == 0:
                continue
            rg = int(hashlib.md5(p.encode()).hexdigest(), 16) % nrg
            # slice BEFORE to_pylist: a production row group can hold
            # ~1M long strings and only per_file of them are used, so
            # materializing the full column as Python objects would be a
            # driver memory/time spike per probed file
            col = (
                pf.read_row_group(rg, columns=[text_col])
                .column(0)
                .slice(0, per_file)
            )
            w = pf.metadata.num_rows
        except Exception:  # unreadable/corrupt: let the probe decide
            return None
        seen: set = set()
        n = 0
        for t in col.to_pylist():
            if t is None:
                continue
            seen.add(hashlib.md5(
                " ".join(str(t).lower().split()).encode()
            ).digest())
            n += 1
        if n == 0:
            continue
        acc += w * (len(seen) / n)
        w_total += w
        pooled |= seen
        pooled_n += n
    if w_total == 0:
        return None
    return min(acc / w_total, len(pooled) / pooled_n)


def minhash_lsh_candidates_adaptive(
    docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """MinHash-LSH candidates with a stats-driven form choice — the
    decision a cost-based optimizer makes from table statistics,
    executed here as ONE cheap probe:

    - distinct-text ratio < ``COLLAPSE_BELOW`` (duplication-heavy —
      the crawl shape): run :func:`minhash_lsh_candidates_collapsed`,
      whose expensive stages see one representative per distinct word
      sequence (measured 12.7× cheaper than the direct form on the
      sf10 heavy-dup corpus: 7.7 s vs 98.8 s DuckDB);
    - ratio ≥ ``COLLAPSE_BELOW`` (mostly-unique corpus): run the
      direct streamed form, skipping the collapse machinery that only
      pays for itself when classes are big (measured ~0.9 s cheaper
      at sf0.1 where 92% of texts are unique).

    The probe is two-tier. When the input's lineage exposes local
    parquet files carrying the ``text`` column, a LAYOUT-UNBIASED
    stratified sample reads one hash-chosen row group from each of ≤64
    files
    driver-side (zero Spark jobs, bounded decode), so clustered
    duplicates at the head of the table do not skew the estimate.
    Otherwise it falls back to the exact distinct ratio of a
    ``PROBE_ROWS``-row prefix, fetched with ``take``: CollectLimit
    scans partitions incrementally starting from one, so at any corpus
    size the probe reads ~one input split, never the table. Only
    digests reach the driver, never retained text. Either estimate
    affects COST only, never the answer: both forms are pair-for-pair
    identical (pinned in tests and by the shared oracle SQL), so the
    worst a biased probe costs is the other form's runtime."""
    # memoize by the input's semantic plan hash — the engine-side
    # analogue of ANALYZE results living in the catalog: a served or
    # benchmarked query re-running the same plan reuses the estimate
    # with zero jobs. Cost-only: a stale or colliding entry can only
    # pick the other (identical-output) form.
    cache_key = (
        docs.sparkSession.sparkContext.applicationId,
        docs.semanticHash(),
        TEXT_COL,
    )
    ratio = _PROBE_RATIO_CACHE.get(cache_key)
    if ratio is None:
        ratio = _stratified_distinct_ratio(docs, TEXT_COL, PROBE_ROWS)
        if ratio is None:
            digests = docs.selectExpr(
                f"md5(array_join(split(lower(`{TEXT_COL}`), "
                "'\\\\s+'), ' ')) AS _ck"
            ).take(PROBE_ROWS)
            ratio = len({r[0] for r in digests}) / (len(digests) or 1)
        _PROBE_RATIO_CACHE[cache_key] = ratio
    form = (
        minhash_lsh_candidates_collapsed if ratio < COLLAPSE_BELOW
        else minhash_lsh_candidates
    )
    return form(
        docs, id_col=ID_COL, text_col=TEXT_COL, num_hashes=num_hashes,
        rows_per_band=rows_per_band, shingle_n=shingle_n,
    )


# ---------------------------------------------------------------------------
# X2b — SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # one bit per md5 hex digit (md5 has 32 hex digits)
SIMHASH_SHINGLE_N = 3  # words per shingle


def simhash(docs: DataFrame, id_col: str = "doc_id",
            text_col: str = "text") -> DataFrame:
    """32-bit SimHash per document over its distinct shingle set.

    Bit j of shingle s = msb of hex digit j of md5(s) (± vote); document
    bit j = sign of the vote sum; signature = Σ bit_j·2^j. Returns
    (id, simhash:long). Shingles, not raw tokens: with a small vocabulary
    every document contains nearly every token, which would collapse all
    token-based signatures onto one value; 3-gram shingle sets stay
    document-specific."""
    sh = exploded_shingles(
        docs, id_col, text_col, SIMHASH_SHINGLE_N
    ).withColumn("h", F.md5("shingle"))
    # One groupBy(doc) with 32 vote-sum aggregations (map-side partial
    # agg) instead of a 32× row explode + two shuffles: the single
    # shuffle moves |docs| rows of 32 ints, independent of doc length.
    vote_j = [
        F.sum(
            F.when(F.substring("h", j + 1, 1) >= "8", 1).otherwise(-1)
        ).alias(f"v{j}")
        for j in range(SIMHASH_BITS)
    ]
    votes = sh.groupBy(id_col).agg(*vote_j)
    sig = None
    for j in range(SIMHASH_BITS):
        term = (F.col(f"v{j}") > 0).cast("long") * F.lit(1 << j).cast("long")
        sig = term if sig is None else sig + term
    return votes.select(id_col, sig.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, without a crossJoin.

    Pigeonhole blocking: split the signature into ``max_hamming + 1``
    blocks; any pair within distance ``max_hamming`` must agree exactly
    on at least one block, so joining on (block_index, block_value)
    finds every qualifying pair. Candidates are then verified with the
    exact popcount — blocking affects cost only, never the answer."""
    n_blocks = max_hamming + 1
    block_bits = SIMHASH_BITS // n_blocks
    assert block_bits >= 1, "too many blocks for the signature width"
    sig = simhash(docs, ID_COL, TEXT_COL)
    blocks = sig.select(
        ID_COL,
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("blk"),
    ).withColumn(
        # (sig >> blk*bits) & mask, written with arithmetic because
        # shiftright() takes only a literal shift amount
        "blk_val",
        (
            F.col("simhash")
            / F.pow(F.lit(2.0), F.col("blk") * block_bits).cast("long")
        ).cast("long")
        % (1 << block_bits),
    ).transform(lineage_cut)
    # the self-join below would otherwise recompute the signature; a
    # checkpoint, not persist, frees the blocks when the result drops
    a = blocks.select(
        F.col(ID_COL).alias("doc_a"), F.col("simhash").alias("sig_a"),
        "blk", "blk_val",
    )
    b = blocks.select(
        F.col(ID_COL).alias("doc_b"), F.col("simhash").alias("sig_b"),
        "blk", "blk_val",
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["blk", "blk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


# ---------------------------------------------------------------------------
# X2c — exact set-similarity joins: one kernel behind four pair operators
# ---------------------------------------------------------------------------

# What differs by measure in ``_similarity_join``, as SQL text over the
# columns it builds. A representative's posting row has its norm
# ``_n2`` (Σw², the set size when every weight is 1), its 1-based
# position ``_rn`` in the global term order, and window sums over the
# postings before it: ``_cum`` (Σ û·mw) and ``_q`` (Σ û²), with
# ``_tot`` the whole document's Σ û·mw, where û = w/‖d‖ and ``_mw`` is
# the term's largest û. ``_df`` is the term's document frequency.
# Verified pairs have ``_dot`` = Σ w_a·w_b and norms ``_na``/``_nb``; a
# class of identical vectors is scored with all three equal to its norm.
# Thresholds enter as the exact rational {tn}/{td} (floats {t}, {t2} =
# t² only in the cosine pruning bounds, widened by {eps}). Fields:
# - order: the global term order (rarest first for sets, Bayardo's
#   decreasing max weight for cosine). Any fixed order is exact; the
#   order only decides how short the prefixes are.
# - prefix: the postings a document indexes. Any pair at or above the
#   threshold shares a term inside both prefixes, its first shared term:
#   J ≥ t and A-in-B containment ≥ t both need an overlap of at least
#   t·|x|, so a set indexes position p while the n − p + 1 terms from p
#   on could still hold it; a cosine ≥ t needs the suffix bounds
#   Σ û·mw (Bayardo) and, by Cauchy–Schwarz, Σ û² to reach t and t².
# - pairs: the filters on each matched posting pair. A candidate's row
#   at its first shared term passes them whenever the pair qualifies, so
#   rows at later shared terms may be dropped. Jaccard: sizes within
#   t·|x| ≤ |y| ≤ |x|/t; the overlap left from the matched positions,
#   1 + min(|x| − p_x, |y| − p_y), reaches t/(1+t)·(|x|+|y|); and two
#   distinct sets of equal size n overlap in at most n − 1 terms.
#   Containment: the same tests with |A| alone on the right. Cosine: the
#   ℓ² bound (1 − q_a)(1 − q_b) ≥ t² over the norm mass after the
#   prefixes (L2AP).
# - accept: the exact test in integers.
# - out: the output columns.
# - directed: containment is asymmetric, so it probes A's prefix against
#   B's full postings (containment ≥ t needs only A's prefix to meet B)
#   and keeps both orders of a pair.
_MEASURES = {
    "jaccard": (
        "_df, _term",
        "(_n2 - _rn + 1) * {td} >= {tn} * _n2",
        "a._d < b._d AND b._n2 * {td} >= a._n2 * {tn}"
        " AND a._n2 * {td} >= b._n2 * {tn}"
        " AND (1 + least(a._n2 - a._rn, b._n2 - b._rn)) * ({tn} + {td})"
        " >= (a._n2 + b._n2) * {tn}"
        " AND (a._n2 != b._n2 OR (a._n2 - 1) * {td} >= {tn} * (a._n2 + 1))",
        "_dot * {td} >= {tn} * (_na + _nb - _dot)",
        ("_dot AS overlap", "round(_dot / (_na + _nb - _dot), 6) AS jaccard"),
        False,
    ),
    "containment": (
        "_df, _term",
        "(_n2 - _rn + 1) * {td} >= {tn} * _n2",
        "a._d != b._d AND b._n2 * {td} >= a._n2 * {tn}"
        " AND (1 + least(a._n2 - a._rn, b._n2 - b._rn)) * {td}"
        " >= {tn} * a._n2"
        " AND (a._n2 != b._n2 OR (a._n2 - 1) * {td} >= {tn} * a._n2)",
        "_dot * {td} >= {tn} * _na",
        ("_dot AS shared", "round(_dot / _na, 6) AS containment"),
        True,
    ),
    "cosine": (
        "_mw DESC, _term",
        "_tot - _cum >= {t} - {eps} AND 1.0 - _q >= {t2} - {eps}",
        "a._d < b._d AND (1.0 - a._q) * (1.0 - b._q) >= {t2} - {eps}",
        "{td} * {td} * CAST(_dot AS DECIMAL(38,0)) * _dot"
        " >= {tn} * {tn} * CAST(_na AS DECIMAL(38,0)) * _nb",
        ("CAST(floor(1000000 * CAST(_dot AS DOUBLE) / (sqrt(CAST(_na AS "
         "DOUBLE)) * sqrt(CAST(_nb AS DOUBLE)))) AS BIGINT) AS cosine_ppm",),
        False,
    ),
}

# round(x, 6) >= t holds iff x >= t - 5e-7; the ngram wrappers prune
# 1e-7 below that, so a quotient whose double rounds up onto the
# boundary still reaches their rounded filter.
_ROUND_SLACK = Fraction(6, 10**7)


def _similarity_join(post: DataFrame, measure: str, t: Fraction,
                     max_class: int | None) -> DataFrame:
    """Every document pair whose similarity under ``measure`` (a
    ``_MEASURES`` key) is at least ``t``, exactly, over postings
    ``(_d, _term, _w)``: one row per distinct (document, term) with a
    positive integer weight.

    1. Documents with identical postings collapse into a class; its
       minimum id represents it and the classes are the only vectors
       the next steps see.
    2. Terms get one global order (the measure's).
    3. Each representative indexes the prefix of its ordered postings
       that the measure's bound keeps.
    4. One join of prefix postings on the term, under the measure's
       pair filters, gives the candidate representative pairs.
    5. Each candidate's Σ w_a·w_b is summed over the full postings.
    6. The measure's exact test accepts it.
    7. ``_expand_classes`` expands the accepted pairs and the classes to
       member pairs ``(doc_a, doc_b, *out)``; ``max_class`` is its
       mega-class guard.

    The class key is injective: each element is ``md5(term):w``, of
    fixed-width hex then digits, and ``,`` separates the elements."""
    order, prefix, pairs, accept, out, directed = _MEASURES[measure]
    sql = dict(tn=t.numerator, td=t.denominator, t=float(t),
               t2=float(t * t), eps=1e-9)
    docs = (
        post.groupBy("_d")
        .agg(
            F.expr("sort_array(collect_list(struct(_term, _w))) AS _p"),
            F.expr("sum(_w * _w) AS _n2"),
        )
        .selectExpr("_d", "_p", "_n2", "min(_d) OVER (PARTITION BY md5("
                    "array_join(transform(_p, x -> concat(md5(x._term), ':',"
                    " x._w)), ','))) AS _g")
        .transform(lineage_cut)
    )
    members = docs.selectExpr("_g", "_d AS _id")
    classes = docs.filter("_d = _g")
    reps = classes.selectExpr("_g AS _d", "_n2", "inline(_p)")
    stats = reps.groupBy("_term").agg(
        F.expr("count(*) AS _df"), F.expr("max(_w / sqrt(_n2)) AS _mw")
    )
    frame = ("OVER (PARTITION BY _d ORDER BY " + order
             + " ROWS BETWEEN UNBOUNDED PRECEDING AND {})")
    ranked = reps.join(stats, "_term").selectExpr(
        "_d", "_term", "_n2", "_df", "_mw", "_w / sqrt(_n2) AS _u"
    ).selectExpr(
        "_d", "_term", "_n2",
        f"row_number() OVER (PARTITION BY _d ORDER BY {order}) AS _rn",
        "coalesce(sum(_u * _mw) " + frame.format("1 PRECEDING") + ", 0D)"
        " AS _cum",
        "sum(_u * _mw) " + frame.format("UNBOUNDED FOLLOWING") + " AS _tot",
        "coalesce(sum(_u * _u) " + frame.format("1 PRECEDING") + ", 0D)"
        " AS _q",
    )
    indexed = ranked.filter(prefix.format(**sql))
    cand = (
        indexed.alias("a")
        .join((ranked if directed else indexed).alias("b"),
              F.expr(f"a._term = b._term AND {pairs.format(**sql)}"))
        .selectExpr("a._d AS _ga", "b._d AS _gb")
        .distinct()
    )

    def side(s: str) -> DataFrame:
        return reps.selectExpr(f"_d AS _g{s}", "_term", f"_w AS _w{s}",
                               f"_n2 AS _n{s}")

    rep_pairs = (
        cand.join(side("a"), "_ga")
        .join(side("b"), ["_gb", "_term"])
        .groupBy("_ga", "_gb", "_na", "_nb")
        .agg(F.expr("sum(_wa * _wb) AS _dot"))
        .filter(accept.format(**sql))
        .selectExpr("_ga", "_gb", *out)
    )
    within = classes.selectExpr(
        "_g", "_n2 AS _dot", "_n2 AS _na", "_n2 AS _nb"
    ).selectExpr("_g", *out)
    return _expand_classes(members, rep_pairs, within, max_class, directed)


def _doc_words(docs: DataFrame) -> DataFrame:
    """``(_d, _ws)``: each document's lowercased words, hash-partitioned
    by id before any posting exists: the exchange moves text, not
    postings, and a grouping by document right after it needs no other
    exchange."""
    return docs.selectExpr(
        f"`{ID_COL}` AS _d", f"split(lower(`{TEXT_COL}`), '\\\\s+') AS _ws"
    ).repartition("_d")


def ngram_jaccard_pairs(docs: DataFrame, shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity of shingle sets, jaccard = shared /
    (|A| + |B| − shared) rounded to 6 decimals, for every pair at or
    above ``threshold``: (doc_a, doc_b, shared, jaccard), doc_a < doc_b.
    Documents shorter than ``shingle_n`` words have no shingles and no
    pairs."""
    post = exploded_shingles(docs, ID_COL, TEXT_COL, shingle_n).selectExpr(
        f"`{ID_COL}` AS _d", "shingle AS _term", "1L AS _w"
    )
    t = Fraction(str(threshold)) - _ROUND_SLACK
    return (
        _similarity_join(post, "jaccard", t, None)
        .filter(F.col("jaccard") >= threshold)
        .withColumnRenamed("overlap", "shared")
    )


def ngram_containment_pairs(docs: DataFrame,
                            threshold: float = 0.8) -> DataFrame:
    """Shingle-set CONTAINMENT — the asymmetric cousin of Jaccard:
    containment(A in B) = |A ∩ B| / |A|. This is the right measure for
    "document A is embedded inside document B" (a quoted article inside
    a scrape, a README pasted into a repo dump): a short doc fully
    contained in a long one has containment 1.0 while its Jaccard is
    tiny, so a Jaccard-threshold dedup never sees it.

    Pairs are DIRECTED — (contained, container) with contained ≠
    container — because the measure is asymmetric. Returns pairs whose
    containment, rounded to 6 decimals, is at least ``threshold``:
    (doc_small, doc_big, shared, containment)."""
    post = exploded_shingles(docs, ID_COL, TEXT_COL, 3).selectExpr(
        f"`{ID_COL}` AS _d", "shingle AS _term", "1L AS _w"
    )
    t = Fraction(str(threshold)) - _ROUND_SLACK
    return (
        _similarity_join(post, "containment", t, None)
        .filter(F.col("containment") >= threshold)
        .withColumnsRenamed({"doc_a": "doc_small", "doc_b": "doc_big"})
    )


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_class: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ ``threshold`` via PREFIX
    FILTERING (Chaudhuri/Xiao PPJoin family) — the other classical
    route to n²-free set similarity, complementary to MinHash-LSH:
    deterministic and exact (no probabilistic recall), best when the
    threshold is high and token frequencies are skewed. Returns
    (doc_a, doc_b, overlap, jaccard), doc_a < doc_b; ``jaccard`` is
    rounded to 6 decimals for display only.

    The threshold is the exact rational of the decimal the caller wrote
    (0.95 → 19/20), so the test overlap·20 ≥ 19·union is in integers.
    Identical token sets collapse first, so a corpus that collapses to
    k distinct sets costs O(k²-ish candidate work + true output).
    ``max_class`` is the mega-class guard of :func:`_expand_classes`
    and adds a ``capped`` column; ``None`` keeps the oracle-checked
    schema."""
    post = _doc_words(docs).selectExpr(
        "_d", "explode(array_distinct(_ws)) AS _term", "1L AS _w"
    )
    return _similarity_join(post, "jaccard", Fraction(str(threshold)),
                            max_class)


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    shingle_n: int | None = 3,
    max_class: int | None = None,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity join (Bayardo, Ma & Srikant,
    WWW'07): every document pair with cos(tfidf_a, tfidf_b) ≥ t =
    ``threshold_num/threshold_den``, as (doc_a, doc_b, cosine_ppm),
    doc_a < doc_b. Terms are ``shingle_n``-word shingles, or words when
    it is None, counted with multiplicity.

    EXACT at the threshold: weights are integers (w = tf ·
    (round(ln N·1e3) − round(ln df·1e3)) milli-nat idf — bit-stable in
    any engine; only w > 0 is kept), and the acceptance test is the
    integer cross-multiplication den²·dot² ≥ num²·n2a·n2b (dot ≥ 0, so
    squaring preserves the inequality). Floats appear ONLY in the
    candidate-pruning bounds (made conservative by an epsilon) and in
    the reported cosine_ppm display value. Identical weight vectors
    collapse first; ``max_class`` is the mega-class guard of
    :func:`_expand_classes`."""
    words = _doc_words(docs)
    if shingle_n is None:
        toks = words.selectExpr("_d", "explode(_ws) AS _term")
    else:
        toks = (
            words
            # sequence(0, negative) would generate a DESCENDING range
            .filter(f"size(_ws) >= {shingle_n}")
            .selectExpr(
                "_d",
                f"explode(transform(sequence(0, size(_ws) - {shingle_n}),"
                f" i -> concat_ws(' ', slice(_ws, i + 1, {shingle_n}))))"
                " AS _term",
            )
        )
    tf = toks.groupBy("_d", "_term").agg(F.expr("count(*) AS _tf"))
    dfreq = tf.groupBy("_term").agg(F.expr("count(*) AS _df"))
    nd = tf.selectExpr(
        "CAST(round(ln(count(DISTINCT _d)) * 1000) AS BIGINT) AS _ln_n_milli"
    )
    post = (
        tf.join(dfreq, "_term")
        .crossJoin(F.broadcast(nd))
        .selectExpr(
            "_d", "_term",
            "_tf * (_ln_n_milli - CAST(round(ln(_df) * 1000) AS BIGINT))"
            " AS _w",
        )
        .filter("_w > 0")
    )
    return _similarity_join(
        post, "cosine", Fraction(threshold_num, threshold_den), max_class
    )


# ---------------------------------------------------------------------------
# X2d — near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b") -> DataFrame:
    """Cluster candidate pairs into duplicate groups: connected
    components by iterative min-label propagation.

    Each round every node adopts the minimum label over its
    neighborhood INCLUDING ITSELF (the edge set carries a self-loop
    per node), so one shuffle-join + one aggregate produce the new
    labels directly. Convergence takes O(component diameter) rounds —
    near-dup clusters are shallow (stars/cliques), so a handful.

    Labels are per-node non-increasing (the self-loop keeps the old
    label in the min), so Σ component is the monotone ``fixpoint``
    progress. The sum accumulates in decimal(38,0) — an int64 Σ over
    billions of 63-bit ids could wrap and alias two different label
    states.

    Returns (node, component) where component = min node id reachable.
    """
    sym = edges.selectExpr(f"{src} AS u", f"{dst} AS v").unionByName(
        edges.selectExpr(f"{dst} AS u", f"{src} AS v")
    ).distinct()
    nodes = sym.select(F.col("u").alias("node")).distinct()
    sym = sym.unionByName(
        nodes.selectExpr("node AS u", "node AS v")
    ).persist()

    def step(labels: DataFrame, _round: int) -> DataFrame:
        return (
            sym.join(labels, sym.v == labels.node)
            .groupBy("u")
            .agg(F.min("component").alias("component"))
            .select(F.col("u").alias("node"), "component")
        )

    labels = fixpoint(
        nodes.withColumn("component", F.col("node")),
        step,
        20,
        progress=F.sum(F.col("component").cast("decimal(38,0)")),
    )
    sym.unpersist()
    return labels


def dedup_clusters(docs: DataFrame) -> DataFrame:
    """End-to-end near-dup grouping: MinHash-LSH candidates → connected
    components → one row per clustered doc with its component id and the
    deterministic keeper (min id in component)."""
    pairs = minhash_lsh_candidates(docs, ID_COL, TEXT_COL)
    comps = connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comps.join(sizes, "component")
        .select(
            F.col("node").alias(ID_COL),
            "component",
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_keeper"),
        )
    )


# ---------------------------------------------------------------------------
# X2f — incremental MinHash dedup (new batch vs persisted index)
# ---------------------------------------------------------------------------


def incremental_minhash_matches(
    index_bands: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
) -> DataFrame:
    """Daily-ingest near-dup check: which NEW documents collide with the
    existing corpus (or an earlier doc of the same batch), without ever
    re-hashing the corpus.

    ``index_bands`` is the persisted (id, band, band_hash) table the
    corpus accumulated over previous batches (`lsh_band_buckets` output
    — at scale written ``partitionBy(band)`` and bucketed by band_hash,
    so this join prunes and co-locates at the storage layer). Only the
    new batch is shingled and hashed: cost ∝ |batch|, not |corpus| —
    THE property that makes LSH dedup sustainable on a growing 100 TB
    corpus. Within-batch earlier-id docs count as index too (a batch
    can carry its own duplicates), matching what a sequential ingest
    would have seen.

    Returns (id, matched_id = min colliding id, n_matched_docs) for new
    docs with at least one collision; verify candidates with an exact
    measure downstream exactly as in the batch path."""
    nb = lsh_band_buckets(
        minhash_signatures(new_docs, ID_COL, TEXT_COL, num_hashes, shingle_n),
        ID_COL,
        num_hashes,
        rows_per_band,
    )
    # corpus-index matches count UNCONDITIONALLY (an index doc is prior
    # art whatever its id); the earlier-id ordering applies only WITHIN
    # the batch, mirroring what a sequential ingest would have seen. A
    # blanket `_m_id < id` filter would silently drop collisions with
    # index docs whose ids happen to sort after the new doc's.
    idx = index_bands.select(
        F.col(ID_COL).alias("_m_id"),
        "band",
        "band_hash",
        F.lit(True).alias("_from_index"),
    )
    batch_idx = nb.select(
        F.col(ID_COL).alias("_m_id"),
        "band",
        "band_hash",
        F.lit(False).alias("_from_index"),
    )
    hits = nb.join(idx.unionByName(batch_idx), ["band", "band_hash"]).filter(
        (F.col("_from_index") & (F.col("_m_id") != F.col(ID_COL)))
        | (~F.col("_from_index") & (F.col("_m_id") < F.col(ID_COL)))
    )
    return hits.groupBy(ID_COL).agg(
        F.min("_m_id").alias("matched_id"),
        F.countDistinct("_m_id").alias("n_matched_docs"),
    )


# ---------------------------------------------------------------------------
# X2c — exact duplicated-substring spans (suffix-window dedup)
# ---------------------------------------------------------------------------


def _window_hashes(docs: DataFrame, id_col: str, text_col: str,
                   window: int) -> DataFrame:
    """(id, pos, h): one row per ``window``-token sliding hash. The doc
    repartition spreads the tokenize+hash CPU and pre-clusters for any
    later per-doc pass."""
    n_parts = max(
        8, docs.sparkSession.sparkContext.defaultParallelism // 2
    )
    return (
        docs.selectExpr(
            f"`{id_col}`", f"split(lower(`{text_col}`), '\\\\s+') AS _ws"
        )
        .repartition(n_parts, id_col)
        .filter(F.size(F.col("_ws")) >= window)
        .selectExpr(
            f"`{id_col}`",
            f"posexplode(transform(sequence(0, size(_ws) - {window}), "
            f"p -> md5(concat_ws(' ', slice(_ws, p + 1, {window}))))) "
            "AS (pos, h)",
        )
    )


def duplicate_spans(docs: DataFrame, window: int = 5,
                    min_count: int = 2) -> DataFrame:
    """Maximal exact-duplicated token spans per document — the
    shuffle-native form of suffix-array substring dedup ("Deduplicating
    Training Data Makes Language Models Better", Lee et al. 2022): any
    token run of length >= ``window`` that appears at least ``min_count``
    times anywhere in the corpus is covered by some duplicated span, at
    ``window``-token granularity, without ever building a global suffix
    array.

    Three steps, all DataFrame ops:

    1. slide a ``window``-token hash over every document → one row per
       (doc, pos, h) — O(total tokens) rows of 32-hex hashes;
    2. flag windows whose hash occurs >= ``min_count`` times corpus-wide
       with ``count() OVER (PARTITION BY h)`` — ONE shuffle on the hash
       (a groupBy+self-join would shuffle the window table twice), and a
       hash's partition holds only its own occurrences, so reducer
       memory is bounded by the hottest hash, not the corpus;
    3. merge each doc's surviving positions into maximal spans with the
       gaps-and-islands pattern (lag + running sum over the per-doc
       window) — two overlapping or abutting windows (gap <= window)
       fuse, so a verbatim k-token quote yields ONE span of k tokens,
       not k - window + 1 window hits.

    Scale: step 2's shuffle moves (id, pos, h) triples — independent of
    document size; a boilerplate hash shared by millions of docs makes a
    hot partition, the same skew class as the LSH mega-bucket, and the
    same remedy applies upstream (exact-dedup first so identical docs
    collapse). Step 3 shuffles only surviving duplicated windows.

    Returns one row per document that contains at least one duplicated
    span: (id, n_spans, n_dup_windows, covered_tokens, max_span_tokens),
    positions 0-based, token counts in post-``lower``-whitespace-split
    units.
    """
    wins = _window_hashes(docs, ID_COL, TEXT_COL, window)
    dup = (
        wins.withColumn(
            "_cnt", F.count("*").over(Window.partitionBy("h"))
        )
        .filter(F.col("_cnt") >= min_count)
        .select(ID_COL, "pos")
    )
    byd = Window.partitionBy(ID_COL).orderBy("pos")
    spans = (
        dup.withColumn("_gap", F.col("pos") - F.lag("pos").over(byd))
        .withColumn(
            "_brk",
            F.when(F.col("_gap").isNull() | (F.col("_gap") > window), 1)
            .otherwise(0),
        )
        .withColumn(
            "_island",
            F.sum("_brk").over(
                byd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy(ID_COL, "_island")
        .agg(
            F.min("pos").alias("_s"),
            (F.max("pos") + window - 1).alias("_e"),
            F.count("*").alias("_nw"),
        )
    )
    return spans.groupBy(ID_COL).agg(
        F.count("*").alias("n_spans"),
        F.sum("_nw").alias("n_dup_windows"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("covered_tokens"),
        F.max(F.col("_e") - F.col("_s") + 1).alias("max_span_tokens"),
    )


def remove_duplicate_spans(docs: DataFrame, window: int = 5,
                           min_count: int = 2) -> DataFrame:
    """The REMOVAL half of substring dedup (Lee et al. 2022 §4: "when a
    duplicate substring is found, keep one occurrence"): every
    duplicated ``window``-token hash keeps its first occurrence in
    (doc_id, pos) order and the token ranges of all OTHER occurrences
    are deleted from their documents.

    Plan: the window table shuffles once onto the hash, where ONE
    window pass computes both the occurrence count and the keeper rank
    (count + row_number share the partition sort); non-keeper windows
    explode to their ≤ window covered token indices (a blowup of
    duplicated windows only, never the corpus); the deletion mask
    anti-joins the exploded token table per doc — both sides already
    cluster on the doc key. Reconstruction order is pinned by the token
    index, so the cleaned text is deterministic.

    Returns one row per document: (id, n_tokens, n_removed,
    clean_hash = md5 of the space-joined surviving tokens —
    md5('') when everything was removed). Hash output keeps the result
    small and value-comparable; the cleaned token array itself is the
    obvious variant when the consumer is the next pipeline stage."""
    wins = _window_hashes(docs, ID_COL, TEXT_COL, window)
    byh = Window.partitionBy("h")
    flagged = wins.withColumn("_cnt", F.count("*").over(byh)).withColumn(
        "_rn",
        F.row_number().over(byh.orderBy(ID_COL, "pos")),
    )
    removed = (
        flagged.filter((F.col("_cnt") >= min_count) & (F.col("_rn") > 1))
        .selectExpr(
            f"`{ID_COL}`",
            f"explode(sequence(pos, pos + {window - 1})) AS t",
        )
        .distinct()
    )
    toks = (
        docs.selectExpr(
            f"`{ID_COL}`", f"split(lower(`{TEXT_COL}`), '\\\\s+') AS _ws"
        )
        .selectExpr(f"`{ID_COL}`", "posexplode(_ws) AS (t, tok)")
    )
    kept = toks.join(removed, [ID_COL, "t"], "left_anti")
    totals = toks.groupBy(ID_COL).agg(F.count("*").alias("n_tokens"))
    cleaned = kept.groupBy(ID_COL).agg(
        F.count("*").alias("_n_kept"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(t, tok))), "
                       "s -> s.tok)"),
                " ",
            )
        ).alias("clean_hash"),
    )
    return totals.join(cleaned, ID_COL, "left").select(
        ID_COL,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_hash"), F.md5(F.lit(""))).alias("clean_hash"),
    )


def lsh_bucket_histogram(docs: DataFrame, num_hashes: int = 12,
                         rows_per_band: int = 2,
                         shingle_n: int = 3) -> DataFrame:
    """LSH load diagnostic: per band, the histogram of bucket sizes —
    (band, bucket_size, n_buckets). This is how ``max_bucket`` for
    ``minhash_lsh_candidates`` gets TUNED instead of guessed: the tail
    of this histogram is exactly the mega-bucket mass (k² pair fan-out
    per bucket of size k), and a healthy corpus shows sizes 1-2 with a
    short tail. Run it on a sample before committing the full dedup
    job's reducer budget.

    Cost: the same narrow signature/banding pipeline as the dedup job
    itself, one map-side-combined shuffle onto (band, band_hash), and a
    second onto (band, size) — both bounded-cardinality reduce keys.
    Never materializes pairs, so it is safe on exactly the corpora
    where the dedup job wouldn't be.
    """
    bands = lsh_band_buckets(
        minhash_signatures(docs, ID_COL, TEXT_COL, num_hashes, shingle_n),
        ID_COL,
        num_hashes,
        rows_per_band,
    )
    sizes = bands.groupBy("band", "band_hash").agg(
        F.count("*").alias("bucket_size")
    )
    return (
        sizes.groupBy("band", "bucket_size")
        .agg(F.count("*").cast("bigint").alias("n_buckets"))
        .select("band", F.col("bucket_size").cast("bigint").alias("bucket_size"), "n_buckets")
    )
