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
- **exact n-gram Jaccard**: inverted-index join on shingles (pairs that
  share at least one shingle), then exact Jaccard from shared/total
  counts — the verifier for the approximate methods, and itself scalable
  because the join is on the shingle inverted index, never a crossJoin.

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


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Group identical content by md5; keeper = min id per group.
    Returns (content_hash, n_copies, keeper_id). ``dropDuplicates`` would
    pick an arbitrary survivor; min-id is deterministic."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """The dedup itself: keep one row per distinct content (min-id wins)."""
    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
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
    # Streamed bucket-local self-join on (band, band_hash) — the round-9
    # form of the pair expansion (VERDICT r8 #1 closed the last per-task
    # pair array). A join MATCHES rows pair-by-pair as they stream out of
    # the sorted/ hashed bucket, so a degenerate mega-bucket (10⁵-10⁶
    # near-identical docs surviving exact dedup) produces many OUTPUT
    # rows across many tasks instead of one N²/2 in-memory struct array
    # inside one task; AQE skew-join splitting further splits a hot
    # bucket across tasks. Both join inputs are the identical plan
    # subtree, so Spark's exchange reuse (spark.sql.exchange.reuse, on by
    # default) computes the signature pipeline and its shuffle ONCE —
    # asserted by the plan test (ReusedExchange under the join).
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
    if max_bucket is None:
        lhs = bands.select(
            "band", "band_hash", F.col(id_col).alias("doc_a"),
        )
        rhs = bands.select(
            "band", "band_hash", F.col(id_col).alias("doc_b"),
        )
        pairs = lhs.join(rhs, ["band", "band_hash"]).filter(
            F.col("doc_a") < F.col("doc_b")
        )
        return pairs.groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("n_shared_bands")
        )
    # capped form: BOTH sides project the same (band, band_hash, id,
    # _capped) columns so the two join inputs stay byte-identical plan
    # subtrees and the signature pipeline's exchange is reused exactly
    # like the uncapped form (pre-r10 only lhs carried _capped, so
    # column pruning de-synchronized the subtrees and the window rank
    # ran twice). The aggregate consumes BOTH flags — they are equal
    # (the bucket is the SAME bucket on both sides of the equi-join),
    # so the OR is semantics-preserving, and keeping _capped_b live
    # stops Catalyst pruning it back out of rhs.
    lhs = bands.select(
        "band", "band_hash", F.col(id_col).alias("doc_a"),
        F.col("_capped").alias("_capped_a"),
    )
    rhs = bands.select(
        "band", "band_hash", F.col(id_col).alias("doc_b"),
        F.col("_capped").alias("_capped_b"),
    )
    pairs = lhs.join(rhs, ["band", "band_hash"]).filter(
        F.col("doc_a") < F.col("doc_b")
    )
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_bands"),
        F.max(F.col("_capped_a") | F.col("_capped_b")).alias("capped"),
    )


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
       word sequence (md5 each token, concat, md5 — same injectivity
       argument as ``prefix_filter_jaccard_pairs``),
    2. runs the signature + band-bucket pipeline over ONE
       representative per class (cost scales with |distinct texts|,
       not |docs| — on a corpus where every page is duplicated k
       times, the expensive stages shrink k×),
    3. expands pairs arithmetically: rep-pair shared-band counts
       apply to every cross-class member pair; within-class pairs
       share all ``num_hashes/rows_per_band`` bands. Both expansions
       are streamed member-row self-joins (the round-8 distributed
       form) — no task materializes a pair array, so a 10⁶-member
       boilerplate class streams instead of OOMing one reducer.

    Classes whose word count is below ``shingle_n`` produce no
    signature in the uncollapsed form and are excluded from BOTH
    expansions here, keeping the equality exact. Measured (round 8):
    the uncollapsed headline spends 43× more time per 10× data on the
    sf10 verbatim-replication corpus (every doc in a ≥100-member
    class); this form's expensive stages see 4 992 reps instead of
    500 000 docs."""
    n_bands = num_hashes // rows_per_band
    mem0 = docs.selectExpr(
        f"`{id_col}` AS _id",
        f"split(lower(`{text_col}`), '\\\\s+') AS _ws",
        f"`{text_col}` AS _text",
    ).withColumn(
        # class key: md5 of the single-space re-join. Injective on the
        # word sequence: split('\\s+') yields space-FREE tokens (runs
        # collapse; only boundary empties survive), so the joined
        # string splits back to exactly one array — no separator
        # collision is possible, and no per-token hashing is needed
        # (round 9: the md5-per-token key cost ~n_tokens md5 calls per
        # document for the same injectivity guarantee).
        "_ck", F.md5(F.expr("array_join(_ws, ' ')"))
    )
    # one representative per distinct word sequence; drop classes too
    # short to shingle (the uncollapsed pipeline's size(_ws) filter).
    # Round 10 (ADVICE r9 + VERDICT what's-wrong #2): r9 persist()-ed
    # this class table WITH full distinct texts, which (a) leaked a
    # session-lifetime CacheManager entry per invocation (never
    # unpersisted) and (b) at a distinct ratio just under the adaptive
    # 0.7 routing threshold held ~70% of the corpus text volume in the
    # block manager. Now the table is TEXT-FREE (_ck 32 B + _g 8 B per
    # class — genuinely metadata-sized at any corpus) and pinned with
    # lineage_cut instead of persist: the eager cut is one k-row
    # materialization whose RDD blocks the ContextCleaner reclaims
    # when the returned plan is dropped — nothing enters the session
    # cache manager, so repeated invocations cannot accumulate. The
    # corpus-sized mem0 is still never checkpointed or cached (the
    # 100 TB write-amplification hazard r9 removed stays removed).
    groups = lineage_cut(
        mem0.groupBy("_ck")
        .agg(
            F.min("_id").alias("_g"),
            F.first(F.size("_ws")).alias("_nw"),
        )
        .filter(F.col("_nw") >= shingle_n)
        .select("_ck", "_g")
    )
    # members carry their class REP id directly (round 9: keying by
    # _g instead of _ck removes the two rep_to_ck mapping joins from
    # the critical path — rep_pairs already speaks rep ids)
    members = mem0.select("_ck", "_id").join(
        groups, "_ck"
    ).select("_g", "_id")
    # signature + band pipeline over reps only. Rep text comes from an
    # ID join against the RAW docs (the rep IS doc min(_id), so its
    # original text row carries the class's word sequence verbatim) —
    # this costs a plain (id, text) scan + join against the k-row cut
    # table, but ZERO tokenization: the split+lower+md5 pass, the
    # expensive part of any corpus consumer here, runs exactly twice
    # per invocation (class agg + members), same as the r9 persisted
    # form, without persisting any text.
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
    # cross-class expansion: every (a in A, b in B) member pair carries
    # the rep pair's shared-band count; classes are disjoint id sets so
    # least/greatest normalizes each unordered pair exactly once
    cross = (
        rep_pairs.join(
            members.select(F.col("_g").alias("_ga"),
                           F.col("_id").alias("_ida")), "_ga")
        .join(members.select(F.col("_g").alias("_gb"),
                             F.col("_id").alias("_idb")), "_gb")
        .select(
            F.least("_ida", "_idb").alias("doc_a"),
            F.greatest("_ida", "_idb").alias("doc_b"),
            F.col("n_shared_bands"),
        )
    )
    # within-class: identical word sequences share every band
    within = (
        members.select("_g", F.col("_id").alias("doc_a"))
        .join(members.select("_g", F.col("_id").alias("doc_b")), "_g")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.lit(n_bands).cast("long").alias("n_shared_bands"),
        )
    )
    return cross.unionByName(within)


# (application id, semanticHash(docs), text_col) -> measured distinct
# ratio. Bounded by distinct corpora probed per session; entries are
# floats, so this never holds data.
_PROBE_RATIO_CACHE: dict[tuple, float] = {}


def _stratified_distinct_ratio(
    docs: DataFrame, text_col: str, probe_rows: int, max_files: int = 64
) -> float | None:
    """Layout-UNBIASED distinct-text-ratio estimate (round 11, VERDICT
    r10 #7): one hash-chosen row group from each of up to ``max_files``
    hash-chosen input files, read driver-side with pyarrow. A prefix
    ``take()`` reads partition 0 first, so layout-clustered duplicates
    (crawl dumps often sort near-dups together) skew its estimate; a
    per-file row-group sample sees every region of the table at the
    same bounded cost (≤ max_files row-group column decodes, no Spark
    job, no text leaves the driver beyond the sampled column).

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
    if len(paths) > max_files:
        paths = sorted(
            paths, key=lambda s: hashlib.md5(s.encode()).hexdigest()
        )[:max_files]
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
            # ~1M long strings and only per_file of them are used —
            # materializing the full column as Python objects was a
            # driver memory/time spike per probed file (r11 review)
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
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 12,
    rows_per_band: int = 2,
    shingle_n: int = 3,
    collapse_below: float = 0.7,
    distinct_ratio_hint: float | None = None,
    probe_rows: int = 65536,
) -> DataFrame:
    """MinHash-LSH candidates with a stats-driven form choice — the
    decision a cost-based optimizer makes from table statistics,
    executed here as ONE cheap probe aggregate:

    - distinct-text ratio < ``collapse_below`` (duplication-heavy —
      the crawl shape): run :func:`minhash_lsh_candidates_collapsed`,
      whose expensive stages see one representative per distinct word
      sequence (measured 12.7× cheaper than the direct form on the
      sf10 heavy-dup corpus: 7.7 s vs 98.8 s DuckDB, r8 direct 227 s);
    - ratio ≥ ``collapse_below`` (mostly-unique corpus): run the
      direct streamed form, skipping the collapse machinery that only
      pays for itself when classes are big (measured ~0.9 s cheaper
      at sf0.1 where 92% of texts are unique).

    ``distinct_ratio_hint`` is the table-statistics fast path: when
    the caller already knows the distinct-text ratio (catalog stats, a
    previous run, corpus provenance), NO probe job runs at all — the
    analogue of a cost-based optimizer reading ANALYZE output instead
    of scanning.

    Without a hint the probe is two-tier (round 11, VERDICT r10 #7):
    when the input's lineage exposes local parquet files carrying
    ``text_col``, a LAYOUT-UNBIASED stratified sample reads one
    hash-chosen row group from each of ≤64 files driver-side (zero
    Spark jobs, bounded decode) — clustered duplicates at the head of
    the table no longer skew the estimate. Otherwise it falls back to
    the exact distinct ratio of a ``probe_rows``-row prefix, fetched
    with ``take`` — CollectLimit scans partitions INCREMENTALLY
    starting from one, so at any corpus size the probe reads ~one
    input split, never the table (round 10: the r9 probe scanned and
    md5-keyed the ENTIRE corpus just to pick a form — a full extra
    100 TB pass spent on a routing decision; the 0.7 threshold is
    coarse enough that a 64 k-row estimate decides it). Only digests
    reach the driver, never retained text. Either estimate affects
    COST only, never the answer: both forms are pair-for-pair
    identical (pinned in tests and by the shared oracle SQL), so the
    worst a biased probe costs is the other form's runtime."""
    if distinct_ratio_hint is not None:
        ratio = float(distinct_ratio_hint)
    else:
        # memoize by the input's semantic plan hash — the engine-side
        # analogue of ANALYZE results living in the catalog: the same
        # corpus expression re-probed in the same session reuses the
        # estimate with zero jobs (a served/benchmarked query re-runs
        # the same plan many times; re-probing each time is catalog
        # work done over and over). Cost-only: a stale or colliding
        # entry can only pick the other (identical-output) form.
        cache_key = (
            docs.sparkSession.sparkContext.applicationId,
            docs.semanticHash(),
            text_col,
        )
        cached = _PROBE_RATIO_CACHE.get(cache_key)
        if cached is not None:
            ratio = cached
        else:
            # preferred: the layout-unbiased stratified row-group
            # sample (one hash-chosen row group per input file, driver
            # -side, zero jobs); prefix take() remains the fallback
            # when lineage hides the files — its layout bias is
            # documented cost-only
            est = _stratified_distinct_ratio(
                docs, text_col, int(probe_rows)
            )
            if est is not None:
                ratio = est
            else:
                digests = docs.selectExpr(
                    f"md5(array_join(split(lower(`{text_col}`), "
                    "'\\\\s+'), ' ')) AS _ck"
                ).take(int(probe_rows))
                n = len(digests) or 1
                ratio = len({r[0] for r in digests}) / n
            _PROBE_RATIO_CACHE[cache_key] = ratio
    if ratio < collapse_below:
        return minhash_lsh_candidates_collapsed(
            docs, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, rows_per_band=rows_per_band,
            shingle_n=shingle_n,
        )
    return minhash_lsh_candidates(
        docs, id_col=id_col, text_col=text_col, num_hashes=num_hashes,
        rows_per_band=rows_per_band, shingle_n=shingle_n,
    )


# ---------------------------------------------------------------------------
# X2b — SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32  # one bit per md5 hex digit (md5 has 32 hex digits)


def simhash(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            shingle_n: int = 3) -> DataFrame:
    """32-bit SimHash per document over its distinct shingle set.

    Bit j of shingle s = msb of hex digit j of md5(s) (± vote); document
    bit j = sign of the vote sum; signature = Σ bit_j·2^j. Returns
    (id, simhash:long). Shingles, not raw tokens: with a small vocabulary
    every document contains nearly every token, which would collapse all
    token-based signatures onto one value; 3-gram shingle sets stay
    document-specific."""
    sh = exploded_shingles(docs, id_col, text_col, shingle_n).withColumn(
        "h", F.md5("shingle")
    )
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


def simhash_near_pairs(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance, without a crossJoin.

    Pigeonhole blocking: split the signature into ``max_hamming + 1``
    blocks; any pair within distance ``max_hamming`` must agree exactly
    on at least one block, so joining on (block_index, block_value)
    finds every qualifying pair. Candidates are then verified with the
    exact popcount — blocking affects cost only, never the answer."""
    n_blocks = max_hamming + 1
    block_bits = SIMHASH_BITS // n_blocks
    assert block_bits >= 1, "too many blocks for the signature width"
    sig = simhash(docs, id_col, text_col)
    blocks = sig.select(
        id_col,
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
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sig_a"),
        "blk", "blk_val",
    )
    b = blocks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sig_b"),
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
# X2c — exact n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", shingle_n: int = 3,
                        threshold: float = 0.5) -> DataFrame:
    """Exact Jaccard similarity on shingle sets for every pair sharing at
    least one shingle. jaccard = shared / (|A| + |B| - shared).

    The join is shingle-keyed (inverted index): a shingle shared by k
    docs contributes k² join rows, so ubiquitous shingles are the skew
    risk — at scale, drop shingles with document frequency above a cap
    (they contribute near-zero Jaccard evidence anyway)."""
    # Shingle rows feed the self-join twice plus the sizes agg — compute
    # one copy instead of shingling the corpus three times. Local
    # checkpoint, not persist(): a CacheManager entry would pin executor
    # storage for the whole session (no caller can unpersist a lazy
    # result), while checkpoint blocks are freed by the ContextCleaner
    # as soon as the returned DataFrame is dropped.
    sh = lineage_cut(exploded_shingles(docs, id_col, text_col, shingle_n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("shared")
                / (F.col("n_a") + F.col("n_b") - F.col("shared")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "shared", "jaccard")
    )


# ---------------------------------------------------------------------------
# X2d — near-dup clustering: connected components over candidate pairs
# ---------------------------------------------------------------------------


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b", max_iter: int = 20) -> DataFrame:
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
        max_iter,
        progress=F.sum(F.col("component").cast("decimal(38,0)")),
    )
    sym.unpersist()
    return labels


def dedup_clusters(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", **lsh_kwargs) -> DataFrame:
    """End-to-end near-dup grouping: MinHash-LSH candidates → connected
    components → one row per clustered doc with its component id and the
    deterministic keeper (min id in component)."""
    pairs = minhash_lsh_candidates(docs, id_col, text_col, **lsh_kwargs)
    comps = connected_components(pairs)
    sizes = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comps.join(sizes, "component")
        .select(
            F.col("node").alias(id_col),
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
    id_col: str = "doc_id",
    text_col: str = "text",
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
        minhash_signatures(new_docs, id_col, text_col, num_hashes, shingle_n),
        id_col,
        num_hashes,
        rows_per_band,
    )
    # corpus-index matches count UNCONDITIONALLY (an index doc is prior
    # art whatever its id); the earlier-id ordering applies only WITHIN
    # the batch, mirroring what a sequential ingest would have seen. A
    # blanket `_m_id < id` filter would silently drop collisions with
    # index docs whose ids happen to sort after the new doc's.
    idx = index_bands.select(
        F.col(id_col).alias("_m_id"),
        "band",
        "band_hash",
        F.lit(True).alias("_from_index"),
    )
    batch_idx = nb.select(
        F.col(id_col).alias("_m_id"),
        "band",
        "band_hash",
        F.lit(False).alias("_from_index"),
    )
    hits = nb.join(idx.unionByName(batch_idx), ["band", "band_hash"]).filter(
        (F.col("_from_index") & (F.col("_m_id") != F.col(id_col)))
        | (~F.col("_from_index") & (F.col("_m_id") < F.col(id_col)))
    )
    return hits.groupBy(id_col).agg(
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


def duplicate_spans(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", window: int = 5,
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
    wins = _window_hashes(docs, id_col, text_col, window)
    dup = (
        wins.withColumn(
            "_cnt", F.count("*").over(Window.partitionBy("h"))
        )
        .filter(F.col("_cnt") >= min_count)
        .select(id_col, "pos")
    )
    byd = Window.partitionBy(id_col).orderBy("pos")
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
        .groupBy(id_col, "_island")
        .agg(
            F.min("pos").alias("_s"),
            (F.max("pos") + window - 1).alias("_e"),
            F.count("*").alias("_nw"),
        )
    )
    return spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum("_nw").alias("n_dup_windows"),
        F.sum(F.col("_e") - F.col("_s") + 1).alias("covered_tokens"),
        F.max(F.col("_e") - F.col("_s") + 1).alias("max_span_tokens"),
    )


def remove_duplicate_spans(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", window: int = 5,
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
    wins = _window_hashes(docs, id_col, text_col, window)
    byh = Window.partitionBy("h")
    flagged = wins.withColumn("_cnt", F.count("*").over(byh)).withColumn(
        "_rn",
        F.row_number().over(byh.orderBy(id_col, "pos")),
    )
    removed = (
        flagged.filter((F.col("_cnt") >= min_count) & (F.col("_rn") > 1))
        .selectExpr(
            f"`{id_col}`",
            f"explode(sequence(pos, pos + {window - 1})) AS t",
        )
        .distinct()
    )
    toks = (
        docs.selectExpr(
            f"`{id_col}`", f"split(lower(`{text_col}`), '\\\\s+') AS _ws"
        )
        .selectExpr(f"`{id_col}`", "posexplode(_ws) AS (t, tok)")
    )
    kept = toks.join(removed, [id_col, "t"], "left_anti")
    totals = toks.groupBy(id_col).agg(F.count("*").alias("n_tokens"))
    cleaned = kept.groupBy(id_col).agg(
        F.count("*").alias("_n_kept"),
        F.md5(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(t, tok))), "
                       "s -> s.tok)"),
                " ",
            )
        ).alias("clean_hash"),
    )
    return totals.join(cleaned, id_col, "left").select(
        id_col,
        "n_tokens",
        (F.col("n_tokens") - F.coalesce(F.col("_n_kept"), F.lit(0))).alias(
            "n_removed"
        ),
        F.coalesce(F.col("clean_hash"), F.md5(F.lit(""))).alias("clean_hash"),
    )


def ngram_containment_pairs(docs: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", shingle_n: int = 3,
                            threshold: float = 0.8) -> DataFrame:
    """Shingle-set CONTAINMENT — the asymmetric cousin of Jaccard:
    containment(A in B) = |A ∩ B| / |A|. This is the right measure for
    "document A is embedded inside document B" (a quoted article inside
    a scrape, a README pasted into a repo dump): a short doc fully
    contained in a long one has containment 1.0 while its Jaccard is
    tiny, so a Jaccard-threshold dedup never sees it.

    Same inverted-index join shape (and the same ubiquitous-shingle skew
    note) as ``ngram_jaccard_pairs``; pairs are emitted DIRECTED —
    (contained, container) with contained ≠ container — because the
    measure is asymmetric. Returns pairs with containment >= threshold:
    (doc_small, doc_big, shared, containment)."""
    # localCheckpoint, not persist — see ngram_jaccard_pairs for why
    # (cache lifetime bounded by the result, not the session).
    sh = lineage_cut(exploded_shingles(docs, id_col, text_col, shingle_n))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("doc_small"), "shingle")
    b = sh.select(F.col(id_col).alias("doc_big"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_small") != F.col("doc_big"))
        .groupBy("doc_small", "doc_big")
        .agg(F.count("*").alias("shared"))
    )
    ssm = sizes.select(
        F.col(id_col).alias("doc_small"), F.col("n_sh").alias("n_small")
    )
    return (
        shared.join(ssm, "doc_small")
        .withColumn(
            "containment",
            F.round(F.col("shared") / F.col("n_small"), 6),
        )
        .filter(F.col("containment") >= threshold)
        .select("doc_small", "doc_big", "shared", "containment")
    )


def lsh_bucket_histogram(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", num_hashes: int = 12,
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
        minhash_signatures(docs, id_col, text_col, num_hashes, shingle_n),
        id_col,
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


def prefix_filter_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_class: int | None = None,
) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ ``threshold`` via PREFIX
    FILTERING (Chaudhuri/Xiao PPJoin family) — the other classical
    route to n²-free set similarity, complementary to MinHash-LSH:
    deterministic and exact (no probabilistic recall), best when the
    threshold is high and token frequencies are skewed.

    The filter: order every doc's distinct tokens by one GLOBAL rarity
    order (document frequency asc, token asc); if J(x,y) ≥ t, the
    first ``|x| − ceil(t·|x|) + 1`` tokens of x and the analogous
    prefix of y must share at least one token — so only PREFIX tokens
    enter the inverted index, and rare-token prefixes generate few,
    high-precision candidates (stopwords almost never index).
    Candidates then verify exactly against the full token sets
    (array_intersect of two doc-bounded arrays), so the output is
    EXACT — an oracle can recompute it with a plain inverted-index
    join and must agree pair-for-pair.

    Scale: the pipeline is OUTPUT-OPTIMAL on duplicate-heavy corpora
    because identical token SETS collapse FIRST (hash groupBy on the
    sorted set — the exact-dedup move): the prefix index, candidate
    join, and verification all run over DISTINCT sets only, and member
    pairs expand arithmetically afterwards. A corpus whose docs
    collapse to k distinct sets costs O(k²-ish candidate work + true
    output), where the uncollapsed form re-verified every Jaccard-1
    mega-class pair (measured on the 31-word-vocab driver corpus at
    sf0.1: 133 s → output-bound seconds, same 286k-pair answer).
    Remaining shape: df count and the per-set rank window (partitioned
    by set) are one shuffle each; the candidate join carries only
    prefix postings of distinct sets (≈ (1−t)·tokens); the known
    adversary is a rare token shared by many DISTINCT sets —
    bucket-cap the posting list like the LSH mega-bucket guard if a
    corpus manufactures one.

    Member expansion is DISTRIBUTED (round 8): members stay as ROWS
    keyed by an injective class hash and every pair expansion is a
    streamed self-join, so no task ever materializes a member array or
    an N²/2 pair array — a boilerplate page duplicated 10⁶ times in a
    crawl streams its pairs across the join instead of OOMing one
    reducer (the round-7 form collected each class to ONE
    collect_list row and exploded a flattened pair array in a single
    task). ``max_class`` mirrors the LSH ``max_bucket`` guard: each
    duplicate class keeps only its ``max_class`` smallest ids for
    expansion and the output gains a ``capped`` column (true when
    either endpoint's class overflowed) so overflow groups can be
    routed to exact dedup instead of silently exploding. Default
    ``None`` keeps exact semantics and the oracle-checked schema.
    """
    from pyspark.sql import Window

    # Injective class key for the sorted token set: md5 each token to a
    # fixed-width 32-hex digest, join, md5. Tokens are split on \s+ so
    # they may contain ANY non-space byte (including \x00-\x02 control
    # chars — Java \s excludes them); hashing elements first is what
    # makes the concatenation injective.
    mem0 = docs.selectExpr(
        f"`{id_col}` AS _id",
        "sort_array(array_distinct(split(lower("
        f"`{text_col}`), '\\\\s+'))) AS _ws",
    ).withColumn(
        "_ck", F.md5(F.expr("array_join(transform(_ws, t -> md5(t)), '')"))
    ).transform(lineage_cut)  # feeds members AND groups
    ids = mem0.select("_ck", "_id")
    if max_class is None:
        members = ids
    else:
        wck = Window.partitionBy("_ck")
        members = (
            ids.withColumn("_rn", F.row_number().over(wck.orderBy("_id")))
            .withColumn("_n_mem", F.count("*").over(wck))
            .filter(F.col("_rn") <= max_class)
            .select(
                "_ck", "_id", (F.col("_n_mem") > max_class).alias("_cap")
            )
            .transform(lineage_cut)
        )
    # one representative row per distinct set (_ck determines _ws, so
    # first() is deterministic; rep = min id, always inside the capped
    # member set because the rank keeps the smallest ids)
    groups = (
        mem0.groupBy("_ck")
        .agg(F.min("_id").alias("_g"), F.first("_ws").alias("_ws"))
        .withColumn("_sz", F.size("_ws").cast("bigint"))
        .transform(lineage_cut)  # consumed by 4 branches below
    )
    # (class, member, rep, set size) — the expansion side of every join
    memr = members.join(groups.select("_ck", "_g", "_sz"), "_ck")
    # within-group pairs: every member pair of a duplicate-set class is
    # Jaccard 1 by construction — a streamed self-join on the class key
    # (sort-merge buffers one side's class members, output streams)
    _wcols = ["_ck", F.col("_id").alias("doc_a"), "_sz"]
    _wcols_b = ["_ck", F.col("_id").alias("doc_b")]
    if max_class is not None:
        _wcols.append(F.col("_cap").alias("_ca"))
        _wcols_b.append(F.col("_cap").alias("_cb"))
    within = (
        memr.select(*_wcols)
        .join(members.select(*_wcols_b), "_ck")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.col("_sz").alias("overlap"),
            F.lit(1.0).cast("double").alias("jaccard"),
            *(
                [(F.col("_ca") | F.col("_cb")).alias("capped")]
                if max_class is not None
                else []
            ),
        )
    )
    # prefix-filter candidate generation over DISTINCT sets only
    gtoks = groups.selectExpr("_g", "explode(_ws) AS w")
    dfc = gtoks.groupBy("w").agg(F.count("*").alias("_dfw"))
    w_doc = Window.partitionBy("_g").orderBy("_dfw", "w")
    ranked = (
        gtoks.join(dfc, "w")
        .withColumn("_rn", F.row_number().over(w_doc))
        .withColumn("_n", F.count("*").over(Window.partitionBy("_g")))
    )
    prefix = ranked.filter(
        F.col("_rn")
        <= F.col("_n") - F.expr(f"CAST(ceil({threshold} * _n) AS INT)") + 1
    ).select("_g", "w", "_rn", "_n")
    _tf = Fraction(str(threshold))
    _tn, _td = _tf.numerator, _tf.denominator
    # PPJoin's two candidate-side filters, both exact integer tests,
    # applied INSIDE the join so mega posting lists (a "rare" token
    # still shared by thousands of sets) never fan out:
    #  - length: J ≥ t forces t·|x| ≤ |y| ≤ |x|/t (sizes within the
    #    threshold band),
    #  - positional: the overlap can't exceed 1 + min(|x|−px, |y|−py)
    #    given the matched prefix positions, and J ≥ t needs
    #    overlap ≥ t/(1+t)·(|x|+|y|).
    # Measured on the driver corpus at sf0.1: 5.8M candidates → the
    # true near-band only, 64 s → seconds for the identical answer.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.w") == F.col("b.w"))
            & (F.col("a._g") < F.col("b._g"))
            & (F.col("b._n") * _td >= F.col("a._n") * _tn)
            & (F.col("a._n") * _td >= F.col("b._n") * _tn)
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("a._n") - F.col("a._rn"),
                        F.col("b._n") - F.col("b._rn"),
                    )
                )
                * (_tn + _td)
                >= (F.col("a._n") + F.col("b._n")) * _tn
            )
            # distinct-sets bound: the join is over DISTINCT token
            # sets (identical sets collapsed upstream), so two sets of
            # EQUAL size n overlap in at most n−1 tokens and can reach
            # J ≥ t only if (n−1)/(n+1) ≥ t — at t=0.95 that needs
            # n ≥ 39, wiping the equal-small-size candidate class that
            # dominates low-vocab corpora (driver corpus at sf0.1:
            # 989k → 670k distinct candidates). Unequal sizes are
            # already banded by the length filter above.
            & (
                (F.col("a._n") != F.col("b._n"))
                | ((F.col("a._n") - 1) * _td >= _tn * (F.col("a._n") + 1))
            ),
        )
        .select(F.col("a._g").alias("_ga"), F.col("b._g").alias("_gb"))
        .distinct()
    )
    sa = groups.select(
        F.col("_g").alias("_ga"),
        F.col("_ws").alias("_wsa"),
        F.col("_sz").alias("_sza"),
    )
    sb = groups.select(
        F.col("_g").alias("_gb"),
        F.col("_ws").alias("_wsb"),
        F.col("_sz").alias("_szb"),
    )
    # The threshold as an exact rational (0.95 -> 19/20): str() recovers
    # the decimal the caller wrote, so the integer filter below tests
    # the INTENDED threshold, not the float's binary neighbor.
    _t = Fraction(str(threshold))
    _t_num, _t_den = _t.numerator, _t.denominator
    rep_pairs = (
        cand.join(sa, "_ga")
        .join(sb, "_gb")
        .withColumn(
            "overlap",
            F.size(F.array_intersect("_wsa", "_wsb")).cast("bigint"),
        )
        # Threshold test in EXACT integer arithmetic: overlap/union >= t
        # iff overlap * t_den >= t_num * union for t = t_num/t_den.
        # Filtering on a float rounded to 6 decimals would admit pairs
        # up to 5e-7 BELOW threshold, contradicting the exact contract;
        # `jaccard` stays rounded for display only.
        .filter(
            F.col("overlap") * F.lit(_t_den)
            >= F.lit(_t_num)
            * (F.col("_sza") + F.col("_szb") - F.col("overlap"))
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("overlap")
                / (F.col("_sza") + F.col("_szb") - F.col("overlap")),
                6,
            ),
        )
        .select("_ga", "_gb", "overlap", "jaccard")
    )
    # verified ONCE per set pair; member pairs expand arithmetically via
    # two streamed joins on the rep key — never a per-row pair array
    # (doc_a < doc_b normalized per emitted pair)
    _ecols_a = [F.col("_g").alias("_ga"), F.col("_id").alias("_ma")]
    _ecols_b = [F.col("_g").alias("_gb"), F.col("_id").alias("_mb")]
    if max_class is not None:
        _ecols_a.append(F.col("_cap").alias("_ca"))
        _ecols_b.append(F.col("_cap").alias("_cb"))
    cross = (
        rep_pairs.join(memr.select(*_ecols_a), "_ga")
        .join(memr.select(*_ecols_b), "_gb")
        .select(
            F.least("_ma", "_mb").alias("doc_a"),
            F.greatest("_ma", "_mb").alias("doc_b"),
            "overlap",
            "jaccard",
            *(
                [(F.col("_ca") | F.col("_cb")).alias("capped")]
                if max_class is not None
                else []
            ),
        )
    )
    return within.unionByName(cross)


def tfidf_cosine_pairs(
    docs: DataFrame,
    threshold_num: int = 4,
    threshold_den: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int | None = 3,
    max_class: int | None = None,
) -> DataFrame:
    """All-pairs TF-IDF cosine similarity join (Bayardo, Ma & Srikant,
    WWW'07): every document pair with cos(tfidf_a, tfidf_b) ≥ t,
    without the n² self-join — the weighted-vector counterpart of
    ``prefix_filter_jaccard_pairs`` and the standard way to sweep a
    100 TB corpus for templated/boilerplate near-duplicates that
    Jaccard-on-sets underweights.

    EXACT at the threshold: weights are integers (w = tf ·
    (round(ln N·1e3) − round(ln df·1e3)) milli-nat idf — bit-stable in
    any engine), norms and dot products are exact decimal(38,0) sums,
    and the acceptance test is the integer cross-multiplication
    den²·dot² ≥ num²·n2a·n2b (dot ≥ 0, so squaring preserves the
    inequality). Floats appear ONLY in the candidate-pruning bound
    (made conservative by an epsilon) and in the reported cosine_ppm
    display value.

    Prefix filter: terms get a global order by decreasing corpus max
    normalized weight mw(term) = max_d w(d,term)/‖d‖. Each doc indexes
    its terms in that order only while the remaining suffix could still
    reach t on its own (Σ_suffix û·mw ≥ t − ε); if a pair reaches t,
    then IN EACH doc some shared term is indexed (else that doc's
    shared-suffix bound alone caps the cosine below t), so joining
    indexed⋈indexed postings finds every qualifying pair. Candidates
    dedupe, then verify exactly against the FULL postings.

    Plan shape: tf/df/norm/mw are four map-side-combined aggregations;
    the per-doc running bound is a window PARTITIONED BY DOC (state =
    one doc's vocabulary, never a global sort); the candidate join is
    bucket-local per indexed term with a pair-level ℓ² cross bound
    (see inline note) pruning collisions in the join itself;
    verification joins candidate pairs back to full postings (shuffles
    scale with candidates, which the prefix bound caps — at threshold
    1−ε only genuine near-dups survive pruning).

    OUTPUT-OPTIMAL on duplicate-heavy corpora (round 7, the
    prefix_filter_jaccard_pairs move): identical token MULTISETS
    collapse first (df/idf/N stay full-corpus, so weights are
    unchanged — a duplicate's vector equals its representative's
    exactly), the prefix index / candidate join / verification run
    over distinct vectors only, and member pairs expand
    arithmetically: within-class pairs are cosine 1 by construction,
    cross-class pairs copy their representative pair's exact values.
    Measured at sf1 (10× replication ⇒ every class ~10 members):
    315 s → output-bound seconds for the identical 407,500-pair
    answer.
    """
    eps = 1e-9
    t = threshold_num / threshold_den
    if shingle_n is None:
        toks = docs.selectExpr(
            f"`{id_col}` AS _d",
            f"explode(split(lower(`{text_col}`), '\\\\s+')) AS _term",
        )
    else:
        # n-gram shingle terms WITH multiplicity (tf counts repeats);
        # bind the token array to a real column first so the split runs
        # once per doc, not once per shingle position (see shingles_col)
        toks = (
            docs.selectExpr(
                f"`{id_col}` AS _d",
                f"split(lower(`{text_col}`), '\\\\s+') AS _ws",
            )
            # sequence(0, negative) would generate a DESCENDING range
            .filter(f"size(_ws) >= {shingle_n}")
            .selectExpr(
                "_d",
                f"explode(transform(sequence(0, size(_ws) - {shingle_n}),"
                f" i -> concat_ws(' ', slice(_ws, i + 1, {shingle_n}))))"
                " AS _term",
            )
        )
    tf = toks.groupBy("_d", "_term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_tf")
    ).transform(lineage_cut)  # feeds df/N AND the collapse
    dfreq = tf.groupBy("_term").agg(
        F.count(F.lit(1)).cast("bigint").alias("_df")
    )
    nd = tf.agg(
        F.countDistinct("_d").cast("bigint").alias("_n")
    ).selectExpr("CAST(round(ln(_n) * 1000) AS BIGINT) AS _ln_n_milli")
    # identical-multiset collapse: docs whose (term, tf) multisets are
    # equal have IDENTICAL weight vectors (df/idf/N are full-corpus),
    # so one representative runs the pipeline and members expand at
    # the end. The class key is INJECTIVE (round 8, ADVICE fix): each
    # (term, tf) element is md5'd first — md5(term) is fixed-width so
    # 'digest:tf' parses uniquely, and the element digests are
    # fixed-width so their sorted concatenation is too. (Raw \x01/\x02
    # separators were ambiguous: \s+-split tokens CAN contain control
    # chars, so two different multisets could concat to one key and
    # silently merge distinct documents.)
    mem = (
        tf.groupBy("_d")
        .agg(
            F.md5(
                F.array_join(
                    F.sort_array(
                        F.collect_list(
                            F.md5(
                                F.concat(
                                    F.md5("_term"),
                                    F.lit(":"),
                                    F.col("_tf").cast("string"),
                                )
                            )
                        )
                    ),
                    "",
                )
            ).alias("_ck")
        )
        .transform(lineage_cut)  # feeds members AND classes
    )
    if max_class is None:
        members = mem
    else:
        wck = Window.partitionBy("_ck")
        members = (
            mem.withColumn("_rn", F.row_number().over(wck.orderBy("_d")))
            .withColumn("_n_mem", F.count("*").over(wck))
            .filter(F.col("_rn") <= max_class)
            .select(
                "_d", "_ck", (F.col("_n_mem") > max_class).alias("_cap")
            )
            .transform(lineage_cut)
        )
    # rep = min id per class, always inside the capped member set
    classes = (
        mem.groupBy("_ck")
        .agg(F.min("_d").alias("_g"))
        .transform(lineage_cut)  # reps, expansion, within
    )
    reps = classes.select(F.col("_g").alias("_d"))
    post = (
        tf.join(reps, "_d", "left_semi")
        .join(dfreq, "_term")
        .crossJoin(F.broadcast(nd))
        .selectExpr(
            "_d",
            "_term",
            "CAST(_tf * (_ln_n_milli - "
            "CAST(round(ln(_df) * 1000) AS BIGINT)) AS BIGINT) AS _w",
            "_df",
        )
        .filter("_w > 0")
        # the postings table fans out to five consumers (norms, unit,
        # both candidate sides, both verify sides); without truncating
        # lineage each one re-runs the shingle explode + two shuffles
        # (measured 25 s -> 7 s at sf0.1)
        .transform(lineage_cut)
    )
    norms = post.groupBy("_d").agg(
        F.sum(F.expr("CAST(_w AS DECIMAL(38,0)) * _w")).alias("_n2")
    )
    unit = post.join(norms, "_d").selectExpr(
        "_d",
        "_term",
        "_w",
        "_n2",
        "CAST(_w AS DOUBLE) / sqrt(CAST(_n2 AS DOUBLE)) AS _u",
    )
    mw = unit.groupBy("_term").agg(F.max("_u").alias("_mw"))
    ranked = unit.join(mw, "_term")
    # suffix bound: total Σû·mw per doc minus the running prefix
    w_doc = Window.partitionBy("_d").orderBy(
        F.col("_mw").desc(), F.col("_term")
    )
    prefix = w_doc.rowsBetween(Window.unboundedPreceding, -1)
    bounded = (
        ranked.withColumn("_c", F.expr("_u * _mw"))
        .withColumn(
            "_cum_prev",
            F.coalesce(F.sum("_c").over(prefix), F.lit(0.0)),
        )
        # Σû² = 1 per doc, so the suffix's norm mass is 1 − prefix mass
        .withColumn(
            "_cumsq_prev",
            F.coalesce(
                F.sum(F.expr("_u * _u")).over(prefix), F.lit(0.0)
            ),
        )
        .withColumn(
            "_total",
            F.sum("_c").over(
                Window.partitionBy("_d").rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    # two independent per-doc suffix bounds, both conservative: the
    # Bayardo Σû·mw bound AND the Cauchy–Schwarz norm bound
    # cos ≤ ‖a_suffix‖·‖b‖ = sqrt(1 − prefix û² mass). A term is
    # indexed only while BOTH say the suffix alone could still reach t.
    indexed = bounded.filter(
        F.expr(
            f"_total - _cum_prev >= {t} - {eps} AND "
            f"1.0 - _cumsq_prev >= {t * t} - {eps}"
        )
    ).select("_d", "_term", "_cumsq_prev").transform(lineage_cut)
    ia = indexed.selectExpr("_d AS doc_a", "_term", "_cumsq_prev AS _qa")
    ib = indexed.selectExpr("_d AS doc_b", "_term", "_cumsq_prev AS _qb")
    # Pair-level ℓ² cross bound (L2AP family), sound because each doc
    # indexes a PREFIX of its globally-ordered vocab: at a pair's
    # FIRST shared indexed term t0, every shared term of the pair lies
    # in both suffixes-from-t0 (a shared term before t0 would be
    # indexed in both — prefix property — contradicting minimality),
    # so Cauchy–Schwarz gives cos ≤ √((1−Σ_prefix û_a²)(1−Σ_prefix
    # û_b²)). A colliding row may be dropped whenever the product
    # fails: the qualifying pair's t0 row always passes. Measured on
    # the driver corpus at sf0.1: 409k → 276k candidates.
    cand = (
        ia.join(ib, "_term")
        .filter("doc_a < doc_b")
        .filter(F.expr(f"(1.0 - _qa) * (1.0 - _qb) >= {t * t} - {eps}"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    pa = post.selectExpr("_d AS doc_a", "_term", "_w AS _wa")
    pb = post.selectExpr("_d AS doc_b", "_term", "_w AS _wb")
    # products/sums in int64 (w ~ tf·milli-nats keeps each product
    # ≤ ~1e12 for real documents; ANSI mode turns a true overflow into
    # a loud error, never a silent wrap) — decimal(38,0) arithmetic in
    # this hot aggregate measured 2.5x slower; the overflow-proof
    # decimal form survives in the threshold compare below. (A
    # map<term,w>-vector merge per pair was measured and REJECTED:
    # Spark map lookups are linear scans, so map_zip_with on two
    # ~50-term string-keyed maps is O(|a|·|b|) string compares per
    # pair — 13.7 s vs this fan-out's 4.3 s on the sf0.1 corpus.)
    dots = (
        cand.join(pa, "doc_a")
        .join(pb, ["doc_b", "_term"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.expr("_wa * _wb")).cast("bigint").alias("_dot"))
    )
    na = norms.selectExpr("_d AS doc_a", "_n2 AS _n2a")
    nb = norms.selectExpr("_d AS doc_b", "_n2 AS _n2b")
    rep_pairs = (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(
            F.expr(
                f"{threshold_den * threshold_den} * "
                "CAST(_dot AS DECIMAL(38,0)) * _dot >= "
                f"{threshold_num * threshold_num} * _n2a * _n2b"
            )
        )
        .selectExpr(
            "doc_a",
            "doc_b",
            "CAST(floor(1000000 * CAST(_dot AS DOUBLE) / "
            "(sqrt(CAST(_n2a AS DOUBLE)) * sqrt(CAST(_n2b AS DOUBLE)))) "
            "AS BIGINT) AS cosine_ppm",
        )
    )
    # member expansion: a duplicate's vector IS its representative's,
    # so every member pair of a verified rep pair carries the same
    # exact cosine. DISTRIBUTED (round 8): members stay rows and the
    # expansion is two streamed joins on the rep key — never a per-row
    # pair array (doc_a < doc_b normalized per emitted pair).
    memr = members.join(classes, "_ck")  # (_d, _ck[, _cap], _g)
    _ecols_a = [F.col("_g").alias("doc_a"), F.col("_d").alias("_ma")]
    _ecols_b = [F.col("_g").alias("doc_b"), F.col("_d").alias("_mb")]
    if max_class is not None:
        _ecols_a.append(F.col("_cap").alias("_ca"))
        _ecols_b.append(F.col("_cap").alias("_cb"))
    cross = (
        rep_pairs.join(memr.select(*_ecols_a), "doc_a")
        .join(memr.select(*_ecols_b), "doc_b")
        .select(
            F.least("_ma", "_mb").alias("doc_a"),
            F.greatest("_ma", "_mb").alias("doc_b"),
            "cosine_ppm",
            *(
                [(F.col("_ca") | F.col("_cb")).alias("capped")]
                if max_class is not None
                else []
            ),
        )
    )
    # within-class pairs: identical vectors, cosine exactly 1 — the
    # ppm export uses the SAME float display expression (dot = n2) so
    # values match the uncollapsed oracle bit-for-bit; classes whose
    # rep has no positive-weight posting (no norm row) drop, exactly
    # as their members did pre-collapse. Streamed self-join on the
    # class key, same round-8 shape as the cross expansion.
    cls_norm = classes.join(
        norms.selectExpr("_d AS _g", "_n2"), "_g"
    ).selectExpr(
        "_ck",
        "CAST(floor(1000000 * CAST(_n2 AS DOUBLE) / "
        "(sqrt(CAST(_n2 AS DOUBLE)) * sqrt(CAST(_n2 AS DOUBLE)))) "
        "AS BIGINT) AS cosine_ppm",
    )
    _wcols_a = ["_ck", F.col("_d").alias("doc_a")]
    _wcols_b = ["_ck", F.col("_d").alias("doc_b")]
    if max_class is not None:
        _wcols_a.append(F.col("_cap").alias("_ca"))
        _wcols_b.append(F.col("_cap").alias("_cb"))
    within = (
        members.select(*_wcols_a)
        .join(members.select(*_wcols_b), "_ck")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .join(cls_norm, "_ck")
        .select(
            "doc_a",
            "doc_b",
            "cosine_ppm",
            *(
                [(F.col("_ca") | F.col("_cb")).alias("capped")]
                if max_class is not None
                else []
            ),
        )
    )
    return within.unionByName(cross)
