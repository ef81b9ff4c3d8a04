"""Vector similarity search over an embedding column (SURVEY.md §2.3 X3).

Two paths:

- **Brute-force cosine top-k** (`cosine_topk`): exact. The query set is
  broadcast (it's small by construction); similarity is computed with
  built-in higher-order functions (``zip_with`` + ``aggregate``) so the
  whole scan stays JVM-side — no Python worker in the loop. Cost is one
  pass over the corpus per batch of queries: O(|queries| · n · d) flops
  but only O(n) I/O, which is the right baseline at any scale.

- **IVF (inverted-file) approximate top-k** (`srp_ivf_topk`): sign
  random projections partition the corpus into 2**n_bits cells; a query
  probes only the nprobe nearest cells. At 100 TB the corpus DataFrame
  is written partitioned by ``cell`` so a probe prunes partitions at the
  storage layer — the scan reads nprobe/2**n_bits of the data.

Dot products fold left-to-right over doubles in both this engine and
the DuckDB oracle, and similarities are rounded before ranking, so
exact-match differential checks hold.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

ID_COL = "vec_id"
VEC_COL = "embedding"
QUERY_ID_COL = "query_id"
SRP_BITS = 4
SRP_DIM = 64
PQ_SUB_DIM = 16


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with+aggregate (sequential fold, bit-reproducible).

    Measured note: statically unrolling this to a flat 64-term
    ``0.0 + a[1]*b[1] + …`` expression (hoping for whole-stage codegen)
    ran 3× SLOWER than the higher-order-function form on 64-dim
    embeddings — the per-row HOF loop over a primitive array beats a
    64-deep Add tree of element_at calls. Keep the HOF form."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def as_double_array(col_name: str) -> Column:
    """float32 embeddings widen exactly to double — do it once up front so
    every arithmetic step is double (matches any double-based oracle)."""
    return F.col(col_name).cast("array<double>")


def partial_topk(
    scored: DataFrame,
    k: int,
    group_col: str,
    order_col: str = "cosine",
    tiebreak_col: str = "neighbor_id",
    ascending: bool = False,
) -> DataFrame:
    """Map-side partial top-k: reduce each PARTITION to its local top-k
    rows per group, with zero shuffle — the distributed half of an
    exact top-k (a final k-row-per-group merge, e.g. one window over
    the reduced set, completes it).

    Why it exists: ranking a scored table with
    ``Window.partitionBy(group)`` alone shuffles EVERY scored row —
    |corpus|·|queries| rows for a similarity search — when only k rows
    per (partition, group) can possibly survive. Spark has no bounded-
    state top-k aggregate (``collect_list`` partials keep everything),
    so the partition-local reduction runs as an Arrow-batched
    ``mapInPandas`` fold: a running top-k frame per group, carried
    across the partition's batches, O(k·|groups| + one batch) memory,
    all vectorized pandas (no per-row Python). The downstream window
    then shuffles ≤ k·|groups| rows per partition.

    Ordering contract: rows rank by ``order_col`` DESC (ASC when
    ``ascending`` — distance metrics), ties broken by ``tiebreak_col``
    ASC — callers must rank the merged result with the SAME ordering,
    and ``order_col`` must already hold its final (e.g. rounded)
    values, or the local cut could drop a row the final rounding would
    have promoted.
    """
    schema = scored.schema

    def _reduce(batches):
        import pandas as pd

        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            cur = pdf if acc is None else pd.concat((acc, pdf))
            acc = (
                cur.sort_values(
                    [order_col, tiebreak_col], ascending=[ascending, True]
                )
                .groupby(group_col, sort=False)
                .head(k)
            )
        if acc is not None and len(acc):
            yield acc

    return scored.mapInPandas(_reduce, schema=schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    ``queries`` must be small (it is broadcast to every task). Returns
    (query_id, neighbor_id, rank, cosine) with cosine rounded to 6
    places; rank breaks ties by neighbor id, so output is deterministic.

    Plan shape: scoring is one narrow JVM-side pass over the corpus
    (broadcast queries, fold-based dot product, round BEFORE ranking);
    ``partial_topk`` then cuts each scan partition to k rows per query
    map-side, so the ranking window's exchange carries ≤ k·|q| rows per
    partition instead of the full |corpus|·|q| score table.
    """
    # expr-string builders (same analyzed plan, ~10 gateway round trips
    # instead of ~150 — see dedup.exploded_shingles for the measurement)
    _dot = (
        "aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )
    q = queries.selectExpr(
        f"`{QUERY_ID_COL}`",
        f"cast(`{VEC_COL}` AS array<double>) AS _qe",
    ).selectExpr(
        f"`{QUERY_ID_COL}`",
        "_qe",
        f"sqrt({_dot.format(a='_qe', b='_qe')}) AS _qn",
    )
    c = corpus.selectExpr(
        f"`{ID_COL}` AS neighbor_id",
        f"cast(`{VEC_COL}` AS array<double>) AS _ce",
    ).selectExpr(
        "neighbor_id",
        "_ce",
        f"sqrt({_dot.format(a='_ce', b='_ce')}) AS _cn",
    )
    sims = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("neighbor_id") != F.col(QUERY_ID_COL))
        .selectExpr(
            f"`{QUERY_ID_COL}`",
            "neighbor_id",
            f"round({_dot.format(a='_qe', b='_ce')} / (_qn * _cn), 6) "
            "AS cosine",
        )
    )
    reduced = partial_topk(
        sims, k, group_col=QUERY_ID_COL,
        order_col="cosine", tiebreak_col="neighbor_id",
    )
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, "neighbor_id", "rank", "cosine")
    )


def cosine_topk_blas(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors — the SIMD scale path.

    Same semantics and output contract as :func:`cosine_topk` (round to
    6 places BEFORE ranking, ties by neighbor id ASC), but the scoring
    loop is one ``mapInArrow`` pass that computes the whole query-batch
    × corpus-batch similarity block as a single numpy matmul
    (BLAS/SIMD) and folds a running top-k per query across the
    partition's batches. mapInArrow, not mapInPandas: the list<double>
    column flattens to ONE contiguous numpy buffer per
    Arrow batch (zero object-per-row cost; the pandas path built a
    Python ndarray object per corpus row), measured 0.69 → 0.57 s on
    the 200k×64 sf10 corpus. One task emits ≤ k·|q| rows per
    partition; the final top-k merge is a second stage of the SAME
    job, so the whole answer is two jobs total: the bounded
    query-batch collect and the scoring+merge job — the minimum for a
    served query whose batch arrives from a table.

    Why both paths exist: the HOF fold in :func:`cosine_topk` is the
    bit-reproducibility contract (sequential left-to-right double adds,
    matching DuckDB's list_dot_product term order exactly) — the right
    DEFAULT for differential testing. This path reorders the additions
    (pairwise/SIMD accumulation), so a cosine sitting within ~d·eps
    (≈7e-15 at d=64) of a 1e-6 rounding boundary could round
    differently — astronomically rare, and the oracle gate would
    surface it — while the matmul scores ~20× faster per row. At 100 TB
    the scoring pass is the entire cost, so the scale deployment runs
    THIS path and keeps the fold path as its differential baseline.

    ``queries`` is collected to the driver: it is small by the same
    contract under which :func:`cosine_topk` broadcasts it (a query
    BATCH, never a second corpus) — a bounded, metadata-sized collect.
    """
    import numpy as np

    q_rows = (
        queries.select(
            F.col(QUERY_ID_COL), as_double_array(VEC_COL).alias("_qe")
        )
        .collect()
    )
    if not q_rows:
        empty = corpus.sparkSession.createDataFrame(
            [],
            schema=f"{QUERY_ID_COL} long, neighbor_id long, "
            "rank int, cosine double",
        )
        return empty
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.asarray([r[1] for r in q_rows], dtype=np.float64)  # (m, d)
    qn = np.sqrt(np.einsum("ij,ij->i", qm, qm))

    import pyarrow as pa

    out_schema = (
        f"{QUERY_ID_COL} long, neighbor_id long, cosine double"
    )

    def _score(batches):
        m = len(q_ids)
        # running per-query top-k frames (scores desc, id asc)
        best_s = [np.empty(0) for _ in range(m)]
        best_i = [np.empty(0, dtype=np.int64) for _ in range(m)]
        # the session's Arrow batch cap (256 rows, sized for image
        # payloads) would fragment the matmul into hundreds of tiny
        # BLAS calls — accumulate ~16k rows per scoring block instead
        buf_i: list[np.ndarray] = []
        buf_c: list[np.ndarray] = []
        buffered = 0

        def _flush():
            nonlocal buffered
            if not buffered:
                return
            ids = np.concatenate(buf_i)
            cm = np.concatenate(buf_c)
            buf_i.clear()
            buf_c.clear()
            buffered = 0
            cn = np.sqrt(np.einsum("ij,ij->i", cm, cm))
            # (m, n) block similarity in one BLAS call
            sims = np.round((qm @ cm.T) / np.outer(qn, cn), 6)
            for qi in range(m):
                s = sims[qi]
                keep = ids != q_ids[qi]
                s_all = np.concatenate((best_s[qi], s[keep]))
                i_all = np.concatenate((best_i[qi], ids[keep]))
                if len(s_all) > k:
                    # top-k by (score desc, id asc): lexsort is
                    # stable, primary key last
                    order = np.lexsort((i_all, -s_all))[:k]
                    s_all, i_all = s_all[order], i_all[order]
                best_s[qi], best_i[qi] = s_all, i_all

        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(0).to_numpy(
                zero_copy_only=False
            ).astype(np.int64)
            # list<float|double> flattens to one contiguous buffer —
            # the (n, d) matrix is a reshape, never n per-row objects.
            # float32 storage ships half the Arrow bytes and widens
            # here; float→double widening is value-exact, so scores
            # match the JVM-cast fold path bit-for-bit (measured
            # 0.73 → 0.52 s on the 200k×64 sf10 corpus)
            vec_arr = batch.column(1)
            if vec_arr.null_count:
                # flatten() silently DROPS null slots, shifting every
                # later vector onto the wrong neighbor id — fail loud
                raise ValueError(
                    f"{vec_arr.null_count} null embedding vector(s) "
                    "in corpus batch; similarity scoring requires a "
                    "non-null vector per row"
                )
            flat = vec_arr.flatten().to_numpy(zero_copy_only=False)
            d = qm.shape[1]
            if flat.size != len(ids) * d:
                # ragged lists can still reshape cleanly when totals
                # divide evenly — verify the exact expected length
                raise ValueError(
                    f"ragged embedding vectors: {flat.size} values "
                    f"for {len(ids)} rows of dim {d}"
                )
            cm = flat.reshape(len(ids), d).astype(
                np.float64, copy=False
            )
            buf_i.append(ids)
            buf_c.append(cm)
            buffered += len(ids)
            if buffered >= 16384:
                _flush()
        _flush()
        kept = [qi for qi in range(m) if len(best_i[qi])]
        if kept:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.concatenate(
                            [np.full(len(best_i[qi]), q_ids[qi])
                             for qi in kept]
                        ),
                        pa.int64(),
                    ),
                    pa.array(
                        np.concatenate([best_i[qi] for qi in kept]),
                        pa.int64(),
                    ),
                    pa.array(
                        np.concatenate([best_s[qi] for qi in kept]),
                        pa.float64(),
                    ),
                ],
                names=[QUERY_ID_COL, "neighbor_id", "cosine"],
            )

    scored = corpus.selectExpr(
        f"cast(`{ID_COL}` AS bigint) AS neighbor_id",
        f"`{VEC_COL}` AS _ce",  # no JVM-side cast: widen in numpy
    ).mapInArrow(_score, schema=out_schema)
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, "neighbor_id", "rank", "cosine")
    )


def srp_sign_vectors(n_bits: int, dim: int) -> list[list[float]]:
    """Deterministic Rademacher (±1) hyperplanes for signed-random-
    projection LSH: sign(h, j) = +1 iff the first hex digit of
    md5("h|j") >= '8'. Using md5 parity instead of a seeded RNG makes the
    hyperplanes reproducible in ANY engine with md5 — the same trick the
    portable MinHash/SimHash sketches use (dedup.py) — so a DuckDB oracle
    can re-derive identical signatures."""
    import hashlib

    return [
        [
            1.0
            if hashlib.md5(f"{h}|{j}".encode()).hexdigest()[0] >= "8"
            else -1.0
            for j in range(dim)
        ]
        for h in range(n_bits)
    ]


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    n_bits: int = 16,
    max_hamming: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed (X2e).

    Scale path for "are these two vectors the same item": an SRP
    signature (n_bits sign bits of deterministic ±1 hyperplane dots) is
    computed JVM-side per row; candidate pairs come from a pigeonhole
    block join (any pair within ``max_hamming`` flipped bits agrees on
    one of ``max_hamming+1`` signature blocks), then candidates are
    verified with the exact cosine — blocking affects cost, never
    results. Cost is candidate-bound like the MinHash path, not O(n²).

    Returns (doc_a, doc_b, cosine) with cosine >= threshold, doc_a < doc_b.
    """
    signs = srp_sign_vectors(n_bits, dim)
    ve = as_double_array(vec_col)
    bit_cols = [
        (
            dot(ve, F.array(*[F.lit(s) for s in signs[h]])) > 0
        ).cast("long")
        for h in range(n_bits)
    ]
    n_blocks = max_hamming + 1
    bits_per_block = n_bits // n_blocks
    block_vals = [
        sum(
            bit_cols[b * bits_per_block + r] * (1 << r)
            for r in range(bits_per_block)
        )
        for b in range(n_blocks)
    ]
    sig = corpus.select(
        F.col(id_col),
        ve.alias("_ve"),
        F.array(
            *[
                F.struct(F.lit(b).alias("blk"), block_vals[b].alias("blk_val"))
                for b in range(n_blocks)
            ]
        ).alias("_blocks"),
    ).withColumn("_norm", l2_norm(F.col("_ve")))
    blocks = sig.select(
        id_col, "_ve", "_norm", F.explode("_blocks").alias("bb")
    ).select(id_col, "_ve", "_norm", "bb.blk", "bb.blk_val")
    blocks = blocks.persist()  # self-join below: materialize once
    # Salt the bucket self-join: the join key domain is only
    # n_blocks * 2^(n_bits/n_blocks) values (64 here), and the join
    # OUTPUT is quadratic per bucket while its INPUT is tiny — AQE
    # coalesces the small shuffle to ~1 partition and the whole
    # verification runs single-threaded (observed at sf1: 1e8 pairs on
    # one core). Slicing the A side by id-hash and replicating the B
    # side into every slice keeps each pair produced exactly once per
    # block collision but fans the work out over
    # n_blocks * 2^bits * n_slices join cells.
    n_slices = 16
    a = blocks.select(
        F.col(id_col).alias("doc_a"), F.col("_ve").alias("_va"),
        F.col("_norm").alias("_na"), "blk", "blk_val",
    ).withColumn(
        "_slice", F.pmod(F.hash(F.col("doc_a")), F.lit(n_slices))
    )
    b = blocks.select(
        F.col(id_col).alias("doc_b"), F.col("_ve").alias("_vb"),
        F.col("_norm").alias("_nb"), "blk", "blk_val",
    ).withColumn(
        "_slice",
        F.explode(F.array(*[F.lit(s) for s in range(n_slices)])),
    )
    # Verify INSIDE the join's output stream: cosine + threshold run in
    # the same whole-stage-codegen stage as the bucket join, so the
    # candidate set (quadratic per bucket — the block domain is only
    # 2^(bits/blocks) values, so buckets grow linearly with the corpus)
    # is never materialized or shuffled. Deduplicating the ≤max_hamming+1
    # block collisions happens AFTER the filter, on the tiny survivor
    # set — a distinct() before verification would shuffle every
    # candidate row with both vectors attached (the r6 sf1 stall: ~1e8
    # wide rows AQE-coalesced onto one task).
    # Pin the join parallelism with explicit numbered repartitions: AQE
    # coalesces shuffle reads by INPUT bytes, but this join's cost is
    # its quadratic OUTPUT — left to AQE the ~1024 salted cells collapse
    # onto a handful of tasks (6 of 32 cores busy at sf1). A
    # REPARTITION_BY_NUM exchange is exempt from AQE coalescing, and
    # because both sides share the full join key the join reuses the
    # partitioning without an extra exchange.
    n_part = max(n_slices * 4, 64)
    a = a.repartition(n_part, "blk", "blk_val", "_slice")
    b = b.repartition(n_part, "blk", "blk_val", "_slice")
    return (
        a.join(b, ["blk", "blk_val", "_slice"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "cosine",
            F.round(
                dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
        .distinct()
    )


def srp_cell_col(vec: Column, n_bits: int, dim: int) -> Column:
    """Deterministic coarse-quantizer cell id: the ``n_bits`` sign bits
    of dots against the md5-derived ±1 hyperplanes (srp_sign_vectors),
    packed little-endian into an int. Unlike k-means, any engine with
    md5 re-derives identical cells — so an IVF search over these cells
    is exactly SQL-checkable while keeping IVF's storage-pruning shape
    (cell-partitioned layout, probe a few cells per query)."""
    signs = srp_sign_vectors(n_bits, dim)
    bits = [
        (dot(vec, F.array(*[F.lit(s) for s in signs[h]])) > 0).cast("int")
        for h in range(n_bits)
    ]
    cell = bits[0] * 0
    for h in range(n_bits):
        cell = cell + bits[h] * (1 << h)
    return cell.cast("int")


def srp_ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """IVF top-k with the deterministic SRP coarse quantizer.

    Probe order is Hamming distance between the query's cell signature
    and each of the 2**SRP_BITS cells (ties by cell id) — the SRP analogue
    of k-means' nearest-centroids probe: cells whose sign pattern agrees
    with the query's hold the geometrically close vectors. Within the
    probed cells the cosine is exact. At 100 TB the corpus is written
    ``partitionBy("cell")`` so each probe prunes
    (2^SRP_BITS - nprobe)/2^SRP_BITS of the files; the candidate join is
    cell-keyed, never a crossJoin.
    """
    spark = corpus.sparkSession
    assigned = corpus.select(
        F.col(ID_COL).alias("neighbor_id"),
        as_double_array(VEC_COL).alias("_ce"),
    ).withColumn("_cn", l2_norm(F.col("_ce"))).withColumn(
        "cell", srp_cell_col(F.col("_ce"), SRP_BITS, SRP_DIM)
    )
    q = queries.select(
        QUERY_ID_COL, as_double_array(VEC_COL).alias("_qe")
    ).withColumn("_qn", l2_norm(F.col("_qe"))).withColumn(
        "qcell", srp_cell_col(F.col("_qe"), SRP_BITS, SRP_DIM)
    )
    cells = spark.range(1 << SRP_BITS).select(
        F.col("id").cast("int").alias("cell")
    )
    probes = (
        q.crossJoin(F.broadcast(cells))  # |q| * 2^SRP_BITS rows — tiny
        .withColumn("_hd", F.expr("bit_count(qcell ^ cell)"))
        .withColumn(
            "_pr",
            F.row_number().over(
                Window.partitionBy(QUERY_ID_COL).orderBy("_hd", "cell")
            ),
        )
        .filter(F.col("_pr") <= nprobe)
        .select(QUERY_ID_COL, "_qe", "_qn", "cell")
    )
    sims = (
        probes.join(assigned, "cell")  # cell-pruned candidate join
        .filter(F.col("neighbor_id") != F.col(QUERY_ID_COL))
        .select(
            QUERY_ID_COL,
            "neighbor_id",
            F.round(
                dot(F.col("_qe"), F.col("_ce")) / (F.col("_qn") * F.col("_cn")),
                6,
            ).alias("cosine"),
        )
    )
    reduced = partial_topk(
        sims, k, group_col=QUERY_ID_COL,
        order_col="cosine", tiebreak_col="neighbor_id",
    )
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, "neighbor_id", "rank", "cosine")
    )


# ---------------------------------------------------------------------------
# X3b — embedding dimension moments (PCA / whitening prep)
# ---------------------------------------------------------------------------


def dim_moments(emb: DataFrame, id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """Per-dimension first/second moments of an embedding column plus the
    adjacent-dimension covariance band: (dim, n, mean_val, var_val,
    cov_next), the inputs PCA/whitening preprocessing needs before any
    eigen step.

    Shape: one ``posexplode`` to (dim, x, next_x) — a d× row blowup of
    primitive doubles, NOT the d² blowup a full covariance explode would
    cost — then a single groupBy(dim). Every aggregate here
    (count/avg/var_pop/covar_pop) partial-aggregates map-side, so the
    shuffle carries d rows of accumulators per task regardless of corpus
    size; at 100 TB the reduce side sees #tasks × d tiny rows. The FULL
    d×d covariance needs per-partition Gram partials (X^T X via
    mapInPandas, summed driver-side — d² floats per partition, no
    per-element rows at all); this banded form is the part of that
    pipeline that stays oracle-checkable in plain SQL, and it already
    catches the common degeneracies (dead dims: var 0; correlated
    neighboring dims: |cov_next| ≈ sqrt(var·var')).

    ``cov_next`` is NULL for the last dimension (covar_pop over zero
    valid pairs) in both this engine and any SQL oracle. Values rounded
    to 6 places for cross-engine value equality.
    """
    pairs = emb.selectExpr(
        f"`{id_col}`",
        f"cast(`{vec_col}` AS array<double>) AS _e",
    ).selectExpr(
        "posexplode(transform(sequence(0, size(_e) - 1), "
        "i -> struct(_e[i] AS x, "
        "CASE WHEN i + 1 < size(_e) THEN _e[i + 1] END AS y))) AS (dim, p)"
    )
    return pairs.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("p.x"), 6).alias("mean_val"),
        F.round(F.var_pop("p.x"), 6).alias("var_val"),
        F.round(F.covar_pop("p.x", "p.y"), 6).alias("cov_next"),
    )


def covariance_matrix(emb: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """Full d×d population covariance of the embedding corpus — the
    distributed-PCA shape (same reduction MLlib's
    ``RowMatrix.computeCovariance`` uses): each partition emits ONE
    partial (n, Σx, Σxxᵀ) via an Arrow-batched ``mapInPandas`` (numpy
    ``X.T @ X`` per batch — BLAS, no per-element rows), the partials —
    #partitions rows of d² doubles, metadata-sized — are summed
    driver-side, and the finished upper triangle returns as a
    (i, j, cov_val) DataFrame.

    Contrast with ``dim_moments``: that explode form is d-linear and
    fully SQL-aggregatable but computes only a covariance BAND; the full
    matrix via explode would blow up d² per input row. Partial Gram
    matrices move O(partitions · d²) bytes total — at 100 TB with 10k
    partitions and d=1024 that is ~80 GB of partials, which is why real
    deployments tree-reduce them; here the driver sum IS the tree root,
    and the collected partial count is bounded by the partition count,
    the same cardinality AQE ships to the driver after every shuffle.

    Values rounded to 6 places; ``cov = G/n − μμᵀ`` equals
    ``covar_pop`` algebraically, so a SQL oracle can re-derive every
    entry."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    src = emb.selectExpr(f"cast(`{vec_col}` AS array<double>) AS e")

    def gram_partials(batches):
        n = 0
        s = None
        g = None
        for pdf in batches:
            X = np.array(pdf["e"].tolist(), dtype=np.float64)
            if X.size == 0:
                continue
            n += X.shape[0]
            if s is None:
                s = X.sum(axis=0)
                g = X.T @ X
            else:
                s += X.sum(axis=0)
                g += X.T @ X
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]}
            )

    parts = src.mapInPandas(
        gram_partials, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    d = len(parts[0]["s"])
    s = np.zeros(d)
    g = np.zeros((d, d))
    for p in parts:
        s += np.array(p["s"])
        g += np.array(p["g"]).reshape(d, d)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    rows = [
        (i, j, round(float(cov[i, j]), 6) + 0.0)
        for i in range(d)
        for j in range(i, d)
    ]
    return spark.createDataFrame(rows, "i long, j long, cov_val double")


def standardize(emb: DataFrame) -> DataFrame:
    """Apply per-dimension standardization z = (x − μ)/σ — the whitening
    APPLY step that pairs with ``dim_moments``. The d-row stats table is
    folded into two length-d arrays in ONE row, broadcast, and applied
    with ``zip_with`` — the corpus is never exploded: each row's vector
    transforms in place, map-side, zero shuffles of data (the only
    exchanges build the d-row stats).

    Zero-variance (dead) dims pass through centered (σ := 1), mirroring
    sklearn's StandardScaler. Stats are the ROUNDED (6-place) moments,
    which makes the transform itself reproducible in any engine: μ and
    σ² are exact decimals, and (x − μ)/sqrt(σ²) is then a composition
    of correctly-rounded IEEE ops — bit-identical everywhere.

    Returns (id, z: array<double>)."""
    stats = dim_moments(emb, ID_COL, VEC_COL)
    packed = stats.agg(
        F.array_sort(
            F.collect_list(F.struct("dim", "mean_val", "var_val"))
        ).alias("_st")
    ).selectExpr(
        "transform(_st, s -> s.mean_val) AS _means",
        "transform(_st, s -> CASE WHEN s.var_val > 0 THEN sqrt(s.var_val) "
        "ELSE 1.0D END) AS _stds",
    )
    return (
        emb.selectExpr(
            f"`{ID_COL}`", f"cast(`{VEC_COL}` AS array<double>) AS _e"
        )
        .crossJoin(F.broadcast(packed))
        .selectExpr(
            f"`{ID_COL}`",
            "zip_with(zip_with(_e, _means, (x, m) -> x - m), _stds, "
            "(c, s) -> c / s) AS z",
        )
    )


def random_project(emb: DataFrame, out_dim: int, in_dim: int,
                   keep_vec: bool = False) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by deterministic
    Rademacher projection: z_h = ⟨x, s_h⟩ / sqrt(out_dim) against the
    same md5-derived ±1 vectors the SRP quantizer uses
    (``srp_sign_vectors``) — Achlioptas (2003) shows ±1 entries satisfy
    the JL guarantee, and the md5 derivation makes the entire projection
    re-derivable in any engine, so norm preservation is value-checkable
    rather than trusted.

    Plan: the out_dim×in_dim sign matrix rides the plan as literal
    arrays (a few KB); the projection is a per-row higher-order-function
    fold — map-side, no shuffle, no UDF. At 100 TB this is a narrow
    column transform pipelined into whatever consumes it (typically a
    cheaper ANN or clustering pass over the reduced vectors).

    Returns (id, z: array<double> length out_dim); with ``keep_vec`` the
    widened input rides along as ``x`` (norm-comparison consumers avoid
    a self-join)."""
    signs = srp_sign_vectors(out_dim, in_dim)
    scale = 1.0 / float(out_dim) ** 0.5
    rows = ", ".join(
        "array(" + ", ".join(f"{v:.1f}D" for v in signs[h]) + ")"
        for h in range(out_dim)
    )
    keep = ["_e AS x"] if keep_vec else []
    return emb.selectExpr(
        f"`{ID_COL}`",
        f"cast(`{VEC_COL}` AS array<double>) AS _e",
    ).selectExpr(
        f"`{ID_COL}`",
        f"transform(array({rows}), s -> "
        "aggregate(zip_with(_e, s, (x, y) -> x * y), 0.0D, "
        f"(acc, v) -> acc + v) * {scale!r}D) AS z",
        *keep,
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory side of large-scale ANN.
# ---------------------------------------------------------------------------


def pq_sample_codebook(corpus: DataFrame) -> list[list[list[int]]]:
    """Deterministic sample-initialized PQ codebook: the 8 corpus
    vectors smallest in md5('pqs|'||id) order donate their
    ``PQ_SUB_DIM``-wide subvectors of 4 sub-spaces as centroids
    (exactly k-means' sample initialization — data-distributed, so
    quantization residuals are corpus-scaled, not hypercube-scaled).

    Everything stays engine-reproducible: sampling is an md5 order (a
    k-minimum-values draw, same idiom as ``uniform_k_sample``), and the
    milli-unit quantization (``cast(round(v*1000) AS bigint)``) runs in
    Spark itself — the collected codebook is the integer values every
    engine's round() produces. Returns ``cb[m][j][d]`` ints; the
    collect is 8 rows = metadata-sized.
    """
    rows = (
        corpus.selectExpr(
            f"`{ID_COL}` AS _id",
            f"transform(cast(`{VEC_COL}` AS array<double>), "
            "v -> cast(round(v * 1000.0D) AS bigint)) AS _xi",
        )
        .orderBy(
            F.md5(F.concat(F.lit("pqs|"), F.col("_id").cast("string"))),
            F.col("_id"),
        )
        .limit(8)
        .collect()
    )
    return [
        [
            [int(r._xi[m * PQ_SUB_DIM + d]) for d in range(PQ_SUB_DIM)]
            for r in rows
        ]
        for m in range(4)
    ]


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: list[list[list[int]]],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-style PQ top-k search with an integer ADC pipeline
    (X3): each corpus vector is stored as M sub-space codes (argmin
    centroid per subvector — M·log2(K) bits per vector instead of
    dim·32; the compression that lets a 100 TB embedding corpus live in
    executor memory), and each query precomputes its M×K distance
    table; the scored distance is then M table lookups per candidate,
    never a dim-length loop.

    Exactness contract: vectors quantize to milli-units once
    (``round(v*1000)``, the established cross-engine rounding), so
    every subspace distance is an exact BIGINT sum of squares, code
    assignment ties break to the smaller centroid index on both
    engines, and the final ranking (adc_dist ASC, neighbor ASC) is
    fully deterministic — a DuckDB oracle re-derives the codes, the
    lookup tables, and the ranks bit-for-bit.

    Plan shape: code assignment is one narrow JVM-side pass over the
    corpus (K aggregate-folds per subspace, array_position argmin —
    no UDF, no shuffle); the query side (tiny) broadcasts with its
    distance tables inlined; scoring is M element_at lookups per
    (query, doc); ``partial_topk(ascending=True)`` cuts each scan
    partition to k rows per query before the final k·|q|-row ranking
    window. At scale the codes DataFrame is what you persist — re-used
    across every query batch without touching raw vectors.
    """
    m_sub = len(codebook)
    k_cent = len(codebook[0])
    sub_dim = len(codebook[0][0])

    xi = (
        f"transform(cast(`{VEC_COL}` AS array<double>), "
        "v -> cast(round(v * 1000.0D) AS bigint))"
    )

    def sub_dist(m: int, j: int) -> str:
        lits = ", ".join(f"{v}L" for v in codebook[m][j])
        return (
            f"aggregate(zip_with(slice(_xi, {m * sub_dim + 1}, {sub_dim}), "
            f"array({lits}), (x, y) -> (x - y) * (x - y)), 0L, "
            "(acc, v) -> acc + v)"
        )

    def dist_array(m: int) -> str:
        return "array(" + ", ".join(
            sub_dist(m, j) for j in range(k_cent)
        ) + ")"

    # corpus → per-subspace argmin code (ties → smaller centroid index:
    # array_position returns the FIRST match)
    docs = (
        corpus.selectExpr(f"`{ID_COL}` AS neighbor_id", f"{xi} AS _xi")
        .selectExpr(
            "neighbor_id",
            *[f"{dist_array(m)} AS _da{m}" for m in range(m_sub)],
        )
        .selectExpr(
            "neighbor_id",
            "array("
            + ", ".join(
                f"cast(array_position(_da{m}, array_min(_da{m})) - 1 "
                "AS int)"
                for m in range(m_sub)
            )
            + ") AS _codes",
        )
    )
    # queries → full M×K distance table, carried as array<array<bigint>>
    q = queries.selectExpr(
        f"`{QUERY_ID_COL}`", f"{xi} AS _xi"
    ).selectExpr(
        f"`{QUERY_ID_COL}`",
        "array("
        + ", ".join(dist_array(m) for m in range(m_sub))
        + ") AS _qd",
    )
    scored = (
        F.broadcast(q)
        .crossJoin(docs)
        .filter(F.col("neighbor_id") != F.col(QUERY_ID_COL))
        .selectExpr(
            f"`{QUERY_ID_COL}`",
            "neighbor_id",
            "aggregate(zip_with(_codes, _qd, "
            "(cd, row) -> element_at(row, cd + 1)), 0L, "
            "(acc, v) -> acc + v) AS adc_dist",
        )
    )
    reduced = partial_topk(
        scored, k, group_col=QUERY_ID_COL,
        order_col="adc_dist", tiebreak_col="neighbor_id", ascending=True,
    )
    w = Window.partitionBy(QUERY_ID_COL).orderBy(
        F.col("adc_dist"), F.col("neighbor_id")
    )
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(QUERY_ID_COL, "neighbor_id", "rank", "adc_dist")
    )


def int8_quantization_stats(emb: DataFrame) -> DataFrame:
    """Per-dimension affine int8 quantization (min/max → 255 levels)
    with exact reconstruction-error accounting — the serving-side
    compression audit: before a corpus ships as int8, measure what the
    rounding costs each vector.

    Determinism discipline: quantize/dequantize is one fixed IEEE op
    chain per element with ``floor(x + 0.5)`` in place of round() —
    floor is exact on both engines even on .5 ties, where round()'s
    BigDecimal-vs-raw-double behavior can differ. Per-element errors
    are floored to integer micro-units BEFORE summing, so the per-
    vector totals are order-independent BIGINTs.

    Plan shape: per-dim min/max is a posexplode + 64-group map-side-
    combined agg (shuffle carries dims × partitions partial rows, not
    elements); the ranges come back as two broadcast arrays; the
    quantization pass itself is a narrow transform/aggregate fold —
    no UDF, no second shuffle. Returns (id, sum_abs_err_micro,
    max_err_micro).
    """
    ve = f"cast(`{VEC_COL}` AS array<double>)"
    dims = (
        emb.selectExpr(f"posexplode({ve}) AS (d, x)")
        .groupBy("d")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    )
    rng = dims.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, mn))), "
            "s -> s.mn)"
        ).alias("_mn"),
        F.expr(
            "transform(array_sort(collect_list(struct(d, mx))), "
            "s -> s.mx)"
        ).alias("_mx"),
    )
    mn = "element_at(_mn, i + 1)"
    mx = "element_at(_mx, i + 1)"
    err_el = (
        f"CASE WHEN {mx} > {mn} THEN "
        f"CAST(floor(abs(x - ({mn} + floor((x - {mn}) * 254.0D "
        f"/ ({mx} - {mn}) + 0.5D) * ({mx} - {mn}) / 254.0D)) "
        "* 1000000.0D + 0.5D) AS BIGINT) ELSE 0L END"
    )
    return (
        emb.selectExpr(f"`{ID_COL}`", f"{ve} AS _e")
        .crossJoin(F.broadcast(rng))
        .selectExpr(
            f"`{ID_COL}`",
            f"transform(_e, (x, i) -> {err_el}) AS _errs",
        )
        .selectExpr(
            f"`{ID_COL}`",
            "aggregate(_errs, 0L, (a, v) -> a + v) AS sum_abs_err_micro",
            "array_max(_errs) AS max_err_micro",
        )
    )


def centered_norm_outliers(emb: DataFrame, top_n: int = 20) -> DataFrame:
    """Embedding outlier scan: the ``top_n`` vectors farthest from the
    corpus centroid, by squared distance — the cheap gate that catches
    corrupt rows (all-zero vectors, NaN-scrubbed junk, off-manifold
    encoder failures) before they poison a similarity index or a
    contrastive batch.

    Exactness discipline: values quantize to micro-units (bigint), the
    per-dim deviation is scaled by n (dev = n·x − Σx, an integer — no
    centroid division), and the score Σ_d dev² accumulates in
    decimal(38,0) — bit-identical across engines and partitionings; at
    n = 1e9 vectors dev ≈ 1e15, dev² ≈ 1e30, comfortably inside
    decimal(38,0).

    Shape: per-dim sums via one posexplode + groupBy(dim) (map-side
    combined, d accumulator rows per task); the d-row sum table
    broadcast-joins back; scoring is a second narrow pass; ranking is
    ``sort().limit()`` — Spark plans TakeOrdered (per-partition top-n +
    driver merge), never a global sort, so the only full shuffles at
    any scale are the two d-bounded aggregations.
    """
    v = emb.selectExpr(
        f"`{ID_COL}` AS vec_id",
        f"transform(cast(`{VEC_COL}` AS array<double>), "
        "x -> CAST(round(x * 1000000) AS BIGINT)) AS _m",
    )
    dim_sums = (
        v.selectExpr("posexplode(_m) AS (dim, xm)")
        .groupBy("dim")
        .agg(F.sum("xm").alias("sx"), F.count("*").alias("n"))
        .groupBy()
        .agg(
            F.any_value("n").cast("bigint").alias("n"),
            F.array_sort(
                F.collect_list(F.struct("dim", "sx"))
            ).alias("_sx_arr"),
        )
        .selectExpr(
            "n", "transform(_sx_arr, s -> s.sx) AS sx"
        )
    )
    scored = v.crossJoin(F.broadcast(dim_sums)).selectExpr(
        "vec_id",
        "aggregate(zip_with(_m, sx, (x, s) -> "
        "CAST(CAST(n * x - s AS DECIMAL(38,0)) "
        "* CAST(n * x - s AS DECIMAL(38,0)) AS DECIMAL(38,0))), "
        "CAST(0 AS DECIMAL(38,0)), "
        "(acc, d2) -> CAST(acc + d2 AS DECIMAL(38,0))) AS score",
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("vec_id"))
        .limit(top_n)
        .select("vec_id", "score")
    )


def pca_top_component(emb: DataFrame) -> DataFrame:
    """Top principal component of the embedding corpus by power
    iteration on the d×d covariance matrix — distributed where the data
    is, exact where the math is.

    The DISTRIBUTED work is ``covariance_matrix`` (per-partition Gram
    partials over Arrow batches; the corpus is touched exactly once).
    The resulting d² matrix is metadata-sized (64 dims here; even
    d=4096 is 128 MB), so the power iteration itself runs on the
    driver, the same split MLlib's ``RowMatrix.computePrincipalComponents``
    makes (corpus → covariance distributed, eigensolve local).

    Determinism/oracle contract: iterate v ← C·v / ‖C·v‖₁ from the
    uniform vector, ROUNDING v to 9 decimals each step — the rounding
    re-anchors both engines to the same grid every iteration, so a SQL
    twin replaying the identical recurrence (recursive CTE) reproduces
    the trajectory bit-for-bit instead of drifting on summation order.
    After 15 rounds (fixed — past convergence the step is
    identity on the 9-decimal grid), the reported loading is the
    L2-normalized vector (6 decimals) and the eigenvalue the Rayleigh
    quotient (6 decimals). Returns (dim, loading, eigval) ordered by
    |loading| desc, dim."""
    import numpy as np

    spark = emb.sparkSession
    cov_rows = covariance_matrix(emb, ID_COL, VEC_COL).collect()
    d = max(r["j"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov_val"]
        C[r["j"], r["i"]] = r["cov_val"]
    v = np.full(d, round(1.0 / d, 9))
    for _ in range(15):
        u = C @ v
        v = np.round(u / np.abs(u).sum(), 9)
    l2 = float(np.sqrt((v * v).sum()))
    eig = float(v @ C @ v) / float(v @ v)
    rows = [
        (int(i), round(float(v[i] / l2), 6) + 0.0, round(eig, 6) + 0.0)
        for i in range(d)
    ]
    rows.sort(key=lambda r: (-abs(r[1]), r[0]))
    return spark.createDataFrame(
        rows, "dim long, loading double, eigval double"
    )


def centroid_drift(emb: DataFrame, split_pred: str) -> DataFrame:
    """Per-label embedding-centroid drift between two populations (e.g.
    training snapshot vs serving window, selected by ``split_pred``):
    the embedding-space counterpart of the scalar drift family — a
    retrieval index or classifier whose class centroids moved is stale
    regardless of what the scalar feature stats say.

    EXACT integer formulation: float32 components widen exactly to
    double, quantize once to micro-units (round(x·1e6) — bit-identical
    in any engine), per-(label, dim, side) sums are exact bigints, and
    the squared centroid distance clears denominators:
    ‖s₁/n₁ − s₂/n₂‖² = Σ_d (s₁d·n₂ − s₂d·n₁)² / (n₁n₂)² — the numerator
    is an exact decimal(38,0); only the display column
    (l2_micro = 1e6·√num/(n₁·n₂·1e6)) touches floats.

    EXACTNESS CEILING: the squared cross-product
    term bounds to 4·(n₁·n₂·qmax)², qmax = 1e6·max|component|, so
    decimal(38,0) holds only while n₁·n₂·qmax ≤ ~1.5e18 — about
    2×10⁶ unit-norm vectors PER LABEL per side (ANSI mode raises on
    overflow; non-ANSI NULLs the row — neither is silent data).
    Per-label side counts beyond that need either coarser quantization
    (qmax/k buys k× rows: 1e4 units → 2×10⁸ vectors/label/side) or
    the float path; the per-LABEL split means the ceiling is on class
    size, not corpus size.

    Shape: one posexplode to (label, dim, side) primitive rows, one
    map-side-combined groupBy — the shuffle carries #labels × d × 2
    accumulator rows per task regardless of corpus size; the final
    per-label reduce is metadata-sized. Labels missing a side are
    dropped (inner pairing) — a label present only in serving is a
    different alert (category novelty), not a drift distance.
    """
    sides = emb.selectExpr(
        "`label` AS label",
        f"CAST(({split_pred}) AS BOOLEAN) AS _s1",
        f"cast(`{VEC_COL}` AS array<double>) AS _e",
    ).selectExpr(
        "label",
        "_s1",
        "posexplode(transform(_e, x -> CAST(round(x * 1000000) AS BIGINT)))"
        " AS (dim, q)",
    )
    per_dim = sides.groupBy("label", "dim").agg(
        F.sum(F.expr("CASE WHEN _s1 THEN q ELSE 0 END"))
        .cast("bigint").alias("_sa"),
        F.sum(F.expr("CASE WHEN _s1 THEN 1 ELSE 0 END"))
        .cast("bigint").alias("_na"),
        F.sum(F.expr("CASE WHEN _s1 THEN 0 ELSE q END"))
        .cast("bigint").alias("_sb"),
        F.sum(F.expr("CASE WHEN _s1 THEN 0 ELSE 1 END"))
        .cast("bigint").alias("_nb"),
    )
    return (
        per_dim.filter("_na > 0 AND _nb > 0")
        .groupBy("label")
        .agg(
            F.max("_na").cast("bigint").alias("n_a"),
            F.max("_nb").cast("bigint").alias("n_b"),
            # cast BEFORE multiplying: s·n products pass int64 once
            # sides hold ~10^9 vectors
            F.sum(
                F.expr(
                    "(CAST(_sa AS DECIMAL(38,0)) * _nb "
                    "- CAST(_sb AS DECIMAL(38,0)) * _na) "
                    "* (CAST(_sa AS DECIMAL(38,0)) * _nb "
                    "- CAST(_sb AS DECIMAL(38,0)) * _na)"
                )
            ).alias("_num"),
        )
        .selectExpr(
            "label",
            "n_a",
            "n_b",
            "CAST(_num AS DECIMAL(38,0)) AS l2sq_num",
            # ‖Δ‖ in micro-units of the original embedding space:
            # √num / (n_a·n_b) is the distance in quantized micro-units
            "CAST(floor(sqrt(CAST(_num AS DOUBLE)) "
            "/ (CAST(n_a AS DOUBLE) * n_b)) AS BIGINT) AS l2_micro",
        )
    )
