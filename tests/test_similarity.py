"""Similarity search: exactness of brute force, recall of IVF."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark import tables
from data_pipeline_rsna_spark.operators import similarity as sim


@pytest.mark.slow
def test_cosine_topk_identical_vector(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0]),  # identical direction to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.7, 0.7, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.cosine_topk(emb, q, k=3).collect()
    by_rank = {r.rank: r for r in got}
    assert by_rank[1].neighbor_id == 1 and by_rank[1].cosine == 1.0
    assert by_rank[2].neighbor_id == 3  # cos 45deg
    assert by_rank[3].neighbor_id == 2 and by_rank[3].cosine == 0.0


def test_cosine_topk_blas_matches_fold_path(spark, sf_dir):
    """The SIMD (matmul) path must return exactly what the HOF-fold
    path returns — same neighbors, ranks, and round-6 cosines — and be
    invariant to corpus partitioning (the running per-partition top-k
    must not drop a row the global ranking would keep)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    want = sorted(
        map(tuple, sim.cosine_topk(emb, q, k=7).collect())
    )
    for nparts in (1, 5):
        got = sorted(
            map(
                tuple,
                sim.cosine_topk_blas(
                    emb.repartition(nparts), q, k=7
                ).collect(),
            )
        )
        assert got == want


def test_cosine_topk_blas_tie_break_across_batches(spark):
    """Equal-cosine ties must keep the LOWEST neighbor id even when the
    tied rows arrive in different partitions/batches."""
    rows = [(0, [1.0, 0.0])] + [
        (i, [1.0, 0.0]) for i in range(1, 8)  # all identical direction
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = sim.cosine_topk_blas(emb.repartition(4), q, k=3).collect()
    assert [r.neighbor_id for r in sorted(got, key=lambda r: r.rank)] == [
        1,
        2,
        3,
    ]
    assert all(r.cosine == 1.0 for r in got)


def test_srp_ivf_recall_and_probe_budget(spark, sf_dir):
    """The deterministic SRP-cell IVF must (a) reach a meaningful recall
    floor vs brute force and (b) actually prune: every returned neighbor
    lies in one of the nprobe probed cells of its query."""
    emb = tables.load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    brute = sim.cosine_topk(emb, queries, k=10)
    approx = sim.srp_ivf_topk(emb, queries, k=10, nprobe=4)
    b = {(r.query_id, r.neighbor_id) for r in brute.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(a & b) / len(b)
    # the testdata embeddings are i.i.d. random, so ANY coarse quantizer's
    # recall floor is ~the scan fraction (nprobe/nlist = 0.25); demand the
    # SRP probe beat that floor, which shows the sign-bit cells carry real
    # angular locality rather than random membership
    assert recall > 0.25, f"SRP-IVF recall {recall:.2f} no better than random"
    # pruning check: every returned neighbor must sit in one of the
    # nprobe cells actually probed for ITS query — probe set recomputed
    # independently here (Hamming distance to the query cell, ties by
    # cell id, same order srp_ivf_topk ranks)
    cells = emb.select(
        "vec_id",
        sim.srp_cell_col(sim.as_double_array("embedding"), 4, 64).alias("cell"),
    )
    cell_of = {r.vec_id: r.cell for r in cells.collect()}
    qcell_of = {
        r.query_id: r.qcell
        for r in queries.select(
            "query_id",
            sim.srp_cell_col(sim.as_double_array("embedding"), 4, 64).alias(
                "qcell"
            ),
        ).collect()
    }
    nprobe = 4
    for qid, nid in a:
        probe_set = sorted(
            range(16),
            key=lambda c: (bin(qcell_of[qid] ^ c).count("1"), c),
        )[:nprobe]
        assert cell_of[nid] in probe_set, (
            f"neighbor {nid} (cell {cell_of[nid]}) of query {qid} "
            f"outside its probe set {probe_set}"
        )


def test_embedding_neardup_finds_planted(spark):
    import math

    base = [[math.cos(i * 0.37 + d) for d in range(8)] for i in range(20)]
    norm = [[x / math.sqrt(sum(v * v for v in row)) for x in row] for row in base]
    rows = [(i, norm[i]) for i in range(20)]
    # plant: id 100+i = id i with a tiny first-coordinate nudge
    rows += [(100 + i, [norm[i][0] + 0.02] + norm[i][1:]) for i in (3, 7)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sim.embedding_neardup_pairs(
        emb, threshold=0.995, n_bits=16, max_hamming=3, dim=8
    ).collect()
    pairs = {(r.doc_a, r.doc_b) for r in got}
    assert (3, 103) in pairs and (7, 107) in pairs
    for r in got:
        assert r.cosine >= 0.995


def test_ivf_cell_layout_prunes_at_storage(spark, sf_dir, tmp_path):
    """The documented IVF scale path made concrete: the corpus written
    partitionBy("cell") must (a) prune unprobed cells at the file index
    (PartitionFilters on cell, nprobe dirs read, not 2^n_bits) and
    (b) produce the same top-k as the in-memory candidate join."""
    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.plans import audit

    emb = tables.load(spark, sf_dir, "embeddings")
    layout = str(tmp_path / "corpus_by_cell")
    (
        emb.withColumn(
            "cell",
            sim.srp_cell_col(sim.as_double_array("embedding"), 4, 64),
        )
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(layout)
    )
    back = spark.read.parquet(layout)

    # one probe set: a query's nprobe=4 nearest cells by Hamming
    probe_cells = [0, 1, 2, 4]
    pruned = back.filter(F.col("cell").isin(probe_cells))
    rep = audit.plan_report(pruned)
    pf = [ln for ln in rep.text.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in pf), rep.text
    # the file index reads nprobe directories, not all 16
    n_rows_probed = pruned.count()
    per_cell = dict(
        (r["cell"], r["n"])
        for r in back.groupBy("cell").agg(F.count("*").alias("n")).collect()
    )
    assert n_rows_probed == sum(per_cell.get(c, 0) for c in probe_cells)
    assert n_rows_probed < sum(per_cell.values())

    # equivalence: IVF over the partitioned layout == IVF in memory
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.srp_ivf_topk(
            back.select("vec_id", "embedding"), queries, k=5, nprobe=4
        ).collect()
    }
    want = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.srp_ivf_topk(emb, queries, k=5, nprobe=4).collect()
    }
    assert got == want


def test_dim_moments_hand_computed(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.dim: r for r in sim.dim_moments(emb).collect()}
    assert got[0].n == 2 and got[1].n == 2
    assert got[0].mean_val == 2.0 and got[1].mean_val == 3.0
    # population variance of {1,3} and {2,4} is 1
    assert got[0].var_val == 1.0 and got[1].var_val == 1.0
    # cov(dim0, dim1): E[xy] - E[x]E[y] = 7 - 6 = 1; last dim has no next
    assert got[0].cov_next == 1.0
    assert got[1].cov_next is None


def test_covariance_matrix_agrees_with_dim_moments(spark):
    emb = spark.createDataFrame(
        [(i, [float(i), float(i * i % 7), 1.0]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    cov = {(r.i, r.j): r.cov_val for r in sim.covariance_matrix(emb).collect()}
    mom = {r.dim: r for r in sim.dim_moments(emb).collect()}
    # diagonal of the full matrix = per-dim variance; first off-diagonal
    # band = cov_next; constant dim 2 has zero variance/covariance
    for d in range(3):
        assert abs(cov[(d, d)] - mom[d].var_val) < 1e-6
    for d in range(2):
        assert abs(cov[(d, d + 1)] - mom[d].cov_next) < 1e-6
    assert cov[(2, 2)] == 0.0 and cov[(0, 2)] == 0.0


def test_standardize_dead_dim_and_zscores(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 7.0]), (2, [3.0, 7.0])],
        "vec_id long, embedding array<float>",
    )
    got = {r.vec_id: r.z for r in sim.standardize(emb).collect()}
    # dim0: mean 2, std 1 -> z = -1, +1; dim1 dead (var 0) -> centered
    assert got[1][0] == -1.0 and got[2][0] == 1.0
    assert got[1][1] == 0.0 and got[2][1] == 0.0


def test_random_projection_jl_norm_preservation(spark, sf_dir):
    """JL with 16 dims preserves norms in distribution: the mean norm
    ratio over real embeddings must sit near 1 (E[ratio^2] = 1 for
    Rademacher projections)."""
    from pyspark.sql import functions as F

    emb = tables.load(spark, sf_dir, "embeddings")
    pz = sim.random_project(emb, 16, 64, keep_vec=True)
    r = pz.selectExpr(
        "sqrt(aggregate(zip_with(z, z, (a, b) -> a * b), 0.0D, "
        "(acc, v) -> acc + v)) / sqrt(aggregate(zip_with(x, x, "
        "(a, b) -> a * b), 0.0D, (acc, v) -> acc + v)) AS ratio"
    )
    row = r.agg(
        F.avg("ratio").alias("m"), F.stddev_pop("ratio").alias("sd")
    ).collect()[0]
    assert 0.9 < row.m < 1.1, row
    # 16-dim JL has sd ~ 1/sqrt(2*16) ~ 0.18; just pin an upper band
    assert row.sd < 0.3, row


def test_pq_codes_deterministic_and_bounded(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    cb = sim.pq_sample_codebook(emb)
    assert len(cb) == 4 and len(cb[0]) == 8 and len(cb[0][0]) == 16
    # codebook is a pure function of the data, not of partitioning
    cb2 = sim.pq_sample_codebook(emb.repartition(5))
    assert cb == cb2
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out1 = sim.pq_topk(emb, queries, cb, k=5).collect()
    out2 = sim.pq_topk(emb.repartition(7), queries, cb, k=5).collect()
    assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))
    assert all(r.adc_dist >= 0 for r in out1)
    assert {r.rank for r in out1} == {1, 2, 3, 4, 5}


def test_pq_identical_vector_ranks_first(spark):
    # plant an exact duplicate: its ADC distance equals the query's own
    # quantization residual, which no other vector can beat
    emb = spark.createDataFrame(
        [
            (1, [float(((i * 37) % 200) - 100) / 100.0 for i in range(64)]),
            (2, [float(((i * 37) % 200) - 100) / 100.0 for i in range(64)]),
        ]
        + [
            (
                10 + n,
                [
                    float((((i + n) * 53) % 200) - 100) / 100.0
                    for i in range(64)
                ],
            )
            for n in range(20)
        ],
        "vec_id long, embedding array<float>",
    )
    cb = sim.pq_sample_codebook(emb)
    queries = emb.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = sim.pq_topk(emb, queries, cb, k=3).collect()
    first = [r for r in top if r.rank == 1][0]
    assert first.neighbor_id == 2


def test_int8_quantization_error_bound(spark, sf_dir):
    emb = tables.load(spark, sf_dir, "embeddings")
    out = sim.int8_quantization_stats(emb).collect()
    assert len(out) == emb.count()
    # max per-element error is bounded by half a quantization step:
    # (mx-mn)/254/2; embeddings live in roughly [-1.2, 1.2] so a loose
    # universal ceiling is 3.0/254/2 ~ 0.0059 -> 5906 micro
    assert all(0 <= r.max_err_micro <= 6000 for r in out)
    assert all(r.sum_abs_err_micro >= r.max_err_micro for r in out)


def test_int8_quantization_constant_dim_is_exact(spark):
    emb = spark.createDataFrame(
        [(i, [1.5, float(i)]) for i in range(8)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in sim.int8_quantization_stats(emb).collect()}
    # dim 0 is constant -> zero error there; dim 1 hits grid points
    # i*254/7 only at i=0 and i=7, so interior vectors carry some error
    assert out[0].sum_abs_err_micro == 0
    assert out[7].sum_abs_err_micro == 0


def test_centered_norm_outliers_planted(spark):
    """Three near-centroid vectors + one far outlier: the outlier must
    rank first, and the score must equal the hand-computed n-scaled
    integer (micro-units, dev = n*x - sum)."""
    rows = [
        (1, [0.0, 0.0]),
        (2, [0.1, 0.0]),
        (3, [-0.1, 0.0]),
        (4, [10.0, 10.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = sim.centered_norm_outliers(df, top_n=2).collect()
    assert [r.vec_id for r in out] == [4, 3]
    # dim sums (micro): sx = [10_000_000, 10_000_000]; n = 4
    # vec 4 dev: 4*10_000_000 - 10_000_000 = 30_000_000 per dim
    assert int(out[0].score) == 2 * 30_000_000**2
    # vec 3 devs: 4*(-100_000) - 10_000_000 and -10_000_000
    assert int(out[1].score) == 10_400_000**2 + 10_000_000**2


@pytest.mark.slow
def test_centered_norm_outliers_partition_invariance(spark):
    rows = [(i, [float(i % 7) / 3, float((i * 13) % 5) - 2.0])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = [tuple(r) for r in sim.centered_norm_outliers(df.coalesce(1), 5).collect()]
    b = [tuple(r) for r in sim.centered_norm_outliers(df.repartition(9), 5).collect()]
    assert a == b


def test_centroid_drift_hand_computed(spark):
    """Two labels: label 0's halves share the centroid (zero drift);
    label 1's centroids differ by exactly (1, 0) -> l2sq num =
    (n_a*n_b*1e6)^2, l2_micro = 1_000_000."""
    rows = [
        (0, 0, [1.0, 2.0]), (2, 0, [3.0, 4.0]),   # even side, label 0
        (1, 0, [1.0, 2.0]), (3, 0, [3.0, 4.0]),   # odd side, identical
        (4, 1, [1.0, 0.0]), (6, 1, [3.0, 0.0]),   # even: centroid (2,0)
        (5, 1, [2.0, 0.0]), (7, 1, [4.0, 0.0]),   # odd: centroid (3,0)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r.label: r
        for r in sim.centroid_drift(df, "vec_id % 2 = 0").collect()
    }
    assert out[0].l2sq_num == 0 and out[0].l2_micro == 0
    r1 = out[1]
    assert (r1.n_a, r1.n_b) == (2, 2)
    # sa*nb - sb*na per dim0: (4e6*2 - 6e6*2) = -4e6 -> squared 16e12
    assert int(r1.l2sq_num) == (4 * 10 ** 6) ** 2
    assert r1.l2_micro == 1_000_000


def test_blas_rejects_null_corpus_vector(spark):
    """ADVICE r9: Arrow flatten() silently DROPS null list slots, which
    would score misaligned vectors against wrong neighbor ids — the
    scorer must fail loud instead."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(Exception, match="null embedding"):
        sim.cosine_topk_blas(emb, q, k=2).collect()


def test_blas_rejects_ragged_vectors(spark):
    """Ragged lengths whose total divides evenly would reshape cleanly
    into garbage; the exact-length check must reject them."""
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.0, 0.0, 1.0]), (2, [0.0, 1.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    q = spark.createDataFrame(
        [(0, [1.0, 0.0])], "query_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="ragged embedding"):
        sim.cosine_topk_blas(emb, q, k=2).collect()
