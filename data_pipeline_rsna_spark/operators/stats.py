"""Distribution-drift and information statistics (SURVEY.md §2.3 X8+).

The monitoring layer of a training-data pipeline: before a new crawl
snapshot or feature batch is allowed into the corpus, compare its
distributions against the serving/previous population (KS, PSI), audit
label/feature dependence (entropy, mutual information), and attach
uncertainty to point estimates (bootstrap). None of this exists in the
reference (its pipeline trusts its inputs); it is the part a 100 TB
deployment cannot skip.

Exactness discipline (same contract as the rest of the engine): every
statistic is exported in integer units — cents, micro-nats
(``round(ln(count) * 1e6)`` of INTEGER counts, bit-stable across
engines), or exact rational numerator/denominator pairs — so the DuckDB
oracle hashes bit-for-bit and no float summation order can flip a
result between partitionings.

Scale notes per operator are in each docstring; the common theme: every
statistic reduces to counts grouped by a bounded-cardinality key
(distinct cents values, buckets, categories, replicate ids), so each is
one map-side-combined shuffle over the fact table plus metadata-sized
joins. No unpartitioned windows anywhere — the one global prefix sum
(KS) rides the two-phase ``grouped_running_sum``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import lineage_cut

from .relational import grouped_running_sum

# Truncated-Poisson(1) CDF thresholds in 2^28 units (the range of a
# 7-hex md5 slice): P(X=k) = e^-1/k! for k<4, remainder mass on k=4.
# Decimal-derived, exactly rounded; shared verbatim by the Spark CASE
# chain and the DuckDB oracle — integer compares, no float CDF
# evaluation at query time. One 32-hex md5 digest carries FOUR
# independent 28-bit draws, so B replicates cost ceil(B/4) digests per
# row instead of B — hashing is the hot path's dominant cost and drops
# 4× (quantization error at 2^-28 is ~4e-9 per weight class, orders of
# magnitude below bootstrap noise at any n).
POISSON1_T28 = (
    98751886,
    197503771,
    246879714,
    263338361,
)


def cents(value_col: str) -> Column:
    """Dollars-double → exact integer cents (both engines round the
    same double product)."""
    return F.expr(f"CAST(round({value_col} * 100) AS BIGINT)")


def ln_micro(col: str) -> str:
    """SQL fragment: fixed-point micro-nats of an integer count —
    ``round(ln(c) * 1e6)`` as BIGINT. ln of an exactly-representable
    integer is bit-stable across engines (same technique as the bigram
    cross-entropy and Zipf-slope exports)."""
    return f"CAST(round(ln({col}) * 1000000) AS BIGINT)"


def ks_two_sample(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "value",
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    ``value_col`` distributions of two populations.

    D = max_v |F_a(v) − F_b(v)| is computed without a single float:
    per distinct cents value, the count difference is cross-multiplied
    (``ca·n_b − cb·n_a``), prefix-summed in value order, and the max
    absolute prefix is exactly ``D·n_a·n_b``. Exported as the integer
    numerator plus ``ks_ppm = num·1e6 DIV (n_a·n_b)`` (non-negative, so
    Spark's truncating DIV == floor == DuckDB ``//``).

    Scale shape: one map-side-combined shuffle to count per distinct
    cents value (bounded by value-domain cardinality, not row count), a
    1-row totals broadcast, then the two-phase global prefix sum
    (``grouped_running_sum`` with a constant key — range-partitioned,
    never a single-task window) over the |distinct values| count table.
    """
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        cents(value_col).alias("cents"),
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        (F.col(group_col) == group_b).cast("long").alias("_b"),
    )
    counts = v.groupBy("cents").agg(
        F.sum("_a").alias("ca"), F.sum("_b").alias("cb")
    )
    totals = counts.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    d = (
        counts.crossJoin(F.broadcast(totals))
        .withColumn(
            "d", F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
        )
        .withColumn("_g", F.lit(0))
    )
    cum = grouped_running_sum(d, "_g", "cents", "d", out_col="cum_d")
    return (
        cum.agg(
            F.any_value("n_a").alias("n_a"),
            F.any_value("n_b").alias("n_b"),
            F.max(F.abs(F.col("cum_d"))).alias("ks_num"),
        )
        .select(
            "n_a",
            "n_b",
            "ks_num",
            F.expr(
                "CAST(CAST(ks_num AS DECIMAL(38,0)) * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("ks_ppm"),
        )
    )


def psi_buckets(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "value",
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index contributions over equal-width value
    buckets — the standard "did the feature distribution move between
    snapshot A and snapshot B" gate (|PSI| > 0.2 ⇒ investigate).

    Buckets come from the pooled min/max (integer floor-division
    bucketing, exact); counts get Laplace +1 smoothing over the DENSE
    bucket domain so ln never sees zero (gap-filled via an exploded
    ``sequence`` — the same dense-domain idiom as ``fill_id_gaps``).
    Each bucket row exports the smoothed counts, the log-ratio in
    micro-nats, and the exact PSI-term numerator
    ``(sa·nb − sb·na)·x_micro`` — the full PSI is
    ``sum(term_num) / (na·nb·1e6)``, left rational so nothing rounds.

    One shuffle over the fact table (bucket counts, map-side combined);
    min/max and totals are 1-row broadcasts; the dense domain is
    ``n_buckets`` rows of metadata. Honest cost note: equal-width
    bucketing needs the pooled min/max BEFORE bucketing, so the fact
    table is scanned twice (a stats pass, then the bucket pass) — the
    standard price of equal-width; at 100 TB either cache the
    projected cents column between the passes or feed the bounds from
    the table's existing min/max statistics (parquet footers serve
    them via aggregate pushdown).
    """
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        cents(value_col).alias("cents"),
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        (F.col(group_col) == group_b).cast("long").alias("_b"),
    )
    bounds = v.agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    bucketed = (
        v.crossJoin(F.broadcast(bounds))
        .select(
            F.expr(
                f"CAST(least({n_buckets - 1},"
                f" (cents - mn) * {n_buckets} DIV (mx - mn + 1))"
                " AS INTEGER)"
            ).alias("bucket"),
            "_a",
            "_b",
        )
        .groupBy("bucket")
        .agg(F.sum("_a").alias("ca"), F.sum("_b").alias("cb"))
    )
    dense = (
        df.sparkSession.range(1)
        .select(
            F.explode(
                F.sequence(F.lit(0), F.lit(n_buckets - 1))
            ).alias("bucket")
        )
        .join(bucketed, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("ca", F.lit(0)).alias("ca"),
            F.coalesce("cb", F.lit(0)).alias("cb"),
        )
    )
    totals = dense.agg(
        (F.sum("ca") + n_buckets).alias("na"),
        (F.sum("cb") + n_buckets).alias("nb"),
    )
    return (
        dense.crossJoin(F.broadcast(totals))
        .withColumn(
            "x_micro",
            F.expr(
                "CAST(round((ln(ca + 1) - ln(na) - ln(cb + 1) + ln(nb))"
                " * 1000000) AS BIGINT)"
            ),
        )
        .select(
            "bucket",
            "ca",
            "cb",
            "x_micro",
            F.expr(
                "((ca + 1) * nb - (cb + 1) * na) * x_micro"
            ).alias("term_num"),
            "na",
            "nb",
        )
        .orderBy("bucket")
    )


def categorical_entropy(
    df: DataFrame, group_col: str, cat_col: str
) -> DataFrame:
    """Shannon entropy of ``cat_col`` within each ``group_col`` value,
    in exact micro-nats: H = ln n − (Σ c·ln c)/n, exported as
    ``entropy_micro = ln_micro(n) − (Σ c·ln_micro(c)) DIV n`` (every
    term non-negative, trunc == floor both engines).

    The label-balance / source-diversity audit: a collapsing entropy
    on a corpus slice means one source is taking it over. Two
    aggregations riding ONE clustering: the (group, cat) counts shuffle
    once; the per-group rollup reuses that partitioning on its prefix.
    """
    c = df.groupBy(group_col, cat_col).agg(F.count("*").alias("c"))
    return (
        c.groupBy(group_col)
        .agg(
            F.sum("c").alias("n"),
            F.sum(F.expr(f"c * {ln_micro('c')}")).alias("s"),
        )
        .select(
            group_col,
            "n",
            F.expr(
                f"CAST({ln_micro('n')} - s DIV n AS BIGINT)"
            ).alias("entropy_micro"),
        )
    )


def mutual_information(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Mutual information between two categorical columns, as the exact
    integer ``mi_sum_micro = Σ c_ab·(L(c_ab) + L(n) − L(c_a) − L(c_b))``
    with L = micro-nat log of an integer count; MI in nats is
    ``mi_sum_micro / (n·1e6)``, left rational (the sum may round to a
    hair below zero for independent columns, and a truncating division
    on a negative numerator differs between engines — so no quotient is
    exported).

    The leakage detector: MI(feature, label) near H(label) means the
    feature IS the label. One (a,b)-count shuffle over the fact table;
    the marginals are re-aggregations of that (tiny) contingency table,
    joined back broadcast.
    """
    cab = df.groupBy(col_a, col_b).agg(F.count("*").alias("cab"))
    ca = cab.groupBy(col_a).agg(F.sum("cab").alias("ca"))
    cb = cab.groupBy(col_b).agg(F.sum("cab").alias("cb"))
    n = cab.agg(F.sum("cab").alias("n"))
    return (
        cab.join(F.broadcast(ca), col_a)
        .join(F.broadcast(cb), col_b)
        .crossJoin(F.broadcast(n))
        .agg(
            F.any_value("n").alias("n"),
            F.sum(
                F.expr(
                    f"cab * ({ln_micro('cab')} + {ln_micro('n')}"
                    f" - {ln_micro('ca')} - {ln_micro('cb')})"
                )
            ).alias("mi_sum_micro"),
        )
    )


def bootstrap_means(
    df: DataFrame,
    key_expr: Column,
    value_col: str = "value",
    n_replicates: int = 32,
    salt: str = "boot",
    impl: str = "arrow",
) -> DataFrame:
    """Poisson bootstrap of the mean — B deterministic resample
    replicates computed in ONE pass, the only bootstrap that works on
    data too large to index: instead of drawing n rows with replacement
    (impossible distributed), each row independently contributes
    Poisson(1)-distributed weight to each replicate, which converges to
    the classical bootstrap and needs no global state.

    The weight is a pure function of (row key, replicate, salt): the
    replicate's 7-hex (28-bit) slice of ``md5(key|salt|group)`` —
    group = replicate DIV 4, slice = replicate MOD 4 — compared against
    precomputed truncated-Poisson(1) CDF thresholds in 2^28 units
    (``POISSON1_T28``). Reproducible in any engine with md5, identical
    under retries, repartitioning, and subsetting. One digest carries
    FOUR replicate draws (¼ the hashing of a digest per (row,
    replicate)), and the draw is compared AS the hex substring —
    fixed-width lowercase hex orders lexicographically exactly as the
    integer it spells, so no radix parse runs per draw. Returns one
    row per replicate: (b, n_eff, mean_cents); the spread of the B
    means IS the sampling distribution (quantile it driver-side or in
    a follow-up B-row agg).

    Cost: no ×B row explosion exists anywhere — rows fan out only
    ×ceil(B/4) (one per digest group), each feeding eight accumulators
    (Σw, Σw·cents per slice) in one map-side-combined aggregate whose
    shuffle carries ceil(B/4)×partitions partial rows; the B-row
    result is an unpivot of that. B is the knob: 32 replicates ≈ ±1
    decile accuracy on the CI endpoints, cheap to raise. Measured
    lineitem × 32 replicates on a 32-core box: sf0.1 (600 k rows)
    16.4 s (r10 form) → 2.1 s; sf10 (60 M rows) 60 s for this
    expression form, whose wall is JVM md5-expression throughput —
    which is why ``impl='arrow'`` (the default) runs the rounds as
    numpy vector ops instead: 19 s at sf10, boundary-bound (see
    :func:`_bootstrap_means_arrow`).  This form stays as the
    bit-identical differential twin and the no-Python fallback.
    """
    # fixed-width lowercase hex compares lexicographically identically
    # to numerically ('0'-'9' < 'a'-'f'), so the draw never leaves
    # string form: no conv() radix parse per (row, replicate) — the
    # draw count is B×n, 4× the digest count, and dropping the parse
    # is worth ~30% end-to-end (measured sf0.1: 3.0 → 2.1 s)
    if impl not in ("arrow", "sql"):
        raise ValueError(f"bootstrap_means impl must be arrow|sql, got {impl!r}")
    if "'" in salt or "\\" in salt:
        # the SQL twin interpolates the salt into expression strings;
        # a quote/backslash would silently change (or break) the hash
        # domain there while the arrow path accepted it — refuse the
        # divergence up front for both impls
        raise ValueError(
            "bootstrap_means salt must not contain quotes/backslashes"
        )
    h0, h1, h2, h3 = (format(t, "07x") for t in POISSON1_T28)
    groups = (n_replicates + 3) // 4
    base = df.select(
        key_expr.cast("string").alias("_k"),
        cents(value_col).alias("cents"),
    )
    # The hash stage is CPU-bound at ceil(B/4) digests per input row
    # and, unwidened, pipelines inside the scan's few splits (sf0.1:
    # 3 splits on 32 cores — 16.4 s). Widen with the DATA (labels
    # idiom): half the cores as the floor, one task per ~32 MB of
    # (input × digest-groups) work, capped at cluster parallelism —
    # and only when the input is narrower than that (a 100 TB scan is
    # already wider than the cluster; re-shuffling it would be the
    # bottleneck, not the fix). The shuffle moves only (key, cents).
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    size = int(
        base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    )
    want = max(cores // 2, min(cores, size * groups // (32 << 20)))
    if base.rdd.getNumPartitions() < want:
        base = base.repartition(want)
    if impl == "arrow":
        return _bootstrap_means_arrow(base, n_replicates, salt)
    # one md5 per (row, group): explode only the ×ceil(B/4) group
    # index (ints — never an array of structs), bind the digest ONCE
    # per row via a single-element-array lambda (a bare alias would be
    # inlined 8× by the CASE chains below), and slice the four weights
    # into one small int array. The ×B row explosion never exists:
    # each (row, group) row feeds EIGHT accumulators (Σw, Σw·cents per
    # slice), so the aggregate sees ceil(B/4)·n rows and emits
    # ceil(B/4) rows that unpivot to B. Measured sf10 (60 M rows):
    # 87 s → 60 s vs the flatten-struct explode form — the per-row
    # array-of-struct churn and the B×n generate were ~30% at scale.
    case = (
        f"CASE WHEN s < '{h0}' THEN 0 WHEN s < '{h1}' THEN 1 "
        f"WHEN s < '{h2}' THEN 2 WHEN s < '{h3}' THEN 3 ELSE 4 END"
    ).replace("s <", "substr(d, j * 7 + 1, 7) <")
    ws = (
        "transform(array(md5(concat_ws('|', _k, '"
        + salt
        + "', CAST(_g AS STRING)))), "
        "d -> transform(sequence(0, 3), j -> " + case + "))[0] AS _ws"
    )
    rep = base.select(
        "_k",
        "cents",
        F.expr(f"explode(sequence(0, {groups - 1}))").alias("_g"),
    ).selectExpr("cents", "_g", ws)
    aggs = []
    for j in range(4):
        aggs.append(
            F.sum(F.expr(f"element_at(_ws, {j + 1})")).alias(f"n{j}")
        )
        aggs.append(
            F.sum(F.expr(f"element_at(_ws, {j + 1}) * cents")).alias(
                f"s{j}"
            )
        )
    stacked = (
        rep.groupBy("_g")
        .agg(*aggs)
        .selectExpr(
            "_g",
            "stack(4, 0, n0, s0, 1, n1, s1, 2, n2, s2, 3, n3, s3) "
            "AS (_j, n_eff, sum_cents)",
        )
    )
    return (
        stacked.selectExpr(
            "_g * 4 + _j AS b",
            "n_eff",
            "CAST(sum_cents DIV n_eff AS BIGINT) AS mean_cents",
        )
        .filter(F.col("b") < n_replicates)
    )


def _bootstrap_means_arrow(
    base: DataFrame, n_replicates: int, salt: str
) -> DataFrame:
    """The scale path of :func:`bootstrap_means`: one ``mapInArrow``
    pass runs the md5 rounds themselves as numpy uint32 vector ops
    (``functions.md5np``) and folds each task's rows into B
    accumulator pairs — the shuffle carries ≤ B rows per task and the
    JVM never evaluates a hash expression.  Values are IDENTICAL to
    the SQL-expression form (``impl='sql'``): same md5, same 7-hex
    28-bit slices, same thresholds, integer sums in the same
    associative order class — pinned by the twin test and by the
    unchanged DuckDB oracle.  Keys longer than one md5 block (or null
    — ``concat_ws`` skips nulls, reproduced here) take an exact
    per-row hashlib fallback, so the vector path never constrains the
    domain.  Measured sf10 (60 M rows × 32 replicates, 32 cores):
    60 s (expression form) → 19 s, against the DuckDB oracle's 8.7 s
    C-md5 run of the identical plan.  The residual is the Arrow
    boundary itself, not hashing: an IDENTITY mapInArrow over the
    same (key, cents) projection measures 17 s on this box (6.5 s for
    two long columns — string keys roughly double it), so the hash
    work rides nearly free and further cuts mean moving fewer bytes
    across the boundary, not faster md5."""
    groups = (n_replicates + 3) // 4
    B = n_replicates
    salt_b = salt.encode()
    t28_list = list(POISSON1_T28)

    def _partials(batches):
        import hashlib

        import numpy as np
        import pyarrow as pa

        from ..functions import md5np

        t28 = np.array(t28_list, dtype=np.int64)
        max_sfx = 2 + len(salt_b) + len(str(groups - 1))
        acc_n = np.zeros(B, dtype=np.int64)
        acc_s = np.zeros(B, dtype=np.int64)
        seen = False
        nn_cents = 0  # rows with NON-null cents (see yield below)
        pend: list = []
        pend_rows = 0

        def _fallback_row(key_bytes, ci):
            # exact hashlib twin of the vector path for oversize/null
            # keys; null key reproduces concat_ws null-skipping
            for g in range(groups):
                sfx = b"|" + salt_b + b"|" + str(g).encode()
                msg = (
                    salt_b + b"|" + str(g).encode()
                    if key_bytes is None
                    else key_bytes + sfx
                )
                hx = hashlib.md5(msg).hexdigest()
                for j in range(4):
                    b_ix = g * 4 + j
                    if b_ix >= B:
                        break
                    u = int(hx[j * 7 : j * 7 + 7], 16)
                    w = int(np.searchsorted(t28, u, side="right"))
                    acc_n[b_ix] += w
                    acc_s[b_ix] += w * ci

        def _process():
            nonlocal pend, pend_rows, seen, nn_cents
            if not pend_rows:
                return
            seen = True
            tbl = pa.Table.from_batches(pend).combine_chunks()
            pend = []
            pend_rows = 0
            karr = tbl.column(0).chunk(0)
            carr = tbl.column(1).chunk(0)
            n = len(karr)
            nn_cents += n - carr.null_count
            if carr.null_count:
                # null cents contribute weight to n_eff but 0 to the
                # sum — exactly sum()'s null-skipping in the SQL form
                cents = carr.fill_null(0).to_numpy(
                    zero_copy_only=False
                ).astype(np.int64, copy=False)
            else:
                cents = carr.to_numpy(zero_copy_only=True)
            off_dtype = (
                np.int64
                if pa.types.is_large_string(karr.type)
                else np.int32
            )
            offs = np.frombuffer(karr.buffers()[1], dtype=off_dtype)[
                karr.offset : karr.offset + n + 1
            ]
            data_all = np.frombuffer(karr.buffers()[2], dtype=np.uint8)
            starts = offs[:-1].astype(np.int64)
            lens = (offs[1:] - offs[:-1]).astype(np.int64)
            null_mask = (
                karr.is_null().to_numpy(zero_copy_only=False)
                if karr.null_count
                else None
            )
            slow = lens + max_sfx > md5np.MAX_SINGLE_BLOCK
            if null_mask is not None:
                slow |= null_mask
            if slow.any():
                for i in np.nonzero(slow)[0]:
                    kb = (
                        None
                        if null_mask is not None and null_mask[i]
                        else data_all[
                            starts[i] : starts[i] + lens[i]
                        ].tobytes()
                    )
                    _fallback_row(kb, int(cents[i]))
                fast_ix = np.nonzero(~slow)[0]
                starts_f = starts[fast_ix]
                lens_f = lens[fast_ix]
                cents_f = cents[fast_ix]
            else:
                starts_f, lens_f, cents_f = starts, lens, cents
            if not len(lens_f):
                return
            blocks = md5np.pack_single_blocks(data_all, starts_f, lens_f)
            for g in range(groups):
                md5np.append_suffix(
                    blocks, lens_f, b"|" + salt_b + b"|" + str(g).encode()
                )
                draws = md5np.u28_draws_from_words(
                    *md5np.md5_words(blocks)
                )
                for j in range(4):
                    b_ix = g * 4 + j
                    if b_ix >= B:
                        break
                    w = np.searchsorted(t28, draws[:, j], side="right")
                    acc_n[b_ix] += int(w.sum())
                    acc_s[b_ix] += int(np.dot(w, cents_f))

        for batch in batches:
            pend.append(batch)
            pend_rows += batch.num_rows
            # the session Arrow cap (256 rows, sized for image
            # payloads) would fragment the vector work — rebatch
            if pend_rows >= (1 << 16):
                _process()
        _process()
        if seen:
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.arange(B, dtype=np.int32)),
                    pa.array(acc_n),
                    pa.array(acc_s),
                    pa.array(
                        np.full(B, nn_cents, dtype=np.int64)
                    ),
                ],
                names=["b", "n_eff", "sum_cents", "n_cents"],
            )

    out = base.mapInArrow(
        _partials, schema="b int, n_eff long, sum_cents long, n_cents long"
    )
    # sum(w*cents) in the SQL twin is NULL exactly when NO row has a
    # non-null cents (sum() over an all-NULL term list); fill_null(0)
    # in the vector path would otherwise turn that into mean 0 —
    # n_cents carries the non-null row count so the degenerate case
    # stays value-identical to the SQL form (r11 review).
    return (
        out.groupBy("b")
        .agg(
            F.sum("n_eff").alias("n_eff"),
            F.sum("sum_cents").alias("sum_cents"),
            F.sum("n_cents").alias("n_cents"),
        )
        .selectExpr(
            "b",
            "n_eff",
            "CAST(CASE WHEN n_cents = 0 THEN NULL "
            "ELSE sum_cents DIV n_eff END AS BIGINT) AS mean_cents",
        )
    )


def seasonal_anomalies(
    events: DataFrame,
    value_col: str = "value",
    k_mads: int = 3,
) -> DataFrame:
    """Seasonal robust-outlier counts: per (event_type, hour-of-day)
    median/MAD baseline, then count the rows where
    |x − median| > k·MAD — the "is this hour's traffic shaped like this
    hour usually is" monitor, robust to the outliers it hunts.

    Exactness: medians in doubled cents (``2·median`` is integral for
    both parities), MAD in quadrupled cents, and the flag compares
    ``2·|2x − med2| > k·mad4`` — all integers, no float thresholds.
    Same co-partitioned two-pass shape as ``events_median_mad``: the
    (type, hour) clustering is established once and both the baseline
    aggregation and the flag re-aggregation ride it.
    """
    v = events.select(
        "event_type",
        F.hour("ts").alias("hod"),
        cents(value_col).alias("c"),
    )
    base = v.groupBy("event_type", "hod").agg(
        F.expr("CAST(2 * percentile(c, 0.5) AS BIGINT)").alias("med2")
    )
    scored = v.join(base, ["event_type", "hod"])
    mad = scored.groupBy("event_type", "hod").agg(
        F.any_value("med2").alias("med2"),
        F.expr(
            "CAST(2 * percentile(abs(2 * c - med2), 0.5) AS BIGINT)"
        ).alias("mad4"),
    )
    return (
        scored.join(
            mad.select("event_type", "hod", "mad4"), ["event_type", "hod"]
        )
        .groupBy("event_type", "hod")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                (
                    2 * F.abs(2 * F.col("c") - F.col("med2"))
                    > k_mads * F.col("mad4")
                ).cast("long")
            ).alias("n_anomalies"),
        )
    )


def chi2_categorical(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    cat_col: str,
) -> DataFrame:
    """Chi-squared drift test for a CATEGORICAL column between two
    populations (the companion of the numeric KS): per category,
    observed-vs-expected contributions for both populations, with
    chi² = Σ cells (o − e)²/e and e = row_total·col_total/n.

    Number discipline: counts are exact BIGINTs; each cell contribution
    is exported in micro units through one fixed IEEE op chain
    (``floor(1e6 · d² / (n·rt·ct))`` with d = o·n − rt·ct evaluated in
    double, same literal order both engines — the Wilson-bound
    technique), so the result is bit-identical cross-engine AND immune
    to bigint overflow at petabyte row counts (d² can pass 2^63; a
    double carries it with relative error, which micro-unit flooring
    absorbs identically on both sides).

    One (category)-keyed map-side-combined shuffle; totals are a 1-row
    broadcast. The contingency table is |categories| rows — metadata.
    """
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(cat_col).alias("cat"),
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        (F.col(group_col) == group_b).cast("long").alias("_b"),
    )
    cells = v.groupBy("cat").agg(
        F.sum("_a").alias("oa"), F.sum("_b").alias("ob")
    )
    totals = cells.agg(
        F.sum("oa").alias("na"), F.sum("ob").alias("nb")
    )

    def contrib(o: str, ct: str) -> str:
        # d and the denominator in ONE double op chain, identical text
        # in the oracle; rt = oa + ob, n = na + nb
        return (
            f"CAST(floor(1000000.0 * "
            f"(CAST({o} AS DOUBLE) * (na + nb)"
            f" - CAST(oa + ob AS DOUBLE) * {ct})"
            f" * (CAST({o} AS DOUBLE) * (na + nb)"
            f" - CAST(oa + ob AS DOUBLE) * {ct})"
            f" / (CAST(na + nb AS DOUBLE) * (oa + ob) * {ct}))"
            " AS BIGINT)"
        )

    return (
        cells.crossJoin(F.broadcast(totals))
        .selectExpr(
            "cat",
            "oa",
            "ob",
            f"{contrib('oa', 'na')} AS chi2_a_micro",
            f"{contrib('ob', 'nb')} AS chi2_b_micro",
        )
        .orderBy("cat")
    )


def wasserstein_1d(
    df: DataFrame,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "value",
    partitions: int | None = None,
) -> DataFrame:
    """Exact 1-D Wasserstein (earth mover's) distance between two
    empirical distributions — the drift metric that, unlike KS, weighs
    HOW FAR the mass moved, not just the worst CDF gap:
    W₁ = ∫|F_a − F_b| dv = Σ_v |cum_d(v)|·gap(v) / (n_a·n_b) with
    cum_d the integer cross-multiplied CDF difference and gap the
    distance to the next distinct value. Exported as the exact integer
    numerator (micro-cent quotient alongside).

    The prefix sum AND the next-value lead are computed in one
    two-phase pass (the ``grouped_running_sum`` idiom): range-partition
    by value, one local window per partition serves both ``sum`` and
    ``lead``, and the two cross-partition fixups — earlier-partition
    subtotals, next-partition first value — are both |partitions|-row
    metadata broadcasts off the SAME eagerly-pinned layout. No
    unpartitioned window at any scale.
    """
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        cents(value_col).alias("cents"),
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        (F.col(group_col) == group_b).cast("long").alias("_b"),
    )
    counts = v.groupBy("cents").agg(
        F.sum("_a").alias("ca"), F.sum("_b").alias("cb")
    )
    totals = counts.agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    d = counts.crossJoin(F.broadcast(totals)).withColumn(
        "d", F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
    )
    n = partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    from pyspark.sql import Window

    part = (
        d.repartitionByRange(int(n), F.col("cents"))
        .sortWithinPartitions("cents")
        .withColumn("_pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    local_w = Window.partitionBy("_pid").orderBy("cents")
    local = part.withColumn(
        "_lcum",
        F.sum("d").over(
            local_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    ).withColumn("_llead", F.lead("cents").over(local_w))
    # one metadata row per partition: its running-sum subtotal and its
    # first value (the lead fill for the previous partition's last row)
    pmeta = local.groupBy("_pid").agg(
        F.max_by("_lcum", F.col("cents")).alias("_sub"),
        F.min("cents").alias("_first"),
    )
    earlier = pmeta.select(
        F.col("_pid").alias("_pid2"), F.col("_sub").alias("_sub2")
    )
    offsets = (
        pmeta.join(earlier, F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid", "_first")
        .agg(F.coalesce(F.sum("_sub2"), F.lit(0)).alias("_offset"))
    )
    nxt = pmeta.select((F.col("_pid") - 1).alias("_pid"),
                       F.col("_first").alias("_next_first"))
    fixed = (
        local.join(F.broadcast(offsets.drop("_first")), "_pid")
        .join(F.broadcast(nxt), "_pid", "left")
        .select(
            "n_a",
            "n_b",
            (F.col("_lcum") + F.col("_offset")).alias("cum_d"),
            (F.coalesce("_llead", "_next_first") - F.col("cents")).alias(
                "gap"
            ),
        )
    )
    # the globally-last row has no successor: gap NULL, and its cum_d
    # is the total Σd = n_a·n_b − n_b·n_a = 0 anyway — excluded. The
    # totals come from the 1-row totals subtree, NOT from any_value
    # over the gap rows: with a single distinct value there ARE no gap
    # rows (both samples sit on one point, W1 = 0) and an aggregate
    # over the empty set would return NULLs.
    num = (
        fixed.filter(F.col("gap").isNotNull())
        .agg(
            F.coalesce(
                F.sum(F.abs(F.col("cum_d")) * F.col("gap")), F.lit(0)
            ).alias("w1_num")
        )
    )
    return (
        num.crossJoin(F.broadcast(totals))
        .select(
            "n_a",
            "n_b",
            "w1_num",
            F.expr(
                "CAST(CAST(w1_num AS DECIMAL(38,0)) * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("w1_micro_cents"),
        )
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple — the
    data-governance gate a training corpus with people-derived rows
    must pass before release: every quasi-identifier combination must
    be shared by ≥ k rows, or those rows re-identify.

    Returns one summary row: equivalence-class counts, how many
    classes/rows fall below k (the suppression set), and the minimum
    class size (the worst case the release inherits). One
    map-side-combined shuffle on the quasi tuple; the class-size
    histogram is re-aggregated from the (bounded) class table.
    """
    classes = df.groupBy(*quasi_cols).agg(F.count("*").alias("c"))
    return classes.agg(
        F.count("*").alias("n_classes"),
        F.sum("c").alias("n_rows"),
        F.sum((F.col("c") < k).cast("long")).alias("classes_below_k"),
        F.sum(F.when(F.col("c") < k, F.col("c")).otherwise(0)).alias(
            "rows_below_k"
        ),
        F.min("c").alias("min_class_size"),
    )


def column_profiles(
    df: DataFrame,
    group_col: str,
    cols: dict[str, str],
) -> DataFrame:
    """Per-group column profiles — the schema-drift detector: for each
    (group, column), null count/ppm, distinct count, and min/max as
    canonical strings. Diffing the profile rows of two snapshots is
    how a pipeline notices a column silently going all-NULL, a
    cardinality explosion, or a domain shift BEFORE a model does.

    ``cols`` maps output column names to SQL expressions projecting a
    comparable scalar (cast money to cents, dates to ISO — the caller
    owns canonicalization). All profiles compute in ONE aggregation
    over one shuffle: the multiple count(DISTINCT expr)s plan as a
    single Expand (rows × |cols| before map-side combine — the
    standard multi-distinct shape), then ``stack`` unpivots the wide
    result into (group, col_name) rows. Profile output is
    |groups|·|cols| rows — metadata.
    """
    aggs = []
    for name, expr in cols.items():
        aggs += [
            F.expr(
                f"sum(CASE WHEN ({expr}) IS NULL THEN 1 ELSE 0 END)"
            ).alias(f"_null_{name}"),
            F.expr(f"count(DISTINCT {expr})").alias(f"_nd_{name}"),
            F.expr(f"CAST(min({expr}) AS STRING)").alias(f"_mn_{name}"),
            F.expr(f"CAST(max({expr}) AS STRING)").alias(f"_mx_{name}"),
        ]
    g = df.groupBy(group_col).agg(F.count("*").alias("_n"), *aggs)
    stack_args = ", ".join(
        f"'{name}', _null_{name}, _nd_{name}, _mn_{name}, _mx_{name}"
        for name in cols
    )
    return g.selectExpr(
        group_col,
        "_n AS n_rows",
        f"stack({len(cols)}, {stack_args}) "
        "AS (col_name, n_null, n_distinct, min_str, max_str)",
    ).selectExpr(
        group_col,
        "col_name",
        "n_rows",
        "n_null",
        "CAST(n_null * 1000000 DIV n_rows AS BIGINT) AS null_ppm",
        "n_distinct",
        "min_str",
        "max_str",
    )


def ks_two_sample_by_group(
    df: DataFrame,
    seg_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
    value_col: str = "value",
) -> DataFrame:
    """Per-segment exact KS — ``ks_two_sample`` computed independently
    for every value of ``seg_col`` in ONE pass: the drift gate sliced
    by data source / cohort, which is where drift actually starts (a
    global KS can stay flat while one source's distribution walks off).

    Same integer machinery; the prefix sum keys on the segment, which
    is exactly ``grouped_running_sum``'s contract — a segment spans
    many partitions, no segment pins a task. Totals are per-segment
    rows (metadata) joined back broadcast. Segments where either side
    is empty report NULL ks_ppm (undefined), counts intact.
    """
    v = df.filter(F.col(group_col).isin(group_a, group_b)).select(
        F.col(seg_col).alias("seg"),
        cents(value_col).alias("cents"),
        (F.col(group_col) == group_a).cast("long").alias("_a"),
        (F.col(group_col) == group_b).cast("long").alias("_b"),
    )
    counts = v.groupBy("seg", "cents").agg(
        F.sum("_a").alias("ca"), F.sum("_b").alias("cb")
    )
    totals = counts.groupBy("seg").agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    d = counts.join(F.broadcast(totals), "seg").withColumn(
        "d", F.col("ca") * F.col("n_b") - F.col("cb") * F.col("n_a")
    )
    cum = grouped_running_sum(d, "seg", "cents", "d", out_col="cum_d")
    return (
        cum.groupBy("seg")
        .agg(
            F.any_value("n_a").alias("n_a"),
            F.any_value("n_b").alias("n_b"),
            F.max(F.abs(F.col("cum_d"))).alias("ks_num"),
        )
        .selectExpr(
            "seg",
            "n_a",
            "n_b",
            "ks_num",
            "CASE WHEN n_a > 0 AND n_b > 0 THEN "
            "CAST(CAST(ks_num AS DECIMAL(38,0)) * 1000000 DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT) "
            "END AS ks_ppm",
        )
    )


def cohens_kappa(
    df: DataFrame,
    a_col: str,
    b_col: str,
) -> DataFrame:
    """Cohen's kappa between two raters over the same items — the
    inter-annotator-agreement gate for labeled training data (and for
    pairs of heuristic quality filters: high kappa means the second
    filter adds no information; near-zero means at least one is
    noise). Categories are whatever values the two columns take; the
    label spaces need not be declared up front.

    kappa = (po - pe) / (1 - pe) ships as the exact rational pair
    (kappa_num, kappa_den) = (n·agree − Σ_c ma(c)·mb(c),
    n² − Σ_c ma(c)·mb(c)) in decimal(38,0) — no float division, so
    the oracle hashes bit-for-bit and negative kappa (worse than
    chance) keeps its sign exactly. po additionally exports as ppm
    (both engines truncate non-negative integer division alike).

    Scale: one map-side-combined shuffle over the fact table onto the
    (|A-categories| × |B-categories|) confusion-cell table; marginals
    and the pe sum are re-aggregations of those metadata-sized cells.
    """
    cells = (
        df.select(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .groupBy("_a", "_b")
        .agg(F.count("*").alias("c"))
    )
    ma = cells.groupBy("_a").agg(F.sum("c").alias("na"))
    mb = cells.groupBy("_b").agg(F.sum("c").alias("nb"))
    pe_num = (
        ma.join(mb, F.col("_a") == F.col("_b"))
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("na").cast("decimal(38,0)") * F.col("nb"))
                ),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("pe_num")
        )
    )
    totals = cells.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("_a") == F.col("_b"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("agree"),
    )
    return totals.crossJoin(pe_num).selectExpr(
        "n",
        "agree",
        "CAST(agree * 1000000 DIV n AS BIGINT) AS po_ppm",
        # decimal(38,0) arithmetic, BIGINT output: kappa_num/den are
        # <= n² (n = co-annotated items, ~3e6 at sf0.1 -> ~1e13); an
        # integral output crosses the engine/driver boundary as a plain
        # int, where DECIMAL(38,0) fetches as python Decimal in some
        # DuckDB versions and int in others (r12 fix)
        "CAST(CAST(n AS DECIMAL(38,0)) * agree - pe_num "
        "AS BIGINT) AS kappa_num",
        "CAST(CAST(n AS DECIMAL(38,0)) * n - pe_num "
        "AS BIGINT) AS kappa_den",
    )


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
) -> DataFrame:
    """l-diversity audit — k-anonymity's sibling: every quasi-identifier
    equivalence class must contain ≥ l DISTINCT values of the sensitive
    attribute, or membership in the class reveals the sensitive value
    even when the class itself is large (the homogeneity attack
    k-anonymity misses).

    Returns one summary row mirroring ``k_anonymity``: class counts,
    classes/rows below l, and the minimum diversity observed. Two
    map-side-combined shuffles, both onto bounded keys: (quasi tuple,
    sensitive) for the distinct census, then the quasi tuple.
    """
    per_class = (
        df.groupBy(*quasi_cols, sensitive_col)
        .agg(F.count("*").alias("c"))
        .groupBy(*quasi_cols)
        .agg(
            F.count("*").alias("n_sensitive"),
            F.sum("c").alias("n_rows"),
        )
    )
    return per_class.agg(
        F.count("*").alias("n_classes"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
        F.sum((F.col("n_sensitive") < l).cast("long")).alias(
            "classes_below_l"
        ),
        F.sum(F.when(F.col("n_sensitive") < l, F.col("n_rows")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_l"),
        F.min("n_sensitive").cast("bigint").alias("min_diversity"),
    )


def cusum_changepoint(
    series: DataFrame,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """CUSUM change-point locator over an ordered integer series (one
    row per period, e.g. hourly event counts): the period t maximizing
    |Σ_{i≤t} (x_i − mean)| — where the cumulative deviation from the
    global mean peaks — is the classic single-change-point estimate,
    and the peak height is the shift evidence a monitor alarms on.

    Exactness: the deviation is scaled by T (c_t = Σ T·x_i − t·S,
    = T × the unscaled CUSUM), keeping every intermediate an exact
    integer — no mean division anywhere. Output: T, S, the argmax
    period (earliest on ties), and max |c_t| (callers divide by T to
    read it in value units).

    Scale: the series is an already-aggregated bounded table, but the
    prefix sum still rides the two-phase ``grouped_running_sum`` (with
    a constant key) rather than an unpartitioned window, per the
    engine-wide contract — the same code path serves a series of any
    length. Totals join back broadcast.
    """
    v = series.select(
        F.lit(0).alias("_g"),
        F.col(order_col).alias("_t"),
        F.col(value_col).cast("bigint").alias("_x"),
    )
    totals = v.agg(
        F.count("*").cast("bigint").alias("t_periods"),
        F.sum("_x").cast("bigint").alias("s_total"),
    )
    d = v.crossJoin(F.broadcast(totals)).withColumn(
        "_d", F.col("t_periods") * F.col("_x") - F.col("s_total")
    )
    cum = grouped_running_sum(d, "_g", "_t", "_d", out_col="_c")
    return cum.groupBy("_g").agg(
        F.any_value("t_periods").alias("t_periods"),
        F.any_value("s_total").alias("s_total"),
        F.min_by(
            "_t", F.struct((-F.abs(F.col("_c"))).alias("k"), F.col("_t"))
        ).alias("changepoint_at"),
        F.max(F.abs(F.col("_c"))).cast("bigint").alias("cusum_max_scaled"),
    ).drop("_g").select(
        "t_periods", "s_total", "changepoint_at", "cusum_max_scaled"
    )


def srm_check(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    expected_weights: dict[str, int],
) -> DataFrame:
    """Sample-ratio-mismatch audit for an experiment assignment: per
    arm, the distinct-unit count observed vs the design weight, plus
    the arm's chi-squared contribution — the first thing to check
    before reading ANY experiment result, because a biased assignment
    (bot filtering hitting one arm, a bucketing bug) invalidates every
    downstream metric silently.

    chi² term for arm i (weights w_i summing to W, n total units):
    (W·o_i − w_i·n)² / (W·w_i·n), shipped in integer micro-units with
    both engines truncating alike (all terms non-negative). Arms the
    design expects but the data never shows still appear (o = 0) —
    that IS the worst mismatch.

    Scale: distinct units per arm is one exact distinct aggregation
    (two map-side-combined shuffles on (arm, unit) then arm); the arm
    table is design-sized and the expected weights join broadcast.
    """
    spark = df.sparkSession
    w_total = sum(expected_weights.values())
    design = spark.createDataFrame(
        [(a, int(w)) for a, w in sorted(expected_weights.items())],
        "arm string, w long",
    )
    observed = (
        df.select(
            F.col(arm_col).alias("arm"), F.col(unit_col).alias("_u")
        )
        .distinct()
        .groupBy("arm")
        .agg(F.count("*").alias("o"))
    )
    totals = observed.agg(F.sum("o").cast("bigint").alias("n"))
    return (
        design.join(observed, "arm", "left")
        .withColumn("o", F.coalesce(F.col("o"), F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(totals))
        .selectExpr(
            "arm",
            "o AS n_units",
            f"CAST(w * 1000000 DIV {w_total} AS BIGINT) AS expected_ppm",
            "CAST(o * 1000000 DIV n AS BIGINT) AS observed_ppm",
            f"CAST(CAST({w_total} * o - w * n AS DECIMAL(38,0)) "
            f"* CAST({w_total} * o - w * n AS DECIMAL(38,0)) * 1000000 "
            f"DIV CAST({w_total} AS DECIMAL(38,0)) DIV w DIV n "
            "AS BIGINT) AS chi2_term_micro",
        )
    )


def cuped_adjusted_means(
    df: DataFrame,
    unit_col: str,
    arm_col: str,
    pre_col: str,
    post_col: str,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al., WSDM'13
    — public): per arm, the raw post-period mean AND the covariate-
    adjusted mean  Ŷ_a = mean(Y_a) − θ·(mean(X_a) − mean(X)),
    θ = cov(X, Y) / var(X) pooled over all units. The pre-period
    covariate X soaks up between-user variance, shrinking the CI of
    the treatment effect without touching its expectation (θ is
    assignment-independent because X predates assignment).

    Exactness: per-unit X/Y must arrive as integer units (cents).
    θ ships as theta_ppm = (1e6·cov_num) div var_num over exact
    decimal(38,0) sufficient statistics (cov_num = n·Σxy − Σx·Σy,
    var_num = n·Σxx − Σx², both mergeable — incremental-view-
    friendly); the adjustment is pure bigint fixed-point arithmetic.
    Spark's ``div`` and DuckDB's hugeint ``//`` BOTH truncate toward
    zero, so negative covariances stay bit-identical cross-engine.

    Scale: one map-side-combined per-unit aggregation (shuffle =
    |units|), then a 1-row global moment aggregate broadcast back to
    the |arms|-row per-arm table — no data-sized move after the first.
    """
    per_unit = df.groupBy(
        F.col(unit_col).alias("_u"), F.col(arm_col).alias("arm")
    ).agg(
        F.coalesce(F.sum(pre_col), F.lit(0)).cast("bigint").alias("x"),
        F.coalesce(F.sum(post_col), F.lit(0)).cast("bigint").alias("y"),
    )
    d38 = "decimal(38,0)"
    glob = per_unit.agg(
        F.count("*").cast(d38).alias("n_g"),
        F.sum("x").cast(d38).alias("sx_g"),
        F.sum("y").cast(d38).alias("sy_g"),
        F.sum(F.col("x").cast(d38) * F.col("y").cast(d38)).alias("sxy_g"),
        F.sum(F.col("x").cast(d38) * F.col("x").cast(d38)).alias("sxx_g"),
    ).selectExpr(
        "CAST(n_g AS BIGINT) AS n_g",
        "CAST(sx_g AS BIGINT) AS sx_g",
        # nullif guards the degenerate case of a covariate constant
        # across all units (var_num = 0): theta is undefined, so it —
        # and the adjusted means downstream — surface as NULL rather
        # than a division error (round-7 fix, mirroring the oracle and
        # the sibling neyman_allocation / diff_in_diff guards)
        "CAST((1000000 * (n_g * sxy_g - sx_g * sy_g)) "
        "div nullif(n_g * sxx_g - sx_g * sx_g, 0) AS BIGINT) AS theta_ppm",
    )
    arms = per_unit.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_units"),
        F.sum("x").cast("bigint").alias("sum_x"),
        F.sum("y").cast("bigint").alias("sum_y"),
    )
    return arms.crossJoin(F.broadcast(glob)).selectExpr(
        "arm",
        "n_units",
        "sum_x AS sum_x_cents",
        "sum_y AS sum_y_cents",
        "theta_ppm",
        "CAST((1000000 * sum_y) DIV n_units AS BIGINT) AS mean_y_micro",
        # correction = θ · (mean(X_a) − mean(X)) in micro units; the
        # centered difference can be negative — div truncation matches
        # the oracle's // exactly (both toward zero)
        "CAST((1000000 * sum_y) DIV n_units "
        "- (theta_ppm * ((1000000 * sum_x) DIV n_units "
        "- (1000000 * sx_g) DIV n_g)) div 1000000 AS BIGINT) "
        "AS adj_mean_micro",
    )


def mutual_information_ranking(
    df: DataFrame,
    target_col: str,
    feature_cols: list[str],
) -> DataFrame:
    """MI(feature, target) for MANY candidate features in ONE fact-table
    pass — the feature-selection / leakage-screening sweep
    (``mutual_information`` for a single pair; this is the version a
    pipeline actually runs: every candidate against the label, ranked).

    The features unpivot via ``stack`` BEFORE the exchange, so one
    map-side-combined shuffle on (feature, value, target) serves all k
    features — vs k separate jobs each re-scanning the facts. Marginals
    re-aggregate the contingency cells. Same exact integer export as
    ``mutual_information`` (Σ c·(L(c)+L(n)−L(cv)−L(ct)), L = micro-nat
    log of a count), one row per feature; no quotient, so near-zero MI
    keeps its exact (possibly hair-negative) rounding.

    Scale: cell cardinality is Σ_f |dom(f)|·|dom(T)| — bounded; the
    unpivot multiplies fact ROWS by k but each unpivoted row is two
    short strings, and the k-fold blowup buys back k-1 full scans.
    """
    k = len(feature_cols)
    pairs = ", ".join(f"'{c}', CAST(`{c}` AS STRING)" for c in feature_cols)
    cells = (
        df.selectExpr(
            f"stack({k}, {pairs}) AS (feature, v)",
            f"CAST(`{target_col}` AS STRING) AS t",
        )
        .groupBy("feature", "v", "t")
        .agg(F.count("*").alias("cvt"))
    )
    cv = cells.groupBy("feature", "v").agg(F.sum("cvt").alias("cv"))
    ct = cells.groupBy("feature", "t").agg(F.sum("cvt").alias("ct"))
    n = cells.groupBy("feature").agg(F.sum("cvt").alias("n"))
    return (
        cells.join(F.broadcast(cv), ["feature", "v"])
        .join(F.broadcast(ct), ["feature", "t"])
        .join(F.broadcast(n), "feature")
        .groupBy("feature")
        .agg(
            F.any_value("n").cast("bigint").alias("n"),
            F.sum(
                F.expr(
                    f"cvt * ({ln_micro('cvt')} + {ln_micro('n')}"
                    f" - {ln_micro('cv')} - {ln_micro('ct')})"
                )
            )
            .cast("bigint")
            .alias("mi_sum_micro"),
        )
    )


def _tdiv(a: int, b: int) -> int:
    """Truncate-toward-zero integer division — the shared semantics of
    Spark ``DIV`` and DuckDB ``//`` (both truncate; Python ``//``
    floors, which differs for negative gradients)."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def logreg_gd_hard_sigmoid(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str = "y",
    steps: int = 3,
    lr_div: int = 16,
) -> DataFrame:
    """Distributed full-batch logistic regression, fixed-point and
    exact: K gradient-descent steps where each step is ONE map-side-
    combined scalar aggregation over the fact table (d+2 BIGINT sums),
    so the per-step shuffle is a single row regardless of data size —
    the canonical "driver loop over distributed gradients" pattern
    every Spark ML optimizer uses (one job per step, no data movement,
    no caching requirement beyond the scan).

    Exactness contract: features are BIGINT, the label is ppm (0 or
    1_000_000), weights are ppm, and the link is the HARD sigmoid
    ``clamp(500000 + z DIV 4, 0, 1e6)`` — piecewise-linear, so every
    prediction, gradient and update is integer arithmetic (associative
    BIGINT sums, truncating division) and a DuckDB twin unrolled as K
    CTEs reproduces the trajectory bit-for-bit. No transcendental
    evaluation at query time anywhere.

    Update rule per step: ``w_j <- w_j - ((g_j DIV n) DIV lr_div)``
    with ``g_j = sum((p - y) * x_j)`` in ppm·feature units.

    Returns one row: n, the final weights (ppm), and the training-set
    accuracy of the final model (one extra aggregation pass).

    At 100 TB: K+1 scans (or K+1 passes over a cached/checkpointed
    projection), each reducing to one row — bandwidth-bound, no skew
    surface, no shuffle. The projection pushed into the scan is just
    the feature columns (ReadSchema stays narrow).
    """
    d = len(feature_cols)
    w = [0] * d
    wb = 0

    def p_expr() -> str:
        z = " + ".join(
            [f"(CAST({w[j]} AS BIGINT) * {c})"
             for j, c in enumerate(feature_cols)]
            + [f"CAST({wb} AS BIGINT)"]
        )
        return (
            "greatest(CAST(0 AS BIGINT), least(CAST(1000000 AS BIGINT), "
            f"CAST(500000 AS BIGINT) + ({z}) DIV 4))"
        )

    n = 0
    for _ in range(steps):
        p = p_expr()
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr(f"{p} - {label_col}")).alias("gb"),
            *[
                F.sum(F.expr(f"({p} - {label_col}) * {c}")).alias(f"g{j}")
                for j, c in enumerate(feature_cols)
            ],
        ).collect()[0]
        n = int(row["n"])
        wb -= _tdiv(_tdiv(int(row["gb"]), n), lr_div)
        w = [
            w[j] - _tdiv(_tdiv(int(row[f"g{j}"]), n), lr_div)
            for j in range(d)
        ]

    p = p_expr()
    acc = df.agg(
        F.sum(
            F.expr(
                f"CASE WHEN ({p} >= 500000) = ({label_col} = 1000000) "
                "THEN 1 ELSE 0 END"
            )
        ).alias("n_correct")
    ).collect()[0]
    spark = df.sparkSession
    cols = ", ".join(f"w_{c} bigint" for c in feature_cols)
    return spark.createDataFrame(
        [(n, wb, *w, int(acc["n_correct"]))],
        f"n bigint, w_bias bigint, {cols}, n_correct bigint",
    )


def split_conformal_interval(
    df: DataFrame,
    group_col: str,
    value_col: str,
    cal_pred: str,
    alpha_num: int = 1,
    alpha_den: int = 10,
) -> DataFrame:
    """Split conformal prediction (Vovk et al.; Lei et al. 2018): fit a
    point model on the calibration slice, take the ceil((n+1)(1-α))-th
    smallest absolute residual as the conformal half-width q, and
    report empirical coverage of ±q on the held-out slice. The
    finite-sample guarantee (coverage ≥ 1-α under exchangeability) is
    THE distribution-free way to attach honest error bars to a model
    feeding a data pipeline.

    The "model" is the group-conditional mean of ``value_col`` (integer
    cents) per ``group_col``, trained on rows where ``cal_pred`` holds;
    residuals are exact |v·1e6 − mean_micro| integers, the rank index
    k = ceil((1-α)(n+1)) is computed in pure integer arithmetic
    (``((aden-anum)(n+1) + aden-1) DIV aden``, clamped to n), and the
    k-th smallest residual comes from the histogram order-statistic
    (``relational.exact_rank_statistic`` — narrow metadata-sized jobs,
    never a global sort). Coverage ships in ppm.

    Plan shape at 100 TB: one broadcast-joined residual pass (the group
    dim is bounded), the order-statistic's ~2 histogram aggregations
    over the calibration slice (filter pushed to the scan), and one
    final aggregate over the test slice. No full-data sort anywhere.

    Returns ONE row: (n_cal, n_test, q_micro, coverage_ppm).
    """
    from .relational import exact_rank_statistic

    base = df.selectExpr(
        f"`{group_col}` AS _g",
        f"CAST(round(`{value_col}` * 100) AS BIGINT) AS _v",
        f"CAST(({cal_pred}) AS BOOLEAN) AS _is_cal",
    )
    means = (
        base.filter("_is_cal")
        .groupBy("_g")
        .agg(
            F.sum("_v").cast("bigint").alias("_s"),
            F.count(F.lit(1)).cast("bigint").alias("_n"),
        )
        .selectExpr(
            "_g", "CAST((1000000 * _s) DIV _n AS BIGINT) AS _mean_micro"
        )
    )
    resid = base.join(F.broadcast(means), "_g").selectExpr(
        "_is_cal",
        "CAST(abs(_v * 1000000 - _mean_micro) AS BIGINT) AS r",
    )
    keep = alpha_den - alpha_num

    def _k(n: int) -> int:
        return min((keep * (n + 1) + alpha_den - 1) // alpha_den, n)

    n_cal, q = exact_rank_statistic(resid.filter("_is_cal"), "r", _k)
    return resid.filter("NOT _is_cal").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        F.sum(F.expr(f"CAST(r <= {q} AS BIGINT)")).cast("bigint").alias("_c"),
    ).selectExpr(
        f"CAST({n_cal} AS BIGINT) AS n_cal",
        "n_test",
        f"CAST({q} AS BIGINT) AS q_micro",
        # empty test slice -> NULL coverage, never an ANSI 1/0 error
        "CAST(CASE WHEN n_test > 0 THEN (1000000 * _c) DIV n_test END AS BIGINT) AS coverage_ppm",
    )


def neyman_allocation(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    sample_n: int = 1000,
) -> DataFrame:
    """Neyman-optimal stratified sample allocation: n_h ∝ N_h·σ_h —
    the allocation minimizing the variance of the stratified mean
    estimator for a fixed total budget (Neyman 1934). This is the plan
    a 100 TB profiling job computes FIRST, so the expensive sampled
    pass spends its budget where the variance lives instead of
    proportionally.

    Exactness: N_h·σ_h = sqrt(N_h·Σx² − (Σx)²) — the whole weight
    reduces to ONE sqrt of an exact integer (cents², decimal(38,0)
    accumulators, overflow-safe at any scale). Each stratum's
    micro-weight rounds that sqrt once (per-row deterministic, no
    cross-row float sums), the grand total is an INTEGER sum of those
    micro-weights (order-free), and shares/allocations are truncating
    integer division — bit-identical across engines and partitionings.

    One map-side-combined shuffle on the stratum key plus a broadcast
    1-row total. Returns (stratum, n_rows, w_micro, alloc_ppm,
    alloc_n) — alloc_n out of ``sample_n``, largest-remainder NOT
    applied (truncation may undershoot by ≤ #strata; callers that need
    the exact budget add the remainder to the largest stratum).
    """
    per = (
        df.selectExpr(
            f"`{stratum_col}` AS stratum",
            f"CAST(round(`{value_col}` * 100) AS BIGINT) AS _v",
        )
        .groupBy("stratum")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.col("_v").cast("decimal(38,0)")).alias("_s"),
            F.sum(
                (F.col("_v") * F.col("_v")).cast("decimal(38,0)")
            ).alias("_ss"),
        )
        .selectExpr(
            "stratum",
            "n_rows",
            "CAST(round(sqrt(CAST(n_rows * _ss - _s * _s AS DOUBLE)) "
            "* 1000000) AS BIGINT) AS w_micro",
        )
    )
    total = per.agg(
        F.sum(F.col("w_micro").cast("decimal(38,0)")).alias("_t")
    )
    # share arithmetic in decimal(38,0): 1e6·w overflows int64 once
    # weights pass ~9e12 (a few TB of cents²). Integral `div`, not
    # floor(/): Spark decimal division rounds HALF_UP at the result
    # scale before a floor(), diverging from DuckDB's truncating //
    # within 5e-7 of an integer (r12 fix)
    return per.crossJoin(F.broadcast(total)).selectExpr(
        "stratum",
        "n_rows",
        "w_micro",
        # all-constant strata -> total weight 0 -> NULL allocation
        "CAST((CAST(w_micro AS DECIMAL(38,0)) * 1000000) div "
        "nullif(_t, 0) AS BIGINT) AS alloc_ppm",
        f"CAST((CAST(w_micro AS DECIMAL(38,0)) * {sample_n}) div "
        "nullif(_t, 0) AS BIGINT) AS alloc_n",
    )


def diff_in_diff(
    df: DataFrame,
    arm_pred: str,
    post_pred: str,
    value_col: str,
) -> DataFrame:
    """Difference-in-differences estimator over a 2×2 (arm × period)
    design: DiD = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post −
    ȳ_ctrl,pre) — the parallel-trends causal readout for a rollout
    that switched on at a known time with a held-out control.

    All four cell means are exact fixed-point: integer cent sums and
    counts from ONE full-table aggregate (four conditional sums — no
    groupBy, no join, a single map-side-combined 1-row reduction), the
    means are truncating micro-cent divisions both engines share, and
    the estimate is their exact integer combination. At 100 TB this is
    one streaming pass.

    Returns ONE row: the four cell counts, four mean_micro columns,
    and did_micro.
    """
    cell = (
        "CAST(CASE WHEN ({a}) = {av} AND ({p}) = {pv} "
        "THEN {x} ELSE 0 END AS BIGINT)"
    )
    v = f"CAST(round(`{value_col}` * 100) AS BIGINT)"
    aggs = []
    for name, av, pv in (
        ("c_pre", "FALSE", "FALSE"),
        ("c_post", "FALSE", "TRUE"),
        ("t_pre", "TRUE", "FALSE"),
        ("t_post", "TRUE", "TRUE"),
    ):
        aggs.append(
            F.sum(
                F.expr(cell.format(a=arm_pred, av=av, p=post_pred, pv=pv, x=1))
            ).cast("bigint").alias(f"n_{name}")
        )
        aggs.append(
            F.sum(
                F.expr(cell.format(a=arm_pred, av=av, p=post_pred, pv=pv, x=v))
            ).cast("bigint").alias(f"s_{name}")
        )
    # an empty design cell yields a NULL mean (and a NULL DiD),
    # never an ANSI divide-by-zero
    mean = ("CAST(CASE WHEN n_{c} > 0 THEN (1000000 * s_{c}) DIV n_{c} "
            "END AS BIGINT) AS m_{c}_micro")
    return df.agg(*aggs).selectExpr(
        "n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
        mean.format(c="c_pre"),
        mean.format(c="c_post"),
        mean.format(c="t_pre"),
        mean.format(c="t_post"),
    ).selectExpr(
        "*",
        "CAST((m_t_post_micro - m_t_pre_micro) "
        "- (m_c_post_micro - m_c_pre_micro) AS BIGINT) AS did_micro",
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan–Meier survival estimator over right-censored durations —
    the standard answer to "how long until a customer re-orders / a
    user churns / a job fails", honest about subjects still alive at
    cutoff. Input: one row per subject with an integer duration and an
    event flag (1 = observed, 0 = censored).

    Everything that matters is integer-exact: per-duration death and
    censor counts (one map-side-combined shuffle), the at-risk count
    n(t) = N − Σ_{t'<t}(d+c) (prefix sum over the BOUNDED distinct-
    duration table — the documented exception to the no-unpartitioned-
    windows rule; at 100 TB subjects collapse to ≤ a few thousand
    distinct durations before any window runs), and the log-survival
    ln S(t) = Σ_{t'≤t} [ln(n−d) − ln(n)] as a sum of once-rounded
    micro-nat integers. ``s_ppm`` additionally displays
    floor(1e6·exp(lnS)) — the only float, computed from identical
    inputs in both engines. When the last at-risk subject dies
    (n = d), S hits exactly 0: ln is NULL from that point and s_ppm 0.

    Returns per distinct duration: (t, n_risk, n_events, n_censored,
    s_lnmicro, s_ppm).
    """
    per_t = df.selectExpr(
        f"CAST(`{duration_col}` AS BIGINT) AS t",
        f"CAST(`{event_col}` AS INT) AS _e",
    ).groupBy("t").agg(
        F.sum(F.expr("CAST(_e = 1 AS BIGINT)"))
        .cast("bigint").alias("n_events"),
        F.sum(F.expr("CAST(_e = 0 AS BIGINT)"))
        .cast("bigint").alias("n_censored"),
    )
    total = per_t.agg(
        F.sum(F.expr("n_events + n_censored")).cast("bigint").alias("_n")
    )
    w_prev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_upto = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    stepped = (
        per_t.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.expr("_n")
            - F.coalesce(
                F.sum(F.expr("n_events + n_censored")).over(w_prev),
                F.lit(0),
            ),
        )
        .withColumn(
            "_term",
            F.expr(
                "CASE WHEN n_events = 0 THEN 0 "
                "WHEN n_risk > n_events THEN "
                "CAST(round(ln(n_risk - n_events) * 1000000) AS BIGINT) "
                "- CAST(round(ln(n_risk) * 1000000) AS BIGINT) "
                "END"  # NULL marks S -> exactly 0
            ),
        )
        .withColumn(
            "_dead", F.max(F.expr("_term IS NULL")).over(w_upto)
        )
        .withColumn("_lnsum", F.sum("_term").over(w_upto))
    )
    return stepped.selectExpr(
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        "CAST(CASE WHEN NOT _dead THEN _lnsum END AS BIGINT) AS s_lnmicro",
        "CAST(CASE WHEN _dead THEN 0 ELSE "
        "floor(1000000 * exp(CAST(_lnsum AS DOUBLE) / 1000000)) END "
        "AS BIGINT) AS s_ppm",
    )


def t_closeness(
    df: DataFrame,
    qi_cols: list[str],
    value_col: str,
    n_buckets: int = 10,
) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian, ICDE'07) — the
    third leg of the privacy triad beside k-anonymity and l-diversity:
    per quasi-identifier equivalence class, the Earth Mover's Distance
    between the class's sensitive-value distribution and the global
    one, over ``n_buckets`` equal-width ordered buckets with unit
    adjacent-bucket ground distance. A class whose salary histogram
    matches the population reveals nothing even at k=1000; one whose
    histogram concentrates leaks — THIS is the number that catches it.

    Integer-exact: per-(class, bucket) and global bucket counts, EMD
    numerator Σ_b |cum_cb·N − cum_b·N_c| over the first B−1 buckets
    (probability cross-multiplied — no float CDFs), and
    t_ppm = 1e6·num DIV (N_c·N·(B−1)) truncating in both engines.
    Shape: one bucket pass over the fact table (map-side combined),
    a broadcast global histogram, and a per-class prefix sum over the
    BOUNDED bucket domain (window partitioned by class, B rows each).

    The prefix sums run over the DENSIFIED full bucket domain
    0..B−1 per class (explode(sequence) on the per-class totals,
    counts coalesced to 0): computing cum_b only over buckets the
    class occupies understates EMD for sparse classes, and a class
    concentrated entirely in the LAST bucket — the maximally leaking
    one — would otherwise produce zero rows after the b < B−1 filter
    and silently vanish from the audit (round-7 fix).
    """
    base = df.selectExpr(
        *[f"`{c}`" for c in qi_cols],
        f"CAST(round(`{value_col}` * 100) AS BIGINT) AS _v",
    )
    bounds = base.agg(
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx")
    )
    bucketed = base.crossJoin(F.broadcast(bounds)).selectExpr(
        *[f"`{c}`" for c in qi_cols],
        f"CAST(least({n_buckets - 1}, (_v - _mn) * {n_buckets} "
        "DIV (_mx - _mn + 1)) AS INT) AS _b",
    )
    per_cb = bucketed.groupBy(*qi_cols, "_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_ncb")
    )
    per_b = bucketed.groupBy("_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("_nb")
    )
    totals = per_b.agg(F.sum("_nb").cast("bigint").alias("_n"))
    per_c = per_cb.groupBy(*qi_cols).agg(
        F.sum("_ncb").cast("bigint").alias("_nc")
    )
    # Densify: every class × the FULL bucket domain 0..B-1, with both
    # the class count and the global count coalesced to 0 — the
    # cumulative CDFs must step through empty buckets too.
    dense = per_c.select(
        *qi_cols,
        "_nc",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_buckets - 1))
        ).alias("_b"),
    )
    w_class = Window.partitionBy(*qi_cols).orderBy("_b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    joined = (
        dense.join(per_cb, [*qi_cols, "_b"], "left")
        .join(F.broadcast(per_b), "_b", "left")
        .fillna(0, ["_ncb", "_nb"])
        .crossJoin(F.broadcast(totals))
        .withColumn("_cum_cb", F.sum("_ncb").over(w_class))
        .withColumn("_cum_b", F.sum("_nb").over(w_class))
    )
    return (
        joined.filter(f"_b < {n_buckets - 1}")
        .groupBy(*qi_cols)
        .agg(
            F.max("_nc").cast("bigint").alias("class_size"),
            F.sum(
                F.expr(
                    "abs(CAST(_cum_cb AS DECIMAL(38,0)) * _n "
                    "- CAST(_cum_b AS DECIMAL(38,0)) * _nc)"
                )
            ).alias("_num"),
            F.max("_n").cast("bigint").alias("_n"),
        )
        .selectExpr(
            *qi_cols,
            "class_size",
            # BIGINT, not DECIMAL(38,0): emd_num <= (B-1)*N*N_c fits int64
            # through ~sf1000, and an integral output column crosses every
            # engine/driver boundary as a plain int — a DECIMAL(38,0)
            # column is fetched as python Decimal by some DuckDB versions
            # and int by others, which breaks a type-sensitive value hash
            # even when the numbers are identical (round-12 driver fix).
            "CAST(_num AS BIGINT) AS emd_num",
            # Integral `div`, not floor(decimal `/`): Spark decimal
            # division rounds HALF_UP at the result scale BEFORE the
            # floor, so a quotient within 5e-7 below an integer floors to
            # that integer; the oracle's integer division truncates.
            # `div` is exact at every rounding boundary (num >= 0 here,
            # so truncation == floor).
            "CAST((_num * 1000000) div "
            f"(CAST(class_size AS DECIMAL(38,0)) * _n * {n_buckets - 1}) "
            "AS BIGINT) AS t_ppm",
        )
    )
