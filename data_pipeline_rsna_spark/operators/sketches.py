"""Probabilistic sketches: HyperLogLog distinct counting and Count-Min
frequency estimation — built from declarative DataFrame ops so the
sketch STATE (registers) is itself a tiny DataFrame.

Why sketches in this engine: at 100 TB, `count(DISTINCT ...)` and exact
per-key frequency tables are shuffle-bound on the full key set; a
sketch's state is O(m) per group regardless of input size, and both
sketches here are MERGEABLE — the register table of two partitions (or
two days) combines with ``max`` (HLL) / ``sum`` (CMS), which is exactly
what Spark's partial aggregation does for free. The shuffle moves at
most ``groups × m`` register rows, never the key set.

Portability contract (what makes these oracle-checkable bit-for-bit):
- the hash is md5 of a salted string; register index and remaining
  value are hex-slices of one digest (one md5 call per row).
- rho (HLL leading-zero rank) is derived from the minimal binary string
  (`bin`), identical in Spark and DuckDB: bit_length =
  length(ltrim(bin(v), '0')).
- register contents are INTEGERS; the HLL raw-estimate division is the
  same literal IEEE expression in both engines, floored to milli-units.
  Terms 2^-rho are accumulated in integer units of 2^-48 (rho clamped
  at 48) so the register sum is order-independent integer arithmetic,
  not float summation.

HLL registers: m = 256 (p = 8, first 2 hex chars), standard error
~1.04/sqrt(256) = 6.5%. CMS: depth 4 (four 8-hex slices of one digest),
width 512.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_SALT = "cms"

HLL_M = 256
HLL_ALPHA = 0.7182725932495458  # 0.7213/(1 + 1.079/256), exact double literal
HLL_RHO_CAP = 48  # clamp so 2^(48-rho) unit terms stay integer-exact in bigint
CMS_DEPTH = 4
CMS_WIDTH = 512


def _hll_register_cols(key: F.Column, salt: str) -> tuple[F.Column, F.Column]:
    """(register index, rho) from one md5 digest of the salted key."""
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    ridx = F.conv(F.substring(h, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(h, 3, 15), 16, 10).cast("bigint")  # 60 bits
    # Spark's bin() never emits leading zeros, so its length IS the bit
    # length. v = 0 (probability 2^-60) yields bin='0' → rho 60 here vs 61
    # under DuckDB's ltrim form — both clamp to HLL_RHO_CAP downstream.
    bit_length = F.length(F.bin(v))
    rho = (F.lit(61) - bit_length).cast("int")  # leading zeros in 60 bits, +1
    return ridx, rho


def hll_registers(
    df: DataFrame, group_col: str, key_col: str, salt: str = "hll"
) -> DataFrame:
    """Per-group HLL register table: (group, register, max rho).

    One shuffle of at most groups×m rows; the per-partition partial max
    IS the sketch merge, so this scales as a normal two-level aggregate
    no matter how many input rows feed each group.
    """
    ridx, rho = _hll_register_cols(F.col(key_col), salt)
    return (
        df.select(F.col(group_col).alias("grp"), ridx.alias("register"), rho.alias("rho"))
        .groupBy("grp", "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame) -> DataFrame:
    """Collapse a register table to per-group estimates.

    Output (all cross-engine exact): registers_used, zero_registers,
    sum_units (integer sum of 2^(48-min(rho,48)), empties contribute
    2^48), est_milli = floor(alpha·m²·2^48 / sum_units · 1000) — the
    raw HLL estimator in milli-units. Small-range (linear counting)
    correction needs ln(), which is not bit-portable across engines;
    callers apply it FROM zero_registers (see tests) — the gate-checked
    columns stay integer/exact.
    """
    unit = F.pow(F.lit(2.0), F.lit(HLL_RHO_CAP) - F.least(
        F.col("max_rho"), F.lit(HLL_RHO_CAP)
    )).cast("bigint")
    per_group = registers.groupBy("grp").agg(
        F.count("*").alias("registers_used"),
        F.sum(unit).alias("used_units"),
    )
    zero_regs = F.lit(HLL_M) - F.col("registers_used")
    sum_units = (
        F.col("used_units") + zero_regs.cast("bigint") * F.lit(2**HLL_RHO_CAP)
    ).cast("double")
    est_milli = F.floor(
        F.lit(HLL_ALPHA * HLL_M * HLL_M * float(2**HLL_RHO_CAP))
        / sum_units
        * F.lit(1000.0)
    ).cast("bigint")
    return per_group.select(
        "grp",
        "registers_used",
        zero_regs.cast("int").alias("zero_registers"),
        est_milli.alias("est_milli"),
    )


def hll_distinct(df: DataFrame, group_col: str, key_col: str) -> DataFrame:
    """groupBy(group).approxDistinct(key) as an HLL register pipeline."""
    return hll_estimate(hll_registers(df, group_col, key_col, "hll"))


# ---------------------------------------------------------------------------
# Count-Min sketch
# ---------------------------------------------------------------------------


def _cms_cols(key: F.Column, salt: str) -> F.Column:
    """Array of CMS_DEPTH (row, col) structs from one md5 digest."""
    h = F.md5(F.concat_ws("|", F.lit(salt), key.cast("string")))
    return F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                (
                    F.conv(F.substring(h, 1 + 8 * r, 8), 16, 10).cast("bigint")
                    % CMS_WIDTH
                ).cast("int").alias("col"),
            )
            for r in range(CMS_DEPTH)
        ]
    )


def cms_registers(df: DataFrame, key_col: str) -> DataFrame:
    """Count-Min register table (row, col, cnt): every input row
    increments one cell per hash row. depth×width cells total — the
    groupBy's map-side partial sum merges per-partition sketches, so the
    shuffle is O(depth·width) regardless of input size."""
    return (
        df.select(F.explode(_cms_cols(F.col(key_col), CMS_SALT)).alias("rc"))
        .groupBy(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    registers: DataFrame, keys: DataFrame, key_col: str
) -> DataFrame:
    """Point-query the sketch for each key in ``keys``: the min over
    hash rows of the addressed cells (classic CMS upper bound —
    est >= true, with overestimate bounded by collisions). The register
    table is sketch-sized, so the probe join broadcasts."""
    probes = keys.select(
        F.col(key_col).alias("key"),
        F.explode(_cms_cols(F.col(key_col), CMS_SALT)).alias("rc"),
    ).select("key", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    return (
        probes.join(F.broadcast(registers), ["row", "col"])
        .groupBy("key")
        .agg(F.min("cnt").alias("est_count"))
    )


def value_histogram(df: DataFrame, cents_expr: str) -> DataFrame:
    """Power-of-two-bucket histogram of a positive integer measure: the
    mergeable substrate for approximate quantiles.

    bucket = bit_length(cents), so bucket b covers [2^(b-1), 2^b - 1] —
    a deterministic, data-independent binning (no sampled boundaries to
    drift between engines or between runs). The histogram is the whole
    sketch: partial per-partition histograms combine map-side and merge
    by plain vector addition, so at warehouse scale the single shuffle
    moves only ~64-row partials, never data. Cross-engine idiom:
    Spark ``length(bin(v))`` == DuckDB ``length(ltrim(bin(v),'0'))``.
    """
    return (
        df.select(
            F.expr(f"length(bin({cents_expr}))").cast("int").alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("cnt"))
    )


def histogram_quantiles(hist: DataFrame, percentiles: list[int]) -> DataFrame:
    """Quantile extraction from a power-of-two histogram: for each
    percentile q, the first bucket whose cumulative count reaches
    rank = ceil(q * n / 100), with its exact [lo, hi] cents bounds.

    The prefix sum runs as a tiny triangular self-join over the ≤64
    bucket rows — not a window over an unpartitioned order (the engine
    bans unpartitioned WindowExec even where the input is small), and
    not a driver-side loop. Everything is integer arithmetic: the rank
    ceiling is (n*q + 99) DIV 100, bounds are shifts, so the answer is
    bit-identical on any engine and any partitioning. Error contract:
    the true quantile lies inside the returned bucket, i.e. relative
    error ≤ 2x (one octave) — the trade for a fixed-size, exactly
    mergeable sketch.
    """
    spark = hist.sparkSession
    h1 = hist.select(F.col("bucket").alias("b"), F.col("cnt").alias("c"))
    cum = (
        h1.join(hist, F.col("bucket") <= F.col("b"))
        .groupBy("b")
        .agg(F.sum("cnt").alias("cum"))
    )
    total = hist.agg(F.sum("cnt").alias("total"))
    targets = spark.createDataFrame(
        [(int(p),) for p in percentiles], "q int"
    )
    ranked = targets.join(F.broadcast(total)).select(
        "q", F.expr("(total * q + 99) DIV 100").alias("rank_needed")
    )
    return (
        ranked.join(
            F.broadcast(cum), F.col("cum") >= F.col("rank_needed")
        )
        .groupBy("q", "rank_needed")
        .agg(F.min("b").alias("bucket"))
        .select(
            "q",
            "rank_needed",
            "bucket",
            F.expr("CAST(shiftleft(1L, bucket - 1) AS BIGINT)").alias(
                "lo_cents"
            ),
            F.expr("CAST(shiftleft(1L, bucket) - 1 AS BIGINT)").alias(
                "hi_cents"
            ),
        )
        .orderBy("q")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct / join-cardinality sketch
# ---------------------------------------------------------------------------


def kmv_sketch(df: DataFrame, key_col: str, k: int = 256) -> DataFrame:
    """The k lexicographically-smallest md5 hashes of the column's
    DISTINCT values — the KMV distinct sketch (Bar-Yossef et al. 2002).

    Plan shape: ``distinct`` partial-aggregates map-side (the shuffle
    carries each partition's distinct hashes once, never raw rows), and
    ``orderBy().limit(k)`` plans TakeOrderedAndProject — per-partition
    heaps of k rows merged on the driver, no global sort. The sketch is
    a k-row DataFrame, so every downstream combination (union, semi
    join, max) broadcasts.

    Mergeability is what makes this a 100 TB planning tool: sketches of
    two partitions/days/tables union + re-take-k, so per-source
    sketches are computed once and combined at estimate time."""
    return (
        df.selectExpr(f"md5(cast(`{key_col}` AS string)) AS h")
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def _kmv_est(cnt: F.Column, max_h: F.Column, k: int) -> F.Column:
    """(k-1)/h_(k) when the sketch is full; exact count when the column
    had fewer than k distinct values (the sketch saw everything).
    h_(k) is normalized to (0,1] from the first 12 hex chars (48 bits —
    exact in a double)."""
    norm = F.conv(F.substring(max_h, 1, 12), 16, 10).cast("double") / float(
        16**12
    )
    return F.when(cnt < k, cnt.cast("double")).otherwise((k - 1) / norm)


def kmv_join_cardinality(
    a: DataFrame, a_key: str, b: DataFrame, b_key: str, k: int = 256
) -> DataFrame:
    """Pre-join cardinality estimation from two KMV sketches: distinct
    counts per side, distinct union size, Jaccard similarity of the key
    sets, and the implied distinct-key intersection — the quantities a
    planner needs to size a join (or to decide broadcast vs shuffle)
    WITHOUT scanning either table twice.

    Standard KMV algebra: union sketch = k smallest of the merged
    sketches; J ≈ |{h ∈ union-k : h in A-sketch ∧ h in B-sketch}| / k;
    |A ∩ B| ≈ J · D_union. Every input to the estimate is a k-row
    DataFrame, so the combination plan is broadcast joins and 1-row
    cross joins — nothing here touches the big tables after the two
    sketch scans. Deterministic md5 hashing makes the whole estimate
    re-derivable in any engine (the oracle recomputes it exactly)."""
    sa = kmv_sketch(a, a_key, k)
    sb = kmv_sketch(b, b_key, k)
    su = sa.union(sb).distinct().orderBy("h").limit(k)
    stats_a = sa.agg(
        F.count("*").alias("n_a"), F.max("h").alias("max_a")
    )
    stats_b = sb.agg(
        F.count("*").alias("n_b"), F.max("h").alias("max_b")
    )
    stats_u = su.agg(
        F.count("*").alias("n_u"), F.max("h").alias("max_u")
    )
    both = (
        su.join(sa, "h", "left_semi")
        .join(sb, "h", "left_semi")
        .agg(F.count("*").alias("n_both"))
    )
    est_a = _kmv_est(F.col("n_a"), F.col("max_a"), k)
    est_b = _kmv_est(F.col("n_b"), F.col("max_b"), k)
    est_u = _kmv_est(F.col("n_u"), F.col("max_u"), k)
    jac = F.col("n_both") / F.col("n_u")
    return (
        stats_a.crossJoin(stats_b)
        .crossJoin(stats_u)
        .crossJoin(both)
        .select(
            F.lit(k).alias("k"),
            F.round(est_a, 2).alias("est_distinct_a"),
            F.round(est_b, 2).alias("est_distinct_b"),
            F.round(est_u, 2).alias("est_distinct_union"),
            F.round(jac, 6).alias("est_jaccard"),
            F.round(jac * est_u, 2).alias("est_intersection"),
        )
    )


def hll_rolling_estimate(regs: DataFrame, window: int = 7) -> DataFrame:
    """Rolling-window UNION of per-period HLL sketches — the mergeable-
    sketch property doing real work: "distinct users over the trailing
    7 days, every day" needs no re-scan of 7 days of raw data, only a
    max-merge of 7 daily register tables.

    ``regs`` is a ``hll_registers`` table whose ``grp`` is an integer
    period (e.g. epoch day). The period list is metadata (one row per
    day — broadcast); the range join fans each register row to at most
    ``window`` periods, so the merge input is days×m×window rows —
    sketch-sized, never data-sized. This is the production shape for
    every rolling-uniques dashboard at any corpus size.
    """
    days = regs.select(F.col("grp").alias("_d")).distinct()
    joined = regs.join(
        F.broadcast(days),
        (F.col("grp") <= F.col("_d"))
        & (F.col("grp") > F.col("_d") - window),
    )
    merged = (
        joined.groupBy("_d", "register")
        .agg(F.max("max_rho").alias("max_rho"))
        .select(F.col("_d").alias("grp"), "register", "max_rho")
    )
    return hll_estimate(merged)


# ---------------------------------------------------------------------------
# Misra-Gries / space-saving heavy hitters (deterministic guarantee)
# ---------------------------------------------------------------------------


def misra_gries_candidates(
    df: DataFrame, key_col: str, k: int = 64
) -> DataFrame:
    """Per-partition Misra-Gries summaries: each partition keeps at most
    ``k-1`` counters, decrementing all of them whenever a new key
    arrives with no free counter (Misra & Gries 1982).

    Guarantee used downstream: any key with GLOBAL frequency > n/k has,
    by averaging, frequency > n_p/k in at least one partition p, and MG
    with k counters never evicts such a key from that partition's
    summary. The union of per-partition candidate keys is therefore a
    SUPERSET of the true phi=1/k heavy hitters — deterministically, not
    probabilistically.

    Scale: the mapInPandas pass streams Arrow batches with O(k) state
    per partition and emits at most (k-1) rows per partition — the
    shuffle that follows carries partitions x k candidate rows, never
    the key set. This is the classic two-pass exact heavy-hitter shape
    for data too large to groupBy on the full key domain (e.g. corpus
    vocabulary at 100 TB: the full term dictionary is shuffle-hostile,
    the MG candidate set is a few KB).
    """
    out_schema = f"{key_col} string"

    def summarize(batches):
        import pandas as pd

        counters: dict[str, int] = {}
        for pdf in batches:
            for key in pdf[key_col].astype(str):
                if key in counters:
                    counters[key] += 1
                elif len(counters) < k - 1:
                    counters[key] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for c in counters:
                        counters[c] -= 1
                        if counters[c] == 0:
                            dead.append(c)
                    for c in dead:
                        del counters[c]
        yield pd.DataFrame({key_col: list(counters.keys())})

    return df.select(F.col(key_col).cast("string")).mapInPandas(
        summarize, schema=out_schema
    )


def spacesaving_heavy_hitters(
    df: DataFrame, key_col: str, k: int = 64
) -> DataFrame:
    """Exact phi=1/k heavy hitters in two passes without a full-domain
    shuffle: (1) per-partition Misra-Gries candidate generation (a
    deterministic superset of every key with count*k > n), (2) exact
    recount restricted to the candidate set via a broadcast semi join,
    then the exact threshold filter count*k > n.

    The result is EXACTLY the set {key : freq(key) * k > n} with exact
    counts — the sketch only bounds which keys need recounting, so the
    output is oracle-checkable with plain GROUP BY SQL. Output columns:
    key, cnt, n_total; sorted consumers should order by (cnt desc, key).
    """
    cand = misra_gries_candidates(df, key_col, k).distinct()
    keyed = df.select(F.col(key_col).cast("string").alias("key"))
    exact = (
        keyed.join(
            F.broadcast(cand.withColumnRenamed(key_col, "key")), "key", "left_semi"
        )
        .groupBy("key")
        .agg(F.count("*").alias("cnt"))
    )
    total = df.groupBy().agg(F.count("*").alias("n_total"))
    return (
        exact.join(F.broadcast(total))
        .where(F.col("cnt") * k > F.col("n_total"))
        .select("key", "cnt", "n_total")
    )
