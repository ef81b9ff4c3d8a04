"""Relational kernel: the reference's dataflow operators as DataFrame ops.

Each function is one operator family from SURVEY.md §2.1, expressed so
Catalyst owns the physical plan (pushdown, join strategy, AQE). Nothing
here uses a Python UDF.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import lineage_cut

KEY_COL = "user_id"
ID_COL = "event_id"
VALUE_COL = "value"
SIZE_COL = "size_bytes"
FILE_COL = "file_id"

# ---------------------------------------------------------------------------
# Range-partitioned prefix scan (global ranks, running sums, max and min)
# ---------------------------------------------------------------------------


# monotonically_increasing_id layout: partition id in the high 31 bits,
# per-partition row index in the low 33 (Spark's documented encoding) —
# so one narrow projection recovers BOTH the physical partition and the
# local row index of an already-sorted partition. Bound: 2^33 ≈ 8.5B
# rows per partition, far above any sane partition sizing.
_MID_PART_BITS = 33
_MID_ROW_MASK = (1 << _MID_PART_BITS) - 1

# how the earlier partitions' value and the local value combine: on the
# driver over Python values, and in the row projection as SQL text
_FOLD = {"count": operator.add, "sum": operator.add, "max": max, "min": min}
_ADD = "coalesce({here} + {before}, {here}, {before})"
_COMBINE = {"count": _ADD, "sum": _ADD, "max": "greatest({here}, {before})",
            "min": "least({here}, {before})"}


def _fold(fn: str, a, b):
    return a if b is None else b if a is None else _FOLD[fn](a, b)


def prefix_scan(
    df: DataFrame,
    order,
    aggs: dict[str, tuple[str, str]],
    key: str | None = None,
    partitions: int | None = None,
) -> tuple[DataFrame, dict]:
    """For each ``out → (fn, col)`` of ``aggs``, with ``fn`` one of
    ``count``, ``sum``, ``max`` or ``min``, add ``fn(col)`` over the
    rows that come strictly before the row in ``order``, among rows
    with the same ``key``. With no such rows a count is 0 and the others
    are NULL; a caller that needs its own row adds it back in one
    projection. Also returns, per key value (None when unkeyed), a dict
    of ``out → fn(col)`` over the whole key.

    A ``Window.orderBy`` with no partition key runs the whole frame in
    one task, and ``Window.partitionBy(key)`` runs each key in one task
    (fatal for a handful of languages over billions of documents). The
    scan instead:

    1. range-partitions on ``(key, *order)`` into ``partitions`` parts
       (default ``spark.sql.shuffle.partitions``) and sorts each one — a
       parallel total order in which one key can span many partitions —
       then stamps ``_pid`` and the local row index from
       ``monotonically_increasing_id`` and cuts once. Every consumer
       sees that one layout; a re-executed range exchange can sample
       other boundaries and misalign the offsets.
    2. Local part: one ``(_pid, key)`` window that ends one row before
       the current row. An unkeyed ``("count", "*")`` is the local row
       index itself: no window, so no exchange — the cut hides the range
       layout from Catalyst, and any window re-shuffles the rows.
    3. Earlier partitions: the per-``(_pid, key)`` totals of the cut
       (at most partitions + keys rows) are collected and folded on the
       driver in ``_pid`` order. In the range order only a partition's
       first key can continue from earlier partitions, so the offsets
       are one SQL map literal keyed by ``_pid``, applied to the rows
       whose partition-mates before them all share their key (NULL keys
       form one group, as in ``Window.partitionBy``). Unlike a broadcast
       join, the literal adds no job to each action over the result.

    ``order`` is a column name, a sort Column, or a sequence of them; it
    should be unique within a key, since ties are taken in the order the
    sort leaves them. Aggregated columns are integral or floating point,
    and the key is not floating point (the driver matches keys by
    Python equality).
    """
    n = int(partitions or df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    if isinstance(order, (str, Column)):
        order = [order]
    order = [F.col(c) if isinstance(c, str) else c for c in order]
    keys = [F.col(key)] if key else []
    part = (
        df.repartitionByRange(n, *keys, *order)
        .sortWithinPartitions(*keys, *order)
        .withColumn("_mid", F.monotonically_increasing_id())
        .transform(lineage_cut)
        .selectExpr(
            "*",
            f"CAST(shiftright(_mid, {_MID_PART_BITS}) AS INT) AS _pid",
            f"_mid & {_MID_ROW_MASK} AS _rn",
        )
        .drop("_mid")
    )
    totals = part.groupBy("_pid", *keys).agg(
        *[getattr(F, fn)(c).alias(out) for out, (fn, c) in aggs.items()]
    )
    types = dict(totals.dtypes)
    per_key: dict = {}
    offsets: dict[int, dict] = {}
    for r in sorted(totals.collect(), key=lambda r: r["_pid"]):
        k = r[key] if key else None
        if k in per_key:
            offsets[r["_pid"]] = per_key[k]
        per_key[k] = {
            out: _fold(fn, per_key.get(k, {}).get(out), r[out])
            for out, (fn, _) in aggs.items()
        }

    w = (
        Window.partitionBy("_pid", *keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = [
        (
            F.col("_rn")
            if key is None and (fn, c) == ("count", "*")
            else getattr(F, fn)(c).over(w)
        ).alias(f"_l{i}")
        for i, (fn, c) in enumerate(aggs.values())
    ]
    if key:
        local.append((F.count("*").over(w) == F.col("_rn")).alias("_head"))
    outs = []
    for i, (out, (fn, _)) in enumerate(aggs.items()):
        off = "NULL"
        if offsets:
            pairs = ", ".join(
                f"{p}, CAST({'NULL' if v[out] is None else repr(str(v[out]))}"
                f" AS {types[out]})"
                for p, v in offsets.items()
            )
            off = f"map({pairs})[_pid]"
            if key:
                off = f"IF(_head, {off}, NULL)"
        combined = _COMBINE[fn].format(here=f"_l{i}", before=off)
        outs.append(f"CAST({combined} AS {types[out]}) AS `{out}`")
    scanned = part.select("*", *local).selectExpr("*", *outs)
    return (
        scanned.drop("_pid", "_rn", "_head", *[f"_l{i}" for i in range(len(aggs))]),
        per_key,
    )


def global_row_number(
    df: DataFrame, order_col, out_col: str = "rn"
) -> DataFrame:
    """Deterministic global 1-based rank by ``order_col`` (one column
    name or a sequence of names, ranked lexicographically — preferred
    over arithmetic key-packing, which silently corrupts on overflow):
    ``prefix_scan``'s count of the rows before, plus one. A bare
    ``row_number().over(Window.orderBy(c))`` collapses the whole dataset
    into ONE task; this is a narrow projection over the range-sorted
    cut. The key must be unique for a stable rank.
    """
    ranked, _ = prefix_scan(df, order_col, {"_before": ("count", "*")})
    return ranked.withColumn(
        out_col, (F.col("_before") + 1).cast("int")
    ).drop("_before")


# ---------------------------------------------------------------------------
# O9 — deterministic train/val split
# ---------------------------------------------------------------------------

# share of rows the split labels 'train' (split_images' 80/20)
TRAIN_FRAC = 0.8


def exact_rank_statistic(
    df: DataFrame,
    col: str,
    rank_of_n,
    n_buckets: int = 4096,
    take_threshold: int = 32_768,
) -> tuple[int, int | None]:
    """Exact k-th smallest value (1-based) of a numeric column by
    iterative histogram refinement — the distributed order-statistic
    without a global sort. The rank may DEPEND on the row count (median
    = rank ceil(n/2), a train cutoff = round(n·frac), a p99):
    ``rank_of_n(n_nonnull) -> k``; a fixed rank is ``lambda _n: k``.
    Returns ``(n_nonnull, value)``.

    Each round is one NARROW aggregation job: bucket every in-range row
    by ``(v - lo) * n // (hi - lo + 1)`` (a pure monotone function — no
    sampling, no shuffle of data rows, only ``n_buckets`` partial-agg
    rows reach the driver), find the bucket containing rank ``k``, and
    recurse into it with the residual rank. When the candidate range
    holds ≤ ``take_threshold`` rows, one ``sort().limit()`` job (Spark
    plans TakeOrdered — a per-partition top-r + driver merge, never a
    full sort) finishes exactly. The fused first pass
    (``_bucketed_stats``) produces the count alongside the first
    histogram round, so deriving k from n costs zero extra jobs —
    versus a caller running ``df.count()`` first.

    At 100 TB this converges in ~3 rounds (1e12 rows / 4096^2 ≈ 60k — a
    final TakeOrdered of thousands of rows), and every round's range
    predicate pushes down to the parquet scan, so row-group min/max
    stats prune most of the file I/O after round one. Compare: a global
    sort would shuffle the full table once per query.

    Ties are fine (buckets count duplicates); NULLs are ignored (the
    rank is over non-null values, like SQL ORDER BY ... OFFSET); the
    value is None on empty input or k out of range. Integral columns
    only — the integer bucket arithmetic silently truncates fractional
    types, so they are rejected up front.
    """
    dtype = dict(df.dtypes).get(col)
    if dtype not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"exact_rank_statistic needs an integral column; {col} is {dtype}"
        )
    _total, n_nonnull, buckets = _bucketed_stats(df, col)
    k = rank_of_n(n_nonnull)
    if n_nonnull == 0 or k < 1 or k > n_nonnull:
        return n_nonnull, None
    k, lo, hi, in_range = _select_bucket(buckets, k)
    return n_nonnull, _kth_smallest_in_range(
        df, col, k, lo, hi, in_range, n_buckets, take_threshold
    )


def _bucketed_stats(
    df: DataFrame, col: str
) -> tuple[int, int, list]:
    """ONE aggregation job that serves as both the stats pass and the
    first histogram round of the order-statistic search: per-bucket
    (count, min, max) under an order-preserving EXPONENTIAL bucketing —
    bucket = (bit_length(u) * 128 + top-7-bits(u)), sign-folded so
    negatives map below zero in reverse magnitude order (u = v for
    v >= 0, else ~v, both nonnegative; more-negative v → larger u →
    smaller folded id). Within one bit-length the shift amount is
    constant, so the top-bits slice is monotone; across bit-lengths the
    bl*128 term dominates — order-preserving over the FULL int64 domain
    with ≤ ~8192 groups, a metadata-sized partial aggregation, no data
    shuffle.

    Why log-scale instead of the earlier fixed ``value >> 52``: a plain
    high-bit shift only refines when the key range spans > 2^52 — for
    every real id domain (0..1e9 order keys, row numbers, cents) ALL
    keys share bucket 0 and the first round learns nothing beyond
    global min/max/count, forcing a full extra histogram job. The
    exponential bucket spans at most 1/64 of its value's magnitude, so
    round one always narrows the candidate range ~two orders of
    magnitude regardless of domain width, and with per-bucket min/max
    the typical search finishes in stats → TakeOrdered (two jobs
    total). ``bin()`` gives the exact integer bit length (string length
    of the binary form — no double log2, which would misbucket near
    power-of-two boundaries past 2^53).

    NULL keys land in the NULL bucket, giving the null count for free.
    Returns (total_rows, non_null_rows, non-null bucket rows sorted by
    bucket id). Fusing the two passes matters because k itself depends
    on the total count (e.g. a train/val cutoff): the unfused form
    cannot start bucketing until a whole stats job completes, so every
    call pays one extra job-floor latency."""
    v = f"cast(`{col}` AS bigint)"
    u = f"(CASE WHEN {v} >= 0 THEN {v} ELSE ~{v} END)"
    idp = (
        f"(length(bin({u})) * 128 + "
        f"shiftright({u}, greatest(length(bin({u})) - 7, 0)))"
    )
    bucket = f"CASE WHEN {v} >= 0 THEN {idp} ELSE -1 - {idp} END"
    rows = (
        df.groupBy(F.expr(bucket).alias("_b"))
        .agg(
            F.count("*").alias("_c"),
            F.min(col).alias("_lo"),
            F.max(col).alias("_hi"),
        )
        .collect()
    )
    nn = sorted(
        (r for r in rows if r["_b"] is not None), key=lambda r: r["_b"]
    )
    n_nonnull = sum(r["_c"] for r in nn)
    total = sum(r["_c"] for r in rows)
    return total, n_nonnull, nn


def _select_bucket(buckets: list, k: int) -> tuple[int, int, int, int]:
    """Walk bucket counts (sorted by bucket id) to the one containing
    rank ``k``; return (residual k, bucket min, bucket max, bucket
    count) — the recursion state for ``_kth_smallest_in_range``. The
    per-bucket min/max narrow the range to the bucket's ACTUAL data
    bounds, typically collapsing the next round to a TakeOrdered."""
    seen = 0
    for r in buckets:
        if seen + r["_c"] >= k:
            return k - seen, int(r["_lo"]), int(r["_hi"]), r["_c"]
        seen += r["_c"]
    raise RuntimeError("rank beyond non-null row count")  # caller-checked


def _kth_smallest_in_range(
    df: DataFrame,
    col: str,
    k: int,
    lo: int,
    hi: int,
    rows_in_range: int,
    n_buckets: int = 4096,
    take_threshold: int = 32_768,
) -> int:
    """Refinement loop of ``exact_rank_statistic`` with known stats.

    All bucket math is integer-exact (``DIV`` on a shifted column, bucket
    width ``ceil(range/n)``) — double division would misbucket keys past
    2^53 and silently corrupt the rank bookkeeping. A range wider than
    2^62 (a full-range long column, e.g. xxhash64 keys) would overflow
    the ``col - lo`` shift itself, so it is first halved by a plain
    in-range count until the shift is safe.
    """
    while True:
        if lo == hi:
            return lo
        if hi - lo + 1 > (1 << 62):
            # halve by a driver-side midpoint (python ints are exact at
            # any width) until the shifted range fits in long; mid is
            # always in [lo, hi-1] so each round strictly shrinks
            mid = lo + (hi - lo) // 2
            cnt = df.filter(
                (F.col(col) >= lo) & (F.col(col) <= mid)
            ).count()
            if k <= cnt:
                hi, rows_in_range = mid, cnt
            else:
                k -= cnt
                lo, rows_in_range = mid + 1, rows_in_range - cnt
            continue
        if rows_in_range <= take_threshold:
            row = (
                df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
                .select(col)
                .sort(col)
                .limit(k)
                .agg(F.max(col).alias("v"))
                .collect()[0]
            )
            return row["v"]
        width = hi - lo + 1
        # bucket width (not count) fixed first: with the >2^62 ranges
        # already split away, every intermediate stays inside long
        w = -(-width // n_buckets)  # ceil
        hist = (
            df.filter((F.col(col) >= lo) & (F.col(col) <= hi))
            .select((F.col(col).cast("long") - lo).alias("_shifted"))
            .groupBy(F.expr(f"_shifted DIV {w}").alias("_b"))
            .agg(F.count("*").alias("_c"))
            .collect()
        )
        seen = 0
        for r in sorted(hist, key=lambda r: r["_b"]):
            if seen + r["_c"] >= k:
                b = int(r["_b"])
                k -= seen
                lo, hi = lo + b * w, min(hi, lo + (b + 1) * w - 1)
                rows_in_range = r["_c"]
                break
            seen += r["_c"]
        else:  # pragma: no cover - guarded by callers passing k <= count
            raise RuntimeError(
                f"rank {k} not found in [{lo}, {hi}] — caller passed a k "
                "beyond the in-range row count (e.g. NULL-counting total)"
            )


def deterministic_split(df: DataFrame, order_col: str) -> DataFrame:
    """Reference ``split_images`` (generate_images_from_dicom.py:54-104):
    first ``round(N * TRAIN_FRAC)`` rows in a deterministic order →
    'train', rest → 'val'. The reference's listing order becomes an
    explicit ``ORDER BY order_col``; ``randomSplit`` is rejected as
    nondeterministic. The reference's ``index < training_size - 1``
    (one row short, ``:78``) is a bug and is not reproduced.

    Because the split ranks by ``order_col`` itself, ``rank <= cutoff``
    is equivalent to ``order_col <= (cutoff-th smallest value)`` — so
    for numeric keys the whole operator reduces to finding ONE order
    statistic (``exact_rank_statistic``, narrow histogram jobs) and then a
    shuffle-free narrow projection. No global sort, no checkpoint, no
    data movement at all: at 100 TB the labeling pass is embarrassingly
    parallel and the order-statistic costs ~3 metadata-sized
    aggregations. Non-numeric (or NULL-bearing) keys rank with
    ``prefix_scan``'s count, whose per-partition totals also give the
    row count. ``order_col`` must be unique for a stable rank either
    way. For re-partition-stable assignment prefer ``kfold_assign``,
    which needs no order statistic either.
    """
    import math

    def _cutoff(total: int) -> int:
        # HALF_UP to match both Spark's and DuckDB's round() for positives
        return int(math.floor(total * TRAIN_FRAC + 0.5))

    if dict(df.dtypes).get(order_col) in ("tinyint", "smallint", "int", "bigint"):
        # ONE fused job (_bucketed_stats) yields the row count — which
        # the cutoff rank depends on, so an unfused design serializes a
        # stats job before any histogram — plus the null count (NULL
        # keys cannot rank here; they belong to the sort-based path)
        # AND the first histogram round's buckets with real min/max.
        total, n_nonnull, buckets = _bucketed_stats(df, order_col)
        cutoff = _cutoff(total)
        if cutoff < 1 or cutoff >= total:
            return df.withColumn("split", F.lit("val" if cutoff < 1 else "train"))
        if n_nonnull == total:
            kk, lo, hi, in_range = _select_bucket(buckets, cutoff)
            cutoff_key = _kth_smallest_in_range(
                df, order_col, kk, lo, hi, in_range
            )
            return df.withColumn(
                "split",
                F.when(
                    F.col(order_col) <= cutoff_key, "train"
                ).otherwise("val"),
            )
        # NULL keys present → sort-based fallback below

    ranked, totals = prefix_scan(df, order_col, {"_before": ("count", "*")})
    cutoff = _cutoff(totals[None]["_before"] if totals else 0)
    return ranked.withColumn(
        "split", F.when(F.col("_before") < cutoff, "train").otherwise("val")
    ).drop("_before")


# ---------------------------------------------------------------------------
# O24 — CASE-WHEN dispatch on id suffix
# ---------------------------------------------------------------------------

# suffix digit → augmentation-stage directory (images_to_tfrecord.py:186-200);
# the reference's else-branch maps everything unmatched to the stage-7 dir.
SUFFIX_DISPATCH = {
    "1": "shift_image",
    "2": "shift_bbox",
    "3": "scale_bbox",
    "4": "scale_image",
    "5": "scale_shift_bbox",
    "6": "shift_image_shift_bbox",
}
SUFFIX_DEFAULT = "scale_image_scale_shift_bbox"


def dispatch_on_suffix(id_col: Column) -> Column:
    """images_to_tfrecord.py:186-200 endswith-chain as one CASE expression."""
    expr: Column | None = None
    for suffix, stage in SUFFIX_DISPATCH.items():
        cond = id_col.endswith(suffix)
        expr = F.when(cond, stage) if expr is None else expr.when(cond, stage)
    assert expr is not None
    return expr.otherwise(SUFFIX_DEFAULT)


# ---------------------------------------------------------------------------
# O28/O29 — validity filter + coordinate normalization
# ---------------------------------------------------------------------------


def box_valid(width_px: int, height_px: int) -> Column:
    """images_to_tfrecord.py:113-120: drop degenerate or out-of-bounds
    boxes. Kept as a Column predicate so Catalyst can push it into scans."""
    return F.expr(
        f"width > 0 AND height > 0 AND x + width <= {width_px} "
        f"AND y + height <= {height_px}"
    )


def normalize_boxes(boxes: DataFrame, width_px: int, height_px: int) -> DataFrame:
    """images_to_tfrecord.py:121-124: absolute [x,y,w,h] → normalized
    [xmin,xmax,ymin,ymax] ∈ [0,1]. Rounded to 9 places so downstream
    differential checks are bit-stable across engines."""
    return boxes.select(
        *boxes.columns,
        F.round(F.col("x") / width_px, 9).alias("xmin"),
        F.round((F.col("x") + F.col("width")) / width_px, 9).alias("xmax"),
        F.round(F.col("y") / height_px, 9).alias("ymin"),
        F.round((F.col("y") + F.col("height")) / height_px, 9).alias("ymax"),
    )


# ---------------------------------------------------------------------------
# O19/O21 — augmentation fan-out + id synthesis + stage union
# ---------------------------------------------------------------------------


def fanout(df: DataFrame, id_col: str, op: str, k: int, stage: int) -> DataFrame:
    """One augmentation stage's fan-out: each input row → k variants with
    synthetic id ``{id}-{op}-{i}-{stage}`` (generate_images_from_dicom.py:300).

    ``explode(sequence())`` is a narrow transformation — fan-out happens
    inside each task with no shuffle, which is what makes 190× write
    amplification feasible at scale (the reference re-reads its input 7
    times instead; SURVEY.md §4)."""
    return df.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("variant_i"),
    ).withColumn(
        "image_id",
        F.concat_ws(
            "-", F.col(id_col).cast("string"), F.lit(op), F.col("variant_i"),
            F.lit(str(stage)),
        ),
    )


def union_stages(stages: list[DataFrame]) -> DataFrame:
    """O21: reference accumulates per-stage dicts; the engine unions by
    name so column order can't silently misalign."""
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


# ---------------------------------------------------------------------------
# O41 — range filter + coalesce + keep-first dedup (label-map categories)
# ---------------------------------------------------------------------------


def categories_from_label_map(
    label_map: DataFrame, max_num_classes: int, use_display_name: bool = True
) -> DataFrame:
    """label_map_util.py:64-110: keep 0 < id <= N, pick display_name when
    non-empty else name, first occurrence per id wins (``pos`` is the
    stable input order column the caller provides)."""
    name = (
        F.coalesce(F.nullif(F.col("display_name"), F.lit("")), F.col("name"))
        if use_display_name
        else F.col("name")
    )
    w = Window.partitionBy("id").orderBy("pos")
    return (
        label_map.filter((F.col("id") > 0) & (F.col("id") <= max_num_classes))
        .withColumn("category_name", name)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", "category_name")
    )


def fill_id_gaps(ids: DataFrame, id_col: str, domain_max: int) -> DataFrame:
    """label_map_util.py:157-172: densify an id domain 0..max, naming the
    holes ``class_<id>``. Anti-join against a generated range — the range
    side is tiny and broadcast, so this never shuffles the data side."""
    spark = ids.sparkSession
    domain = spark.range(0, domain_max + 1).select(
        F.col("id").cast("int").alias(id_col)
    )
    missing = domain.join(ids, id_col, "left_anti").select(
        id_col, F.concat(F.lit("class_"), F.col(id_col)).alias("name")
    )
    return ids.unionByName(missing)


# ---------------------------------------------------------------------------
# Skew handling — salted two-stage aggregation
# ---------------------------------------------------------------------------


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salt: int = 16,
) -> DataFrame:
    """Two-stage aggregation for skewed keys.

    ``aggs`` maps output column → (input column, fn) where fn ∈
    {sum, count, min, max}: the decomposable aggregates. Stage 1 groups
    by (key, salt) — the hot key's rows spread over ``n_salt`` reducers;
    stage 2 merges the ≤ n_salt partials per key (count merges by SUM).

    When to use: low-cardinality or Zipf-skewed keys where one reducer
    would own most rows. Spark's map-side partial aggregation already
    fixes most of this for aggregations (AQE skew handling fixes joins);
    the explicit salt is for the remaining case — partial agg disabled
    (e.g. collect_list) or extreme single-key concentration.
    """
    # any salt distribution works — decomposable aggregates make the
    # RESULT salt-invariant; the salt only spreads the hot key's rows
    salt = (F.rand(seed=7) * n_salt).cast("int")
    stage1_aggs = []
    for out, (col, fn) in aggs.items():
        f = {"sum": F.sum, "count": F.count, "min": F.min, "max": F.max}[fn]
        stage1_aggs.append(f(col).alias(f"_p_{out}"))
    stage1 = df.withColumn("_salt", salt).groupBy(*key_cols, "_salt").agg(
        *stage1_aggs
    )
    stage2_aggs = []
    for out, (col, fn) in aggs.items():
        merge = F.sum if fn in ("sum", "count") else {"min": F.min, "max": F.max}[fn]
        stage2_aggs.append(merge(f"_p_{out}").alias(out))
    return stage1.groupBy(*key_cols).agg(*stage2_aggs)


def upsert_snapshot(
    base: DataFrame,
    updates: DataFrame,
    key_cols: list[str],
    version_col: str,
) -> DataFrame:
    """CDC-style merge: latest version per key wins across base ∪
    updates (ties go to the updates side). One union + one keyed window
    — the parquet-native upsert pattern when no table format (Delta/
    Iceberg) is in play; at scale, partition the rewrite by a date/
    bucket column so only affected partitions rewrite.
    """
    tagged = base.withColumn("_src", F.lit(0)).unionByName(
        updates.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(version_col).desc(), F.col("_src").desc()
    )
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def incremental_agg_merge(
    old_agg: DataFrame,
    delta: DataFrame,
    key_cols: list[str],
    sum_cols: list[str],
) -> DataFrame:
    """Incremental view maintenance for decomposable aggregates: merge a
    materialized per-key aggregate with freshly-aggregated delta rows
    instead of recomputing over all history. new = old ⊎ agg(delta),
    where ⊎ sums the partial columns (counts merge as sums). Cost is
    O(|delta| + |keys touched|) — the pattern that keeps daily 100 TB
    aggregation jobs incremental rather than full-recompute.
    """
    merged = old_agg.withColumn("_src", F.lit(0)).unionByName(
        delta.withColumn("_src", F.lit(1))
    )
    return merged.groupBy(*key_cols).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def kfold_assign(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """K-fold cross-validation fold assignment: a pure narrow
    transformation (no shuffle, no global state) that hashes the key to
    a fold in [0, k). It is stable under any
    repartitioning and any subset of the data — a key's fold never
    changes — which is what makes held-out folds trustworthy across
    pipeline re-runs. md5-derived (not xxhash) so the assignment is
    bit-reproducible in any engine, and salted with 'cv' so folds are
    independent of the other md5-keyed samplers."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("cv"), F.col(key_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    return df.withColumn("fold", (h % k).cast("int"))


def data_quality_summary(
    orders: DataFrame, lineitem: DataFrame, customer: DataFrame
) -> DataFrame:
    """Constraint-validation suite (the dbt-tests / Deequ shape): each
    check is one declarative aggregate; the result is a tiny
    (check_name, n_violations) table a pipeline gates on.

    Scale shape: the row-local checks (nulls, ranges, duplicates) are
    single-shuffle aggregates; the referential checks are anti-joins
    that broadcast when the parent side is dim-sized and shuffle-join
    otherwise — Catalyst's choice, not ours. All checks share scans
    where possible but remain independent aggregates, so a failed check
    can be re-run alone.
    """
    dup_keys = (
        lineitem.groupBy("l_orderkey", "l_linenumber")
        .count()
        .filter(F.col("count") > 1)
    )
    orphan_li = lineitem.join(
        orders.select("o_orderkey"),
        lineitem.l_orderkey == orders.o_orderkey,
        "left_anti",
    )
    orphan_orders = orders.join(
        customer.select("c_custkey"),
        orders.o_custkey == customer.c_custkey,
        "left_anti",
    )
    ship_before_order = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") < F.col("o_orderdate"))

    def _check(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count("*").cast("bigint").alias("n_violations"),
        )

    checks = [
        _check("null_custkey", orders.filter(F.col("o_custkey").isNull())),
        _check(
            "nonpositive_quantity",
            lineitem.filter(F.col("l_quantity") <= 0),
        ),
        _check(
            "negative_totalprice", orders.filter(F.col("o_totalprice") < 0)
        ),
        _check("duplicate_lineitem_key", dup_keys),
        _check("orphan_lineitem", orphan_li),
        _check("orphan_order_customer", orphan_orders),
        _check("ship_before_order", ship_before_order),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key: str,
    compare_cols: list[str],
) -> DataFrame:
    """Row-level diff between two snapshots of a keyed table: each key
    becomes 'added' (new only), 'removed' (old only), 'changed' (both,
    any compare column differs) or 'unchanged' — the change-data-feed a
    downstream incremental consumer reads instead of re-scanning the
    table.

    One full-outer shuffle join on the key; the comparison is a struct
    equality (null-safe <=> per column) so adding compare columns never
    adds shuffles. At 100 TB both snapshots are bucketed on the key at
    write time and the join is exchange-free.
    """
    o = old.select(
        F.col(key), F.struct(*compare_cols).alias("_old_vals")
    )
    n = new.select(
        F.col(key), F.struct(*compare_cols).alias("_new_vals")
    )
    joined = o.join(n, key, "full_outer")
    status = (
        F.when(F.col("_old_vals").isNull(), "added")
        .when(F.col("_new_vals").isNull(), "removed")
        .when(F.col("_old_vals").eqNullSafe(F.col("_new_vals")), "unchanged")
        .otherwise("changed")
    )
    return joined.select(F.col(key), status.alias("diff_status"))


def cogrouped_reconcile(old: DataFrame, new: DataFrame) -> DataFrame:
    """Per-key snapshot reconciliation via ``cogroup().applyInPandas`` —
    the escape hatch for per-key logic joins can't express (custom
    matching, ordered merges, model scoring over both sides at once).
    THIS aggregate is deliberately join-expressible so the Python path
    is exactly verifiable against a full-outer SQL oracle; prefer
    ``snapshot_diff`` (pure JVM) when the logic fits a join.

    Each key's rows from both snapshots arrive together in one pair of
    pandas frames (empty frame when a side lacks the key — both cases
    exercised). Shuffle cost equals the equivalent join's: both sides
    exchange on the key once; worker memory is bounded by the largest
    single key, the operator's real scale limit (salt the key first if
    one key can exceed an executor).

    Lineage guard: when ``old`` and ``new`` are two filters of the SAME
    DataFrame (the normal snapshot-diff shape), their columns carry
    identical attribute ids, and Spark's cogroup attribute
    deduplication can hand the Python worker a right-side frame holding
    ONLY the grouping key (observed: sf-dependent, because an upstream
    normalization projection re-mints ids on some inputs). Both sides
    are therefore passed through an explicit re-aliasing projection,
    which mints fresh attribute ids and costs nothing (a narrow
    Project the optimizer keeps because the ids differ)."""
    import pandas as pd

    old = old.select(*[F.col(c).alias(c) for c in old.columns])
    new = new.select(*[F.col(c).alias(c) for c in new.columns])

    def reconcile(kdf_old: pd.DataFrame, kdf_new: pd.DataFrame) -> pd.DataFrame:
        ko = (
            dict(zip(kdf_old[ID_COL], kdf_old[VALUE_COL]))
            if len(kdf_old)
            else {}
        )
        kn = (
            dict(zip(kdf_new[ID_COL], kdf_new[VALUE_COL]))
            if len(kdf_new)
            else {}
        )
        kval = (kdf_old if len(kdf_old) else kdf_new)[KEY_COL].iloc[0]
        common = ko.keys() & kn.keys()
        changed = sum(1 for i in common if ko[i] != kn[i])
        return pd.DataFrame(
            [
                (
                    int(kval),
                    len(kn.keys() - ko.keys()),
                    len(ko.keys() - kn.keys()),
                    changed,
                    len(common) - changed,
                )
            ],
            columns=[KEY_COL, "n_added", "n_removed", "n_changed", "n_same"],
        )

    return (
        old.groupBy(KEY_COL)
        .cogroup(new.groupBy(KEY_COL))
        .applyInPandas(
            reconcile,
            f"{KEY_COL} long, n_added long, n_removed long, "
            "n_changed long, n_same long",
        )
    )


def pareto_frontier_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """2-D skyline: rows not STRICTLY dominated in both dimensions
    (no other row has x' > x AND y' > y). Multi-objective selection —
    e.g. quality-vs-cost corpus pruning — without the O(n²) dominance
    self-join: classic sweep as relational ops.

    Shape: collapse to the per-x max of y (one shuffle, map-side
    combined), then a running max over x-descending tells each x the
    best y among strictly-greater x; a row survives iff its y is not
    beaten by that. The sweep is ``prefix_scan``'s max of ``_ymax``
    before each x in descending x (NULL for the largest x) — parallel
    even when distinct x is data-sized, no single-partition WindowExec.
    """
    per_x = df.groupBy(x).agg(F.max(y).alias("_ymax"))
    sweep, _ = prefix_scan(per_x, F.col(x).desc(), {"_sgm": ("max", "_ymax")})
    sweep = sweep.select(x, "_sgm")
    return (
        df.join(sweep, x)
        .filter(F.col("_sgm").isNull() | (F.col("_sgm") <= F.col(y)))
        .drop("_sgm")
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    fractions_ppm: dict[str, int],
) -> DataFrame:
    """Deterministic stratified sampling: keep a row iff
    md5('strat'|key) % 1e6 < fractions_ppm[stratum].

    Unlike ``DataFrame.sampleBy`` (seeded Bernoulli per task — resample
    on every retry/repartition), this is a pure function of the KEY:
    stable under re-runs, partitioning, and subsetting, and a key keeps
    or loses membership atomically across tables sharing the salt —
    the property that makes downsampled joins consistent. The strata
    thresholds ride a broadcast dim, so the filter is a narrow map-side
    operation with full predicate pushdown past it.
    """
    spark = df.sparkSession
    dim = spark.createDataFrame(
        [(k, int(v)) for k, v in fractions_ppm.items()],
        f"{strata_col} string, _thr_ppm int",
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.lit("strat"), F.col(key_col).cast("string"))),
            1, 8,
        ),
        16, 10,
    ).cast("bigint")
    return (
        df.join(F.broadcast(dim), strata_col)
        .filter(h % 1_000_000 < F.col("_thr_ppm"))
        .drop("_thr_ppm")
    )


def uniform_k_sample(
    df: DataFrame, group_col: str, key_col: str, k: int
) -> DataFrame:
    """Fixed-SIZE deterministic uniform sample: the k members of each
    group with the smallest md5('ks'|key) — the hash order is a random
    permutation as far as any real attribute is concerned, so this is
    a uniform k-subset, yet fully reproducible (same members on every
    run/engine) and incremental-friendly: a member only leaves the
    sample when a smaller-hash member arrives.

    Complements ``stratified_sample`` (fixed FRACTION): quota per group
    vs rate per group. Plan: one shuffle on the group key, per-group
    rank over the hash, filter. For pathologically large groups the
    sort-per-group can be pre-pruned with a coarse hash-prefix filter
    (keep hashes < t where t conservatively over-covers k, then rank) —
    the standard sample-and-prune refinement; not needed at dim-sized
    group counts.
    """
    h = F.md5(F.concat_ws("|", F.lit("ks"), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(h.asc())
    return (
        df.withColumn("_krn", F.row_number().over(w))
        .filter(F.col("_krn") <= k)
        .drop("_krn")
    )


def weighted_k_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Fixed-size WEIGHTED sample without replacement per group — the
    Efraimidis-Spirakis A-Res scheme (2006): each row draws a
    deterministic uniform u = md5-normalized('ws'|key) and competes on
    score ln(u)/w; the k largest scores per group are a weighted
    k-subset (inclusion probability proportional to weight, exactly the
    reservoir property A-Res proves). The quality-weighted document
    sampling step of a training-data mixture: weight = quality score or
    token count, and the selection is reproducible on every run, every
    engine, every subset of the data.

    ln(u)/w rather than u^(1/w): same order (both monotone in u for
    fixed w), better conditioned for tiny weights (no underflow to a
    0.0 tie-cluster). u is normalized from the first 12 hex chars of
    the md5 (48 bits, exact in a double) and floored at 2^-48 so ln
    never sees zero. Rows with non-positive weight are excluded (their
    inclusion probability is zero/undefined in A-Res).

    Plan: one shuffle on the group key + per-group rank — identical
    shape (and the same large-group pre-prune refinement) as
    ``uniform_k_sample``, which is the w=const special case.
    """
    u = F.greatest(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws("|", F.lit("ws"), F.col(key_col).cast("string"))
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("double")
        / float(16**12),
        F.lit(2.0**-48),
    )
    score = F.log(u) / F.col(weight_col)
    w = Window.partitionBy(group_col).orderBy(
        score.desc(), F.col(key_col)
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("_wrn", F.row_number().over(w))
        .filter(F.col("_wrn") <= k)
        .drop("_wrn")
    )


def exact_auc(df: DataFrame, score_col: str, label_col: str) -> DataFrame:
    """EXACT tie-aware ROC AUC via the rank-sum (Mann-Whitney) identity,
    returned as one row: npos, nneg, auc_num2, auc_ppm.

    Aggregates to distinct scores first (pos/neg counts — map-side
    combined, so the shuffle is |distinct scores|, not |rows|), then
    takes the negative count below each score from ``prefix_scan`` —
    the scale-safe two-phase prefix sum — instead of an unpartitioned
    ``OVER (ORDER BY score)`` that would pin every distinct score on
    one task. The numerator is kept in DOUBLED units so each tie's
    half-credit stays integral: num2 = sum pos_s*(2*below_s + neg_s);
    AUC = num2 / (2*npos*nneg), shipped as bigint floor-division ppm.

    ``label_col`` must be 0/1 int; ``score_col`` must be an exact
    (integer) type — float scores should be scaled to integer units
    first, which is what makes the result reproducible at all.
    """
    g = df.groupBy(score_col).agg(
        F.sum(label_col).cast("bigint").alias("pos"),
        (F.count("*") - F.sum(label_col)).cast("bigint").alias("neg"),
    )
    c, _ = prefix_scan(g, score_col, {"below": ("sum", "neg")})
    c = c.fillna(0, ["below"])
    return c.agg(
        F.sum("pos").cast("bigint").alias("npos"),
        F.sum("neg").cast("bigint").alias("nneg"),
        F.sum(F.col("pos") * (2 * F.col("below") + F.col("neg")))
        .cast("bigint")
        .alias("auc_num2"),
    ).select(
        "npos",
        "nneg",
        "auc_num2",
        F.expr(
            "CAST((1000000 * CAST(auc_num2 AS DECIMAL(38,0))) DIV "
            "(2 * CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


def exact_average_precision(
    df: DataFrame, score_col: str, label_col: str
) -> DataFrame:
    """EXACT tie-aware average precision (PR-AUC companion of
    ``exact_auc``), one row: npos, n_total, ap_num, ap_ppm.

    Tie convention: a tied score block is scored at the block's END
    precision (descending order, cumulative counts inclusive of the
    whole block) — every positive inside a tie contributes
    precision@block-end, the pessimistic-and-deterministic reading a
    ranking eval needs when scores collide. AP =
    (1/npos) * sum over blocks of pos_s * precision_micro(s), with
    precision_micro = (1e6 * cum_pos) DIV cum_all — all-bigint floor
    division (every quantity non-negative, so Spark's truncating DIV
    and the oracle's flooring // agree).

    Scale: aggregates to distinct scores first (map-side combined;
    shuffle = |distinct scores|), then ONE ``prefix_scan`` in descending
    score carries both cumulative counts — never an unpartitioned
    ``OVER (ORDER BY score)``. ``score_col`` must be an
    exact integer type; ``label_col`` 0/1 int.
    """
    g = df.groupBy(score_col).agg(
        F.sum(label_col).cast("bigint").alias("pos"),
        F.count("*").cast("bigint").alias("all"),
    )
    c, _ = prefix_scan(
        g,
        F.col(score_col).desc(),
        {"cum_pos": ("sum", "pos"), "cum_all": ("sum", "all")},
    )
    # the block's own counts: cumulative counts are inclusive of it
    term = F.expr(
        "pos * ((1000000 * (coalesce(cum_pos, 0) + pos)) "
        "DIV (coalesce(cum_all, 0) + `all`))"
    )
    return (
        c.agg(
            F.sum("pos").cast("bigint").alias("npos"),
            F.sum("all").cast("bigint").alias("n_total"),
            F.sum(term).cast("bigint").alias("ap_num"),
        )
        .select(
            "npos",
            "n_total",
            "ap_num",
            F.expr("CAST(ap_num DIV npos AS BIGINT)").alias("ap_ppm"),
        )
    )


def weighted_median(
    df: DataFrame, key: str, value_col: str, weight_col: str
) -> DataFrame:
    """Per-key weighted LOWER median: the smallest value whose
    cumulative weight reaches half the key's total, decided in exact
    integer arithmetic (2*cumw >= totw — no float quantile ambiguity).

    Built for LOW-cardinality keys (brands, languages, countries):
    collapses to (key, value) weight sums map-side, then rides the keyed
    ``prefix_scan`` — a ``partitionBy(key)`` window here would drag
    each key's full 100 TB slice onto a single task.
    Weights must be non-negative integers (cast upstream).
    """
    g = df.groupBy(key, value_col).agg(
        F.sum(weight_col).cast("bigint").alias("_w")
    )
    c, _ = prefix_scan(g, value_col, {"_cumw": ("sum", "_w")}, key=key)
    c = c.withColumn("_cumw", F.coalesce("_cumw", F.lit(0)) + F.col("_w"))
    t = g.groupBy(F.col(key).alias("_k")).agg(
        F.sum("_w").cast("bigint").alias("_totw")
    )
    return (
        # NULL-safe, so the NULL key keeps its median as in GROUP BY
        c.join(F.broadcast(t), F.col(key).eqNullSafe(F.col("_k")))
        .groupBy(key)
        .agg(
            F.min(
                F.when(2 * F.col("_cumw") >= F.col("_totw"), F.col(value_col))
            ).alias("wmedian"),
            F.any_value("_totw").alias("total_weight"),
        )
    )


# ---------------------------------------------------------------------------
# Consistent-hash ring successor join (deterministic sampling / routing)
# ---------------------------------------------------------------------------


def ring_successor_join(
    points: DataFrame,
    targets: DataFrame,
    point_id: str,
    point_hash: str,
    target_hash: str,
    n_buckets: int = 16,
) -> DataFrame:
    """For every target row, the point with the smallest ``point_hash``
    >= ``target_hash`` (lexicographic, ties match), wrapping to the
    globally smallest point — the consistent-hashing ring lookup, as a
    set operation instead of a per-row binary search.

    Distributed form: both sides bucket by a hash prefix (the first
    ``log16(n_buckets)`` hex nibbles), so the successor scan is a
    PARTITIONED window (union-tag + running last-seen over hash desc
    within the bucket) — never a single-partition sort. A target whose
    bucket holds no successor falls through to the first point of the
    next non-empty bucket, which is metadata: one ``n_buckets``-row
    aggregate folded driver-side into a literal map (the same pattern
    as ``prefix_scan``'s offsets). Scale: one shuffle of
    |points|+|targets| rows on the prefix; bucket count grows with the
    ring so each partition stays memory-sized; skew impossible —
    md5 prefixes are uniform by construction.

    Returns ``targets``'s columns plus ``<point_id>_succ``."""
    # prefix nibbles -> bucket id (hex chars sort = numeric order)
    nib = max(1, (n_buckets - 1).bit_length() // 4 or 1)
    n_buckets = 16 ** nib

    def bucket_of(h) -> Column:
        return F.conv(F.substring(h, 1, nib), 16, 10).cast("int")

    p = points.select(
        bucket_of(F.col(point_hash)).alias("_b"),
        F.col(point_hash).alias("_h"),
        F.col(point_id).alias("_pid_ring"),
        F.lit(1).alias("_is_ring"),
    )
    tcols = targets.columns
    t = targets.select(
        *tcols,
        bucket_of(F.col(target_hash)).alias("_b"),
        F.col(target_hash).alias("_h"),
        F.lit(None).cast(p.schema["_pid_ring"].dataType).alias("_pid_ring"),
        F.lit(0).alias("_is_ring"),
    )
    unioned = p.select(
        *[F.lit(None).cast(t.schema[c].dataType).alias(c) for c in tcols],
        "_b", "_h", "_pid_ring", "_is_ring",
    ).unionByName(t)
    # scan hash DESC: every ring row already seen has _h >= target._h,
    # and the most recent one is the smallest such (ring rows first at
    # exact ties so equality matches)
    w = (
        Window.partitionBy("_b")
        .orderBy(F.col("_h").desc(), F.col("_is_ring").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    scanned = unioned.withColumn(
        "_succ_in_bucket", F.last("_pid_ring", ignorenulls=True).over(w)
    )
    # fallback: first (min-hash) ring point of the next non-empty bucket
    # cyclically — n_buckets rows of metadata, folded driver-side
    per_bucket = (
        p.groupBy("_b")
        .agg(F.min_by("_pid_ring", "_h").alias("first_pid"))
        .collect()
    )
    first_of = {r["_b"]: r["first_pid"] for r in per_bucket}
    fallback: dict[int, object] = {}
    if first_of:
        order = sorted(first_of)
        for b in range(n_buckets):
            nxt = next((x for x in order if x > b), order[0])
            fallback[b] = first_of[nxt]
    pairs: list[Column] = []
    for b, pid in fallback.items():
        pairs.append(F.lit(b))
        pairs.append(F.lit(pid))
    fb_col = F.create_map(*pairs)[F.col("_b")] if pairs else F.lit(None)
    out_col = f"{point_id}_succ"
    return (
        scanned.filter(F.col("_is_ring") == 0)
        .withColumn(out_col, F.coalesce(F.col("_succ_in_bucket"), fb_col))
        .select(*tcols, out_col)
    )


def scd2_history(snapshots: DataFrame, key_col: str, version_col: str,
                 attr_cols: list[str]) -> DataFrame:
    """Type-2 slowly-changing-dimension assembly: collapse a sequence of
    per-version extracts into validity intervals — one row per (key,
    unchanged-attribute run) with ``valid_from``/``valid_to`` versions.
    The warehouse-history twin of ``snapshot_diff`` (which compares two
    versions; this folds N of them).

    Gaps-and-islands per key ordered by version: a row opens a new
    interval when any tracked attribute differs from the previous
    version (``eqNullSafe`` makes the first version open one, and a
    NULL attribute change count). One shuffle on the key; interval
    state per key is bounded by the number of CHANGES, not versions —
    the property that makes SCD2 the storage-efficient history format.
    Keys absent from a version simply don't extend their interval
    (extract-based SCD2; deletions are a tombstone attr upstream)."""
    w = Window.partitionBy(key_col).orderBy(version_col)
    chg = F.lit(False)
    for c in attr_cols:
        chg = chg | ~F.col(c).eqNullSafe(F.lag(c).over(w))
    run = (
        snapshots.withColumn("_chg", F.when(chg, 1).otherwise(0))
        .withColumn(
            "_island",
            F.sum("_chg").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return run.groupBy(key_col, "_island").agg(
        F.min(version_col).alias("valid_from"),
        F.max(version_col).alias("valid_to"),
        *[F.first(c).alias(c) for c in attr_cols],
    ).drop("_island")


def exact_auc_by_group(
    df: DataFrame, group_col: str, score_col: str, label_col: str
) -> DataFrame:
    """Per-group EXACT tie-aware ROC AUC — the segment-level model
    evaluation (per fold, per cohort, per data source) that catches a
    model scoring 0.9 globally and 0.55 on one slice.

    Same rank-sum identity and integer discipline as ``exact_auc``;
    the negative count below each score now keys on ``group_col``,
    which is what the keyed ``prefix_scan`` exists for: one group can
    span many partitions, no group ever pins a task. Groups with no
    positives or no negatives report NULL auc_ppm (undefined), with
    counts still exported.
    """
    g = df.groupBy(group_col, score_col).agg(
        F.sum(label_col).cast("bigint").alias("pos"),
        (F.count("*") - F.sum(label_col)).cast("bigint").alias("neg"),
    )
    c, _ = prefix_scan(g, score_col, {"below": ("sum", "neg")}, key=group_col)
    c = c.fillna(0, ["below"])
    return (
        c.groupBy(group_col)
        .agg(
            F.sum("pos").cast("bigint").alias("npos"),
            F.sum("neg").cast("bigint").alias("nneg"),
            F.sum(F.col("pos") * (2 * F.col("below") + F.col("neg")))
            .cast("bigint")
            .alias("auc_num2"),
        )
        .selectExpr(
            f"`{group_col}`",
            "npos",
            "nneg",
            "auc_num2",
            "CASE WHEN npos > 0 AND nneg > 0 THEN "
            "CAST((1000000 * CAST(auc_num2 AS DECIMAL(38,0))) DIV "
            "(2 * CAST(npos AS DECIMAL(38,0)) * nneg) AS BIGINT) "
            "END AS auc_ppm",
        )
    )


def oof_target_encoding(
    df: DataFrame,
    cat_col: str,
    fold_col: str,
    target_col: str,
) -> DataFrame:
    """Out-of-fold target encoding table — the leakage-safe form of the
    classic "replace category with its mean target" feature: the
    encoding served to fold f for category c is the mean target over
    every OTHER fold's rows of c, so no row's own target leaks into
    its own feature (the mistake that makes offline AUC lie).

    Returns one row per (category, fold): out-of-fold count and the
    mean as an exact rational (enc_num = Σtarget − Σtarget_fold,
    enc_den = n − n_fold) — serving joins this metadata-sized table
    back broadcast and divides at the edge. Folds with no
    out-of-fold rows (a category seen in only one fold) export NULL
    ppm with the zero den intact, so the consumer sees "no safe
    encoding" instead of a silent global fallback.

    Shape: ONE map-side-combined shuffle on (category, fold); the
    per-category roll-up re-aggregates those cells (grouping-sets
    style), and the final table is |categories|·|folds| rows of
    metadata at any fact scale.
    """
    cells = (
        df.select(
            F.col(cat_col).alias("cat"),
            F.col(fold_col).alias("fold"),
            F.col(target_col).cast("bigint").alias("t"),
        )
        .groupBy("cat", "fold")
        .agg(
            F.count("*").cast("bigint").alias("n_f"),
            F.sum("t").cast("bigint").alias("s_f"),
        )
    )
    cat_tot = cells.groupBy("cat").agg(
        F.sum("n_f").cast("bigint").alias("n_c"),
        F.sum("s_f").cast("bigint").alias("s_c"),
    )
    return (
        cells.join(cat_tot, "cat")
        .selectExpr(
            "cat",
            "fold",
            "CAST(s_c - s_f AS BIGINT) AS enc_num",
            "CAST(n_c - n_f AS BIGINT) AS enc_den",
            "CASE WHEN n_c > n_f THEN "
            "CAST(sign(s_c - s_f) * (abs(s_c - s_f) * 1000000 "
            "DIV (n_c - n_f)) AS BIGINT) END AS enc_mean_ppm",
        )
    )


def blocked_levenshtein_join(
    left: DataFrame,
    right: DataFrame,
    left_name: str,
    right_name: str,
    max_dist: int = 2,
) -> DataFrame:
    """Fact-fact fuzzy name matching the record-linkage way: an
    equi-join on a BLOCKING key (the first whitespace token) makes the
    candidate set tractable, a cheap length-difference predicate prunes
    it further (an edit distance ≤ d cannot bridge a length gap > d),
    and only surviving candidates pay the O(len²) ``levenshtein``.
    Without blocking this is a |L|·|R| nested loop — the thing
    ``fuzzy_string_match``'s broadcast-dim shape explicitly is not for.

    Returns (left name, right name, dist ≤ ``max_dist``) distinct
    pairs. Recall bound is explicit: a typo INSIDE the first token
    changes the block and the pair is missed — standard practice is a
    second pass with a different key (e.g. last token, or a phonetic
    code) unioned in; this operator is one such pass. Skew: a hot
    first token (brand prefix) concentrates one block — salt it or cap
    block size upstream, exactly like the LSH mega-bucket guard.
    """
    lb = left.select(
        F.col(left_name).alias("_ln"),
        F.expr(f"split(`{left_name}`, ' ')[0]").alias("_blk"),
        F.length(left_name).alias("_ll"),
    ).distinct()
    rb = right.select(
        F.col(right_name).alias("_rn"),
        F.expr(f"split(`{right_name}`, ' ')[0]").alias("_blk"),
        F.length(right_name).alias("_rl"),
    ).distinct()
    return (
        lb.join(rb, "_blk")
        .filter(F.abs(F.col("_ll") - F.col("_rl")) <= max_dist)
        .select(
            F.col("_ln").alias(left_name),
            F.col("_rn").alias(right_name),
            F.levenshtein("_ln", "_rn").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def compaction_plan(
    files: DataFrame,
    target_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Small-file compaction planning — the lakehouse maintenance job
    that turns a long tail of undersized files into target-sized
    rewrite groups (the same planning step Delta OPTIMIZE / Iceberg
    rewrite_data_files runs before launching rewrite tasks).

    Deterministic sorted-fill binning: files ordered by (size desc,
    file_id) are assigned bin = floor(cumulative_size_before / target),
    a single window cumsum — files larger than the target land alone in
    their own bin(s), small files pack together, every bin except
    possibly the last holds >= target/2. This is the streaming analogue
    of first-fit-decreasing that is expressible as ONE window pass (FFD
    proper needs a mutable bin table — O(n^2) semantics that don't
    distribute); sorted-fill's bound (each bin's deficit is covered by
    the next file's spill) is what production table services use.

    The file INVENTORY is metadata (one row per file — millions of rows
    at 100 TB, not billions), so the unpartitioned cumsum window is a
    metadata-sized sort, the same contract as the histogram windows
    pinned in test_plans. Returns one row per planned bin:
    (bin, n_files, total_bytes, min_file, max_file).
    """
    w = (
        Window.orderBy(F.col(SIZE_COL).desc(), F.col(FILE_COL))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum(SIZE_COL).over(w), F.lit(0))
    binned = files.select(
        FILE_COL,
        SIZE_COL,
        F.floor(before / F.lit(float(target_bytes))).cast("bigint").alias("bin"),
    )
    return binned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum(SIZE_COL).alias("total_bytes"),
        F.min(FILE_COL).alias("min_file"),
        F.max(FILE_COL).alias("max_file"),
    )


def join_skew_diagnosis(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    top_k: int = 10,
) -> DataFrame:
    """Pre-flight skew audit for a planned equi-join: per-key output
    cardinality estimate (|left rows| × |right rows| per key — exact,
    not sampled), each hot key's share of the total join output, and a
    recommended salt factor (how many average keys this key equals —
    the fan-out a salted repartition should use for it).

    This is the query an engineer runs BEFORE a 100 TB join: a key
    holding 5% of the output lands 5% of the shuffle on one reducer,
    and AQE's skew splitting only helps sort-merge inputs, not the
    n_l × n_r pair explosion itself. Plan shape: two map-side-combined
    per-key counts (each output ≤ |distinct keys|), an equi-join of
    those two COUNT tables (never the data tables), a broadcast 1-row
    total, and a TakeOrdered top-k — cost is two scans plus a
    distinct-key-sized shuffle regardless of data size.

    Returns (join_key, n_left, n_right, est_rows, share_ppm,
    salt_factor), est_rows DESC / key ASC, exact integer arithmetic.
    """
    lc = left.groupBy(F.col(left_key).alias("join_key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_left")
    )
    rc = right.groupBy(F.col(right_key).alias("join_key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_right")
    )
    per_key = lc.join(rc, "join_key").selectExpr(
        "join_key",
        "n_left",
        "n_right",
        "CAST(n_left * n_right AS BIGINT) AS est_rows",
    )
    totals = per_key.agg(
        F.sum("est_rows").cast("bigint").alias("_total"),
        F.count(F.lit(1)).cast("bigint").alias("_n_keys"),
    )
    return (
        per_key.crossJoin(F.broadcast(totals))
        .selectExpr(
            "join_key",
            "n_left",
            "n_right",
            "est_rows",
            "CAST((1000000 * est_rows) DIV _total AS BIGINT) AS share_ppm",
            # ceil(est * n_keys / total): 1 for an average key
            "CAST((est_rows * _n_keys + _total - 1) DIV _total AS BIGINT) "
            "AS salt_factor",
        )
        .orderBy(F.col("est_rows").desc(), F.col("join_key"))
        .limit(top_k)
    )


def file_skipping_stats(
    df: DataFrame,
    file_col: str,
    day_col: str,
    month_col: str,
) -> DataFrame:
    """Zone-map pruning audit: for every probe month, how many files a
    min/max-pruned scan must read, and the read amplification versus
    the rows actually in range. This quantifies what the LAYOUT is
    worth — the number an engineer checks before deciding whether a
    table needs re-clustering (``zorder_layout_stats`` computes the
    candidate layout; this measures the incumbent's skipping power).

    ``df`` must already expose the simulated file id (``file_col`` —
    e.g. insertion order DIV rows-per-file), the value's epoch day
    (``day_col``) and its probe month's first epoch day
    (``month_col``). Two map-side-combined aggregations build the
    per-file zone map (min/max/count — #files rows) and the per-month
    row counts (#months rows); the overlap join runs on those two
    METADATA tables, never the data. Exactly how parquet row-group
    pruning math works at 100 TB: the footers ARE this zone-map table.

    Returns per month: n_files, files_scanned, file_skip_ppm,
    rows_in_range, rows_scanned, read_amp_ppm (1e6·scanned/in-range;
    NULL when the month has no rows).
    """
    zones = df.groupBy(F.col(file_col).alias("_f")).agg(
        F.min(day_col).alias("_lo"),
        F.max(day_col).alias("_hi"),
        F.count(F.lit(1)).cast("bigint").alias("_rows"),
    )
    months = df.groupBy(F.col(month_col).alias("probe_month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_in_range"),
        # month end = first epoch day of the next month: months are
        # data-derived, so take the min day >= start + 28 … simpler and
        # exact: max day in the month + 1 bounds the month's data
        F.min(day_col).alias("_mstart"),
        F.max(day_col).alias("_mend"),
    )
    n_files = zones.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files")
    )
    scanned = (
        F.broadcast(months)
        .join(
            zones,
            (F.col("_lo") <= F.col("_mend"))
            & (F.col("_hi") >= F.col("_mstart")),
        )
        .groupBy("probe_month", "rows_in_range")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("files_scanned"),
            F.sum("_rows").cast("bigint").alias("rows_scanned"),
        )
    )
    return scanned.crossJoin(F.broadcast(n_files)).selectExpr(
        "probe_month",
        "n_files",
        "files_scanned",
        "CAST((1000000 * (n_files - files_scanned)) DIV n_files AS BIGINT)"
        " AS file_skip_ppm",
        "rows_in_range",
        "rows_scanned",
        "CAST((1000000 * rows_scanned) DIV rows_in_range AS BIGINT)"
        " AS read_amp_ppm",
    )
