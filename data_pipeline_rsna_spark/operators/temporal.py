"""Temporal join operators Spark has no native primitive for (X8+).

- **as-of join** (``asof_join``): for every left row, the latest right
  row with ``right.ts <= left.ts`` per key. Implemented as the
  union-tag + running-last-value composition: one shuffle on the key,
  one ordered window pass — the classic distributed formulation (no
  per-key loops, no theta join). Equivalent to DuckDB/kdb ASOF JOIN,
  which is exactly what the differential oracle uses.

- **range join** (``range_join_bucketed``): point-in-interval equi-key
  join without the naive theta-join plan (which Spark executes as a
  key-equi join + post-filter fine, but engines without that fall back
  to BNLJ). Buckets the time axis: an interval is exploded onto the
  buckets it covers, a point carries its single bucket, and the join
  runs on (key, bucket) followed by the exact containment predicate.
  Join fan-out is interval_span/bucket per interval — bounded and
  chosen, instead of |points|·|intervals| per key.

Both are pure DataFrame compositions: Catalyst sees ordinary shuffles,
windows and equi-joins, so AQE skew handling and partial aggregation
apply as usual.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

TS_COL = "ts"
START_COL = "start"
END_COL = "end"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    value_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Left as-of join: latest right values with right.ts <= left.ts.

    Right rows sort before left rows at equal timestamps (ties match,
    per the usual backward as-of semantics). Left rows with no earlier
    right row keep nulls. Cost: one hash shuffle on ``key`` + one sort
    per partition — independent of how many right rows precede each
    left row (the window carries only the last value forward).

    ``tolerance_seconds`` adds the feature-store staleness bound
    (point-in-time join): a match older than the bound nulls out, so a
    feature value never silently serves past its freshness contract.
    Same plan — the matched right timestamp rides the same
    last-value-forward window; the bound is one more narrow predicate.

    Semantics are ROW-level (DuckDB/kdb ASOF): the matched right row is
    carried as one struct, so the served values and the timestamp the
    staleness bound checks always come from the SAME (latest) right
    row. A genuinely-NULL right value column serves NULL — it is never
    papered over by an older row's value, which would both diverge from
    ASOF semantics and let a stale value ride a newer row's timestamp
    past the freshness check.
    """
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, TS_COL)
    ]
    lcols = [c for c in left.columns]
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(TS_COL).alias("_ts"),
        F.lit(1).alias("_is_left"),
        F.struct(*lcols).alias("_lrow"),
        F.lit(None).cast(
            "struct<" + ",".join(
                [f"_ts:{right.schema[TS_COL].dataType.simpleString()}"]
                + [
                    f"{c}:{right.schema[c].dataType.simpleString()}"
                    for c in value_cols
                ]
            ) + ">"
        ).alias("_rrow"),
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(TS_COL).alias("_ts"),
        F.lit(0).alias("_is_left"),
        F.lit(None).cast(
            l_tagged.schema["_lrow"].dataType
        ).alias("_lrow"),
        F.struct(
            F.col(TS_COL).alias("_ts"),
            *[F.col(c) for c in value_cols],
        ).alias("_rrow"),
    )
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # The struct is non-null for every right row even when its value
    # fields are null, so ignorenulls skips exactly the left rows.
    filled = l_tagged.unionByName(r_tagged).select(
        "_is_left",
        "_lrow",
        "_ts",
        F.last("_rrow", ignorenulls=True).over(w).alias("_rrow"),
    )
    fresh = (
        F.lit(True)
        if tolerance_seconds is None
        else (
            F.col("_ts").cast("long") - F.col("_rrow._ts").cast("long")
            <= tolerance_seconds
        )
    )
    return filled.filter(F.col("_is_left") == 1).select(
        *[F.col(f"_lrow.{c}").alias(c) for c in lcols],
        *[
            F.when(fresh, F.col(f"_rrow.{c}")).alias(f"{c}_asof")
            for c in value_cols
        ],
    )


def range_join_bucketed(
    points: DataFrame,
    intervals: DataFrame,
    key: str,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Inner join of points into half-open intervals [start, end) that
    share ``key``, via time-axis bucketing.

    A point lives in exactly one bucket, so each qualifying
    (point, interval) pair is produced exactly once — no dedup pass.
    Choose ``bucket_seconds`` near the typical interval span: fan-out
    per interval is ceil(span/bucket)+1 rows.
    """
    p_bucket = (F.unix_timestamp(F.col(TS_COL)) / bucket_seconds).cast("long")
    p = points.withColumn("_bucket", p_bucket)
    s = (F.unix_timestamp(F.col(START_COL)) / bucket_seconds).cast("long")
    e = (F.unix_timestamp(F.col(END_COL)) / bucket_seconds).cast("long")
    iv = intervals.withColumn(
        "_bucket", F.explode(F.sequence(s, e))
    )
    cond = (
        (F.col(f"p.{key}") == F.col(f"i.{key}"))
        & (F.col("p._bucket") == F.col("i._bucket"))
        & (F.col(f"p.{TS_COL}") >= F.col(f"i.{START_COL}"))
        & (F.col(f"p.{TS_COL}") < F.col(f"i.{END_COL}"))
    )
    out_cols = [F.col(f"p.{c}") for c in points.columns] + [
        F.col(f"i.{c}") for c in intervals.columns if c != key
    ]
    return p.alias("p").join(iv.alias("i"), cond).select(*out_cols)


def time_weighted_sum(events: DataFrame) -> DataFrame:
    """Per-user time-weighted value integral in EXACT integer units:
    sum over consecutive event pairs of (Δt in microseconds) × (value
    in cents), i.e. the step-function integral a monitoring system
    calls "time-weighted average" before the final division.

    Exported as the raw bigint numerator plus the span, because the
    division is the only lossy step — callers (and the oracle) divide
    when they want the average, at whatever precision they choose.
    Epoch microseconds are bigint on both engines (Spark unix_micros ==
    DuckDB epoch_us), so every term is exact: Δt ≤ months ~ 1e13 µs ×
    cents ≤ 1e5 stays far below int64.

    Plan: one shuffle on user_id serves the lead() ordering AND the
    final per-user aggregate (same clustering); everything between is
    narrow. The classic at-scale trap — daily TWA over years of data —
    is the same plan over (user_id, day) after an interval clip.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    us = F.unix_micros(F.col("ts"))
    seg = events.select(
        "user_id",
        us.alias("t_us"),
        F.lead(us).over(w).alias("next_us"),
        cents.alias("cents"),
    )
    return (
        seg.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(
                    F.col("next_us").isNotNull(),
                    (F.col("next_us") - F.col("t_us")) * F.col("cents"),
                ).otherwise(F.lit(0))
            ).alias("twa_num_us_cents"),
            (F.max("t_us") - F.min("t_us")).alias("span_us"),
        )
    )


def interval_overlap_pairs(
    intervals: DataFrame,
    key_col: str,
    id_col: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """All pairs of overlapping closed intervals WITHIN each key — the
    double-booking / conflicting-reservation shape. Returns (key, id_a,
    id_b, overlap span) with id_a < id_b, span in the start/end units.

    Plan: one equi-join co-partitioned on the key; the per-key pair
    check is quadratic only in intervals-per-key, which real workloads
    bound (a customer's concurrent orders, a room's bookings). For
    UNKEYED interval sets, compose the 1-D analogue of
    ``spatial.radius_join``: bucket intervals into coarse time cells,
    equi-join on the cell, de-duplicate pairs spanning multiple cells —
    same blocking-completeness argument, cells sized to the max
    interval length. The complementary aggregate (how MANY overlap at
    once, rather than which pairs) is ``events.session_concurrency_by_
    day``'s sweep line.
    """
    cols = [
        F.col(id_col).alias("id"),
        F.col(key_col).alias("key"),
        F.col(start_col).alias("s"),
        F.col(end_col).alias("e"),
    ]
    a = intervals.select(*cols)
    b = (
        intervals.select(*cols)
        .withColumnRenamed("id", "id_b")
        .withColumnRenamed("s", "s_b")
        .withColumnRenamed("e", "e_b")
    )
    return (
        a.join(b, "key")
        .filter(
            (F.col("id") < F.col("id_b"))
            & (F.col("s") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e"))
        )
        .select(
            F.col("key"),
            F.col("id").alias("id_a"),
            "id_b",
            (
                F.least(F.col("e"), F.col("e_b"))
                - F.greatest(F.col("s"), F.col("s_b"))
            ).alias("overlap"),
        )
    )
