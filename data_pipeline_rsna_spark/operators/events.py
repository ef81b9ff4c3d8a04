"""Windowed event analytics (SURVEY.md §2.3 X5) — batch semantics.

The streaming variants (X6) in ``streaming/events_stream.py`` reuse these
shapes; the batch query is the semantic oracle for the stream (SURVEY.md
§7 hard-part #1).

Scale notes: every aggregation here keys on (user_id | event_type |
window), all high-cardinality or tiny — no skew. Window functions
partition by user_id, so state per task is one user's events; the
sessionize lag/cumsum pattern is a single shuffle on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..lineage import lineage_cut

EVENT_TYPES = ("click", "view", "signup", "purchase", "error")


def hourly_type_agg(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour windows per event type. Window start is exported
    as epoch seconds (bigint) — timestamps never cross an engine
    boundary raw.

    The bucket key is pure integer arithmetic on unix_micros rather
    than ``F.window(...)``: the TimeWindow expression materializes a
    (start, end) timestamp struct per row before the aggregate, which
    measured 25% slower at sf10 (0.91 s vs 0.70 s over 10 M rows) for
    identical output. pmod (not %) keeps floor semantics for pre-epoch
    timestamps, matching time_bucket/date_trunc in other engines;
    the streaming twin keeps F.window (watermarks require it)."""
    window_start = F.expr(
        "(unix_micros(ts) - pmod(unix_micros(ts), 3600000000))"
        " DIV 1000000"
    )
    return events.groupBy(
        window_start.alias("window_start"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        # average exported as exact integer micro-units: decimal
        # rounding of a quotient can land on a .5 tie, where Spark
        # (BigDecimal HALF_UP on the shortest repr) and other engines
        # (raw-double arithmetic) disagree; integer cents*1e4 DIV n
        # is bit-identical everywhere
        F.expr(
            "CAST(round(sum(value) * 100) AS BIGINT) * 10000"
            " DIV count(*)"
        ).alias("avg_micro"),
    )


def sessionize(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time since
    the user's previous event exceeds the gap. Returns one row per event
    with its session_id (1-based per user)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond-exact gap: second-granularity casts would misclassify
    # sub-second boundary gaps
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(is_new).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )


def session_stats(events: DataFrame, gap_seconds: int = 1800) -> DataFrame:
    """Per-user session profile: session count + busiest session size."""
    sess = sessionize(events, gap_seconds)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.max("session_id").alias("n_sessions"),
        F.max("n_events").alias("max_session_events"),
        F.sum("n_events").alias("n_events"),
    )


def user_type_pivot(events: DataFrame) -> DataFrame:
    """Per-user event-type counts (explicit pivot values → static schema,
    single shuffle) + total spend."""
    return (
        events.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
        .na.fill(0, list(EVENT_TYPES))
        .select(
            "user_id",
            *[F.col(t).alias(f"n_{t}") for t in EVENT_TYPES],
        )
    )


def top_events_per_type(events: DataFrame, k: int = 5) -> DataFrame:
    """Rank + lag windows: top-k events by value within each type, with
    the gap to the previous (higher) value."""
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        events.withColumn("rank", F.row_number().over(w))
        .withColumn(
            "prev_value", F.round(F.lag("value").over(w), 2)
        )
        .filter(F.col("rank") <= k)
        .select(
            "event_type",
            "rank",
            "event_id",
            F.round("value", 2).alias("value"),
            "prev_value",
        )
    )


def gap_fill_locf(
    obs: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Hypertable-style daily gap fill with LOCF (last observation
    carried forward): densify each key's observed [first_day, last_day]
    span to one row per calendar day, carrying the day's last value
    across the gap days.

    Single-exchange plan: one explicit hash repartition on ``key``
    satisfies every downstream requirement — the per-(key, day) dedup
    window (subset clustering), the per-key lead() window, and the
    explode are all partition-local. No dense-calendar cross join and no
    driver-side min/max collect: each key's gap days are generated from
    its own rows via ``sequence(day, next_day - 1)``, so output volume
    is bounded by (keys x span days) regardless of event count, and a
    key's state never leaves its task (skew = one user's history).

    Value exported as integer cents and day as epoch days, so the
    differential hash never depends on float/date-to-string formatting.
    """
    df = obs.repartition(F.col(key))
    day = F.date_trunc("day", F.col(ts_col)).cast("date")
    w_day = Window.partitionBy(key, "day").orderBy(
        F.col(ts_col).desc(), F.col(tiebreak).desc()
    )
    daily = (
        df.withColumn("day", day)
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select(key, "day", value_col)
    )
    w_seq = Window.partitionBy(key).orderBy("day")
    seq = daily.withColumn("next_day", F.lead("day").over(w_seq))
    filled = seq.select(
        key,
        F.col("day").alias("obs_day"),
        F.explode(
            F.sequence(
                F.col("day"),
                F.coalesce(F.date_sub("next_day", 1), F.col("day")),
            )
        ).alias("gen_day"),
        value_col,
    )
    return filled.select(
        key,
        F.datediff("gen_day", F.lit("1970-01-01")).alias("epoch_day"),
        (F.col("gen_day") == F.col("obs_day")).cast("int").alias("is_observed"),
        F.expr(f"CAST(round({value_col} * 100) AS BIGINT)").alias("value_cents"),
    )


def funnel_steps(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered same-day funnel analysis: for each (user, day), the
    furthest step of ``steps`` reached as an in-order (not necessarily
    adjacent) subsequence of that day's events; output = user-days per
    furthest step.

    One shuffle (groupBy user_id, day): the per-user-day history
    collapses to an ordered type string via sorted collect_list — ties
    broken by event_id so the sequence is deterministic — and the
    subsequence check is a regex over that string (JVM-side, no UDF).
    State per task is one user-day's events; the funnel aggregate
    itself is a #steps-row table."""
    seq = (
        events.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                "|",
            ).alias("seq")
        )
    )
    furthest = F.lit(0)
    for i in range(len(steps)):
        pattern = ".*".join(steps[: i + 1])
        furthest = F.when(F.col("seq").rlike(pattern), i + 1).otherwise(
            furthest
        )
    return (
        seq.select(furthest.alias("furthest_step"))
        .groupBy("furthest_step")
        .agg(F.count("*").alias("n_user_days"))
    )


def cohort_retention(events: DataFrame) -> DataFrame:
    """Cohort retention triangle: users grouped by their first active
    day (the cohort), counted distinct on each later day-offset. The
    canonical growth-analytics rollup.

    Two shuffles, both high-cardinality: a per-user min-day aggregate
    (map-side combine collapses each user's events to one row before
    the wire), broadcast-free join back on user_id — same key, AQE
    plans it off the existing partitioning — then the (cohort, offset)
    cell aggregate with a distinct-user count. Cohort×offset cells are
    date-bounded (days²/2), so the output is tiny at any scale."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    activity = events.select("user_id", day.alias("epoch_day")).distinct()
    first = activity.groupBy("user_id").agg(
        F.min("epoch_day").alias("cohort_day")
    )
    return (
        activity.join(first, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("epoch_day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def sliding_type_agg(events: DataFrame) -> DataFrame:
    """Hopping-window aggregation: 1-hour windows sliding every 15
    minutes, per event type — each event lands in 4 overlapping
    windows. Spark's `window(ts, '1 hour', '15 minutes')` expands the
    memberships narrowly (inside the task, before the shuffle), so the
    shuffle carries 4× the aggregate keys, never 4× the raw events;
    map-side combine collapses per (window, type) first."""
    return (
        events.groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.expr("CAST(round(sum(value) * 100) AS BIGINT)").alias(
                "sum_cents"
            ),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_cents",
        )
    )


def session_concurrency_by_day(
    events: DataFrame, gap_seconds: int = 1800
) -> DataFrame:
    """Peak concurrent sessions per day, by sweep line: each session
    span emits +1 at its start and -1 at its end (closed intervals —
    starts sort before ends at the same microsecond via the 2k / 2k+1
    key), and the running sum of deltas in key order IS the concurrency
    curve; max per calendar day of the delta's timestamp.

    The global prefix sum runs on ``relational.grouped_running_sum``
    with a constant group — one logical sequence spread over many range
    partitions, the exact skew shape that helper exists for; a naive
    ``Window.orderBy(k)`` would drag every session through one task.
    Key ties (two sessions starting the same microsecond) permute only
    the intra-tie running values; the per-day MAX is invariant because
    -1s sort after the +1s of the same instant."""
    from . import relational as rel

    sess = sessionize(events, gap_seconds)
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    starts = spans.select(
        (F.unix_micros("s") * 2).alias("k"),
        F.lit(1).alias("delta"),
        F.col("s").alias("ts"),
    )
    ends = spans.select(
        (F.unix_micros("e") * 2 + 1).alias("k"),
        F.lit(-1).alias("delta"),
        F.col("e").alias("ts"),
    )
    deltas = starts.unionAll(ends).withColumn("_g", F.lit(1))
    cum = rel.grouped_running_sum(
        deltas, "_g", "k", "delta", out_col="concurrency"
    )
    return cum.groupBy(
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("epoch_day")
    ).agg(F.max("concurrency").alias("max_concurrent_sessions"))


def ewma_units(
    events: DataFrame, lookback: int = 20, scale_bits: int = 20
) -> DataFrame:
    """Per-user exponentially-weighted moving sum of event value, with
    alpha = 1/2 and a bounded lookback, in EXACT integer units.

    The classic float EWMA recurrence is order-sensitive in the last
    ulp, so cross-engine (and cross-partitioning!) bit-equality is
    unattainable. This variant is exact: value is fixed-pointed to
    cents, the weight for an event ``d`` steps back is 2^(scale_bits-d)
    — an integer for d <= scale_bits — and the window is the last
    ``lookback`` events, so the weighted sum is pure bigint arithmetic
    (max ~1e5 cents x 2^20 x 20 terms ~ 2^42, far from overflow).
    ``ewma_units / 2^scale_bits`` recovers the conventional weighted
    sum; divide by the per-row weight total for the normalized mean.

    Plan shape: ONE shuffle on user_id serves the ordering and the
    sliding collect_list frame; the weighted fold is a narrow
    higher-order-function projection — no UDF, no second exchange.
    At 100 TB this is the standard keyed-window pattern: per-task state
    is lookback x row-width for the frame, and skewed users cost
    lookback, not history length.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(lookback - 1), 0)
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    with_lst = events.select(
        "user_id", "event_id", "ts", cents.alias("cents")
    ).select(
        "user_id",
        "event_id",
        F.collect_list(F.col("cents")).over(frame).alias("lst"),
    )
    n = F.size(F.col("lst"))
    # element k (oldest-first) is d = n-1-k steps back: weight 2^(S-d)
    weighted = F.transform(
        F.col("lst"),
        lambda x, k: x
        * F.pow(F.lit(2.0), F.lit(scale_bits + 1) - n + k).cast("bigint"),
    )
    total = F.aggregate(
        weighted, F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return with_lst.select("user_id", "event_id", total.alias("ewma_units"))


def rolling_median_x2(events: DataFrame, lookback: int = 15) -> DataFrame:
    """Per-user rolling median of value over the trailing ``lookback``
    events, exported as 2×median in cents (an INTEGER for both parities
    — odd frames hit one element, even frames the sum of the two middle
    elements — so the result is exact cross-engine, no float division).

    Same plan as ewma_units: the user_id shuffle serves ordering and
    the sliding frame, then a narrow array_sort + element_at
    projection. A sliding sorted frame at scale stays cheap because the
    frame is bounded (lookback), independent of user history length.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(lookback - 1), 0)
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")
    with_lst = events.select(
        "user_id", "event_id", "ts", cents.alias("cents")
    ).select(
        "user_id",
        "event_id",
        F.array_sort(F.collect_list("cents").over(frame)).alias("srt"),
    )
    n = F.size("srt")
    mid = F.floor((n + 1) / 2).cast("int")  # upper-middle for even n
    half = F.floor(n / 2).cast("int")
    odd = 2 * F.element_at("srt", mid)
    even = F.element_at("srt", half) + F.element_at("srt", half + F.lit(1))
    med2 = F.when(n % 2 == 1, odd).otherwise(even)
    return with_lst.select(
        "user_id", "event_id", med2.cast("bigint").alias("median_x2_cents")
    )


def user_streaks(events: DataFrame) -> DataFrame:
    """Gaps-and-islands: longest run of CONSECUTIVE active days per
    user. The classic sequence-analytics kernel (login streaks, SLA
    uptime runs, sensor liveness).

    Island detection is the rank-difference trick: within a user, rank
    active days ascending; ``epoch_day - rank`` is constant exactly on
    a consecutive run, so it is the island id — no self-join, no
    iteration. All windows partition by user_id (high-cardinality), so
    no single-task window; the whole thing is one user_id shuffle
    reused by distinct, rank and both aggregates.
    """
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01"))
    active = events.select("user_id", day.alias("epoch_day")).distinct()
    w = Window.partitionBy("user_id").orderBy("epoch_day")
    islands = active.withColumn(
        "island", F.col("epoch_day") - F.row_number().over(w)
    )
    runs = islands.groupBy("user_id", "island").agg(
        F.count("*").alias("run_len")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.sum("run_len").alias("n_active_days"),
    )


def state_intervals(events: DataFrame) -> DataFrame:
    """Run-length collapse of each user's event-type sequence into
    contiguous state intervals — the SCD2/session-state builder: every
    maximal run of identical consecutive event_type becomes one row
    with [start, end] in exact epoch microseconds.

    lag() flags state changes, a running sum of flags numbers the runs
    (1-based), and a grouped min/max/count collapses each run. Order
    within a user is tie-broken on event_id so the result is a pure
    function of the data. One user_id shuffle serves lag, cumsum and
    the final aggregate (same partitioning key throughout).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("t_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    runs = flagged.withColumn("run_seq", F.sum("chg").over(w2))
    return runs.groupBy("user_id", "run_seq").agg(
        F.any_value("event_type").alias("event_type"),
        F.min("t_us").alias("start_us"),
        F.max("t_us").alias("end_us"),
        F.count("*").alias("n_events"),
    )


def transition_matrix(events: DataFrame) -> DataFrame:
    """First-order Markov transition table over each user's event-type
    sequence: counts and ppm row-probabilities for every observed
    (prev_type, next_type) pair — the input to journey analysis and
    next-action models.

    Per-user lag (one user_id shuffle, tie-broken on event_id) emits
    transitions map-side; the pair count groups on a bounded key space
    (|types|²), and the row-normalizing total joins back on a
    |types|-row broadcast. ppm = (1e6 * cnt) DIV row_total in pure
    bigint integer division — exact on both engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        events.select(
            "user_id",
            "event_id",
            "ts",
            F.col("event_type").alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("row_total"))
    return (
        counts.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("CAST((1000000 * n) DIV row_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
    )


def ohlc_bars(events: DataFrame, bar_seconds: int = 3600) -> DataFrame:
    """OHLC candlestick downsampling per (event_type, bar): open/close
    by event time, high/low/count — the time-series compaction kernel.

    Determinism without unique timestamps: a two-level aggregate. The
    inner level groups to one row per microsecond using the globally
    unique event_id as min_by/max_by key; the outer level then keys
    on t_us, unique within its group by construction. Both levels
    map-side combine, so the shuffle carries bar-grain rows only.
    """
    bar_us = bar_seconds * 1_000_000
    v = events.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
    )
    l1 = v.groupBy(
        "event_type",
        (F.expr(f"t_us DIV {bar_us}") * bar_seconds).alias("bar_s"),
        "t_us",
    ).agg(
        F.min_by("cents", "event_id").alias("first_c"),
        F.max_by("cents", "event_id").alias("last_c"),
        F.min("cents").alias("min_c"),
        F.max("cents").alias("max_c"),
        F.count("*").alias("n"),
    )
    return l1.groupBy("event_type", "bar_s").agg(
        F.min_by("first_c", "t_us").alias("open_cents"),
        F.max("max_c").cast("bigint").alias("high_cents"),
        F.min("min_c").cast("bigint").alias("low_cents"),
        F.max_by("last_c", "t_us").alias("close_cents"),
        F.sum("n").cast("bigint").alias("n_events"),
    )


def acf_lags(
    series: DataFrame,
    order_col: str,
    value_col: str,
    max_lag: int = 12,
) -> DataFrame:
    """Autocorrelation function over an integer-indexed series, lags
    1..``max_lag`` in ONE pass — the seasonality detector (a spike at
    lag 24 on hourly data is daily rhythm; at 168, weekly) that
    generalizes the single-lag ``events_autocorr_lag1`` export.

    Per lag, Pearson r ships as exact rational sufficient statistics
    (corr_num, var_x, var_y in decimal(38,0)) over integer values —
    the same unevaluated-quotient discipline as every correlation in
    the engine. Lag pairing is a single band join (0 < Δ ≤ max_lag) of
    the aggregated series with itself, grouped by Δ: the series is
    already metadata-sized (one row per period), so the band join
    costs |T|·max_lag pair rows, never touching fact data.
    """
    a = series.select(
        F.col(order_col).alias("_ta"),
        F.col(value_col).cast("bigint").alias("x"),
    )
    b = series.select(
        F.col(order_col).alias("_tb"),
        F.col(value_col).cast("bigint").alias("y"),
    )
    pairs = a.join(
        b,
        (F.col("_tb") > F.col("_ta"))
        & (F.col("_tb") <= F.col("_ta") + max_lag),
    ).select((F.col("_tb") - F.col("_ta")).alias("lag"), "x", "y")
    return (
        pairs.groupBy("lag")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("x").cast("decimal(38,0)").alias("_sx"),
            F.sum("y").cast("decimal(38,0)").alias("_sy"),
            F.sum(F.col("x") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("_sxy"),
            F.sum(F.col("x") * F.col("x"))
            .cast("decimal(38,0)")
            .alias("_sxx"),
            F.sum(F.col("y") * F.col("y"))
            .cast("decimal(38,0)")
            .alias("_syy"),
        )
        .selectExpr(
            "lag",
            "n_pairs",
            # decimal(38,0) arithmetic, BIGINT output: the series is
            # period-count-bound so the statistics stay ~1e14 here; an
            # integral output crosses the engine/driver boundary as a
            # plain int, where DECIMAL(38,0) fetches as python Decimal
            # in some DuckDB versions and int in others (r12 fix)
            "CAST(n_pairs * _sxy - _sx * _sy AS BIGINT) AS corr_num",
            "CAST(n_pairs * _sxx - _sx * _sx AS BIGINT) AS var_x",
            "CAST(n_pairs * _syy - _sy * _sy AS BIGINT) AS var_y",
        )
    )


def frequent_event_sequences(
    events: DataFrame, min_support_ppm: int = 100_000, max_len: int = 3
) -> DataFrame:
    """Frequent ordered event-type sequences (length 2..max_len) per
    user stream: a sequence counts once per user that exhibits it as
    consecutive events in (ts, event_id) order; support is reported in
    ppm of the user population.

    This is the bounded-length core of sequential pattern mining
    (GSP/PrefixSpan restricted to contiguous sequences), which is the
    variant that needs NO candidate-generation iteration: lead() over
    the per-user window materializes every length-l window in one pass,
    so the whole mining job is one shuffle (the user window) plus one
    sequence groupBy. Distinct-per-user semantics come from a
    (user, seq) distinct before the support count — the standard
    mining definition that makes support robust to one user looping.

    Scale: the window shuffle partitions by user_id (even fan-out at
    any corpus size); the sequence aggregation partial-aggregates
    map-side, so the second shuffle carries at most the distinct
    sequence vocabulary per partition (bounded by |event_type|^max_len,
    a few hundred rows here, never the event count).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nexts = [
        F.lead("event_type", i).over(w).alias(f"_n{i}")
        for i in range(1, max_len)
    ]
    base = events.select("user_id", "event_type", *nexts)
    pop = events.select("user_id").distinct().groupBy().agg(
        F.count("*").alias("n_users")
    )
    outs = []
    for length in range(2, max_len + 1):
        parts = [F.col("event_type")] + [
            F.col(f"_n{i}") for i in range(1, length)
        ]
        seq = F.concat_ws(">", *parts)
        per_user = (
            base.where(F.col(f"_n{length-1}").isNotNull())
            .select("user_id", seq.alias("seq"))
            .distinct()
        )
        counted = per_user.groupBy("seq").agg(
            F.count("*").alias("n_users_with")
        )
        outs.append(
            counted.withColumn("seq_len", F.lit(length))
        )
    allseq = outs[0]
    for o in outs[1:]:
        allseq = allseq.unionAll(o)
    return (
        allseq.join(F.broadcast(pop))
        .select(
            "seq",
            "seq_len",
            "n_users_with",
            F.floor(
                F.col("n_users_with") * F.lit(1_000_000.0) / F.col("n_users")
            )
            .cast("bigint")
            .alias("support_ppm"),
        )
        .where(F.col("support_ppm") >= min_support_ppm)
    )


def late_arrival_audit(
    events: DataFrame,
    arrival_cols: list[str] | None = None,
    ts_col: str = "ts",
    allowed_lateness_sec: int = 600,
    partitions: int | None = None,
) -> DataFrame:
    """Watermark lateness audit: replay the stream in ARRIVAL order
    (the lexicographic order of ``arrival_cols`` — e.g. an ingest
    sequence id, or (upload_day, device_id, ts) for batched device
    syncs) and, per tumbling hour of EVENT time, count how many rows
    arrived after the high-watermark had passed them and how many a
    streaming job with ``withWatermark(ts, allowed_lateness)`` would
    have DROPPED (watermark = high-watermark − allowance already past
    their window's close at arrival). This is how you size a watermark
    from history instead of guessing: sweep the allowance until
    n_dropped hits the loss budget.

    The high-watermark is a GLOBAL running max of event time in arrival
    order — computed with the two-phase range-partition pattern
    (``relational.grouped_running_sum``'s shape under the max monoid):
    local running max per range slice, per-slice maxima form a
    #partitions-row metadata table whose exclusive prefix max broadcasts
    back. Never a single-task global window. Output is per-hour (≤ a few
    thousand rows per audited month), window start as epoch seconds.
    """
    arrival_cols = arrival_cols or ["event_id"]
    n = partitions or events.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    arr = [F.col(c) for c in arrival_cols]
    proj = events.select(
        *arr,
        F.expr(f"unix_micros(`{ts_col}`)").alias("_tsu"),
        F.expr(
            f"unix_seconds(date_trunc('hour', `{ts_col}`))"
        ).alias("window_start"),
    )
    part = (
        proj.repartitionByRange(int(n), *arr)
        .sortWithinPartitions(*arr)
        .withColumn("_pid", F.spark_partition_id())
        .transform(lineage_cut)
    )
    local_w = (
        Window.partitionBy("_pid")
        .orderBy(*arr)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = part.withColumn("_lmax", F.max("_tsu").over(local_w))
    submax = local.groupBy("_pid").agg(F.max("_lmax").alias("_sub"))
    earlier = submax.select(
        F.col("_pid").alias("_pid2"), F.col("_sub").alias("_sub2")
    )
    offsets = (
        submax.join(earlier, F.col("_pid2") < F.col("_pid"), "left")
        .groupBy("_pid")
        .agg(F.max("_sub2").alias("_off"))
    )
    allowance_us = allowed_lateness_sec * 1_000_000
    return (
        local.join(F.broadcast(offsets), "_pid")
        # lateness at arrival = high-watermark so far − event time
        .withColumn(
            "_late_us",
            F.expr("greatest(_lmax, coalesce(_off, _lmax)) - _tsu"),
        )
        .groupBy("window_start")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(F.expr("CAST(_late_us > 0 AS BIGINT)"))
            .cast("bigint")
            .alias("n_out_of_order"),
            # dropped iff (high-watermark − allowance) had passed the
            # window CLOSE (window_start + 1h) when the row arrived
            F.sum(
                F.expr(
                    "CAST(_tsu + _late_us - "
                    f"{allowance_us} > (window_start + 3600) * 1000000 "
                    "AS BIGINT)"
                )
            )
            .cast("bigint")
            .alias("n_dropped"),
            F.max(F.expr("_late_us DIV 1000000"))
            .cast("bigint")
            .alias("max_lateness_sec"),
        )
    )


def slo_burn_rate(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    error_type: str = "error",
    slo_error_ppm: int = 10_000,
    slow_window_hours: int = 6,
) -> DataFrame:
    """Multi-window error-budget burn rate (the Google SRE alerting
    recipe): per hour, the error rate as a multiple of the SLO budget
    (burn 1.0 = exactly consuming budget), plus the rolling
    ``slow_window_hours`` burn — paging only when BOTH the fast and the
    slow window burn hot kills the flappy-alert problem.

    Integer exact: burn_milli = 1000 · (err/n) / (slo_ppm/1e6)
    = 1e9·err DIV (n·slo_ppm), truncating in both engines. The rolling
    window runs over the HOURLY rollup — a bounded table (≤ 8760
    rows/year), the documented exception to the no-unpartitioned-
    windows rule — never over raw events; the raw pass is one
    map-side-combined groupBy(hour).

    The slow window is a RANGE frame over window_start seconds
    (round-7 fix): a ROWS frame over the rollup spans arbitrarily more
    wall-clock hours across quiet periods with no events, inflating
    burn_slow vs the SRE recipe's calendar window. Hours with zero
    events carry zero errors AND zero budget consumption, so skipping
    them (rather than densifying) matches the recipe exactly.

    Returns per hour: n_events, n_errors, err_ppm, burn_fast_milli,
    burn_slow_milli, page (both windows ≥ the 14.4×/6× SRE thresholds).
    """
    hourly = events.groupBy(
        F.expr(f"unix_seconds(date_trunc('hour', `{ts_col}`))").alias(
            "window_start"
        )
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.expr(f"CAST(`{type_col}` = '{error_type}' AS BIGINT)")
        ).cast("bigint").alias("n_errors"),
    )
    w = (
        Window.orderBy("window_start")
        .rangeBetween(-(slow_window_hours - 1) * 3600, Window.currentRow)
    )
    return (
        hourly.withColumn("_n_slow", F.sum("n_events").over(w))
        .withColumn("_e_slow", F.sum("n_errors").over(w))
        .selectExpr(
            "window_start",
            "n_events",
            "n_errors",
            "CAST((1000000 * n_errors) DIV n_events AS BIGINT) AS err_ppm",
            "CAST((1000000000 * n_errors) DIV "
            f"(n_events * {slo_error_ppm}) AS BIGINT) AS burn_fast_milli",
            "CAST((1000000000 * _e_slow) DIV "
            f"(_n_slow * {slo_error_ppm}) AS BIGINT) AS burn_slow_milli",
        )
        .selectExpr(
            "*",
            "burn_fast_milli >= 14400 AND burn_slow_milli >= 6000 AS page",
        )
    )


def burstiness_fano(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-type burstiness as the Fano factor (index of dispersion) of
    per-minute counts over the stream's full minute span: 1 for a
    Poisson process, > 1 for bursty arrivals (retry storms, batch
    uploads), < 1 for regular/paced traffic. The triage number that
    says whether a type's volume needs burst-safe sizing or steady
    provisioning.

    Empty minutes COUNT (a type active once an hour is bursty even
    though its observed minutes look calm): with M total minutes in
    the global span, mean = n/M, var = Σc²/M − (n/M)², and
    Fano = var/mean = (M·Σc² − n²) / (M·n) — an exact integer rational
    shipped as truncating ppm; no dense minute table is ever
    materialized. Shape: one (type, minute) map-side-combined count,
    one per-type reduce, a broadcast 1-row span.
    """
    per_min = events.selectExpr(
        f"`{type_col}` AS event_type",
        f"unix_seconds(date_trunc('minute', `{ts_col}`)) DIV 60 AS _m",
    ).groupBy("event_type", "_m").agg(
        F.count(F.lit(1)).cast("bigint").alias("_c")
    )
    span = per_min.agg(
        (F.max("_m") - F.min("_m") + 1).cast("bigint").alias("_span")
    )
    return (
        per_min.groupBy("event_type")
        .agg(
            F.sum("_c").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("active_minutes"),
            F.sum(F.expr("_c * _c")).cast("bigint").alias("_ssq"),
        )
        .crossJoin(F.broadcast(span))
        .selectExpr(
            "event_type",
            "n_events",
            "active_minutes",
            "_span AS span_minutes",
            # decimal: M·Σc² passes int64 when minutes × counts² do.
            # Integral `div`, not floor(/): exact truncation on both
            # engines at every rounding boundary (numerator >= 0 by
            # Cauchy-Schwarz: span·Σc² >= (Σc)², so div == floor); the
            # decimal `/` form rounded HALF_UP at scale 6 first (r12)
            "CAST(((CAST(_span AS DECIMAL(38,0)) * _ssq "
            "- CAST(n_events AS DECIMAL(38,0)) * n_events) * 1000000) "
            "div (CAST(_span AS DECIMAL(38,0)) * n_events) AS BIGINT) "
            "AS fano_ppm",
        )
    )
