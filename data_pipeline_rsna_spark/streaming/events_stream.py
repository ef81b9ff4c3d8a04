"""Structured Streaming event aggregation (SURVEY.md §2.3 X6).

Design: the batch query in ``operators/events.py`` is the semantic
oracle; the streaming query must produce the same rows when the stream
is a bounded replay of the same data (asserted in
``tests/test_streaming.py``). Late data is handled with a watermark; for
production sinks use ``append`` mode (only finalized windows emit) —
the bounded-replay harness uses ``complete`` mode so a single replay
batch emits every window without waiting for the watermark to advance
past it.
"""

from __future__ import annotations

import os
import pathlib
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import EVENTS, EVENTS_RAW_NANOS, EVENTS_RAW_TS_NTZ
from ..tables import events_ts_kind, normalize_events_ts

WATERMARK = "2 hours"
ATTRIBUTION_WATERMARK = "4 hours"
SESSION_GAP_SECONDS = 1800
SESSION_GAP = f"{SESSION_GAP_SECONDS} seconds"


def _source_schema(staged_dir: str):
    """Streaming sources never infer schemas — declare the one matching
    the staged file's actual physical ts type (the testdata has shipped
    both nanos-long and micros-NTZ generations)."""
    kind = events_ts_kind(staged_dir)
    if kind == "nanos":
        return EVENTS_RAW_NANOS
    return EVENTS_RAW_TS_NTZ if kind == "ntz" else EVENTS


def _staged_events_dir(sf_dir: str) -> str:
    """Spark's file stream source requires a *directory*; the testdata
    events table is a single parquet file. Stage it (once) into a tmp
    directory keyed by scale factor."""
    src = pathlib.Path(sf_dir) / "events.parquet"
    key = sf_dir.strip("/").replace("/", "_")
    dst_dir = pathlib.Path("/tmp/spark_graft_streams") / key
    dst = dst_dir / "events.parquet"
    if not dst.exists() or dst.stat().st_mtime < src.stat().st_mtime:
        dst_dir.mkdir(parents=True, exist_ok=True)
        if src.is_dir():
            shutil.copytree(src, dst, dirs_exist_ok=True)
        else:
            shutil.copy2(src, dst)
    return str(dst_dir)


def read_events_stream(spark: SparkSession, sf_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream over the events parquet. Schema is declared
    (streaming sources never infer); ts arrives as parquet TIMESTAMP
    (NANOS) → read as long, convert to microsecond timestamps (same
    convention as tables.load). In production this is a Kafka
    source; the transformation DAG is source-agnostic."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _staged_events_dir(sf_dir)
    reader = spark.readStream.schema(_source_schema(staged))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return normalize_events_ts(reader.parquet(staged))


def hourly_type_agg_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.events.hourly_type_agg``: tumbling
    1-hour windows per event type, late rows beyond the watermark
    dropped. State per key = one (window, type) row — bounded by
    watermark horizon, not stream length."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
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
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
            "avg_micro",
        )
    )


def run_bounded_to_parquet(
    agg: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    mode: str = "complete",
    state_partitions: int | None = None,
) -> DataFrame:
    """Drive a bounded streaming aggregation to completion through the
    PRODUCTION sink shape — ``foreachBatch`` writing each micro-batch's
    result to parquet — and return a batch DataFrame over the files.

    Nothing ever moves to the driver. Sink layout is mode-aware:

    - ``complete``: every micro-batch carries the full state snapshot,
      so the batch write overwrites the output root — the files always
      hold exactly the latest snapshot.
    - ``append`` / ``update``: each micro-batch emits only new/updated
      rows, so each batch writes its own ``batch_id=N`` partition
      directory (overwritten on replay of the same batch id — that
      per-batch overwrite plus the checkpoint is what makes the file
      output exactly-once across restarts). The union of all batch
      directories is then the same multiset of rows a memory sink
      would have accumulated.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if mode == "complete":
            batch_df.write.mode("overwrite").parquet(out_dir)
        else:
            batch_df.write.mode("overwrite").parquet(
                os.path.join(out_dir, f"batch_id={batch_id}")
            )

    # ``state_partitions`` sizes the stream's STATE sharding (baked into the
    # checkpoint at first batch). A bounded replay's per-batch cost is
    # dominated by state-store commits — a ZERO-row micro-batch still cost
    # 4.0 s at 32 partitions (32 × 4 join state stores each committing
    # checkpoint files per batch), while the equivalent batch join computes
    # in 0.8 s. Partition count never changes results, only state layout:
    # the full-outer attribution replay measured 17.4 s @32 / 10.4 s @8 /
    # 9.2 s @4, identical output. A production (unbounded) stream sizes this
    # to state volume; a bounded replay's state is tiny by construction.
    # Set-and-restore around the drive: the conf is session-global but only
    # read at stream start.
    spark = agg.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(int(state_partitions)))
    try:
        q = (
            agg.writeStream.outputMode(mode)
            .option("checkpointLocation", checkpoint_dir)
            .foreachBatch(write_batch)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    has_parts = os.path.isdir(out_dir) and any(
        f.endswith(".parquet")
        for _root, _dirs, files in os.walk(out_dir)
        for f in files
    )
    if not has_parts:
        # zero micro-batches fired, or every batch was empty — no
        # parquet footers on disk to infer from
        return spark.createDataFrame([], agg.schema)
    out = spark.read.parquet(out_dir)
    # partition discovery surfaces the batch_id directory key as a
    # column in append/update layout; it is sink bookkeeping, not data
    if "batch_id" in out.columns and "batch_id" not in agg.columns:
        out = out.drop("batch_id")
    return out


def run_bounded(agg: DataFrame, mode: str = "complete") -> DataFrame:
    """Drive a streaming aggregation over its bounded source to
    completion and return the result as a batch DataFrame.

    Delegates to ``run_bounded_to_parquet`` — the replay goes through
    the PRODUCTION sink shape (``foreachBatch`` → parquet files), so the
    path every equivalence test and registered query exercises is the
    path a deployed pipeline runs, not a test-only memory sink. Output
    and checkpoint live under a per-run unique tmp directory (results
    are aggregated/metadata-sized). State uses 8 shards for bounded
    replays — their state is tiny by construction, and the per-batch
    state-store commit cost scales with the shard count (see
    run_bounded_to_parquet)."""
    # Per-process runs root: a concurrent session (parallel pytest /
    # CLI) pruning a SHARED directory could delete another process's
    # run dir whose returned DataFrame is still lazily unread; scoping
    # by pid makes the prune touch only this process's own runs.
    runs_root = os.path.join(
        "/tmp/spark_graft_streams", f"runs_pid{os.getpid()}"
    )
    _prune_old_runs(runs_root, keep=64)
    _prune_stale_roots("/tmp/spark_graft_streams")
    run_dir = os.path.join(runs_root, uuid.uuid4().hex[:12])
    return run_bounded_to_parquet(
        agg,
        out_dir=os.path.join(run_dir, "out"),
        checkpoint_dir=os.path.join(run_dir, "ckpt"),
        mode=mode,
        state_partitions=8,
    )


def _prune_old_runs(runs_root: str, keep: int = 64) -> None:
    """Best-effort cap on the replay scratch space: each bounded run
    leaves ~MBs of checkpoint log; across hundreds of gate runs that
    compounds. Keep the newest ``keep`` run dirs (recent results may
    still be lazily referenced by their returned DataFrames — 64 is far
    beyond any consumer's window), delete the rest, ignore races."""
    try:
        entries = sorted(
            (e for e in os.scandir(runs_root) if e.is_dir()),
            key=lambda e: e.stat().st_mtime,
        )
        for e in entries[:-keep] if len(entries) > keep else []:
            shutil.rmtree(e.path, ignore_errors=True)
    except OSError:
        pass


def _prune_stale_roots(base: str) -> None:
    """Reap OTHER processes' per-pid runs roots, but only once they are
    both old (>24 h — far past any lazy DataFrame's lifetime) AND their
    owning pid is gone. Age + liveness together make the cross-process
    delete safe where a count-based prune was not."""
    try:
        now = time.time()
        for e in os.scandir(base):
            if not (e.is_dir() and e.name.startswith("runs_pid")):
                continue
            try:
                pid = int(e.name[len("runs_pid"):])
            except ValueError:
                continue
            if pid == os.getpid():
                continue
            if now - e.stat().st_mtime < 24 * 3600:
                continue
            try:
                os.kill(pid, 0)  # raises if the owner is gone
                continue  # owner alive: never touch its runs
            except ProcessLookupError:
                shutil.rmtree(e.path, ignore_errors=True)
            except OSError:
                continue
    except OSError:
        pass


def session_agg_stream(events: DataFrame) -> DataFrame:
    """Session-window aggregation (X6): events of a user merge into one
    session while consecutive gaps stay under ``SESSION_GAP``.
    ``session_window`` is Spark's native merging-window state machine —
    state per key is one open session, closed (and emitted, in append mode)
    once the watermark passes session_end. The same expression runs in BATCH
    mode too, which is what the stream-batch equivalence test exploits: one
    definition, two execution models."""
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.session_window("ts", SESSION_GAP).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def session_agg_batch(events: DataFrame) -> DataFrame:
    """The batch twin of ``session_agg_stream`` — identical expression,
    no watermark (bounded input needs none)."""
    return (
        events.groupBy(
            F.session_window("ts", SESSION_GAP).alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").cast("long").alias("session_start"),
            F.col("w.end").cast("long").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def user_running_totals_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState`` (X6):
    per-user running (n_events, sum_value) maintained in explicit group
    state across micro-batches, one output row per user per batch.

    This is the escape hatch for stateful logic ``groupBy().agg()``
    can't express (the built-ins cover this particular aggregate — it is
    deliberately simple so the batch twin can verify the state plumbing
    bit-for-bit). State is (count:long, sum:double); timeouts are off,
    so state lives for the stream's lifetime — bounded by |users|, not
    stream length."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, n_events long, sum_value double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def attribution_join_stream(events: DataFrame,
                            how: str = "inner") -> DataFrame:
    """Stream-stream interval join (X6): attribute click events to any
    purchase of the same user in the preceding 2 hours — the streaming
    twin of the batch range join (queries.range_join_attribution).

    Both sides are watermarked and the join condition bounds purchase_ts
    relative to click_ts, so Spark can size the state store: each side
    retains only rows inside watermark + interval horizon, then evicts.
    Unbounded-state stream joins (no time bound) are rejected by the
    engine — the time bound IS the scalability contract.

    ``how`` is "inner", "left_outer" or "full_outer". The outer joins
    are the subtle part of streaming joins: an unmatched row cannot be
    emitted eagerly (its match may be in flight), so Spark holds it in
    state and emits it null-padded only when the OTHER side's watermark
    passes the join horizon — watermark-delayed, never lost. Left outer
    emits every click exactly once; full outer also emits every
    purchase that attracted no click inside its 2-hour window (the
    "campaign spent, nobody came" rows a marketing feed needs), which
    is why user_id coalesces across sides. Matched rows are the same
    under all three.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", ATTRIBUTION_WATERMARK)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", ATTRIBUTION_WATERMARK)
    )
    return clicks.join(
        purchases,
        F.expr(
            """
            c_user = p_user AND
            click_ts >= purchase_ts AND
            click_ts < purchase_ts + INTERVAL 2 HOURS
            """
        ),
        how,
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
    )


def _staged_events_dup_dir(sf_dir: str) -> str:
    """Stage TWO copies of the events parquet into one source directory:
    with maxFilesPerTrigger=1 the stream replays every event twice across
    two micro-batches — the adversarial input for cross-batch dedup."""
    src = pathlib.Path(_staged_events_dir(sf_dir)) / "events.parquet"
    dst_dir = pathlib.Path(str(src.parent) + "_dup")
    for name in ("copy_a.parquet", "copy_b.parquet"):
        dst = dst_dir / name
        if not dst.exists() or dst.stat().st_mtime < src.stat().st_mtime:
            dst_dir.mkdir(parents=True, exist_ok=True)
            shutil.copy2(src, dst)
    return str(dst_dir)


def read_events_stream_duplicated(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Events stream where every event arrives twice, in two separate
    micro-batches (one file per trigger)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    staged = _staged_events_dup_dir(sf_dir)
    raw = (
        spark.readStream.schema(_source_schema(staged))
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    return normalize_events_ts(raw)


def dedup_counts_stream(events: DataFrame) -> DataFrame:
    """Streaming exact dedup (X6 twin of X1): drop re-delivered events by
    event_id, then aggregate per type. ``dropDuplicates`` keeps one state
    entry per id seen within the watermark horizon — the watermark is
    what BOUNDS that state at 100 TB/day; without it the id set grows
    forever. Dedup state lives on the shuffle partitioning of event_id,
    the downstream agg on event_type — Spark inserts the two stateful
    exchanges; both are key-partitioned and skew-free."""
    deduped = (
        events.withWatermark("ts", WATERMARK)
        .dropDuplicates(["event_id"])
    )
    return deduped.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def read_events_stream_with_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream plus a far-future SENTINEL (one click + one
    purchase, event_id = -1, 30 days past the real data) staged as a
    second file in the source directory.

    Outer stream-stream joins only emit their null-padded rows when the
    watermark passes each held row's horizon — and a bounded file
    source's watermark stops at the last real event, stranding every
    unmatched row from the final horizon in state forever. In
    production the next day's data provides the advancement; for a
    bounded replay the sentinel IS that advancement. Consumers filter
    ``event_id >= 0`` (sentinel rows never join: no real user -1
    exists).

    No ``maxFilesPerTrigger=1`` here — both files land in ONE data
    micro-batch. Watermarks advance
    BETWEEN batches from the previous batch's max event time, so the
    ordering the sentinel exists for is preserved: batch 0 joins with
    watermark 0 (everything held, matches emitted), the engine then
    advances the watermark past the sentinel and runs a NO-DATA batch
    (``noDataMicroBatches``, on by default) that flushes every
    unmatched outer row and evicts state. Output is batch-identical;
    the replay pays 2 batches of state-store commits instead of 3
    (per-batch commit cost is the replay floor — a zero-row batch
    measured 4.0 s at 32 state partitions). The cross-batch DEDUP replay twin
    (``read_events_stream_duplicated``) keeps its one-file-per-trigger
    staging — arriving in separate batches is its semantics.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq
    import duckdb as _duck  # cheap single-column max, no Spark job

    src_staged = _staged_events_dir(sf_dir)
    key = sf_dir.strip("/").replace("/", "_") + "_flush"
    dst_dir = pathlib.Path("/tmp/spark_graft_streams") / key
    dst = dst_dir / "events.parquet"
    sentinel = dst_dir / "zz_sentinel.parquet"
    src = pathlib.Path(src_staged) / "events.parquet"
    if not dst.exists() or dst.stat().st_mtime < src.stat().st_mtime:
        dst_dir.mkdir(parents=True, exist_ok=True)
        shutil.copy2(src, dst)
        # epoch_us works for the NS and MICROS timestamp generations; a
        # raw-int64 ts (no logical type) needs the plain max, in nanos
        try:
            max_us = int(
                _duck.connect()
                .execute(f"SELECT epoch_us(max(ts)) FROM '{src}'")
                .fetchone()[0]
            )
        except Exception:
            max_us = (
                int(
                    _duck.connect()
                    .execute(f"SELECT max(ts) FROM '{src}'")
                    .fetchone()[0]
                )
                // 1000
            )
        flush_us = int(max_us) + 30 * 24 * 3600 * 1_000_000
        # the sentinel file's ts type must match the real file's, or the
        # declared stream schema can't cover both files
        from ..tables import events_ts_kind

        kind = events_ts_kind(str(src))
        if kind == "nanos":
            ts_arr = pa.array([flush_us * 1000] * 2, pa.int64()).cast(
                pa.timestamp("ns")
            )
        elif kind == "ntz":
            ts_arr = pa.array([flush_us] * 2, pa.int64()).cast(pa.timestamp("us"))
        else:
            ts_arr = pa.array([flush_us] * 2, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")
            )
        table = pa.table(
            {
                "event_id": pa.array([-1, -1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1, -1], pa.int64()),
                "event_type": pa.array(["click", "purchase"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        pq.write_table(table, sentinel)
        os.utime(sentinel, (dst.stat().st_mtime + 10, dst.stat().st_mtime + 10))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = spark.readStream.schema(_source_schema(str(dst_dir))).parquet(
        str(dst_dir)
    )
    return normalize_events_ts(raw)


def enriched_segment_agg_stream(
    events: DataFrame, customers: DataFrame
) -> DataFrame:
    """Stream-static enrichment join + windowed aggregate: the streaming
    events join a STATIC dimension (customer segments) and aggregate
    revenue per (hour, segment).

    Stream-static is the third join regime next to batch and
    stream-stream: the static side needs no watermark and holds NO join
    state — each micro-batch re-resolves the dimension (so a dim refresh
    is picked up on the next trigger), and with an explicit broadcast
    the join never shuffles the stream. Only the downstream windowed
    aggregate keeps state, bounded by the watermark horizon. Value sums
    export as exact bigint cents.
    """
    dim = customers.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        events.withWatermark("ts", WATERMARK)
        .join(F.broadcast(dim), "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.expr("CAST(round(sum(value) * 100) AS BIGINT)").alias(
                "value_cents"
            ),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            F.col("c_mktsegment").alias("mktsegment"),
            "n",
            "value_cents",
        )
    )


def session_finalizer_stream(events: DataFrame) -> DataFrame:
    """Event-time-TIMEOUT stateful sessionizer (X6): per user, sessions
    split on a ``SESSION_GAP_SECONDS`` silence; a session closed by a successor
    inside the data emits immediately, and each user's trailing OPEN
    session emits only when the event-time timeout fires — i.e. when
    the watermark passes ``last_event + gap``, the state-store
    mechanism the NoTimeout operators never exercise. State per user is
    one open session (4 longs), evicted on timeout: bounded by active
    users within the watermark horizon, not stream length.

    Deterministic under bounded replay: boundaries are integer
    microsecond comparisons (sorted by ts, event_id — the batch
    sessionization's exact order), and the final watermark is
    max(event_time) - delay, so the batch twin can reproduce precisely
    which trailing sessions timed out."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id long, session_start_us long, session_end_us long, "
        "n_events int"
    )
    state_schema = "start_us long, last_us long, n int"
    gap_us = SESSION_GAP_SECONDS * 1_000_000

    def finalize(key, pdfs, state: GroupState):
        import pandas as pd

        uid = key[0]
        closed: list[tuple[int, int, int, int]] = []
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            closed.append((uid, start_us, last_us, n))
            state.remove()
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values(["ts", "event_id"])
            if state.exists:
                start_us, last_us, n = state.get
            else:
                start_us = last_us = None  # type: ignore[assignment]
                n = 0
            for ts in rows["ts"]:
                t_us = int(ts.value // 1_000)  # pandas ns -> us
                if last_us is not None and t_us - last_us > gap_us:
                    closed.append((uid, start_us, last_us, n))
                    start_us, n = t_us, 0
                if start_us is None:
                    start_us = t_us
                last_us = t_us
                n += 1
            state.update((int(start_us), int(last_us), int(n)))
            # timeout in event-time MILLIS: fires once watermark passes
            # the open session's gap horizon
            state.setTimeoutTimestamp(
                last_us // 1_000 + SESSION_GAP_SECONDS * 1_000
            )
        yield pd.DataFrame(
            closed,
            columns=[
                "user_id", "session_start_us", "session_end_us", "n_events"
            ],
        )

    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy("user_id")
        .applyInPandasWithState(
            finalize,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def fingerprint_stream(events: DataFrame) -> DataFrame:
    """Streaming table fingerprint: the commutative 60-bit md5 fold
    (``table_fingerprint``) maintained over a stream — an anti-entropy
    checksum the ingest side exports continuously so a consumer can
    verify a replicated/filtered copy WITHOUT re-reading the source.
    Commutativity is what makes it streamable: the running sum mod 2^60
    is insensitive to arrival order and micro-batch boundaries, so the
    bounded replay's final value equals the batch fold exactly. State
    is two numbers."""
    row_h = F.expr(
        "CAST(conv(substr(md5(concat_ws('|',"
        " CAST(event_id AS STRING), CAST(user_id AS STRING),"
        " CAST(CAST(round(value * 100) AS BIGINT) AS STRING))), 1, 15),"
        " 16, 10) AS BIGINT) % 1152921504606846976"
    )
    return (
        events.select(row_h.alias("_h"))
        .groupBy()
        .agg(
            F.count("*").alias("n_rows"),
            # decimal(38,0) accumulator: int64 overflows after ~8 of
            # the <2^60 row terms under ANSI mode (same fix as the
            # batch table_fingerprint); the mod folds back to 60 bits
            (
                F.sum(F.col("_h").cast("decimal(38,0)"))
                % F.lit(1152921504606846976)
            )
            .cast("bigint")
            .alias("fingerprint"),
        )
    )


def srm_monitor_stream(events: DataFrame) -> DataFrame:
    """Streaming sample-ratio-mismatch monitor (X6 twin of the batch
    ``stats.srm_check``): distinct experiment units per md5-hashed arm,
    maintained continuously — the assignment-health dashboard number
    that must hold its design ratio while an experiment runs, watched
    live instead of discovered at readout.

    ``dropDuplicates`` on (arm, user) keeps one state row per DISTINCT
    unit for the lifetime of the query — watermark eviction does NOT
    apply here because the event-time column is deliberately absent
    from the dedup subset. That unbounded-in-distinct-units state is
    the contract: an SRM readout is an EXACT distinct count over the
    whole experiment, and a unit re-arriving after any horizon must
    not double-count (state is one small row per enrolled unit —
    bounded by enrollment, not by traffic). Deployments that prefer
    horizon-bounded state at the cost of exactness should swap in
    ``dropDuplicatesWithinWatermark([\"arm\", \"user_id\"])`` — the
    bounded replay would then no longer equal the batch twin when a
    unit spans watermark horizons. The chi² terms stay a
    serving-layer division — the stream exports the exact counts,
    which is what makes the bounded replay equal the batch
    distinct-count bit-for-bit.
    """
    assigned = events.selectExpr(
        "ts",
        "user_id",
        "CASE WHEN CAST(conv(substr(md5(concat('arm|', "
        "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 5 "
        "THEN 'control' "
        "WHEN CAST(conv(substr(md5(concat('arm|', "
        "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 8 "
        "THEN 'variant_a' ELSE 'variant_b' END AS arm",
    )
    deduped = (
        assigned.withWatermark("ts", "24 hours")
        .dropDuplicates(["arm", "user_id"])
    )
    return deduped.groupBy("arm").agg(
        F.count("*").cast("bigint").alias("n_units")
    )


def slo_burn_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of ``operators.events.slo_burn_rate``'s FAST
    window: per tumbling event-time hour, the error-budget burn in
    exact integer milli-burn, maintained live — the pager looks at
    this stream, not at a nightly batch. State per key = one hourly
    row inside the watermark horizon.

    The SLOW (rolling multi-hour) window deliberately stays
    batch-side: a window over a streaming aggregate is a second
    stateful stage Spark disallows in one query, and the SRE recipe
    reads the slow window from the serving store anyway (the batch
    ``slo_burn_rate`` over the sink IS that reader). Bounded replay
    equals the batch fast-window columns bit-for-bit.
    """
    return (
        events.withWatermark("ts", WATERMARK)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(
                F.expr("CAST(event_type = 'error' AS BIGINT)")
            ).cast("bigint").alias("n_errors"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "n_events",
            "n_errors",
            F.expr(
                "CAST((1000000 * n_errors) DIV n_events AS BIGINT)"
            ).alias("err_ppm"),
            F.expr(
                "CAST((1000000000 * n_errors) DIV "
                "(n_events * 10000) AS BIGINT)"
            ).alias("burn_fast_milli"),
        )
    )
