"""X6: stream-batch equivalence — the batch query is the semantic oracle."""

from __future__ import annotations

from data_pipeline_rsna_spark import tables
from data_pipeline_rsna_spark.operators import events as ev
from data_pipeline_rsna_spark.streaming import events_stream as es
import pytest


def _key(rows):
    return sorted(
        (r.window_start, r.event_type, r.n, r.sum_value, r.avg_micro)
        for r in rows
    )


def test_stream_equals_batch(spark, sf_dir):
    batch = ev.hourly_type_agg(tables.load(spark, sf_dir, "events"))
    stream = es.run_bounded(
        es.hourly_type_agg_stream(es.read_events_stream(spark, sf_dir))
    )
    assert _key(stream.collect()) == _key(batch.collect())


def test_session_stream_equals_batch(spark, sf_dir):
    batch = es.session_agg_batch(tables.load(spark, sf_dir, "events"))
    stream = es.run_bounded(
        es.session_agg_stream(es.read_events_stream(spark, sf_dir))
    )
    key = lambda rows: sorted(  # noqa: E731
        (r.user_id, r.session_start, r.session_end, r.n_events, r.sum_value)
        for r in rows
    )
    assert key(stream.collect()) == key(batch.collect())


def test_stateful_running_totals_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    events = tables.load(spark, sf_dir, "events")
    batch = events.groupBy("user_id").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("sum_value")
    )
    got = es.run_bounded(
        es.user_running_totals_stream(es.read_events_stream(spark, sf_dir)),
        mode="update",
    )
    # update mode: keep the LAST row per user (cumulative totals grow)
    final = {}
    for r in got.collect():
        prev = final.get(r.user_id)
        if prev is None or r.n_events >= prev[0]:
            final[r.user_id] = (r.n_events, round(r.sum_value, 4))
    want = {
        r.user_id: (r.n_events, round(r.sum_value, 4)) for r in batch.collect()
    }
    assert final == want


def test_stateful_totals_across_multiple_microbatches(spark, sf_dir, tmp_path):
    """Split the events into 3 files and feed them one per micro-batch:
    the applyInPandasWithState operator must carry state ACROSS batches
    (final totals equal the batch aggregate, and users appearing in
    several batches emit strictly increasing running counts)."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.schemas import EVENTS

    src = str(tmp_path / "events_chunks")
    # write NORMALIZED chunks (ts already TimestampType) so the declared
    # stream schema is independent of the source file's physical ts type
    tables.load(spark, sf_dir, "events").repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    stream = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    got = es.run_bounded(es.user_running_totals_stream(stream), mode="update")
    rows = got.collect()
    # more output rows than users => some users emitted in >1 micro-batch
    n_users = len({r.user_id for r in rows})
    assert len(rows) > n_users, "expected multiple micro-batches"
    final = {}
    for r in rows:
        prev = final.get(r.user_id, 0)
        if r.n_events >= prev:
            final[r.user_id] = r.n_events
    batch = {
        r.user_id: r.n
        for r in tables.load(spark, sf_dir, "events")
        .groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert final == batch


def test_stream_stream_interval_join_equals_batch_range_join(spark, sf_dir):
    from data_pipeline_rsna_spark.queries import REGISTRY

    batch = REGISTRY["range_join_attribution"].spark_fn(spark, sf_dir)
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    stream = es.read_events_stream(spark, sf_dir)
    got_df = es.run_bounded(es.attribution_join_stream(stream), mode="append")
    got = {(r.click_id, r.purchase_id) for r in got_df.collect()}
    assert got == want and len(got) > 0


def test_checkpoint_recovery_no_loss_no_dup(spark, sf_dir, tmp_path):
    """Kill a checkpointed stream mid-input, restart it from the same
    checkpoint: the resumed query must process exactly the remaining
    files - final windowed aggregates equal the batch answer (no loss,
    no double-count)."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.operators import events as ev
    from data_pipeline_rsna_spark.schemas import EVENTS

    import glob
    import os
    import shutil

    src = str(tmp_path / "chunks")
    staging = str(tmp_path / "staging")
    ckpt = str(tmp_path / "ckpt")
    out_name = "ckpt_recovery_out"
    tables.load(spark, sf_dir, "events").repartition(4).write.mode(
        "overwrite"
    ).parquet(staging)
    parts = sorted(glob.glob(f"{staging}/part-*.parquet"))
    os.makedirs(src, exist_ok=True)
    for p in parts[:2]:  # first half visible before the "crash"
        shutil.copy(p, src)

    def start():
        stream = (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = es.hourly_type_agg_stream(stream)
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(out_name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()  # drain the first half
    q.stop()  # "crash"
    for p in parts[2:]:  # second half arrives while the query is down
        shutil.copy(p, src)
    q2 = start()  # resume from the checkpoint
    q2.processAllAvailable()
    q2.stop()

    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.table(out_name).collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in ev.hourly_type_agg(
            tables.load(spark, sf_dir, "events")
        ).collect()
    }
    assert got == want


def test_gap_fill_locf_handcrafted(spark):
    """Known gaps: obs on days 1, 4 (two events — later wins), and 6.
    Expect days 1-3 carrying v1, days 4-5 carrying the day-4 LAST value,
    day 6 observed, nothing past the last observation."""
    rows = [
        (1, "2024-01-01 10:00:00", 7, 1.00),
        (2, "2024-01-04 09:00:00", 7, 2.00),
        (3, "2024-01-04 18:00:00", 7, 3.00),  # later same day -> wins
        (4, "2024-01-06 00:00:00", 7, 4.00),
        (5, "2024-01-02 12:00:00", 8, 9.00),  # single-obs user: one row
    ]
    obs = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id", "value")
    got = sorted(
        (r.user_id, r.epoch_day, r.is_observed, r.value_cents)
        for r in ev.gap_fill_locf(obs).collect()
    )
    d = 19723  # epoch day of 2024-01-01
    assert got == [
        (7, d + 0, 1, 100),
        (7, d + 1, 0, 100),
        (7, d + 2, 0, 100),
        (7, d + 3, 1, 300),
        (7, d + 4, 0, 300),
        (7, d + 5, 1, 400),
        (8, d + 1, 1, 900),
    ]


def test_stream_dedup_collapses_at_least_once_delivery(spark, sf_dir):
    """The duplicated source replays every event twice; without dedup the
    counts double (proving the harness is adversarial), with watermarked
    dropDuplicates they equal the batch aggregate over the original."""
    from pyspark.sql import functions as F

    batch = {
        (r.event_type, r.n)
        for r in tables.load(spark, sf_dir, "events")
        .groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    dup = es.read_events_stream_duplicated(spark, sf_dir)
    naive = es.run_bounded(
        dup.groupBy("event_type").agg(F.count("*").alias("n"))
    )
    assert {(r.event_type, r.n) for r in naive.collect()} == {
        (t, 2 * n) for t, n in batch
    }
    deduped = es.run_bounded(es.dedup_counts_stream(
        es.read_events_stream_duplicated(spark, sf_dir)))
    assert {(r.event_type, r.n) for r in deduped.collect()} == batch


def test_funnel_requires_in_order_subsequence(spark):
    """purchase BEFORE click must not count as the full funnel; order
    across days must not leak (the funnel is same-day)."""
    rows = [
        # user 1 day 1: full funnel in order
        (1, "2024-01-01 09:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:00:00", 1, "click", 0.0),
        (3, "2024-01-01 11:00:00", 1, "purchase", 0.0),
        # user 2 day 1: purchase precedes click -> stops at step 2
        (4, "2024-01-01 09:00:00", 2, "view", 0.0),
        (5, "2024-01-01 09:30:00", 2, "purchase", 0.0),
        (6, "2024-01-01 10:00:00", 2, "click", 0.0),
        # user 3: steps spread over two days -> neither day completes
        (7, "2024-01-01 09:00:00", 3, "view", 0.0),
        (8, "2024-01-02 09:00:00", 3, "click", 0.0),
        # user 4 day 1: no view at all -> step 0
        (9, "2024-01-01 09:00:00", 4, "error", 0.0),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts string, user_id long, event_type string,"
        " value double"
    ).selectExpr("event_id", "CAST(ts AS TIMESTAMP) ts", "user_id",
                 "event_type", "value")
    got = {
        r.furthest_step: r.n_user_days
        for r in ev.funnel_steps(events).collect()
    }
    # day1: u1->3, u2->2, u3->1, u4->0 ; day2: u3 click-only->0
    assert got == {3: 1, 2: 1, 1: 1, 0: 2}


def test_concurrency_sweep_deterministic_across_runs(spark, sf_dir):
    """Regression: the two-phase prefix sum's range layout is consumed
    by two plan branches; without pinning one materialized layout the
    sampled boundaries could differ per branch/run and misalign the
    offsets (caught live at sf0.01). Re-running must be bit-stable and
    match a naive single-task global window."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    events = tables.load(spark, sf_dir, "events")

    def result():
        return sorted(
            (r.epoch_day, r.max_concurrent_sessions)
            for r in ev.session_concurrency_by_day(events).collect()
        )

    a, b = result(), result()
    assert a == b
    sess = ev.sessionize(events)
    spans = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    deltas = spans.select(
        (F.unix_micros("s") * 2).alias("k"),
        F.lit(1).alias("delta"), F.col("s").alias("ts"),
    ).unionAll(spans.select(
        (F.unix_micros("e") * 2 + 1).alias("k"),
        F.lit(-1).alias("delta"), F.col("e").alias("ts"),
    ))
    w = Window.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    naive = sorted(
        (r.epoch_day, r.m)
        for r in deltas.withColumn("c", F.sum("delta").over(w))
        .groupBy(
            F.datediff(F.to_date("ts"), F.lit("1970-01-01")).alias("epoch_day")
        )
        .agg(F.max("c").alias("m"))
        .collect()
    )
    assert a == naive


def test_stream_left_outer_join_equals_batch_left_join(spark, sf_dir):
    from data_pipeline_rsna_spark import tables
    from pyspark.sql import functions as F

    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND click_ts >= purchase_ts "
            "AND click_ts < purchase_ts + INTERVAL 2 HOURS"
        ),
        "left_outer",
    )
    want = {(r.click_id, r.purchase_id) for r in batch.collect()}
    stream = es.read_events_stream_with_flush(spark, sf_dir)
    got_df = es.run_bounded(
        es.attribution_join_stream(stream, how="left_outer"), mode="append"
    ).filter("click_id >= 0")
    got = {(r.click_id, r.purchase_id) for r in got_df.collect()}
    assert got == want
    # the outer join must add null-padded clicks on top of the inner rows
    assert any(p is None for _, p in got)
    assert any(p is not None for _, p in got)


def test_stream_static_enrich_matches_batch_and_holds_no_join_state(spark, sf_dir):
    from data_pipeline_rsna_spark import tables
    from pyspark.sql import functions as F

    ev = tables.load(spark, sf_dir, "events")
    cust = tables.load(spark, sf_dir, "customer")
    batch = (
        ev.join(cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment"),
                "user_id")
        .groupBy(F.date_trunc("hour", "ts").cast("long").alias("window_start"),
                 F.col("c_mktsegment").alias("mktsegment"))
        .agg(F.count("*").alias("n"),
             F.expr("CAST(round(sum(value) * 100) AS BIGINT)").alias("value_cents"))
    )
    want = {tuple(r) for r in batch.collect()}
    # multi-micro-batch replay: the static dim must be joined correctly in
    # EVERY micro-batch, not just the first
    stream = es.read_events_stream(spark, sf_dir, max_files_per_trigger=1)
    got_df = es.run_bounded(es.enriched_segment_agg_stream(stream, cust))
    got = {tuple(r) for r in got_df.collect()}
    assert got == want


def test_foreachbatch_parquet_sink_equals_batch(spark, sf_dir, tmp_path):
    """The production sink shape — foreachBatch writing micro-batch
    results to parquet with an explicit checkpoint — must produce the
    same rows as the batch twin, with nothing materialized on the
    driver along the way."""
    batch = ev.hourly_type_agg(tables.load(spark, sf_dir, "events"))
    out = es.run_bounded_to_parquet(
        es.hourly_type_agg_stream(es.read_events_stream(spark, sf_dir)),
        str(tmp_path / "hourly_out"),
        str(tmp_path / "hourly_ckpt"),
    )
    assert _key(out.collect()) == _key(batch.collect())


@pytest.mark.slow
def test_session_finalizer_timeout_and_cross_batch_state(spark, sf_dir, tmp_path):
    """The event-time-timeout sessionizer must (a) emit inner sessions
    immediately, (b) hold each user's trailing session open until the
    watermark passes last+gap, and (c) merge sessions ACROSS micro-
    batches when a session spans a file boundary. Feeding the stream as
    three time-ordered chunks (the realistic arrival order of a session
    log) must yield exactly the single-batch result."""
    import time as _time

    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables

    ev = tables.load(spark, sf_dir, "events")
    t1, t2 = ev.select(
        F.expr(
            "percentile(unix_micros(ts), array(0.33, 0.66))"
        ).alias("q")
    ).collect()[0]["q"]
    tcol = F.unix_micros(F.col("ts"))
    src = str(tmp_path / "ordered_chunks")
    for i, cond in enumerate(
        [
            tcol <= t1,
            (tcol > t1) & (tcol <= t2),
            tcol > t2,
        ]
    ):
        ev.filter(cond).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.1)  # distinct mtimes -> deterministic file order

    from data_pipeline_rsna_spark.schemas import EVENTS

    chunked = (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    multi = es.run_bounded(
        es.session_finalizer_stream(chunked), mode="append"
    )
    single = es.run_bounded(
        es.session_finalizer_stream(es.read_events_stream(spark, sf_dir)),
        mode="append",
    )
    key = lambda df: sorted(  # noqa: E731
        (r.user_id, r.session_start_us, r.session_end_us, r.n_events)
        for r in df.collect()
    )
    assert key(multi) == key(single)
    assert len(key(single)) > 0


def test_checkpoint_restart_exactly_once(spark, sf_dir, tmp_path):
    """Kill a file-sink stream mid-run, restart it from the same
    checkpoint, and verify EXACTLY-ONCE output: the transactional file
    sink (+_spark_metadata commit log) and the source offset log must
    together yield every input row exactly once — no loss from the
    killed run, no duplication from the restart replaying its in-flight
    batch."""
    import time

    from pyspark.sql import functions as F

    events = tables.load(spark, sf_dir, "events")
    n_expected = events.count()

    # stage the input as 4 files so maxFilesPerTrigger=1 yields 4
    # micro-batches — enough room to kill between commits
    src_dir = str(tmp_path / "src")
    events.repartition(4).write.parquet(src_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        # wait until at least one batch committed, then kill mid-stream
        deadline = time.time() + 60
        while time.time() < deadline:
            if any(p["batchId"] >= 1 for p in q.recentProgress):
                break
            time.sleep(0.2)
        else:
            raise AssertionError("stream made no progress in 60s")
    finally:
        q.stop()

    q2 = start()
    q2.processAllAvailable()
    q2.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == n_expected
    # value-level: per-type sums survive the restart bit-for-bit
    k = lambda rows: sorted(  # noqa: E731
        (r.event_type, r.n, r.s) for r in rows
    )
    agg = lambda df: df.groupBy("event_type").agg(  # noqa: E731
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s")
    )
    assert k(agg(got).collect()) == k(agg(events).collect())


@pytest.mark.slow
def test_watermark_drops_late_rows_and_accounts_them(spark, tmp_path):
    """Append-mode windowed agg with a 10-minute watermark: a row
    arriving after its window's watermark horizon must be EXCLUDED from
    the emitted result AND show up in the engine's
    numRowsDroppedByWatermark accounting — the auditable contract for
    'we lose late data knowingly, never silently'."""
    import json
    import time

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows):
        spark.createDataFrame(rows, "ts string, v int").selectExpr(
            "cast(ts AS timestamp) AS ts", "v"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    write_file("a", [("2024-01-01 10:30:00", 10), ("2024-01-01 12:10:00", 1)])

    stream = (
        spark.readStream.schema("ts timestamp, v int")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    from pyspark.sql import functions as F

    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("s"))
        .select(F.col("w.start").cast("long").alias("ws"), "s")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_audit")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1: watermark advances to 12:00
        # late row (10:45, window closed at watermark 12:00) + a future
        # row that pushes the watermark past 13:00 to flush [12, 13)
        write_file("b", [("2024-01-01 10:45:00", 100),
                         ("2024-01-01 14:05:00", 5)])
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            rows = {r.ws: r.s for r in spark.sql(
                "SELECT * FROM late_audit").collect()}
            if len(rows) >= 2:
                break
            time.sleep(0.5)
        dropped = sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in q.recentProgress
            for so in json.loads(p.json).get("stateOperators", [])
        )
    finally:
        q.stop()

    import datetime as dt

    ws = lambda s: int(  # noqa: E731
        dt.datetime.fromisoformat(s + "+00:00").timestamp()
    )
    # the 10:00 window emitted with ONLY the on-time row
    assert rows[ws("2024-01-01 10:00:00")] == 10, rows
    # the 12:00 window flushed by the future row
    assert rows[ws("2024-01-01 12:00:00")] == 1, rows
    assert dropped >= 1, q.recentProgress


def test_text_quality_funnel_stream_equals_batch(spark, sf_dir):
    """The streamed Gopher funnel (4 micro-batches) must equal the batch
    funnel over the same corpus, row for row."""
    from data_pipeline_rsna_spark.operators import textanalysis as ta
    from data_pipeline_rsna_spark.streaming import events_stream as es
    from data_pipeline_rsna_spark.streaming import text_stream as ts

    from pyspark.sql import functions as F

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        ta.gopher_quality_flags(docs)
        .groupBy(F.coalesce(F.col("reason"), F.lit("kept")).alias("reason"))
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_words").cast("bigint").alias("n_words"))
    )
    stream = es.run_bounded(
        ts.quality_funnel_stream(ts.read_docs_stream(spark, sf_dir))
    )
    k = lambda rows: sorted(  # noqa: E731
        (r.reason, r.n_docs, r.n_words) for r in rows
    )
    assert k(stream.collect()) == k(batch.collect())


def test_stream_full_outer_join_equals_batch_full_join(spark, sf_dir):
    from pyspark.sql import functions as F

    stream = es.read_events_stream_with_flush(spark, sf_dir)
    got_df = es.run_bounded(
        es.attribution_join_stream(stream, how="full_outer"), mode="append"
    ).filter(
        (F.coalesce(F.col("click_id"), F.lit(0)) >= 0)
        & (F.coalesce(F.col("purchase_id"), F.lit(0)) >= 0)
    )
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    want_df = clicks.join(
        purchases,
        F.expr(
            "c_user = p_user AND click_ts >= purchase_ts "
            "AND click_ts < purchase_ts + INTERVAL 2 HOURS"
        ),
        "full_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
    )
    none_last = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    got = sorted((tuple(r) for r in got_df.collect()), key=none_last)
    want = sorted((tuple(r) for r in want_df.collect()), key=none_last)
    assert got == want
    # both outer directions must actually occur in the data
    assert any(r[1] is None for r in got), "no unmatched clicks"
    assert any(r[0] is None for r in got), "no unmatched purchases"


def test_available_now_trigger_drains_and_self_terminates(
    spark, sf_dir, tmp_path
):
    """Trigger.AvailableNow is the production backfill switch: the query
    processes everything available in rate-limited micro-batches and
    then STOPS ON ITS OWN (processAllAvailable is a test-harness wait;
    AvailableNow is what a scheduled catch-up job runs). The drained
    result must equal the batch aggregate, and the query must have
    terminated without an explicit stop()."""
    out = str(tmp_path / "an_out")
    ckpt = str(tmp_path / "an_ckpt")
    agg = es.hourly_type_agg_stream(es.read_events_stream(spark, sf_dir))

    def write_batch(batch_df, batch_id):
        batch_df.write.mode("overwrite").parquet(out)

    q = (
        agg.writeStream.outputMode("complete")
        .option("checkpointLocation", ckpt)
        .foreachBatch(write_batch)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "AvailableNow query did not terminate"
    assert not q.isActive

    got = spark.read.parquet(out)
    batch = ev.hourly_type_agg(tables.load(spark, sf_dir, "events"))
    assert _key(got.collect()) == _key(batch.collect())


def test_srm_monitor_stream_equals_batch_distinct(spark, sf_dir):
    """The bounded replay of the streaming SRM monitor must equal the
    batch distinct-count per arm on the same events."""
    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.streaming import events_stream as es

    stream = es.read_events_stream(spark, sf_dir)
    got = {
        r.arm: r.n_units
        for r in es.run_bounded(
            es.srm_monitor_stream(stream), mode="complete"
        ).collect()
    }
    ev = tables.load(spark, sf_dir, "events")
    want = {
        r.arm: r.n
        for r in ev.selectExpr(
            "CASE WHEN CAST(conv(substr(md5(concat('arm|', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 5 "
            "THEN 'control' "
            "WHEN CAST(conv(substr(md5(concat('arm|', "
            "CAST(user_id AS STRING))), 1, 8), 16, 10) % 10 AS INT) < 8 "
            "THEN 'variant_a' ELSE 'variant_b' END AS arm",
            "user_id",
        )
        .distinct()
        .groupBy("arm")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert got == want and len(got) == 3


def test_run_bounded_restores_shuffle_partitions(spark, sf_dir):
    """The bounded replay's state-partition override is scoped to the
    stream drive: the session's shuffle-partition setting must be
    exactly what it was before, even though the stream ran at 8."""
    from data_pipeline_rsna_spark.streaming import events_stream as es

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    out = es.run_bounded(
        es.hourly_type_agg_stream(es.read_events_stream(spark, sf_dir))
    )
    assert out.count() > 0
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
