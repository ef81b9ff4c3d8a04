"""Bucketed-layout contract: the co-located join really is exchange-free.

This is the one scale technique that can't be shown on a plain parquet
scan — it needs a catalog write — so it gets its own warehouse-backed
test instead of a queries() entry (the layout step is a side effect,
not a SELECT)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark import tables
from data_pipeline_rsna_spark.plans import audit
from data_pipeline_rsna_spark.sinks import bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("warehouse"))
    li = tables.load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    orders = tables.load(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    bucketed.write_bucketed(li, "li_b", "l_orderkey", 8, path=f"{wh}/li_b")
    bucketed.write_bucketed(
        orders, "ord_b", "l_orderkey", 8, path=f"{wh}/ord_b"
    )
    yield "li_b", "ord_b"
    spark.sql("DROP TABLE IF EXISTS li_b")
    spark.sql("DROP TABLE IF EXISTS ord_b")


def test_bucketed_join_has_no_exchange(spark, bucketed_tables):
    """Same-bucket-count tables joined on the bucket key: SMJ with zero
    Exchange nodes (the layout-time shuffle replaced both), and zero
    Sort nodes (sortBy pre-sorted the bucket files)."""
    lt, rt = bucketed_tables
    # force the merge-join path: broadcast would hide the bucket win
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Spark >= 3.0 only propagates bucket-file sort order under this
    # flag (it is unsafe when a bucket spans several files, which needs
    # a merge); write_bucketed guarantees one file per bucket, the case
    # the flag is safe for — with it the SMJ drops its Sorts too and
    # the join is a pure streaming zip of bucket-file pairs.
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    try:
        df = spark.table(lt).join(spark.table(rt), "l_orderkey")
        rep = audit.plan_report(df)
        assert rep.n_sort_merge_joins == 1, rep.text
        assert rep.n_shuffle_exchanges == 0, rep.text
        assert "Sort " not in rep.text.replace("SortMergeJoin", ""), rep.text
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )


def test_bucketed_groupby_has_no_exchange(spark, bucketed_tables):
    """Aggregation on the bucket key also reuses the layout: partial and
    final agg fuse into one stage with no Exchange."""
    lt, _ = bucketed_tables
    df = (
        spark.table(lt)
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    rep = audit.plan_report(df)
    assert rep.n_shuffle_exchanges == 0, rep.text


def test_bucketed_join_matches_shuffled_join(spark, sf_dir, bucketed_tables):
    """Layout is a performance property, never a semantics property."""
    lt, rt = bucketed_tables
    got = (
        spark.table(lt).join(spark.table(rt), "l_orderkey")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_quantity") * F.col("o_totalprice")), 2).alias(
                "dot"
            ),
        )
        .collect()[0]
    )
    li = tables.load(spark, sf_dir, "lineitem")
    orders = tables.load(spark, sf_dir, "orders")
    want = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("l_quantity") * F.col("o_totalprice")), 2).alias(
                "dot"
            ),
        )
        .collect()[0]
    )
    assert (got["n"], got["dot"]) == (want["n"], want["dot"])


def test_dynamic_partition_overwrite_touches_only_written_partitions(
    spark, tmp_path
):
    """partitionOverwriteMode=dynamic: overwriting a partitioned table
    with a frame that holds SOME partitions must replace exactly those
    and leave the rest intact — the idempotent-backfill write contract
    (re-running day N's job cannot clobber days it didn't compute).
    Static mode (the default) would truncate the whole table first."""
    out = str(tmp_path / "by_day")
    base = spark.createDataFrame(
        [(d, v) for d in ("d1", "d2", "d3") for v in range(5)],
        "day string, v int",
    )
    base.write.partitionBy("day").parquet(out)

    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    try:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        # backfill recomputes ONLY d2, with different contents
        fix = spark.createDataFrame(
            [("d2", v) for v in range(100, 103)], "day string, v int"
        )
        fix.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set(
                "spark.sql.sources.partitionOverwriteMode", saved
            )

    back = spark.read.parquet(out)
    got = {
        r.day: r.n
        for r in back.groupBy("day").count().withColumnRenamed(
            "count", "n"
        ).collect()
    }
    # d1/d3 untouched, d2 replaced by the 3-row backfill
    assert got == {"d1": 5, "d2": 3, "d3": 5}
    assert sorted(
        r.v for r in back.filter("day = 'd2'").collect()
    ) == [100, 101, 102]


def test_three_way_bucketed_query_plan_and_values(spark, sf_dir):
    """The registered bucketed three-way: orderkey join exchange-free
    (zero hashpartitioning on either orderkey; bucket scan visible),
    values identical to the shuffled form."""
    from data_pipeline_rsna_spark.queries import REGISTRY

    b = REGISTRY["three_way_lookup_join_bucketed"].spark_fn(spark, sf_dir)
    rows_b = {tuple(r) for r in b.collect()}
    plan = b._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_orderkey" not in plan
    assert "hashpartitioning(o_orderkey" not in plan
    assert "SelectedBucketsCount" in plan
    a = REGISTRY["three_way_lookup_join"].spark_fn(spark, sf_dir)
    assert {tuple(r) for r in a.collect()} == rows_b


def test_bucketed_layout_lifecycle_reuse_and_race(spark, sf_dir, tmp_path):
    """ensure_bucketed_layout (round 11, VERDICT r10 #4 / ADVICE r10):
    the one-time layout write is once-per-DISK, not once-per-session —
    a fresh session (simulated by dropping the catalog entries; the
    files are external) re-registers the existing files with zero
    rewrite, the registered query stays exchange-free on the bucket
    key, and a lost rename race reuses the winner's layout."""
    import json
    import os

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.sinks import bucketed as bkt

    path = str(tmp_path / "layouts" / "li_demo")
    os.makedirs(os.path.dirname(path), exist_ok=True)

    def df_fn():
        return tables.load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )

    spark.sql("DROP TABLE IF EXISTS `lc_li_demo`")
    built = bkt.ensure_bucketed_layout(
        spark, "lc_li_demo", "l_orderkey", 8, path, df_fn
    )
    assert built is True
    n1 = spark.table("lc_li_demo").count()
    mtimes = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    }
    assert bkt._SPEC_FILE in mtimes  # marker written

    # fresh session: catalog entry gone, files remain
    spark.sql("DROP TABLE `lc_li_demo`")
    built2 = bkt.ensure_bucketed_layout(
        spark, "lc_li_demo", "l_orderkey", 8, path, df_fn
    )
    assert built2 is False  # reused, not rewritten
    assert mtimes == {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    }
    assert spark.table("lc_li_demo").count() == n1
    # the re-registered table still carries bucket metadata: a groupBy
    # on the bucket key plans with no shuffle exchange
    agg = spark.table("lc_li_demo").groupBy("l_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(l_orderkey" not in plan

    # same-session hit: catalog entry present → immediate no-op
    assert bkt.ensure_bucketed_layout(
        spark, "lc_li_demo", "l_orderkey", 8, path, df_fn
    ) is False

    # a changed spec (different bucket count) must NOT silently reuse
    spark.sql("DROP TABLE `lc_li_demo`")
    with open(os.path.join(path, bkt._SPEC_FILE)) as f:
        spec = json.load(f)
    assert spec["n_buckets"] == 8
    built3 = bkt.ensure_bucketed_layout(
        spark, "lc_li_demo", "l_orderkey", 4, path, df_fn
    )
    assert built3 is True  # respec'd: rewritten
    with open(os.path.join(path, bkt._SPEC_FILE)) as f:
        assert json.load(f)["n_buckets"] == 4
    spark.sql("DROP TABLE IF EXISTS `lc_li_demo`")


def test_bucketed_layout_prune_root(tmp_path):
    """The layout root is growth-capped: stale tmp build dirs and
    layouts beyond the cap (oldest first) are removed."""
    import os
    import time

    from data_pipeline_rsna_spark.sinks import bucketed as bkt

    root = str(tmp_path / "root")
    os.makedirs(root)
    # a stale crashed build and a fresh in-progress one
    os.makedirs(os.path.join(root, "t1.tmp-app1"))
    os.utime(os.path.join(root, "t1.tmp-app1"),
             (time.time() - 2 * 86400,) * 2)
    os.makedirs(os.path.join(root, "t2.tmp-app2"))
    # cap + 2 completed layouts with strictly increasing mtimes, all
    # OLDER than the age grace (recently-touched layouts may be
    # registered in another application's catalog and are never
    # deleted out from under a live reader — r11 review)
    for i in range(bkt._MAX_LAYOUT_DIRS + 2):
        d = os.path.join(root, f"layout_{i:02d}")
        os.makedirs(d)
        os.utime(d, (time.time() - 3 * 86400 + i,) * 2)
    bkt._prune_layout_root(root)
    left = sorted(os.listdir(root))
    assert "t1.tmp-app1" not in left  # stale build removed
    assert "t2.tmp-app2" in left  # fresh build kept
    layouts = [d for d in left if d.startswith("layout_")]
    assert len(layouts) == bkt._MAX_LAYOUT_DIRS
    assert "layout_00" not in layouts and "layout_01" not in layouts
    # age grace: a RECENT over-cap layout survives pruning even though
    # the count exceeds the cap
    recent = os.path.join(root, "layout_recent")
    os.makedirs(recent)
    bkt._prune_layout_root(root)
    assert "layout_recent" in os.listdir(root)


def test_bucketed_layout_rename_race_adopts_winner(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The concurrent-writer branch: a builder that loses the atomic
    rename (another application installed a complete layout at `path`
    between its existence check and its rename) must adopt the
    winner's files — delete its own build, register the existing
    layout, and report built=False. Simulated by blinding the
    pre-build spec check once, so the code builds against a path that
    already holds a complete layout."""
    import os

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.sinks import bucketed as bkt

    path = str(tmp_path / "layouts" / "li_race")
    os.makedirs(os.path.dirname(path), exist_ok=True)

    def df_fn():
        return tables.load(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_extendedprice"
        )

    spark.sql("DROP TABLE IF EXISTS `lc_li_race`")
    assert bkt.ensure_bucketed_layout(
        spark, "lc_li_race", "l_orderkey", 8, path, df_fn
    ) is True  # the "winner" installs the layout
    winner_files = {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    }
    spark.sql("DROP TABLE `lc_li_race`")

    real_read_spec = bkt._read_spec
    calls = {"n": 0}

    def blind_once(p):
        calls["n"] += 1
        if calls["n"] == 1:
            return None  # pre-build check: pretend nothing is there
        return real_read_spec(p)

    monkeypatch.setattr(bkt, "_read_spec", blind_once)
    built = bkt.ensure_bucketed_layout(
        spark, "lc_li_race", "l_orderkey", 8, path, df_fn
    )
    assert built is False  # lost the rename, adopted the winner
    assert winner_files == {
        f: os.path.getmtime(os.path.join(path, f))
        for f in os.listdir(path)
    }  # winner's files untouched, loser's build gone
    assert not [d for d in os.listdir(os.path.dirname(path))
                if ".tmp-" in d]  # loser cleaned up its build dir
    assert spark.table("lc_li_race").count() > 0
    spark.sql("DROP TABLE IF EXISTS `lc_li_race`")
