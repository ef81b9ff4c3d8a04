"""Unit tests for the relational kernel (SURVEY.md §5.2 goldens)."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import relational as rel
import pytest


def test_deterministic_split_golden(spark):
    # FIXTURES.md F8: N=10 => round(8.0)=8 train, 2 val (intended semantics,
    # not the reference's off-by-one 7/3).
    df = spark.range(10).select(F.col("id"))
    got = {
        r.split: r.n
        for r in rel.deterministic_split(df, "id").groupBy("split").agg(
            F.count("*").alias("n")
        ).collect()
    }
    assert got == {"train": 8, "val": 2}


def test_deterministic_split_string_key_golden(spark):
    """String keys take the sort path (prefix_scan's count): the
    round(N * 0.8) smallest ids are train, over 3 range partitions."""
    saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        def split(ids):
            df = spark.createDataFrame([(i,) for i in ids], "pid string")
            return {
                r.pid: r.split
                for r in rel.deterministic_split(df, "pid").collect()
            }

        ids = [f"p{i:02d}" for i in (7, 2, 9, 0, 5, 1, 8, 3, 6, 4)]
        got = split(ids)
        assert got == {
            i: "train" if i < "p08" else "val" for i in ids
        }, got
        assert split(["solo"]) == {"solo": "train"}
        assert split(["c", "a", "b"]) == {
            "a": "train", "b": "train", "c": "val"
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)


@pytest.mark.parametrize("partitions", [1, 3, 16, 64])
def test_prefix_scan_matches_window(spark, partitions):
    """Every aggregate of prefix_scan equals a plain Window over the
    frame (unboundedPreceding, -1): unkeyed and keyed by a string (NULL
    keys included), ascending, descending and two-column orders, with
    negative and NULL values. 64 partitions over 48 rows leaves some
    partitions empty."""
    import random

    from pyspark.sql import Window

    rng = random.Random(partitions)
    rows = [
        (
            rng.choice(["a", "b", "c", None]),
            i,
            i % 5,
            rng.choice([None, rng.randint(-50, 50), rng.randint(-50, 50)]),
        )
        for i in rng.sample(range(48), 48)
    ]
    df = spark.createDataFrame(rows, "k string, o long, o1 long, v long")
    aggs = {
        "c": ("count", "*"),
        "s": ("sum", "v"),
        "hi": ("max", "v"),
        "lo": ("min", "v"),
    }
    orders = (["o"], [F.col("o").desc()], ["o1", F.col("o").desc()])
    for key in (None, "k"):
        for order in orders:
            got, totals = rel.prefix_scan(
                df, order, aggs, key=key, partitions=partitions
            )
            w = (
                Window.partitionBy(*([key] if key else []))
                .orderBy(*order)
                .rowsBetween(Window.unboundedPreceding, -1)
            )
            want = df.select(
                "o", *[getattr(F, fn)(c).over(w).alias(out)
                       for out, (fn, c) in aggs.items()]
            )
            cols = ["o", *aggs]
            assert sorted(map(tuple, got.select(cols).collect())) == sorted(
                map(tuple, want.collect())
            ), (key, order)
            whole = df.groupBy(*([key] if key else [])).agg(
                *[getattr(F, fn)(c).alias(out)
                  for out, (fn, c) in aggs.items()]
            )
            assert totals == {
                (r[key] if key else None): {out: r[out] for out in aggs}
                for r in whole.collect()
            }, (key, order)


def test_dispatch_on_suffix(spark):
    df = spark.createDataFrame(
        [("a-shift-0-1",), ("b-scale-3-4",), ("c-x-1-9",)], "id string"
    )
    got = {
        r.id: r.stage
        for r in df.select(
            "id", rel.dispatch_on_suffix(F.col("id")).alias("stage")
        ).collect()
    }
    assert got == {
        "a-shift-0-1": "shift_image",
        "b-scale-3-4": "scale_image",
        "c-x-1-9": "scale_image_scale_shift_bbox",  # else-branch
    }


def test_validity_and_normalize_golden(spark):
    # FIXTURES.md F8: one degenerate box, one out-of-bounds, one valid.
    df = spark.createDataFrame(
        [("p1", 10, 20, 0, 5), ("p2", 1000, 10, 50, 50), ("p3", 100, 200, 300, 400)],
        "patient_id string, x int, y int, width int, height int",
    )
    kept = df.filter(rel.box_valid(1024, 1024))
    assert [r.patient_id for r in kept.collect()] == ["p3"]
    norm = rel.normalize_boxes(kept, 1024, 1024).collect()[0]
    assert (norm.xmin, norm.xmax) == (round(100 / 1024, 9), round(400 / 1024, 9))
    assert (norm.ymin, norm.ymax) == (round(200 / 1024, 9), round(600 / 1024, 9))


def test_fanout_ids(spark):
    df = spark.createDataFrame([("p1",)], "pid string")
    rows = rel.fanout(df, "pid", "shift", k=3, stage=2).collect()
    assert sorted(r.image_id for r in rows) == [
        "p1-shift-0-2",
        "p1-shift-1-2",
        "p1-shift-2-2",
    ]


def test_fill_id_gaps(spark):
    existing = spark.createDataFrame(
        [(1, "one"), (3, "three")], "id int, name string"
    )
    got = {r.id: r.name for r in rel.fill_id_gaps(existing, "id", 4).collect()}
    assert got == {0: "class_0", 1: "one", 2: "class_2", 3: "three", 4: "class_4"}


def test_categories_from_label_map(spark):
    lm = spark.createDataFrame(
        [
            (1, "n1", "display1", 10),
            (1, "n1b", "late-dup", 20),  # dropped: first-per-id wins
            (2, "n2", "", 30),  # empty display -> name
            (0, "bg", "bg", 40),  # id 0 excluded
            (99, "big", "big", 50),  # > max excluded
        ],
        "id int, name string, display_name string, pos int",
    )
    got = {
        r.id: r.category_name
        for r in rel.categories_from_label_map(lm, 10).collect()
    }
    assert got == {1: "display1", 2: "n2"}


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """Sketch path for 100 TB COUNT(DISTINCT): HLL++ must land within its
    configured relative error of the exact answer (exact stays the
    oracle; the sketch is the scale substitute)."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables

    orders = tables.load(spark, sf_dir, "orders")
    exact = orders.select(F.countDistinct("o_custkey")).collect()[0][0]
    approx = orders.select(
        F.approx_count_distinct("o_custkey", rsd=0.02)
    ).collect()[0][0]
    assert abs(approx - exact) / exact < 0.06  # 3x the configured rsd


def test_stratified_sample_deterministic_and_proportional(spark, sf_dir):
    """sampleBy with a seed: per-class fractions land near target and
    REPLAY exactly (seeded) - the curation primitive for class-balanced
    subset selection."""
    from data_pipeline_rsna_spark import tables

    orders = tables.load(spark, sf_dir, "orders")
    fractions = {"F": 0.5, "O": 0.1, "P": 0.9}
    a = orders.sampleBy("o_orderstatus", fractions, seed=42)
    b = orders.sampleBy("o_orderstatus", fractions, seed=42)
    ka = sorted(r.o_orderkey for r in a.collect())
    kb = sorted(r.o_orderkey for r in b.collect())
    assert ka == kb  # seeded => replayable
    totals = {r[0]: r[1] for r in
              orders.groupBy("o_orderstatus").count().collect()}
    got = {r[0]: r[1] for r in a.groupBy("o_orderstatus").count().collect()}
    for cls, frac in fractions.items():
        observed = got.get(cls, 0) / totals[cls]
        assert abs(observed - frac) < 0.15, (cls, observed, frac)


def test_grouped_running_sum_matches_window(spark):
    """The keyed prefix_scan sum, plus the row's own value, must equal
    the naive Window.partitionBy(key) cumulative sum — on a frame spread
    across many more range partitions than keys, so slices really
    split."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark.operators import relational as rel

    rng = random.Random(7)
    rows = [(f"k{i % 3}", i, rng.randint(1, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "key string, ord long, v long")
    before, _ = rel.prefix_scan(
        df, "ord", {"cum": ("sum", "v")}, key="key", partitions=16
    )
    got = {
        (r.key, r.ord): r.cum
        for r in before.withColumn(
            "cum", F.coalesce("cum", F.lit(0)) + F.col("v")
        ).collect()
    }
    w = (
        Window.partitionBy("key")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.key, r.ord): r.cum
        for r in df.withColumn("cum", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_approx_percentile_within_tolerance_of_exact(spark, sf_dir):
    """percentile_approx (the scale path — mergeable sketch, no global
    sort) must land within the documented accuracy of the exact
    percentile at every probed quantile."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables

    li = tables.load(spark, sf_dir, "lineitem")
    qs = [0.1, 0.5, 0.9, 0.99]
    acc = 1000  # relative rank error <= 1/acc
    row = li.agg(
        F.percentile_approx("l_extendedprice", qs, acc).alias("approx"),
        F.expr(
            f"percentile(l_extendedprice, array({','.join(map(str, qs))}))"
        ).alias("exact"),
        F.count("*").alias("n"),
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
    ).collect()[0]
    spread = row.hi - row.lo
    for a, e in zip(row.approx, row.exact):
        # rank-error guarantee translated loosely to value space: the
        # approx value must sit inside a narrow value band around exact
        assert abs(a - e) <= 0.05 * spread, (a, e)


def test_kfold_assignment_stable_and_balanced(spark, sf_dir):
    """A key's fold must survive repartitioning AND subsetting (no
    leakage across re-runs); folds must be roughly balanced."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.operators import relational as rel

    orders = tables.load(spark, sf_dir, "orders")
    a = {
        r.o_custkey: r.fold
        for r in rel.kfold_assign(orders, "o_custkey", 5)
        .select("o_custkey", "fold").distinct().collect()
    }
    subset = orders.filter(F.col("o_orderkey") % 3 == 0).repartition(7)
    b = {
        r.o_custkey: r.fold
        for r in rel.kfold_assign(subset, "o_custkey", 5)
        .select("o_custkey", "fold").distinct().collect()
    }
    assert all(a[k] == v for k, v in b.items())  # subset-stable
    counts = [0] * 5
    for f in a.values():
        counts[f] += 1
    expected = len(a) / 5
    # binomial noise at sf0.001 is ±3σ ≈ ±15 of 30; bound loosely
    assert all(0.5 * expected < c < 1.5 * expected for c in counts), counts


def test_pagerank_hub_outranks_leaves(spark):
    """On a bidirectional star, the hub must collect the highest rank;
    leaves are symmetric so their ranks must be identical."""
    from data_pipeline_rsna_spark.operators import graph as g

    leaves = [f"l{i}" for i in range(6)]
    pairs = [("hub", leaf) for leaf in leaves]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in
             g.pagerank_integer(edges, iterations=4).collect()}
    assert ranks["hub"] > max(ranks[leaf] for leaf in leaves)
    assert len({ranks[leaf] for leaf in leaves}) == 1  # exact symmetry


def test_snapshot_diff_null_safe_compare(spark):
    """NULL -> NULL must read as unchanged (eqNullSafe), NULL -> value
    as changed; added/removed classified by side presence."""
    old = spark.createDataFrame(
        [(1, None), (2, "a"), (3, "x")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(1, None), (2, "b"), (4, "y")], "k int, v string"
    )
    got = {r.k: r.diff_status
           for r in rel.snapshot_diff(old, new, "k", ["v"]).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_pareto_frontier_matches_bruteforce(spark):
    """Sweep-based skyline must equal the O(n^2) dominance definition,
    including ties on either dimension and duplicate points."""
    import random

    rng = random.Random(3)
    pts = [(i, rng.randrange(20), rng.randrange(20)) for i in range(120)]
    pts += [(200, 5, 5), (201, 5, 5)]  # exact duplicates: neither dominates
    df = spark.createDataFrame(pts, "id long, x long, y long")
    got = {r.id for r in rel.pareto_frontier_2d(df, "x", "y").collect()}
    want = {
        i
        for i, x, y in pts
        if not any(x2 > x and y2 > y for _, x2, y2 in pts)
    }
    assert got == want


def _kth(df, k, **kw):
    """k-th smallest of column ``k`` for a fixed rank."""
    return rel.exact_rank_statistic(df, "k", lambda _n: k, **kw)[1]


def test_exact_kth_smallest_refinement_matches_sorted(spark):
    """Order statistic via histogram refinement must equal the sorted
    answer — exercised with a take_threshold small enough to force at
    least one refinement round, non-contiguous keys, and duplicates."""
    vals = [v * 37 % 10007 for v in range(3000)] + [5, 5, 5, 9_999_999]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    s = sorted(vals)
    for k in (1, 2, 1500, 2400, len(vals)):
        got = _kth(df, k, n_buckets=16, take_threshold=64)
        assert got == s[k - 1], (k, got, s[k - 1])
    assert _kth(df, 0) is None
    assert _kth(df, len(vals) + 1) is None


def test_deterministic_split_numeric_no_shuffle_matches_rank(spark):
    """The numeric fast path (cutoff-key, zero data shuffle) must agree
    with rank-then-cutoff semantics on sparse, shuffled keys."""
    keys = [v * 101 % 4099 for v in range(997)]  # unique, non-contiguous
    df = spark.createDataFrame([(k,) for k in keys], "id long")
    got = {
        r.id: r.split for r in rel.deterministic_split(df, "id").collect()
    }
    cutoff = round(len(keys) * 0.8)
    want = {
        k: ("train" if i < cutoff else "val")
        for i, k in enumerate(sorted(keys))
    }
    assert got == want


@pytest.mark.slow
def test_exact_kth_smallest_beyond_double_precision(spark):
    """Keys past 2^53 — where double arithmetic cannot represent
    adjacent longs — must still resolve exactly (the DIV bucketing is
    integer-exact by construction)."""
    base = (1 << 53) + 10**6
    vals = [base + v * 3 for v in range(400)] + [base - 5, base + 10**9]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    s = sorted(vals)
    for k in (1, 200, len(vals)):
        got = _kth(df, k, n_buckets=8, take_threshold=32)
        assert got == s[k - 1], (k, got, s[k - 1])


def test_ring_successor_wrap_and_ties(spark):
    """Successor semantics on a tiny explicit ring: >= match (exact tie
    returns the tying point), in-bucket successor, cross-bucket
    fallback, and global wrap-around for targets past the ring max."""
    points = spark.createDataFrame(
        [("p1", "1aaa"), ("p2", "8bbb"), ("p3", "8ccc")],
        "pid string, h string",
    )
    targets = spark.createDataFrame(
        [
            ("t_tie", "8bbb"),      # exact tie -> p2
            ("t_mid", "8bcc"),      # between p2,p3 (same bucket) -> p3
            ("t_gap", "2000"),      # bucket 2 empty -> fallback p2
            ("t_wrap", "ffff"),     # past max -> wrap to p1
            ("t_low", "0001"),      # below min, bucket 0 empty -> p1
        ],
        "name string, t string",
    )
    out = {
        r["name"]: r["pid_succ"]
        for r in rel.ring_successor_join(
            points, targets, "pid", "h", "t", n_buckets=16
        ).collect()
    }
    assert out == {
        "t_tie": "p2",
        "t_mid": "p3",
        "t_gap": "p2",
        "t_wrap": "p1",
        "t_low": "p1",
    }


def test_deterministic_split_with_null_keys_falls_back(spark):
    """NULL order keys can't ride the cutoff-key equivalence; the
    operator must fall back to the sort-based rank (Spark sorts NULLS
    FIRST ascending, so nulls land in train) instead of crashing or
    looping."""
    rows = [(None,), (None,)] + [(v,) for v in range(10)]
    df = spark.createDataFrame(rows, "id long")  # 12 rows, cutoff 10
    got = {
        r.split: r.n
        for r in rel.deterministic_split(df, "id")
        .groupBy("split")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == {"train": 10, "val": 2}
    # all-null keys: count path must not raise
    allnull = spark.createDataFrame([(None,), (None,)], "id long")
    out = rel.deterministic_split(allnull, "id").collect()
    assert len(out) == 2


def test_exact_kth_smallest_rejects_fractional(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(0.1,), (0.5,)], "k double")
    with _pytest.raises(TypeError):
        _kth(df, 1)


def test_exact_kth_smallest_full_range_longs(spark):
    """Keys spanning negative-to-positive extremes (xxhash64-like) must
    not overflow the shift: the sign-split pre-round keeps every
    intermediate in long range."""
    vals = [-(1 << 62) - 7, -(1 << 61), -5, 0, 3, (1 << 61), (1 << 62) + 9]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    s = sorted(vals)
    for k in (1, 4, len(vals)):
        got = _kth(df, k, n_buckets=4, take_threshold=2)
        assert got == s[k - 1], (k, got)


def test_weighted_k_sample_bias_and_determinism(spark):
    # 200 keys in one group: half weight 1, half weight 50. A weighted
    # sample of 40 must strongly favor the heavy keys; exact membership
    # must be stable across invocations (deterministic hash order).
    rows = [(0, i, 50.0 if i % 2 == 0 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, "g int, key long, w double")
    got1 = {r.key for r in rel.weighted_k_sample(df, "g", "key", "w", 40).collect()}
    got2 = {r.key for r in rel.weighted_k_sample(df, "g", "key", "w", 40).collect()}
    assert got1 == got2 and len(got1) == 40
    heavy = sum(1 for k in got1 if k % 2 == 0)
    # E[heavy] ~ 38+; anything <= 30 would mean the weights are ignored
    assert heavy > 30, heavy


def test_weighted_k_sample_excludes_nonpositive_weights(spark):
    rows = [(0, 1, 0.0), (0, 2, -3.0), (0, 3, 2.0)]
    df = spark.createDataFrame(rows, "g int, key long, w double")
    got = {r.key for r in rel.weighted_k_sample(df, "g", "key", "w", 10).collect()}
    assert got == {3}


def test_scd2_history_hand_example(spark):
    snaps = spark.createDataFrame(
        [
            (1, "k", 10, "A"),
            (2, "k", 10, "A"),   # unchanged -> same interval
            (3, "k", 20, "A"),   # price change -> new interval
            (4, "k", 20, "B"),   # status change -> new interval
            (1, "j", 5, "A"),    # j never changes
            (2, "j", 5, "A"),
        ],
        "version int, key string, cents long, status string",
    )
    hist = {
        (r.key, r.valid_from): (r.valid_to, r.cents, r.status)
        for r in rel.scd2_history(
            snaps, "key", "version", ["cents", "status"]
        ).collect()
    }
    assert hist[("k", 1)] == (2, 10, "A")
    assert hist[("k", 3)] == (3, 20, "A")
    assert hist[("k", 4)] == (4, 20, "B")
    assert hist[("j", 1)] == (2, 5, "A")
    assert len(hist) == 4


def test_cogrouped_reconcile_shared_lineage_regression(spark, sf_dir):
    """Regression: old/new as two filters of the SAME DataFrame (shared
    attribute ids) used to hand the Python worker a right-side frame
    holding only the grouping key at some SFs. The re-aliasing guard
    must keep full frames on both sides; result verified against the
    pure-JVM snapshot_diff-style expectation."""
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark import tables
    from data_pipeline_rsna_spark.operators import relational as rel

    ev = tables.load(spark, sf_dir, "events").select(
        "user_id", "event_id", "value"
    )
    old = ev.filter(F.col("event_id") % 7 != 0)
    new = ev.filter(F.col("event_id") % 3 != 0)
    out = rel.cogrouped_reconcile(old, new).collect()
    assert len(out) > 0
    # expectation for one user via plain python
    uid = out[0].user_id
    o = {
        r.event_id: r.value
        for r in old.filter(F.col("user_id") == uid).collect()
    }
    n = {
        r.event_id: r.value
        for r in new.filter(F.col("user_id") == uid).collect()
    }
    row = next(r for r in out if r.user_id == uid)
    common = o.keys() & n.keys()
    changed = sum(1 for i in common if o[i] != n[i])
    assert (row.n_added, row.n_removed, row.n_changed, row.n_same) == (
        len(n.keys() - o.keys()),
        len(o.keys() - n.keys()),
        changed,
        len(common) - changed,
    )


def test_oof_target_encoding_leakage_safe(spark):
    """The served mean for (cat, fold) must exclude that fold's own
    rows exactly, and a single-fold category exports NULL ppm with
    den 0 (no safe encoding), never a global fallback."""
    rows = [
        ("a", 0, 10), ("a", 0, 20), ("a", 1, 40),
        ("b", 2, 7),
    ]
    df = spark.createDataFrame(rows, "cat string, fold int, t long")
    out = {(r.cat, r.fold): r
           for r in rel.oof_target_encoding(df, "cat", "fold", "t").collect()}
    # (a,0): other folds = {40}/1; (a,1): {10,20}/2 -> 15
    assert (out[("a", 0)].enc_num, out[("a", 0)].enc_den) == (40, 1)
    assert out[("a", 0)].enc_mean_ppm == 40_000000
    assert (out[("a", 1)].enc_num, out[("a", 1)].enc_den) == (30, 2)
    assert out[("a", 1)].enc_mean_ppm == 15_000000
    assert out[("b", 2)].enc_den == 0
    assert out[("b", 2)].enc_mean_ppm is None


def test_blocked_levenshtein_join_blocks_and_matches(spark):
    """Within-block typo matches at its distance; a first-token typo
    escapes the block (documented recall bound); a distance-3 name in
    the same block is filtered out."""
    noisy = spark.createDataFrame(
        [("golden lace",), ("golden lacquer",), ("golben lace",)],
        "noisy string",
    )
    names = spark.createDataFrame(
        [("golden lacy",), ("golden shore",)], "name string"
    )
    got = {
        (r.noisy, r.name): r.dist
        for r in rel.blocked_levenshtein_join(
            noisy, names, "noisy", "name", max_dist=2
        ).collect()
    }
    assert got == {
        ("golden lace", "golden lacy"): 1,
        # 'golden lacquer' -> 'golden lacy' is distance 3: filtered.
        # 'golben lace' blocks under 'golben': never a candidate.
    }


def test_grouped_running_sums_multi_col_matches_two_windows(spark):
    """Two prefix_scan sums in one scan, plus the row's own values,
    must equal two independent naive window sums — with negative values
    (a partition's total is not its largest running value), and more
    partitions than keys so slices split."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark.operators import relational as rel

    rng = random.Random(11)
    rows = [
        (f"k{i % 2}", i, rng.randint(-50, 50), rng.randint(-5, 5))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, "key string, ord long, a long, b long")
    before, _ = rel.prefix_scan(
        df, "ord", {"ca": ("sum", "a"), "cb": ("sum", "b")}, key="key",
        partitions=16,
    )
    got = {
        (r.key, r.ord): (r.ca, r.cb)
        for r in before.selectExpr(
            "key", "ord",
            "coalesce(ca, 0) + a AS ca", "coalesce(cb, 0) + b AS cb",
        ).collect()
    }
    w = (
        Window.partitionBy("key")
        .orderBy("ord")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = {
        (r.key, r.ord): (r.ca, r.cb)
        for r in df.withColumn("ca", F.sum("a").over(w))
        .withColumn("cb", F.sum("b").over(w))
        .collect()
    }
    assert got == want


def test_exact_average_precision_matches_bruteforce(spark):
    """AP against a brute-force python reference using the same
    tie convention (tied block scored at block-end precision),
    including a heavily tied score distribution."""
    import random

    from data_pipeline_rsna_spark.operators import relational as rel

    rng = random.Random(3)
    rows = [(rng.randint(0, 20), rng.randint(0, 1)) for _ in range(300)]
    df = spark.createDataFrame(rows, "score long, lab int")
    got = rel.exact_average_precision(df, "score", "lab").collect()[0]

    # brute force: group by score desc, block-end precision
    from collections import defaultdict

    g = defaultdict(lambda: [0, 0])
    for s, l in rows:
        g[s][0] += l
        g[s][1] += 1
    cum_pos = cum_all = ap_num = 0
    for s in sorted(g, reverse=True):
        pos, alln = g[s]
        cum_pos += pos
        cum_all += alln
        ap_num += pos * ((1000000 * cum_pos) // cum_all)
    npos = sum(l for _, l in rows)
    assert got.npos == npos
    assert got.n_total == len(rows)
    assert got.ap_num == ap_num
    assert got.ap_ppm == ap_num // npos


def test_join_skew_diagnosis_hand_computed(spark):
    left = spark.createDataFrame(
        [("hot",)] * 6 + [("a",)] * 2 + [("b",)],
        "k string",
    )
    right = spark.createDataFrame(
        [("hot",)] * 4 + [("a",)] * 1 + [("b",)] * 3 + [("only_right",)],
        "k string",
    )
    rows = rel.join_skew_diagnosis(left, right, "k", "k", top_k=5).collect()
    # est: hot 24, b 3, a 2 -> total 29, n_keys 3 (only_right drops: no
    # left rows means no join output, so it cannot skew anything)
    assert [(r.join_key, r.est_rows) for r in rows] == [
        ("hot", 24), ("b", 3), ("a", 2)
    ]
    hot = rows[0]
    assert (hot.n_left, hot.n_right) == (6, 4)
    assert hot.share_ppm == (1_000_000 * 24) // 29
    assert hot.salt_factor == (24 * 3 + 28) // 29  # ceil(24*3/29) = 3
    assert rows[1].salt_factor == 1 and rows[2].salt_factor == 1


def test_file_skipping_stats_hand_computed(spark):
    """Two files, two probe months; file 0 spans both months (a layout
    straddle), file 1 is month-2-only."""
    rows = [
        (0, 10, 100), (0, 20, 100), (0, 40, 131),  # file 0: days 10-40
        (1, 35, 131), (1, 45, 131),                 # file 1: days 35-45
    ]
    df = spark.createDataFrame(rows, "f long, d long, m long")
    out = {r.probe_month: r for r in rel.file_skipping_stats(
        df, "f", "d", "m").collect()}
    m1 = out[100]  # month span [10,20]: only file 0 overlaps
    assert (m1.n_files, m1.files_scanned, m1.file_skip_ppm) == (2, 1, 500000)
    assert (m1.rows_in_range, m1.rows_scanned) == (2, 3)
    assert m1.read_amp_ppm == (1_000_000 * 3) // 2
    m2 = out[131]  # month span [35,45]: both files overlap
    assert (m2.files_scanned, m2.file_skip_ppm) == (2, 0)
    assert (m2.rows_in_range, m2.rows_scanned) == (3, 5)


def test_exact_kth_smallest_mixed_sign_extreme_domain(spark):
    """The exponential (bit_length, top-bits) first-round bucketing must
    stay order-preserving across the FULL int64 domain: negatives
    (two's-complement fold), values straddling zero, LONG_MIN/MAX, and
    magnitudes past 2^53."""
    vals = [
        -(1 << 63), (1 << 63) - 1, -1, 0, 1,
        -(1 << 52) - 7, (1 << 52) + 7,
        -(10 ** 18), 10 ** 18,
    ] + [v * 7919 - 3_000_000 for v in range(800)] \
      + [-(v * v) for v in range(100)]
    df = spark.createDataFrame([(v,) for v in vals], "k long")
    s = sorted(vals)
    for k in (1, 2, 100, len(vals) // 2, len(vals) - 1, len(vals)):
        got = _kth(df, k, n_buckets=8, take_threshold=16)
        assert got == s[k - 1], (k, got, s[k - 1])


def test_recursive_bfs_row_limit_does_not_leak(spark):
    """ADVICE r7: sql_recursive_bfs raises cteRecursionRowLimit to 100M
    for its own run; the shared session's guard must stay untouched."""
    from data_pipeline_rsna_spark.queries import REGISTRY

    before = spark.conf.get("spark.sql.cteRecursionRowLimit")
    df = REGISTRY["sql_recursive_bfs"].spark_fn(spark, "/root/testdata/sf0.001")
    assert df.count() > 0
    assert spark.conf.get("spark.sql.cteRecursionRowLimit") == before
