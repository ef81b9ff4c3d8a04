"""Hand-checked goldens: time-weighted sum, rolling median, triangles."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import events as ev_ops
from data_pipeline_rsna_spark.operators import graph as g
from data_pipeline_rsna_spark.operators import temporal


EV_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _ev(spark, rows):
    return spark.createDataFrame(rows, EV_SCHEMA)


def test_time_weighted_sum_hand_computed(spark):
    t0 = datetime.datetime(2024, 1, 1)
    df = _ev(spark, [
        (1, t0, 7, "a", 2.00, "{}"),                               # 200c for 10s
        (2, t0 + datetime.timedelta(seconds=10), 7, "a", 4.00, "{}"),  # 400c for 5s
        (3, t0 + datetime.timedelta(seconds=15), 7, "a", 1.00, "{}"),  # last: no segment
        (4, t0, 9, "b", 10.00, "{}"),                              # single event user
    ])
    out = {r.user_id: r for r in temporal.time_weighted_sum(df).collect()}
    assert out[7].twa_num_us_cents == 10_000_000 * 200 + 5_000_000 * 400
    assert out[7].span_us == 15_000_000 and out[7].n_events == 3
    assert out[9].twa_num_us_cents == 0 and out[9].span_us == 0


def test_rolling_median_hand_computed(spark):
    t0 = datetime.datetime(2024, 1, 1)
    vals = [5.00, 1.00, 3.00, 9.00]  # cents 500,100,300,900
    df = _ev(spark, [
        (i, t0 + datetime.timedelta(seconds=i), 1, "a", v, "{}")
        for i, v in enumerate(vals)
    ])
    out = {r.event_id: r.median_x2_cents
           for r in ev_ops.rolling_median_x2(df, lookback=3).collect()}
    assert out[0] == 1000            # [500] -> 2*500
    assert out[1] == 600             # [100,500] -> 100+500
    assert out[2] == 600             # [100,300,500] -> 2*300
    assert out[3] == 600             # frame [100,300,900] -> 2*300


def test_triangle_counts_hand_checked(spark):
    # K4 on {a,b,c,d} plus pendant edge d-e: C(4,3)=4 triangles;
    # each K4 node in 3, e in none.
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"),
         ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    out = {r.node: r.n_triangles for r in g.triangle_counts(edges).collect()}
    assert out == {"a": 3, "b": 3, "c": 3, "d": 3}
    total = sum(out.values())
    assert total == 3 * 4  # 4 triangles x 3 corners


def test_triangle_counts_no_false_positives(spark):
    # cycle of length 4 has no triangles
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        "src string, dst string",
    )
    assert g.triangle_counts(edges).count() == 0


def test_interval_overlap_hand_checked(spark):
    iv = spark.createDataFrame(
        [
            (1, "c", 0, 10),
            (2, "c", 10, 20),   # touches 1 at a point (closed: overlap 0)
            (3, "c", 5, 8),     # inside 1
            (4, "c", 21, 30),   # disjoint from all
            (5, "d", 0, 100),   # other key: never pairs with c's
        ],
        "id long, key string, s long, e long",
    )
    out = {(r.id_a, r.id_b): r.overlap
           for r in temporal.interval_overlap_pairs(iv, "key", "id", "s", "e").collect()}
    assert set(out) == {(1, 2), (1, 3)}
    assert out[(1, 2)] == 0       # closed-interval point touch
    assert out[(1, 3)] == 3       # 8-5
    assert (2, 3) not in out      # [10,20] vs [5,8] disjoint
    assert (1, 4) not in out and (2, 4) not in out
    assert all(k[0] != 5 and k[1] != 5 for k in out)


def test_bfs_hops_hand_checked(spark):
    # path a-b-c-d-e plus isolated f: from {a}, hops a:0 b:1 c:2 d:3;
    # e beyond max_hops=3 only via d (hop 4) -> excluded.
    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.hop for r in g.bfs_hops(edges, srcs, max_hops=3).collect()}
    assert out == {"a": 0, "b": 1, "c": 2, "d": 3}


def test_bfs_min_hop_on_diamond(spark):
    # a-b, a-c, b-d, c-d: d reachable two ways, hop must be 2 once.
    pairs = [("a", "b"), ("a", "c"), ("b", "d"), ("c", "d")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    rows = g.bfs_hops(edges, srcs, max_hops=3).collect()
    out = {r.node: r.hop for r in rows}
    assert len(rows) == 4 and out["d"] == 2


def test_bfs_early_termination(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    srcs = spark.createDataFrame([("a",)], "node string")
    out = {r.node: r.hop for r in g.bfs_hops(edges, srcs, max_hops=10).collect()}
    assert out == {"a": 0, "b": 1}


def _kcore_peel(adj, k, iterations):
    """Synchronous peeling in Python: each round keeps the vertices
    with >= k neighbours among the previous survivors, stopping early
    once a round removes nothing."""
    surv = set(adj)
    deg = {}
    for _ in range(iterations):
        deg = {v: sum(w in surv for w in adj[v]) for v in surv}
        deg = {v: d for v, d in deg.items() if d >= k}
        if len(deg) == len(surv):
            break
        surv = set(deg)
    return deg


@pytest.mark.parametrize("iterations", [1, 12])
def test_kcore_clique_with_pendant_path(spark, iterations):
    # 5-clique 0..4 plus the pendant path 4-5-6-7: the 3-core is the
    # clique, reached after one peel round and confirmed by the next;
    # one round leaves node 4's degree counting the peeled node 5
    pairs = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    pairs += [(4, 5), (5, 6), (6, 7)]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "src long, dst long"
    )
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = _kcore_peel(adj, 3, iterations)
    got = {
        r.vertex: r.core_degree
        for r in g.kcore_vertices(edges, k=3, iterations=iterations).collect()
    }
    assert got == want
    assert set(got) == set(range(5))
    assert got[4] == (5 if iterations == 1 else 4)


def test_clustering_coefficient_k4_and_star(spark):
    from data_pipeline_rsna_spark.operators import graph as g

    # K4 on {1,2,3,4}: every node deg 3, T=3 -> cc = 2*3/(3*2) = 1
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    # star hub 10 with leaves 11..13: hub deg 3 T=0 -> cc 0; leaves deg 1
    star = [(10, leaf) for leaf in (11, 12, 13)]
    edges = spark.createDataFrame(k4 + star, "src long, dst long")
    out = {r.node: r for r in g.clustering_coefficient(edges).collect()}
    for v in range(1, 5):
        assert (out[v].deg, out[v].n_triangles, out[v].cc_ppm) == (3, 3, 1000000)
    assert (out[10].deg, out[10].n_triangles, out[10].cc_ppm) == (3, 0, 0)
    for leaf in (11, 12, 13):
        assert (out[leaf].deg, out[leaf].cc_ppm) == (1, 0)


def test_k_anonymity_hand_check(spark):
    from data_pipeline_rsna_spark.operators import stats as st

    rows = [("a", "x")] * 6 + [("a", "y")] * 2 + [("b", "x")]
    df = spark.createDataFrame(rows, "q1 string, q2 string")
    got = st.k_anonymity(df, ["q1", "q2"], k=5).collect()[0]
    assert (got.n_classes, got.n_rows) == (3, 9)
    assert (got.classes_below_k, got.rows_below_k) == (2, 3)
    assert got.min_class_size == 1


def test_degree_assortativity_star_is_negative(spark):
    """A star (hub 0 - leaves 1..4): every edge pairs deg 4 with deg 1,
    so r = -1 exactly: corr_num = -var (perfect anticorrelation)."""
    from data_pipeline_rsna_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 5)], "src long, dst long"
    )
    r = g.degree_assortativity(edges).collect()[0]
    assert r.n_ends == 8
    assert int(r.var_x) == int(r.var_y)
    assert int(r.corr_num) == -int(r.var_x) and int(r.var_x) > 0


def test_degree_assortativity_regular_graph_degenerate(spark):
    """A 4-cycle is 2-regular: zero degree variance, corr_num = 0 and
    var = 0 (r undefined, consumer sees the 0/0 explicitly)."""
    from data_pipeline_rsna_spark.operators import graph as g

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src long, dst long"
    )
    r = g.degree_assortativity(edges).collect()[0]
    assert int(r.corr_num) == 0 and int(r.var_x) == 0


def test_jaccard_link_prediction_square_graph(spark):
    """4-cycle a-b-c-d-a: the two diagonals (a,c) and (b,d) are the
    non-edges, each sharing BOTH neighbors -> jaccard = 2/(2+2-2) = 1."""
    from data_pipeline_rsna_spark.operators import graph as g

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        "src string, dst string",
    )
    out = {
        (r.node_a, r.node_b): r
        for r in g.jaccard_link_prediction(edges).collect()
    }
    assert set(out) == {("a", "c"), ("b", "d")}
    r = out[("a", "c")]
    assert (r.common_neighbors, r.deg_a, r.deg_b) == (2, 2, 2)
    assert r.jaccard_ppm == 1_000_000
    # add the (a,c) edge: it must disappear (anti-join), (b,d) stays
    edges2 = edges.union(
        spark.createDataFrame([("a", "c")], "src string, dst string")
    )
    out2 = {
        (r.node_a, r.node_b)
        for r in g.jaccard_link_prediction(edges2).collect()
    }
    assert ("a", "c") not in out2 and ("b", "d") in out2


def test_hits_star_bipartite(spark):
    """One hub buyer connected to all suppliers dominates; a one-edge
    buyer scores the fraction its single authority carries."""
    from data_pipeline_rsna_spark.operators import graph as g

    pairs = spark.createDataFrame(
        [("big", "s1"), ("big", "s2"), ("big", "s3"), ("small", "s1")],
        "c string, s string",
    )
    out = {
        (r.role, r.node): r.score_micro
        for r in g.hits_scores(pairs, iters=2).collect()
    }
    # iter1: a(s1)=2e6 raw, a(s2)=a(s3)=1e6 -> normalized 1e6, 5e5, 5e5
    # h(big)=1e6+5e5+5e5=2e6, h(small)=1e6 -> 1e6, 5e5
    # iter2: a(s1)=1e6+5e5, a(s2)=a(s3)=1e6 -> 1e6, 666666, 666666
    # h(big)=1e6+2*666666, h(small)=1e6 -> 1e6, (1e6*1e6)//2333332
    assert out[("hub", "big")] == 1_000_000
    assert out[("authority", "s1")] == 1_000_000
    assert out[("authority", "s2")] == (1_000_000 * 1_000_000) // 1_500_000
    assert out[("hub", "small")] == (
        1_000_000 * 1_000_000
    ) // (1_000_000 + 2 * ((1_000_000 * 1_000_000) // 1_500_000))
