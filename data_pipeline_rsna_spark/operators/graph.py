"""Graph analytics over relational edge tables.

PageRank here is deliberately INTEGER arithmetic: every step is bigint
sum / integer division, so the result is bit-identical in any engine —
float PageRank depends on summation order, which no distributed engine
guarantees. Rank unit: 1e6 micro-rank per node at iteration 0;
damping 0.85 applied as ``(850 * x) DIV 1000``.

Reference parity note: the reference repo has no graph operator; this
extends the engine's curation surface (link-graph dedup, domain
authority for corpus weighting) per SURVEY.md §2.3's north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import fixpoint, lineage_cut

DAMPING_MILLIS = 850
SRC_COL = "src"
DST_COL = "dst"

RANK_UNIT = 1_000_000


def pagerank_integer(edges: DataFrame, iterations: int = 3) -> DataFrame:
    """Fixed-iteration PageRank in exact integer micro-rank units.

    ``new_rank(v) = (1000 - DAMPING_MILLIS) * RANK_UNIT DIV 1000
                    + DAMPING_MILLIS * sum(rank(u) DIV deg(u)) DIV 1000``
    over in-neighbors u. Callers must pass a graph where EVERY node has
    at least one out-edge and one in-edge (e.g. a bidirectionalized
    edge list); dangling-node mass redistribution is deliberately out
    of scope for the exact-parity variant.

    Execution: each iteration is join(ranks, edges on src) →
    groupBy(dst) → sum, the Pregel message pattern, run through
    ``fixpoint``. Edges are pre-joined with out-degree, repartitioned on
    src ONCE and persisted, so every iteration's join reuses that
    layout and only the (node, rank) table (|V| rows) moves per round.
    """
    base = (1000 - DAMPING_MILLIS) * RANK_UNIT // 1000
    deg = edges.groupBy(SRC_COL).agg(F.count("*").alias("_deg"))
    ed = (
        edges.join(deg, SRC_COL)
        .repartition(F.col(SRC_COL))
        .persist()
    )
    # node set from the PERSISTED edge layout, not the raw edges
    # subtree (which would recompute the caller's edge construction):
    # every node has an out-edge by contract, so it is the same set
    nodes = ed.select(F.col(SRC_COL).alias("node")).distinct()

    def step(ranks: DataFrame, _round: int) -> DataFrame:
        contribs = ed.join(
            ranks.withColumnRenamed("node", SRC_COL), SRC_COL
        ).select(
            F.col(DST_COL).alias("node"),
            F.expr("rank DIV _deg").alias("_c"),
        )
        return contribs.groupBy("node").agg(
            (
                F.lit(base)
                + F.expr(f"{DAMPING_MILLIS} * sum(_c) DIV 1000")
            ).alias("rank")
        )

    ranks = fixpoint(
        nodes.withColumn("rank", F.lit(RANK_UNIT).cast("bigint")),
        step,
        iterations,
    )
    ed.unpersist()
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected simple
    graph given as canonical edges (src < dst, no duplicates).

    Enumeration is the standard ordered two-join: (a<b) ⋈ (b<c) ⋈
    check (a<c) — each triangle is produced exactly once in a<b<c
    orientation, then exploded to its three corners for the per-node
    rollup.

    Scale shape: the join fan-out is Σ deg(v)² on the ORDERED graph; at
    100 TB edge lists the standard mitigation is degree orientation
    (orient each edge toward the higher-degree endpoint before joining,
    which bounds wedge counts by arboricity) — same join tree, one
    extra degree computation; noted rather than implemented because the
    canonical-order variant is the oracle-checkable one.
    """
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node")
    )
    return corners.groupBy("node").agg(F.count("*").alias("n_triangles"))


def bfs_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 3,
) -> DataFrame:
    """Multi-source BFS: minimum hop distance (0..max_hops) from the
    source set to every reachable node, as (node, hop). Level-synchronous
    frontier loop: round h expands only the rows discovered at hop h-1
    and anti-joins the visited set, so per-round shuffle volume is the
    frontier × degree, not |V|². First discovery is minimum distance
    because expansion is strictly level-by-level; the visited count
    only grows, so an unchanged count means no new node (the loop's
    ``fixpoint`` progress).

    The edge list is repartitioned on ``src`` once and persisted so
    every round's join reuses the layout.
    """
    ed = edges.select(F.col(SRC_COL).alias("_s"), F.col(DST_COL).alias("_d"))
    ed = ed.repartition(F.col("_s")).persist()

    def step(visited: DataFrame, h: int) -> DataFrame:
        frontier = visited.where(F.col("hop") == h - 1).select("node")
        new = (
            frontier.join(ed, frontier.node == ed._s)
            .select(F.col("_d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(h))
        )
        return visited.unionByName(new)

    visited = fixpoint(
        sources.select(F.col("node")).distinct().withColumn("hop", F.lit(0)),
        step,
        max_hops,
        progress=F.count(F.lit(1)),
    )
    ed.unpersist()
    return visited


def clustering_coefficient(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per node over canonical undirected
    edges (src < dst): cc(v) = 2·T(v) / (deg(v)·(deg(v)−1)), the
    how-clique-like-is-this-neighborhood score that separates hub
    nodes (low cc — bridges) from community cores (high cc) — the
    standard community-structure diagnostic next to triangle counts.

    Exact export: ``cc_ppm = 2·T·1e6 DIV (deg·(deg−1))`` — triangle
    counts and degrees are integers, the quotient is a non-negative
    floor division (identical both engines); deg < 2 nodes define
    cc = 0. Degrees are one union+groupBy over the edge list; the
    triangle join is the documented ``triangle_counts`` shape (degree
    orientation is the 100 TB mitigation).
    """
    tri = triangle_counts(edges)
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
        )
        .selectExpr(
            "node",
            "deg",
            "n_triangles",
            "CASE WHEN deg >= 2 THEN "
            "CAST(n_triangles * 2000000 DIV (deg * (deg - 1)) AS BIGINT) "
            "ELSE 0 END AS cc_ppm",
        )
    )


def degree_assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity of an undirected graph (edges as src<dst
    pairs): the Pearson correlation between the degrees at the two ends
    of every edge — positive means hubs link to hubs (social-network
    shape), negative means hubs link to leaves (hub-and-spoke / star
    shape). The single number that says which topology a co-occurrence
    graph grew into, and therefore which skew strategy its downstream
    joins need.

    Exactness: degrees are integers, so r = corr_num /
    sqrt(var_x·var_y) ships as unevaluated decimal(38,0) sufficient
    statistics (the engine-wide rational-export discipline). Each
    undirected edge contributes BOTH orientations, the standard
    Newman convention; by that symmetry var_x = var_y, and both are
    still exported so the oracle twin stays a plain Pearson.

    Shape: one union+groupBy for degrees (map-side combined), two
    joins of the edge list against the (node, degree) table — at
    100 TB the hot side is the power-law hub's degree row, a
    broadcast-sized table per join probe — then a one-row exact
    aggregate. Nothing materializes beyond the edge list itself.
    """
    deg = (
        edges.select(F.col("src").alias("node"))
        .unionAll(edges.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    du = deg.select(
        F.col("node").alias("_u"), F.col("deg").alias("deg_u")
    )
    dv = deg.select(
        F.col("node").alias("_v"), F.col("deg").alias("deg_v")
    )
    pairs = (
        edges.join(du, edges.src == du._u)
        .join(dv, edges.dst == dv._v)
        .select("deg_u", "deg_v")
    )
    # both orientations: n = 2E; symmetric sums fold to doubled terms
    return pairs.agg(
        (F.count("*") * 2).cast("bigint").alias("n_ends"),
        F.sum(F.col("deg_u") + F.col("deg_v"))
        .cast("decimal(38,0)")
        .alias("_s"),
        F.sum(F.col("deg_u") * F.col("deg_v"))
        .cast("decimal(38,0)")
        .alias("_sxy"),
        F.sum(
            F.col("deg_u") * F.col("deg_u")
            + F.col("deg_v") * F.col("deg_v")
        )
        .cast("decimal(38,0)")
        .alias("_sxx"),
    ).selectExpr(
        "n_ends",
        # decimal(38,0) arithmetic, BIGINT output: the sums are degree-
        # bound (~3e6 at sf0.1, ~E·d̄² growth); an integral output
        # crosses the engine/driver boundary as a plain int, where
        # DECIMAL(38,0) fetches as python Decimal in some DuckDB
        # versions and int in others (r12 fix)
        "CAST(n_ends * (2 * _sxy) - _s * _s AS BIGINT) AS corr_num",
        "CAST(n_ends * _sxx - _s * _s AS BIGINT) AS var_x",
        "CAST(n_ends * _sxx - _s * _s AS BIGINT) AS var_y",
    )


def kcore_vertices(
    edges: DataFrame,
    k: int,
    iterations: int = 12,
) -> DataFrame:
    """Vertices of the k-core — the maximal subgraph where every vertex
    has degree >= k — by synchronous peeling: each round recomputes
    degrees WITHIN the current survivor set and drops vertices under k;
    the fixpoint is the k-core (Seidman 1983; the peel is confluent, so
    synchronous rounds and sequential peeling converge to the same set).

    ``edges`` must be undirected-symmetrized (both directions present).
    The survivor set only shrinks, so its row count is a monotone
    ``fixpoint`` progress; rounds stop at the fixpoint, capped at
    ``iterations``. Past the fixpoint every round is the identity, so a
    DuckDB twin that unrolls a fixed round count >= the convergence
    depth replays the identical answer. Returns (vertex, core_degree).

    Scale notes: each round is edges SEMI-JOIN survivors (on dst)
    SEMI-JOIN survivors (on src) → groupBy(src) count — membership
    tests, so AQE broadcasts the survivor side as soon as it shrinks
    under the threshold, and later rounds get cheaper.
    """
    # The edge list is reused every round — cut it once so each round's
    # scan starts from materialized blocks, not the upstream plan.
    ed = edges.select(
        F.col(SRC_COL).alias("_s"), F.col(DST_COL).alias("_d")
    ).transform(lineage_cut)

    def degrees(e: DataFrame) -> DataFrame:
        return e.groupBy("_s").agg(F.count("*").alias("core_degree"))

    def peel(deg: DataFrame, _round: int) -> DataFrame:
        surv = deg.select("_s")
        return degrees(
            ed.join(surv.withColumnRenamed("_s", "_d"), "_d", "left_semi")
            .join(surv, "_s", "left_semi")
        ).where(F.col("core_degree") >= k)

    deg = fixpoint(degrees(ed), peel, iterations, progress=F.count(F.lit(1)))
    return deg.select(F.col("_s").alias("vertex"), "core_degree")


def jaccard_link_prediction(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Neighbor-set Jaccard link prediction: for node pairs NOT joined
    by an edge but sharing ≥ 2 neighbors, the Jaccard of
    their neighbor sets |N(u)∩N(v)| / |N(u)∪N(v)| — the classic
    "edges most likely to appear next" score (Liben-Nowell & Kleinberg
    2003) behind related-item backfill and graph densification.

    Exact integer rational: common-neighbor counts, degrees, and
    1e6·common DIV (deg_u + deg_v − common) truncate identically in
    both engines. Scale shape: candidate pairs generate through the
    wedge join (edges ⋈ edges on the shared endpoint), so cost is
    Σ_w deg(w)² — run it on a STRONG-TIE graph (prune edges below a
    weight floor first, as the registered query does with co ≥ 2
    baskets) or cap hub degrees the same way MinHash caps mega-buckets;
    the quadratic wedge fan-out is inherent to the definition, not to
    this plan. Existing edges leave via a broadcast-free anti-join on
    the canonical pair.
    """
    und = (
        edges.selectExpr(f"`{src}` AS _u", f"`{dst}` AS _v")
        .union(edges.selectExpr(f"`{dst}` AS _u", f"`{src}` AS _v"))
        .distinct()
        # four consumers (degrees, both wedge sides, the anti-join);
        # without truncating lineage each re-derives the upstream edge
        # construction — 42 static exchanges collapse to the real ~6
        .transform(lineage_cut)
    )
    deg = und.groupBy("_u").agg(
        F.count(F.lit(1)).cast("bigint").alias("_deg")
    )
    left = und.selectExpr("_u AS node_a", "_v AS _w")
    right = und.selectExpr("_u AS _w2", "_v AS node_b")
    wedges = (
        left.join(right, F.col("_w") == F.col("_w2"))
        .filter("node_a < node_b")
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("common_neighbors"))
        .filter("common_neighbors >= 2")
    )
    existing = und.filter("_u < _v").selectExpr(
        "_u AS node_a", "_v AS node_b"
    )
    return (
        wedges.join(existing, ["node_a", "node_b"], "left_anti")
        .join(
            deg.selectExpr("_u AS node_a", "_deg AS deg_a"), "node_a"
        )
        .join(
            deg.selectExpr("_u AS node_b", "_deg AS deg_b"), "node_b"
        )
        .selectExpr(
            "node_a",
            "node_b",
            "common_neighbors",
            "deg_a",
            "deg_b",
            "CAST((1000000 * common_neighbors) DIV "
            "(deg_a + deg_b - common_neighbors) AS BIGINT) AS jaccard_ppm",
        )
    )


def hits_scores(
    pairs: DataFrame,
    hub_col: str = "c",
    auth_col: str = "s",
    iters: int = 2,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a bipartite edge
    table, in exact integer micro-score fixed point: authority(s) =
    Σ hub(c) over in-edges, hub(c) = Σ authority(s) over out-edges,
    each vector rescaled to max = 1e6 by integer division per
    iteration — bigint sums and truncating division only, so the
    iterative result is bit-identical across engines and partitionings
    (float HITS depends on summation order). The curator's view of a
    two-sided market: which buyers span the catalog (hubs) and which
    suppliers anchor it (authorities).

    Each iteration is two map-side-combined aggregate-joins on the
    edge table plus a broadcast 1-row max; ``iters`` is small and
    fixed (HITS converges geometrically; rank order stabilizes in a
    handful of rounds). Returns (role, node, score_micro).
    """
    edges = pairs.selectExpr(
        f"`{hub_col}` AS _c", f"`{auth_col}` AS _s"
    ).distinct().transform(lineage_cut)

    def _propagate(scores: DataFrame, frm: str, to: str) -> DataFrame:
        raw = (
            edges.join(scores.selectExpr(f"node AS {frm}", "score_micro"), frm)
            .groupBy(F.col(to).alias("node"))
            .agg(F.sum("score_micro").cast("bigint").alias("raw"))
        )
        mx = raw.agg(F.max("raw").alias("_mx"))
        return raw.crossJoin(F.broadcast(mx)).selectExpr(
            "node", "CAST((raw * 1000000) DIV _mx AS BIGINT) AS score_micro"
        )

    def step(scores: DataFrame, _round: int) -> DataFrame:
        auth = _propagate(scores.where("role = 'hub'"), "_c", "_s")
        hubs = _propagate(auth, "_s", "_c")
        return hubs.selectExpr("'hub' AS role", "*").unionByName(
            auth.selectExpr("'authority' AS role", "*")
        )

    init = edges.select("_c").distinct().selectExpr(
        "'hub' AS role", "_c AS node", "CAST(1000000 AS BIGINT) AS score_micro"
    )
    return fixpoint(init, step, iters)
