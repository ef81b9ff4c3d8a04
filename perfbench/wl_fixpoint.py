"""fixpoint: the iterative graph operators on a small skewed graph, where
per-round job launch and lineage cuts dominate. Checked against exact
integer recurrences computed in Python."""

from __future__ import annotations

import collections
import os

import numpy as np

import gen
from tracing import busy_s, self_times

# the round counts the registered queries use (graph_pagerank_integer,
# graph_bfs_hops, graph_hits_scores, graph_kcore_vertices); the peel
# chain makes k-core peeling take all KCORE_ITERS rounds
PR_ITERS, BFS_HOPS, HITS_ITERS, KCORE_K, KCORE_ITERS = 3, 3, 2, 3, 12
RANK_UNIT, DAMPING = 1_000_000, 850
SPANS = {
    "pagerank": "graph.pagerank",
    "bfs": "graph.bfs",
    "hits": "graph.hits",
    "kcore": "graph.kcore",
    "components": "dedup.components",
}


def _pagerank(src, dst, nodes):
    deg = collections.Counter(src.tolist())
    rank = {v: RANK_UNIT for v in nodes}
    base = (1000 - DAMPING) * RANK_UNIT // 1000
    for _ in range(PR_ITERS):
        acc = collections.defaultdict(int)
        for u, v in zip(src.tolist(), dst.tolist()):
            acc[v] += rank[u] // deg[u]
        rank = {v: base + DAMPING * s // 1000 for v, s in acc.items()}
    return sorted(rank.items())


def _bfs(adj, sources):
    hop = {s: 0 for s in sources}
    frontier = list(sources)
    for h in range(1, BFS_HOPS + 1):
        nxt = {w for v in frontier for w in adj[v] if w not in hop}
        if not nxt:
            break
        hop.update((w, h) for w in nxt)
        frontier = list(nxt)
    return sorted(hop.items())


def _hits(src, dst):
    pairs = sorted(set(zip(src.tolist(), dst.tolist())))
    hub = {c: RANK_UNIT for c, _ in pairs}
    auth = {}

    def norm(raw):
        mx = max(raw.values())
        return {k: v * RANK_UNIT // mx for k, v in raw.items()}

    for _ in range(HITS_ITERS):
        raw = collections.defaultdict(int)
        for c, s in pairs:
            raw[s] += hub[c]
        auth = norm(raw)
        raw = collections.defaultdict(int)
        for c, s in pairs:
            raw[c] += auth[s]
        hub = norm(raw)
    return sorted([("hub", k, v) for k, v in hub.items()]
                  + [("authority", k, v) for k, v in auth.items()])


def _kcore(src, dst, nodes):
    surv = set(nodes)
    n_prev = len(surv)
    deg = {}
    for _ in range(KCORE_ITERS):
        cnt = collections.Counter(u for u, v in zip(src.tolist(), dst.tolist())
                                  if u in surv and v in surv)
        deg = {u: c for u, c in cnt.items() if c >= KCORE_K}
        surv = set(deg)
        if len(deg) == n_prev:
            break
        n_prev = len(deg)
    return sorted(deg.items())


def _components(adj):
    comp = {}
    for start in sorted(adj):
        if start in comp:
            continue
        comp[start] = start  # ascending scan: start is its component's min
        todo = [start]
        while todo:
            v = todo.pop()
            for w in adj[v]:
                if w not in comp:
                    comp[w] = start
                    todo.append(w)
    return sorted(comp.items())


def _rows(table, cols):
    d = table.to_pydict()
    return sorted(zip(*(d[c] for c in cols)))


class Fixpoint:
    name = "fixpoint"
    ops = tuple(SPANS)
    sizes = {"full": {"n_hub_nodes": 200, "n_chains": 4, "chain_len": 6},
             "tiny": {"n_hub_nodes": 60, "n_chains": 2, "chain_len": 5}}
    peel_len = KCORE_ITERS - 1

    def generate(self, root, rng, size):
        import pyarrow as pa
        import pyarrow.parquet as pq

        cfg = self.sizes[size]
        edges, n = gen.skewed_graph(rng, **cfg, peel_len=self.peel_len)
        path = os.path.join(root, "edges.parquet")
        pq.write_table(pa.table({"u": edges[:, 0], "v": edges[:, 1]}), path)
        deg = np.bincount(edges.ravel(), minlength=n)
        sources = sorted(int(v) for v in rng.choice(n, 3, replace=False))
        props = {"rows": len(edges), "nodes": n, "max_degree": int(deg.max()),
                 "chain_diameter": cfg["chain_len"] - 1, "components": 1 + cfg["n_chains"],
                 "kcore_rounds": self.peel_len + 1}
        return props, {"edges": edges, "path": path, "sources": sources}

    def reference(self, truth):
        e = truth["edges"]
        src = np.concatenate([e[:, 0], e[:, 1]])
        dst = np.concatenate([e[:, 1], e[:, 0]])
        nodes = sorted(set(src.tolist()))
        adj = collections.defaultdict(list)
        for u, v in zip(src.tolist(), dst.tolist()):
            adj[u].append(v)
        return {
            "pagerank": _pagerank(src, dst, nodes),
            "bfs": _bfs(adj, truth["sources"]),
            "hits": _hits(src, dst),
            "kcore": _kcore(src, dst, nodes),
            "components": _components(adj),
        }

    def run_pass(self, spark, truth, out_dir, tr):
        from data_pipeline_rsna_spark.operators import dedup
        from data_pipeline_rsna_spark.operators import graph as g

        edges = spark.read.parquet(truth["path"])
        sym = edges.selectExpr("u AS src", "v AS dst").unionByName(
            edges.selectExpr("v AS src", "u AS dst"))
        out = {}
        with tr.span(SPANS["pagerank"]):
            out["pagerank"] = g.pagerank_integer(sym, iterations=PR_ITERS).toArrow()
        with tr.span(SPANS["bfs"]):
            sources = spark.createDataFrame([(s,) for s in truth["sources"]], "node long")
            out["bfs"] = g.bfs_hops(sym, sources, max_hops=BFS_HOPS).toArrow()
        with tr.span(SPANS["hits"]):
            out["hits"] = g.hits_scores(sym.selectExpr("src AS c", "dst AS s"),
                                        "c", "s", iters=HITS_ITERS).toArrow()
        with tr.span(SPANS["kcore"]):
            out["kcore"] = g.kcore_vertices(sym, KCORE_K, iterations=KCORE_ITERS).toArrow()
        with tr.span(SPANS["components"]):
            out["components"] = dedup.connected_components(edges, "u", "v").toArrow()
        return out

    def check(self, out, ref):
        cols = {"pagerank": ("node", "rank"), "bfs": ("node", "hop"),
                "hits": ("role", "node", "score_micro"),
                "kcore": ("vertex", "core_degree"),
                "components": ("node", "component")}
        errs = {}
        for op, c in cols.items():
            got = _rows(out[op], c)
            if got != ref[op]:
                errs[op] = (f"{len(got)} rows vs {len(ref[op])} expected, "
                            f"{len(set(got) ^ set(ref[op]))} differ")
        return errs

    def layer_metrics(self, out, spans, jobs_of, probe, truth):
        selfs = self_times(spans)
        m = {}
        driver = 0.0
        for span_name in SPANS.values():
            mine = [s for s in spans if s["name"] == span_name]
            jobs = jobs_of(mine)
            m[f"{span_name}_s"] = selfs[span_name]
            m[f"{span_name}_jobs"] = len(jobs)
            driver += sum(s["end"] - s["start"] - busy_s(jobs, s["start"], s["end"])
                          for s in mine)
        m["graph.driver_s"] = driver
        return m
