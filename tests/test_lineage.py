"""lineage_cut: the one switch between local-fast and cluster-safe
lineage truncation (SCALING.md "Lineage cuts on a real cluster"), and
the fixpoint loop helper built on it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark.lineage import fixpoint, lineage_cut


def _scala_none(sc):
    return getattr(getattr(sc._jvm.scala, "None$"), "MODULE$")


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_lineage_cut_uses_local_checkpoint_without_dir(spark):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    df = lineage_cut(spark.range(10).selectExpr("id", "id * 2 AS y"))
    # lineage truncated: the plan is a scan of the checkpointed RDD,
    # not the original range+project
    assert "LogicalRDD" in _plan(df)
    assert df.count() == 10


def test_lineage_cut_uses_reliable_checkpoint_with_dir(spark, tmp_path):
    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None  # shared session precondition
    ckpt = tmp_path / "ckpt"
    sc.setCheckpointDir(str(ckpt))
    try:
        df = lineage_cut(spark.range(10))
        assert "LogicalRDD" in _plan(df)
        # reliable checkpoint writes blocks to the configured FS dir —
        # the property that survives executor loss on a cluster
        written = [
            os.path.join(r, f)
            for r, _, fs in os.walk(ckpt)
            for f in fs
        ]
        assert written, "no checkpoint files written to the cluster dir"
        assert df.count() == 10
    finally:
        # restore the shared session's local-mode default (the scala
        # field is a plain var: checkpointDir_$eq(None))
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(_scala_none(sc))
        assert sc.getCheckpointDir() is None


def _countdown(rounds):
    """Shuffle-free step: every x drops by one until it reaches 0, so
    Σ x strictly decreases until the state stops changing."""

    def step(df, i):
        rounds.append(i)
        return df.selectExpr("id", "greatest(x - 1, 0) AS x")

    return step


@pytest.mark.parametrize("with_progress", [False, True])
def test_fixpoint_runs_one_job_per_round(spark, with_progress):
    sc = spark.sparkContext
    group = f"fixpoint-jobs-{with_progress}"
    rounds = []
    init = spark.range(0, 5, numPartitions=2).selectExpr("id", "id AS x")
    sc.setJobGroup(group, group)
    try:
        fixpoint(
            init,
            _countdown(rounds),
            3,
            progress=F.sum("x") if with_progress else None,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rounds == [1, 2, 3]
    # one job for the init cut plus one per round; observing the
    # progress rides those jobs instead of adding actions
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == len(rounds) + 1


def test_fixpoint_stops_at_first_repeated_progress(spark):
    rounds = []
    init = spark.range(5).selectExpr("id", "id AS x")
    out = fixpoint(init, _countdown(rounds), 20, progress=F.sum("x"))
    # Σx per round: 10 → 6 → 3 → 1 → 0 → 0; round 5 repeats round 4
    assert rounds == [1, 2, 3, 4, 5]
    assert sorted(map(tuple, out.collect())) == [(i, 0) for i in range(5)]


def test_fixpoint_without_progress_runs_max_iter_rounds(spark):
    rounds = []
    init = spark.range(5).selectExpr("id", "id AS x")
    out = fixpoint(init, _countdown(rounds), 7)
    # the state stops changing after round 4, but nothing observes it
    assert rounds == list(range(1, 8))
    assert sorted(r.x for r in out.collect()) == [0] * 5


def test_iterative_operator_identical_under_both_checkpoint_modes(
    spark, tmp_path
):
    """An iterative operator routed through lineage_cut must produce
    IDENTICAL results with and without a configured checkpoint dir
    (localCheckpoint vs reliable checkpoint), and the reliable mode
    must actually write blocks to the cluster dir. connected_components
    and kcore_vertices stop on an observed progress value, so this also
    pins that the observation fires under reliable checkpoint."""
    from data_pipeline_rsna_spark.operators import dedup, graph

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    # ring + chords: every node has in- and out-edges (pagerank's
    # documented precondition)
    n = 40
    rows = [(i, (i + 1) % n) for i in range(n)] + [
        (i, (i + 7) % n) for i in range(n)
    ]
    edges = spark.createDataFrame(rows, "src long, dst long")
    # k-core input: symmetrized, with a pendant path 0-40-41-42 that
    # 2-core peeling removes one node per round
    path = spark.createDataFrame(
        [(0, 40), (40, 41), (41, 42)], "src long, dst long"
    )
    und = edges.unionByName(path)
    sym = und.unionByName(und.selectExpr("dst AS src", "src AS dst"))
    # two chains of diameter 4 and 3: label propagation takes rounds
    chains = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long",
    )

    def run_all():
        outs = {
            "pagerank": graph.pagerank_integer(edges, iterations=3),
            "components": dedup.connected_components(chains),
            "kcore": graph.kcore_vertices(sym, k=2),
        }
        return {k: sorted(map(tuple, v.collect())) for k, v in outs.items()}

    local_mode = run_all()
    ckpt = tmp_path / "ckpt_iter"
    sc.setCheckpointDir(str(ckpt))
    try:
        reliable_mode = run_all()
        written = [
            os.path.join(r, f) for r, _, fs in os.walk(ckpt) for f in fs
        ]
        assert written, "reliable mode wrote nothing to the checkpoint dir"
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(_scala_none(sc))
        assert sc.getCheckpointDir() is None
    assert local_mode == reliable_mode
    assert len(local_mode["pagerank"]) == n
    assert local_mode["components"] == [
        (v, 1) for v in range(1, 6)
    ] + [(v, 10) for v in range(10, 14)]
    # every ring node has degree 4 (±1, ±7); the path peels away
    assert local_mode["kcore"] == [(v, 4) for v in range(n)]
