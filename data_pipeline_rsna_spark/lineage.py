"""Cluster-safe lineage truncation and the one iterative-loop helper.

Iterative operators and multi-consumer intermediates must cut lineage
or the plan grows without bound. ``DataFrame.localCheckpoint`` is the
fast cut — blocks stay in executor memory/disk — but those blocks are
NOT fault-tolerant: lose an executor after the cut and the RDD is
unrecoverable. Reliable ``checkpoint()`` writes the blocks to the
cluster filesystem instead and survives executor loss.

``lineage_cut`` picks automatically: if a checkpoint directory is
configured on the SparkContext (``spark.sparkContext.setCheckpointDir``
— on a cluster, an HDFS/S3 path), it uses reliable ``checkpoint``;
otherwise (local dev, tests, bench) it uses ``localCheckpoint``. Every
cut in the package routes through this helper, so flipping a
deployment to fault-tolerant cuts is one ``setCheckpointDir`` call.

See SCALING.md "Lineage cuts on a real cluster".
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import Column, DataFrame, Observation


def lineage_cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` now and truncate its lineage.

    Reliable ``checkpoint`` when ``sparkContext`` has a checkpoint dir
    configured (cluster-safe: blocks live on the cluster FS and survive
    executor loss); ``localCheckpoint`` otherwise (local mode — fast,
    no distributed FS required).
    """
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint()
    return df.localCheckpoint()


def fixpoint(
    init: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iter: int,
    progress: Optional[Column] = None,
) -> DataFrame:
    """Iterate ``state = step(state, round)`` for rounds 1..``max_iter``
    and return the final state.

    ``init`` and every round's state are cut with ``lineage_cut``, so
    the plan never grows with the round count and a shuffle-free step
    costs exactly one job per round. With ``progress`` (an aggregate
    expression over the state), each state is ``observe``-d on its own
    cut job — no extra driver action — and the loop stops at the first
    round whose observed value equals the previous round's.

    Callers passing ``progress`` must make it monotone in the state
    (e.g. a shrinking row count, a non-increasing label sum), so that
    an unchanged value means an unchanged state: the fixed point, after
    which every further round is the identity. Without ``progress`` the
    loop runs exactly ``max_iter`` rounds.
    """

    def cut(df: DataFrame):
        if progress is None:
            return lineage_cut(df), None
        obs = Observation()
        return lineage_cut(df.observe(obs, progress)), obs.get

    state, seen = cut(init)
    for i in range(1, max_iter + 1):
        state, now = cut(step(state, i))
        if progress is not None and now == seen:
            break
        seen = now
    return state
