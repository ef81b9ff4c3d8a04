"""Spatial radius self-join via grid bucketing.

All-pairs-within-radius is the geometric cousin of near-dup candidate
generation: a naive formulation is an O(n²) crossJoin; bucketing space
into radius-sized grid cells turns it into an equi-join on cell keys —
each point only ever meets points in its 3×3 cell neighborhood, so the
join cost is n × local-density, not n².

Correctness argument: with cell edge == radius, two points within
``radius`` of each other differ by at most 1 in each cell coordinate.
Probing every point against its 9 neighbor cells therefore sees every
qualifying pair; the ``id_a < id_b`` orientation keeps exactly one of
the two (probe, owner) encounters, so no pair is emitted twice.

Scale shape (100 TB): both sides shuffle once on the cell key (the
probe side ×9 from the neighborhood explode — a narrow fan-out, not a
shuffle amplifier). Dense cells are ordinary join skew: AQE skew-join
splits them, and a finer grid (cell = radius, probe 5×5) trades
fan-out for smaller buckets when density is extreme. Coordinates and
distances are integers end-to-end, so the result is hash-comparable
against a brute-force oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..lineage import lineage_cut


def synth_points(df: DataFrame, key_col: str) -> DataFrame:
    """Deterministic synthetic integer points from a key column — the
    testdata has no geo columns, so geometry is derived (md5-uniform,
    bit-reproducible in any engine) rather than invented row-by-row."""

    def coord(salt: str) -> F.Column:
        h = F.md5(F.concat_ws("|", F.lit(salt), F.col(key_col).cast("string")))
        return (
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % 100_000
        ).alias(salt)

    return df.select(
        F.col(key_col).alias("id"),
        coord("px").alias("x"),
        coord("py").alias("y"),
    )


def radius_join(points: DataFrame, radius: int) -> DataFrame:
    """All unordered point pairs with squared distance <= radius²:
    (id_a, id_b, dist_sq), id_a < id_b. Equi-join on grid cells."""
    cx = F.floor(F.col("x") / radius)
    cy = F.floor(F.col("y") / radius)
    owners = points.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cx.alias("cell_x"),
        cy.alias("cell_y"),
    )
    neighborhood = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = points.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        cx.alias("pcx"),
        cy.alias("pcy"),
        F.explode(neighborhood).alias("d"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("pcx") + F.col("d.dx")).alias("cell_x"),
        (F.col("pcy") + F.col("d.dy")).alias("cell_y"),
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probes.join(owners, ["cell_x", "cell_y"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dist_sq.alias("dist_sq"))
        .filter(F.col("dist_sq") <= radius * radius)
    )


def auto_cell(points: DataFrame) -> int:
    """Density-derived grid cell size: ``2 · domain_side / sqrt(n)``
    (≈4 points per cell under uniform density — SCALING.md "Round 7"
    #3). The sf1 differential gate showed why a FIXED cell is a scale
    hazard: in-neighborhood fan-out grows linearly with density and
    candidate count quadratically (290 s at sf1 with a cell tuned for
    sf0.1 density vs seconds when the cell tracks sqrt(n)).

    Cost: ONE metadata-sized aggregate (a single row: count + bounding
    box) — the Spark analogue of reading table statistics; cost-only,
    never correctness: ``nearest_neighbor`` certifies the exact NN at
    any cell size."""
    row = points.agg(
        F.count("*").alias("n"),
        (F.max("x") - F.min("x")).alias("dx"),
        (F.max("y") - F.min("y")).alias("dy"),
    ).collect()[0]
    n = row["n"] or 1
    side = max(row["dx"] or 0, row["dy"] or 0) or 1
    return max(1, int(2 * side) // max(1, int(n ** 0.5)))


def _grid_best(probes_src: DataFrame, owners_src: DataFrame,
               cell: int) -> DataFrame:
    """One grid-tier pass: best (dist_sq, id_b) per probe against its
    3×3 cell neighborhood at edge ``cell``. Returns every probe that
    found ANY in-neighborhood candidate (certification against cell²
    is the caller's job)."""
    cx = F.floor(F.col("x") / cell)
    cy = F.floor(F.col("y") / cell)
    owners = owners_src.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        cx.alias("cell_x"),
        cy.alias("cell_y"),
    )
    neighborhood = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    probes = probes_src.select(
        F.col("id").alias("id_a"),
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        cx.alias("pcx"),
        cy.alias("pcy"),
        F.explode(neighborhood).alias("d"),
    ).select(
        "id_a",
        "xa",
        "ya",
        (F.col("pcx") + F.col("d.dx")).alias("cell_x"),
        (F.col("pcy") + F.col("d.dy")).alias("cell_y"),
    )
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    return (
        probes.join(owners, ["cell_x", "cell_y"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", dist_sq.alias("dist_sq"), "id_b")
        .groupBy("id_a")
        .agg(F.min(F.struct("dist_sq", "id_b")).alias("best"))
    )


def nearest_neighbor(points: DataFrame, cell: int | None = None,
                     diagnostics: dict | None = None) -> DataFrame:
    """EXACT 1-nearest-neighbor for every point: (id, nn_id, dist_sq),
    ties broken toward the smallest neighbor id. ``cell=None`` (the
    default) derives the grid size from the data via ``auto_cell``.

    Escalating grid plan, exact by a provable resolution bound:

    1. Grid tier: probe each point against its 3×3 cell neighborhood
       (cell edge = ``cell``) and take the lexicographic min of
       (dist_sq, id). With integer coordinates, any point OUTSIDE the
       neighborhood differs by at least cell+1 in some axis, so its
       dist_sq is at least (cell+1)² > cell². A candidate with
       dist_sq <= cell² is therefore the certified global NN — no tie
       with an outside point is even possible.
    2. Escalation (the adversarial-density guard): points the grid
       could not certify re-probe with the cell edge ×8 per round, up
       to 4 rounds. On a corpus where most
       neighborhoods are empty (sparse halo around a dense core — the
       shape that makes auto_cell's uniform-density estimate wrong),
       each escalation multiplies the certified radius 8×, so the
       unresolved set shrinks geometrically instead of landing
       wholesale in a broadcast; each round costs one metadata-sized
       count plus a shuffle of ONLY the still-unresolved probes
       against the full owner set.
    3. Fallback tier: whatever survives every escalation gets the
       exact brute-force pass. BOUND (documented contract, asserted in
       test_spatial): the broadcast side is at most the points whose
       true NN distance exceeds cell·8^3 — with the default
       auto_cell that is ~512 domain-sides/√n,
       i.e. at most a handful of pathological outliers on ANY
       distribution, never a constant fraction of n. The nested-loop
       join is |unresolved| × n with |unresolved| tiny; correctness
       never depends on the bound.

    ``diagnostics``, when a dict is passed, receives
    ``rounds`` (list of unresolved counts after each grid round) and
    ``fallback_rows`` — the observability hook the adversarial tests
    use.

    Scale: tier 1 is the same single cell-key shuffle as radius_join
    (probe side ×9 narrow fan-out); escalation rounds touch only the
    unresolved sliver; the brute-force tier is provably bounded as
    above.
    """
    if cell is None:
        cell = auto_cell(points)
    dist_sq = (F.col("xa") - F.col("xb")) * (F.col("xa") - F.col("xb")) + (
        F.col("ya") - F.col("yb")
    ) * (F.col("ya") - F.col("yb"))
    resolved_parts: list[DataFrame] = []
    remaining = points
    rounds_log: list[int] = []
    n_rem = points.count()  # one metadata agg to seed the round ledger
    for rnd in range(4):
        # lineage_cut (eager): ONE job runs this round's grid join and
        # pins its per-probe best rows; `resolved`, the next round's
        # anti-join, and the final union all read those blocks instead
        # of re-running the join lineage (without the cut, a per-round
        # remaining.count() would re-execute every prior round's grid
        # join, and pathological inputs would pay O(rounds²) joins).
        # Blocks are sliver-sized — ≤ |remaining|
        # rows of (id, dist_sq, id) — shrink geometrically per round,
        # and die with the returned plan; nothing enters the session
        # cache manager.
        best = lineage_cut(_grid_best(remaining, points, cell))
        resolved = best.filter(
            F.col("best.dist_sq") <= cell * cell
        ).select(
            F.col("id_a").alias("id"),
            F.col("best.id_b").alias("nn_id"),
            F.col("best.dist_sq").alias("dist_sq"),
        )
        resolved_parts.append(resolved)
        remaining = remaining.join(
            resolved.select("id"), "id", "left_anti"
        )
        # escalation ledger from the pinned blocks (a count over the
        # checkpointed sliver), never a lineage re-execution
        n_rem -= resolved.count()
        rounds_log.append(n_rem)
        if n_rem == 0:
            break
        cell *= 8
    if diagnostics is not None:
        diagnostics["rounds"] = rounds_log
        diagnostics["fallback_rows"] = rounds_log[-1]
    fallback = (
        F.broadcast(
            remaining.select(
                F.col("id").alias("id_a"),
                F.col("x").alias("xa"),
                F.col("y").alias("ya"),
            )
        )
        .join(
            points.select(
                F.col("id").alias("id_b"),
                F.col("x").alias("xb"),
                F.col("y").alias("yb"),
            ),
            F.col("id_a") != F.col("id_b"),
        )
        .select("id_a", dist_sq.alias("dist_sq"), "id_b")
        .groupBy("id_a")
        .agg(F.min(F.struct("dist_sq", "id_b")).alias("best"))
        .select(
            F.col("id_a").alias("id"),
            F.col("best.id_b").alias("nn_id"),
            F.col("best.dist_sq").alias("dist_sq"),
        )
    )
    out = resolved_parts[0]
    for part in resolved_parts[1:]:
        out = out.unionByName(part)
    return out.unionByName(fallback)
