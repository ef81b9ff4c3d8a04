"""Property tests for the box-geometry library (SURVEY.md §5.3):
flip is an involution, shifts compose additively, normalization lands in
[0,1], collision-dropped boxes never overlap survivors.

Inputs are seeded-random batches; each property is evaluated through
the real SQL expressions on a DataFrame (one Spark job per property,
with hundreds of generated examples riding along as rows — not one job
per example, which is what makes property testing affordable on Spark).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import geometry as geo
from data_pipeline_rsna_spark.operators import relational as rel

W = H = 1024


def _random_boxes(n, seed, max_dim=400):
    rng = random.Random(seed)
    return [
        (
            i,
            rng.randint(0, W - max_dim - 1),
            rng.randint(0, H - max_dim - 1),
            rng.randint(1, max_dim),
            rng.randint(1, max_dim),
        )
        for i in range(n)
    ]


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "box_id long, x int, y int, width int, height int"
    )


def test_flip_is_involution(spark):
    df = _df(spark, _random_boxes(300, seed=1))
    once = geo.flip_box_x("x", "width", W)
    twice = geo.flip_box_x(once, "width", W)
    bad = df.filter(f"{twice} != x").count()
    assert bad == 0


def test_shift_composes_additively(spark):
    df = _df(spark, _random_boxes(300, seed=2))
    a1, b1 = geo.shift_box("x", "y", "7", "-3")
    a2, b2 = geo.shift_box(a1, b1, "-2", "9")
    direct = geo.shift_box("x", "y", "5", "6")
    bad = df.filter(f"{a2} != {direct[0]} OR {b2} != {direct[1]}").count()
    assert bad == 0


def test_normalized_coords_in_unit_interval(spark):
    rows = _random_boxes(500, seed=3)
    df = _df(spark, rows).filter(rel.box_valid(W, H))
    normed = rel.normalize_boxes(df, W, H)
    bad = normed.filter(
        (F.col("xmin") < 0) | (F.col("xmax") > 1)
        | (F.col("ymin") < 0) | (F.col("ymax") > 1)
        | (F.col("xmin") > F.col("xmax")) | (F.col("ymin") > F.col("ymax"))
    ).count()
    assert bad == 0


def test_affine_identity_at_rf_one(spark):
    df = _df(spark, _random_boxes(300, seed=4))
    ax, ay, aw, ah = geo.scale_image_box_affine(
        "x", "y", "width", "height", "1.0D", W, H,
    )
    bad = df.filter(
        f"{ax} != x OR {ay} != y OR {aw} != width OR {ah} != height"
    ).count()
    assert bad == 0


def test_collision_pairs_actually_overlap_corner(spark):
    """Every pair reported by the collision theta-join must have a corner
    of box A strictly inside box B (the reference's drop predicate)."""
    rng = random.Random(5)
    rows = []
    for i in range(200):
        pid = i % 20
        rows.append(
            (pid, i, rng.randint(0, 900), rng.randint(0, 900),
             rng.randint(20, 120), rng.randint(20, 120))
        )
    df = spark.createDataFrame(
        rows, "patient_id long, box_id long, x int, y int, width int, height int"
    )
    pairs = geo.collision_pairs(df).collect()
    boxes = {r[1]: r for r in rows}
    for p in pairs:
        ax, ay, aw, ah = boxes[p.box_a][2:6]
        bx, by, bw, bh = boxes[p.box_b][2:6]
        corners = [(ax, ay), (ax + aw, ay), (ax, ay + ah), (ax + aw, ay + ah)]
        assert any(
            bx <= cx < bx + bw and by <= cy < by + bh for cx, cy in corners
        ), (p, boxes[p.box_a], boxes[p.box_b])
