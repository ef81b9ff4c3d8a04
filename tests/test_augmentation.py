"""Augmentation DAG invariants (SURVEY.md §5.5 count math), a golden
digest of its rows and the shape of its plan."""

from __future__ import annotations

import hashlib
import json

import pytest
from pyspark.sql import functions as F

from data_pipeline_rsna_spark.operators import augmentation as aug


@pytest.fixture(scope="module")
def tiny(spark):
    patients = spark.createDataFrame(
        [("pos1", "1"), ("pos2", "1"), ("neg1", "0"), ("neg2", "0")],
        "patient_id string, target string",
    )
    # pos2: a box the per-box zoom clamps at the origin, and one at the
    # far edge that the shifts push out of frame
    boxes = spark.createDataFrame(
        [("pos1", 100, 120, 40, 60), ("pos1", 300, 310, 50, 50),
         ("pos2", 0, 1, 1, 1), ("pos2", 1000, 1010, 23, 13)],
        "patient_id string, x int, y int, width int, height int",
    )
    return patients, boxes


@pytest.mark.slow
def test_fanout_invariants(tiny):
    patients, boxes = tiny
    out = aug.augment(patients, boxes).cache()
    per_patient = {
        r.patient_id: r.n
        for r in out.groupBy("patient_id")
        .agg(F.countDistinct("image_id").alias("n"))
        .collect()
    }
    # reference invariant: 20 variants per negative, 190 per positive
    assert per_patient == {"pos1": 190, "pos2": 190, "neg1": 20, "neg2": 20}
    # ids globally unique per (image); rows = images x boxes for positives
    total_images = out.select("image_id").distinct().count()
    assert total_images == 190 + 190 + 20 + 20
    pos_rows = out.filter(F.col("patient_id") == "pos1").count()
    assert pos_rows == 190 * 2  # two boxes ride through every variant
    out.unpersist()


def test_flip_variants_mirror_x(tiny):
    patients, boxes = tiny
    out = aug.augment(patients, boxes)
    s1 = out.filter(
        (F.col("stage") == 1) & (F.col("patient_id") == "pos1")
    )
    rows = s1.collect()
    by_key = {}
    for r in rows:
        by_key.setdefault((r.variant_i, r.y, r.width), {})[r.flipped] = r.x
    # stage 1 shifts only (same y/width key both variants): x_fl = 1024 - x - w
    checked = 0
    for (_, _, w), variants in by_key.items():
        if 0 in variants and 1 in variants:
            assert variants[1] == 1024 - variants[0] - w
            checked += 1
    assert checked > 0


def test_determinism(tiny):
    patients, boxes = tiny
    a = sorted(map(tuple, aug.augment(patients, boxes).collect()))
    b = sorted(map(tuple, aug.augment(patients, boxes).collect()))
    assert a == b


# sha256 of the fixture's sorted, JSON-serialised output rows, computed
# from the per-stage union form of ``augment`` this module replaced
GOLDEN_SHA256 = (
    "393681ab8ad132b1d8310ec8fe0c6fd7f988e6c2f8c71913e7c163324e897e02"
)


def test_golden_rows(tiny):
    patients, boxes = tiny
    out = aug.augment(patients, boxes)
    assert out.dtypes == [
        ("image_id", "string"), ("patient_id", "string"), ("stage", "int"),
        ("op", "string"), ("variant_i", "int"), ("flipped", "int"),
        ("x", "int"), ("y", "int"), ("width", "int"), ("height", "int"),
    ]
    rows = sorted(json.dumps(r.asDict()) for r in out.collect())
    assert len(rows) == 2 * 190 + 2 * 190 + 20 + 20
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    assert digest == GOLDEN_SHA256


def _operators(df) -> list[str]:
    """Node names of the optimized logical plan, one per tree line."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    return [
        line.lstrip(" :+-").split(" ")[0]
        for line in text.splitlines() if line.strip()
    ]


def test_plan_is_one_join_and_no_union(tiny):
    patients, boxes = tiny
    ops = _operators(aug.augment(patients, boxes))
    assert "Union" not in ops
    assert ops.count("Join") == 1
