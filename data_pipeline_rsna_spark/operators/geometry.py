"""Box-geometry library: the SQL halves of the augmentation kernels.

The reference mixes pixel work and box arithmetic inside each
augmentation function; the engine splits them. Box geometry is pure
SQL arithmetic (this module — codegen'd, oracle-checkable); pixel
work lives in ``image_kernels.py`` pandas UDFs. Keeping the two apart is
what lets 99% of an augmentation pipeline stay JVM-side.

The four transforms take SQL expression text and return SQL expression
text over boxes shaped (x, y, width, height) in absolute pixels, for
``selectExpr``/``F.expr``. Each output is an atom (parenthesized or a
function call), so an output can be passed back in as an input:
``augmentation.augment`` chains them per stage and ``q_box_geometry``
applies each once. Building text instead of Columns costs no py4j round
trip per operator. Fractional constants are double literals (``512.0D``),
as the Python floats of a Column expression would be; a bare ``512.0``
is a DECIMAL in Spark SQL.

Reference citations:
- shift:  generate_images_from_dicom.py:124-125 (translate, no clip)
- flip:   generate_images_from_dicom.py:135 (x' = W - x - w)
- scale_image affine: generate_images_from_dicom.py:245-250
  (x' = round(rf*(x - W/2) + W/2), dims scaled, about image center)
- scale_bbox: generate_images_from_dicom.py:193-206 (re-center about the
  box center, clamp origin at 0, round half-up dims)
- collision: generate_images_from_dicom.py:144-145,158-163 (drop a box
  if any shifted corner lands inside another box of the same patient)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def shift_box(x: str, y: str, rx: str, ry: str) -> list[str]:
    """Translate by (rx, ry); the reference does not clip (quirk §2.2-5)."""
    return [f"({x} + {rx})", f"({y} + {ry})"]


def flip_box_x(x: str, width: str, image_w: int) -> str:
    """Horizontal mirror: x' = W - x - w."""
    return f"({image_w} - {x} - {width})"


def scale_image_box_affine(
    x: str, y: str, w: str, h: str, rf: str, image_w: int, image_h: int,
) -> list[str]:
    """Whole-image zoom by rf about the image center: every box corner
    maps through the same affine. Spark round() is HALF_UP like the
    oracle's; ties only arise at exact .5 doubles."""
    cx, cy = f"{image_w / 2!r}D", f"{image_h / 2!r}D"
    return [
        f"CAST(round({rf} * ({x} - {cx}) + {cx}) AS INT)",
        f"CAST(round({rf} * ({y} - {cy}) + {cy}) AS INT)",
        f"CAST(round({rf} * {w}) AS INT)",
        f"CAST(round({rf} * {h}) AS INT)",
    ]


def scale_bbox_recenter(
    x: str, y: str, w: str, h: str, rf: str
) -> list[str]:
    """Zoom one box about its own center; clamp origin into frame."""
    nw = f"CAST(round({w} * {rf}) AS INT)"
    nh = f"CAST(round({h} * {rf}) AS INT)"
    nx = f"greatest(0, CAST({x} + {w} / 2 - {nw} / 2 AS INT))"
    ny = f"greatest(0, CAST({y} + {h} / 2 - {nh} / 2 AS INT))"
    return [nx, ny, nw, nh]


def point_in_box(px: Column, py: Column, x: Column, y: Column, w: Column,
                 h: Column) -> Column:
    """The reference's inclusion predicate (generate_images_from_dicom.py:
    144-145): x <= px < x+w AND y <= py < y+h."""
    return (x <= px) & (px < x + w) & (y <= py) & (py < y + h)


def collision_pairs(boxes: DataFrame, group_col: str = "patient_id") -> DataFrame:
    """O16's collision test as a self theta-join: for each ordered pair of
    distinct boxes of the same patient, does a corner of box A fall
    inside box B?

    Physical shape: equi-join on ``group_col`` (shuffle or broadcast,
    Catalyst's choice) with the point-in-rect predicate applied post-join.
    Groups are per-patient (a handful of boxes), so the quadratic
    within-group blow-up is bounded and skew-free."""
    a = boxes.select(
        F.col(group_col),
        F.col("box_id").alias("box_a"),
        F.col("x").alias("ax"),
        F.col("y").alias("ay"),
        F.col("width").alias("aw"),
        F.col("height").alias("ah"),
    )
    b = boxes.select(
        F.col(group_col),
        F.col("box_id").alias("box_b"),
        F.col("x").alias("bx"),
        F.col("y").alias("by"),
        F.col("width").alias("bw"),
        F.col("height").alias("bh"),
    )
    corner_hits = None
    for dx, dy in ((0, 0), (1, 0), (0, 1), (1, 1)):
        px = F.col("ax") + F.col("aw") * dx
        py = F.col("ay") + F.col("ah") * dy
        hit = point_in_box(
            px, py, F.col("bx"), F.col("by"), F.col("bw"), F.col("bh")
        )
        corner_hits = hit if corner_hits is None else corner_hits | hit
    return (
        a.join(b, group_col)
        .filter(F.col("box_a") != F.col("box_b"))
        .filter(corner_hits)
        .select(group_col, "box_a", "box_b")
    )
