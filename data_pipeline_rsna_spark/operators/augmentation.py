"""The 7-stage augmentation DAG (O19 + O20 + O21), Spark-first.

Reference shape (``generate_images_from_dicom.py:282-561``): seven
sequential loops, each re-listing and re-decoding every DICOM, each
producing k variants + k flipped variants per eligible image with
synthetic ids ``{pid}-{op}-{i}-{stage}``. Eligibility: stages 1 and 4
take every image; stages 2, 3, 5, 6, 7 take positive (box-bearing)
patients only (``:331,372,449,492,533``).

Engine shape: ONE fan-out over a stage table, no union. Patients are
left-joined to their boxes once; each joined row crosses the 7-row
``STAGES`` table (``inline``), drops the positives-only stages when it
has no box, and fans out to its stage's k variants
(``explode(sequence)``) and their flip twins — all narrow, no shuffle
after the join. Each stage's box geometry is a ``CASE stage WHEN …``
branch over its op chain, built as SQL text from ``geometry``. The 7×
rescan anti-pattern of the reference (SURVEY.md §4) disappears by
construction, and the plan is one join and one pipeline of projections
and generators whatever the stage count.

Stage table (k, positives-only, op-chain):

  1: k=5,  all,  shift_image
  2: k=25, pos,  shift_bbox
  3: k=25, pos,  scale_bbox
  4: k=5,  all,  scale_image
  5: k=25, pos,  scale_bbox -> shift_bbox
  6: k=5,  pos,  shift_image -> shift_bbox
  7: k=5,  pos,  scale_image -> scale_bbox -> shift_bbox

(Stage-4 vs stage-7 zoom factors differ ×10 in the reference — quirk
§2.2-4; the engine uses one factor parameter per stage.) Collision
dropping inside shift_bbox (O16) is modeled separately
(``geometry.collision_pairs``); the DAG translates boxes without the
drop — the §2.2-5 clipping quirk is likewise not replicated.

Fan-out invariants (asserted by the ``augmentation_dag_counts`` query
and the reference's own printouts, SURVEY.md §5.5): a negative patient
yields 2·(5+5) = 20 variants, a positive 2·(5+25+25+5+25+5+5) = 190.
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass

from pyspark.sql import DataFrame

from . import geometry as geo


@dataclass(frozen=True)
class Stage:
    stage: int
    op: str
    k: int
    positives_only: bool
    chain: tuple[str, ...]  # box-geometry steps: shift, zoom or affine


STAGES: tuple[Stage, ...] = (
    Stage(1, "shift_image", 5, False, ("shift",)),
    Stage(2, "shift_bbox", 25, True, ("shift",)),
    Stage(3, "scale_bbox", 25, True, ("zoom",)),
    Stage(4, "scale_image", 5, False, ("affine",)),
    Stage(5, "scale_shift_bbox", 25, True, ("zoom", "shift")),
    Stage(6, "shift_image_shift_bbox", 5, True, ("shift", "shift")),
    Stage(7, "scale_image_scale_shift_bbox", 5, True,
          ("affine", "zoom", "shift")),
)

# random draws per step: (salt suffix, lo, hi); zoom and affine draw a
# scale step, shift an offset per axis
_DRAWS = {
    "shift": ((":x", -50, 50), (":y", -50, 50)),
    "zoom": (("", -8, 8),),
    "affine": (("", -2, 2),),
}


def _rand_int(salt: str, lo: int, hi: int) -> str:
    """Deterministic pseudo-random int in [lo, hi], keyed on
    (salt, patient_id, variant_i, stage) — the engine's seeded-RNG
    convention for column expressions (pixel kernels use
    image_kernels.seeded_rng with the same keying)."""
    h = f"abs(xxhash64('{salt}', patient_id, variant_i, stage))"
    return f"CAST({h} % {hi - lo + 1} + ({lo}) AS INT)"


def _draws(st: Stage) -> list[str]:
    """The stage's random draws in chain order."""
    return [
        _rand_int(f"{st.op}:{step}{suffix}", lo, hi)
        for step, op in enumerate(st.chain)
        for suffix, lo, hi in _DRAWS[op]
    ]


def _op_chain(st: Stage, image_w: int, image_h: int) -> list[str]:
    """The stage's box-geometry chain as (x, y, width, height) SQL text
    over the draw columns ``_r0``, ``_r1``, … of ``_draws``. Pixel halves
    are applied by multimodal.apply_kernel when the pipeline carries
    pixels."""
    draws = (f"_r{i}" for i in itertools.count())
    box = ["x", "y", "width", "height"]
    for op in st.chain:
        if op == "shift":
            box[:2] = geo.shift_box(*box[:2], next(draws), next(draws))
        else:
            rf = f"(1.0D + {next(draws)} * 0.03125D)"
            if op == "zoom":
                box = geo.scale_bbox_recenter(*box, rf)
            else:
                box = geo.scale_image_box_affine(*box, rf, image_w, image_h)
    return box


def _by_stage(exprs: dict[int, str]) -> str:
    whens = " ".join(f"WHEN {s} THEN {e}" for s, e in exprs.items())
    return f"CASE stage {whens} END"


_STAGE_TABLE = "inline(array({}))".format(", ".join(
    f"named_struct('stage', {st.stage}, 'op', '{st.op}', 'k', {st.k}, "
    f"'positives_only', {str(st.positives_only).lower()})"
    for st in STAGES
))


def augment(patients: DataFrame, boxes: DataFrame, image_w: int = 1024,
            image_h: int = 1024) -> DataFrame:
    """Run the full DAG over (patient_id, target) + per-box rows.

    Returns one row per generated *box instance* for positives and one
    row per generated image for box-less negatives, with: image_id,
    patient_id, stage, op, variant_i, flipped, and transformed box
    coords (null for negatives).
    """
    stage_draws = {st.stage: _draws(st) for st in STAGES}
    draws = [
        _by_stage({s: d[i] for s, d in stage_draws.items() if i < len(d)})
        + f" AS _r{i}"
        for i in range(max(map(len, stage_draws.values())))
    ]
    chains = {st.stage: _op_chain(st, image_w, image_h) for st in STAGES}
    geometry = [
        _by_stage({s: c[j] for s, c in chains.items()}) + f" AS {name}"
        for j, name in enumerate(("x", "y", "width", "height"))
    ]
    # join BEFORE the fan-out: the per-patient boxes join shuffles
    # |patients|+|boxes| rows once, and the ×2k fan-out is narrow on
    # top of it. Draws and geometry are computed once per variant,
    # before the flip twin doubles the rows.
    return (
        patients.join(boxes, "patient_id", "left")
        .selectExpr("patient_id", "x", "y", "width", "height", _STAGE_TABLE)
        .where("NOT positives_only OR x IS NOT NULL")
        .selectExpr("patient_id", "stage", "op", "x", "y", "width",
                    "height", "explode(sequence(0, k - 1)) AS variant_i")
        .selectExpr("*", *draws)
        .selectExpr("patient_id", "stage", "op", "variant_i", *geometry)
        .selectExpr("*", "explode(array(0, 1)) AS flipped")
        .selectExpr(
            "concat_ws('-', patient_id, op, "
            "CASE WHEN flipped = 1 THEN 'fl' ELSE 'o' END, variant_i, "
            "stage) AS image_id",
            "patient_id", "stage", "op", "variant_i", "flipped",
            "CASE WHEN flipped = 1 THEN "
            f"{geo.flip_box_x('x', 'width', image_w)} ELSE x END AS x",
            "y", "width", "height",
        )
    )
