"""Labels ingest: the reference's primary relational pipeline.

Re-expresses ``create_maps`` (reference ``generate_images_from_dicom.py:15-41``)
over the CSV scan of ``sources.readers.read_labels_csv`` (O1): typed
projection with ``int(float(s))`` truncation casts (O2, ``:33``), positives
filter on an int-cast predicate (O3, ``:32``), per-patient box aggregation
(O4, ``:16,33``) and per-patient target aggregation (O5, ``:35``).

Instead of the reference's two Python dicts (``box_map``/``captions_map``)
the engine keeps everything as DataFrames — one row per patient with the
box list and target — so downstream joins stay distributed. The box list
is kept BOTH nested (``boxes: array<array<int>>``, the reference's shape)
and un-nested (one row per box), because the un-nested form is the
join-friendly one at scale (SURVEY.md §1.1).

Scale notes: the groupBys shuffle on ``patient_id`` — a high-cardinality,
evenly distributed key (one patient = one image), so no skew handling is
needed; both aggregations are partial-aggregatable (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def typed_labels(raw: DataFrame) -> DataFrame:
    """O2: positional/raw string columns → named, typed columns.

    Built as ONE ``selectExpr`` (same analyzed plan as the
    ``functions.scalars.int_of_float(F.col(...))`` chain — one py4j
    round trip instead of ~25; see dedup.exploded_shingles for the
    measurement). ``cast(cast(s AS double) AS int)`` is Python's
    ``int(float(s))``: parse as double, truncate toward zero
    (reference ``generate_images_from_dicom.py:33``)."""
    return raw.selectExpr(
        "patientId AS patient_id",
        "cast(cast(x AS double) AS int) AS x",
        "cast(cast(y AS double) AS int) AS y",
        "cast(cast(width AS double) AS int) AS width",
        "cast(cast(height AS double) AS int) AS height",
        "Target AS target",
    )


def positive_boxes(labels: DataFrame) -> DataFrame:
    """O3: keep box rows only where the target is truthy
    (``if int(target):``, reference ``:32``)."""
    return labels.filter(F.col("target").cast("int") != 0)


def captions_per_patient(labels: DataFrame) -> DataFrame:
    """O5: one target per patient. The reference takes the last CSV row
    (``captions_map[pid] = target``, ``:35``) but every row of a patient
    carries the same value, so ``max`` is equivalent and order-free."""
    return labels.groupBy("patient_id").agg(F.max("target").alias("target"))


def patient_annotations(labels: DataFrame) -> DataFrame:
    """The full ``create_maps`` product as one DataFrame: every patient,
    its target, its box count and boxes (empty array when negative —
    mirroring the defaultdict behavior of reference ``:16`` without the
    silent-empty-entry quirk of SURVEY.md §2.2(9)).

    Fused single-pass form: one scan + ONE shuffle on patient_id computes
    both aggregations — ``collect_list`` drops nulls, so gating the box
    behind the positives predicate (O3) makes the separate boxes/captions
    branches (two scans, two shuffles, a join) unnecessary. This is also
    exactly how the reference builds both maps in one loop
    (generate_images_from_dicom.py:24-35)."""
    return labels.groupBy("patient_id").agg(
        F.expr("max(target)").alias("target"),
        F.expr(
            "sort_array(collect_list(CASE WHEN cast(target AS int) <> 0 "
            "THEN array(x, y, width, height) END))"
        ).alias("boxes"),
    ).selectExpr(
        "patient_id",
        "target",
        "size(boxes) AS n_boxes",
        "boxes",
    )
