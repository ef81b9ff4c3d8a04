"""Golden-fixture tests for the labels-ingest kernel (SURVEY.md §5.2).

Hand-computed expectations over the FIXTURES.md F1 shape, covering the
cast/rounding semantics the reference relies on (int(float()) truncation,
generate_images_from_dicom.py:33).
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from data_pipeline_rsna_spark.operators import labels as L

F1_ROWS = [
    # negative patient: empty coords
    ("p0", None, None, None, None, "0"),
    # positive, two boxes, float-string coords (truncation expected)
    ("p1", "264.0", "152.9", "213.5", "379.0", "1"),
    ("p1", "562.0", "152.0", "256.0", "453.7", "1"),
    # positive, one box
    ("p2", "10.2", "20.8", "30.0", "40.0", "1"),
]


@pytest.fixture(scope="module")
def raw(spark):
    return spark.createDataFrame(
        F1_ROWS, "patientId string, x string, y string, width string, height string, Target string"
    )


@pytest.mark.slow
def test_typed_projection_truncates(raw):
    rows = {r.patient_id: r for r in L.typed_labels(raw).collect()}
    assert rows["p1"].x in (264, 562)
    got = sorted(
        (r.x, r.y, r.width, r.height)
        for r in L.typed_labels(raw).filter("patient_id = 'p1'").collect()
    )
    # int(float(s)) truncates toward zero: 152.9 -> 152, 213.5 -> 213, 453.7 -> 453
    assert got == [(264, 152, 213, 379), (562, 152, 256, 453)]
    assert rows["p0"].x is None


def test_boxes_per_patient_sorted(raw):
    labels = L.typed_labels(raw)
    res = {
        r.patient_id: r.boxes
        for r in L.patient_annotations(labels).collect()
        if r.n_boxes
    }
    assert set(res) == {"p1", "p2"}  # negatives carry no boxes (O3)
    assert res["p1"] == [[264, 152, 213, 379], [562, 152, 256, 453]]
    assert res["p2"] == [[10, 20, 30, 40]]


def test_captions_per_patient(raw):
    labels = L.typed_labels(raw)
    res = {r.patient_id: r.target for r in L.captions_per_patient(labels).collect()}
    assert res == {"p0": "0", "p1": "1", "p2": "1"}


def test_patient_annotations_keeps_negatives(raw):
    labels = L.typed_labels(raw)
    res = {r.patient_id: r for r in L.patient_annotations(labels).collect()}
    assert len(res) == 3
    assert res["p0"].n_boxes == 0 and res["p0"].boxes == []
    assert res["p1"].n_boxes == 2


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == ["patient_id", "target", "n_boxes", "box_sig"]
