"""End-to-end pipeline: reference invariants over a handcrafted corpus.

The fan-out math is the reference's own printed accounting
(SURVEY.md §5.5): a negative patient yields 2·(5+5) = 20 images, a
positive 2·(5+25+25+5+25+5+5) = 190.
"""

from __future__ import annotations

import glob

from data_pipeline_rsna_spark.pipelines import run_rsna_pipeline
from data_pipeline_rsna_spark.sinks import tfrecord as tfr
import pytest


def _labels(spark):
    """4 positive patients with 2 boxes each, 6 negatives."""
    rows = []
    for p in range(4):
        rows += [
            (f"pos{p}", "100.0", "100.0", "50.0", "60.0", "1"),
            (f"pos{p}", "300.0", "300.0", "40.0", "40.0", "1"),
        ]
    for n in range(6):
        rows.append((f"neg{n}", "", "", "", "", "0"))
    return spark.createDataFrame(
        rows, "patientId string, x string, y string, width string, "
        "height string, Target string"
    )


def test_pipeline_job_count(spark, tmp_path):
    """The pipeline's Spark jobs, counted under one job group: the split,
    one lineage cut of the records and one sink action that writes both
    splits."""
    sc = spark.sparkContext
    group = "rsna-pipeline-jobs"
    sc.setJobGroup(group, "run_rsna_pipeline job count")
    try:
        res = run_rsna_pipeline(
            spark, _labels(spark), str(tmp_path / "tfrecords"),
            train_shards=4, val_shards=2,
        )
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # by id order neg0-5, pos0, pos1 train and pos2, pos3 val
    assert (res.train_records, res.val_records) == (6 * 20 + 2 * 190, 2 * 190)
    assert jobs == 15


@pytest.mark.slow
def test_pipeline_end_to_end(spark, tmp_path):
    raw = _labels(spark)
    out = str(tmp_path / "tfrecords")
    res = run_rsna_pipeline(
        spark, raw, out, train_shards=4, val_shards=2
    )
    # 10 patients, 80/20 deterministic split (8 train / 2 val by id order)
    # fan-out: positives 190 images, negatives 20 images
    total = res.train_records + res.val_records
    assert total == 4 * 190 + 6 * 20
    assert res.skipped_boxes == 0  # all handcrafted boxes are valid
    assert res.train_records > res.val_records

    # the sink really wrote framed TFRecords with valid CRCs
    files = sorted(glob.glob(f"{out}/train/*.tfrecord"))
    assert len(files) == 4
    n_payloads = sum(tfr.count_tfrecords(f) for f in files)
    assert n_payloads == res.train_records

    # every written Example carries the image size the boxes were
    # normalized by, one label per box, and boxes inside the image
    examples = [
        tfr.decode_example(payload)
        for f in sorted(glob.glob(f"{out}/*/*.tfrecord"))
        for _, payload in tfr.iter_verified_frames(f)
    ]
    assert len(examples) == total
    # a box-less record (every negative patient's) still carries its box
    # features as FloatList and its labels as Int64List, as the TF
    # Object Detection API's decoder declares them: read from the raw
    # payload bytes, since decode_example returns values, not kinds
    def entry(key, feature):
        return tfr._len_delim(
            1, tfr._len_delim(1, key.encode()) + tfr._len_delim(2, feature)
        )

    boxless = [
        p
        for f in sorted(glob.glob(f"{out}/*/*.tfrecord"))
        for _, p in tfr.iter_verified_frames(f)
        if not tfr.decode_example(p)["image/object/bbox/xmin"]
    ]
    assert len(boxless) == 6 * 20
    for p in boxless:
        for side in ("xmin", "xmax", "ymin", "ymax"):
            assert entry(f"image/object/bbox/{side}", b"\x12\x00") in p
        assert entry("image/object/class/label", b"\x1a\x00") in p
    for ex in examples:
        assert ex["image/height"] == [1024]
        assert ex["image/width"] == [1024]
        xmin, xmax = ex["image/object/bbox/xmin"], ex["image/object/bbox/xmax"]
        ymin, ymax = ex["image/object/bbox/ymin"], ex["image/object/bbox/ymax"]
        assert ex["image/object/class/label"] == [1] * len(xmin)
        assert len(xmax) == len(ymin) == len(ymax) == len(xmin)
        for x0, x1, y0, y1 in zip(xmin, xmax, ymin, ymax):
            assert 0 <= x0 <= x1 <= 1
            assert 0 <= y0 <= y1 <= 1
