"""End-to-end RSNA pipeline: the reference's two drivers as one DAG,
cut once before one sink action.

Reference EP1 (``generate_images_from_dicom.py:255-581``) and EP2
(``images_to_tfrecord.py:214-261``) run as separate processes with a
JSON-file handoff and 7 full input rescans, and EP2 runs its writer
twice, once per split (images_to_tfrecord.py:274-285). Here the whole
thing is one DataFrame DAG: labels ingest → deterministic split →
7-stage augmentation fan-out → validity filter → coordinate
normalization → nested record assembly, materialized by one lineage
cut (which also yields the skipped-box count), then one sharded
TFRecord sink action that writes both splits and returns their record
counts. The JSON handoff disappears (it existed only because the
scripts were separate processes; ``sinks/json_sink.py`` still writes
the annotation files for byte-shape compatibility when asked).

Pixels: when a binary image corpus rides along, ``multimodal`` kernels
apply the same augmentation ops per synthetic id; this driver function
runs geometry-only (the testdata has no DICOMs), which exercises every
relational stage of both reference scripts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .lineage import lineage_cut
from .operators import augmentation as aug
from .operators import labels as labels_ops
from .operators import relational as rel
from .sinks import tfrecord as tfr

IMAGE_W = 1024
IMAGE_H = 1024


@dataclass
class PipelineResult:
    train_records: int
    val_records: int
    skipped_boxes: int
    out_dir: str


def run_rsna_pipeline(
    spark: SparkSession,
    raw_labels: DataFrame,
    out_dir: str,
    train_shards: int = 256,
    val_shards: int = 32,
) -> PipelineResult:
    """EP1+EP2 end to end over a raw labels table (the CSV shape of O1).

    Returns record counts (the reference's printed invariants,
    SURVEY.md §5.5) and writes ``train/`` and ``val/`` TFRecord shard
    directories (256/32, images_to_tfrecord.py:279,285).
    """
    labels = labels_ops.typed_labels(raw_labels)

    # EP1: per-patient annotations + deterministic split
    patients = labels_ops.captions_per_patient(labels)
    boxes = labels_ops.positive_boxes(labels).select(
        "patient_id", "x", "y", "width", "height"
    )
    split = rel.deterministic_split(patients, "patient_id")

    # EP1: the 7-stage augmentation DAG (geometry path)
    augmented = aug.augment(
        patients.select("patient_id", "target"), boxes, IMAGE_W, IMAGE_H
    )

    # EP2: validity filter (skip-counted) + normalization + assembly.
    # The reference skips invalid BOXES, never images
    # (images_to_tfrecord.py:113-120: `continue` inside the box loop) —
    # an image whose boxes all fail validity still writes an example
    # with empty box lists. One conditional-collect pass preserves that:
    # collect_list drops the null struct of masked-out boxes, so every
    # image keeps exactly its valid boxes (possibly none).
    #
    # skipped-box accounting rides the assembly pass as an observe()
    # metric, so no standalone count() re-executes the whole
    # ingest->split->augment DAG just for one number.
    obs = Observation("rsna_skip_accounting")
    with_split = (
        augmented.join(split.select("patient_id", "split"), "patient_id")
        .select("*", rel.box_valid(IMAGE_W, IMAGE_H).alias("_valid"))
        .observe(obs, F.expr("count_if(x IS NOT NULL AND NOT _valid)")
                 .alias("skipped"))
    )
    collected = with_split.selectExpr(
        "image_id", "split",
        "CASE WHEN x IS NOT NULL AND _valid THEN named_struct("
        "'k', named_struct('x', x, 'y', y, 'width', width, 'height', height), "
        f"'xmin', round(x / {IMAGE_W}, 9), "
        f"'xmax', round((x + width) / {IMAGE_W}, 9), "
        f"'ymin', round(y / {IMAGE_H}, 9), "
        f"'ymax', round((y + height) / {IMAGE_H}, 9)) END AS _box",
    ).groupBy("image_id").agg(
        F.expr("first(split) AS split"),
        F.expr("sort_array(collect_list(_box)) AS _boxes"),
    )
    # the columns besides split are the Example's features, under their
    # TF Object Detection API names; the sink takes each list kind from
    # the column type (boxes double → FloatList, labels int → Int64List)
    records = collected.selectExpr(
        "split",
        "image_id AS `image/source_id`",
        f"{IMAGE_H} AS `image/height`",
        f"{IMAGE_W} AS `image/width`",
        *(f"transform(_boxes, b -> b.{f}) AS `image/object/bbox/{f}`"
          for f in ("xmin", "xmax", "ymin", "ymax")),
        "array_repeat(1, size(_boxes)) AS `image/object/class/label`",
    )

    # Cut the assembled records once, which runs the skip observation;
    # then one sink action encodes, shuffles and writes both splits.
    records = lineage_cut(records)
    skipped = int(obs.get["skipped"] or 0)
    counts = tfr.write_tfrecord_shards(
        records, out_dir, {"train": train_shards, "val": val_shards},
        by="split",
    )
    return PipelineResult(counts["train"], counts["val"], skipped, out_dir)
