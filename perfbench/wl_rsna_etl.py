"""rsna_etl: the paper's own job. Labels CSV -> ``run_rsna_pipeline``
(split, 7-stage augmentation, validity, normalisation, sharded TFRecord
sink) -> scan the shards back with ``scan_tfrecords``."""

from __future__ import annotations

import collections
import glob
import math
import os

import gen
import tfrecord_io
from tracing import self_times

# (stage, op, variants, positives only): the reference's fan-out table
STAGES = (
    (1, "shift_image", 5, False),
    (2, "shift_bbox", 25, True),
    (3, "scale_bbox", 25, True),
    (4, "scale_image", 5, False),
    (5, "scale_shift_bbox", 25, True),
    (6, "shift_image_shift_bbox", 5, True),
    (7, "scale_image_scale_shift_bbox", 5, True),
)
PER_POSITIVE = 2 * sum(k for _, _, k, _ in STAGES)  # 190
TRAIN_SHARDS, VAL_SHARDS = 4, 1


def _decode_ids(batches):
    """Readback projection: shard path, source id and box count per
    record (runs in the Python workers)."""
    import pyarrow as pa

    from data_pipeline_rsna_spark.sinks.tfrecord import decode_example

    for b in batches:
        ids, nb = [], []
        for p in b.column("payload").to_pylist():
            ex = decode_example(p)
            ids.append(ex["image/source_id"][0].decode())
            nb.append(len(ex.get("image/object/bbox/xmin", [])))
        yield pa.record_batch(
            [b.column("path"), pa.array(ids), pa.array(nb, pa.int64())],
            names=["path", "source_id", "n_boxes"],
        )


class RsnaEtl:
    name = "rsna_etl"
    ops = ("pipeline", "readback")
    sizes = {"full": {"n_patients": 500}, "tiny": {"n_patients": 20}}

    def generate(self, root, rng, size):
        return gen.rsna_labels(root, rng, **self.sizes[size])

    def reference(self, truth):
        pids = sorted(truth["patients"])
        cutoff = int(math.floor(len(pids) * 0.8 + 0.5))
        valid = truth["valid_boxes"]
        ids = {"train": [], "val": []}
        for i, pid in enumerate(pids):
            split = "train" if i < cutoff else "val"
            for stage, op, k, pos_only in STAGES:
                if pos_only and pid not in valid:
                    continue
                for fl in ("o", "fl"):
                    ids[split] += [f"{pid}-{op}-{fl}-{v}-{stage}" for v in range(k)]
        return {
            "ids": {s: collections.Counter(v) for s, v in ids.items()},
            "n_train": len(ids["train"]),
            "n_val": len(ids["val"]),
            "skipped": PER_POSITIVE * truth["n_invalid"],
            "valid": valid,
        }

    def _raw(self, spark, truth):
        from data_pipeline_rsna_spark.schemas import LABELS_CSV

        return spark.read.option("header", "true").schema(LABELS_CSV).csv(truth["csv"])

    def run_pass(self, spark, truth, out_dir, tr):
        from data_pipeline_rsna_spark.pipelines import run_rsna_pipeline
        from data_pipeline_rsna_spark.sources.tfrecord_source import scan_tfrecords

        with tr.span("pipelines.run"):
            res = run_rsna_pipeline(spark, self._raw(spark, truth), out_dir,
                                    train_shards=TRAIN_SHARDS, val_shards=VAL_SHARDS)
        with tr.span("sources.tfrecord.read"):
            back = (scan_tfrecords(spark, os.path.join(out_dir, "*", "*.tfrecord"))
                    .mapInArrow(_decode_ids, "path string, source_id string, n_boxes long")
                    .toArrow())
        shards = sorted(glob.glob(os.path.join(out_dir, "*", "*.tfrecord")))
        return {"pipeline": res, "readback": back,
                "shards": {p: os.path.getsize(p) for p in shards}}

    def check(self, out, ref):
        errs = {}
        res = out["pipeline"]
        got = (res.train_records, res.val_records, res.skipped_boxes)
        want = (ref["n_train"], ref["n_val"], ref["skipped"])
        if got != want:
            errs["pipeline"] = f"(train, val, skipped) {got} != {want}"
        back = out["readback"].to_pydict()
        problems = []
        files = {s: [p for p in out["shards"] if os.path.basename(os.path.dirname(p)) == s]
                 for s in ("train", "val")}
        if (len(files["train"]), len(files["val"])) != (TRAIN_SHARDS, VAL_SHARDS):
            problems.append("shard file count")
        n_crc = sum(tfrecord_io.crc_failures(p) for p in files["train"] + files["val"])
        if n_crc:
            problems.append(f"{n_crc} CRC failures")
        by_split = {"train": collections.Counter(), "val": collections.Counter()}
        bad_boxes = 0
        for path, sid, nb in zip(back["path"], back["source_id"], back["n_boxes"]):
            by_split[os.path.basename(os.path.dirname(path))][sid] += 1
            bad_boxes += nb != ref["valid"].get(sid[:36], 0)
        if by_split != ref["ids"]:
            problems.append("source_id multiset differs from what was written")
        if bad_boxes:
            problems.append(f"{bad_boxes} records with a wrong box count")
        if problems:
            errs["readback"] = "; ".join(problems)
        return errs

    def probes(self, spark, truth, tr):
        """Cumulative prefixes of the lazy pipeline head, each written to
        the noop sink: ingest, ingest+split, ingest+split+augment. Their
        differences are the layers' self times."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from data_pipeline_rsna_spark.operators import augmentation as aug
        from data_pipeline_rsna_spark.operators import labels as labels_ops
        from data_pipeline_rsna_spark.operators import relational as rel

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        def head():
            labels = labels_ops.typed_labels(self._raw(spark, truth))
            patients = labels_ops.captions_per_patient(labels)
            boxes = labels_ops.positive_boxes(labels).select(
                "patient_id", "x", "y", "width", "height")
            return patients, boxes

        with tr.span("probe.ingest") as s1:
            patients, boxes = head()
            noop(patients)
            noop(boxes)
        with tr.span("probe.split") as s2:
            patients, boxes = head()
            noop(rel.deterministic_split(patients, "patient_id"))
            noop(boxes)
        obs = Observation("rows_out")
        with tr.span("probe.augment") as s3:
            patients, boxes = head()
            split = rel.deterministic_split(patients, "patient_id")
            augmented = aug.augment(patients.select("patient_id", "target"), boxes)
            noop(augmented.observe(obs, F.count("*").alias("n"))
                 .join(split.select("patient_id", "split"), "patient_id"))
        t = [s["end"] - s["start"] for s in (s1, s2, s3)]
        return {"head": [t[0], max(t[1] - t[0], 0.0), max(t[2] - t[1], 0.0)],
                "rows_out": int(obs.get["n"])}

    def layer_metrics(self, out, spans, jobs_of, probe, truth):
        """Per-layer metrics of one traced pass. The head layers (labels,
        split, augment) are the probe differences as measured; assembly
        is what is left of the pipeline span's self time, and
        ``_head_scale`` is that self time over the head's, below 1 when
        the probes claim more than the pipeline spent outside its sink."""
        selfs = self_times(spans)
        pipe_self = selfs["pipelines.run"]
        ingest, split, augment = head = probe["head"]
        sink_s = selfs.get("sinks.tfrecord.write", 0.0)
        read_s = selfs["sources.tfrecord.read"]
        assemble = max(pipe_self - sum(head), 0.0)
        sinks = [s for s in spans if s["name"] == "sinks.tfrecord.write"]
        res = out["pipeline"]
        records = res.train_records + res.val_records
        return {
            "labels.ingest_s": ingest,
            "relational.split_s": split,
            "augmentation.augment_s": augment,
            "augmentation.rows_out": probe["rows_out"],
            "pipelines.assemble_s": assemble,
            "pipelines.jobs": len(jobs_of([s for s in spans if s["name"] == "pipelines.run"])),
            "sinks.tfrecord.write_s": sink_s,
            "sinks.tfrecord.exec_cpu_s": sum(j["exec_cpu_s"] for j in jobs_of(sinks)),
            "sinks.tfrecord.records": records,
            "sinks.tfrecord.bytes_per_record": sum(out["shards"].values()) / max(records, 1),
            "sinks.tfrecord.files": len(out["shards"]),
            "sources.tfrecord.read_s": read_s,
            "sources.tfrecord.records": out["readback"].num_rows,
            # every self time above, summed; more than the pass's wall
            # time when the head probes double-count
            "_self_sum_s": sum(head) + assemble + sink_s + read_s,
            "_head_scale": pipe_self / sum(head) if sum(head) else None,
        }
