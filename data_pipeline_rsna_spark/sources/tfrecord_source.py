"""TFRecord *source* — the scan side of the interchange the sink
writes (a user migrating off the reference already has TFRecord
shards on disk — ``images_to_tfrecord.py:228-231`` — and
needs to scan them back without TensorFlow).

One input partition per shard file: TFRecord has no sync markers or
frame index, so a file is NOT byte-splittable; per-file parallelism is
the honest unit, and it matches how the sink (and TF itself) shards:
many files, each modest. The driver lists the shards, ``spark.range``
gives one partition per shard, and one ``mapInArrow`` streams each
shard's frames from disk as **Arrow RecordBatches** (bounded by rows
AND bytes), so one task never holds a whole shard in memory the way a
``binaryFile`` scan of the same file would. It is a plain DataFrame,
not a Python DataSource: a file list needs no driver-side planner
processes.

Every frame's length-CRC and payload-CRC are verified (CRC32C with the
TFRecord mask, shared with the sink) — corruption surfaces as a loud
``TFRecordCorrupt`` (a ValueError) naming the file and record, never as
silent truncation.

Output schema: ``path string, record_index bigint, payload binary``.
``payload`` is the raw protobuf ``tf.train.Example`` bytes; decode to
feature columns with ``sinks.tfrecord.decode_example`` inside a
``mapInPandas`` (see queries.tfrecord_scan_roundtrip), keeping the
parse Arrow-batched executor-side.
"""

from __future__ import annotations

import glob as _glob
import os

from ..sinks.tfrecord import iter_verified_frames

# batch bounds: flush a RecordBatch at either limit so tiny records
# batch well and huge records don't accumulate
_BATCH_ROWS = 512
_BATCH_BYTES = 8 << 20


def _list_shards(path: str) -> list[str]:
    """File, directory (all *.tfrecord inside), or glob."""
    if os.path.isdir(path):
        found = sorted(_glob.glob(os.path.join(path, "*.tfrecord")))
    elif os.path.isfile(path):
        found = [path]
    else:
        found = sorted(_glob.glob(path))
    if not found:
        raise ValueError(f"no TFRecord shards match {path!r}")
    return found


def _shard_batches(path: str):
    import pyarrow as pa

    idxs: list[int] = []
    blobs: list[bytes] = []
    nbytes = 0

    def batch():
        return pa.RecordBatch.from_arrays(
            [
                pa.array([path] * len(idxs), type=pa.string()),
                pa.array(idxs, type=pa.int64()),
                pa.array(blobs, type=pa.binary()),
            ],
            names=["path", "record_index", "payload"],
        )

    for idx, payload in iter_verified_frames(path):
        idxs.append(idx)
        blobs.append(payload)
        nbytes += len(payload)
        if len(idxs) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
            yield batch()
            idxs, blobs, nbytes = [], [], 0
    if idxs:
        yield batch()


def scan_tfrecords(spark, path: str):
    """Scan ``path`` — a shard file, a directory of ``*.tfrecord``, or a
    glob — one partition per shard. The shards are listed here on the
    driver, so a path that matches none raises at call time; the reader
    maps each ``spark.range`` id to its path in that list."""
    paths = _list_shards(path)

    def read_shards(batches):
        for ids in batches:
            for i in ids.column(0).to_pylist():
                yield from _shard_batches(paths[i])

    return spark.range(0, len(paths), 1, len(paths)).mapInArrow(
        read_shards, "path STRING, record_index BIGINT, payload BINARY"
    )
