"""TFRecord *source* — the scan side of the interchange the sink
writes (VERDICT r7 #4: a user migrating off the reference already has
TFRecord shards on disk — ``images_to_tfrecord.py:228-231`` — and
needs to scan them back without TensorFlow).

A Spark 4 Python DataSource (same extension point as
``pydatasource.SyntheticEventsSource``): one input partition per shard
file — TFRecord has no sync markers or frame index, so a file is NOT
byte-splittable; per-file parallelism is the honest unit, and it
matches how the sink (and TF itself) shards: many files, each modest.
Reading streams frames from disk and yields **Arrow RecordBatches**
(bounded by rows AND bytes), so one task never holds a whole shard in
memory the way a ``binaryFile`` scan of the same file would.

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

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
)

from ..sinks.tfrecord import iter_verified_frames

# batch bounds: flush a RecordBatch at either limit so tiny records
# batch well and huge records don't accumulate
_BATCH_ROWS = 512
_BATCH_BYTES = 8 << 20


class _ShardFile(InputPartition):
    def __init__(self, path: str):
        self.path = path


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


class TFRecordReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("tfrecord source requires a path")
        self.paths = _list_shards(path)

    def partitions(self):
        return [_ShardFile(p) for p in self.paths]

    def read(self, partition: _ShardFile):
        import pyarrow as pa

        idxs: list[int] = []
        blobs: list[bytes] = []
        nbytes = 0

        def batch():
            return pa.RecordBatch.from_arrays(
                [
                    pa.array([partition.path] * len(idxs), type=pa.string()),
                    pa.array(idxs, type=pa.int64()),
                    pa.array(blobs, type=pa.binary()),
                ],
                names=["path", "record_index", "payload"],
            )

        for idx, payload in iter_verified_frames(partition.path):
            idxs.append(idx)
            blobs.append(payload)
            nbytes += len(payload)
            if len(idxs) >= _BATCH_ROWS or nbytes >= _BATCH_BYTES:
                yield batch()
                idxs, blobs, nbytes = [], [], 0
        if idxs:
            yield batch()


class TFRecordSource(DataSource):
    """``spark.read.format("tfrecord").load(path)`` — path may be a
    shard file, a directory of ``*.tfrecord``, or a glob."""

    @classmethod
    def name(cls) -> str:
        return "tfrecord"

    def schema(self) -> str:
        return "path STRING, record_index BIGINT, payload BINARY"

    def reader(self, schema) -> TFRecordReader:
        return TFRecordReader(self.options)


def register(spark) -> None:
    """Idempotent format registration for the session."""
    spark.dataSource.register(TFRecordSource)


def scan_tfrecords(spark, path: str):
    """Convenience: register + read one path."""
    register(spark)
    return spark.read.format("tfrecord").option("path", path).load()
