"""TFRecord sink: framing round-trip + protobuf wire-format goldens."""

from __future__ import annotations

import glob
import os
import struct

import pytest

from data_pipeline_rsna_spark.sinks import tfrecord as tfr


def test_crc32c_known_vectors():
    # public CRC32C test vectors (RFC 3720 / golang hash/crc32 tests)
    assert tfr.crc32c(b"") == 0
    assert tfr.crc32c(b"123456789") == 0xE3069283
    assert tfr.crc32c(b"a") == 0xC1D04330


def test_varint_golden():
    assert tfr._varint(0) == b"\x00"
    assert tfr._varint(1) == b"\x01"
    assert tfr._varint(300) == b"\xac\x02"


def test_example_encoding_golden():
    # Example{features{feature{key:"a" value{int64_list{value:[1,2]}}}}}
    enc = tfr.encode_example({"a": [1, 2]})
    # outer: field 1 (features), map entry (key "a" = field 1, value
    # Feature = field 2), Feature.int64_list = field 3 (tag 0x1a),
    # Int64List.value packed = field 1
    assert enc == bytes.fromhex("0a0d0a0b0a016112061a040a020102")


def test_frame_roundtrip(tmp_path):
    payloads = [b"hello", b"", b"x" * 1000]
    p = tmp_path / "t.tfrecord"
    with open(p, "wb") as f:
        for pl in payloads:
            f.write(tfr.frame_record(pl))
    assert [pl for _, pl in tfr.iter_verified_frames(str(p))] == payloads


def test_write_tfrecord_shards(spark, tmp_path):
    df = spark.range(100).selectExpr("id", "cast(id * 2 as double) as v")
    out = str(tmp_path / "shards")

    def to_features(row):
        return {
            "id": [int(row.id)],
            "v": [float(row.v)],
            "name": [f"rec-{row.id}"],
        }

    n_written = tfr.write_tfrecord_shards(
        df, out, num_shards=4, to_features=to_features
    )
    assert n_written == 100
    files = sorted(glob.glob(f"{out}/*.tfrecord"))
    assert len(files) == 4
    n = sum(tfr.count_tfrecords(f) for f in files)
    assert n == 100
    # spot-check one payload parses as the expected deterministic bytes
    _, some = next(tfr.iter_verified_frames(files[0]))
    assert b"name" in some and b"rec-" in some


def test_write_tfrecord_shards_empty_shards(spark, tmp_path):
    """num_shards > rows: every shard file must still exist (the
    -of-%05d contract), the empty ones as valid zero-record TFRecord
    files — pins the Arrow writer running for EMPTY partitions too
    (round 12: the pickled-Row foreachPartition ingress became
    mapInArrow; an Arrow writer that skips empty partitions would
    silently break the shard-count contract)."""
    df = spark.range(3).selectExpr("id")
    out = str(tmp_path / "eshards")
    assert tfr.write_tfrecord_shards(
        df, out, 6, lambda r: {"id": [r["id"]]}
    ) == 3
    files = sorted(glob.glob(f"{out}/*.tfrecord"))
    assert len(files) == 6
    counts = [tfr.count_tfrecords(f) for f in files]
    assert sum(counts) == 3


def test_write_tfrecord_shards_row_facade(spark, tmp_path):
    """to_features sees attribute access, item access, array columns
    as lists, and bytes-exact framing — the full surface the pickled
    Row used to provide (round 12 Arrow ingress)."""
    df = spark.range(5).selectExpr(
        "id",
        "cast(id as double) as score",
        "array(cast(id as double), 2.5) as vec",
        "concat('nm-', id) as name",
    )
    out = str(tmp_path / "fshards")

    def to_features(row):
        return {
            "id": [int(row.id)],              # attribute access
            "score": [float(row["score"])],   # item access
            "vec": list(row.vec),             # array column -> list
            "name": [row.name],               # str
        }

    tfr.write_tfrecord_shards(df, out, 2, to_features)
    payloads = []
    for f in sorted(glob.glob(f"{out}/*.tfrecord")):
        payloads.extend(p for _, p in tfr.iter_verified_frames(f))
    got = sorted(
        tuple(
            (k, tuple(v)) for k, v in sorted(tfr.decode_example(p).items())
        )
        for p in payloads
    )
    want = sorted(
        (
            ("id", (i,)),
            ("name", (f"nm-{i}".encode(),)),
            ("score", (float(i),)),
            ("vec", (float(i), 2.5)),
        )
        for i in range(5)
    )
    assert got == want


def test_float_list_layout():
    enc = tfr._float_list([1.0])
    # field 1, wire 2, len 4, little-endian float 1.0
    assert enc == b"\x0a\x04" + struct.pack("<f", 1.0)


# ---------------------------------------------------------------------------
# read side: decode_example + the scan_tfrecords scan
# ---------------------------------------------------------------------------


def test_decode_example_inverts_encode():
    ex = {
        "doc_id": [42],
        "text": [b"hello \xc3\xa9 world", b"second"],
        "scores": [1.5, -2.25, 0.0],
        "labels": [1, -7, 1 << 40, -(1 << 40)],
        "empty": [],
    }
    dec = tfr.decode_example(tfr.encode_example(ex))
    # empty lists encode as an empty Int64List — type is unrecoverable,
    # value (the empty list) is
    assert dec == ex


def test_decode_example_hypothesis_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    feature = st.one_of(
        st.lists(st.binary(max_size=40), min_size=1, max_size=5),
        st.lists(
            st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
            min_size=1,
            max_size=8,
        ),
        st.lists(
            st.floats(width=32, allow_nan=False, allow_infinity=False),
            min_size=1,
            max_size=8,
        ),
    )
    names = st.text(
        alphabet=st.characters(codec="utf-8"), min_size=1, max_size=12
    )

    @settings(max_examples=60, deadline=None)
    @given(st.dictionaries(names, feature, max_size=5))
    def check(ex):
        assert tfr.decode_example(tfr.encode_example(ex)) == ex

    check()


@pytest.mark.parametrize(
    "n_rows,n_shards",
    [
        pytest.param(1200, 3, id="full_shards"),
        pytest.param(3, 6, id="empty_shards"),
    ],
)
def test_tfrecord_source_scan_matches_write(spark, tmp_path, n_rows,
                                            n_shards):
    from pyspark.sql import functions as F

    from data_pipeline_rsna_spark.sources import tfrecord_source as tfs

    df = spark.range(n_rows).selectExpr(
        "id", "concat('payload-', id) AS text"
    )
    out = str(tmp_path / "shards")
    tfr.write_tfrecord_shards(
        df, out, n_shards, lambda r: {"id": [r["id"]], "text": [r["text"]]}
    )
    back = tfs.scan_tfrecords(spark, out)
    assert back.count() == n_rows
    non_empty = [f for f in glob.glob(out + "/*.tfrecord")
                 if os.path.getsize(f)]
    assert back.select("path").distinct().count() == len(non_empty)
    # payload byte-level equality: sha2 multiset of scanned payloads ==
    # sha2 of the pre-sink encoded examples
    import hashlib

    pre = sorted(
        hashlib.sha256(
            tfr.encode_example({"id": [r["id"]], "text": [r["text"]]})
        ).hexdigest()
        for r in df.collect()
    )
    post = sorted(
        r[0]
        for r in back.select(F.sha2(F.col("payload"), 256)).collect()
    )
    assert pre == post
    # record_index is per-shard contiguous from 0
    per_shard = back.groupBy("path").agg(
        F.min("record_index").alias("lo"),
        F.max("record_index").alias("hi"),
        F.count("*").alias("n"),
    )
    for row in per_shard.collect():
        assert row.lo == 0 and row.n == row.hi + 1


def test_tfrecord_source_detects_corruption(spark, tmp_path):
    from data_pipeline_rsna_spark.sources import tfrecord_source as tfs

    df = spark.range(20).selectExpr("id")
    out = str(tmp_path / "cshards")
    tfr.write_tfrecord_shards(df, out, 1, lambda r: {"id": [r["id"]]})
    shard = glob.glob(out + "/*.tfrecord")[0]
    blob = bytearray(open(shard, "rb").read())
    blob[len(blob) // 2] ^= 0xFF  # flip one payload byte mid-file
    open(shard, "wb").write(bytes(blob))
    with pytest.raises(Exception, match="corrupt TFRecord"):
        tfs.scan_tfrecords(spark, out).count()


def test_tfrecord_source_glob_and_single_file(spark, tmp_path):
    from data_pipeline_rsna_spark.sources import tfrecord_source as tfs

    df = spark.range(10).selectExpr("id")
    out = str(tmp_path / "gshards")
    tfr.write_tfrecord_shards(df, out, 2, lambda r: {"id": [r["id"]]})
    files = sorted(glob.glob(out + "/*.tfrecord"))
    assert tfs.scan_tfrecords(spark, out + "/*.tfrecord").count() == 10
    one = tfs.scan_tfrecords(spark, files[0])
    assert one.select("path").distinct().count() == 1
    # no shards: raises on the driver at call time, before any job
    (tmp_path / "no_shards").mkdir()
    with pytest.raises(ValueError, match="no TFRecord shards match"):
        tfs.scan_tfrecords(spark, str(tmp_path / "no_shards"))


def test_crc32c_batch_parity_and_edges():
    """Lockstep batch CRC must be bit-identical to the scalar loop for
    empty, 1-byte, boundary-straddling (4095/4096/4097), and
    past-threshold (scalar-fallback) records, masked and unmasked."""
    import random

    import numpy as np

    from data_pipeline_rsna_spark.sinks import tfrecord as tfr

    rng = random.Random(99)
    msgs = [
        b"",
        b"\x00",
        bytes(rng.getrandbits(8) for _ in range(4095)),
        bytes(rng.getrandbits(8) for _ in range(4096)),
        bytes(rng.getrandbits(8) for _ in range(4097)),
        bytes(rng.getrandbits(8) for _ in range(9000)),
    ] + [
        bytes(rng.getrandbits(8) for _ in range(rng.randrange(0, 700)))
        for _ in range(300)
    ]
    data = np.frombuffer(b"".join(msgs), dtype=np.uint8)
    lens = np.array([len(m) for m in msgs], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    got = tfr.crc32c_batch(data, starts, lens)
    gotm = tfr.masked_crc_batch(data, starts, lens)
    for i, m in enumerate(msgs):
        assert int(got[i]) == tfr.crc32c(m), i
        assert int(gotm[i]) == tfr._masked_crc(m), i


def test_batch_framed_shard_is_bytewise_scalar_framed():
    """write path's batch framing must produce the exact bytes of the
    scalar frame_record per record (headers, both masked CRCs,
    payload)."""
    from data_pipeline_rsna_spark.sinks import tfrecord as tfr

    payloads = [b"abc", b"", b"x" * 500, bytes(range(256))]
    import numpy as np
    import struct

    data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    lens = np.array([len(p) for p in payloads], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    pcrc = tfr.masked_crc_batch(data, starts, lens)
    headers = b"".join(struct.pack("<Q", int(ln)) for ln in lens)
    hbuf = np.frombuffer(headers, dtype=np.uint8)
    hcrc = tfr.masked_crc_batch(
        hbuf,
        np.arange(len(payloads), dtype=np.int64) * 8,
        np.full(len(payloads), 8, dtype=np.int64),
    )
    for i, p in enumerate(payloads):
        framed = (
            headers[i * 8 : i * 8 + 8]
            + struct.pack("<I", int(hcrc[i]))
            + p
            + struct.pack("<I", int(pcrc[i]))
        )
        assert framed == tfr.frame_record(p), i


def test_corrupt_length_field_names_first_offending_record():
    """A flipped bit in a LENGTH field misframes every later parse;
    the walker must still name the record whose header is corrupt (by
    batch-verifying the accumulated chunk before reporting any
    truncation), never a misframed index or a bare 'truncated'."""
    import os
    import struct
    import tempfile

    from data_pipeline_rsna_spark.sinks import tfrecord as tfr

    payloads = [bytes([i]) * (20 + i) for i in range(30)]
    blob = b"".join(tfr.frame_record(p) for p in payloads)
    # offset of record 10's 8-byte length header
    off = sum(16 + len(p) for p in payloads[:10])
    # shrink, grow, and grow-past-chunk-bound (the last is caught by
    # the pre-buffering header check — a giant corrupted length must
    # not make the walker swallow the rest of the file into memory)
    for delta in (-7, +5, 1 << 40):
        bad = bytearray(blob)
        (orig,) = struct.unpack_from("<Q", bad, off)
        struct.pack_into("<Q", bad, off, orig + delta)
        fd, path = tempfile.mkstemp(suffix=".tfrecord")
        os.write(fd, bytes(bad))
        os.close(fd)
        try:
            with pytest.raises(tfr.TFRecordCorrupt) as ei:
                list(tfr.iter_verified_frames(path))
            assert ei.value.kind == "length crc"
            assert ei.value.record == 10
        finally:
            os.unlink(path)


def test_iter_verified_frames_is_streaming_and_chunked():
    """The walker must hold a BOUNDED buffer, not the file: with a
    small read_block and chunk caps, records yield progressively and
    every payload round-trips across block/chunk boundaries."""
    import os
    import tempfile

    from data_pipeline_rsna_spark.sinks import tfrecord as tfr

    payloads = [bytes([i % 251]) * (50 + (i * 37) % 300)
                for i in range(500)]
    blob = b"".join(tfr.frame_record(p) for p in payloads)
    fd, path = tempfile.mkstemp(suffix=".tfrecord")
    os.write(fd, blob)
    os.close(fd)
    try:
        got = list(
            tfr.iter_verified_frames(
                path, max_chunk_records=64,
                max_chunk_bytes=4096, read_block=1024,
            )
        )
        assert [i for i, _ in got] == list(range(500))
        assert [p for _, p in got] == payloads
        # count path: same walk, no payload copies
        assert tfr.count_tfrecords(path) == 500
    finally:
        os.unlink(path)
