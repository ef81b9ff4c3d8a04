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
    enc = tfr.encode_example({"a": ("int64", [1, 2])})
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
    df = spark.range(100).selectExpr(
        "id", "cast(id * 2 as double) as v", "concat('rec-', id) AS name"
    )
    out = str(tmp_path / "shards")

    n_written = tfr.write_tfrecord_shards(df, out, num_shards=4)
    assert n_written == 100
    files = sorted(glob.glob(f"{out}/*.tfrecord"))
    assert len(files) == 4
    # the shard files are written through temporary names: none is
    # left behind, hidden or not
    assert sorted(os.listdir(out)) == [
        f"data-{i:05d}-of-00004.tfrecord" for i in range(4)
    ]
    n = sum(tfr.count_tfrecords(f) for f in files)
    assert n == 100
    # spot-check one payload parses as the expected deterministic bytes
    _, some = next(tfr.iter_verified_frames(files[0]))
    assert b"name" in some and b"rec-" in some


def test_write_tfrecord_shards_empty_shards(spark, tmp_path):
    """num_shards > rows: every shard file must still exist (the
    -of-%05d contract), the empty ones as valid zero-record TFRecord
    files — pins the Arrow writer running for EMPTY partitions too; a
    writer that skips empty partitions would silently break the
    shard-count contract."""
    df = spark.range(3).selectExpr("id")
    out = str(tmp_path / "eshards")
    assert tfr.write_tfrecord_shards(df, out, 6) == 3
    files = sorted(glob.glob(f"{out}/*.tfrecord"))
    assert len(files) == 6
    assert len(os.listdir(out)) == 6
    counts = [tfr.count_tfrecords(f) for f in files]
    assert sum(counts) == 3


def _shard_payloads(out):
    return [
        p
        for f in sorted(glob.glob(f"{out}/*.tfrecord"))
        for _, p in tfr.iter_verified_frames(f)
    ]


def test_write_tfrecord_shards_column_kinds(spark, tmp_path):
    """Scalar columns are one-value lists, array columns the list
    itself, strings their UTF-8 bytes, each under its column's kind:
    the payloads equal the reference encoder's with those kinds given,
    bytes-exact, and decode back to the column values."""
    df = spark.range(5).selectExpr(
        "id",
        "cast(id as double) as score",
        "array(cast(id as double), 2.5) as vec",
        "array(cast(id as int), -1) as ints",
        "concat('nm-é', id) as name",
        "array(concat('t', id), '') as tags",
    )
    out = str(tmp_path / "fshards")
    assert tfr.write_tfrecord_shards(df, out, 2) == 5

    def want(i):
        return {
            "id": ("int64", [i]),
            "score": ("float", [float(i)]),
            "vec": ("float", [float(i), 2.5]),
            "ints": ("int64", [i, -1]),
            "name": ("bytes", [f"nm-é{i}".encode()]),
            "tags": ("bytes", [f"t{i}".encode(), b""]),
        }

    payloads = _shard_payloads(out)
    assert sorted(payloads) == sorted(
        tfr.encode_example(want(i)) for i in range(5)
    )
    assert sorted(
        tuple(sorted(tfr.decode_example(p).items())) for p in payloads
    ) == sorted(
        tuple(sorted((k, v) for k, (_, v) in want(i).items()))
        for i in range(5)
    )


# One column of every supported Spark type, scalar and array, no list
# empty. The shard digests were taken from an independent encoder (a
# row callback choosing each kind from the Python value), so they pin
# every non-empty encoding and the record→shard assignment.
GOLDEN_COLUMNS = (
    "cast(id AS tinyint) AS i8",
    "cast(id * 300 - 1000 AS smallint) AS i16",
    "cast(id * 70000 - 400000 AS int) AS i32",
    "id * 5000000000 - 7 AS i64",
    "cast(id / 3 AS float) AS f32",
    "cast(id AS double) * 0.25 - 1 AS f64",
    "concat('é-', id) AS s",
    "cast(concat('b', id) AS binary) AS b",
    "array(cast(id AS tinyint), cast(-1 AS tinyint)) AS a_i8",
    "array(cast(id AS smallint)) AS a_i16",
    "array(cast(id AS int), 1, -2) AS a_i32",
    "array(id, -id << 40) AS a_i64",
    "array(cast(id AS float) / 7, cast(1.5 AS float)) AS a_f32",
    "array(cast(id AS double) / 4, 1.5d, -0.1d) AS a_f64",
    "array(concat('x', id), 'y') AS a_s",
    "array(cast(concat('z', id) AS binary)) AS a_b",
)
GOLDEN_SHARD_SHA256 = {
    "data-00000-of-00003.tfrecord":
        "31c4d6933d42b582c36c809739012ed21a874f0ccd08a0f0cd8e08acd70f59c8",
    "data-00001-of-00003.tfrecord":
        "9e03a0af9586c6ea0119eb45c5396ae8ee7311e0f33a280778a91a85946eb3ab",
    "data-00002-of-00003.tfrecord":
        "71631e1ab5de53ebce19c6af4c798e86d8d9105608710e0d3922febf9374e76e",
}


def test_write_tfrecord_shards_golden_bytes(spark, tmp_path):
    import hashlib

    df = spark.range(0, 12, 1, 2).selectExpr(*GOLDEN_COLUMNS)
    out = str(tmp_path / "golden")
    assert tfr.write_tfrecord_shards(df, out, 3) == 12
    got = {
        name: hashlib.sha256(open(os.path.join(out, name), "rb").read())
        .hexdigest()
        for name in os.listdir(out)
    }
    assert got == GOLDEN_SHARD_SHA256


def _split_rows(spark, n_train, n_val):
    """Records with a ``split`` column: ``n_train`` train rows, then
    ``n_val`` val rows, each with its own id."""
    return spark.range(n_train + n_val).selectExpr(
        f"IF(id < {n_train}, 'train', 'val') AS split",
        "id", "concat('rec-', id) AS name",
    )


@pytest.mark.parametrize("n_train,n_val", [(8, 2), (1, 0)])
def test_grouped_shards_files_and_counts(spark, tmp_path, n_train, n_val):
    """One call writes each ``by`` group's shard files under its own
    directory, named as the int form names them, returns each group's
    record count, and leaves the ``by`` column out of the records. A
    group that gets no rows still gets all its shard files, empty."""
    out = str(tmp_path / "grouped")
    counts = tfr.write_tfrecord_shards(
        _split_rows(spark, n_train, n_val), out, {"train": 4, "val": 2},
        by="split",
    )
    assert counts == {"train": n_train, "val": n_val}
    assert sorted(os.listdir(out)) == ["train", "val"]
    for split, n_shards, n in (("train", 4, n_train), ("val", 2, n_val)):
        names = sorted(os.listdir(os.path.join(out, split)))
        assert names == [
            f"data-{i:05d}-of-{n_shards:05d}.tfrecord"
            for i in range(n_shards)
        ]
        assert sum(
            tfr.count_tfrecords(os.path.join(out, split, f)) for f in names
        ) == n
    examples = [tfr.decode_example(p) for p in _shard_payloads(out + "/*")]
    assert sorted(ex["id"][0] for ex in examples) == list(
        range(n_train + n_val)
    )
    assert all(sorted(ex) == ["id", "name"] for ex in examples)


def test_grouped_shards_match_int_form_per_group(spark, tmp_path):
    """Each group's shard i holds the same records as shard i of the int
    form writing that group's rows alone."""
    df = _split_rows(spark, 150, 50)
    shards = {"train": 3, "val": 2}
    out = str(tmp_path / "grouped")
    tfr.write_tfrecord_shards(df, out, shards, by="split")
    for split, n_shards in shards.items():
        alone = str(tmp_path / f"alone_{split}")
        tfr.write_tfrecord_shards(
            df.where(f"split = '{split}'").drop("split"), alone, n_shards
        )
        for i in range(n_shards):
            name = f"data-{i:05d}-of-{n_shards:05d}.tfrecord"
            got, want = (
                sorted(p for _, p in tfr.iter_verified_frames(
                    os.path.join(d, name)))
                for d in (os.path.join(out, split), alone)
            )
            assert got == want and want, (split, i)


@pytest.mark.parametrize(
    "expr,value",
    [("IF(id = 3, NULL, 'train')", "None"),
     ("IF(id = 3, 'test', 'train')", "'test'")],
)
def test_grouped_shards_unmapped_value_fails(spark, tmp_path, expr, value):
    df = spark.range(6).selectExpr(f"{expr} AS split", "id")
    with pytest.raises(
        Exception, match=f"column 'split' holds {value}, which num_shards"
    ):
        tfr.write_tfrecord_shards(
            df, str(tmp_path / "unmapped"), {"train": 2, "val": 1},
            by="split",
        )


def test_grouped_shards_zero_shard_group_raises(spark, tmp_path):
    df = spark.range(6).selectExpr("'train' AS split", "id")
    with pytest.raises(ValueError, match="'val' needs at least one shard"):
        tfr.write_tfrecord_shards(
            df, str(tmp_path / "zero"), {"train": 2, "val": 0}, by="split"
        )


def test_empty_lists_keep_their_kind(spark, tmp_path):
    """An empty list is written as protobuf writes an empty list message
    of its kind, so a parser that checks the kind (TF's Example parser
    does, even for empty lists) reads the column's kind."""
    assert tfr.encode_feature("float", []) == bytes.fromhex("1200")
    assert tfr.encode_feature("int64", []) == bytes.fromhex("1a00")
    assert tfr.encode_feature("bytes", []) == bytes.fromhex("0a00")
    df = spark.range(1).selectExpr(
        "cast(array() AS array<double>) AS f",
        "cast(array() AS array<bigint>) AS i",
        "cast(array() AS array<string>) AS s",
    )
    out = str(tmp_path / "empty")
    assert tfr.write_tfrecord_shards(df, out, 1) == 1
    # Example{features{feature{key:"f" value{float_list{}}} ... "i"
    # int64_list{} ... "s" bytes_list{}}}
    assert _shard_payloads(out) == [bytes.fromhex(
        "0a1b"
        "0a070a016612021200"
        "0a070a016912021a00"
        "0a070a017312020a00"
    )]


@pytest.mark.parametrize(
    "expr",
    [
        "cast(1.5 AS decimal(5, 2))",
        "true",
        "named_struct('a', 1)",
        "array(true)",
    ],
)
def test_unsupported_column_type_raises_before_any_job(spark, tmp_path,
                                                        expr):
    sc = spark.sparkContext
    df = spark.range(3).selectExpr("id", f"{expr} AS bad")
    out = str(tmp_path / "never")
    group = "tfrecord-kind-check"
    sc.setJobGroup(group, "sink type check")
    try:
        with pytest.raises(TypeError, match="column 'bad'"):
            tfr.write_tfrecord_shards(df, out, 2)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert not os.path.exists(out)


@pytest.mark.parametrize(
    "expr",
    ["if(id = 1, NULL, id)", "array(id, if(id = 1, NULL, 2))"],
)
def test_null_cell_names_its_column(spark, tmp_path, expr):
    df = spark.range(3).selectExpr("id", f"{expr} AS holey")
    with pytest.raises(Exception, match="column 'holey' holds a NULL"):
        tfr.write_tfrecord_shards(df, str(tmp_path / "nulls"), 1)


def test_float_list_layout():
    enc = tfr._float_list([1.0])
    # field 1, wire 2, len 4, little-endian float 1.0
    assert enc == b"\x0a\x04" + struct.pack("<f", 1.0)


# ---------------------------------------------------------------------------
# read side: decode_example + the scan_tfrecords scan
# ---------------------------------------------------------------------------


def test_decode_example_inverts_encode():
    ex = {
        "doc_id": ("int64", [42]),
        "text": ("bytes", [b"hello \xc3\xa9 world", b"second"]),
        "scores": ("float", [1.5, -2.25, 0.0]),
        "labels": ("int64", [1, -7, 1 << 40, -(1 << 40)]),
        "empty_floats": ("float", []),
        "empty_ints": ("int64", []),
        "empty_bytes": ("bytes", []),
    }
    dec = tfr.decode_example(tfr.encode_example(ex))
    # decode_example returns each feature's values, not its kind (the
    # byte-level tests above pin the kinds)
    assert dec == {k: v for k, (_, v) in ex.items()}


def test_decode_example_hypothesis_roundtrip():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    feature = st.one_of(
        st.tuples(
            st.just("bytes"),
            st.lists(st.binary(max_size=40), min_size=0, max_size=5),
        ),
        st.tuples(
            st.just("int64"),
            st.lists(
                st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1),
                min_size=0,
                max_size=8,
            ),
        ),
        st.tuples(
            st.just("float"),
            st.lists(
                st.floats(width=32, allow_nan=False, allow_infinity=False),
                min_size=0,
                max_size=8,
            ),
        ),
    )
    names = st.text(
        alphabet=st.characters(codec="utf-8"), min_size=1, max_size=12
    )

    @settings(max_examples=60, deadline=None)
    @given(st.dictionaries(names, feature, max_size=5))
    def check(ex):
        assert tfr.decode_example(tfr.encode_example(ex)) == {
            k: v for k, (_, v) in ex.items()
        }

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
    tfr.write_tfrecord_shards(df, out, n_shards)
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
            tfr.encode_example({
                "id": ("int64", [r["id"]]),
                "text": ("bytes", [r["text"].encode()]),
            })
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
    tfr.write_tfrecord_shards(df, out, 1)
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
    tfr.write_tfrecord_shards(df, out, 2)
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
