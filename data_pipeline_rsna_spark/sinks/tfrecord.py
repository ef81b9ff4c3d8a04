"""TFRecord sink without TensorFlow (SURVEY.md O31/O33/O35).

Both layers of the format are public specifications:

- **tf.train.Example** is a protobuf message; the wire format is the
  standard protobuf encoding (varints + length-delimited fields). The
  reference builds these with TF helper constructors
  (``dataset_util.py:21-38``, ``images_to_tfrecord.py:135-169``); here
  they are encoded directly.
- **The feature spec is the DataFrame schema**, as in the
  spark-tensorflow-connector: ``write_tfrecord_shards`` writes each
  column as the feature of that name, with its list kind fixed by the
  column's Spark type — ``string`` (UTF-8) and ``binary`` → BytesList;
  ``tinyint``, ``smallint``, ``int``, ``bigint`` → Int64List;
  ``float``, ``double`` → FloatList (float32). ``array<T>`` of these
  is the list itself, a scalar a one-value list; any other type is a
  ``TypeError``. An empty list is written as protobuf writes an empty
  list message of its kind (float ``12 00``, int64 ``1a 00``, bytes
  ``0a 00``), so its kind survives for a parser that checks it.
- **TFRecord framing** is ``uint64 length | uint32 masked_crc(length) |
  payload | uint32 masked_crc(payload)`` with CRC32C and the mask
  ``((crc >> 15) | (crc << 17)) + 0xa282ead8``.

In production, prefer the ``spark-tensorflow-connector`` format provider
when its jar is on the classpath; this module is the dependency-free
fallback and the byte-level ground truth for tests.
"""

from __future__ import annotations

import struct

from . import atomic_write

# ---------------------------------------------------------------------------
# CRC32C (Castagnoli), table-driven
# ---------------------------------------------------------------------------

_CRC32C_POLY = 0x82F63B78
_TABLE = []
for _i in range(256):
    _c = _i
    for _ in range(8):
        _c = (_c >> 1) ^ _CRC32C_POLY if _c & 1 else _c >> 1
    _TABLE.append(_c)


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = _TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _masked_crc(data: bytes) -> int:
    crc = crc32c(data)
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


# Lockstep batch CRC: the byte loop is sequential WITHIN a record but
# independent ACROSS records, so a batch of N frames runs as max_len
# masked numpy steps over N uint32 lanes (the md5np move applied to
# CRC). Records are processed longest-first so the active lane set is
# a shrinking PREFIX — a slice per step, never a boolean mask.
# Records longer than _BATCH_CRC_MAX would stretch the step count for
# the whole batch, so they take the scalar loop instead (rare in
# Example-sized frames; correctness identical either way).
_BATCH_CRC_MAX = 4096


def crc32c_batch(data, starts, lens):
    """CRC32C of N byte slices of ``data`` (numpy uint8 buffer) →
    uint32 array, bit-identical to ``crc32c`` per record.  ~20× the
    scalar loop on Example-sized frames (measured 105 → ~5 ns/byte
    at 2 k × 600 B)."""
    import numpy as np

    n = len(lens)
    tab = np.array(_TABLE, dtype=np.uint32)
    out = np.empty(n, dtype=np.uint32)
    big = lens > _BATCH_CRC_MAX
    if big.any():
        for i in np.nonzero(big)[0]:
            out[i] = crc32c(
                data[starts[i] : starts[i] + lens[i]].tobytes()
            )
    small = np.nonzero(~big)[0]
    if len(small):
        order = small[np.argsort(-lens[small], kind="stable")]
        s_o = starts[order].astype(np.int64)
        l_o = lens[order].astype(np.int64)
        crc = np.full(len(order), 0xFFFFFFFF, dtype=np.uint32)
        # active-lane count per byte position: lens sorted desc, so
        # lanes with len > i form a prefix
        asc = l_o[::-1]
        max_len = int(l_o[0]) if len(l_o) else 0
        ks = len(order) - np.searchsorted(
            asc, np.arange(max_len), side="right"
        )
        for i in range(max_len):
            k = ks[i]
            b = data[s_o[:k] + i]
            idx = (crc[:k] ^ b) & np.uint32(0xFF)
            crc[:k] = tab[idx] ^ (crc[:k] >> np.uint32(8))
        out[order] = crc ^ np.uint32(0xFFFFFFFF)
    return out


def masked_crc_batch(data, starts, lens):
    """Batch counterpart of ``_masked_crc``."""
    import numpy as np

    crc = crc32c_batch(data, starts, lens).astype(np.uint64)
    return (
        (((crc >> np.uint64(15)) | (crc << np.uint64(17)))
         + np.uint64(0xA282EAD8))
        & np.uint64(0xFFFFFFFF)
    ).astype(np.uint32)


# ---------------------------------------------------------------------------
# protobuf wire encoding for tf.train.Example
# ---------------------------------------------------------------------------


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _len_delim(field: int, payload: bytes) -> bytes:
    # tag (field number, wire type 2) | varint length | payload
    return _varint((field << 3) | 2) + _varint(len(payload)) + payload


def _bytes_list(values: list[bytes]) -> bytes:
    # BytesList { repeated bytes value = 1; }
    return b"".join(_len_delim(1, v) for v in values)


def _int64_list(values: list[int]) -> bytes:
    # Int64List { repeated int64 value = 1 [packed=true]; } — protobuf
    # writes no field at all for an empty packed list
    packed = b"".join(_varint(v & 0xFFFFFFFFFFFFFFFF) for v in values)
    return _len_delim(1, packed) if packed else b""


def _float_list(values: list[float]) -> bytes:
    # FloatList { repeated float value = 1 [packed=true]; }
    packed = b"".join(struct.pack("<f", v) for v in values)
    return _len_delim(1, packed) if packed else b""


# Feature kind → (its arm of the Feature oneof, the list encoder)
_KINDS = {
    "bytes": (1, _bytes_list),
    "float": (2, _float_list),
    "int64": (3, _int64_list),
}

# Spark column type → Feature kind, the mapping the
# spark-tensorflow-connector applies to a DataFrame schema; an array of
# one of these types is the list itself, a scalar a one-value list
_SPARK_KINDS = {
    **dict.fromkeys(("string", "binary"), "bytes"),
    **dict.fromkeys(("tinyint", "smallint", "int", "bigint"), "int64"),
    **dict.fromkeys(("float", "double"), "float"),
}


def encode_feature(kind: str, values: list) -> bytes:
    """Feature { oneof: BytesList=1, FloatList=2, Int64List=3 } — the
    dataset_util.py:21-38 constructors. ``kind`` is ``"bytes"``,
    ``"float"`` or ``"int64"``; floats are written as float32."""
    field, encode_list = _KINDS[kind]
    return _len_delim(field, encode_list(values))


def encode_example(features: dict[str, tuple[str, list]]) -> bytes:
    """Example { Features features = 1 }; Features { map<string,Feature>
    features = 1 }, from ``{name: (kind, values)}``. Map entries are
    encoded as repeated (key=1, value=2) submessages, sorted by key for
    deterministic output."""
    entries = b""
    for name in sorted(features):
        entry = _len_delim(1, name.encode("utf8")) + _len_delim(
            2, encode_feature(*features[name])
        )
        entries += _len_delim(1, entry)
    return _len_delim(1, entries)


def _read_varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    out = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated protobuf varint")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, pos
        shift += 7
        if shift > 63:
            raise ValueError("protobuf varint too long")


def _skip_field(data: bytes, pos: int, wire: int) -> int:
    if wire == 0:
        _, pos = _read_varint(data, pos)
        return pos
    if wire == 1:
        return pos + 8
    if wire == 2:
        ln, pos = _read_varint(data, pos)
        return pos + ln
    if wire == 5:
        return pos + 4
    raise ValueError(f"unsupported protobuf wire type {wire}")


def _decode_feature(data: bytes) -> list:
    """Inverse of ``encode_feature``: one Feature submessage → python
    list (bytes / int / float, per the oneof arm present)."""
    pos = 0
    values: list = []
    while pos < len(data):
        tag, pos = _read_varint(data, pos)
        field, wire = tag >> 3, tag & 7
        if wire != 2:
            pos = _skip_field(data, pos, wire)
            continue
        ln, pos = _read_varint(data, pos)
        body = data[pos:pos + ln]
        if len(body) != ln:
            raise ValueError("truncated Feature submessage")
        pos += ln
        i = 0
        while i < len(body):
            t, i = _read_varint(body, i)
            f, w = t >> 3, t & 7
            if field == 1 and f == 1 and w == 2:  # BytesList.value
                vl, i = _read_varint(body, i)
                values.append(body[i:i + vl])
                i += vl
            elif field == 2 and f == 1 and w == 2:  # FloatList packed
                pl, i = _read_varint(body, i)
                values.extend(
                    struct.unpack(f"<{pl // 4}f", body[i:i + pl])
                )
                i += pl
            elif field == 2 and f == 1 and w == 5:  # FloatList unpacked
                values.append(struct.unpack("<f", body[i:i + 4])[0])
                i += 4
            elif field == 3 and f == 1 and w == 2:  # Int64List packed
                pl, i = _read_varint(body, i)
                end = i + pl
                while i < end:
                    v, i = _read_varint(body, i)
                    # two's-complement back to signed int64
                    values.append(v - (1 << 64) if v >= (1 << 63) else v)
            elif field == 3 and f == 1 and w == 0:  # Int64List unpacked
                v, i = _read_varint(body, i)
                values.append(v - (1 << 64) if v >= (1 << 63) else v)
            else:
                i = _skip_field(body, i, w)
    return values


def decode_example(payload: bytes) -> dict[str, list]:
    """Inverse of ``encode_example``: tf.train.Example wire bytes →
    ``{feature_name: list}``. From-scratch varint walk (same layer as
    the encoder above); the read side of the TFRecord interchange a
    reference user already has on disk (images_to_tfrecord.py:228-231
    writes these via TF; this decodes them without it)."""
    pos = 0
    features: dict[str, list] = {}
    while pos < len(payload):
        tag, pos = _read_varint(payload, pos)
        field, wire = tag >> 3, tag & 7
        if field != 1 or wire != 2:  # Example.features
            pos = _skip_field(payload, pos, wire)
            continue
        ln, pos = _read_varint(payload, pos)
        fmsg = payload[pos:pos + ln]
        pos += ln
        i = 0
        while i < len(fmsg):
            t, i = _read_varint(fmsg, i)
            f, w = t >> 3, t & 7
            if f != 1 or w != 2:  # Features.feature map entry
                i = _skip_field(fmsg, i, w)
                continue
            el, i = _read_varint(fmsg, i)
            entry = fmsg[i:i + el]
            i += el
            j = 0
            name: str | None = None
            value: list = []
            while j < len(entry):
                et, j = _read_varint(entry, j)
                ef, ew = et >> 3, et & 7
                if ef == 1 and ew == 2:  # key
                    kl, j = _read_varint(entry, j)
                    name = entry[j:j + kl].decode("utf8")
                    j += kl
                elif ef == 2 and ew == 2:  # value (Feature)
                    vl, j = _read_varint(entry, j)
                    value = _decode_feature(entry[j:j + vl])
                    j += vl
                else:
                    j = _skip_field(entry, j, ew)
            if name is not None:
                features[name] = value
    return features


# ---------------------------------------------------------------------------
# TFRecord framing + partition writer
# ---------------------------------------------------------------------------


def frame_record(payload: bytes) -> bytes:
    header = struct.pack("<Q", len(payload))
    return (
        header
        + struct.pack("<I", _masked_crc(header))
        + payload
        + struct.pack("<I", _masked_crc(payload))
    )


class TFRecordCorrupt(ValueError):
    """Raised by ``iter_verified_frames``; the message names the shard
    path. ``kind`` is one of ``length crc`` / ``payload crc`` /
    ``truncated header`` / ``truncated length crc`` /
    ``truncated payload`` / ``truncated payload crc``; ``record`` is
    the FIRST offending record index for the two crc kinds, None for
    truncations."""

    kind: str
    record: int | None


def iter_verified_frames(path: str, with_payloads: bool = True,
                         max_chunk_records: int = 4096,
                         max_chunk_bytes: int = 16 << 20,
                         read_block: int = 8 << 20):
    """Stream ``(record_index, payload)`` from one shard with BOUNDED
    memory: frames parse incrementally from a sliding buffer (never
    the whole file — one task must not hold a whole shard), and CRCs
    verify through the lockstep batch kernel one chunk at a time; a
    chunk's payloads yield only after the whole chunk verifies.

    This is the single frame-walk shared by the sink-side readers and
    ``scan_tfrecords`` (the two parallel walkers it replaced had
    already drifted in error shape).

    Corruption always names the FIRST offending record: a flipped bit
    in a length field misframes every later parse, so on any apparent
    truncation the accumulated chunk is batch-verified FIRST (the
    corrupt header is in it, at a correctly-derived offset) and the
    current header is CRC-checked scalar-side before a truncation is
    reported. ``with_payloads=False`` skips the per-record byte copy
    for count-only callers."""
    import numpy as np

    def corrupt(kind: str, record: int | None = None) -> TFRecordCorrupt:
        if record is None:
            where = kind.replace("truncated ", "truncated TFRecord ")
            exc = TFRecordCorrupt(f"{where}: {path}")
        else:
            exc = TFRecordCorrupt(
                f"corrupt TFRecord {kind}: {path} record {record}"
            )
        exc.kind, exc.record = kind, record
        return exc

    with open(path, "rb") as f:
        buf = bytearray()
        pos = 0          # parse offset within buf
        idx = 0          # absolute index of the next frame
        spans: list[tuple[int, int]] = []   # payload (start, len)
        hcrcs: list[int] = []
        pcrcs: list[int] = []
        chunk_bytes = 0
        eof = False

        def _verified():
            """Batch-verify the accumulated chunk, return its
            (index, payload) pairs, reset chunk state."""
            nonlocal spans, hcrcs, pcrcs, chunk_bytes
            if not spans:
                return []
            data = np.frombuffer(buf, dtype=np.uint8)
            starts = np.array([s for s, _ in spans], dtype=np.int64)
            lens = np.array([ln for _, ln in spans], dtype=np.int64)
            first = idx - len(spans)
            got_h = masked_crc_batch(
                data, starts - np.int64(12),
                np.full(len(spans), 8, np.int64),
            )
            bad = np.nonzero(got_h != np.array(hcrcs, np.uint32))[0]
            if len(bad):
                raise corrupt("length crc", first + int(bad[0]))
            got_p = masked_crc_batch(data, starts, lens)
            bad = np.nonzero(got_p != np.array(pcrcs, np.uint32))[0]
            if len(bad):
                raise corrupt("payload crc", first + int(bad[0]))
            out = [
                (
                    first + k,
                    bytes(buf[s : s + ln]) if with_payloads else None,
                )
                for k, (s, ln) in enumerate(spans)
            ]
            spans, hcrcs, pcrcs, chunk_bytes = [], [], [], 0
            return out

        while True:
            avail = len(buf) - pos
            if avail < 12:
                if not eof:
                    block = f.read(read_block)
                    if block:
                        buf += block
                        continue
                    eof = True
                if avail == 0:
                    yield from _verified()
                    return
                yield from _verified()
                raise corrupt(
                    "truncated header" if avail < 8
                    else "truncated length crc"
                )
            length, hcrc = struct.unpack_from("<QI", buf, pos)
            if avail < 16 + length:
                # before buffering past the normal chunk size for one
                # frame, vet the 8-byte header scalar-side: a grown
                # corrupted length field would otherwise make this
                # loop swallow the rest of the shard into memory
                # (violating the bounded-memory contract) before the
                # corruption is finally reported at EOF. A GENUINE
                # giant record has a valid header CRC and still
                # buffers in full — that is its honest cost.
                if (
                    length > max_chunk_bytes
                    and _masked_crc(bytes(buf[pos : pos + 8])) != hcrc
                ):
                    yield from _verified()
                    raise corrupt("length crc", idx)
                if not eof:
                    block = f.read(read_block)
                    if block:
                        buf += block
                        continue
                    eof = True
                # at EOF the frame still does not fit: either this
                # header is corrupt, or the file is truncated
                yield from _verified()
                if _masked_crc(bytes(buf[pos : pos + 8])) != hcrc:
                    raise corrupt("length crc", idx)
                raise corrupt(
                    "truncated payload" if avail < 12 + length
                    else "truncated payload crc"
                )
            pcrcs.append(
                struct.unpack_from("<I", buf, pos + 12 + length)[0]
            )
            hcrcs.append(hcrc)
            spans.append((pos + 12, length))
            chunk_bytes += length
            pos += 16 + length
            idx += 1
            if (
                len(spans) >= max_chunk_records
                or chunk_bytes >= max_chunk_bytes
            ):
                yield from _verified()
                del buf[:pos]
                pos = 0


def count_tfrecords(path: str) -> int:
    """Count (and CRC-verify) the records in one shard file without
    materializing payload bytes. Runs on executors for distributed
    shard verification (see queries.rsna_pipeline_counts)."""
    return sum(1 for _ in iter_verified_frames(path, with_payloads=False))


def _frame_examples(chunk: list[bytes]):
    """Frame a chunk of encoded Example payloads: CRCs through the
    lockstep batch kernel, one framed byte blob per record."""
    import numpy as np

    data = np.frombuffer(b"".join(chunk), dtype=np.uint8)
    lens = np.array([len(p) for p in chunk], dtype=np.int64)
    starts = np.cumsum(lens) - lens
    pcrc = masked_crc_batch(data, starts, lens)
    headers = b"".join(struct.pack("<Q", int(ln)) for ln in lens)
    hbuf = np.frombuffer(headers, dtype=np.uint8)
    hcrc = masked_crc_batch(
        hbuf,
        np.arange(len(chunk), dtype=np.int64) * 8,
        np.full(len(chunk), 8, dtype=np.int64),
    )
    for i, p in enumerate(chunk):
        yield (
            headers[i * 8 : i * 8 + 8]
            + struct.pack("<I", int(hcrc[i]))
            + p
            + struct.pack("<I", int(pcrc[i]))
        )


def write_tfrecord_shards(df, out_dir: str, num_shards, by: str | None = None):
    """O33: write every row of ``df`` as one tf.train.Example, into one
    ``data-%05d-of-%05d.tfrecord`` file per shard (the reference's shard
    filename pattern, images_to_tfrecord.py:229).

    With ``by=None``, ``num_shards`` is an int, the files go straight
    into ``out_dir`` and the call returns the number of records written.
    With ``by`` a column name, ``num_shards`` maps each value of that
    column to its shard count (``{"train": 256, "val": 32}``), a row's
    file goes to ``out_dir/<value>/`` and the call returns
    ``{value: records written}``; the ``by`` column is not written. A
    NULL or unmapped ``by`` value fails the write. Every group gets all
    its shard files, empty ones included, and the counts are summed from
    the writer tasks' own counts, so callers need no counting job.

    Every other column is one feature: the column name is the feature
    key and the column's Spark type fixes the list kind, as in the
    spark-tensorflow-connector:

    ===========================================  ==========
    column type                                  Feature
    ===========================================  ==========
    ``string`` (written as UTF-8), ``binary``    BytesList
    ``tinyint``, ``smallint``, ``int``,          Int64List
    ``bigint``
    ``float``, ``double`` (written as float32)   FloatList
    ===========================================  ==========

    ``array<T>`` of one of these types is the list itself, a scalar a
    one-value list, so an empty array is an empty list of its column's
    kind. The kinds are read from the schema here, on the driver: a
    column of any other type raises ``TypeError`` naming it before any
    job runs (cast such a column to choose its kind). A NULL cell or
    array element fails the write with an error naming its column.

    One action writes every group. Both JVM↔Python crossings are Arrow
    (``mapInArrow``): encode receives columnar batches at the INPUT's
    parallelism, the framed byte blobs shuffle once as binary rows into
    the groups' shards laid end to end (the int form is the one-group
    case), and each writer task maps its partition id to its group and
    shard and appends its blobs to that file. Encoding at input
    parallelism (not inside the writers) keeps the CPU-heavy step
    decoupled from the file-count contract; the proto encode itself is
    per-record python, while the CRCs run through the lockstep numpy
    kernel over ~8k-record chunks."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType

    spec = []  # (column, kind, is_array), in column order
    for field in df.schema.fields:
        if field.name == by:
            continue
        t = field.dataType
        is_array = isinstance(t, ArrayType)
        kind = _SPARK_KINDS.get(
            (t.elementType if is_array else t).simpleString()
        )
        if kind is None:
            raise TypeError(
                f"column {field.name!r} has type {t.simpleString()}, "
                "which maps to no tf.train.Feature kind"
            )
        spec.append((field.name, kind, is_array))
    # (value, directory, first writer partition, shard count) per group;
    # the groups' shards lie end to end over the writer partitions
    groups = []
    n_writers = 0
    for value, n in (num_shards.items() if by else [(None, num_shards)]):
        if n < 1:
            raise ValueError(f"group {value!r} needs at least one shard")
        path = os.path.join(out_dir, str(value)) if by else out_dir
        os.makedirs(path, exist_ok=True)
        groups.append((value, path, n_writers, n))
        n_writers += n
    placement = {value: (first, n) for value, _, first, n in groups}

    def group_of(pid):
        return next(g for g in groups if g[2] <= pid < g[2] + g[3])

    def _encode_batches(batches):
        import pyarrow as pa

        def framed(chunk, placed):
            first, n = zip(*placed)
            return pa.record_batch(
                [pa.array(list(_frame_examples(chunk)), type=pa.binary()),
                 pa.array(first, pa.int32()), pa.array(n, pa.int32())],
                names=["blob", "first", "n"],
            )

        # accumulate encoded payloads across (possibly small) incoming
        # Arrow batches so the CRC kernel always sees full chunks
        chunk: list[bytes] = []
        placed: list[tuple[int, int]] = []
        chunk_bytes = 0
        for batch in batches:
            columns = []
            for name, kind, is_array in spec:
                col = batch.column(name)
                if col.null_count or (is_array and col.flatten().null_count):
                    raise ValueError(
                        f"column {name!r} holds a NULL, which a "
                        "tf.train.Feature cannot carry"
                    )
                if kind == "bytes":  # a string column's UTF-8 bytes
                    col = col.cast(
                        pa.list_(pa.binary()) if is_array else pa.binary()
                    )
                columns.append(col.to_pylist())
            keys = (batch.column(by).to_pylist() if by
                    else [None] * batch.num_rows)
            for key, values in zip(keys, zip(*columns)):
                if (by and key is None) or key not in placement:
                    raise ValueError(
                        f"column {by!r} holds {key!r}, which num_shards "
                        "gives no shard count"
                    )
                placed.append(placement[key])
                chunk.append(encode_example({
                    name: (kind, v if is_array else [v])
                    for (name, kind, is_array), v in zip(spec, values)
                }))
                chunk_bytes += len(chunk[-1])
                if len(chunk) >= 8192 or chunk_bytes >= (16 << 20):
                    yield framed(chunk, placed)
                    chunk, placed, chunk_bytes = [], [], 0
        if chunk:
            yield framed(chunk, placed)

    # shuffle the framed blobs into the groups' shards laid end to end,
    # a blob's shard within its group HASH-partitioned on its bytes
    # (the same pmod(murmur3) a repartition(n, xxhash64(blob)) computes):
    # content-keyed, so retried/speculated tasks reproduce the same
    # record→shard assignment (guide §2.5 — no rand()-derived keys), and
    # unlike a DataFrame round-robin repartition it pays no
    # sortBeforeRepartition local sort of the blobs. Distinct records
    # hash ~uniformly, so shards balance for real data (a degenerate
    # all-identical-records input would co-locate; acceptable).
    framed = df.mapInArrow(
        _encode_batches, "blob binary, first int, n int"
    ).repartitionById(
        n_writers, F.expr("first + pmod(hash(xxhash64(blob)), n)")
    )

    def _write_batches(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        _, path, first, n = group_of(pid)
        fname = os.path.join(
            path, f"data-{pid - first:05d}-of-{n:05d}.tfrecord"
        )
        written = 0
        # the file is created even for an EMPTY partition — an empty
        # shard is a valid TFRecord file and the -of-%05d contract
        # promises every group all its shard files
        with atomic_write(fname) as f:
            for batch in batches:
                for blob in batch.column(0):
                    f.write(blob.as_py())
                written += batch.num_rows
        yield pa.record_batch(
            [pa.array([pid], pa.int32()), pa.array([written], pa.int64())],
            names=["pid", "n_written"],
        )

    written = framed.mapInArrow(
        _write_batches, "pid int, n_written long"
    ).collect()
    # the explicit partition count is what keeps AQE from coalescing
    # the writer exchange, and the -of-%05d names depend on it
    if sorted(r.pid for r in written) != list(range(n_writers)):
        raise RuntimeError(
            f"{len(written)} TFRecord writer tasks reported, expected one "
            f"from each of {n_writers} partitions: {out_dir}"
        )
    counts = {value: 0 for value, _, _, _ in groups}
    for r in written:
        counts[group_of(r.pid)[0]] += r.n_written
    return counts if by else counts[None]
