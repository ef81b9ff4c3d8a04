"""Stdlib-only image codecs (O7 decode / O10 encode).

The reference pipeline decodes DICOM files and writes PNGs
(generate_images_from_dicom.py:48-51 decode, :80 imsave). This container
has neither pydicom nor PIL, and a 100 TB pipeline shouldn't need them
for the common cases anyway:

- **PNG**: the format is zlib + 4 structural chunks. ``encode_png_gray``
  / ``decode_png_gray`` implement 8-bit grayscale end-to-end with
  ``zlib`` + ``struct`` only — full filter support (types 0-4, incl.
  Paeth) on decode, filter-0 rows on encode (optimal-ratio filtering is
  a compression tweak, not a correctness one).

- **DICOM**: a Part-10 reader for monochrome little-endian files
  (explicit or implicit VR), single- or multi-frame. PixelData may be
  native, RLE Lossless, JPEG Baseline, JPEG Lossless, JPEG-LS or
  JPEG 2000; the JPEG family decodes through the from-scratch codecs in
  ``jpeg``, ``jpegls`` and ``jpeg2000``. Any other transfer syntax
  (HTJ2K, deflated, big endian) raises a ``ValueError`` naming it; the
  import-gated pydicom path in ``operators.multimodal`` covers those.
  One writer, ``_write_part10``, lays out every file the
  ``encode_dicom_*`` fixture and sink encoders emit.

Everything here is pure bytes→ndarray: safe inside Arrow batches on
executors, no filesystem, no global state.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from . import jpeg, jpeg2000, jpegls

# ---------------------------------------------------------------------------
# PNG (8-bit grayscale)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    crc = zlib.crc32(tag + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + tag + payload + struct.pack(">I", crc)


def encode_png_gray(arr: np.ndarray) -> bytes:
    """uint8 HxW array → PNG bytes (color type 0, bit depth 8)."""
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("encode_png_gray expects a 2-D uint8 array")
    h, w = arr.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    # filter byte 0 per scanline, then one zlib stream
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_gray(data: bytes) -> np.ndarray:
    """PNG bytes → uint8 HxW array. Greyscale/8-bit only; all five
    scanline filter types are unfiltered correctly, so PNGs from other
    encoders (which pick filters adaptively) decode too."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos < len(data):
        (ln,) = struct.unpack(">I", data[pos:pos + 4])
        tag = data[pos + 4:pos + 8]
        payload = data[pos + 8:pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, ctype, _comp, _filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8 or ctype != 0:
                raise ValueError("decode_png_gray: 8-bit grayscale only")
            if interlace:
                raise ValueError("decode_png_gray: no interlace support")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride = w + 1
    out = np.empty((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.int64)
    for y in range(h):
        row = raw[y * stride:(y + 1) * stride]
        ftype, line = row[0], np.frombuffer(row[1:], np.uint8).astype(np.int64)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(1, w):
                cur[x] = (cur[x] + cur[x - 1]) % 256
        elif ftype == 2:  # Up
            cur = (line + prev) % 256
        elif ftype == 3:  # Average
            cur = line.copy()
            cur[0] = (cur[0] + prev[0] // 2) % 256
            for x in range(1, w):
                cur[x] = (cur[x] + (cur[x - 1] + prev[x]) // 2) % 256
        elif ftype == 4:  # Paeth
            cur = line.copy()
            cur[0] = (cur[0] + _paeth(0, int(prev[0]), 0)) % 256
            for x in range(1, w):
                cur[x] = (
                    cur[x]
                    + _paeth(int(cur[x - 1]), int(prev[x]), int(prev[x - 1]))
                ) % 256
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


# ---------------------------------------------------------------------------
# DICOM reader (monochrome, little endian)
# ---------------------------------------------------------------------------

# VRs whose length field is 4 bytes after 2 bytes of padding
_LONG_VRS = {b"OB", b"OW", b"OF", b"SQ", b"UT", b"UN"}

_TAG_TRANSFER_SYNTAX = (0x0002, 0x0010)
_TAG_ROWS = (0x0028, 0x0010)
_TAG_COLS = (0x0028, 0x0011)
_TAG_BITS_ALLOC = (0x0028, 0x0100)
_TAG_PIXEL_REPR = (0x0028, 0x0103)
_TAG_NFRAMES = (0x0028, 0x0008)
_TAG_PIXEL_DATA = (0x7FE0, 0x0010)


# Transfer syntaxes the reader decodes: implicit and explicit little
# endian native, RLE Lossless (PackBits, PS3.5 Annex G), and the JPEG
# family below. Any other syntax (HTJ2K .4.201-203, deflated .1.99, big
# endian .2) raises a named error at its TransferSyntaxUID element
# instead of misparsing the PixelData; the pydicom path in
# operators.multimodal.decode_dicom reads those when the library is
# installed (the reference gets all of them through pydicom,
# generate_images_from_dicom.py:44-51).
_RLE_SYNTAX = "1.2.840.10008.1.2.5"
# JPEG Baseline (T.81 Process 1, 8-bit): functions/jpeg.py
_JPEG_BASELINE_SYNTAX = "1.2.840.10008.1.2.4.50"
# JPEG Lossless (T.81 process 14): .4.57 = any predictor, .4.70 =
# first-order prediction (SV1), the common archival syntaxes for CR/DX;
# both carry SOF3 streams that functions/jpeg.py decodes
_JPEG_LOSSLESS_SYNTAX = "1.2.840.10008.1.2.4.57"
_JPEG_LOSSLESS_SV1_SYNTAX = "1.2.840.10008.1.2.4.70"
# JPEG-LS (ITU-T T.87 / LOCO-I): .4.80 = lossless, .4.81 =
# near-lossless: functions/jpegls.py
_JPEGLS_LOSSLESS_SYNTAX = "1.2.840.10008.1.2.4.80"
_JPEGLS_NEAR_SYNTAX = "1.2.840.10008.1.2.4.81"
# JPEG 2000 (ISO 15444-1): .4.90 = lossless only (reversible 5/3),
# .4.91 = either transform; functions/jpeg2000.py decodes the reversible
# 5/3 and the irreversible 9/7 with scalar derived/expounded quantization
_J2K_LOSSLESS_SYNTAX = "1.2.840.10008.1.2.4.90"
_J2K_SYNTAX = "1.2.840.10008.1.2.4.91"
_STDLIB_SYNTAXES = frozenset(
    {"1.2.840.10008.1.2", "1.2.840.10008.1.2.1", _RLE_SYNTAX,
     _JPEG_BASELINE_SYNTAX, _JPEG_LOSSLESS_SYNTAX,
     _JPEG_LOSSLESS_SV1_SYNTAX, _JPEGLS_LOSSLESS_SYNTAX,
     _JPEGLS_NEAR_SYNTAX, _J2K_LOSSLESS_SYNTAX, _J2K_SYNTAX}
)
_ITEM_TAG = (0xFFFE, 0xE000)
_SEQ_DELIM_TAG = (0xFFFE, 0xE0DD)


def _packbits_decode(data: bytes, expected: int) -> np.ndarray:
    """PackBits (TIFF/DICOM-RLE) segment → exactly ``expected`` bytes.
    Control byte n: 0..127 copy the next n+1 literals; 129..255 repeat
    the next byte 257-n times; 128 is a no-op."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n and len(out) < expected:
        h = data[i]
        i += 1
        if h < 128:
            out += data[i : i + h + 1]
            i += h + 1
        elif h > 128:
            if i >= n:
                break
            out += bytes((data[i],)) * (257 - h)
            i += 1
    if len(out) < expected:
        raise ValueError("truncated RLE segment")
    return np.frombuffer(bytes(out[:expected]), np.uint8)


def _rle_decode_frame(frag: bytes, rows: int, cols: int,
                      dtype: np.dtype) -> np.ndarray:
    """One RLE Lossless frame (PS3.5 Annex G): 64-byte header of 16
    little-endian uint32s (segment count + up to 15 segment offsets),
    then PackBits segments — one per SAMPLE BYTE, most significant
    first. Reassembles the byte planes big-endian into ``dtype``."""
    if len(frag) < 64:
        raise ValueError("RLE frame shorter than its 64-byte header")
    words = struct.unpack("<16I", frag[:64])
    nseg, offsets = words[0], words[1 : 1 + words[0]]
    itemsize = np.dtype(dtype).itemsize
    if nseg != itemsize:
        raise ValueError(
            f"RLE frame has {nseg} segments for a {itemsize}-byte sample"
        )
    npix = rows * cols
    planes = []
    for i, off in enumerate(offsets):
        end = offsets[i + 1] if i + 1 < nseg else len(frag)
        planes.append(_packbits_decode(frag[off:end], npix))
    if itemsize == 1:
        return planes[0].astype(dtype).reshape(rows, cols)
    combined = (
        planes[0].astype(np.uint16) << 8 | planes[1].astype(np.uint16)
    )
    return combined.astype(np.uint16).view(dtype).reshape(rows, cols)


def _encapsulated_fragments(
    data: bytes, pos: int
) -> tuple[list[bytes], list[int], list[int], int]:
    """Parse encapsulated-PixelData items starting at ``pos``: a Basic
    Offset Table item, then fragment items, closed by the sequence
    delimiter. Returns (fragments, per-fragment item-header offsets
    relative to the first byte after the BOT item — the coordinate
    system PS3.5 A.4 defines for the table — BOT entries, position
    after the delimiter)."""
    frags: list[bytes] = []
    offsets: list[int] = []
    bot: list[int] = []
    first = True
    frag_base = None
    n = len(data)
    while pos + 8 <= n:
        group, elem = struct.unpack("<HH", data[pos : pos + 4])
        (ln,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        pos += 8
        if (group, elem) == _SEQ_DELIM_TAG:
            return frags, offsets, bot, pos
        if (group, elem) != _ITEM_TAG:
            raise ValueError("malformed encapsulated PixelData item")
        if first:
            first = False  # Basic Offset Table
            if ln:
                if ln % 4:
                    raise ValueError("malformed Basic Offset Table")
                bot = list(
                    struct.unpack(f"<{ln // 4}I", data[pos : pos + ln])
                )
            frag_base = pos + ln
        else:
            offsets.append(pos - 8 - frag_base)
            frags.append(data[pos : pos + ln])
        pos += ln
    raise ValueError("encapsulated PixelData missing sequence delimiter")


def _walk_part10(data: bytes) -> dict:
    """Part-10 element walk: preamble check, explicit-VR-LE elements
    (implicit-VR fallback), transfer-syntax gate, geometry tags,
    NumberOfFrames, and PixelData (native value or encapsulated
    fragments + offsets + Basic Offset Table)."""
    if len(data) < 132 or data[128:132] != b"DICM":
        raise ValueError("not a Part-10 DICOM file")
    pos = 132
    rows = cols = None
    bits, repr_ = 8, 0
    nframes = 1
    pixel = None
    encap_frags: list[bytes] | None = None
    offsets: list[int] = []
    bot: list[int] = []
    ts = "1.2.840.10008.1.2.1"
    n = len(data)
    while pos + 8 <= n:
        group, elem = struct.unpack("<HH", data[pos:pos + 4])
        vr = data[pos + 4:pos + 6]
        if vr.isalpha() and vr.isupper():
            if vr in _LONG_VRS:
                (ln,) = struct.unpack("<I", data[pos + 8:pos + 12])
                body = pos + 12
            else:
                (ln,) = struct.unpack("<H", data[pos + 6:pos + 8])
                body = pos + 8
        else:  # implicit VR fallback
            (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
            body = pos + 8
        tag = (group, elem)
        if ln == 0xFFFFFFFF:
            if tag == _TAG_PIXEL_DATA:
                # encapsulated PixelData (any unsupported compressed
                # syntax already raised at its TransferSyntaxUID
                # element, which precedes PixelData)
                encap_frags, offsets, bot, _ = _encapsulated_fragments(
                    data, body
                )
                break
            raise ValueError("undefined-length element unsupported")
        val = data[body:body + ln]
        if tag == _TAG_TRANSFER_SYNTAX:
            ts = val.rstrip(b"\x00 ").decode("ascii", "replace")
            if ts not in _STDLIB_SYNTAXES:
                raise ValueError(
                    f"transfer syntax {ts} unsupported by the stdlib "
                    "DICOM reader (compressed or non-little-endian "
                    "PixelData); install pydicom for full coverage"
                )
        elif tag == _TAG_ROWS:
            rows = struct.unpack("<H", val[:2])[0]
        elif tag == _TAG_COLS:
            cols = struct.unpack("<H", val[:2])[0]
        elif tag == _TAG_BITS_ALLOC:
            bits = struct.unpack("<H", val[:2])[0]
        elif tag == _TAG_PIXEL_REPR:
            repr_ = struct.unpack("<H", val[:2])[0]
        elif tag == _TAG_NFRAMES:
            # VR IS: ascii integer, possibly space-padded
            try:
                nframes = int(val.rstrip(b"\x00 ").decode("ascii") or "1")
            except ValueError:
                raise ValueError("malformed NumberOfFrames") from None
        elif tag == _TAG_PIXEL_DATA:
            pixel = val
            break
        pos = body + ln
    if rows is None or cols is None or (pixel is None and not encap_frags):
        raise ValueError("missing Rows/Columns/PixelData")
    if bits == 8:
        dt = np.uint8
    elif bits == 16:
        dt = np.int16 if repr_ == 1 else np.uint16
    else:
        raise ValueError(f"BitsAllocated={bits} unsupported")
    return {
        "ts": ts, "rows": rows, "cols": cols, "bits": bits,
        "repr": repr_, "nframes": max(1, nframes), "pixel": pixel,
        "frags": encap_frags, "offsets": offsets, "bot": bot,
        "dt": dt,
    }


def decode_dicom_gray(data: bytes) -> np.ndarray:
    """Part-10 bytes (128-byte preamble + 'DICM', little endian,
    monochrome) → HxW ndarray (uint8/uint16/int16 per BitsAllocated +
    PixelRepresentation).

    Native and RLE Lossless PixelData decode stdlib-side; the JPEG
    family through the from-scratch codecs (``functions/jpeg.py``,
    ``jpegls.py``, ``jpeg2000.py``); other syntaxes raise ValueError
    naming the syntax (see ``_STDLIB_SYNTAXES``). Single-frame only:
    the one-frame case of :func:`decode_dicom_frames`, and
    NumberOfFrames > 1 raises a named error pointing there."""
    return _decode_part10(data, single=True)[0]


def _decode_encap_frame(ts: str, frags: list[bytes], rows: int,
                        cols: int, bits: int, repr_: int,
                        dt: type) -> np.ndarray:
    """Decode ONE frame's encapsulated fragments for transfer syntax
    ``ts``. JPEG-family
    frames may span fragments (joined); an RLE frame is always exactly
    one fragment (PS3.5 Annex G), so RLE uses the first fragment."""
    stream = b"".join(frags)
    if ts == _JPEG_BASELINE_SYNTAX:
        # Baseline Process 1 is 8-bit only (T.81 SOF0 precision 8);
        # a 16-bit BitsAllocated here is inconsistent metadata —
        # reject it rather than silently upcasting 0..255 values
        if bits != 8:
            raise ValueError(
                f"JPEG Baseline DICOM declares BitsAllocated={bits}; "
                "baseline Process 1 is 8-bit only"
            )
        arr = jpeg.decode_jpeg_baseline(stream)
    elif ts in (_JPEG_LOSSLESS_SYNTAX, _JPEG_LOSSLESS_SV1_SYNTAX):
        arr = jpeg.decode_jpeg_lossless(stream)
    elif ts in (_JPEGLS_LOSSLESS_SYNTAX, _JPEGLS_NEAR_SYNTAX):
        arr, near = jpegls.decode_jpegls(stream, return_near=True)
        if ts == _JPEGLS_LOSSLESS_SYNTAX and near != 0:
            raise ValueError(
                "JPEG-LS lossless transfer syntax carries a "
                f"NEAR={near} (near-lossless) stream"
            )
    elif ts in (_J2K_LOSSLESS_SYNTAX, _J2K_SYNTAX):
        arr = jpeg2000.decode_j2k(stream)
    else:
        return _rle_decode_frame(frags[0], rows, cols, np.dtype(dt))
    if arr.ndim != 2:
        raise ValueError("multi-component frame in monochrome DICOM")
    if arr.shape != (rows, cols):
        raise ValueError(
            f"{ts} frame {arr.shape} != Rows/Cols {(rows, cols)}"
        )
    if arr.dtype.itemsize * 8 != bits:
        raise ValueError(
            f"{ts} sample width {arr.dtype.itemsize * 8} "
            f"!= BitsAllocated {bits}"
        )
    # signed pixels: reinterpret the two's-complement samples (same
    # buffer), never a value-changing astype
    return arr.view(dt) if repr_ == 1 else arr


def _frame_payloads(frags: list[bytes], offsets: list[int],
                    bot: list[int], nframes: int) -> list[list[bytes]]:
    """Group encapsulated fragments into per-frame lists (PS3.5 A.4):
    one fragment per frame when counts match, else by Basic Offset
    Table entries (each names the byte offset of its frame's first
    fragment item header); ambiguous fragmentation is a named error,
    never a guess. A single-frame file is never ambiguous — all
    fragments belong to the one frame regardless of BOT presence."""
    if nframes == 1:
        return [frags]
    if nframes == len(frags):
        return [[f] for f in frags]
    if bot and len(bot) == nframes:
        groups: list[list[bytes]] = []
        for k in range(nframes):
            lo = bot[k]
            hi = bot[k + 1] if k + 1 < nframes else None
            groups.append([
                f for off, f in zip(offsets, frags)
                if off >= lo and (hi is None or off < hi)
            ])
        if all(groups) and sum(len(g) for g in groups) == len(frags):
            return groups
    raise ValueError(
        f"cannot split {len(frags)} fragments into {nframes} frames "
        "(no usable Basic Offset Table)"
    )


def decode_dicom_frames(data: bytes) -> np.ndarray:
    """Multi-frame twin of :func:`decode_dicom_gray`: Part-10 bytes →
    (NumberOfFrames, Rows, Cols) ndarray. Single-frame files come back
    as shape (1, H, W). The reference meets multi-frame series (CT/MR)
    through pydicom's ``pixel_array`` (generate_images_from_dicom.py:
    48-51), which returns the same (F, H, W) shape."""
    return _decode_part10(data, single=False)


def _decode_part10(data: bytes, single: bool) -> np.ndarray:
    """The one Part-10 pixel read behind both readers → (F, H, W).
    Native PixelData is one contiguous buffer of F·H·W samples and must
    hold all of them; encapsulated syntaxes split fragments per frame
    via :func:`_frame_payloads` and decode each with
    :func:`_decode_encap_frame`. ``single`` rejects NumberOfFrames > 1
    before any pixel is read."""
    m = _walk_part10(data)
    ts, rows, cols = m["ts"], m["rows"], m["cols"]
    bits, repr_, dt = m["bits"], m["repr"], m["dt"]
    nframes = m["nframes"]
    if single and nframes > 1:
        raise ValueError(
            f"multi-frame DICOM (NumberOfFrames={nframes}); use "
            "decode_dicom_frames"
        )
    if m["frags"] is not None:
        groups = _frame_payloads(m["frags"], m["offsets"], m["bot"],
                                 nframes)
        return np.stack([
            _decode_encap_frame(ts, g, rows, cols, bits, repr_, dt)
            for g in groups
        ])
    need = nframes * rows * cols * np.dtype(dt).itemsize
    if len(m["pixel"]) < need:
        raise ValueError(
            f"native PixelData holds {len(m['pixel'])} bytes; "
            f"{nframes} frames of {rows}x{cols} need {need}"
        )
    arr = np.frombuffer(m["pixel"][:need], dtype=dt)
    return arr.reshape(nframes, rows, cols)


# ---------------------------------------------------------------------------
# DICOM writer (fixtures and sinks)
# ---------------------------------------------------------------------------


def _elem(group: int, elem: int, vr: bytes, val: bytes) -> bytes:
    if len(val) % 2:
        val += b"\x00"
    head = struct.pack("<HH", group, elem) + vr
    if vr in _LONG_VRS:
        return head + b"\x00\x00" + struct.pack("<I", len(val)) + val
    return head + struct.pack("<H", len(val)) + val


def _packbits_encode_row(row: bytes) -> bytes:
    """PackBits-encode one row (DICOM RLE encoders must not let runs
    cross row boundaries, PS3.5 G.3.1). Runs of >=3 identical bytes
    become replicate codes; everything else accumulates into literal
    chunks of <=128."""
    out = bytearray()
    i, n = 0, len(row)
    lit_start = 0

    def flush_literals(end: int) -> None:
        j = lit_start
        while j < end:
            chunk = row[j : min(end, j + 128)]
            out.append(len(chunk) - 1)
            out.extend(chunk)
            j += len(chunk)

    while i < n:
        run = 1
        while i + run < n and run < 128 and row[i + run] == row[i]:
            run += 1
        if run >= 3:
            flush_literals(i)
            out.append(257 - run)
            out.append(row[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_literals(n)
    return bytes(out)


def _rle_encode_frame(arr: np.ndarray) -> bytes:
    """One RLE Lossless frame (PS3.5 Annex G): 64-byte header + PackBits
    segments, one byte plane per sample byte (MSB plane first)."""
    h, w = arr.shape
    nseg = arr.dtype.itemsize
    # big-endian sample bytes → one byte plane per segment, MSB first
    raw = arr.astype(arr.dtype.newbyteorder(">")).tobytes()
    segs = []
    for k in range(nseg):
        plane = raw[k::nseg]
        seg = b"".join(
            _packbits_encode_row(plane[r * w : (r + 1) * w])
            for r in range(h)
        )
        segs.append(seg + b"\x00" * (len(seg) % 2))
    offsets = [64 + sum(len(s) for s in segs[:k]) for k in range(nseg)]
    header = struct.pack("<16I", nseg, *offsets, *[0] * (15 - nseg))
    return header + b"".join(segs)


# syntax name -> (transfer-syntax UID, frame encoder, whether an int16
# frame reaches the encoder as its two's-complement uint16 view). J2K
# carries signedness natively (its Ssiz sign bit then agrees with
# PixelRepresentation=1); the JPEG-Lossless and JPEG-LS encoders take
# unsigned samples, so the decoder's ``view(int16)`` restores the values.
# "raw" is native PixelData, no frame encoder.
_WRITERS = {
    "raw": ("1.2.840.10008.1.2.1", None, False),
    "rle": (_RLE_SYNTAX, _rle_encode_frame, False),
    "jpeg": (_JPEG_BASELINE_SYNTAX, jpeg.encode_jpeg_baseline_gray, False),
    "jpeg_lossless": (
        _JPEG_LOSSLESS_SV1_SYNTAX, jpeg.encode_jpeg_lossless_gray, True
    ),
    "jpegls": (_JPEGLS_LOSSLESS_SYNTAX, jpegls.encode_jpegls_gray, True),
    "jpegls_near": (_JPEGLS_NEAR_SYNTAX, jpegls.encode_jpegls_gray, True),
    "j2k": (_J2K_LOSSLESS_SYNTAX, jpeg2000.encode_j2k_gray, False),
    "j2k_lossy": (_J2K_SYNTAX, jpeg2000.encode_j2k_gray, False),
}
_MULTIFRAME_SYNTAXES = ("raw", "rle", "jpegls", "jpeg_lossless", "j2k")


def _write_part10(arr: np.ndarray, syntax: str, **opts) -> bytes:
    """HxW image or (F, H, W) stack → Part-10 explicit-VR-LE monochrome
    DICOM in ``syntax`` (a ``_WRITERS`` name; ``opts`` go to its frame
    encoder). Native PixelData is OB for 8-bit samples and OW above
    (PS3.5 A.2), even-padded like every value (§7.1.1). Encapsulated
    PixelData is one even-padded item per frame after a Basic Offset
    Table item: empty for an image, populated for a stack (each entry
    the offset of a frame's item header from the first byte after the
    table, PS3.5 A.4). A stack also carries NumberOfFrames."""
    if arr.dtype == np.uint8:
        bits, repr_ = 8, 0
    elif arr.dtype == np.uint16:
        bits, repr_ = 16, 0
    elif arr.dtype == np.int16:
        bits, repr_ = 16, 1
    else:
        raise ValueError(f"dtype {arr.dtype} unsupported")
    uid, encode, unsigned = _WRITERS[syntax]
    stack = arr.ndim == 3
    h, w = arr.shape[-2:]
    if encode is None:
        pixel = _elem(*_TAG_PIXEL_DATA, b"OB" if bits == 8 else b"OW",
                      np.ascontiguousarray(arr).tobytes())
    else:
        samples = arr.view(np.uint16) if unsigned and repr_ else arr
        frames = [
            encode(np.ascontiguousarray(f), **opts)
            for f in (samples if stack else [samples])
        ]
        frames = [f + b"\x00" * (len(f) % 2) for f in frames]
        starts = [sum(8 + len(f) for f in frames[:k])
                  for k in range(len(frames))]
        bot = struct.pack(f"<{len(starts)}I", *starts) if stack else b""
        pixel = (
            struct.pack("<HH", *_TAG_PIXEL_DATA) + b"OB\x00\x00"
            + struct.pack("<I", 0xFFFFFFFF)
            + b"".join(
                struct.pack("<HHI", *_ITEM_TAG, len(p)) + p
                for p in [bot, *frames]
            )
            + struct.pack("<HHI", *_SEQ_DELIM_TAG, 0)
        )
    meta_body = _elem(0x0002, 0x0001, b"OB", b"\x00\x01") + _elem(
        *_TAG_TRANSFER_SYNTAX, b"UI", uid.encode()
    )
    meta = _elem(0x0002, 0x0000, b"UL", struct.pack("<I", len(meta_body)))
    us = lambda v: struct.pack("<H", v)  # noqa: E731
    frames_elem = [(0x0008, b"IS", str(len(arr)).encode())] if stack else []
    module = [  # group 0028: the image-pixel module
        (0x0002, b"US", us(1)),  # SamplesPerPixel
        (0x0004, b"CS", b"MONOCHROME2"),  # PhotometricInterpretation
        *frames_elem,  # NumberOfFrames
        (0x0010, b"US", us(h)),  # Rows
        (0x0011, b"US", us(w)),  # Columns
        (0x0100, b"US", us(bits)),  # BitsAllocated
        (0x0101, b"US", us(bits)),  # BitsStored
        (0x0102, b"US", us(bits - 1)),  # HighBit
        (0x0103, b"US", us(repr_)),  # PixelRepresentation
    ]
    body = b"".join(_elem(0x0028, e, vr, v) for e, vr, v in module)
    return b"\x00" * 128 + b"DICM" + meta + meta_body + body + pixel


def encode_dicom_gray(arr: np.ndarray) -> bytes:
    """HxW uint8/uint16/int16 ndarray → Part-10 explicit-VR-LE DICOM with
    native PixelData. Inverse of ``decode_dicom_gray``; used for fixtures
    and as the DICOM sink counterpart of the PNG sink."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_gray expects a 2-D array")
    return _write_part10(arr, "raw")


def encode_dicom_rle(arr: np.ndarray) -> bytes:
    """HxW ndarray → Part-10 RLE Lossless (1.2.840.10008.1.2.5) DICOM.
    Roundtrips exactly through ``decode_dicom_gray``."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_rle expects a 2-D array")
    return _write_part10(arr, "rle")


def encode_dicom_jpeg(arr: np.ndarray, quality: int = 92) -> bytes:
    """HxW uint8 ndarray → Part-10 JPEG Baseline Process 1
    (1.2.840.10008.1.2.4.50) DICOM. Lossy: roundtrips through
    ``decode_dicom_gray`` to a pixel tolerance, which the tests assert
    (the reference gets this class of input through pydicom,
    generate_images_from_dicom.py:44-51)."""
    if arr.ndim != 2 or arr.dtype != np.uint8:
        raise ValueError("encode_dicom_jpeg expects HxW uint8 "
                         "(baseline JPEG is 8-bit)")
    return _write_part10(arr, "jpeg", quality=quality)


def encode_dicom_jpeg_lossless(arr: np.ndarray) -> bytes:
    """HxW uint8/uint16/int16 ndarray → Part-10 JPEG Lossless SV1
    (1.2.840.10008.1.2.4.70) DICOM, the archival CR/DX syntax.
    Roundtrips exactly through ``decode_dicom_gray``."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_jpeg_lossless expects HxW")
    return _write_part10(arr, "jpeg_lossless")


def encode_dicom_jpegls(arr: np.ndarray, near: int = 0) -> bytes:
    """HxW uint8/uint16/int16 ndarray → Part-10 JPEG-LS DICOM: transfer
    syntax 1.2.840.10008.1.2.4.80 (lossless) when ``near=0``, else .4.81
    (near-lossless, |err| <= near)."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_jpegls expects HxW")
    return _write_part10(arr, "jpegls_near" if near else "jpegls", near=near)


def encode_dicom_j2k(arr: np.ndarray) -> bytes:
    """HxW uint8/uint16/int16 ndarray → Part-10 JPEG 2000 Lossless
    (1.2.840.10008.1.2.4.90) DICOM, reversible 5/3 with two
    decomposition levels. Roundtrips exactly through
    ``decode_dicom_gray``."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_j2k expects HxW")
    return _write_part10(arr, "j2k")


def encode_dicom_j2k_lossy(arr: np.ndarray,
                           delta: float = 1.0 / 256.0) -> bytes:
    """HxW uint8/uint16/int16 ndarray → Part-10 JPEG 2000
    (1.2.840.10008.1.2.4.91) DICOM, irreversible 9/7: the common lossy
    archival syntax. Roundtrips through ``decode_dicom_gray`` with
    |out − in| ≲ delta · 2^prec per sample (asserted in tests)."""
    if arr.ndim != 2:
        raise ValueError("encode_dicom_j2k_lossy expects HxW")
    return _write_part10(arr, "j2k_lossy", delta=delta)


def encode_dicom_multiframe(arr: np.ndarray, syntax: str = "j2k") -> bytes:
    """(F, H, W) uint8/uint16/int16 stack → Part-10 multi-frame DICOM.
    ``syntax``: 'raw' (native PixelData, one contiguous buffer), 'rle',
    'jpegls', 'jpeg_lossless' or 'j2k' (encapsulated, one fragment per
    frame, Basic Offset Table populated). Inverse of
    :func:`decode_dicom_frames`; all listed syntaxes are lossless so
    the roundtrip is exact array equality."""
    if arr.ndim != 3 or arr.shape[0] < 1:
        raise ValueError("encode_dicom_multiframe expects (F, H, W)")
    if syntax not in _MULTIFRAME_SYNTAXES:
        raise ValueError(f"syntax {syntax!r} unsupported")
    return _write_part10(arr, syntax)
