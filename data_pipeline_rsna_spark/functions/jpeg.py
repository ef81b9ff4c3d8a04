"""JPEG codecs (ITU-T T.81) — pure stdlib + numpy, no third-party
image library: Baseline Process 1 (sequential DCT, 8-bit, lossy) and
Lossless Process 14 (SOF3 predictive, 2-16 bit, exact).

Why this exists: the reference pipeline decodes whatever pydicom
handles (``/root/reference/generate_images_from_dicom.py:44-51``),
which includes JPEG-compressed DICOM transfer syntaxes. The engine's
stdlib DICOM reader (``codecs.decode_dicom_gray``) covered explicit-VR
little-endian and RLE Lossless; this module closes the most common
compressed syntax, JPEG Baseline Process 1 (1.2.840.10008.1.2.4.50),
AND the common archival CR/DX syntaxes, JPEG Lossless
(1.2.840.10008.1.2.4.57 / .4.70 SV1), so compressed monochrome DICOMs
decode in-container with zero optional dependencies.

Decoder scope (the full baseline feature set):
  - multi-segment DQT / DHT, byte stuffing (FF 00), fill bytes
  - SOF0 with any component count and sampling factors h,v ∈ {1,2,4}
    (grayscale 4:4:4, YCbCr 4:2:0/4:2:2 all walk the same MCU loop)
  - restart intervals (DRI + RSTn resync, DC predictors reset)
  - returns HxW uint8 for 1 component, HxWxC uint8 otherwise
    (component planes upsampled to full resolution; no color-space
    conversion — DICOM monochrome never needs one, and callers that
    want RGB can apply the JFIF YCbCr matrix to the returned planes)

Encoder scope: single-component (grayscale) baseline, 4:4:4, the
Annex K example quantization + Huffman tables — enough to produce
real compressed fixtures for roundtrip tests and JPEG-DICOM synthesis
(``encode_dicom_jpeg`` in codecs.py). JPEG is lossy: roundtrip
accuracy is asserted in tests as a pixel tolerance, not bit equality.

Performance note: entropy decode is per-bit Python and meant for the
Arrow-batched multimodal UDF path where images are decoded per batch;
the hot path at scale is the same shape as the other codecs here —
CPU-parallel across scan partitions, no shuffle.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# shared tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K.1 luminance quantization table (natural row order)
QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int64)

# Annex K.3 luminance Huffman tables: (bits[1..16], huffval)
DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_LUMA_VALS = list(range(12))
AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
]


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II basis: spatial = D.T @ coeff @ D."""
    k = np.arange(8)
    d = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    d *= np.sqrt(2.0 / 8.0)
    d[0, :] *= 1.0 / np.sqrt(2.0)
    return d


_DCT = _dct_matrix()


def _huff_decode_table(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    """(code_length, code) → symbol, per T.81 C.2 canonical assignment."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, code_length)."""
    return {
        sym: (code, length)
        for (length, code), sym in _huff_decode_table(bits, vals).items()
    }


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map t-bit magnitude to signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


class _BitReader:
    """MSB-first bit reader over entropy-coded data with FF00 byte
    stuffing removed on the fly; stops at any real marker."""

    __slots__ = ("data", "pos", "acc", "nbits", "marker")

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG (entropy data ends early)")
        b = d[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(d):
                raise ValueError("truncated JPEG (entropy data ends early)")
            nxt = d[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:  # a real marker terminates the entropy segment
                self.marker = nxt
                self.acc = (self.acc << 8) & 0xFFFFFFFF  # pad with zeros
                self.nbits += 8
                return
        else:
            self.pos += 1
        self.acc = ((self.acc << 8) | b) & 0xFFFFFFFF
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_to_marker(self) -> int:
        """Skip to the next marker (for RSTn resync). Returns marker."""
        self.acc = 0
        self.nbits = 0
        self.marker = None
        d = self.data
        p = self.pos
        n = len(d)
        while p + 1 < n and (d[p] != 0xFF or d[p + 1] == 0x00):
            p += 1
        # T.81 B.1.1.2: fill bytes — repeated 0xFF collapse to one marker
        while p + 1 < n and d[p + 1] == 0xFF:
            p += 1
        if p + 1 >= n:
            raise ValueError("truncated JPEG (no restart marker found)")
        self.pos = p + 2
        return d[p + 1]


def _decode_huff(r: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | r.read_bit()
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid JPEG Huffman code")


# ---------------------------------------------------------------------------
# marker segments (T.81 B.1-B.2; T.87 JPEG-LS reuses the same syntax)
# ---------------------------------------------------------------------------

SOI, EOI, SOS, DHT, DQT, DRI = 0xD8, 0xD9, 0xDA, 0xC4, 0xDB, 0xDD
# SOF0-SOF15 minus DHT (C4), JPG (C8) and DAC (CC)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}
# markers without a length field: TEM and RST0-7
_STANDALONE = frozenset({0x01, *range(0xD0, 0xD8)})


def read_segments(data: bytes,
                  codec: str = "JPEG") -> tuple[list[tuple[int, bytes]], int]:
    """Walk the marker segments of a stream from SOI up to and
    including SOS: ``([(marker, body), ...], scan_start)`` with SOS last
    and ``scan_start`` the offset of its entropy-coded data. Fill bytes
    (B.1.1.2) are skipped; TEM and RSTn come back with an empty body.
    A missing SOI, a length that runs past the data, or a stream that
    ends before SOS raises a ValueError naming ``codec``."""
    n = len(data)
    if n < 2 or data[0] != 0xFF or data[1] != SOI:
        raise ValueError(f"not a {codec} stream (missing SOI)")
    segs: list[tuple[int, bytes]] = []
    pos = 2
    while pos + 1 < n:
        if data[pos] != 0xFF:
            raise ValueError(f"{codec} marker expected")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte
            pos += 1
            continue
        pos += 2
        if marker == EOI:
            break
        if marker in _STANDALONE:
            segs.append((marker, b""))
            continue
        end = pos + int.from_bytes(data[pos:pos + 2], "big")
        if not pos + 2 <= end <= n:
            raise ValueError(
                f"truncated {codec} stream (segment length out of bounds)"
            )
        segs.append((marker, data[pos + 2:end]))
        if marker == SOS:
            return segs, end
        pos = end
    raise ValueError(f"{codec} has no SOS segment")


def write_segments(segments: list[tuple[int, bytes]], entropy: bytes) -> bytes:
    """SOI, each ``(marker, body)`` as a length-prefixed segment (the
    last one SOS), the entropy-coded data, EOI: the one stream layout
    the T.81 and T.87 encoders here emit."""
    return b"\xFF\xD8" + b"".join(
        struct.pack(">BBH", 0xFF, m, len(body) + 2) + body
        for m, body in segments
    ) + entropy + b"\xFF\xD9"


def parse_sof(seg: bytes, codec: str = "JPEG"
              ) -> tuple[int, int, int, list[tuple[int, int, int, int]]]:
    """SOFn body → ``(precision, height, width, [(id, h, v, tq)])``;
    the component count must fit the segment and the sampling factors
    lie in 1..4 (B.2.2)."""
    nc = seg[5] if len(seg) > 5 else 0
    if nc == 0 or len(seg) < 6 + 3 * nc:
        raise ValueError(f"malformed {codec} SOF segment")
    comps = [
        (seg[6 + 3 * c], seg[7 + 3 * c] >> 4, seg[7 + 3 * c] & 0x0F,
         seg[8 + 3 * c])
        for c in range(nc)
    ]
    if not all(1 <= hs <= 4 and 1 <= vs <= 4 for _, hs, vs, _ in comps):
        raise ValueError(f"{codec} sampling factor outside 1..4")
    h, w = struct.unpack(">HH", seg[1:5])
    return seg[0], h, w, comps


def parse_sos(seg: bytes, codec: str = "JPEG"
              ) -> tuple[list[tuple[int, int, int]], int, int, int]:
    """SOS body → ``([(id, td, ta)], Ss, Se, AhAl)``; the component
    count must fit the segment (B.2.3). JPEG-LS carries NEAR in Ss and
    ILV in Se."""
    ns = seg[0] if seg else 0
    if ns == 0 or len(seg) < 4 + 2 * ns:
        raise ValueError(f"malformed {codec} SOS segment")
    scan = [(seg[1 + 2 * c], seg[2 + 2 * c] >> 4, seg[2 + 2 * c] & 0x0F)
            for c in range(ns)]
    return scan, seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]


def _read_header(segs: list[tuple[int, bytes]], sof: int):
    """The segments both T.81 decoders read: DHT, DRI, the frame (SOF
    ``sof``, or SOF1 alongside SOF0; any other SOFn is a named error)
    and SOS, whose components must be the frame's and whose Huffman
    tables must be defined. Returns ``(frame, scan, Ss, AhAl,
    restart_interval)`` with ``scan = [(id, dc_table, ac_table)]``."""
    htabs: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    restart_interval = 0
    frame = None
    lossless = sof == 0xC3
    for marker, seg in segs[:-1]:
        if marker == DHT:
            i = 0
            while i < len(seg):
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17:i + 17 + nv])
                if len(bits) < 16 or len(vals) < nv:
                    raise ValueError("truncated JPEG DHT")
                htabs[(seg[i] >> 4, seg[i] & 0x0F)] = _huff_decode_table(
                    bits, vals
                )
                i += 17 + nv
        elif marker == DRI:
            if len(seg) < 2:
                raise ValueError("truncated JPEG DRI")
            restart_interval = (seg[0] << 8) | seg[1]
        elif marker == sof or (marker == 0xC1 and not lossless):
            frame = parse_sof(seg)
        elif marker in _SOF_MARKERS:
            k = marker - 0xC0
            if lossless:
                raise ValueError(f"JPEG SOF{k} is not lossless process 14; "
                                 "use decode_jpeg_baseline for SOF0/1")
            if k == 3:
                raise ValueError("JPEG SOF3 is lossless process 14; use "
                                 "decode_jpeg_lossless")
            raise ValueError(f"JPEG SOF{k} (non-baseline: progressive/"
                             "hierarchical/arithmetic) unsupported")
    if frame is None:
        raise ValueError("JPEG SOS before SOF")
    scan, ss, _se, ahal = parse_sos(segs[-1][1])
    if sorted(c[0] for c in scan) != sorted(c[0] for c in frame[3]):
        raise ValueError("JPEG scan/frame component mismatch")
    tables = []
    for cs, td, ta in scan:
        dc, ac = htabs.get((0, td)), htabs.get((1, ta))
        if dc is None or (ac is None and not lossless):
            raise ValueError(f"JPEG scan component {cs} uses an undefined "
                             "DHT")
        tables.append((cs, dc, ac))
    return frame, tables, ss, ahal, restart_interval


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


def decode_jpeg_baseline(data: bytes) -> np.ndarray:
    """Decode a baseline sequential-DCT 8-bit JPEG. Returns HxW uint8
    for single-component images, HxWxC uint8 otherwise (planes
    upsampled to full resolution, no color-space conversion)."""
    segs, scan_pos = read_segments(data)
    qtabs: dict[int, np.ndarray] = {}
    for marker, seg in segs:
        if marker != DQT:
            continue
        i = 0
        while i < len(seg):
            pq, tq = seg[i] >> 4, seg[i] & 0x0F
            size = 128 if pq else 64
            if i + 1 + size > len(seg):
                raise ValueError("truncated JPEG DQT")
            tab = np.frombuffer(seg[i + 1:i + 1 + size],
                                dtype=">u2" if pq else np.uint8)
            i += 1 + size
            q = np.zeros(64, dtype=np.int64)
            q[ZIGZAG] = tab  # stored in zigzag order
            qtabs[tq] = q.reshape(8, 8)
    frame, scan, _ss, _ahal, restart_interval = _read_header(segs, 0xC0)
    prec, h, w, comps = frame
    if prec != 8:
        raise ValueError(f"JPEG precision {prec} unsupported "
                         "(baseline is 8-bit)")
    for cid, _hs, _vs, tq in comps:
        if tq not in qtabs:
            raise ValueError(f"JPEG component {cid} uses an undefined DQT")
    return _decode_scan(data, scan_pos, (h, w, comps), scan, qtabs,
                        restart_interval)


def _decode_scan(data, pos, frame, scan, qtabs, restart_interval):
    h, w, comps = frame
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    by_id = {c[0]: c for c in comps}
    # per-scan component state in scan order
    state = []
    planes: dict[int, np.ndarray] = {}
    for cs, dc, ac in scan:
        cid, hs, vs, tq = by_id[cs]
        planes[cid] = np.zeros((mcuy * vs * 8, mcux * hs * 8), dtype=np.int64)
        state.append({
            "cid": cid, "hs": hs, "vs": vs,
            "q": qtabs[tq], "dc": dc, "ac": ac, "pred": 0,
        })
    r = _BitReader(data, pos)
    coef = np.zeros(64, dtype=np.int64)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and (
                mcu_count % restart_interval == 0
            ):
                m = r.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError("expected JPEG restart marker")
                for st in state:
                    st["pred"] = 0
            for st in state:
                hs, vs = st["hs"], st["vs"]
                for byy in range(vs):
                    for bxx in range(hs):
                        coef[:] = 0
                        t = _decode_huff(r, st["dc"])
                        if t > 11:  # 8-bit DCT: DC categories 0..11
                            raise ValueError(f"JPEG DC category {t} > 11")
                        st["pred"] += _extend(r.read_bits(t), t)
                        coef[0] = st["pred"]
                        k = 1
                        while k < 64:
                            rs = _decode_huff(r, st["ac"])
                            rr, ss = rs >> 4, rs & 0x0F
                            if ss == 0:
                                if rr == 15:  # ZRL
                                    k += 16
                                    continue
                                break  # EOB
                            k += rr
                            if k > 63 or ss > 10:  # AC categories 1..10
                                raise ValueError("JPEG AC run or category "
                                                 "overflow")
                            coef[ZIGZAG[k]] = _extend(r.read_bits(ss), ss)
                            k += 1
                        block = (coef.reshape(8, 8) * st["q"]).astype(float)
                        spatial = _DCT.T @ block @ _DCT
                        y0 = (my * vs + byy) * 8
                        x0 = (mx * hs + bxx) * 8
                        planes[st["cid"]][y0:y0 + 8, x0:x0 + 8] = (
                            np.round(spatial).astype(np.int64) + 128
                        )
            mcu_count += 1
    out = []
    for cid, hs, vs, _tq in comps:
        p = np.clip(planes[cid], 0, 255).astype(np.uint8)
        if hs < hmax or vs < vmax:  # nearest upsample to full grid
            p = np.repeat(np.repeat(p, vmax // vs, axis=0), hmax // hs, axis=1)
        out.append(p[:h, :w])
    if len(out) == 1:
        return out[0]
    return np.stack(out, axis=-1)


# ---------------------------------------------------------------------------
# encoder (grayscale baseline, Annex K tables)
# ---------------------------------------------------------------------------


class _BitWriter:
    __slots__ = ("buf", "acc", "nbits", "rst")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0
        self.rst = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)  # byte stuffing

    def write_value(self, tab: dict[int, tuple[int, int]], run: int,
                    v: int) -> None:
        """Huffman code of symbol ``run | SSSS`` then the SSSS low bits
        of ``v`` (one's complement when negative, T.81 F.1.2.1)."""
        s = abs(v).bit_length()
        self.write(*tab[run | s])
        if s:
            self.write(v if v >= 0 else v + (1 << s) - 1, s)

    def pad(self) -> None:
        """Pad to a byte boundary with 1-bits (T.81 F.1.2.3)."""
        if self.nbits:
            n = 8 - self.nbits
            self.write((1 << n) - 1, n)

    def restart(self) -> None:
        """Close the entropy segment with the next RSTn marker."""
        self.pad()
        self.buf += bytes([0xFF, 0xD0 + (self.rst & 7)])
        self.rst += 1

    def flush(self) -> bytes:
        self.pad()
        return bytes(self.buf)


def _dri(restart_interval: int) -> list[tuple[int, bytes]]:
    if not restart_interval:
        return []
    return [(DRI, struct.pack(">H", restart_interval))]


def gray_sof(prec: int, h: int, w: int) -> bytes:
    """SOF body for one component, id 1, 1x1 sampling, table 0."""
    return struct.pack(">BHHB", prec, h, w, 1) + bytes([1, 0x11, 0])


def encode_jpeg_baseline_gray(
    arr: np.ndarray, quality: int = 90, restart_interval: int = 0
) -> bytes:
    """Encode an HxW uint8 array as a single-component baseline JPEG
    using the Annex K example tables (quantization scaled by the
    standard IJG quality mapping). ``restart_interval`` > 0 emits DRI
    and RSTn markers every that many MCUs (exercises the decoder's
    resync path; also what a parallel encoder would emit)."""
    if arr.dtype != np.uint8 or arr.ndim != 2:
        raise ValueError("encoder expects HxW uint8")
    h, w = arr.shape
    quality = min(100, max(1, quality))
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    q = np.clip((QUANT_LUMA * scale + 50) // 100, 1, 255).astype(np.int64)
    qm = q.reshape(8, 8)

    dc_tab = _huff_encode_table(DC_LUMA_BITS, DC_LUMA_VALS)
    ac_tab = _huff_encode_table(AC_LUMA_BITS, AC_LUMA_VALS)

    by = -(-h // 8)
    bx = -(-w // 8)
    padded = np.empty((by * 8, bx * 8), dtype=float)
    padded[:h, :w] = arr
    padded[h:, :w] = arr[h - 1:h, :]  # edge-replicate padding
    padded[:, w:] = padded[:, w - 1:w]
    padded -= 128.0

    wtr = _BitWriter()
    pred = 0
    mcu_i = 0
    for yb in range(by):
        for xb in range(bx):
            if restart_interval and mcu_i and mcu_i % restart_interval == 0:
                wtr.restart()
                pred = 0
            mcu_i += 1
            block = padded[yb * 8:yb * 8 + 8, xb * 8:xb * 8 + 8]
            coefs = _DCT @ block @ _DCT.T
            qz = np.round(coefs / qm).astype(np.int64).reshape(64)
            zz = qz[ZIGZAG]
            wtr.write_value(dc_tab, 0, int(zz[0]) - pred)
            pred = int(zz[0])
            run = 0
            for k in range(1, 64):
                v = int(zz[k])
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    wtr.write(*ac_tab[0xF0])  # ZRL
                    run -= 16
                wtr.write_value(ac_tab, run << 4, v)
                run = 0
            if run:
                wtr.write(*ac_tab[0x00])  # EOB

    # DQT stores the table in zigzag order
    dqt = bytes([0x00]) + bytes(int(q[ZIGZAG[i]]) for i in range(64))
    return write_segments([
        (DQT, dqt),
        (0xC0, gray_sof(8, h, w)),
        (DHT, bytes([0x00]) + bytes(DC_LUMA_BITS) + bytes(DC_LUMA_VALS)),
        (DHT, bytes([0x10]) + bytes(AC_LUMA_BITS) + bytes(AC_LUMA_VALS)),
        *_dri(restart_interval),
        (SOS, bytes([1, 1, 0x00, 0, 63, 0])),
    ], wtr.flush())


# ---------------------------------------------------------------------------
# lossless JPEG (ITU-T T.81 process 14 — SOF3 predictive, Huffman)
# ---------------------------------------------------------------------------
#
# The archival CR/DX transfer syntaxes a real RSNA-shaped corpus hits:
# 1.2.840.10008.1.2.4.57 (Process 14) and .4.70 (Process 14,
# first-order prediction / SV1) both carry SOF3 streams. Lossless mode
# has no DCT, no quantization and no subsampling: each sample is
# predicted from decoded neighbors (T.81 H.1.2.1 predictors 1-7), the
# difference is Huffman-coded with a DC-style category + magnitude-bit
# code (category 16 = the bitless 32768 special), and reconstruction is
# exact modulo 2^16 — so decode must equal the source bit-for-bit,
# which the tests assert as strict equality (stronger than the lossy
# baseline's tolerance band).
#
# Same per-sample-Python performance contract as the baseline entropy
# decoder (module docstring): parallel ACROSS images via the
# Arrow-batched scan, pydicom/native preferred at 100 TB of compressed
# DICOMs.

# canonical 17-symbol table for diff categories 0..16: three 2-bit
# codes then one symbol per length 3..16 (Kraft sum < 1, so the
# all-ones max-length code stays unused as T.81 C.2 requires)
LOSSLESS_DC_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1]
LOSSLESS_DC_VALS = list(range(17))


def _predict(recon, y: int, x: int, sel: int, default: int) -> int:
    """T.81 H.1.2.1: neighbor prediction with the first-line /
    first-column fallbacks. ``recon`` is the per-component 2-D int
    array being filled in raster order."""
    if y == 0:
        return default if x == 0 else int(recon[0, x - 1])
    if x == 0:
        return int(recon[y - 1, 0])
    ra = int(recon[y, x - 1])
    rb = int(recon[y - 1, x])
    rc = int(recon[y - 1, x - 1])
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    return (ra + rb) >> 1  # 7; callers check 1..7


def decode_jpeg_lossless(data: bytes) -> np.ndarray:
    """Decode a lossless (SOF3, process 14) JPEG. Returns HxW uint8
    (precision <= 8) or uint16 (9..16); HxWxC for multi-component
    streams (1x1 sampling only — DICOM monochrome never interleaves).
    Supports predictors 1-7, point transform, and restart intervals
    (predictors reset to the scan-start state after each RSTn)."""
    segs, scan_pos = read_segments(data)
    frame, scan, sel, ahal, restart_interval = _read_header(segs, 0xC3)
    prec, h, w, comps = frame
    if not 2 <= prec <= 16:
        raise ValueError(f"JPEG lossless precision {prec} invalid")
    if any((hs, vs) != (1, 1) for _, hs, vs, _ in comps):
        raise ValueError("JPEG lossless with subsampling unsupported")
    pt = ahal & 0x0F  # Al = point transform
    if not 1 <= sel <= 7 or pt >= prec:
        raise ValueError(f"JPEG lossless predictor {sel} / point "
                         f"transform {pt} invalid")
    default = 1 << (prec - pt - 1)
    planes = {cs: np.zeros((h, w), dtype=np.int64) for cs, _, _ in scan}
    r = _BitReader(data, scan_pos)
    mcu = 0
    fresh = {cs: True for cs, _, _ in scan}  # scan-start / post-restart
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                m = r.align_to_marker()
                if not (0xD0 <= m <= 0xD7):
                    raise ValueError("expected JPEG restart marker")
                for cs in fresh:
                    fresh[cs] = True
            for cs, dc, _ac in scan:
                t = _decode_huff(r, dc)
                if t > 16:
                    raise ValueError(f"JPEG lossless category {t} > 16")
                # T.81 H.1.2.2: category 16 carries no bits
                diff = 32768 if t == 16 else _extend(r.read_bits(t), t)
                if fresh[cs]:
                    pred = default
                    fresh[cs] = False
                else:
                    pred = _predict(planes[cs], y, x, sel, default)
                planes[cs][y, x] = (pred + diff) & 0xFFFF
            mcu += 1
    dt = np.uint8 if prec <= 8 else np.uint16
    # undo the point transform's downshift
    out = [(planes[c[0]] << pt).astype(dt) for c in comps]
    return out[0] if len(out) == 1 else np.stack(out, axis=-1)


def encode_jpeg_lossless_gray(
    arr: np.ndarray,
    predictor: int = 1,
    restart_interval: int = 0,
) -> bytes:
    """Encode an HxW uint8/uint16 array as a single-component lossless
    JPEG (SOF3, process 14). ``predictor=1`` (left neighbor) is SV1 —
    the DICOM 1.2.840.10008.1.2.4.70 selection; 1-7 all roundtrip.
    Bit-exact: tests assert array equality, not a tolerance."""
    if arr.ndim != 2 or arr.dtype not in (np.uint8, np.uint16):
        raise ValueError("encoder expects HxW uint8 or uint16")
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1..7")
    prec = 8 if arr.dtype == np.uint8 else 16
    h, w = arr.shape
    tab = _huff_encode_table(LOSSLESS_DC_BITS, LOSSLESS_DC_VALS)
    a = arr.astype(np.int64)
    default = 1 << (prec - 1)
    wtr = _BitWriter()
    mcu = 0
    fresh = True
    for y in range(h):
        for x in range(w):
            if restart_interval and mcu and mcu % restart_interval == 0:
                wtr.restart()
                fresh = True
            mcu += 1
            if fresh:
                pred = default
                fresh = False
            else:
                pred = _predict(a, y, x, predictor, default)
            d = (int(a[y, x]) - pred) & 0xFFFF
            if d == 32768:
                wtr.write(*tab[16])
            else:
                wtr.write_value(tab, 0, d - 65536 if d > 32768 else d)
    dht = bytes([0x00]) + bytes(LOSSLESS_DC_BITS) + bytes(LOSSLESS_DC_VALS)
    return write_segments([
        (0xC3, gray_sof(prec, h, w)),
        (DHT, dht),
        *_dri(restart_interval),
        # lossless SOS: Ss = predictor, Se = 0, AhAl = 0 (no point
        # transform)
        (SOS, bytes([1, 1, 0x00, predictor, 0, 0])),
    ], wtr.flush())
