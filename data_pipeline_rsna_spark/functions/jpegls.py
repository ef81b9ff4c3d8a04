"""JPEG-LS codec (ITU-T T.87 / ISO 14495-1, LOCO-I) — pure stdlib +
numpy, no third-party image library.

Why this exists: JPEG-LS Lossless (DICOM transfer syntax
1.2.840.10008.1.2.4.80) and near-lossless (.4.81) are the other common
archival compressed syntaxes for CR/DX alongside T.81 process 14; the
reference pipeline decodes them through pydicom+plugins
(``/root/reference/generate_images_from_dicom.py:44-51``). With this
module the engine covers the whole compressed-DICOM family it is
likely to meet (Baseline, Lossless SOF3, RLE, JPEG-LS, and — via
functions/jpeg2000.py — JPEG 2000) with zero optional dependencies;
only HTJ2K still requires pydicom.

Scope (both directions, encoder and decoder mirror each other):
  - single-component scans, ILV=0 — monochrome DICOM never needs
    component interleave; multi-component frames raise a named
    ValueError (pydicom territory, same contract as the SOF3 codec)
  - precision P in 2..16 (uint8 / uint16 samples)
  - NEAR = 0 (lossless, bit-exact roundtrip) and NEAR > 0
    (near-lossless: |reconstructed - original| <= NEAR guaranteed)
  - full LOCO-I pipeline per T.87: MED prediction, 365-context
    gradient quantization with sign folding, adaptive Golomb coding
    with the limited-length escape (LIMIT), bias correction (C[q]),
    run mode with the J[] geometric run-length table and run
    interruption contexts (366/367th), RESET=64 halving
  - LSE (preset parameters, ID 1) is parsed on decode; the encoder
    emits defaults so it never needs to write one
  - T.87 marker byte-stuffing: a 0xFF byte in the entropy stream is
    followed by a 7-bit byte (MSB = 0) — different from T.81's FF 00
    convention, a classic cross-codec bug source, covered by tests

Performance note: entropy coding is per-sample adaptive (context
state feeds back into the very next sample), so this is per-pixel
Python by construction, same contract as ``jpeg.py``: meant for the
Arrow-batched multimodal UDF path where decode parallelizes across
scan partitions/batches; at 100 TB of JPEG-LS DICOMs the preferred
deployment adds pydicom+pillow-jpls for a native inner loop
(MIGRATION.md), with this as the zero-dependency fallback.
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import (SOS, gray_sof, parse_sof, parse_sos, read_segments,
                   write_segments)

# geometric run-length code order table, T.87 A.7.1.1
J = [0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3,
     4, 4, 5, 5, 6, 6, 7, 7, 8, 9, 10, 11, 12, 13, 14, 15]

_RESET_DEFAULT = 64
_MIN_C, _MAX_C = -128, 127

_SOF55 = 0xF7  # JPEG-LS frame
_LSE = 0xF8    # JPEG-LS preset parameters


def _clamp(v: int, lo: int, hi: int) -> int:
    return lo if v < lo else hi if v > hi else v


def _default_thresholds(maxval: int, near: int) -> tuple[int, int, int]:
    """T1..T3 defaults, T.87 A.1 (C.2.4.1.1.1 for the clamp rules)."""
    if maxval >= 128:
        factor = (min(maxval, 4095) + 128) // 256
        t1 = _clamp(factor * (3 - 2) + 2 + 3 * near, near + 1, maxval)
        t2 = _clamp(factor * (7 - 3) + 3 + 5 * near, t1, maxval)
        t3 = _clamp(factor * (21 - 4) + 4 + 7 * near, t2, maxval)
    else:
        factor = 256 // (maxval + 1)
        t1 = _clamp(max(2, 3 // factor + 3 * near), near + 1, maxval)
        t2 = _clamp(max(3, 7 // factor + 5 * near), t1, maxval)
        t3 = _clamp(max(4, 21 // factor + 7 * near), t2, maxval)
    return t1, t2, t3


class _Params:
    """Derived coding parameters for one scan (T.87 clause 3.3/A.2)."""

    def __init__(self, maxval: int, near: int,
                 t1: int | None = None, t2: int | None = None,
                 t3: int | None = None, reset: int = _RESET_DEFAULT):
        self.maxval = maxval
        self.near = near
        self.range = (maxval + 2 * near) // (2 * near + 1) + 1
        self.qbpp = max(1, (self.range - 1).bit_length())
        bpp = max(2, (maxval).bit_length())
        self.bpp = bpp
        self.limit = 2 * (bpp + max(8, bpp))
        d1, d2, d3 = _default_thresholds(maxval, near)
        self.t1 = d1 if t1 is None else t1
        self.t2 = d2 if t2 is None else t2
        self.t3 = d3 if t3 is None else t3
        self.reset = reset
        # context state: 1..364 regular, 365/366 run interruption
        a_init = max(2, (self.range + 32) // 64)
        self.A = [a_init] * 367
        self.B = [0] * 365
        self.C = [0] * 365
        self.N = [1] * 367
        self.Nn = [0] * 367  # only 365/366 used

    def quantize_gradient(self, d: int) -> int:
        near = self.near
        if d <= -self.t3:
            return -4
        if d <= -self.t2:
            return -3
        if d <= -self.t1:
            return -2
        if d < -near:
            return -1
        if d <= near:
            return 0
        if d < self.t1:
            return 1
        if d < self.t2:
            return 2
        if d < self.t3:
            return 3
        return 4

    def golomb_k(self, q: int, temp: int | None = None) -> int:
        a = self.A[q] if temp is None else temp
        n = self.N[q]
        k = 0
        while (n << k) < a and k < 32:
            k += 1
        return k


def _med_predict(a: int, b: int, c: int) -> int:
    """Median edge detector, T.87 A.5.1."""
    if c >= max(a, b):
        return min(a, b)
    if c <= min(a, b):
        return max(a, b)
    return a + b - c


# ---------------------------------------------------------------------------
# bit I/O with the T.87 stuffing rule (after an 0xFF byte only 7 data
# bits follow, MSB forced 0 so no marker can appear in the stream)
# ---------------------------------------------------------------------------


class _LsBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.cur = 0
        self.cap = 8   # bits this byte can hold (7 after an 0xFF)
        self.free = 8

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self.cur = (self.cur << 1) | ((value >> i) & 1)
            self.free -= 1
            if self.free == 0:
                self.out.append(self.cur)
                self.cap = 7 if self.cur == 0xFF else 8
                self.cur, self.free = 0, self.cap

    def write_unary(self, zeros: int) -> None:
        # `zeros` 0-bits then a 1-bit
        for _ in range(zeros):
            self.write(0, 1)
        self.write(1, 1)

    def flush(self) -> bytes:
        if self.free < self.cap:  # pad the tail byte with 0 bits
            self.out.append(self.cur << self.free)
        return bytes(self.out)


class _LsBitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.cur = 0
        self.avail = 0
        self.prev_ff = False

    def _load(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG-LS stream")
        b = self.data[self.pos]
        self.pos += 1
        if self.prev_ff:
            if b & 0x80:
                raise ValueError(
                    "unexpected marker inside JPEG-LS entropy data"
                )
            self.cur = (self.cur << 7) | (b & 0x7F)
            self.avail += 7
        else:
            self.cur = (self.cur << 8) | b
            self.avail += 8
        self.prev_ff = b == 0xFF

    def read_bit(self) -> int:
        if self.avail == 0:
            self._load()
        self.avail -= 1
        return (self.cur >> self.avail) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def read_unary(self) -> int:
        n = 0
        while self.read_bit() == 0:
            n += 1
        return n


# ---------------------------------------------------------------------------
# limited-length Golomb code LG(k, limit), T.87 A.5.3
# ---------------------------------------------------------------------------


def _golomb_encode(w: _LsBitWriter, val: int, k: int, limit: int,
                   qbpp: int) -> None:
    high = val >> k
    if high < limit - qbpp - 1:
        w.write_unary(high)
        if k:
            w.write(val & ((1 << k) - 1), k)
    else:
        w.write_unary(limit - qbpp - 1)
        w.write(val - 1, qbpp)


def _golomb_decode(r: _LsBitReader, k: int, limit: int, qbpp: int) -> int:
    u = r.read_unary()
    if u < limit - qbpp - 1:
        return (u << k) | (r.read_bits(k) if k else 0)
    if u != limit - qbpp - 1:
        raise ValueError("invalid JPEG-LS Golomb prefix")
    return r.read_bits(qbpp) + 1


# ---------------------------------------------------------------------------
# regular-mode sample coding (T.87 A.4-A.6)
# ---------------------------------------------------------------------------


def _regular_encode(w: _LsBitWriter, p: _Params, q: int, sign: int,
                    px: int, ix: int) -> int:
    """Encode one regular-mode sample; returns the reconstructed value
    (== ix when NEAR=0)."""
    near = p.near
    errval = ix - px
    if sign < 0:
        errval = -errval
    if near > 0:  # A.4.2 error quantization
        if errval > 0:
            errval = (near + errval) // (2 * near + 1)
        else:
            errval = -((near - errval) // (2 * near + 1))
    rx = _clamp(px + sign * errval * (2 * near + 1), 0, p.maxval)
    # A.4.3 modulo reduction
    if errval < 0:
        errval += p.range
    if errval >= (p.range + 1) // 2:
        errval -= p.range
    k = p.golomb_k(q)
    # A.5.2 error mapping (the k==0 special map tracks bias sign)
    if near == 0 and k == 0 and 2 * p.B[q] <= -p.N[q]:
        merr = 2 * errval + 1 if errval >= 0 else -2 * (errval + 1)
    else:
        merr = 2 * errval if errval >= 0 else -2 * errval - 1
    _golomb_encode(w, merr, k, p.limit, p.qbpp)
    _update_regular(p, q, errval)
    return rx


def _regular_decode(r: _LsBitReader, p: _Params, q: int, sign: int,
                    px: int) -> int:
    near = p.near
    k = p.golomb_k(q)
    merr = _golomb_decode(r, k, p.limit, p.qbpp)
    if near == 0 and k == 0 and 2 * p.B[q] <= -p.N[q]:
        errval = (merr - 1) // 2 if merr & 1 else -(merr // 2) - 1
    else:
        errval = merr // 2 if merr % 2 == 0 else -((merr + 1) // 2)
    _update_regular(p, q, errval)
    rx = px + sign * errval * (2 * near + 1)
    # A.8.2 range fold-back then clamp
    full = p.range * (2 * near + 1)
    if rx < -near:
        rx += full
    elif rx > p.maxval + near:
        rx -= full
    return _clamp(rx, 0, p.maxval)


def _update_regular(p: _Params, q: int, errval: int) -> None:
    """A.6: variables update then bias computation."""
    p.B[q] += errval * (2 * p.near + 1)
    p.A[q] += abs(errval)
    if p.N[q] == p.reset:
        p.A[q] >>= 1
        if p.B[q] >= 0:
            p.B[q] >>= 1
        else:
            p.B[q] = -((1 - p.B[q]) >> 1)
        p.N[q] >>= 1
    p.N[q] += 1
    if p.B[q] <= -p.N[q]:
        p.B[q] += p.N[q]
        if p.C[q] > _MIN_C:
            p.C[q] -= 1
        if p.B[q] <= -p.N[q]:
            p.B[q] = -p.N[q] + 1
    elif p.B[q] > 0:
        p.B[q] -= p.N[q]
        if p.C[q] < _MAX_C:
            p.C[q] += 1
        if p.B[q] > 0:
            p.B[q] = 0


# ---------------------------------------------------------------------------
# run-interruption sample coding (T.87 A.7.2)
# ---------------------------------------------------------------------------


def _ri_encode(w: _LsBitWriter, p: _Params, ra: int, rb: int, ix: int,
               runindex: int) -> int:
    near = p.near
    ritype = 1 if abs(ra - rb) <= near else 0
    px = ra if ritype else rb
    errval = ix - px
    sign = 1
    if ritype == 0 and ra > rb:
        errval = -errval
        sign = -1
    if near > 0:
        if errval > 0:
            errval = (near + errval) // (2 * near + 1)
        else:
            errval = -((near - errval) // (2 * near + 1))
    rx = _clamp(px + sign * errval * (2 * near + 1), 0, p.maxval)
    if errval < 0:
        errval += p.range
    if errval >= (p.range + 1) // 2:
        errval -= p.range
    q = 365 + ritype
    temp = p.A[q] + (p.N[q] >> 1 if ritype else 0)
    k = p.golomb_k(q, temp)
    # map selection, code segment A.21
    cond = k != 0 or 2 * p.Nn[q] >= p.N[q]
    if errval == 0:
        emap = 0
    elif (errval < 0) == cond:
        emap = 1
    else:
        emap = 0
    emerr = 2 * abs(errval) - ritype - emap
    _golomb_encode(w, emerr, k, p.limit - J[runindex] - 1, p.qbpp)
    _ri_update(p, q, errval, emerr, ritype)
    return rx


def _ri_decode(r: _LsBitReader, p: _Params, ra: int, rb: int,
               runindex: int) -> int:
    near = p.near
    ritype = 1 if abs(ra - rb) <= near else 0
    px = ra if ritype else rb
    q = 365 + ritype
    temp = p.A[q] + (p.N[q] >> 1 if ritype else 0)
    k = p.golomb_k(q, temp)
    emerr = _golomb_decode(r, k, p.limit - J[runindex] - 1, p.qbpp)
    # invert the A.21 mapping: temp2 = 2|errval| - map, map = temp2 & 1
    temp2 = emerr + ritype
    emap = temp2 & 1
    errabs = (temp2 + emap) // 2
    cond = k != 0 or 2 * p.Nn[q] >= p.N[q]
    errval = -errabs if emap == cond and errabs != 0 else errabs
    # (errabs == 0 ⇒ errval 0 either way)
    _ri_update(p, q, errval, emerr, ritype)
    sign = -1 if ritype == 0 and ra > rb else 1
    rx = px + sign * errval * (2 * near + 1)
    full = p.range * (2 * near + 1)
    if rx < -near:
        rx += full
    elif rx > p.maxval + near:
        rx -= full
    return _clamp(rx, 0, p.maxval)


def _ri_update(p: _Params, q: int, errval: int, emerr: int,
               ritype: int) -> None:
    if errval < 0:
        p.Nn[q] += 1
    p.A[q] += (emerr + 1 - ritype) >> 1
    if p.N[q] == p.reset:
        p.A[q] >>= 1
        p.N[q] >>= 1
        p.Nn[q] >>= 1
    p.N[q] += 1


# ---------------------------------------------------------------------------
# scan coding (one component, ILV=0)
# ---------------------------------------------------------------------------


def _encode_scan(img: np.ndarray, p: _Params) -> bytes:
    h, w_ = img.shape
    near = p.near
    wtr = _LsBitWriter()
    runindex = 0
    prev = [0] * (w_ + 2)  # extended line: [Rc at x=0, samples, Rd pad]
    rows = img.tolist()
    for i in range(h):
        line = rows[i]
        prev[w_ + 1] = prev[w_]
        cur = [0] * (w_ + 2)
        cur[0] = prev[1]  # Ra at x=0 := Rb above it (A.2.1)
        x = 0
        while x < w_:
            ra, rb = cur[x], prev[x + 1]
            rc, rd = prev[x], prev[x + 2]
            d1, d2, d3 = rd - rb, rb - rc, rc - ra
            if (abs(d1) <= near and abs(d2) <= near and abs(d3) <= near):
                # run mode, A.7.1: count, reconstruct to RUNval, emit
                # full segments as 1-bits, then either the EOL partial
                # 1-bit or 0 + J-bit remainder + interruption sample
                runval = ra
                runcnt = 0
                while (x + runcnt < w_
                       and abs(line[x + runcnt] - runval) <= near):
                    cur[x + runcnt + 1] = runval
                    runcnt += 1
                hit_eol = x + runcnt == w_
                x += runcnt
                while runcnt >= (1 << J[runindex]):
                    wtr.write(1, 1)
                    runcnt -= 1 << J[runindex]
                    if runindex < 31:
                        runindex += 1
                if hit_eol:
                    if runcnt > 0:
                        wtr.write(1, 1)
                else:
                    wtr.write(0, 1)
                    if J[runindex]:
                        wtr.write(runcnt, J[runindex])
                    rx = _ri_encode(
                        wtr, p, cur[x], prev[x + 1], line[x], runindex
                    )
                    cur[x + 1] = rx
                    if runindex > 0:
                        runindex -= 1
                    x += 1
            else:
                q1 = p.quantize_gradient(d1)
                q2 = p.quantize_gradient(d2)
                q3 = p.quantize_gradient(d3)
                q = 81 * q1 + 9 * q2 + q3
                sign = 1
                if q < 0:
                    q, sign = -q, -1
                px = _med_predict(ra, rb, rc)
                px = _clamp(px + sign * p.C[q], 0, p.maxval)
                cur[x + 1] = _regular_encode(wtr, p, q, sign, px, line[x])
                x += 1
        prev = cur
    return wtr.flush()


def _decode_scan(r: _LsBitReader, p: _Params, h: int, w_: int) -> np.ndarray:
    near = p.near
    out = np.empty((h, w_), dtype=np.int64)
    runindex = 0
    prev = [0] * (w_ + 2)
    for i in range(h):
        prev[w_ + 1] = prev[w_]
        cur = [0] * (w_ + 2)
        cur[0] = prev[1]
        x = 0
        while x < w_:
            ra, rb = cur[x], prev[x + 1]
            rc, rd = prev[x], prev[x + 2]
            d1, d2, d3 = rd - rb, rb - rc, rc - ra
            if (abs(d1) <= near and abs(d2) <= near and abs(d3) <= near):
                runval = ra
                interrupted = False
                while True:
                    if r.read_bit() == 1:
                        seg = 1 << J[runindex]
                        rem = w_ - x
                        if seg <= rem:
                            for _ in range(seg):
                                cur[x + 1] = runval
                                x += 1
                            if runindex < 31:
                                runindex += 1
                            if x == w_:
                                break
                        else:
                            for _ in range(rem):
                                cur[x + 1] = runval
                                x += 1
                            break  # partial final segment, EOL
                    else:
                        rlen = r.read_bits(J[runindex]) if J[runindex] else 0
                        for _ in range(rlen):
                            cur[x + 1] = runval
                            x += 1
                        interrupted = True
                        break
                if interrupted:
                    ra_i, rb_i = cur[x], prev[x + 1]
                    cur[x + 1] = _ri_decode(r, p, ra_i, rb_i, runindex)
                    x += 1
                    if runindex > 0:
                        runindex -= 1
            else:
                q1 = p.quantize_gradient(d1)
                q2 = p.quantize_gradient(d2)
                q3 = p.quantize_gradient(d3)
                q = 81 * q1 + 9 * q2 + q3
                sign = 1
                if q < 0:
                    q, sign = -q, -1
                px = _med_predict(ra, rb, rc)
                px = _clamp(px + sign * p.C[q], 0, p.maxval)
                cur[x + 1] = _regular_decode(r, p, q, sign, px)
                x += 1
        for j in range(w_):
            out[i, j] = cur[j + 1]
        prev = cur
    return out


# ---------------------------------------------------------------------------
# public API
# ---------------------------------------------------------------------------


def encode_jpegls_gray(arr: np.ndarray, near: int = 0) -> bytes:
    """HxW uint8/uint16 → JPEG-LS stream (SOI, SOF55, SOS, entropy
    data, EOI). ``near=0`` is lossless; ``near>0`` guarantees
    ``|decode - arr| <= near`` elementwise (T.87 near-lossless)."""
    if arr.ndim != 2:
        raise ValueError("encode_jpegls_gray expects a 2-D array")
    if arr.dtype == np.uint8:
        prec = 8
    elif arr.dtype == np.uint16:
        prec = 16
    else:
        raise ValueError(f"dtype {arr.dtype} unsupported (uint8/uint16)")
    if not 0 <= near <= 255:
        raise ValueError("NEAR out of range")
    h, w_ = arr.shape
    p = _Params((1 << prec) - 1, near)
    return write_segments([
        (_SOF55, gray_sof(prec, h, w_)),
        # one component, table 0; NEAR; ILV=0; point transform 0
        (SOS, bytes([1, 1, 0, near, 0, 0])),
    ], _encode_scan(arr.astype(np.int64), p))


def decode_jpegls(data: bytes,
                  return_near: bool = False) -> np.ndarray | tuple:
    """Decode a single-component JPEG-LS stream → HxW uint8/uint16.
    With ``return_near=True`` returns ``(array, NEAR)`` so callers
    (the DICOM layer) can reject a near-lossless stream inside a
    lossless transfer syntax."""
    segs, scan_pos = read_segments(data, "JPEG-LS")
    frame = None
    maxval = t1 = t2 = t3 = None
    reset = _RESET_DEFAULT
    for marker, body in segs[:-1]:
        if marker == _SOF55:
            frame = parse_sof(body, "JPEG-LS")
            prec, h, w_, comps = frame
            if len(comps) != 1:
                raise ValueError(
                    f"JPEG-LS with {len(comps)} components unsupported "
                    "(monochrome DICOM is single-component; install "
                    "pydicom for color)"
                )
            if comps[0][1:3] != (1, 1):
                raise ValueError("JPEG-LS subsampling unsupported")
            if not 2 <= prec <= 16:
                raise ValueError(f"JPEG-LS precision {prec} invalid")
        elif marker == _LSE:
            if len(body) < 11:
                raise ValueError("truncated JPEG-LS LSE segment")
            if body[0] != 1:
                raise ValueError(
                    f"JPEG-LS LSE ID {body[0]} unsupported "
                    "(mapping tables / extended dimensions)"
                )
            maxval, t1, t2, t3, reset = struct.unpack(">HHHHH", body[1:11])
        elif 0xD0 <= marker <= 0xD7:
            raise ValueError("JPEG-LS restart markers unsupported")
        # APPn / COM: skip
    if frame is None:
        raise ValueError("JPEG-LS SOS before SOF55")
    scan, near, ilv, ahal = parse_sos(segs[-1][1], "JPEG-LS")
    if len(scan) != 1:
        raise ValueError("JPEG-LS multi-component scan unsupported")
    if ilv != 0:
        raise ValueError("JPEG-LS interleave unsupported")
    if ahal != 0:
        raise ValueError("JPEG-LS point transform unsupported")
    mv = maxval if maxval else (1 << prec) - 1
    p = _Params(mv, near, t1, t2, t3, reset)
    img = _decode_scan(_LsBitReader(data, scan_pos), p, h, w_)
    arr = img.astype(np.uint8 if mv < 256 else np.uint16)
    return (arr, near) if return_near else arr
