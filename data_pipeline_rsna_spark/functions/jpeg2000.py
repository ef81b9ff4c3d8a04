"""JPEG 2000 codec (ISO/IEC 15444-1 / ITU-T T.800, lossless path) —
pure stdlib + numpy, no third-party image library.

Why this exists: JPEG 2000 Lossless (DICOM transfer syntax
1.2.840.10008.1.2.4.90) is the last compressed archival syntax the
reference pipeline reaches through pydicom+plugins
(``/root/reference/generate_images_from_dicom.py:44-51``) that the
engine did not decode natively. With this module the zero-dependency
compressed-DICOM matrix is closed: Baseline T.81, Lossless SOF3,
JPEG-LS T.87, RLE, and now JPEG 2000 Part 1.

Scope (both directions; encoder and decoder mirror each other):
  - raw JPEG 2000 codestreams (SOC..EOC) — what DICOM encapsulates;
    the JP2 box container is not produced by DICOM writers and raises
    a named ValueError
  - single tile at origin 0, single component, XRsiz=YRsiz=1 —
    monochrome DICOM frames; multi-component codestreams raise a
    named ValueError (pydicom territory, same contract as jpeg.py)
  - reversible 5/3 wavelet (Annex F.4) with 0..32 decomposition
    levels, whole-sample symmetric extension, bit-exact roundtrip
  - full EBCOT Tier-1 (Annex D): three coding passes per bit-plane
    (significance propagation, magnitude refinement, cleanup with
    run-length mode), 19 contexts, orientation-dependent zero-coding
    tables, stripe-column scan order; default mode (single codeword
    segment per code-block, no bypass/reset/termall/causal/segsym)
  - MQ arithmetic coder per Annex C (the 47-state Qe table shared
    with ITU-T T.88), byte-stuffing, carry handling, FLUSH with
    trailing-0xFF truncation matched by the decoder's 1-feeding
  - Tier-2 (Annex B): tag-tree coded packet headers (inclusion +
    zero-bit-planes), pass-count codewords, Lblock length signalling,
    LRCP progression with one layer and one precinct per resolution
    (PPx=PPy=15), header bit-stuffing after 0xFF bytes
  - precision 1..16, unsigned and signed samples (Ssiz sign bit),
    DC level shift for unsigned components per Annex G

Performance note: EBCOT context modelling is per-sample adaptive
(every coded bit updates the context state the next bit reads), so
Tier-1 is per-pixel Python by construction — the same documented
contract as ``jpeg.py``/``jpegls.py``: meant for the Arrow-batched
multimodal UDF path where decode parallelizes across scan
partitions/batches; at 100 TB of J2K DICOMs the preferred deployment
adds pydicom+openjpeg for a native inner loop (MIGRATION.md), with
this as the zero-dependency fallback.
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# MQ arithmetic coder (Annex C; table C.2 — shared with ITU-T T.88)
# ---------------------------------------------------------------------------

# (Qe, NMPS, NLPS, SWITCH)
_QE = [
    (0x5601, 1, 1, 1), (0x3401, 2, 6, 0), (0x1801, 3, 9, 0),
    (0x0AC1, 4, 12, 0), (0x0521, 5, 29, 0), (0x0221, 38, 33, 0),
    (0x5601, 7, 6, 1), (0x5401, 8, 14, 0), (0x4801, 9, 14, 0),
    (0x3801, 10, 14, 0), (0x3001, 11, 17, 0), (0x2401, 12, 18, 0),
    (0x1C01, 13, 20, 0), (0x1601, 29, 21, 0), (0x5601, 15, 14, 1),
    (0x5401, 16, 14, 0), (0x5101, 17, 15, 0), (0x4801, 18, 16, 0),
    (0x3801, 19, 17, 0), (0x3401, 20, 18, 0), (0x3001, 21, 19, 0),
    (0x2801, 22, 19, 0), (0x2401, 23, 20, 0), (0x2201, 24, 21, 0),
    (0x1C01, 25, 22, 0), (0x1801, 26, 23, 0), (0x1601, 27, 24, 0),
    (0x1401, 28, 25, 0), (0x1201, 29, 26, 0), (0x1101, 30, 27, 0),
    (0x0AC1, 31, 28, 0), (0x09C1, 32, 29, 0), (0x08A1, 33, 30, 0),
    (0x0521, 34, 31, 0), (0x0441, 35, 32, 0), (0x02A1, 36, 33, 0),
    (0x0221, 37, 34, 0), (0x0141, 38, 35, 0), (0x0111, 39, 36, 0),
    (0x0085, 40, 37, 0), (0x0049, 41, 38, 0), (0x0025, 42, 39, 0),
    (0x0015, 43, 40, 0), (0x0009, 44, 41, 0), (0x0005, 45, 42, 0),
    (0x0001, 45, 43, 0), (0x5601, 46, 46, 0),
]

_N_CTX = 19
# context indices
_CTX_UNI = 18  # non-adapting uniform context (state 46)
_CTX_RL = 17   # run-length context
# initial (state, MPS) per D.7: all (0,0) except UNI=46, RL=3, ZC0=4
_CTX_INIT_STATE = [0] * _N_CTX
_CTX_INIT_STATE[0] = 4          # zero-coding context 0
_CTX_INIT_STATE[_CTX_RL] = 3
_CTX_INIT_STATE[_CTX_UNI] = 46


class _MQEncoder:
    """Annex C software-conventions MQ encoder, one codeword segment."""

    def __init__(self) -> None:
        self.a = 0x8000
        self.c = 0
        self.ct = 12
        # sentinel byte absorbs a carry out of the first real byte;
        # stripped at flush() when untouched
        self.out = bytearray([0x00])
        self.state = list(_CTX_INIT_STATE)
        self.mps = [0] * _N_CTX

    def _byteout(self) -> None:
        out = self.out
        if out[-1] == 0xFF:
            # stuffing: only 7 bits go into the next byte
            out.append((self.c >> 20) & 0xFF)
            self.c &= 0xFFFFF
            self.ct = 7
        else:
            if self.c < 0x8000000:
                out.append((self.c >> 19) & 0xFF)
                self.c &= 0x7FFFF
                self.ct = 8
            else:
                out[-1] += 1  # propagate carry into the finished byte
                if out[-1] == 0xFF:
                    self.c &= 0x7FFFFFF
                    out.append((self.c >> 20) & 0xFF)
                    self.c &= 0xFFFFF
                    self.ct = 7
                else:
                    out.append((self.c >> 19) & 0xFF)
                    self.c &= 0x7FFFF
                    self.ct = 8

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
            if self.a & 0x8000:
                break

    def encode(self, ctx: int, d: int) -> None:
        i = self.state[ctx]
        qe, nmps, nlps, switch = _QE[i]
        if d == self.mps[ctx]:
            self.a -= qe
            if self.a & 0x8000:
                self.c += qe
                return
            if self.a < qe:
                self.a = qe
            else:
                self.c += qe
            self.state[ctx] = nmps
            self._renorm()
        else:
            self.a -= qe
            if self.a < qe:
                self.c += qe
            else:
                self.a = qe
            if switch:
                self.mps[ctx] ^= 1
            self.state[ctx] = nlps
            self._renorm()

    def flush(self) -> bytes:
        # SETBITS
        tempc = self.c + self.a
        self.c |= 0xFFFF
        if self.c >= tempc:
            self.c -= 0x8000
        self.c = (self.c << self.ct) & 0xFFFFFFF
        self._byteout()
        self.c = (self.c << self.ct) & 0xFFFFFFF
        self._byteout()
        out = self.out
        # drop trailing 0xFF bytes: the decoder feeds 1s past the end
        while out and out[-1] == 0xFF:
            out.pop()
        # strip the untouched sentinel; keep it if a carry reached it
        if out and out[0] == 0x00:
            start = 1
        else:
            start = 0
        return bytes(out[start:])


class _MQDecoder:
    """Annex C software-conventions MQ decoder; feeds 1-bits past the
    end of the segment (matches the encoder's trailing-0xFF drop)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        n = len(data)
        b0 = data[0] if n else 0xFF
        self.c = b0 << 16
        self._bytein()
        self.c = (self.c << 7) & 0xFFFFFFFF
        self.ct -= 7
        self.a = 0x8000
        self.state = list(_CTX_INIT_STATE)
        self.mps = [0] * _N_CTX

    def _bytein(self) -> None:
        data, pos = self.data, self.pos
        n = len(data)
        if pos < n:
            if data[pos] == 0xFF:
                if pos + 1 < n and data[pos + 1] <= 0x8F:
                    self.pos = pos + 1
                    self.c += data[pos + 1] << 9
                    self.ct = 7
                else:
                    # marker / end: feed 1s from here on
                    self.c += 0xFF00
                    self.ct = 8
            else:
                self.pos = pos + 1
                if self.pos < n:
                    self.c += data[self.pos] << 8
                else:
                    self.c += 0xFF00
                self.ct = 8
        else:
            self.c += 0xFF00
            self.ct = 8

    def _renorm(self) -> None:
        while True:
            if self.ct == 0:
                self._bytein()
            self.a = (self.a << 1) & 0xFFFF
            self.c = (self.c << 1) & 0xFFFFFFFF
            self.ct -= 1
            if self.a & 0x8000:
                break

    def decode(self, ctx: int) -> int:
        i = self.state[ctx]
        qe, nmps, nlps, switch = _QE[i]
        self.a -= qe
        if ((self.c >> 16) & 0xFFFF) < qe:
            # LPS exchange
            if self.a < qe:
                d = self.mps[ctx]
                self.state[ctx] = nmps
            else:
                d = 1 - self.mps[ctx]
                if switch:
                    self.mps[ctx] ^= 1
                self.state[ctx] = nlps
            self.a = qe
            self._renorm()
        else:
            self.c -= qe << 16
            if self.a & 0x8000 == 0:
                # MPS exchange
                if self.a < qe:
                    d = 1 - self.mps[ctx]
                    if switch:
                        self.mps[ctx] ^= 1
                    self.state[ctx] = nlps
                else:
                    d = self.mps[ctx]
                    self.state[ctx] = nmps
                self._renorm()
            else:
                d = self.mps[ctx]
        return d


# ---------------------------------------------------------------------------
# Reversible 5/3 wavelet (Annex F.4), origin-0 tiles
# ---------------------------------------------------------------------------


def _fwd53_1d(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One 5/3 lifting level along the LAST axis of an int64 array at
    origin 0. Returns (L, H) with L length ceil(n/2), H floor(n/2);
    whole-sample symmetric extension (x[-1]=x[1], x[n]=x[n-2])."""
    n = x.shape[-1]
    if n == 1:
        return x.copy(), x[..., :0].copy()
    even = x[..., 0::2].astype(np.int64)
    odd = x[..., 1::2].astype(np.int64)
    ne, no = even.shape[-1], odd.shape[-1]
    # predict: d[k] = x[2k+1] - floor((x[2k] + x[2k+2]) / 2)
    # x[2k+2] for the last k of an even-length signal reflects to
    # x[n-2] = even[-1]
    if ne > no:
        right = even[..., 1:]
    else:
        right = np.concatenate([even[..., 1:], even[..., -1:]], axis=-1)
    d = odd - ((even[..., :no] + right) >> 1)
    # update: s[k] = x[2k] + floor((d[k-1] + d[k] + 2) / 4)
    # d[-1] reflects to d[0]; for odd-length signals the last s needs
    # d at interleaved position n, which reflects to d[-1]
    d_left = np.concatenate([d[..., 0:1], d[..., :ne - 1]], axis=-1)
    if ne > no:
        d_right = np.concatenate([d, d[..., -1:]], axis=-1)
    else:
        d_right = d
    s = even + ((d_left + d_right + 2) >> 2)
    return s, d


def _inv53_1d(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_fwd53_1d` (last axis)."""
    ne, no = s.shape[-1], d.shape[-1]
    n = ne + no
    if n == 1:
        return s.copy()
    d = d.astype(np.int64)
    d_left = np.concatenate([d[..., 0:1], d[..., :ne - 1]], axis=-1)
    if ne > no:
        d_right = np.concatenate([d, d[..., -1:]], axis=-1)
    else:
        d_right = d
    even = s.astype(np.int64) - ((d_left + d_right + 2) >> 2)
    if ne > no:
        right = even[..., 1:]
    else:
        right = np.concatenate([even[..., 1:], even[..., -1:]], axis=-1)
    odd = d + ((even[..., :no] + right) >> 1)
    out = np.empty(s.shape[:-1] + (n,), dtype=np.int64)
    out[..., 0::2] = even
    out[..., 1::2] = odd
    return out


def _fwd53_2d(a: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """One 2-D level: returns (LL, HL, LH, HH). HL = high-pass along
    x (columns), low-pass along y — the Annex F orientation."""
    tmp_l, tmp_h = _fwd53_1d(a)                    # rows (horizontal)
    ll_t, lh_t = _fwd53_1d(np.ascontiguousarray(tmp_l.T))
    hl_t, hh_t = _fwd53_1d(np.ascontiguousarray(tmp_h.T))
    return ll_t.T, hl_t.T, lh_t.T, hh_t.T


def _inv53_2d(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
              hh: np.ndarray) -> np.ndarray:
    tmp_l = _inv53_1d(np.ascontiguousarray(ll.T),
                      np.ascontiguousarray(lh.T)).T
    tmp_h = _inv53_1d(np.ascontiguousarray(hl.T),
                      np.ascontiguousarray(hh.T)).T
    return _inv53_1d(tmp_l, tmp_h)


def forward_dwt53(a: np.ndarray, levels: int) -> list[tuple[np.ndarray, ...]]:
    """``levels`` 2-D 5/3 levels. Returns [LL_N, (HL_N, LH_N, HH_N),
    ..., (HL_1, LH_1, HH_1)] — coarsest first, matching resolution
    order in the codestream."""
    bands: list[tuple[np.ndarray, ...]] = []
    ll = a.astype(np.int64)
    for _ in range(levels):
        ll, hl, lh, hh = _fwd53_2d(ll)
        bands.append((hl, lh, hh))
    bands.reverse()
    return [(ll,)] + bands


def inverse_dwt53(bands: list[tuple[np.ndarray, ...]]) -> np.ndarray:
    ll = bands[0][0]
    for hl, lh, hh in bands[1:]:
        ll = _inv53_2d(ll, hl, lh, hh)
    return ll


# ---------------------------------------------------------------------------
# irreversible 9/7 wavelet (Annex F.4.8) — float lifting
# ---------------------------------------------------------------------------

# T.800 Table F.4 lifting constants
_ALPHA = -1.586134342059924
_BETA = -0.052980118572961
_GAMMA = 0.882911075530934
_DELTA = 0.443506852043971
# K normalizes the low band to DC gain 1 (a constant image transforms
# to LL == the constant, all high bands exactly 0 — the same invariant
# the 5/3 path has)
_K97 = 1.230174104914001


def _fwd97_1d(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """One 9/7 lifting level along the LAST axis (float64), origin 0,
    whole-sample symmetric extension — the boundary handling mirrors
    :func:`_fwd53_1d` exactly (x[-1]=x[1], x[n]=x[n-2])."""
    n = x.shape[-1]
    if n == 1:
        return x.astype(np.float64).copy(), x[..., :0].astype(np.float64)
    even = x[..., 0::2].astype(np.float64)
    odd = x[..., 1::2].astype(np.float64)
    ne, no = even.shape[-1], odd.shape[-1]

    def _right(arr):  # arr[k+1] with x[n] -> x[n-2] reflection
        if ne > no:
            return arr[..., 1:]
        return np.concatenate([arr[..., 1:], arr[..., -1:]], axis=-1)

    def _pair(arr):  # arr[k-1] + arr[k] with x[-1] -> x[1] reflection
        left = np.concatenate([arr[..., 0:1], arr[..., :ne - 1]], axis=-1)
        if ne > no:
            right = np.concatenate([arr, arr[..., -1:]], axis=-1)
        else:
            right = arr
        return left + right

    d = odd + _ALPHA * (even[..., :no] + _right(even))
    s = even + _BETA * _pair(d)
    d = d + _GAMMA * (s[..., :no] + _right(s))
    s = s + _DELTA * _pair(d)
    return s * (1.0 / _K97), d * _K97


def _inv97_1d(s: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Inverse of :func:`_fwd97_1d` (last axis, float64)."""
    ne, no = s.shape[-1], d.shape[-1]
    n = ne + no
    if n == 1:
        return s.copy()
    s = s * _K97
    d = d * (1.0 / _K97)

    def _right(arr):
        if ne > no:
            return arr[..., 1:]
        return np.concatenate([arr[..., 1:], arr[..., -1:]], axis=-1)

    def _pair(arr):
        left = np.concatenate([arr[..., 0:1], arr[..., :ne - 1]], axis=-1)
        if ne > no:
            right = np.concatenate([arr, arr[..., -1:]], axis=-1)
        else:
            right = arr
        return left + right

    s = s - _DELTA * _pair(d)
    d = d - _GAMMA * (s[..., :no] + _right(s))
    even = s - _BETA * _pair(d)
    odd = d - _ALPHA * (even[..., :no] + _right(even))
    out = np.empty(s.shape[:-1] + (n,), dtype=np.float64)
    out[..., 0::2] = even
    out[..., 1::2] = odd
    return out


def _fwd97_2d(a: np.ndarray) -> tuple[np.ndarray, ...]:
    tmp_l, tmp_h = _fwd97_1d(a)
    ll_t, lh_t = _fwd97_1d(np.ascontiguousarray(tmp_l.T))
    hl_t, hh_t = _fwd97_1d(np.ascontiguousarray(tmp_h.T))
    return ll_t.T, hl_t.T, lh_t.T, hh_t.T


def _inv97_2d(ll: np.ndarray, hl: np.ndarray, lh: np.ndarray,
              hh: np.ndarray) -> np.ndarray:
    tmp_l = _inv97_1d(np.ascontiguousarray(ll.T),
                      np.ascontiguousarray(lh.T)).T
    tmp_h = _inv97_1d(np.ascontiguousarray(hl.T),
                      np.ascontiguousarray(hh.T)).T
    return _inv97_1d(tmp_l, tmp_h)


def forward_dwt97(a: np.ndarray, levels: int) -> list[tuple[np.ndarray, ...]]:
    """``levels`` 2-D 9/7 levels (float64), coarsest first — the
    irreversible twin of :func:`forward_dwt53`."""
    bands: list[tuple[np.ndarray, ...]] = []
    ll = a.astype(np.float64)
    for _ in range(levels):
        ll, hl, lh, hh = _fwd97_2d(ll)
        bands.append((hl, lh, hh))
    bands.reverse()
    return [(ll,)] + bands


def inverse_dwt97(bands: list[tuple[np.ndarray, ...]]) -> np.ndarray:
    ll = bands[0][0]
    for hl, lh, hh in bands[1:]:
        ll = _inv97_2d(ll, hl, lh, hh)
    return ll


# ---------------------------------------------------------------------------
# Tag trees (B.10.2)
# ---------------------------------------------------------------------------


class _TagTree:
    """Quadtree over a w×h grid of leaf values; codes "value >= t"
    answers incrementally, shared across queries (B.10.2)."""

    def __init__(self, w: int, h: int) -> None:
        self.dims: list[tuple[int, int]] = []
        while True:
            self.dims.append((w, h))
            if w == 1 and h == 1:
                break
            w, h = (w + 1) // 2, (h + 1) // 2
        # levels[0] = leaves .. levels[-1] = root; each node:
        # [value, low, known]
        self.levels = [
            [[0, 0, False] for _ in range(lw * lh)] for lw, lh in self.dims
        ]

    def set_value(self, x: int, y: int, value: int) -> None:
        self.levels[0][y * self.dims[0][0] + x][0] = value

    def finalize(self) -> None:
        """Internal node value = min of children (encoder side)."""
        for lv in range(1, len(self.levels)):
            lw, lh = self.dims[lv]
            cw, ch = self.dims[lv - 1]
            child = self.levels[lv - 1]
            for y in range(lh):
                for x in range(lw):
                    m = None
                    for cy in (2 * y, 2 * y + 1):
                        for cx in (2 * x, 2 * x + 1):
                            if cy < ch and cx < cw:
                                v = child[cy * cw + cx][0]
                                m = v if m is None else min(m, v)
                    self.levels[lv][y * lw + x][0] = m

    def _path(self, x: int, y: int) -> list[list]:
        nodes = []
        for lv, (lw, _lh) in enumerate(self.dims):
            nodes.append(self.levels[lv][y * lw + x])
            x, y = x // 2, y // 2
        nodes.reverse()  # root first
        return nodes

    def encode(self, bw: "_HeaderBitWriter", x: int, y: int,
               threshold: int) -> None:
        low = 0
        for node in self._path(x, y):
            if node[1] < low:
                node[1] = low
            while not node[2] and node[1] < threshold:
                if node[1] == node[0]:
                    bw.put(1)
                    node[2] = True
                else:
                    bw.put(0)
                    node[1] += 1
            low = node[0] if node[2] else node[1]

    def decode(self, br: "_HeaderBitReader", x: int, y: int,
               threshold: int) -> bool:
        """True iff leaf value < threshold (fully resolved)."""
        low = 0
        leaf = None
        for node in self._path(x, y):
            if node[1] < low:
                node[1] = low
            while not node[2] and node[1] < threshold:
                if br.get():
                    node[0] = node[1]
                    node[2] = True
                else:
                    node[1] += 1
            low = node[0] if node[2] else node[1]
            leaf = node
        return leaf[2] and leaf[0] < threshold

    def decode_value(self, br: "_HeaderBitReader", x: int, y: int) -> int:
        """Read bits until the leaf value is fully determined (used
        for the zero-bit-planes tree)."""
        t = 1
        while not self.decode(br, x, y, t):
            leaf = self._path(x, y)[-1]
            if leaf[2]:
                return leaf[0]
            t += 1
        return self._path(x, y)[-1][0]


# ---------------------------------------------------------------------------
# Packet-header bit I/O (B.10.1: bit-stuffing after 0xFF)
# ---------------------------------------------------------------------------


class _HeaderBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0  # bits already in acc
        self.limit = 8

    def put(self, bit: int) -> None:
        self.acc = (self.acc << 1) | (bit & 1)
        self.nbits += 1
        if self.nbits == self.limit:
            self.out.append(self.acc)
            self.limit = 7 if self.acc == 0xFF else 8
            self.acc = 0
            self.nbits = 0

    def put_bits(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.put((value >> i) & 1)

    def flush(self) -> bytes:
        if self.nbits:
            self.acc <<= self.limit - self.nbits
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.nbits = 0
        elif self.out and self.out[-1] == 0xFF:
            self.out.append(0x00)
        return bytes(self.out)


class _HeaderBitReader:
    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.prev_ff = False

    def get(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG 2000 packet header")
            b = self.data[self.pos]
            self.pos += 1
            if self.prev_ff:
                if b > 0x7F:
                    raise ValueError(
                        "invalid JPEG 2000 packet header stuffing"
                    )
                self.nbits = 7
            else:
                self.nbits = 8
            self.prev_ff = b == 0xFF
            self.acc = b
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def get_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.get()
        return v

    def align(self) -> int:
        """End of packet header: skip to the next byte boundary and
        return the body start offset."""
        self.nbits = 0
        if self.prev_ff:
            # a stuffed 0 byte follows a terminal 0xFF
            if self.pos < len(self.data) and self.data[self.pos] == 0x00:
                self.pos += 1
        return self.pos


# ---------------------------------------------------------------------------
# Tier-1: EBCOT code-block coder (Annex D)
# ---------------------------------------------------------------------------

# zero-coding context from (h, v, d) neighbor significance counts.
# Table D.1; LL/LH share a table, HL is its transpose, HH is diagonal.


def _zc_context(h: int, v: int, d: int, ori: int) -> int:
    if ori == 2:  # HH
        if d >= 3:
            return 8
        hv = h + v
        if d == 2:
            return 7 if hv >= 1 else 6
        if d == 1:
            return 5 if hv >= 2 else (4 if hv == 1 else 3)
        return 2 if hv >= 2 else (1 if hv == 1 else 0)
    if ori == 1:  # HL: swap h and v
        h, v = v, h
    if h == 2:
        return 8
    if h == 1:
        if v >= 1:
            return 7
        return 6 if d >= 1 else 5
    if v == 2:
        return 4
    if v == 1:
        return 3
    return 2 if d >= 2 else (1 if d == 1 else 0)


# sign-coding: (hc, vc) in {-1,0,1}^2 -> (context, xor-bit), Table D.3
_SC_TABLE = {
    (1, 1): (13, 0), (1, 0): (12, 0), (1, -1): (11, 0),
    (0, 1): (10, 0), (0, 0): (9, 0), (0, -1): (10, 1),
    (-1, 1): (11, 1), (-1, 0): (12, 1), (-1, -1): (13, 1),
}


class _BlockCoder:
    """Shared state-machine for coding/decoding one code-block.

    ``sig``: significance; ``sgn``: sign (1 = negative); ``vis``:
    coded in the current plane's significance-propagation pass;
    ``ref``: has had at least one refinement bit. Neighbors outside
    the block are insignificant (padded arrays)."""

    def __init__(self, h: int, w: int, ori: int) -> None:
        # band ori (0=LL, 1=HL, 2=LH, 3=HH) -> zero-coding table
        # (0=LL/LH, 1=HL, 2=HH): Table D.1 groups LL with LH
        self.h, self.w = h, w
        self.ori = (0, 1, 0, 2)[ori]
        # pad by 1 on each side so neighbor reads never branch
        self.sig = np.zeros((h + 2, w + 2), dtype=np.int8)
        self.sgn = np.zeros((h + 2, w + 2), dtype=np.int8)
        self.vis = np.zeros((h, w), dtype=bool)
        self.ref = np.zeros((h, w), dtype=bool)

    def _counts(self, i: int, j: int) -> tuple[int, int, int]:
        s = self.sig
        pi, pj = i + 1, j + 1
        hcount = int(s[pi, pj - 1]) + int(s[pi, pj + 1])
        vcount = int(s[pi - 1, pj]) + int(s[pi + 1, pj])
        dcount = (int(s[pi - 1, pj - 1]) + int(s[pi - 1, pj + 1])
                  + int(s[pi + 1, pj - 1]) + int(s[pi + 1, pj + 1]))
        return hcount, vcount, dcount

    def _sc_ctx(self, i: int, j: int) -> tuple[int, int]:
        s, g = self.sig, self.sgn
        pi, pj = i + 1, j + 1

        def contrib(si: int, sj: int) -> int:
            if not s[si, sj]:
                return 0
            return -1 if g[si, sj] else 1

        hc = max(-1, min(1, contrib(pi, pj - 1) + contrib(pi, pj + 1)))
        vc = max(-1, min(1, contrib(pi - 1, pj) + contrib(pi + 1, pj)))
        return _SC_TABLE[(hc, vc)]


def _encode_block(coefs: np.ndarray, ori: int, nplanes: int) -> bytes:
    """EBCOT-encode one code-block of signed ints with ``nplanes``
    magnitude bit-planes; returns the single MQ codeword segment."""
    h, w = coefs.shape
    mag = np.abs(coefs).astype(np.int64)
    neg = (coefs < 0).astype(np.int8)
    st = _BlockCoder(h, w, ori)
    mq = _MQEncoder()

    def code_sign(i: int, j: int) -> None:
        ctx, xor = st._sc_ctx(i, j)
        mq.encode(ctx, int(neg[i, j]) ^ xor)
        st.sgn[i + 1, j + 1] = neg[i, j]

    for p in range(nplanes - 1, -1, -1):
        bit = 1 << p
        first = p == nplanes - 1
        # -- significance propagation pass --
        if not first:
            for k0 in range(0, h, 4):
                for j in range(w):
                    for i in range(k0, min(k0 + 4, h)):
                        if st.sig[i + 1, j + 1]:
                            continue
                        hc, vc, dc = st._counts(i, j)
                        if hc + vc + dc == 0:
                            continue
                        b = 1 if mag[i, j] & bit else 0
                        mq.encode(_zc_context(hc, vc, dc, st.ori), b)
                        st.vis[i, j] = True
                        if b:
                            code_sign(i, j)
                            st.sig[i + 1, j + 1] = 1
            # -- magnitude refinement pass --
            for k0 in range(0, h, 4):
                for j in range(w):
                    for i in range(k0, min(k0 + 4, h)):
                        if not st.sig[i + 1, j + 1] or st.vis[i, j]:
                            continue
                        if st.ref[i, j]:
                            ctx = 16
                        else:
                            hc, vc, dc = st._counts(i, j)
                            ctx = 15 if hc + vc + dc else 14
                        mq.encode(ctx, 1 if mag[i, j] & bit else 0)
                        st.ref[i, j] = True
        # -- cleanup pass --
        for k0 in range(0, h, 4):
            for j in range(w):
                i = k0
                stripe_h = min(4, h - k0)
                # run-length mode: full stripe, all insignificant,
                # unvisited, and all four contexts zero
                run = stripe_h == 4
                if run:
                    for ii in range(k0, k0 + 4):
                        if (st.sig[ii + 1, j + 1] or st.vis[ii, j]
                                or sum(st._counts(ii, j)) != 0):
                            run = False
                            break
                if run:
                    r = -1
                    for ii in range(4):
                        if mag[k0 + ii, j] & bit:
                            r = ii
                            break
                    if r < 0:
                        mq.encode(_CTX_RL, 0)
                        for ii in range(k0, k0 + 4):
                            st.vis[ii, j] = False
                        continue
                    mq.encode(_CTX_RL, 1)
                    mq.encode(_CTX_UNI, (r >> 1) & 1)
                    mq.encode(_CTX_UNI, r & 1)
                    code_sign(k0 + r, j)
                    st.sig[k0 + r + 1, j + 1] = 1
                    i = k0 + r + 1
                for ii in range(i, k0 + stripe_h):
                    if st.sig[ii + 1, j + 1] or st.vis[ii, j]:
                        st.vis[ii, j] = False
                        continue
                    hc, vc, dc = st._counts(ii, j)
                    b = 1 if mag[ii, j] & bit else 0
                    mq.encode(_zc_context(hc, vc, dc, st.ori), b)
                    if b:
                        code_sign(ii, j)
                        st.sig[ii + 1, j + 1] = 1
                for ii in range(k0, k0 + stripe_h):
                    st.vis[ii, j] = False
    return mq.flush()


def _decode_block(data: bytes, h: int, w: int, ori: int,
                  nplanes: int) -> np.ndarray:
    """Inverse of :func:`_encode_block`."""
    st = _BlockCoder(h, w, ori)
    mq = _MQDecoder(data)
    mag = np.zeros((h, w), dtype=np.int64)
    neg = np.zeros((h, w), dtype=np.int8)

    def decode_sign(i: int, j: int) -> None:
        ctx, xor = st._sc_ctx(i, j)
        neg[i, j] = mq.decode(ctx) ^ xor
        st.sgn[i + 1, j + 1] = neg[i, j]

    for p in range(nplanes - 1, -1, -1):
        bit = 1 << p
        first = p == nplanes - 1
        if not first:
            for k0 in range(0, h, 4):
                for j in range(w):
                    for i in range(k0, min(k0 + 4, h)):
                        if st.sig[i + 1, j + 1]:
                            continue
                        hc, vc, dc = st._counts(i, j)
                        if hc + vc + dc == 0:
                            continue
                        b = mq.decode(_zc_context(hc, vc, dc, st.ori))
                        st.vis[i, j] = True
                        if b:
                            mag[i, j] |= bit
                            decode_sign(i, j)
                            st.sig[i + 1, j + 1] = 1
            for k0 in range(0, h, 4):
                for j in range(w):
                    for i in range(k0, min(k0 + 4, h)):
                        if not st.sig[i + 1, j + 1] or st.vis[i, j]:
                            continue
                        if st.ref[i, j]:
                            ctx = 16
                        else:
                            hc, vc, dc = st._counts(i, j)
                            ctx = 15 if hc + vc + dc else 14
                        if mq.decode(ctx):
                            mag[i, j] |= bit
                        st.ref[i, j] = True
        for k0 in range(0, h, 4):
            for j in range(w):
                i = k0
                stripe_h = min(4, h - k0)
                run = stripe_h == 4
                if run:
                    for ii in range(k0, k0 + 4):
                        if (st.sig[ii + 1, j + 1] or st.vis[ii, j]
                                or sum(st._counts(ii, j)) != 0):
                            run = False
                            break
                if run:
                    if mq.decode(_CTX_RL) == 0:
                        for ii in range(k0, k0 + 4):
                            st.vis[ii, j] = False
                        continue
                    r = (mq.decode(_CTX_UNI) << 1) | mq.decode(_CTX_UNI)
                    mag[k0 + r, j] |= bit
                    decode_sign(k0 + r, j)
                    st.sig[k0 + r + 1, j + 1] = 1
                    i = k0 + r + 1
                for ii in range(i, k0 + stripe_h):
                    if st.sig[ii + 1, j + 1] or st.vis[ii, j]:
                        st.vis[ii, j] = False
                        continue
                    b = mq.decode(_zc_context(*st._counts(ii, j), st.ori))
                    if b:
                        mag[ii, j] |= bit
                        decode_sign(ii, j)
                        st.sig[ii + 1, j + 1] = 1
                for ii in range(k0, k0 + stripe_h):
                    st.vis[ii, j] = False
    out = mag.copy()
    out[neg.astype(bool)] = -out[neg.astype(bool)]
    return out


# ---------------------------------------------------------------------------
# Tier-2: packets (Annex B) and the codestream (Annex A)
# ---------------------------------------------------------------------------

_SOC = 0xFF4F
_SIZ = 0xFF51
_COD = 0xFF52
_QCD = 0xFF5C
_SOT = 0xFF90
_SOD = 0xFF93
_EOC = 0xFFD9
_COM = 0xFF64

_DEFAULT_CBLK = 6  # 64x64 code-blocks (2^6)


def _band_gain(ori: int) -> int:
    # log2 subband gain for the reversible transform: LL 0, HL/LH 1, HH 2
    return (0, 1, 1, 2)[ori]


def _split_blocks(shape: tuple[int, int], cb: int) -> list[tuple[int, int, int, int]]:
    """Raster-order (y0, x0, h, w) code-block tiles of a subband at
    origin 0 (band origins are 0 when the tile origin is 0)."""
    h, w = shape
    size = 1 << cb
    out = []
    for y0 in range(0, h, size):
        for x0 in range(0, w, size):
            out.append((y0, x0, min(size, h - y0), min(size, w - x0)))
    return out


def _put_numpasses(bw: _HeaderBitWriter, n: int) -> None:
    if n == 1:
        bw.put(0)
    elif n == 2:
        bw.put_bits(0b10, 2)
    elif n <= 5:
        bw.put_bits(0b11, 2)
        bw.put_bits(n - 3, 2)
    elif n <= 36:
        bw.put_bits(0b1111, 4)
        bw.put_bits(n - 6, 5)
    elif n <= 164:
        bw.put_bits(0b111111111, 9)
        bw.put_bits(n - 37, 7)
    else:
        raise ValueError(f"cannot signal {n} coding passes")


def _get_numpasses(br: _HeaderBitReader) -> int:
    if br.get() == 0:
        return 1
    if br.get() == 0:
        return 2
    v = br.get_bits(2)
    if v < 3:
        return 3 + v
    v = br.get_bits(5)
    if v < 31:
        return 6 + v
    return 37 + br.get_bits(7)


def encode_j2k_gray(arr: np.ndarray, levels: int = 2,
                    cblk_exp: int = _DEFAULT_CBLK,
                    delta: float | None = None,
                    qcd_style: str = "expounded") -> bytes:
    """HxW uint8/uint16/int16 ndarray → JPEG 2000 Part-1 codestream
    (single tile/component, one layer, LRCP, one precinct per
    resolution), the inverse of :func:`decode_j2k`.

    ``delta=None`` is lossless: reversible 5/3, no quantization (QCD
    style 0), bit-exact. A ``delta`` selects the irreversible path
    behind DICOM transfer syntax 1.2.840.10008.1.2.4.91 (the common
    lossy archival syntax the reference reaches through pydicom,
    generate_images_from_dicom.py:44-51): float 9/7 DWT (Annex F.4.8)
    and dead-zone scalar quantization (E.4) with per-subband steps.
    ``delta`` is the base step relative to unit dynamic range: the
    realized step per subband is ``delta · 2^prec / L2gain_b``, so
    image-domain error is roughly uniform across subbands and scales
    linearly with ``delta`` (≤ ~delta · 2^prec per sample, measured in
    tests). ``qcd_style`` signals those steps: 'expounded' (one (ε,μ)
    per subband, Sqcd style 2) or 'derived' (one value, ε_b = ε_0 − N +
    n_b, style 1)."""
    if arr.ndim != 2:
        raise ValueError("encode_j2k_gray expects a 2-D array")
    if arr.size == 0:
        raise ValueError("empty image")
    if arr.dtype == np.uint8:
        prec, signed = 8, False
    elif arr.dtype == np.uint16:
        prec, signed = 16, False
    elif arr.dtype == np.int16:
        prec, signed = 16, True
    else:
        raise ValueError(f"dtype {arr.dtype} unsupported")
    if delta is not None and not 0 < delta <= 1.0:
        raise ValueError("delta must be in (0, 1]")
    if qcd_style not in ("expounded", "derived"):
        raise ValueError("qcd_style must be 'expounded' or 'derived'")
    if not 4 <= cblk_exp <= 6:
        # xcb + ycb <= 12 for square blocks (A.6.1); 64x64 is the max
        raise ValueError("code-block exponent must be in 4..6")
    h, w = arr.shape
    if h > 32768 or w > 32768:
        # one precinct per resolution (PPx=PPy=15) covers <= 2^15
        raise ValueError("images beyond 32768 px/side unsupported "
                         "(single-precinct codestream layout)")
    if h * w > (1 << 26):
        # mirror of the decoder's allocation bound: encode and decode
        # must accept the SAME domain, or the documented roundtrip
        # contract breaks for large-but-legitimate images
        raise ValueError(
            f"image {w}x{h} exceeds 2^26-sample encode bound"
        )
    levels = max(0, min(int(levels), 32))

    samples = arr.astype(np.int64 if delta is None else np.float64)
    if not signed:
        samples -= 1 << (prec - 1)  # DC level shift (Annex G)
    if delta is None:
        resolutions = forward_dwt53(samples, levels)
        sub_eps = [
            prec + _band_gain(0 if r == 0 else bi + 1)
            for r, bands in enumerate(resolutions) for bi in range(len(bands))
        ]
        style, spqcd = 0, bytes(e << 3 for e in sub_eps)
    else:
        derived = qcd_style == "derived"
        resolutions, sub_eps, spqcd = _quantize97(
            forward_dwt97(samples, levels), prec, levels, delta, derived
        )
        style = 1 if derived else 2

    # guard bits: grow from 2 until Mb = ε_b + guard − 1 covers every
    # subband's largest magnitude (E.4.2)
    bands = [b for res in resolutions for b in res]
    need = max(int(np.abs(b).max()).bit_length() - e - 1 if b.size else 0
               for b, e in zip(bands, sub_eps))
    guard = 2 + max(0, need)
    if guard > 7:
        # the QCD guard-bit field is 3 bits; capping it would emit an
        # undecodable stream (negative zbp). Empirically unreachable
        # for 5/3 at prec<=16 (worst measured 17 bits vs Mb=24).
        raise ValueError(
            f"coefficient growth needs {guard} guard bits (QCD max 7); "
            + ("input exceeds reversible-5/3 headroom" if delta is None
               else "raise delta")
        )

    siz = struct.pack(
        ">HIIIIIIIIHBBB", 0, w, h, 0, 0, w, h, 0, 0, 1,
        (0x80 if signed else 0) | (prec - 1), 1, 1,
    )
    # COD: Scod=0, LRCP, 1 layer, no MCT; transform 1 = 5/3, 0 = 9/7
    cod = struct.pack(">BBHBBBBBB", 0, 0, 1, 0, levels, cblk_exp - 2,
                      cblk_exp - 2, 0, int(delta is None))
    qcd = bytes([(guard << 5) | style]) + spqcd
    body = _write_tile_body(resolutions, sub_eps, guard, cblk_exp)
    return b"".join([
        struct.pack(">H", _SOC),
        *(struct.pack(">HH", m, len(seg) + 2) + seg
          for m, seg in ((_SIZ, siz), (_COD, cod), (_QCD, qcd))),
        struct.pack(">HHHIBBH", _SOT, 10, 0, 12 + 2 + len(body), 0, 1, _SOD),
        body,
        struct.pack(">H", _EOC),
    ])


def _write_tile_body(resolutions: list[tuple[np.ndarray, ...]],
                     sub_eps: list[int], guard: int,
                     cblk_exp: int) -> bytearray:
    """Tier-2 tile body: one packet per resolution (LRCP, 1 layer, 1
    precinct) over integer subband coefficients — raw 5/3 coefficients
    on the reversible path, quantizer indices on the irreversible one;
    Mb per subband = ε_b + guard − 1 (E.4.2)."""
    body = bytearray()
    ei = 0
    for r, bands in enumerate(resolutions):
        bw = _HeaderBitWriter()
        segs: list[bytes] = []
        # per-subband block metadata for this packet
        incl_trees = []
        band_blocks = []
        for bi, band in enumerate(bands):
            ori = 0 if r == 0 else bi + 1
            mb = sub_eps[ei] + guard - 1
            ei += 1
            blocks = _split_blocks(band.shape, cblk_exp)
            nbx = max(1, -(-band.shape[1] // (1 << cblk_exp)))
            nby = max(1, -(-band.shape[0] // (1 << cblk_exp)))
            inc = _TagTree(nbx, nby)
            zbp = _TagTree(nbx, nby)
            infos = []
            for k, (y0, x0, bh, bw_) in enumerate(blocks):
                cb = band[y0:y0 + bh, x0:x0 + bw_]
                actual = int(np.abs(cb).max()) if cb.size else 0
                nb = actual.bit_length()
                bx, by = k % nbx, k // nbx
                if nb == 0:
                    inc.set_value(bx, by, 1)  # never included
                    zbp.set_value(bx, by, 0)
                    infos.append(None)
                else:
                    inc.set_value(bx, by, 0)
                    zbp.set_value(bx, by, mb - nb)
                    seg = _encode_block(cb, ori, nb)
                    infos.append((bx, by, 3 * nb - 2, seg))
            inc.finalize()
            zbp.finalize()
            incl_trees.append((inc, zbp))
            band_blocks.append(infos)
        any_included = any(
            info is not None for infos in band_blocks for info in infos
        )
        if not any_included:
            bw.put(0)  # empty packet
            body += bw.flush()
            continue
        bw.put(1)
        for (inc, zbp), infos in zip(incl_trees, band_blocks):
            nbx = inc.dims[0][0]
            for k, info in enumerate(infos):
                bx, by = k % nbx, k // nbx
                inc.encode(bw, bx, by, 1)
                if info is None:
                    continue
                _, _, npasses, seg = info
                # zero bit-planes on first inclusion
                leaf = zbp._path(bx, by)[-1]
                zbp.encode(bw, bx, by, leaf[0] + 1)
                _put_numpasses(bw, npasses)
                # Lblock signalling: length bits = lblock + floor(log2(np))
                lblock = 3
                nbits = len(seg).bit_length()
                base = npasses.bit_length() - 1
                while lblock + base < nbits:
                    bw.put(1)
                    lblock += 1
                bw.put(0)
                bw.put_bits(len(seg), lblock + base)
                segs.append(seg)
        body += bw.flush()
        for seg in segs:
            body += seg
    return body


def _quant_fields(delta: float, r_b: int) -> tuple[int, int, float]:
    """(ε_b, μ_b, realized Δ_b) for target step ``delta`` in subband
    with dynamic-range exponent ``r_b``: Δ_b = 2^(R_b−ε_b)·(1+μ_b/2^11)
    (T.800 E.4, eq E-3). The realized step is the closest representable
    value ≤ 12-bit mantissa precision from the target."""
    import math

    e = math.floor(math.log2(delta))
    mu = round((delta / (2.0 ** e) - 1.0) * 2048)
    if mu >= 2048:
        e += 1
        mu = 0
    eps = r_b - e
    if not 0 <= eps <= 31:
        raise ValueError(
            f"quantization step {delta} out of range for R_b={r_b} "
            f"(epsilon {eps} outside 0..31)"
        )
    return eps, mu, (2.0 ** e) * (1.0 + mu / 2048.0)


def _quantize97(resolutions: list[tuple[np.ndarray, ...]], prec: int,
                levels: int, delta: float, derived: bool
                ) -> tuple[list[tuple[np.ndarray, ...]], list[int], bytes]:
    """Dead-zone scalar quantization of 9/7 subbands,
    q = sign(c) · floor(|c| / Δ_b) (E.4.1) → (quantizer-index
    resolutions, per-subband ε_b, QCD SPqcd bytes). The 9/7 synthesis
    L2 gain grows ~2× per coarser level (the finest bands contribute
    their noise directly), so the base step ``delta · 2^prec`` is
    divided by 2^n_b, n_b = decomposition levels of subband b: each
    subband's noise then weighs about the same in the image. 'derived'
    signals one (ε_0, μ_0) and the decoder derives
    Δ_b = 2^(R_b − ε_b)(1+μ_0/2^11) with ε_b = ε_0 − N + n_b
    (E.4.2 eq E-5); 'expounded' signals one (ε_b, μ_b) per subband."""
    base = delta * (1 << prec)
    fields = []
    if derived:
        eps0, mu0, _d0 = _quant_fields(base / (1 << levels),
                                       prec + _band_gain(0))
        if eps0 - levels < 0 or eps0 > 31:
            raise ValueError("derived quantization exponent out of "
                             "range for this level count")
        fields.append((eps0, mu0))
    q_res, sub_eps = [], []
    for r, bands in enumerate(resolutions):
        n_b = levels - (0 if r == 0 else r - 1)
        qbands = []
        for bi, band in enumerate(bands):
            r_b = prec + _band_gain(0 if r == 0 else bi + 1)
            if derived:
                eps_b = eps0 - levels + n_b
                d_b = (2.0 ** (r_b - eps_b)) * (1.0 + mu0 / 2048.0)
            else:
                eps_b, mu_b, d_b = _quant_fields(base / (1 << n_b), r_b)
                fields.append((eps_b, mu_b))
            sub_eps.append(eps_b)
            qbands.append((np.sign(band)
                           * np.floor(np.abs(band) / d_b)).astype(np.int64))
        q_res.append(tuple(qbands))
    spqcd = b"".join(struct.pack(">H", (e << 11) | m) for e, m in fields)
    return q_res, sub_eps, spqcd


def decode_j2k(data: bytes) -> np.ndarray:
    """Lossless JPEG 2000 Part-1 codestream → 2-D ndarray (uint8,
    uint16 or int16 by Ssiz). Raises named ValueError on JP2 boxes,
    multi-component streams, irreversible transform, or truncation."""
    if len(data) >= 12 and data[4:8] == b"jP  ":
        raise ValueError(
            "JP2 box container unsupported (DICOM encapsulates raw "
            "codestreams); extract the contiguous codestream box"
        )
    if len(data) < 4 or struct.unpack(">H", data[:2])[0] != _SOC:
        raise ValueError("not a JPEG 2000 codestream (missing SOC)")
    pos = 2
    w = h = prec = None
    signed = False
    levels = cblk_exp = None
    guard = None
    reversible = True
    quant_style = 0
    sub_eps: list[int] = []
    quant_fields: list[tuple[int, int]] = []  # (eps, mu) per field
    body = None
    while pos + 2 <= len(data):
        marker = struct.unpack(">H", data[pos:pos + 2])[0]
        pos += 2
        if marker == _EOC:
            break
        if marker == _SOD:
            raise ValueError("SOD before SOT in JPEG 2000 codestream")
        if pos + 2 > len(data):
            raise ValueError("truncated JPEG 2000 codestream")
        ln = struct.unpack(">H", data[pos:pos + 2])[0]
        if ln < 2 or pos + ln > len(data):
            raise ValueError("truncated JPEG 2000 segment")
        seg = data[pos + 2:pos + ln]
        if marker == _SIZ:
            if len(seg) < 36 + 3:
                raise ValueError("truncated SIZ")
            (_rsiz, xsiz, ysiz, xo, yo, xt, yt, xto, yto,
             csiz) = struct.unpack(">HIIIIIIIIH", seg[:36])
            if csiz != 1:
                raise ValueError(
                    f"{csiz}-component JPEG 2000 unsupported (install "
                    "pydicom for full coverage)"
                )
            if xo or yo or xto or yto or xt != xsiz or yt != ysiz:
                raise ValueError(
                    "tiled / offset JPEG 2000 grids unsupported"
                )
            ssiz, xr, yr = seg[36], seg[37], seg[38]
            if xr != 1 or yr != 1:
                raise ValueError("subsampled components unsupported")
            signed = bool(ssiz & 0x80)
            prec = (ssiz & 0x7F) + 1
            if prec > 16:
                raise ValueError(f"precision {prec} > 16 unsupported")
            if xsiz > 32768 or ysiz > 32768:
                # the decoder assumes one precinct per resolution,
                # which T.800 B.6 only guarantees up to 2^15 px/side
                raise ValueError(
                    f"image {xsiz}x{ysiz} exceeds 32768-px "
                    "single-precinct bound (unsupported)"
                )
            if xsiz * ysiz > (1 << 26):
                # allocation bound: corrupt/crafted SIZ must raise a
                # named error, never MemoryError (fuzz contract)
                raise ValueError(
                    f"image {xsiz}x{ysiz} exceeds 2^26-sample "
                    "decode bound"
                )
            w, h = xsiz, ysiz
        elif marker == _COD:
            if len(seg) < 10:
                raise ValueError("truncated COD")
            scod, prog, nlayers, mct = struct.unpack(">BBHB", seg[:5])
            levels, xcb, ycb, cstyle, tform = seg[5:10]
            if scod & 1:
                raise ValueError("custom precinct sizes unsupported")
            if scod & 0x06:
                # SOP (0x02) / EPH (0x04) marker segments interleave
                # the packet stream; parsing them as packet data would
                # misparse — refuse with a named capability error
                raise ValueError(
                    "SOP/EPH marker segments unsupported "
                    f"(Scod=0x{scod:02x})"
                )
            if nlayers != 1:
                raise ValueError(
                    f"{nlayers}-layer JPEG 2000 unsupported"
                )
            if mct:
                raise ValueError("component transform on 1 component")
            if cstyle:
                raise ValueError(
                    f"code-block style 0x{cstyle:02x} unsupported "
                    "(bypass/reset/termall/causal/segsym)"
                )
            if tform not in (0, 1):
                raise ValueError(f"unknown wavelet transform {tform}")
            reversible = tform == 1
            if xcb != ycb:
                raise ValueError("non-square code-blocks unsupported")
            cblk_exp = xcb + 2
        elif marker == _QCD:
            if not seg:
                raise ValueError("truncated QCD")
            sqcd = seg[0]
            quant_style = sqcd & 0x1F
            guard = sqcd >> 5
            if quant_style == 0:
                # no quantization (reversible): 8-bit ε fields
                sub_eps = [b >> 3 for b in seg[1:]]
            elif quant_style in (1, 2):
                # scalar derived / expounded: 16-bit (ε<<11|μ) fields
                if (len(seg) - 1) % 2:
                    raise ValueError("odd QCD quantization field bytes")
                quant_fields = [
                    (v >> 11, v & 0x7FF)
                    for (v,) in struct.iter_unpack(">H", seg[1:])
                ]
                if not quant_fields:
                    raise ValueError("QCD carries no quantization "
                                     "fields")
            else:
                raise ValueError(
                    f"QCD quantization style {quant_style} unknown"
                )
        elif marker == _SOT:
            if len(seg) < 8:
                raise ValueError("truncated SOT")
            _isot, psot, _tpsot, _tnsot = struct.unpack(">HIBB", seg[:8])
            if _isot != 0 or _tpsot != 0:
                raise ValueError("multi-tile / tile-part JPEG 2000 "
                                 "codestreams unsupported")
            sod_pos = pos + ln
            if struct.unpack(">H", data[sod_pos:sod_pos + 2])[0] != _SOD:
                raise ValueError("SOT not followed by SOD")
            body_start = sod_pos + 2
            body_end = pos - 2 + psot if psot else len(data) - 2
            if body_end > len(data):
                raise ValueError("truncated JPEG 2000 tile")
            body = data[body_start:body_end]
            pos = body_end
            continue
        pos += ln
    if w is None or levels is None or guard is None:
        raise ValueError("missing SIZ/COD/QCD")
    if body is None:
        raise ValueError("missing tile data (SOT/SOD)")
    if reversible and quant_style != 0:
        raise ValueError(
            "reversible 5/3 transform with quantized QCD "
            f"(style {quant_style}) is inconsistent"
        )
    if not reversible and quant_style == 0:
        raise ValueError(
            "irreversible 9/7 transform requires a quantized QCD "
            "(style 1 or 2), got style 0"
        )
    n_sub = 3 * levels + 1
    deltas: list[float] = []
    if quant_style == 1:
        # derived: ε_b = ε_0 − N + n_b (E.4.2 eq E-5), one (ε0, μ0)
        if len(quant_fields) != 1:
            raise ValueError("derived QCD must carry exactly one "
                             "quantization field")
        eps0, mu0 = quant_fields[0]
        sub_eps = []
        for r in range(levels + 1):
            n_b = levels if r == 0 else levels - r + 1
            oris = (0,) if r == 0 else (1, 2, 3)
            for ori in oris:
                eps_b = eps0 - levels + n_b
                if eps_b < 0:
                    raise ValueError("derived QCD exponent underflow")
                r_b = prec + _band_gain(ori)
                sub_eps.append(eps_b)
                deltas.append(
                    (2.0 ** (r_b - eps_b)) * (1.0 + mu0 / 2048.0)
                )
    elif quant_style == 2:
        if len(quant_fields) != n_sub:
            raise ValueError("QCD subband count mismatch")
        sub_eps = [e for e, _m in quant_fields]
        deltas = []
        fi = 0
        for r in range(levels + 1):
            oris = (0,) if r == 0 else (1, 2, 3)
            for ori in oris:
                eps_b, mu_b = quant_fields[fi]
                fi += 1
                r_b = prec + _band_gain(ori)
                deltas.append(
                    (2.0 ** (r_b - eps_b)) * (1.0 + mu_b / 2048.0)
                )
    if len(sub_eps) != n_sub:
        raise ValueError("QCD subband count mismatch")

    # reconstruct subband geometry (origin-0: repeated ceil/floor)
    dims = [(h, w)]
    for _ in range(levels):
        ph, pw = dims[-1]
        dims.append(((ph + 1) // 2, (pw + 1) // 2))
    # dims[l] = LL_l size; resolution r bands
    resolutions: list[list[tuple[int, int, int]]] = []  # (ori, bh, bw)
    resolutions.append([(0, dims[levels][0], dims[levels][1])])
    for r in range(1, levels + 1):
        lvl = levels - r + 1
        ph, pw = dims[lvl - 1]
        lh_, lw_ = dims[lvl]
        hh_, hw_ = ph - lh_, pw - lw_
        resolutions.append([(1, lh_, hw_), (2, hh_, lw_), (3, hh_, hw_)])

    bands_out: list[list[np.ndarray]] = []
    bpos = 0
    ei = 0
    for r, bands in enumerate(resolutions):
        br = _HeaderBitReader(body, bpos)
        decoded: list[np.ndarray] = []
        pending: list[tuple] = []
        if br.get() == 0:
            bpos = br.align()
            for ori, bh, bw_ in bands:
                decoded.append(np.zeros((bh, bw_), dtype=np.int64))
                ei += 1
            bands_out.append(decoded)
            continue
        for ori, bh, bw_ in bands:
            mb = sub_eps[ei] + guard - 1
            ei += 1
            blocks = _split_blocks((bh, bw_), cblk_exp)
            nbx = max(1, -(-bw_ // (1 << cblk_exp)))
            nby = max(1, -(-bh // (1 << cblk_exp)))
            inc = _TagTree(nbx, nby)
            zbp = _TagTree(nbx, nby)
            band_arr = np.zeros((bh, bw_), dtype=np.int64)
            decoded.append(band_arr)
            for k, (y0, x0, cbh, cbw) in enumerate(blocks):
                bx, by = k % nbx, k // nbx
                if not inc.decode(br, bx, by, 1):
                    continue
                zp = zbp.decode_value(br, bx, by)
                npasses = _get_numpasses(br)
                nplanes = mb - zp
                if nplanes <= 0 or 3 * nplanes - 2 != npasses:
                    raise ValueError(
                        "inconsistent JPEG 2000 pass count "
                        f"(planes={nplanes}, passes={npasses})"
                    )
                lblock = 3
                while br.get():
                    lblock += 1
                nbits = lblock + (npasses.bit_length() - 1)
                seglen = br.get_bits(nbits)
                pending.append(
                    (band_arr, y0, x0, cbh, cbw, ori, nplanes, seglen)
                )
        bpos = br.align()
        for band_arr, y0, x0, cbh, cbw, ori, nplanes, seglen in pending:
            if bpos + seglen > len(body):
                raise ValueError("truncated JPEG 2000 packet body")
            seg = body[bpos:bpos + seglen]
            bpos += seglen
            band_arr[y0:y0 + cbh, x0:x0 + cbw] = _decode_block(
                seg, cbh, cbw, ori, nplanes
            )
        bands_out.append(decoded)

    tup_bands: list[tuple[np.ndarray, ...]] = [tuple(bands_out[0])]
    for r in range(1, levels + 1):
        tup_bands.append(tuple(bands_out[r]))
    lo = -(1 << (prec - 1)) if signed else 0
    hi = (1 << (prec - 1)) - 1 if signed else (1 << prec) - 1
    if reversible:
        samples = inverse_dwt53(tup_bands)
        if not signed:
            samples += 1 << (prec - 1)
        if samples.min() < lo or samples.max() > hi:
            raise ValueError("decoded JPEG 2000 samples out of range")
    else:
        # dequantize: ĉ = (q ± ½)·Δ_b for q ≠ 0 (midpoint
        # reconstruction, E.4.1), then inverse 9/7 float DWT, round,
        # clamp — lossy output clamps instead of raising (quantization
        # noise may legitimately overshoot the range by < 1 step)
        di = 0
        fbands: list[tuple[np.ndarray, ...]] = []
        for r, bands in enumerate(tup_bands):
            fb = []
            for q in bands:
                d_b = deltas[di]
                di += 1
                fb.append(
                    np.where(q != 0, (q + 0.5 * np.sign(q)) * d_b, 0.0)
                )
            fbands.append(tuple(fb))
        samples = np.rint(inverse_dwt97(fbands)).astype(np.int64)
        if not signed:
            samples += 1 << (prec - 1)
        samples = np.clip(samples, lo, hi)
    dt = (np.int16 if signed
          else (np.uint8 if prec <= 8 else np.uint16))
    return samples.astype(dt)
