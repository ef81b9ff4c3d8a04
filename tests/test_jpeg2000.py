"""JPEG 2000 codec (functions/jpeg2000.py) — ISO/IEC 15444-1 lossless
path, layer by layer: 5/3 DWT, MQ coder, tag trees, EBCOT block
coder, full codestream, DICOM encapsulation, error contracts, and
seeded mutation fuzz (the jpeg.py/jpegls.py contract: corrupt input
raises ValueError, never IndexError/struct.error/hang).

Reference behavior: the reference pipeline decodes .4.90 DICOMs
through pydicom+openjpeg (generate_images_from_dicom.py:44-51); this
codec is the zero-dependency equivalent for the lossless syntax.
"""

from __future__ import annotations

import numpy as np
import pytest

from data_pipeline_rsna_spark.functions import codecs as C
from data_pipeline_rsna_spark.functions import jpeg2000 as J


# ---------------------------------------------------------------------------
# reversible 5/3 DWT (Annex F.4)
# ---------------------------------------------------------------------------


def test_dwt53_1d_known_values():
    # n=2: d0 = x1 - x0 (boundary reflects x[2] -> x[0]);
    # s0 = x0 + floor((2*d0 + 2) / 4)
    s, d = J._fwd53_1d(np.array([10, 14], dtype=np.int64))
    assert list(d) == [4] and list(s) == [12]
    assert list(J._inv53_1d(s, d)) == [10, 14]


@pytest.mark.parametrize("levels", [0, 1, 2, 3, 5])
def test_dwt53_2d_bit_exact_roundtrip(levels):
    rng = np.random.default_rng(7)
    for shape in [(1, 1), (1, 9), (9, 1), (2, 2), (5, 5), (8, 13),
                  (16, 16), (17, 31)]:
        a = rng.integers(-40000, 40000, size=shape).astype(np.int64)
        back = J.inverse_dwt53(J.forward_dwt53(a, levels))
        assert np.array_equal(a, back), (shape, levels)


def test_dwt53_subband_shapes():
    # ceil/floor split per level; HL is high-pass horizontally
    bands = J.forward_dwt53(np.zeros((7, 10), dtype=np.int64), 1)
    (ll,), (hl, lh, hh) = bands
    assert ll.shape == (4, 5) and hl.shape == (4, 5)
    assert lh.shape == (3, 5) and hh.shape == (3, 5)


# ---------------------------------------------------------------------------
# MQ arithmetic coder (Annex C)
# ---------------------------------------------------------------------------


def test_mq_roundtrip_randomized_contexts():
    rng = np.random.default_rng(42)
    for trial in range(40):
        n = int(rng.integers(1, 3000))
        ctxs = rng.integers(0, J._N_CTX, size=n)
        bits = (rng.random(n) < rng.uniform(0.02, 0.98)).astype(int)
        enc = J._MQEncoder()
        for c, b in zip(ctxs, bits):
            enc.encode(int(c), int(b))
        dec = J._MQDecoder(enc.flush())
        assert [dec.decode(int(c)) for c in ctxs] == list(bits), trial


def test_mq_skewed_stream_compresses():
    # 10k MPS-heavy bits must land far below 10k/8 bytes — the whole
    # point of the adaptive coder
    enc = J._MQEncoder()
    for i in range(10000):
        enc.encode(0, 1 if i % 97 == 0 else 0)
    stream = enc.flush()
    assert len(stream) < 300
    dec = J._MQDecoder(stream)
    assert all(
        dec.decode(0) == (1 if i % 97 == 0 else 0) for i in range(10000)
    )


def test_mq_empty_segment_decodes_as_all_mps():
    # the encoder drops trailing 0xFF bytes; the decoder regenerates
    # them by feeding 1s — an empty segment is legal
    dec = J._MQDecoder(b"")
    assert isinstance(dec.decode(0), int)


# ---------------------------------------------------------------------------
# tag trees + header bit I/O (B.10)
# ---------------------------------------------------------------------------


def test_tagtree_roundtrip_randomized():
    rng = np.random.default_rng(3)
    for trial in range(40):
        w, h = int(rng.integers(1, 7)), int(rng.integers(1, 7))
        vals = rng.integers(0, 6, size=(h, w))
        enc_t, dec_t = J._TagTree(w, h), J._TagTree(w, h)
        for y in range(h):
            for x in range(w):
                enc_t.set_value(x, y, int(vals[y, x]))
        enc_t.finalize()
        bw = J._HeaderBitWriter()
        for y in range(h):
            for x in range(w):
                enc_t.encode(bw, x, y, int(vals[y, x]) + 1)
        br = J._HeaderBitReader(bw.flush(), 0)
        for y in range(h):
            for x in range(w):
                assert dec_t.decode_value(br, x, y) == vals[y, x], trial


def test_header_bit_stuffing_after_ff():
    # 8 one-bits make 0xFF; the next byte must carry only 7 bits with
    # a forced-0 MSB, and the reader must mirror that
    bw = J._HeaderBitWriter()
    for _ in range(8):
        bw.put(1)
    bw.put_bits(0b1010101, 7)
    data = bw.flush()
    assert data[0] == 0xFF and data[1] == 0b1010101  # MSB of byte 2 unused
    br = J._HeaderBitReader(data, 0)
    assert br.get_bits(8) == 0xFF and br.get_bits(7) == 0b1010101


def test_header_reader_rejects_bad_stuffing():
    br = J._HeaderBitReader(b"\xff\xc0", 0)
    br.get_bits(8)
    with pytest.raises(ValueError, match="stuffing"):
        br.get()


# ---------------------------------------------------------------------------
# EBCOT Tier-1 block coder (Annex D)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("ori", [0, 1, 2, 3])
def test_block_coder_roundtrip_all_orientations(ori):
    rng = np.random.default_rng(100 + ori)
    for shape in [(1, 1), (4, 4), (3, 17), (17, 3), (19, 13)]:
        mask = rng.integers(0, 2, size=shape)
        coefs = (mask * rng.integers(-4000, 4001, size=shape)).astype(
            np.int64
        )
        nb = int(np.abs(coefs).max()).bit_length()
        if nb == 0:
            coefs[0, 0] = 1
            nb = 1
        seg = J._encode_block(coefs, ori, nb)
        assert np.array_equal(
            J._decode_block(seg, *shape, ori, nb), coefs
        ), shape


def test_block_coder_run_mode_sparse_column():
    # an all-zero block except one deep coefficient exercises the
    # cleanup run-length + interrupt position path
    coefs = np.zeros((8, 8), dtype=np.int64)
    coefs[6, 3] = -5
    seg = J._encode_block(coefs, 0, 3)
    assert np.array_equal(J._decode_block(seg, 8, 8, 0, 3), coefs)
    assert len(seg) < 20  # run mode must collapse the zeros


# ---------------------------------------------------------------------------
# full codestream (Annex A/B)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("dt,lo,hi", [
    (np.uint8, 0, 256), (np.uint16, 0, 65536), (np.int16, -32768, 32768),
])
@pytest.mark.parametrize("levels", [0, 1, 2, 5])
def test_codestream_roundtrip_dtypes_levels(dt, lo, hi, levels):
    rng = np.random.default_rng(11)
    for shape in [(1, 1), (1, 7), (5, 5), (12, 11), (33, 40)]:
        a = rng.integers(lo, hi, size=shape).astype(dt)
        b = J.decode_j2k(J.encode_j2k_gray(a, levels=levels))
        assert b.dtype == a.dtype and np.array_equal(a, b), shape


def test_codestream_multi_codeblock_grid():
    # 70x90 at cblk 64 -> 2x2 LL0 block grid when levels=0, and
    # multi-block packets at levels=2: exercises tag-tree inclusion
    # over a real grid, not just 1x1
    rng = np.random.default_rng(23)
    a = rng.integers(0, 65536, size=(70, 90)).astype(np.uint16)
    for lv in (0, 2):
        assert np.array_equal(J.decode_j2k(J.encode_j2k_gray(a, levels=lv)), a)


def test_codestream_smooth_image_compresses():
    x = np.arange(100)
    img = (np.add.outer(x * 3, x * 5) % 4096).astype(np.uint16)
    s = J.encode_j2k_gray(img, levels=3)
    assert np.array_equal(J.decode_j2k(s), img)
    assert img.nbytes / len(s) > 20  # smooth gradients collapse in H bands


def test_codestream_constant_image_not_included_path():
    c = np.full((40, 40), 777, dtype=np.uint16)
    s = J.encode_j2k_gray(c, levels=2)
    assert np.array_equal(J.decode_j2k(s), c)
    assert len(s) < 200  # all-zero H blocks are never included


def test_codestream_named_error_contracts():
    a = np.zeros((4, 4), dtype=np.uint8)
    with pytest.raises(ValueError, match="2-D"):
        J.encode_j2k_gray(np.zeros(4, dtype=np.uint8))
    with pytest.raises(ValueError, match="code-block exponent"):
        J.encode_j2k_gray(a, cblk_exp=8)
    with pytest.raises(ValueError, match="SOC"):
        J.decode_j2k(b"\x00\x01\x02\x03")
    # JP2 box container (not what DICOM encapsulates)
    jp2 = b"\x00\x00\x00\x0cjP  \r\n\x87\n" + J.encode_j2k_gray(a)
    with pytest.raises(ValueError, match="JP2 box"):
        J.decode_j2k(jp2)
    # 9/7 flag on a reversible-QCD stream: the transform/quantization
    # combination is inconsistent (9/7 decodes fine since round 9, but
    # only with a quantized QCD) — named error, not a misdecode
    s = bytearray(J.encode_j2k_gray(a))
    cod = s.find(b"\xff\x52")
    s[cod + 13] = 0  # SPcod transform byte: 1 (5/3) -> 0 (9/7)
    with pytest.raises(ValueError, match="9/7.*quantized QCD"):
        J.decode_j2k(bytes(s))
    # conversely: quantized QCD style on a 5/3 stream is inconsistent
    s = bytearray(J.encode_j2k_gray(a, delta=1 / 64))
    cod = s.find(b"\xff\x52")
    s[cod + 13] = 1  # claim reversible 5/3 against a quantized QCD
    with pytest.raises(ValueError, match="reversible.*inconsistent"):
        J.decode_j2k(bytes(s))
    # multi-component SIZ
    s = bytearray(J.encode_j2k_gray(a))
    siz = s.find(b"\xff\x51")
    s[siz + 39] = 3  # Csiz low byte
    with pytest.raises(ValueError, match="component"):
        J.decode_j2k(bytes(s))


def test_codestream_sop_eph_named_capability_error():
    """Scod bits 0x02/0x04 (SOP/EPH marker segments) interleave the
    packet stream; silently ignoring them misparses packet data — the
    decoder must refuse with a named error, not a stuffing error."""
    a = np.zeros((4, 4), dtype=np.uint8)
    for bit in (0x02, 0x04, 0x06):
        s = bytearray(J.encode_j2k_gray(a))
        cod = s.find(b"\xff\x52")
        s[cod + 4] |= bit  # Scod byte
        with pytest.raises(ValueError, match="SOP/EPH"):
            J.decode_j2k(bytes(s))


def test_codestream_oversized_siz_named_errors_not_memoryerror():
    """Crafted SIZ dims must raise named ValueErrors before any
    allocation: >32768/side breaks the single-precinct assumption;
    >2^26 samples breaks the allocation bound (fuzz contract)."""
    import struct as _struct
    a = np.zeros((4, 4), dtype=np.uint8)
    base = J.encode_j2k_gray(a)
    siz = base.find(b"\xff\x51")

    def with_dims(xs, ys):
        s = bytearray(base)
        s[siz + 6:siz + 10] = _struct.pack(">I", xs)   # Xsiz
        s[siz + 10:siz + 14] = _struct.pack(">I", ys)  # Ysiz
        s[siz + 22:siz + 26] = _struct.pack(">I", xs)  # XTsiz
        s[siz + 26:siz + 30] = _struct.pack(">I", ys)  # YTsiz
        return bytes(s)

    with pytest.raises(ValueError, match="32768"):
        J.decode_j2k(with_dims(1 << 31, 4))
    with pytest.raises(ValueError, match="32768"):
        J.decode_j2k(with_dims(4, 40000))
    with pytest.raises(ValueError, match="2\\^26"):
        J.decode_j2k(with_dims(16384, 16384))


def test_codestream_truncation_raises_valueerror():
    a = np.arange(400, dtype=np.uint16).reshape(20, 20)
    full = J.encode_j2k_gray(a, levels=1)
    for cut in (3, 10, len(full) // 2, len(full) - 3):
        try:
            out = J.decode_j2k(full[:cut])
            # MQ 1-feeding can make short tails decode; output must
            # still be well-formed if it does
            assert out.shape == (20, 20)
        except ValueError:
            pass


def test_codestream_mutated_streams_raise_valueerror_never_crash():
    """Seeded byte-mutation fuzz (the jpeg.py r7 contract, extended):
    corrupt streams either decode (mutation hit a don't-care bit) or
    raise ValueError — never IndexError/struct.error/infinite loop."""
    img = np.random.default_rng(0).integers(0, 65536, (9, 9)).astype(
        np.uint16
    )
    enc = bytearray(J.encode_j2k_gray(img, levels=1))
    for trial in range(300):
        blob = bytearray(enc)
        r = np.random.default_rng(trial)
        for _ in range(r.integers(1, 4)):
            blob[r.integers(0, len(blob))] = r.integers(0, 256)
        try:
            J.decode_j2k(bytes(blob))
        except ValueError:
            pass


# ---------------------------------------------------------------------------
# DICOM encapsulation (.4.90)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("dt", [np.uint8, np.uint16, np.int16])
def test_dicom_j2k_roundtrip_dtypes(dt):
    rng = np.random.default_rng(5)
    info = np.iinfo(dt)
    a = rng.integers(info.min, int(info.max) + 1, size=(12, 11)).astype(dt)
    blob = C.encode_dicom_j2k(a)
    assert b"1.2.840.10008.1.2.4.90" in blob
    out = C.decode_dicom_gray(blob)
    assert out.dtype == a.dtype and np.array_equal(out, a)


def test_dicom_j2k_shape_mismatch_rejected():
    a = np.zeros((8, 8), dtype=np.uint8)
    blob = bytearray(C.encode_dicom_j2k(a))
    # corrupt Rows (0028,0010) to 9: frame/Rows mismatch must be named
    import struct as _struct

    tag = _struct.pack("<HH", 0x0028, 0x0010) + b"US"
    at = blob.find(tag)
    blob[at + 8:at + 10] = _struct.pack("<H", 9)  # tag(4)+VR(2)+len(2)
    with pytest.raises(ValueError, match="Rows/Cols"):
        C.decode_dicom_gray(bytes(blob))


# ---------------------------------------------------------------------------
# irreversible 9/7 (round 9, VERDICT r8 #3)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("levels", [0, 1, 2, 3])
def test_dwt97_roundtrip_float_exact(levels):
    rng = np.random.default_rng(11)
    for shape in [(8, 8), (7, 9), (1, 5), (5, 1), (1, 1), (37, 53)]:
        a = rng.normal(0, 1000, shape)
        r = J.inverse_dwt97(J.forward_dwt97(a, levels))
        assert np.allclose(r, a, atol=1e-8), (shape, levels)


def test_dwt97_constant_image_invariants():
    """DC gain 1: a constant image transforms to LL == the constant
    and all high bands ~0 — pins the K-scaling convention."""
    c = np.full((12, 10), 7.0)
    bands = J.forward_dwt97(c, 2)
    assert np.allclose(bands[0][0], 7.0, atol=1e-9)
    for lvl in bands[1:]:
        for b in lvl:
            assert np.abs(b).max() < 1e-9


@pytest.mark.parametrize("dt,lo,hi", [
    (np.uint8, 0, 256), (np.uint16, 0, 65536), (np.int16, -32768, 32768),
])
@pytest.mark.parametrize("style", ["expounded", "derived"])
def test_lossy_roundtrip_error_bound(dt, lo, hi, style):
    """decode(encode_lossy(x, delta)) stays within ~delta·range of x
    for every dtype, both QCD signalling styles, several levels and
    odd dimensions — the documented quality contract."""
    rng = np.random.default_rng(13)
    a = rng.integers(lo, hi, (33, 41)).astype(dt)
    rng2 = np.random.default_rng(14)
    for levels in (0, 1, 2, 3):
        for delta in (1 / 256, 1 / 64):
            s = J.encode_j2k_gray(
                a, levels=levels, delta=delta, qcd_style=style
            )
            out = J.decode_j2k(s)
            assert out.dtype == a.dtype and out.shape == a.shape
            err = np.abs(
                out.astype(np.int64) - a.astype(np.int64)
            ).max()
            assert err <= 1.5 * delta * (hi - lo), (
                style, levels, delta, err
            )
    del rng2


def test_lossy_compresses_smooth_images():
    """The point of the lossy path: a smooth image at moderate delta
    compresses far below the lossless stream."""
    x = np.arange(64)[:, None] + np.arange(96)[None, :]
    img = ((np.sin(x / 9.0) * 100) + 120).astype(np.uint8)
    lossless = J.encode_j2k_gray(img, levels=3)
    lossy = J.encode_j2k_gray(img, levels=3, delta=1 / 32)
    assert len(lossy) < len(lossless) * 0.5
    out = J.decode_j2k(lossy)
    err = np.abs(out.astype(np.int64) - img.astype(np.int64)).max()
    assert err <= 1.5 * (1 / 32) * 256


def test_lossy_constant_image_reconstructs_exactly():
    c = np.full((16, 16), 200, dtype=np.uint8)
    for style in ("expounded", "derived"):
        out = J.decode_j2k(
            J.encode_j2k_gray(c, delta=1 / 64, qcd_style=style)
        )
        assert np.array_equal(out, c)


def test_lossy_named_error_contracts():
    a = np.zeros((8, 8), dtype=np.uint8)
    with pytest.raises(ValueError, match="2-D"):
        J.encode_j2k_gray(np.zeros(4, dtype=np.uint8), delta=1 / 64)
    with pytest.raises(ValueError, match="delta"):
        J.encode_j2k_gray(a, delta=0.0)
    with pytest.raises(ValueError, match="qcd_style"):
        J.encode_j2k_gray(a, delta=1 / 64, qcd_style="nope")
    # derived QCD must carry exactly one field
    s = bytearray(J.encode_j2k_gray(a, delta=1 / 64,
                                       qcd_style="expounded"))
    qcd = s.find(b"\xff\x5c")
    s[qcd + 4] = (s[qcd + 4] & 0xE0) | 1  # claim derived, many fields
    with pytest.raises(ValueError, match="exactly one"):
        J.decode_j2k(bytes(s))


def test_lossy_mutated_streams_raise_valueerror_never_crash():
    """The fuzz contract extends to the 9/7 path: every seeded
    mutation either decodes to a well-formed image or raises
    ValueError — never IndexError/struct.error/MemoryError."""
    rng = np.random.default_rng(15)
    img = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    base = J.encode_j2k_gray(img, levels=2, delta=1 / 64)
    muts = 0
    for seed in range(120):
        r = np.random.default_rng(seed)
        b = bytearray(base)
        for _ in range(r.integers(1, 4)):
            b[r.integers(0, len(b))] = r.integers(0, 256)
        try:
            out = J.decode_j2k(bytes(b))
            assert out.ndim == 2
        except ValueError:
            muts += 1
    assert muts > 0  # mutations actually exercised the error paths


# ---------------------------------------------------------------------------
# encode/decode domain symmetry (ADVICE r9)
# ---------------------------------------------------------------------------


def test_encode_decode_accept_same_sample_domain():
    """Encode and decode must accept the SAME domain: the decoder's
    2^26-sample allocation bound is mirrored by the encoder on both its
    reversible and irreversible paths, so no legitimate image encodes to a stream its own decoder rejects."""
    too_big = np.zeros((8192 + 1, 8192), dtype=np.uint8)  # > 2^26 samples
    with pytest.raises(ValueError, match="2\\^26-sample encode bound"):
        J.encode_j2k_gray(too_big)
    with pytest.raises(ValueError, match="2\\^26-sample encode bound"):
        J.encode_j2k_gray(too_big, delta=1 / 64)
