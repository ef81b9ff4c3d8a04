"""Stdlib PNG/DICOM codecs: roundtrips, filter coverage, the Spark
codec-roundtrip chain, and the PNG directory sink (O7/O10)."""

from __future__ import annotations

import glob
import hashlib
import os
import struct
import zlib

import numpy as np
import pytest

from data_pipeline_rsna_spark.functions import codecs as C
from data_pipeline_rsna_spark.functions import jpeg2000 as JK


@pytest.fixture(scope="module")
def arr():
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, (37, 53), dtype=np.uint8)


def test_png_roundtrip_and_signature(arr):
    png = C.encode_png_gray(arr)
    assert png[:8] == b"\x89PNG\r\n\x1a\n"
    assert np.array_equal(C.decode_png_gray(png), arr)


def test_png_decoder_handles_all_filter_types(arr):
    """Other encoders choose filters adaptively — the decoder must undo
    Sub/Up/Average/Paeth, not just the filter-0 rows our encoder emits.
    Build streams filtered entirely with each type and decode them."""
    h, w = arr.shape

    def enc(ftype):
        lines, prev = [], np.zeros(w, np.int64)
        for y in range(h):
            cur = arr[y].astype(np.int64)
            f = cur.copy()
            if ftype == 1:
                f[1:] = (cur[1:] - cur[:-1]) % 256
            elif ftype == 2:
                f = (cur - prev) % 256
            elif ftype == 3:
                f[0] = (cur[0] - prev[0] // 2) % 256
                for x in range(1, w):
                    f[x] = (cur[x] - (cur[x - 1] + prev[x]) // 2) % 256
            elif ftype == 4:
                f[0] = (cur[0] - C._paeth(0, int(prev[0]), 0)) % 256
                for x in range(1, w):
                    f[x] = (
                        cur[x]
                        - C._paeth(int(cur[x - 1]), int(prev[x]),
                                   int(prev[x - 1]))
                    ) % 256
            lines.append(bytes([ftype]) + bytes(f.astype(np.uint8)))
            prev = cur
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        return (
            C._PNG_SIG
            + C._chunk(b"IHDR", ihdr)
            + C._chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + C._chunk(b"IEND", b"")
        )

    for ft in (1, 2, 3, 4):
        assert np.array_equal(C.decode_png_gray(enc(ft)), arr), f"filter {ft}"


@pytest.mark.parametrize("dt", [np.uint8, np.uint16, np.int16])
def test_dicom_roundtrip_dtypes(arr, dt):
    a = arr.astype(dt) if dt == np.uint8 else (arr.astype(dt) * 3 - 100)
    a = a.astype(dt)
    data = C.encode_dicom_gray(a)
    assert data[128:132] == b"DICM"
    back = C.decode_dicom_gray(data)
    assert back.dtype == a.dtype and np.array_equal(back, a)


def test_dicom_rejects_garbage():
    with pytest.raises(ValueError):
        C.decode_dicom_gray(b"\x00" * 200)
    with pytest.raises(ValueError):
        C.decode_png_gray(b"JFIF not a png")


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from hypothesis.extra.numpy import arrays

    @given(
        arr=arrays(
            np.uint8,
            st.tuples(
                st.integers(1, 40), st.integers(1, 40)
            ),
            elements=st.integers(0, 255),
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_png_roundtrip_property(arr):
        assert np.array_equal(C.decode_png_gray(C.encode_png_gray(arr)), arr)

    @given(
        arr=arrays(
            np.int16,
            st.tuples(st.integers(1, 24), st.integers(1, 24)),
            elements=st.integers(-(2 ** 15), 2 ** 15 - 1),
        )
    )
    @settings(max_examples=40, deadline=None)
    def test_dicom_roundtrip_property(arr):
        back = C.decode_dicom_gray(C.encode_dicom_gray(arr))
        assert back.dtype == np.int16 and np.array_equal(back, arr)

except ImportError:  # pragma: no cover - hypothesis always present here
    pass


@pytest.mark.slow
def test_spark_codec_roundtrip_preserves_pixels(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm

    imgs = mm.synth_images(spark, n=8, height=16, width=16)
    before = {r.img_id: r.pixels for r in imgs.collect()}
    after = {r.img_id: r.pixels for r in mm.codec_roundtrip(imgs).collect()}
    assert before == after


def test_png_dir_sink_writes_decodable_files(spark, tmp_path):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    from data_pipeline_rsna_spark.sinks.images import write_png_dir

    imgs = mm.synth_images(spark, n=6, height=16, width=16)
    manifest = write_png_dir(imgs, str(tmp_path / "png_out")).collect()
    assert len(manifest) == 6
    files = sorted(glob.glob(str(tmp_path / "png_out" / "*.png")))
    assert len(files) == 6
    # each file is renamed into place: no temporary names are left over
    assert sorted(os.listdir(tmp_path / "png_out")) == sorted(
        f"{r.img_id}.png" for r in manifest
    )
    # every written file decodes back to the closed-form pixels
    for r in manifest:
        got = C.decode_png_gray(open(r.file, "rb").read())
        want = (
            (r.img_id * 31 + np.arange(256, dtype=np.int64) * 7) % 256
        ).astype(np.uint8).reshape(16, 16)
        assert np.array_equal(got, want)


def test_encode_png_bytescales_uint16_like_imsave():
    """Non-uint8 input must min-max rescale to uint8 (scipy.misc.imsave's
    implicit bytescale, the reference's PNG write semantics) — not wrap
    mod 256."""
    from data_pipeline_rsna_spark.operators.multimodal import bytescale, encode_png

    ramp = (np.arange(256, dtype=np.uint16) * 257).reshape(16, 16)  # 0..65535
    got = C.decode_png_gray(encode_png(ramp))
    want = np.arange(256, dtype=np.uint8).reshape(16, 16)
    assert np.array_equal(got, want)
    # uint8 passes through untouched
    u8 = np.arange(256, dtype=np.uint8).reshape(16, 16)
    assert bytescale(u8) is u8
    # constant non-uint8 images map to zeros (no divide-by-zero)
    const = np.full((4, 4), 1234, dtype=np.int32)
    assert np.array_equal(bytescale(const), np.zeros((4, 4), np.uint8))
    # int16 with negatives rescales, never wraps
    signed = np.array([[-100, 0], [100, 300]], dtype=np.int16)
    out = bytescale(signed)
    assert out.dtype == np.uint8
    assert out[0, 0] == 0 and out[1, 1] == 255


def test_label_map_binary_truncated_varint_raises_valueerror():
    """A truncated varint must raise a clean ValueError (parse error),
    not IndexError — so read_label_map's try-text-then-binary order
    degrades cleanly on corrupt files."""
    from data_pipeline_rsna_spark.sources.readers import parse_label_map_binary

    with pytest.raises(ValueError):
        parse_label_map_binary(b"\x0a\xff")  # length varint cut off


def test_decode_dicom_rejects_compressed_transfer_syntax():
    """An HTJ2K (1.2.840.10008.1.2.4.201) file must fail with a clear
    transfer-syntax error — not a misparse of encapsulated PixelData.
    (.4.50 baseline, .4.57/.4.70 lossless, .4.80/.4.81 JPEG-LS and
    .4.90/.4.91 JPEG 2000 now decode stdlib-side; the pydicom path
    (operators.multimodal.decode_dicom) owns the rest when the library
    is present.)"""
    meta = C._elem(0x0002, 0x0010, b"UI", b"1.2.840.10008.1.2.4.201")
    data = b"\x00" * 128 + b"DICM" + meta
    with pytest.raises(ValueError, match="transfer syntax 1.2.840.10008.1.2.4.201"):
        C.decode_dicom_gray(data)
    # the reader's own explicit-LE output still decodes (no false trip)
    arr = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.array_equal(C.decode_dicom_gray(C.encode_dicom_gray(arr)), arr)


# ---------------------------------------------------------------------------
# RLE Lossless (1.2.840.10008.1.2.5) — PS3.5 Annex G PackBits
# ---------------------------------------------------------------------------


def test_packbits_golden_decode():
    # spec-golden: literal code 2 -> 3 literals; replicate 254 -> 3 copies;
    # 128 is a no-op
    stream = bytes([2, 10, 20, 30, 254, 7, 128, 0, 99])
    got = C._packbits_decode(stream, 7)
    assert list(got) == [10, 20, 30, 7, 7, 7, 99]
    with pytest.raises(ValueError, match="truncated"):
        C._packbits_decode(stream, 20)


@pytest.mark.parametrize("dt", [np.uint8, np.uint16, np.int16])
def test_dicom_rle_roundtrip_dtypes(arr, dt):
    a = arr.astype(dt)
    blob = C.encode_dicom_rle(a)
    out = C.decode_dicom_gray(blob)
    assert out.dtype == a.dtype
    assert np.array_equal(out, a)


def test_dicom_rle_compresses_flat_images():
    flat = np.full((64, 64), 1000, dtype=np.uint16)
    rle = C.encode_dicom_rle(flat)
    raw = C.encode_dicom_gray(flat)
    assert len(rle) < len(raw) / 4  # runs collapse
    assert np.array_equal(C.decode_dicom_gray(rle), flat)


def test_dicom_rle_rejects_bad_segment_count():
    a = np.zeros((4, 4), dtype=np.uint16)
    blob = bytearray(C.encode_dicom_rle(a))
    # find the frame header (after the empty BOT item) and corrupt nseg
    marker = struct.pack("<HHI", 0xFFFE, 0xE000, 0)
    bot = blob.find(marker)
    frag_head = bot + len(marker)
    payload = frag_head + 8
    blob[payload:payload + 4] = struct.pack("<I", 3)
    with pytest.raises(ValueError, match="3 segments"):
        C.decode_dicom_gray(bytes(blob))


def test_unsupported_jpeg_syntaxes_still_rejected():
    """Baseline (.4.50), Lossless (.4.57/.4.70), JPEG-LS (.4.80/.4.81)
    and JPEG 2000 (.4.90/.4.91) decode stdlib-side (round 8); only
    HTJ2K (.4.201-203) still raises a named error — the contract
    narrowed to exactly what is not implemented."""
    for uid in (b"1.2.840.10008.1.2.4.201", b"1.2.840.10008.1.2.4.202",
                b"1.2.840.10008.1.2.4.203"):
        meta = C._elem(0x0002, 0x0010, b"UI", uid)
        data = b"\x00" * 128 + b"DICM" + meta
        with pytest.raises(ValueError, match=uid.decode()):
            C.decode_dicom_gray(data)


# ---------------------------------------------------------------------------
# baseline JPEG codec (functions/jpeg.py)
# ---------------------------------------------------------------------------

from data_pipeline_rsna_spark.functions import jpeg as J  # noqa: E402


def _smooth(h=64, w=96):
    x = np.arange(h)[:, None] + np.arange(w)[None, :]
    return ((np.sin(x / 9.0) * 100) + 120).astype(np.uint8)


def test_jpeg_roundtrip_quality_tolerance():
    img = _smooth()
    for q, tol in ((95, 4), (90, 6), (75, 14)):
        dec = J.decode_jpeg_baseline(J.encode_jpeg_baseline_gray(img, q))
        assert dec.shape == img.shape and dec.dtype == np.uint8
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= tol, q


def test_jpeg_roundtrip_odd_dimensions():
    img = np.linspace(0, 255, 61 * 45).reshape(61, 45).astype(np.uint8)
    dec = J.decode_jpeg_baseline(J.encode_jpeg_baseline_gray(img, 92))
    assert dec.shape == (61, 45)
    assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8


def test_jpeg_restart_intervals_roundtrip():
    """DRI + RSTn resync path: every interval must decode to the same
    image the unsegmented stream does."""
    img = _smooth(40, 56)
    base = J.decode_jpeg_baseline(J.encode_jpeg_baseline_gray(img, 90))
    for ri in (1, 3, 5):
        enc = J.encode_jpeg_baseline_gray(img, 90, restart_interval=ri)
        assert np.array_equal(J.decode_jpeg_baseline(enc), base), ri


def test_jpeg_block_constant_images_roundtrip_exactly():
    """A constant 8x8 block has only a DC coefficient; the Annex-K DC
    quantizer reconstructs it to < 0.5 gray levels — bit-exact after
    rounding. This is the property the multimodal_jpeg_roundtrip
    oracle stands on."""
    yy, xx = np.mgrid[0:16, 0:16]
    blk = (yy // 8) * 2 + (xx // 8)
    for img_id in (0, 7, 131):
        img = ((img_id * 37 + blk * 11) % 256).astype(np.uint8)
        dec = J.decode_jpeg_baseline(J.encode_jpeg_baseline_gray(img, 92))
        assert np.array_equal(dec, img), img_id


def test_jpeg_rejects_progressive_and_truncated():
    img = _smooth(16, 16)
    enc = bytearray(J.encode_jpeg_baseline_gray(img, 90))
    sof = bytes(enc).find(b"\xFF\xC0")
    enc[sof + 1] = 0xC2  # pretend progressive
    with pytest.raises(ValueError, match="non-baseline"):
        J.decode_jpeg_baseline(bytes(enc))
    with pytest.raises(ValueError, match="SOI"):
        J.decode_jpeg_baseline(b"\x00\x01\x02")


def test_dicom_jpeg_wrapper_roundtrip():
    """Part-10 JPEG-Baseline encapsulation: encode_dicom_jpeg →
    decode_dicom_gray, dims/dtype preserved, tolerance bounded."""
    img = _smooth(32, 48)
    out = C.decode_dicom_gray(C.encode_dicom_jpeg(img, quality=95))
    assert out.shape == img.shape and out.dtype == np.uint8
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 4


def test_jpeg_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad before a
    marker. Inject fill bytes before SOF/DHT/SOS and between the entropy
    segment's RST markers; decode must be unchanged (ADVICE r7)."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (24, 24), dtype=np.uint8)
    enc = J.encode_jpeg_baseline_gray(img, 90, restart_interval=2)
    base = J.decode_jpeg_baseline(enc)
    padded = bytearray()
    i = 0
    n = len(enc)
    in_entropy = False
    while i < n:
        if not in_entropy and enc[i] == 0xFF and i + 1 < n and enc[i + 1] != 0x00:
            padded += b"\xFF\xFF"  # two fill bytes before every marker
            if enc[i + 1] == 0xDA:
                in_entropy = True
        elif in_entropy and enc[i] == 0xFF and i + 1 < n and 0xD0 <= enc[i + 1] <= 0xD7:
            padded += b"\xFF"  # fill before a restart marker
        padded.append(enc[i])
        i += 1
    # the leading SOI check reads data[:2] — keep SOI unpadded
    assert padded[:4] == b"\xFF\xFF\xFF\xD8"
    fixed = b"\xFF\xD8" + bytes(padded[4:])
    assert np.array_equal(J.decode_jpeg_baseline(fixed), base)


def test_jpeg_truncated_streams_raise_valueerror_not_indexerror():
    """Truncation anywhere in the entropy segment must surface as
    ValueError('truncated JPEG ...'), never IndexError (ADVICE r7)."""
    rng = np.random.default_rng(12)
    img = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    for ri in (0, 2):
        enc = J.encode_jpeg_baseline_gray(img, 90, restart_interval=ri)
        for cut in (len(enc) - 3, len(enc) - 8, len(enc) // 2 + 20):
            with pytest.raises(ValueError):
                J.decode_jpeg_baseline(enc[:cut])


def test_dicom_jpeg_baseline_16bit_metadata_rejected():
    """A JPEG-Baseline DICOM declaring BitsAllocated=16 is inconsistent
    (Process 1 is 8-bit only) and must be rejected, not upcast."""
    img = ((np.arange(64).reshape(8, 8) * 3) % 256).astype(np.uint8)
    blob = bytearray(C.encode_dicom_jpeg(img, quality=95))
    # flip the BitsAllocated (0028,0100) US value from 8 to 16 in place
    tag = struct.pack("<HH", 0x0028, 0x0100) + b"US"
    i = blob.find(tag)
    assert i > 0
    assert struct.unpack("<H", blob[i + 8:i + 10])[0] == 8
    blob[i + 8:i + 10] = struct.pack("<H", 16)
    with pytest.raises(ValueError, match="8-bit only"):
        C.decode_dicom_gray(bytes(blob))


# ---------------------------------------------------------------------------
# lossless JPEG (SOF3, process 14) — round 8
# ---------------------------------------------------------------------------


def test_jpeg_lossless_roundtrip_exact_all_predictors():
    rng = np.random.default_rng(21)
    for dt, hi in ((np.uint8, 256), (np.uint16, 65536)):
        img = rng.integers(0, hi, (29, 23)).astype(dt)
        for pred in range(1, 8):
            dec = J.decode_jpeg_lossless(
                J.encode_jpeg_lossless_gray(img, predictor=pred)
            )
            assert dec.dtype == dt and np.array_equal(dec, img), (dt, pred)


def test_jpeg_lossless_edge_values_and_restarts():
    rng = np.random.default_rng(22)
    # extremes: constant 0, constant 65535, max-step gradients
    for img in (
        np.zeros((7, 7), np.uint8),
        np.full((6, 9), 65535, np.uint16),
        np.tile(np.array([0, 65535] * 8, np.uint16), (4, 1)),
    ):
        enc = J.encode_jpeg_lossless_gray(np.ascontiguousarray(img))
        assert np.array_equal(J.decode_jpeg_lossless(enc), img)
    img = rng.integers(0, 65536, (16, 16)).astype(np.uint16)
    for ri in (1, 5, 37):
        enc = J.encode_jpeg_lossless_gray(img, restart_interval=ri)
        assert np.array_equal(J.decode_jpeg_lossless(enc), img), ri


def test_jpeg_lossless_rejects_wrong_sof_and_truncation():
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    base = J.encode_jpeg_baseline_gray(img, 90)
    with pytest.raises(ValueError, match="SOF0"):
        J.decode_jpeg_lossless(base)
    lossless = J.encode_jpeg_lossless_gray(img)
    with pytest.raises(ValueError, match="SOF3"):
        J.decode_jpeg_baseline(lossless)
    for cut in (len(lossless) - 4, len(lossless) // 2):
        with pytest.raises(ValueError):
            J.decode_jpeg_lossless(lossless[:cut])


def test_dicom_jpeg_lossless_roundtrip_exact_incl_signed():
    rng = np.random.default_rng(23)
    for dt, lo, hi in (
        (np.uint8, 0, 256),
        (np.uint16, 0, 65536),
        (np.int16, -32768, 32768),
    ):
        img = rng.integers(lo, hi, (19, 31)).astype(dt)
        out = C.decode_dicom_gray(C.encode_dicom_jpeg_lossless(img))
        assert out.dtype == dt and np.array_equal(out, img), dt


def test_dicom_jpeg_lossless_bits_mismatch_rejected():
    img = np.arange(100, dtype=np.uint16).reshape(10, 10)
    blob = bytearray(C.encode_dicom_jpeg_lossless(img))
    tag = struct.pack("<HH", 0x0028, 0x0100) + b"US"
    i = blob.find(tag)
    assert i > 0 and struct.unpack("<H", blob[i + 8:i + 10])[0] == 16
    blob[i + 8:i + 10] = struct.pack("<H", 8)  # claim 8-bit for a 16-bit frame
    with pytest.raises(ValueError, match="BitsAllocated"):
        C.decode_dicom_gray(bytes(blob))


# ---------------------------------------------------------------------------
# JPEG-LS (ITU-T T.87 / LOCO-I, functions/jpegls.py)
# ---------------------------------------------------------------------------

from data_pipeline_rsna_spark.functions import jpegls as LS  # noqa: E402


def test_jpegls_lossless_roundtrip_exact():
    rng = np.random.default_rng(31)
    cases = [
        rng.integers(0, 256, (23, 31)).astype(np.uint8),     # noise: regular mode
        rng.integers(0, 65536, (17, 29)).astype(np.uint16),  # 16-bit + stuffing
        np.full((16, 16), 200, np.uint8),                    # pure run mode
        np.repeat(rng.integers(0, 256, (8, 8)).astype(np.uint8),
                  4, axis=1),                                # run/regular mix
        (np.add.outer(np.arange(20) * 800, np.arange(33) * 97)
         % 65536).astype(np.uint16),                         # smooth gradients
        np.array([[5]], np.uint8),                           # 1x1
        np.arange(256, dtype=np.uint8).reshape(1, 256),      # single line
        np.arange(256, dtype=np.uint8).reshape(256, 1),      # single column
        np.zeros((7, 7), np.uint8),                          # all-zero runs
        np.full((6, 9), 65535, np.uint16),                   # max value
        np.tile(np.array([0, 65535] * 8, np.uint16), (4, 1)),  # max steps
    ]
    for img in cases:
        enc = LS.encode_jpegls_gray(np.ascontiguousarray(img))
        dec, near = LS.decode_jpegls(enc, return_near=True)
        assert near == 0
        assert dec.dtype == img.dtype and np.array_equal(dec, img), img.shape


def test_jpegls_near_lossless_error_bound():
    rng = np.random.default_rng(32)
    img8 = rng.integers(0, 256, (21, 27)).astype(np.uint8)
    img16 = rng.integers(0, 65536, (13, 19)).astype(np.uint16)
    sizes = []
    for near in (1, 3, 7):
        for img in (img8, img16):
            enc = LS.encode_jpegls_gray(img, near=near)
            dec, got = LS.decode_jpegls(enc, return_near=True)
            assert got == near
            err = np.abs(dec.astype(np.int64) - img.astype(np.int64)).max()
            assert err <= near, (near, img.dtype, err)
        sizes.append(len(LS.encode_jpegls_gray(img8, near=near)))
    # larger NEAR must compress harder (it's the whole point)
    assert sizes == sorted(sizes, reverse=True)


def test_jpegls_bit_stuffing_is_exercised_and_decoded():
    """T.87 stuffing: a 0xFF entropy byte is followed by a 7-bit byte
    (MSB=0) — different from T.81's FF 00. Build a corpus that provably
    produces 0xFF bytes in the stream and check the invariant."""
    rng = np.random.default_rng(33)
    stuffed = 0
    for seed in range(8):
        img = np.random.default_rng(seed).integers(
            0, 65536, (31, 37)
        ).astype(np.uint16)
        enc = LS.encode_jpegls_gray(img)
        sos = enc.find(b"\xff\xda")
        scan = enc[sos + 2 + 8:-2]  # entropy data: after SOS (Ls=8), before EOI
        for i, b in enumerate(scan[:-1]):
            if b == 0xFF:
                stuffed += 1
                assert scan[i + 1] & 0x80 == 0, "marker byte in scan"
        assert np.array_equal(LS.decode_jpegls(enc), img)
    assert stuffed > 0, "corpus never produced an 0xFF entropy byte"
    del rng


def test_jpegls_rejects_malformed_and_truncated():
    img = np.arange(144, dtype=np.uint8).reshape(12, 12)
    enc = LS.encode_jpegls_gray(img)
    with pytest.raises(ValueError, match="SOI"):
        LS.decode_jpegls(b"\x00" + enc)
    # T.81 streams are not JPEG-LS: baseline has no SOF55
    base = J.encode_jpeg_baseline_gray(img, 90)
    with pytest.raises(ValueError):
        LS.decode_jpegls(base)
    for cut in (4, len(enc) // 2, len(enc) - 3):
        with pytest.raises(ValueError):
            LS.decode_jpegls(enc[:cut])


def test_jpegls_lse_preset_parameters_parsed():
    """An LSE (ID 1) segment overrides MAXVAL/T1-3/RESET; splice one
    with the default values in — decode must accept it and still
    roundtrip (defaults spliced explicitly == defaults implied)."""
    img = np.random.default_rng(34).integers(0, 256, (9, 14)).astype(np.uint8)
    enc = LS.encode_jpegls_gray(img)
    sos = enc.find(b"\xff\xda")
    assert sos > 0
    lse = b"\xff\xf8" + struct.pack(">HBHHHHH", 13, 1, 255, 3, 7, 21, 64)
    spliced = enc[:sos] + lse + enc[sos:]
    assert np.array_equal(LS.decode_jpegls(spliced), img)
    # non-default thresholds change the stream contexts: decode of the
    # ORIGINAL scan under altered presets must not silently agree
    lse_bad = b"\xff\xf8" + struct.pack(">HBHHHHH", 13, 2, 0, 0, 0, 0, 0)
    with pytest.raises(ValueError, match="LSE"):
        LS.decode_jpegls(enc[:sos] + lse_bad + enc[sos:])


def test_dicom_jpegls_roundtrip_exact_incl_signed():
    rng = np.random.default_rng(35)
    for dt, lo, hi in (
        (np.uint8, 0, 256),
        (np.uint16, 0, 65536),
        (np.int16, -32768, 32768),
    ):
        img = rng.integers(lo, hi, (19, 23)).astype(dt)
        out = C.decode_dicom_gray(C.encode_dicom_jpegls(img))
        assert out.dtype == dt and np.array_equal(out, img), dt


def test_dicom_jpegls_near_syntax_and_lossless_mismatch_rejected():
    rng = np.random.default_rng(36)
    img = rng.integers(0, 256, (15, 17)).astype(np.uint8)
    blob = C.encode_dicom_jpegls(img, near=2)
    assert b"1.2.840.10008.1.2.4.81" in blob
    out = C.decode_dicom_gray(blob)
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    # a NEAR>0 stream inside the lossless .4.80 syntax is inconsistent
    tampered = blob.replace(b"1.2.840.10008.1.2.4.81",
                            b"1.2.840.10008.1.2.4.80")
    with pytest.raises(ValueError, match="NEAR"):
        C.decode_dicom_gray(tampered)


@pytest.mark.parametrize("codec", ["jpegls", "baseline", "lossless"])
def test_jpegls_mutated_streams_raise_valueerror_never_crash(codec):
    """Seeded byte-mutation fuzz: corrupt streams must either decode
    (mutation hit a don't-care bit) or raise ValueError — never
    IndexError/KeyError/OverflowError/ZeroDivisionError/struct.error.
    All three decoders walk their headers with the one marker-segment
    reader, so a truncated segment, a DHT whose counts exceed its
    values, an undefined table or component at SOS, an out-of-range
    category or a zero sampling factor each fail with a named error."""
    encode, decode, dt, hi = {
        "jpegls": (LS.encode_jpegls_gray, LS.decode_jpegls, np.uint16, 65536),
        "baseline": (J.encode_jpeg_baseline_gray, J.decode_jpeg_baseline,
                     np.uint8, 256),
        "lossless": (J.encode_jpeg_lossless_gray, J.decode_jpeg_lossless,
                     np.uint16, 65536),
    }[codec]
    img = np.random.default_rng(0).integers(0, hi, (9, 9)).astype(dt)
    enc = bytearray(encode(img))
    for trial in range(300):
        blob = bytearray(enc)
        r = np.random.default_rng(trial)
        for _ in range(r.integers(1, 4)):
            blob[r.integers(0, len(blob))] = r.integers(0, 256)
        try:
            decode(bytes(blob))
        except ValueError:
            pass


def test_codec_family_matches_pydicom_when_available():
    """The single pydicom-gated conformance test: every compressed
    syntax this engine ENCODES (JPEG Lossless SV1, JPEG-LS, JPEG 2000,
    RLE) must decode to the identical array through pydicom + its
    native plugins — pinning the from-scratch codecs against the
    reference's own decode path (generate_images_from_dicom.py:44-51)
    wherever that stack is installed. Skipped in the default container
    (pydicom absent): the in-container correctness story is the seeded
    fuzz + closed-form oracle roundtrips above; this test upgrades it
    to cross-implementation conformance when the preferred deployment
    stack exists."""
    pydicom = pytest.importorskip("pydicom")
    import io

    rng = np.random.default_rng(77)
    img16 = rng.integers(0, 4096, (19, 23)).astype(np.uint16)
    img8 = rng.integers(0, 256, (19, 23)).astype(np.uint8)
    imgs16 = rng.integers(-2048, 2048, (19, 23)).astype(np.int16)
    blobs = [
        C.encode_dicom_jpeg_lossless(img16),
        C.encode_dicom_jpegls(img16),
        C.encode_dicom_j2k(img16),
        C.encode_dicom_rle(img8),
        # signed: Ssiz/PixelRepresentation agreement is exactly what
        # cross-implementation decode catches (ADVICE r8)
        C.encode_dicom_j2k(imgs16),
        C.encode_dicom_jpeg_lossless(imgs16),
        C.encode_dicom_jpegls(imgs16),
    ]
    for blob in blobs:
        ds = pydicom.dcmread(io.BytesIO(blob))
        try:
            px = ds.pixel_array
        except Exception as e:  # plugin for this syntax not installed
            pytest.skip(f"pydicom lacks a decoder here: {e}")
        ours = C.decode_dicom_gray(blob)
        assert np.array_equal(px, ours), ds.file_meta.TransferSyntaxUID
    # lossy 9/7 (.4.91): openjpeg and our float path may round the
    # inverse DWT differently at half-integer boundaries — conformance
    # is agreement within ±1, not bit equality
    lossy = C.encode_dicom_j2k_lossy(img16, delta=1 / 256)
    ds = pydicom.dcmread(io.BytesIO(lossy))
    try:
        px = ds.pixel_array
    except Exception as e:
        pytest.skip(f"pydicom lacks a J2K decoder: {e}")
    ours = C.decode_dicom_gray(lossy)
    assert np.abs(
        px.astype(np.int64) - ours.astype(np.int64)
    ).max() <= 1


# ---------------------------------------------------------------------------
# multi-frame DICOM (NumberOfFrames > 1, PS3.5 A.4)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("syntax", ["raw", "rle", "jpegls",
                                    "jpeg_lossless", "j2k"])
def test_dicom_multiframe_roundtrip_all_syntaxes(syntax):
    rng = np.random.default_rng(41)
    for dt, lo, hi in [(np.uint8, 0, 256), (np.uint16, 0, 65536),
                       (np.int16, -32768, 32768)]:
        stack = rng.integers(lo, hi, size=(4, 9, 7)).astype(dt)
        blob = C.encode_dicom_multiframe(stack, syntax)
        out = C.decode_dicom_frames(blob)
        assert out.dtype == stack.dtype
        assert np.array_equal(out, stack), (syntax, dt)


def test_dicom_multiframe_gray_reader_rejects_with_named_error():
    stack = np.zeros((3, 4, 4), dtype=np.uint8)
    blob = C.encode_dicom_multiframe(stack, "rle")
    with pytest.raises(ValueError, match="decode_dicom_frames"):
        C.decode_dicom_gray(blob)


def test_dicom_native_short_pixeldata_same_error_in_both_readers():
    """Both readers share one Part-10 pixel read: a native PixelData 40
    bytes short of Rows x Cols fails with the same named error in
    each, not numpy's reshape error."""
    a = np.arange(64, dtype=np.uint16).reshape(8, 8)
    short = C.encode_dicom_gray(a)[:-40]
    msg = "native PixelData holds 88 bytes; 1 frames of 8x8 need 128"
    for read in (C.decode_dicom_gray, C.decode_dicom_frames):
        with pytest.raises(ValueError, match=msg):
            read(short)


def test_dicom_frames_on_single_frame_returns_1hw():
    a = np.arange(30, dtype=np.uint16).reshape(5, 6)
    for blob in (C.encode_dicom_gray(a), C.encode_dicom_j2k(a),
                 C.encode_dicom_rle(a)):
        out = C.decode_dicom_frames(blob)
        assert out.shape == (1, 5, 6) and np.array_equal(out[0], a)


def test_dicom_multiframe_bot_grouping_of_split_fragments():
    """A frame may span several fragments; only the Basic Offset Table
    can group them. Build a 2-frame J2K file whose first frame is split
    into two fragments and check the BOT path reassembles it."""
    rng = np.random.default_rng(43)
    stack = rng.integers(0, 65536, size=(2, 8, 8)).astype(np.uint16)
    f0 = JK.encode_j2k_gray(stack[0])
    f1 = JK.encode_j2k_gray(stack[1])
    if len(f0) % 2:
        f0 += b"\x00"
    if len(f1) % 2:
        f1 += b"\x00"
    cut = (len(f0) // 2) & ~1  # even split point
    item = lambda p: (  # noqa: E731
        struct.pack("<HHI", 0xFFFE, 0xE000, len(p)) + p
    )
    frags = [f0[:cut], f0[cut:], f1]
    offsets, off = [], 0
    for fr in frags:
        offsets.append(off)
        off += 8 + len(fr)
    bot = struct.pack("<2I", offsets[0], offsets[2])  # frame starts
    # swap the pixel element of a stock 2-frame file for the split one
    blob = bytearray(C.encode_dicom_multiframe(stack, "j2k"))
    at = blob.find(struct.pack("<HH", 0x7FE0, 0x0010))
    pixel = (
        struct.pack("<HH", 0x7FE0, 0x0010) + b"OB\x00\x00"
        + struct.pack("<I", 0xFFFFFFFF)
        + item(bot) + b"".join(item(fr) for fr in frags)
        + struct.pack("<HHI", 0xFFFE, 0xE0DD, 0)
    )
    blob = bytes(blob[:at]) + pixel
    out = C.decode_dicom_frames(blob)
    assert np.array_equal(out, stack)


def test_dicom_multiframe_ambiguous_fragmentation_rejected():
    """3 fragments, 2 frames, empty BOT: a guess would silently decode
    garbage — the reader must name the problem."""
    rng = np.random.default_rng(44)
    stack = rng.integers(0, 65536, size=(2, 8, 8)).astype(np.uint16)
    blob = bytearray(C.encode_dicom_multiframe(stack, "j2k"))
    at = blob.find(struct.pack("<HH", 0x7FE0, 0x0010))
    f0 = JK.encode_j2k_gray(stack[0])
    f1 = JK.encode_j2k_gray(stack[1])
    if len(f0) % 2:
        f0 += b"\x00"
    if len(f1) % 2:
        f1 += b"\x00"
    cut = (len(f0) // 2) & ~1
    item = lambda p: (  # noqa: E731
        struct.pack("<HHI", 0xFFFE, 0xE000, len(p)) + p
    )
    pixel = (
        struct.pack("<HH", 0x7FE0, 0x0010) + b"OB\x00\x00"
        + struct.pack("<I", 0xFFFFFFFF)
        + item(b"")  # empty BOT
        + item(f0[:cut]) + item(f0[cut:]) + item(f1)
        + struct.pack("<HHI", 0xFFFE, 0xE0DD, 0)
    )
    with pytest.raises(ValueError, match="fragments into 2 frames"):
        C.decode_dicom_frames(bytes(blob[:at]) + pixel)


def test_dicom_single_frame_split_fragments_empty_bot_decodes():
    """NumberOfFrames==1 with the frame split over 2 fragments and an
    empty BOT is never ambiguous — all fragments belong to the one
    frame. decode_dicom_frames must accept it exactly like
    decode_dicom_gray does (ADVICE r8: the frames reader was stricter
    than its documented single-frame contract)."""
    rng = np.random.default_rng(45)
    a = rng.integers(0, 65536, size=(8, 8)).astype(np.uint16)
    f0 = JK.encode_j2k_gray(a)
    if len(f0) % 2:
        f0 += b"\x00"
    cut = (len(f0) // 2) & ~1
    item = lambda p: (  # noqa: E731
        struct.pack("<HHI", 0xFFFE, 0xE000, len(p)) + p
    )
    blob = bytearray(C.encode_dicom_multiframe(a[None, :, :], "j2k"))
    at = blob.find(struct.pack("<HH", 0x7FE0, 0x0010))
    pixel = (
        struct.pack("<HH", 0x7FE0, 0x0010) + b"OB\x00\x00"
        + struct.pack("<I", 0xFFFFFFFF)
        + item(b"")  # empty BOT
        + item(f0[:cut]) + item(f0[cut:])
        + struct.pack("<HHI", 0xFFFE, 0xE0DD, 0)
    )
    data = bytes(blob[:at]) + pixel
    out = C.decode_dicom_frames(data)
    assert out.shape == (1, 8, 8) and np.array_equal(out[0], a)
    # parity with the single-frame reader on the identical bytes:
    # multi-frame files carry NumberOfFrames so the gray reader defers,
    # but a frames/gray disagreement on 1-frame content is the bug class


def test_dicom_j2k_int16_codestream_is_signed_ssiz():
    """encode_dicom_j2k(int16) must emit a SIGNED J2K codestream (Ssiz
    sign bit set) so Ssiz agrees with PixelRepresentation=1 — a
    third-party decoder (pydicom+openjpeg) reads the codestream's own
    signedness (ADVICE r8)."""
    a = (np.arange(64, dtype=np.int16) - 32).reshape(8, 8)
    blob = C.encode_dicom_j2k(a)
    # extract the J2K frame: first non-empty encapsulated item
    soc = blob.find(b"\xff\x4f\xff\x51")
    assert soc != -1
    siz = blob.find(b"\xff\x51", soc)
    ssiz = blob[siz + 40]  # Rsiz..Csiz = 36 bytes after len; Ssiz next
    assert ssiz & 0x80, "Ssiz sign bit must be set for int16 input"
    assert (ssiz & 0x7F) + 1 == 16
    out = C.decode_dicom_gray(blob)
    assert out.dtype == np.int16 and np.array_equal(out, a)
    # multi-frame twin
    stack = np.stack([a, a.T.copy()])
    mf = C.encode_dicom_multiframe(stack, "j2k")
    socs = mf.find(b"\xff\x4f\xff\x51")
    sizs = mf.find(b"\xff\x51", socs)
    assert mf[sizs + 40] & 0x80
    outs = C.decode_dicom_frames(mf)
    assert outs.dtype == np.int16 and np.array_equal(outs, stack)


def test_dicom_j2k_lossy_roundtrip_bounded_error():
    """The .4.91 irreversible path (round 9): encode_dicom_j2k_lossy →
    decode_dicom_gray is lossy with |out − in| ≲ delta·2^prec, for all
    three dtypes; the transfer syntax UID and dtype survive."""
    rng = np.random.default_rng(46)
    for dt, lo, hi, prec in ((np.uint8, 0, 256, 8),
                             (np.uint16, 0, 4096, 16),
                             (np.int16, -2048, 2048, 16)):
        a = rng.integers(lo, hi, (31, 29)).astype(dt)
        blob = C.encode_dicom_j2k_lossy(a, delta=1 / 256)
        assert b"1.2.840.10008.1.2.4.91" in blob
        out = C.decode_dicom_gray(blob)
        assert out.dtype == a.dtype and out.shape == a.shape
        err = np.abs(out.astype(np.int64) - a.astype(np.int64)).max()
        assert err <= 1.5 * (1 / 256) * (1 << prec), (dt, err)


def test_dicom_j2k_lossy_smooth_image_compresses():
    x = np.arange(64)[:, None] + np.arange(96)[None, :]
    img = ((np.sin(x / 9.0) * 100) + 120).astype(np.uint8)
    lossy = C.encode_dicom_j2k_lossy(img, delta=1 / 32)
    lossless = C.encode_dicom_j2k(img)
    assert len(lossy) < len(lossless) * 0.6


# ---------------------------------------------------------------------------
# golden encoder bytes
# ---------------------------------------------------------------------------


def _golden_image(dt: str, shape: tuple) -> np.ndarray:
    """Closed-form pixels spanning each dtype's whole range."""
    v = (np.arange(int(np.prod(shape)), dtype=np.int64) * 40503 + 12345)
    v %= 65536
    if dt == "uint8":
        v %= 256
    elif dt == "int16":
        v -= 32768
    return v.astype(dt).reshape(shape)


def _golden_blob(key: str) -> bytes:
    name, dt, shape = key.split("/")
    arr = _golden_image(dt, tuple(int(s) for s in shape.split("x")))
    if name.startswith("multiframe_"):
        return C.encode_dicom_multiframe(arr, name[len("multiframe_"):])
    if name == "jpegls_near2":
        return C.encode_dicom_jpegls(arr, near=2)
    return getattr(C, f"encode_dicom_{name}")(arr)


# sha256 of every encoder's output at its default options, pinned from the
# encoders as they were before all of them shared one Part-10 writer
GOLDEN_SHA256 = {
    "gray/uint8/4x6":
        "f37b7e9d463141b4904f37dee67c800d29d74507f4b61aa649def23d182fa120",
    "gray/uint8/5x3":
        "1d934043f7e4b2ba4e6b26f7bbe7fcaeff58ac0043d96d95c2f235ba7720e95a",
    "gray/uint16/4x6":
        "37a6b42e8cc9aa9bdab109a1a171cad25ecb54f037380f82951bc7c686f5f04e",
    "gray/uint16/5x3":
        "b7533a24f93f5c1c02f11d77edcfbf58bdd39b87ecdc62227e0ea4e40469355e",
    "gray/int16/4x6":
        "ea6cea1478df4b57070d801dc196e642663e2fad02d16ce083b21b0af73d5e26",
    "gray/int16/5x3":
        "4505af87faabafe743ebf50abffa91615c7e663a73a3cd9a8a34cf8a3e04cb70",
    "rle/uint8/4x6":
        "bc62f0a2c235988ce480fcf704bfa8889416d94690a94d416378abd359a7991a",
    "rle/uint8/5x3":
        "1d87fd76af109d611d98fbb1c13511e712df672cc287072e947800ea80b071d6",
    "rle/uint16/4x6":
        "c18b0200a2e34dd9fae17c3284b2b3beb9fe6b741559d5857b9192bda03f4c9e",
    "rle/uint16/5x3":
        "50cb893246e21460b962cdd5a82b7c2e625f97df6fddaba76e62e92feb3a953d",
    "rle/int16/4x6":
        "f429a1c6cb7b055827a4162005e203554ce45008495d6b9cb61795030b37eaa7",
    "rle/int16/5x3":
        "098321046f888fd81bbbed3c6efee539a5a8e0ddf07f772c2037c82dbe883fc7",
    "jpeg/uint8/4x6":
        "79e06247dcb0aea7e4ec15ba80c62c367dad8aa877f59451f139fa439f1ce850",
    "jpeg/uint8/5x3":
        "39acce50215022da8662e56baf951a568978c4bf466847bfdfec4a5ef1e97e3f",
    "jpeg_lossless/uint8/4x6":
        "11c914d8ff3cef227a5f5581333395f5b6f7e3fb96b8dcfb9127e82b8daad44c",
    "jpeg_lossless/uint8/5x3":
        "83fd41ae89e89521ee28a84c3dae9694b526f12ac39828015dd64b820ec82d4e",
    "jpeg_lossless/uint16/4x6":
        "ab962e8646059a7bcab257f1abb65c00532955ebc6bcbf84c7c4fad60c4c20e4",
    "jpeg_lossless/uint16/5x3":
        "5dace9f1f6d0b4102e4043f4eb644350a73daf98fb8bf2bc0fe16cc583ad02a4",
    "jpeg_lossless/int16/4x6":
        "0167388c4f94e405f3a1b914ae70cf6d6e5ddbb4e10a3e6970b3918d6d9a3913",
    "jpeg_lossless/int16/5x3":
        "73b85cd0c26e464572bf4a97ed918ab5b3c56d08283adec494a2f5633882d6fd",
    "jpegls/uint8/4x6":
        "3be15b5523f2a0828d563f1ea82b2c7e94670c9842a3834db616311bb27eebbe",
    "jpegls/uint8/5x3":
        "ae2446425f64c9d670d8b5e530d6f9be9e797ef320c0e1570fcb9b6b24f956f8",
    "jpegls/uint16/4x6":
        "efaabc89f45f928442618e17bfba1e56df3da83739d200b2297824e577241e63",
    "jpegls/uint16/5x3":
        "cb13b05f29a7a459f70cf780aea75e7ec341d9cc660c6d97ba9f5c737c401e51",
    "jpegls/int16/4x6":
        "981a5e98be24a873bd0d20bf7ad51c18faa61f8ef910ef591a99d935a2851df1",
    "jpegls/int16/5x3":
        "f5775974cc38dd7f24eabf4ad2bbe4ec4ed715bf8739dce4ae250159799fa7a4",
    "jpegls_near2/uint8/4x6":
        "7d1e6ee99dd330e80d80f0d9d875876eb3634e18b1ab576ebe38698ab26d5fda",
    "jpegls_near2/uint8/5x3":
        "6c307bedd342107d19b22c31643239b9904d38e424850d6bc647ed4bf12962de",
    "jpegls_near2/uint16/4x6":
        "b022573b38763bb99d00ec7cfdbf9e2e37a87c5c7e4232316ab808d4e711be39",
    "jpegls_near2/uint16/5x3":
        "e7b601f954f29432a98c9d1f37c7939e17482e45a50de5ffdd3a5ee5e7a36b80",
    "jpegls_near2/int16/4x6":
        "d8d452a47d258be8cf60823ce34e4e27257138f25cb319776ddd56669272fd88",
    "jpegls_near2/int16/5x3":
        "e1caa8b5a4c7215f8ef5833f4d1979e4fb4e46de97bc9583124d183a5d954750",
    "j2k/uint8/4x6":
        "7cd7729926f927eee1c3781b7f4533b5725429d293743f3495db03a97989f169",
    "j2k/uint8/5x3":
        "7d28b27c20aa2a2fa3183dbcd88ff854b445fc3c6538a045877e2993147b30c9",
    "j2k/uint16/4x6":
        "86fdaabd65e85659dff67f4d707d03540e7679744efb9d4bee2433acb13061fd",
    "j2k/uint16/5x3":
        "d529283a90024fa46552d489d0f19b1814682384d49e19ff729dbd438abf2cce",
    "j2k/int16/4x6":
        "8ec93020984f4a090bf8340e69217b9b536eb92f3e742b298928bc228b65efdb",
    "j2k/int16/5x3":
        "1c914164f649f8c5cbfd094bb854093beddf38dff84babc2f85f959f02733bd0",
    "j2k_lossy/uint8/4x6":
        "4b9fee6099ee3ac0dd6f5b997c1dffe8bd3f790e8c49d9eba85baa41487b0d88",
    "j2k_lossy/uint8/5x3":
        "26cb7ac23c76b80d81daa75d2914a351fe2226db0cbd4939ccbaf27d7c612847",
    "j2k_lossy/uint16/4x6":
        "191b8c03c184736c37d587ee2f4f7fe7c065379186628c6baab64d5f1afd65f7",
    "j2k_lossy/uint16/5x3":
        "41f4ffa3ced76c981c06d2d17d998ebabd0565dde493f7f4b155c9c2291a7f6b",
    "j2k_lossy/int16/4x6":
        "936a3c151a8580968de5e7e3ab6455cdb03e1b41bf023b6dbead9fa477fcd693",
    "j2k_lossy/int16/5x3":
        "24047085ebba29fc1174e40f29a47ea19af089a03f8b54d70a8f6fc372acf915",
    "multiframe_rle/uint8/2x4x6":
        "ce90e500c687c3846bd6eec0b308028aff1db9e9935c4dc6e999d23540914b23",
    "multiframe_rle/uint8/3x5x3":
        "cd7a2083d01d29385e7e1b0509b1049f93517e3da3f2adefeb7653f4fad5d14e",
    "multiframe_rle/uint16/2x4x6":
        "81475bf4f1d91615e31ac44a6d2737a1cd1ec5a20805b4387d46342fc2ae9390",
    "multiframe_rle/uint16/3x5x3":
        "239b84b1a0ad31951ae6572f86631e67df7a11db82cf06e08051e93fc4c11607",
    "multiframe_rle/int16/2x4x6":
        "a56c5971da3a81d333725cf72d91c2b5743a04e4ceeeaa037a2efa2b3a457c3d",
    "multiframe_rle/int16/3x5x3":
        "bddfba41ae8de52927218d08695eff7a5e52f4aafe52880472f4b750bf158d4f",
    "multiframe_jpegls/uint8/2x4x6":
        "83d7e38ed1af34ea0576b68f2c3b6884baebb6e309f73b2a30fe83f7790f0c43",
    "multiframe_jpegls/uint8/3x5x3":
        "a078b82a18b7987aea167beee8de23cc8a7f450d1f0ef507e35f88f5fadc7a65",
    "multiframe_jpegls/uint16/2x4x6":
        "cbca7b9ec926d3f26cb5eb15bad0d17f0251fb8020d93415f66b5cd1652472f3",
    "multiframe_jpegls/uint16/3x5x3":
        "ba402adebe0426a7dccd8bb4257574a6787fd0cfd37fa9b4ec2eb599c52dd112",
    "multiframe_jpegls/int16/2x4x6":
        "f765b9378e9e25a9b2ea778bdabd2546e7522d1b46d93d9a27a50c25d8e9983c",
    "multiframe_jpegls/int16/3x5x3":
        "32d010f073a35db877b074a3fdae660a4218dc179ab1daffddfd1cc0e21b51bd",
    "multiframe_jpeg_lossless/uint8/2x4x6":
        "b67e4ca577fb955f46af09005cebf277c6df09fc3b8c6fcaeec2f82ed3dc5fb6",
    "multiframe_jpeg_lossless/uint8/3x5x3":
        "026f5a92ee8e218ba48c12faf316025d4a044228fdee9db4bd15cadbd30c2d9f",
    "multiframe_jpeg_lossless/uint16/2x4x6":
        "de4d30ad5075d6b1bfe82b398891f754906d434150d5500040a0d25a44bd22d8",
    "multiframe_jpeg_lossless/uint16/3x5x3":
        "a0f0ce429066a89cd9f73e379e73d4ef28f19617699b530e0110a78dbe198cba",
    "multiframe_jpeg_lossless/int16/2x4x6":
        "0b79493f2457564465ad31b674f34d96bb8b0c50f0223457318407a6885ffdab",
    "multiframe_jpeg_lossless/int16/3x5x3":
        "5a6dd20263d66b34f7dac9a7431171ba293829696d98082be3d56f285a378e29",
    "multiframe_j2k/uint8/2x4x6":
        "858270b961e2b61a26d7bee182f310481fc14ac92b148976c6aa71b6b21cd631",
    "multiframe_j2k/uint8/3x5x3":
        "df7ca4e2c81a64c69f68de78f4ca394b75d2612a6c8e5850a3c3884b09104730",
    "multiframe_j2k/uint16/2x4x6":
        "3ab5cd44d6b86ee9fcbe947fc56229434874a9866012da864fe33279f4ec983b",
    "multiframe_j2k/uint16/3x5x3":
        "07c6250e7bd2c86dd0346e162d7b82cb0492292ccd4141d2cbf26f1df3f5e142",
    "multiframe_j2k/int16/2x4x6":
        "964f43256d7e0d19f7102b1daa4f6bfef68f4d35caab626906729dee040f69fb",
    "multiframe_j2k/int16/3x5x3":
        "f6c616309700a4003b9c1e1b1c5e5e4fd79ead755d6c4c6f8640db6c157b2496",
}


def test_encoder_bytes_match_golden():
    got = {
        k: hashlib.sha256(_golden_blob(k)).hexdigest() for k in GOLDEN_SHA256
    }
    assert got == GOLDEN_SHA256


# Raw multi-frame follows the single-frame native rules: PixelData is OW
# above 8 bits (PS3.5 A.2) and has an even value length (PS3.5 7.1.1).
# The encoder before the shared writer wrote OB and odd uint8 lengths, so
# these pins are the corrected bytes.
RAW_MULTIFRAME_SHA256 = {
    "multiframe_raw/uint8/2x4x6":
        "6ddd48be30dfab2168e0a7dbefb0c6cffd5107df776dbba5d33e7184003d7317",
    "multiframe_raw/uint8/3x5x3":
        "32d6f59bb1a4ba2a72e1ac18bcea81c0522c56d38d144e4a482ca9f9b1dad8a1",
    "multiframe_raw/uint16/2x4x6":
        "6902df45e9d0b71ed31404b80eb73a673a32efe8c8a5a36bc95aa5937bac559f",
    "multiframe_raw/uint16/3x5x3":
        "f85fdb4cdc4ab3219be27cde7a1b9f7d761008b5d445a9a0bcf3fbbb4b498faf",
    "multiframe_raw/int16/2x4x6":
        "4e1e2538ca5e78a59c51e371462c57701b55c875a11109cddf11df332575a641",
    "multiframe_raw/int16/3x5x3":
        "a1848300b49cc2204f76a9fa54e84a787590770156f32852a4411905b0f0190c",
}


def test_raw_multiframe_bytes_follow_native_rules():
    for key, want in RAW_MULTIFRAME_SHA256.items():
        blob = _golden_blob(key)
        assert hashlib.sha256(blob).hexdigest() == want, key
        at = blob.index(struct.pack("<HH", 0x7FE0, 0x0010))
        (n,) = struct.unpack("<I", blob[at + 8 : at + 12])
        assert blob[at + 4 : at + 6] == (
            b"OB" if "/uint8/" in key else b"OW"
        ), key
        assert n % 2 == 0 and at + 12 + n == len(blob), key
        _, dt, shape = key.split("/")
        stack = _golden_image(dt, tuple(int(s) for s in shape.split("x")))
        assert np.array_equal(C.decode_dicom_frames(blob), stack), key
