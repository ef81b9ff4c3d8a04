"""Property tests for the numpy pixel kernels (SURVEY.md §5.3)."""

from __future__ import annotations

import numpy as np
import pytest

from data_pipeline_rsna_spark.operators import image_kernels as ik


@pytest.fixture
def img():
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(16, 16), dtype=np.uint16)


def test_flip_involution(img):
    assert np.array_equal(ik.flip_image(ik.flip_image(img)), img)


def test_shift_exact_and_zero_fill(img):
    out = ik.shift_image(img, 3, -2)
    # content translated: out[y, x] == img[y+2, x-3] in the overlap
    assert np.array_equal(out[0:14, 3:16], img[2:16, 0:13])
    assert (out[:, :3] == 0).all() and (out[14:, :] == 0).all()
    # shifting by 0 is identity
    assert np.array_equal(ik.shift_image(img, 0, 0), img)


def test_shift_composes_additively(img):
    a = ik.shift_image(ik.shift_image(img, 2, 1), 3, 2)
    b = ik.shift_image(img, 5, 3)
    assert np.array_equal(a, b)


def test_zoom_shapes_and_identity(img):
    assert ik.zoom_nearest(img, 1.0).shape == img.shape
    assert np.array_equal(ik.zoom_nearest(img, 1.0), img)
    assert ik.zoom_nearest(img, 0.5).shape == (8, 8)
    assert ik.zoom_nearest(img, 2.0).shape == (32, 32)


def test_scale_image_preserves_dims(img):
    for rf in (0.5, 0.9, 1.0, 1.3, 2.0):
        out = ik.scale_image(img, rf)
        assert out.shape == img.shape
        assert out.dtype == img.dtype
    # shrink pads with zeros at the border
    small = ik.scale_image(img, 0.5)
    assert (small[:4, :] == 0).all() and (small[:, :4] == 0).all()


def test_cut_paste_moves_region():
    arr = np.zeros((10, 10), dtype=np.uint8)
    arr[2:4, 2:4] = 9
    out = ik.cut_paste_box(arr, (2, 2, 2, 2), 3, 4)
    assert (out[2:4, 2:4] == 0).all()  # source zeroed
    assert (out[6:8, 5:7] == 9).all()  # pasted at (x+3, y+4)


def test_cut_paste_clips_at_border():
    arr = np.full((8, 8), 5, dtype=np.uint8)
    out = ik.cut_paste_box(arr, (5, 5, 3, 3), 2, 2)
    assert out.shape == arr.shape  # no exception, clipped paste
    assert (out[7:, 7:] == 5).all()


def test_seeded_rng_deterministic():
    a = ik.seeded_rng("p1", 3, "shift").integers(0, 1 << 30, size=5)
    b = ik.seeded_rng("p1", 3, "shift").integers(0, 1 << 30, size=5)
    c = ik.seeded_rng("p1", 4, "shift").integers(0, 1 << 30, size=5)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, c)


@pytest.mark.slow
def test_resize_nearest_exact(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    import numpy as np

    imgs = mm.synth_images(spark, n=3, height=16, width=16)
    small = mm.resize(imgs, 8, 8).collect()
    assert all(r.height == 8 and r.width == 8 for r in small)
    r0 = next(r for r in small if r.img_id == 0)
    arr = np.frombuffer(r0.pixels, dtype=np.uint8).reshape(8, 8)
    # nearest-neighbor with 2x downscale picks every other row/col
    full = (0 * 31 + np.arange(256, dtype=np.int64) * 7) % 256
    full = full.reshape(16, 16).astype(np.uint8)
    assert (arr == full[::2, ::2]).all()


@pytest.mark.slow
def test_frame_sampling_offsets(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    import numpy as np

    vids = mm.synth_videos(spark, n=2, n_frames=6, height=4, width=4)
    frames = mm.sample_frames(vids, stride=2).collect()
    assert sorted({r.frame_idx for r in frames}) == [0, 2, 4]
    r = next(x for x in frames if x.vid_id == 1 and x.frame_idx == 2)
    j = np.arange(16, dtype=np.int64)
    want = ((1 * 131 + 2 * 17 + j * 7) % 256).astype(np.uint8)
    assert (np.frombuffer(r.pixels, dtype=np.uint8) == want).all()


def test_audio_features_known_values(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    import numpy as np

    feats = {r.clip_id: r for r in
             mm.audio_features(mm.synth_audio(spark, n=2, n_samples=100)).collect()}
    for cid in (0, 1):
        i = np.arange(100, dtype=np.int64)
        s = ((cid * 17 + i * 13) % 2048) - 1024
        nonneg = s >= 0
        assert feats[cid].energy == int((s * s).sum())
        assert feats[cid].zero_crossings == int((nonneg[1:] != nonneg[:-1]).sum())


@pytest.mark.slow
def test_stage_chain_composes_kernels(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    import numpy as np

    imgs = mm.synth_images(spark, n=4, height=12, width=12)
    for stage_op in mm.STAGE_KERNEL_CHAINS:
        out = mm.apply_stage_chain(imgs, stage_op, variant=1).collect()
        assert len(out) == 4
        for r in out:
            arr = np.frombuffer(r.pixels, dtype=np.uint8)
            assert arr.size == 12 * 12  # shape preserved through the chain


@pytest.mark.slow
def test_stage_chain_deterministic(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm

    imgs = mm.synth_images(spark, n=3, height=8, width=8)
    a = {r.img_id: r.pixels for r in
         mm.apply_stage_chain(imgs, "scale_shift_bbox", 2).collect()}
    b = {r.img_id: r.pixels for r in
         mm.apply_stage_chain(imgs, "scale_shift_bbox", 2).collect()}
    c = {r.img_id: r.pixels for r in
         mm.apply_stage_chain(imgs, "scale_shift_bbox", 3).collect()}
    assert a == b          # same (id, variant) => identical pixels
    assert a != c          # different variant => different augmentation


def test_tile_patches_reassemble(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm
    import numpy as np

    imgs = mm.synth_images(spark, n=2, height=16, width=16)
    orig = {r.img_id: np.frombuffer(r.pixels, dtype=np.uint8).reshape(16, 16)
            for r in imgs.collect()}
    tiles = mm.tile_patches(imgs).collect()
    assert len(tiles) == 2 * 4
    rebuilt = {i: np.zeros((16, 16), dtype=np.uint8) for i in orig}
    for t in tiles:
        arr = np.frombuffer(t.pixels, dtype=np.uint8).reshape(8, 8)
        rebuilt[t.img_id][
            t.patch_row * 8:(t.patch_row + 1) * 8,
            t.patch_col * 8:(t.patch_col + 1) * 8,
        ] = arr
    for i in orig:
        assert (rebuilt[i] == orig[i]).all()  # lossless tiling


# ---------------------------------------------------------------------------
# bilinear (ndimage order-1 spline) parity kernels
# ---------------------------------------------------------------------------


def test_zoom_bilinear_hand_golden_2x2_to_3x3():
    """Endpoint-aligned bilinear: sample i reads input i*(in-1)/(out-1),
    so the 3x3 grid over a 2x2 ramp is the exact midpoint lattice."""
    a = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    got = ik.zoom_bilinear(a, 1.5)
    want = np.array([[0, 5, 10], [10, 15, 20], [20, 25, 30]], dtype=np.uint8)
    assert np.array_equal(got, want)


def test_zoom_bilinear_identity_and_shape():
    a = (np.arange(30, dtype=np.uint8)).reshape(5, 6)
    assert np.array_equal(ik.zoom_bilinear(a, 1.0), a)
    assert ik.zoom_bilinear(a, 0.5).shape == (2, 3)
    assert ik.zoom_bilinear(a, 2.0).shape == (10, 12)


def test_matches_scipy_when_available():
    """The single scipy-gated test: order-1 kernel parity AND the
    order-3 checked-in goldens cross-checked against ndimage (see
    _cross_check_cubic_goldens_vs_ndimage)."""
    scipy_ndimage = pytest.importorskip("scipy.ndimage")
    rng = np.random.default_rng(11)
    a = rng.integers(0, 256, size=(16, 16), dtype=np.int64).astype(np.uint8)
    ours = ik.zoom_bilinear(a, 1.37).astype(np.int64)
    ref = scipy_ndimage.zoom(a, 1.37, order=1).astype(np.int64)
    assert ours.shape == ref.shape
    assert np.abs(ours - ref).max() <= 1  # integer rounding tolerance
    _cross_check_cubic_goldens_vs_ndimage(
        scipy_ndimage, np.load(_GOLDEN_NPZ)
    )


def test_scale_image_bilinear_interp_routes():
    a = np.array([[0, 10], [20, 30]], dtype=np.uint8)
    out = ik.scale_image(a, 1.5, interp="bilinear")
    # zoomed 3x3 midpoint lattice, center-cropped back to 2x2 at (0,0)
    assert np.array_equal(out, np.array([[0, 5], [10, 15]], dtype=np.uint8))


def test_image_entropy_flat_vs_varied(spark):
    import math

    from data_pipeline_rsna_spark.operators import multimodal as mm

    import numpy as np
    import pandas as pd

    def mk(img_id, arr):
        return (img_id, np.asarray(arr, np.uint8).tobytes(), "uint8", 1,
                len(arr))

    rows = [
        mk(0, [7] * 16),                 # constant: entropy 0, 1 level
        mk(1, list(range(16))),          # uniform over 16: ln(16)
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["img_id", "pixels", "dtype", "height",
                                    "width"])
    )
    got = {r.img_id: r for r in mm.image_entropy(df).collect()}
    assert got[0].n_levels == 1 and got[0].entropy_nats == 0.0
    assert got[1].n_levels == 16
    assert abs(got[1].entropy_nats - math.log(16)) < 1e-6


# ---------------------------------------------------------------------------
# Order-3 (cubic B-spline) kernels: differential vs an independent dense
# implementation of the published interpolation system, plus exactness
# properties. ALSO asserted on every run, scipy present or not: the
# checked-in golden arrays (tests/fixtures/cubic_order3_goldens.npz,
# minted by tools/gen_cubic_goldens.py) covering zoom, both dtypes,
# interior + border — see the golden section further down.
# ---------------------------------------------------------------------------


def _dense_cubic_coeffs_1d(x):
    """Independent reference: solve (c[i-1]+4c[i]+c[i+1])/6 = x[i] with
    mirror BC by DENSE linear algebra (np.linalg.solve), no Thomas
    sweep shared with the kernel under test."""
    n = len(x)
    if n < 2:
        return np.asarray(x, dtype=np.float64)
    A = np.zeros((n, n))
    for i in range(n):
        A[i, i] = 4.0
        lo, hi = i - 1, i + 1
        # mirror: index -1 -> 1, index n -> n-2
        A[i, 1 if lo < 0 else lo] += 1.0
        A[i, n - 2 if hi >= n else hi] += 1.0
    return np.linalg.solve(A, 6.0 * np.asarray(x, dtype=np.float64))


def _dense_eval_1d(coef, t):
    """Evaluate the cubic spline at scalar coordinate t (mirror node
    extension), straight from the B3 basis definition."""
    n = len(coef)

    def b3(u):
        u = abs(u)
        if u < 1:
            return (4.0 - 6.0 * u * u + 3.0 * u ** 3) / 6.0
        if u < 2:
            return (2.0 - u) ** 3 / 6.0
        return 0.0

    i0 = int(np.floor(t))
    s = 0.0
    for i in range(i0 - 1, i0 + 3):
        idx = int(ik._mirror_idx(np.array([i]), n)[0])
        s += coef[idx] * b3(t - i)
    return s


def test_cubic_coeffs_match_dense_solve():
    rng = np.random.default_rng(11)
    x = rng.uniform(0, 255, size=23)
    got = ik._cubic_coeffs_along_axis(x.copy(), 0)
    want = _dense_cubic_coeffs_1d(x)
    np.testing.assert_allclose(got, want, rtol=1e-10, atol=1e-8)


def test_cubic_interpolates_exactly_at_integer_grid():
    # the prefilter is the INTERPOLATION system: evaluating the spline
    # back at the sample points must reproduce the samples
    rng = np.random.default_rng(3)
    x = rng.uniform(0, 255, size=17)
    coef = ik._cubic_coeffs_along_axis(x.copy(), 0)
    for i in range(17):
        assert abs(_dense_eval_1d(coef, float(i)) - x[i]) < 1e-8


def test_zoom_cubic_reproduces_linear_ramp_in_the_interior():
    # cubic splines reproduce polynomials up to degree 3 on an infinite
    # signal; the edge-pad creates a flat-to-linear junction whose
    # influence decays like z^d (z = sqrt(3)-2 ≈ -0.268, the cubic
    # pole) — exactly ndimage's 'nearest'-mode behavior — so exactness
    # holds in the interior, tightening with distance from the edge
    ramp = np.outer(np.arange(16, dtype=np.float64), np.ones(16)) * 10
    out = ik.zoom_cubic(ramp, 2.0)
    ys = np.linspace(0.0, 15.0, 32) * 10
    np.testing.assert_allclose(out[10:-10, 8], ys[10:-10], atol=2e-3)
    np.testing.assert_allclose(out[12:-12, 8], ys[12:-12], atol=5e-4)


def test_zoom_cubic_identity_and_shapes(img):
    assert np.array_equal(ik.zoom_cubic(img, 1.0), img)
    assert ik.zoom_cubic(img, 0.5).shape == (8, 8)
    assert ik.zoom_cubic(img, 2.0).shape == (32, 32)


def test_scale_image_cubic_routes(img):
    out = ik.scale_image(img, 1.25, interp="cubic")
    assert out.shape == img.shape and out.dtype == img.dtype


def test_audio_frame_features_consistent_with_clip_totals(spark):
    from data_pipeline_rsna_spark.operators import multimodal as mm

    clips = mm.synth_audio(spark, n=10, n_samples=1024)
    frames = mm.audio_frame_features(clips).collect()
    whole = {r.clip_id: r for r in mm.audio_features(clips).collect()}
    by_clip = {}
    for r in frames:
        e, z = by_clip.get(r.clip_id, (0, 0))
        by_clip[r.clip_id] = (e + r.energy, z + r.n_zero_cross)
    for cid, (e, z) in by_clip.items():
        # 1024 = 4 exact frames: energies sum exactly; zero-crossings
        # differ only by the (up to 3) crossings AT frame boundaries
        assert e == whole[cid].energy
        assert 0 <= whole[cid].zero_crossings - z <= 3
    assert all(len([r for r in frames if r.clip_id == c]) == 4
               for c in by_clip)


@pytest.mark.slow
def test_hist_equalize_uniform_and_constant_images(spark):
    import numpy as np

    from data_pipeline_rsna_spark.operators import multimodal as mm

    # image 0: perfectly uniform histogram (v = i % 256 over 256 px)
    # -> equalization is (nearly) identity up to the floor formula;
    # image 1: constant -> everything maps to 0
    import pandas as pd  # noqa: F401

    px_uniform = np.arange(256, dtype=np.uint8)
    px_const = np.full(256, 77, dtype=np.uint8)
    df = spark.createDataFrame(
        [
            (0, px_uniform.tobytes(), "uint8", 16, 16),
            (1, px_const.tobytes(), "uint8", 16, 16),
        ],
        "img_id long, pixels binary, dtype string, height int, width int",
    )
    out = {r.img_id: r for r in mm.hist_equalize_stats(df).collect()}
    # reference: lut[v] = (cdf - cdf_min)*255 // (256 - cdf_min),
    # cdf = v+1, cdf_min = 1 -> lut[v] = v*255 // 255 = v (identity)
    assert out[0].eq_pixel_sum == int(px_uniform.astype(int).sum())
    assert out[0].n_levels == 256
    assert out[1].eq_pixel_sum == 0 and out[1].n_levels == 1


# ---------------------------------------------------------------------------
# Checked-in order-3 goldens (VERDICT r5 ask #3): the cubic kernels are
# asserted against tests/fixtures/cubic_order3_goldens.npz on EVERY run,
# scipy present or not. The fixture's `provenance` field records who
# minted it (scipy.ndimage on a scipy box; the independent dense-linalg
# reference in tools/gen_cubic_goldens.py otherwise — no code shared
# with the production Thomas-sweep kernels). When scipy IS importable,
# the goldens themselves are additionally cross-checked against
# ndimage, transitively pinning kernel == golden == ndimage.
# ---------------------------------------------------------------------------

import os as _os

_GOLDEN_NPZ = _os.path.join(
    _os.path.dirname(__file__), "fixtures", "cubic_order3_goldens.npz"
)
_CUBIC_CASES = {"u8": np.uint8, "u16": np.uint16}
_CUBIC_ZOOMS = {"z137": 1.37, "z060": 0.6}


@pytest.fixture(scope="module")
def cubic_goldens():
    return np.load(_GOLDEN_NPZ)


@pytest.mark.parametrize("cname", sorted(_CUBIC_CASES))
@pytest.mark.parametrize("zname", sorted(_CUBIC_ZOOMS))
def test_zoom_cubic_matches_checked_in_golden(cubic_goldens, cname, zname):
    img = cubic_goldens[f"in_{cname}"]
    want = cubic_goldens[f"zoom_{cname}_{zname}"]
    got = ik.zoom_cubic(img, _CUBIC_ZOOMS[zname])
    assert got.dtype == img.dtype and got.shape == want.shape
    # integer-exact vs the fixture, borders included
    assert np.array_equal(got, want), (
        f"max |diff| {np.abs(got.astype(np.int64) - want.astype(np.int64)).max()}"
    )
    # and the pre-rounding float surface agrees tightly
    got_f = ik.zoom_cubic(img.astype(np.float64), _CUBIC_ZOOMS[zname])
    np.testing.assert_allclose(
        got_f, cubic_goldens[f"zoom_{cname}_{zname}_f64"], atol=1e-6
    )


def _cross_check_cubic_goldens_vs_ndimage(ndi, cubic_goldens):
    """On a scipy box: the FIXTURE (not just the kernel) is pinned to
    ndimage — one green run anywhere certifies the checked-in numbers.
    ±1 integer level absorbs the pad-emulated 'nearest' prefilter vs
    ndimage's analytic boundary on zoom borders. Called from the one
    scipy-gated test so the module carries a single scipy skip."""
    for cname in _CUBIC_CASES:
        img = cubic_goldens[f"in_{cname}"]
        for zname, rf in _CUBIC_ZOOMS.items():
            ref = ndi.zoom(img.astype(np.float64), rf, order=3, mode="nearest")
            want = cubic_goldens[f"zoom_{cname}_{zname}_f64"]
            assert np.abs(np.rint(ref) - np.rint(want)).max() <= 1
