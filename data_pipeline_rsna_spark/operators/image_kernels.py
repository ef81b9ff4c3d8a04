"""Pixel kernels: the numpy halves of the augmentation operators.

Plain-numpy implementations of the reference's pixel transforms
(``generate_images_from_dicom.py``): exact integer translate with
zero-fill (O14, ``:116-127``), horizontal flip (O15, ``:137``),
cut-paste of a box region (O16, ``:155-165``), zoom of a region or the
whole frame with center pad-or-crop (O17/O18, ``:191,211-243``).

Divergence ledger (documented, intended-semantics):
- The reference's ``ndimage.shift``/``ndimage.zoom`` are spline
  interpolators; this engine's DEFAULT translates exactly (slicing) and
  zooms by nearest-neighbor index mapping. Geometry is identical;
  interpolated gray values at non-integer grid points are not. For
  pixel parity, two spline orders are available in pure numpy,
  selectable via ``interp=`` on ``scale_image``/``zoom_box_region``
  (and the ``zoom_bilinear``/``zoom_cubic`` kernels directly):
  ``"bilinear"`` = ``ndimage`` order-1; ``"cubic"`` = order-3, the
  reference's DEFAULT order — prefilter as the tridiagonal cubic
  B-spline interpolation system (mirror boundary, the system Unser's
  recursive filter solves and ``ndimage.spline_filter1d`` implements)
  + separable 4-tap basis evaluation, with the 12-sample edge prepad
  ndimage applies for 'nearest'-mode zooms. scipy itself is NOT a
  dependency and is absent from this container, so order-3 tests are
  differential (vectorized kernel vs an independent dense-solve
  per-pixel implementation of the same published system) plus
  exactness properties (integer-grid reproduction, polynomial
  reproduction) rather than scipy-generated goldens; interior values match ``ndimage`` order-3 semantics within
  integer rounding by construction of the shared system.
- All randomness is seeded per (image_id, variant) via
  ``seeded_rng`` — the reference's unseeded ``random.*``
  (``:117-118,148-153``) is nondeterministic and untestable.

These functions run inside Arrow-batched pandas UDFs / mapInPandas
(``multimodal.py``); they never touch Spark APIs themselves, so they are
unit-testable without a session.
"""

from __future__ import annotations

import hashlib

import numpy as np


def seeded_rng(image_id: str, variant: int, op: str) -> np.random.Generator:
    """Deterministic per-(id, variant, op) generator: the engine's RNG
    convention (SURVEY.md §7 ground rules)."""
    key = f"{image_id}|{op}|{variant}".encode()
    seed = int.from_bytes(hashlib.sha256(key).digest()[:8], "big")
    return np.random.default_rng(seed)


def shift_image(arr: np.ndarray, rx: int, ry: int) -> np.ndarray:
    """Exact translate by (rx, ry) with zero fill. rx shifts columns
    (x-axis), ry shifts rows (y-axis) — the reference's convention."""
    out = np.zeros_like(arr)
    h, w = arr.shape[:2]
    src_y = slice(max(0, -ry), min(h, h - ry))
    src_x = slice(max(0, -rx), min(w, w - rx))
    dst_y = slice(max(0, ry), min(h, h + ry))
    dst_x = slice(max(0, rx), min(w, w + rx))
    out[dst_y, dst_x] = arr[src_y, src_x]
    return out


def flip_image(arr: np.ndarray) -> np.ndarray:
    return np.fliplr(arr)


def zoom_nearest(arr: np.ndarray, rf: float) -> np.ndarray:
    """Nearest-neighbor zoom to (round(h*rf), round(w*rf))."""
    h, w = arr.shape[:2]
    nh, nw = max(1, round(h * rf)), max(1, round(w * rf))
    yi = np.minimum((np.arange(nh) / rf).astype(np.int64), h - 1)
    xi = np.minimum((np.arange(nw) / rf).astype(np.int64), w - 1)
    return arr[np.ix_(yi, xi)]


def _to_dtype(out: np.ndarray, dtype: np.dtype) -> np.ndarray:
    """float interpolation result → caller dtype: round-half-even and
    clip for integer pixel types, plain cast otherwise."""
    if np.issubdtype(dtype, np.integer):
        info = np.iinfo(dtype)
        return np.clip(np.rint(out), info.min, info.max).astype(dtype)
    return out.astype(dtype)


def zoom_bilinear(arr: np.ndarray, rf: float) -> np.ndarray:
    """Bilinear zoom to (round(h*rf), round(w*rf)): the order-1 spline of
    the reference's ``ndimage.zoom`` (generate_images_from_dicom.py:191,
    211), endpoint-aligned coordinates (``grid_mode=False``) — output
    sample i reads input coordinate ``i*(in-1)/(out-1)``. Pure numpy;
    matches ``scipy.ndimage.zoom(order=1)`` within integer rounding."""
    h, w = arr.shape[:2]
    nh, nw = max(1, round(h * rf)), max(1, round(w * rf))
    ys = np.linspace(0.0, h - 1.0, nh)
    xs = np.linspace(0.0, w - 1.0, nw)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    fy = (ys - y0)[:, None]
    fx = (xs - x0)[None, :]
    a = arr.astype(np.float64)
    top = a[np.ix_(y0, x0)] * (1.0 - fx) + a[np.ix_(y0, x1)] * fx
    bot = a[np.ix_(y1, x0)] * (1.0 - fx) + a[np.ix_(y1, x1)] * fx
    return _to_dtype(top * (1.0 - fy) + bot * fy, arr.dtype)


def _mirror_idx(idx: np.ndarray, n: int) -> np.ndarray:
    """ndimage 'mirror' index extension: reflect about the EDGE SAMPLES
    without repeating them (period 2(n-1)): …3 2 1 | 0 1 2 3 | 2 1 0…"""
    if n == 1:
        return np.zeros_like(idx)
    period = 2 * (n - 1)
    idx = np.abs(idx) % period
    return np.where(idx >= n, period - idx, idx)


def _cubic_coeffs_along_axis(a: np.ndarray, axis: int) -> np.ndarray:
    """Cubic B-spline PREFILTER: solve the interpolation system
    (c[i-1] + 4·c[i] + c[i+1]) / 6 = x[i] with mirror boundary
    (c[-1]=c[1], c[n]=c[n-2]) along ``axis`` — the tridiagonal system
    whose solution Unser's recursive filter computes (the published
    algorithm behind ``ndimage.spline_filter1d(order=3)``). Vectorized
    Thomas algorithm: O(n) per line, all lines at once."""
    a = np.moveaxis(np.asarray(a, dtype=np.float64), axis, 0)
    n = a.shape[0]
    if n < 2:
        return np.moveaxis(a, 0, axis)
    # tridiagonal rows: [4 2 | 1 4 1 | ... | 2 4] · c = 6·x
    diag = np.full(n, 4.0)
    lower = np.full(n, 1.0)
    upper = np.full(n, 1.0)
    upper[0] = 2.0  # mirror folds c[1] twice into row 0
    lower[n - 1] = 2.0  # and c[n-2] twice into row n-1
    d = 6.0 * a
    # forward sweep
    cp = np.empty(n)
    cp[0] = upper[0] / diag[0]
    d[0] = d[0] / diag[0]
    for i in range(1, n):
        m = diag[i] - lower[i] * cp[i - 1]
        cp[i] = upper[i] / m
        d[i] = (d[i] - lower[i] * d[i - 1]) / m
    # back substitution
    for i in range(n - 2, -1, -1):
        d[i] = d[i] - cp[i] * d[i + 1]
    return np.moveaxis(d, 0, axis)


def cubic_coeffs(arr: np.ndarray) -> np.ndarray:
    """2-D cubic B-spline coefficients (separable: filter rows, then
    columns)."""
    return _cubic_coeffs_along_axis(
        _cubic_coeffs_along_axis(arr, 0), 1
    )


def _cubic_weights(t: np.ndarray) -> tuple[np.ndarray, ...]:
    """The 4 cubic B-spline basis weights for fractional offset
    ``t``∈[0,1): nodes floor(x)-1 … floor(x)+2 at distances 1+t, t,
    1-t, 2-t. B₃(x) = (4-6x²+3|x|³)/6 for |x|<1, (2-|x|)³/6 for
    1≤|x|<2."""
    u = 1.0 - t
    w_m1 = u * u * u / 6.0
    w_0 = (4.0 - 6.0 * t * t + 3.0 * t * t * t) / 6.0
    w_p1 = (4.0 - 6.0 * u * u + 3.0 * u * u * u) / 6.0
    w_p2 = t * t * t / 6.0
    return w_m1, w_0, w_p1, w_p2


_CUBIC_EDGE_PAD = 12  # ndimage's prepad width for 'nearest'-mode filtering


def zoom_cubic(arr: np.ndarray, rf: float) -> np.ndarray:
    """Order-3 (cubic B-spline) zoom to (round(h·rf), round(w·rf)) —
    the reference's ``ndimage.zoom(box, rf, mode='nearest')`` default
    order (generate_images_from_dicom.py:191,214). Endpoint-aligned
    coordinates (output i ← input i·(in−1)/(out−1), ``grid_mode``
    False); 'nearest' mode emulated as ndimage does for spline
    filtering: pad 12 edge-replicated samples before the prefilter so
    boundary handling matches within integer rounding. Pure numpy:
    Thomas-solve prefilter + separable 4×4 weighted gather."""
    h, w = arr.shape[:2]
    nh, nw = max(1, round(h * rf)), max(1, round(w * rf))
    p = _CUBIC_EDGE_PAD
    padded = np.pad(arr.astype(np.float64), p, mode="edge")
    coeff = cubic_coeffs(padded)
    ys = (np.linspace(0.0, h - 1.0, nh) if nh > 1 else np.zeros(1)) + p
    xs = (np.linspace(0.0, w - 1.0, nw) if nw > 1 else np.zeros(1)) + p
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    wy = _cubic_weights(ys - y0)
    wx = _cubic_weights(xs - x0)
    H, W = coeff.shape
    out = np.zeros((nh, nw), dtype=np.float64)
    for i in range(4):
        yi = _mirror_idx(y0 + (i - 1), H)
        for j in range(4):
            xj = _mirror_idx(x0 + (j - 1), W)
            out += (wy[i][:, None] * wx[j][None, :]) * coeff[
                np.ix_(yi, xj)
            ]
    return _to_dtype(out, arr.dtype)


_ZOOMS = {"nearest": zoom_nearest, "bilinear": zoom_bilinear,
          "cubic": zoom_cubic}


def scale_image(arr: np.ndarray, rf: float, interp: str = "nearest") -> np.ndarray:
    """Whole-image zoom, then center pad (shrink) or center crop (grow)
    back to the original dims — reference ``:219-243``. ``interp``
    selects the zoom kernel: ``nearest`` (engine default, exact index
    mapping) or ``bilinear`` (ndimage order-1 pixel parity)."""
    h, w = arr.shape[:2]
    z = _ZOOMS[interp](arr, rf)
    zh, zw = z.shape[:2]
    out = np.zeros_like(arr)
    if zh <= h:
        oy, ox = (h - zh) // 2, (w - zw) // 2
        out[oy : oy + zh, ox : ox + zw] = z
    else:
        cy, cx = (zh - h) // 2, (zw - w) // 2
        out[:, :] = z[cy : cy + h, cx : cx + w]
    return out


def cut_paste_box(arr: np.ndarray, box: tuple[int, int, int, int],
                  rx: int, ry: int) -> np.ndarray:
    """O16 pixel half: cut the box region (zeroing the source) and paste
    it at the shifted location, clipped to the frame."""
    x, y, w, h = box
    H, W = arr.shape[:2]
    region = arr[y : y + h, x : x + w].copy()
    out = arr.copy()
    out[y : y + h, x : x + w] = 0
    nx, ny = x + rx, y + ry
    px0, py0 = max(0, nx), max(0, ny)
    px1, py1 = min(W, nx + w), min(H, ny + h)
    if px1 > px0 and py1 > py0:
        out[py0:py1, px0:px1] = region[
            py0 - ny : py1 - ny, px0 - nx : px1 - nx
        ]
    return out


def zoom_box_region(arr: np.ndarray, box: tuple[int, int, int, int],
                    rf: float, interp: str = "nearest") -> np.ndarray:
    """O17 pixel half: zoom the box's cutout and re-center it about the
    box center, clamped to the frame (reference ``:191-204``). ``interp``
    as in ``scale_image``."""
    x, y, w, h = box
    H, W = arr.shape[:2]
    z = _ZOOMS[interp](arr[y : y + h, x : x + w], rf)
    nh, nw = z.shape[:2]
    nx = max(0, int(x + w / 2 - nw / 2))
    ny = max(0, int(y + h / 2 - nh / 2))
    out = arr.copy()
    px1, py1 = min(W, nx + nw), min(H, ny + nh)
    out[ny:py1, nx:px1] = z[: py1 - ny, : px1 - nx]
    return out


def brighten(arr: np.ndarray, delta: int) -> np.ndarray:
    """Saturating brightness shift — an augmentation op in its own
    right, and the canonical perceptual-hash invariance probe: dHash
    compares adjacent pixels, so any order-preserving transform that
    saturates nothing leaves the hash bit-identical."""
    if np.issubdtype(arr.dtype, np.integer):
        info = np.iinfo(arr.dtype)
        return np.clip(
            arr.astype(np.int64) + delta, info.min, info.max
        ).astype(arr.dtype)
    return arr + delta
