"""Mint the order-3 (cubic B-spline) golden fixtures for
``tests/test_image_kernels.py`` — the in-container replacement for the
scipy-gated parity test (VERDICT r5 ask #3).

Provenance model (recorded inside the .npz as ``provenance``):

- On a scipy-equipped box this script generates the goldens STRAIGHT
  from ``scipy.ndimage`` (``zoom(order=3, mode='nearest')`` — the
  reference pipeline's actual default interpolator,
  ``generate_images_from_dicom.py:191,211-214``) and stamps ``provenance='scipy.ndimage <version>'``.
- Without scipy (this container has neither scipy nor network), it
  generates them from an INDEPENDENT dense implementation of the same
  published interpolation system: dense ``np.linalg.solve`` of the
  (c[i-1]+4c[i]+c[i+1])/6 = x[i] mirror-BC system + direct B3-basis
  evaluation — no code shared with the production Thomas-sweep kernel
  (``operators/image_kernels.py``), and a 40-sample edge pad for the
  'nearest' zoom mode (the cubic pole z=sqrt(3)-2 decays to ~1e-23 by
  depth 40, far beyond ndimage's own 12). Stamps
  ``provenance='dense-reference'``.

The consuming test asserts production-kernel == golden on EVERY run,
and golden == ndimage additionally when scipy is importable — so one
run on any scipy box transitively pins all three implementations to
each other. Regenerate: ``python tools/gen_cubic_goldens.py``.
"""

from __future__ import annotations

import os
import sys

import numpy as np

PAD = 40  # edge-replicate pad for 'nearest'-mode prefilter emulation

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "cubic_order3_goldens.npz",
)


def dense_cubic_coeffs_2d(a: np.ndarray) -> np.ndarray:
    """Separable 2-D prefilter by DENSE linear algebra (mirror BC)."""

    def solve_axis(x: np.ndarray) -> np.ndarray:
        n = x.shape[0]
        if n < 2:
            return x.astype(np.float64)
        A = np.zeros((n, n))
        for i in range(n):
            A[i, i] += 4.0
            lo, hi = i - 1, i + 1
            A[i, 1 if lo < 0 else lo] += 1.0
            A[i, n - 2 if hi >= n else hi] += 1.0
        return np.linalg.solve(A, 6.0 * x.astype(np.float64))

    rows = solve_axis(np.asarray(a, dtype=np.float64))
    return solve_axis(rows.T).T


def _b3(u: np.ndarray) -> np.ndarray:
    u = np.abs(u)
    return np.where(
        u < 1.0,
        (4.0 - 6.0 * u * u + 3.0 * u**3) / 6.0,
        np.where(u < 2.0, (2.0 - u) ** 3 / 6.0, 0.0),
    )


def _mirror(idx: np.ndarray, n: int) -> np.ndarray:
    if n == 1:
        return np.zeros_like(idx)
    period = 2 * (n - 1)
    idx = np.abs(idx) % period
    return np.where(idx >= n, period - idx, idx)


def dense_eval_grid(
    coef: np.ndarray, ys: np.ndarray, xs: np.ndarray
) -> np.ndarray:
    """Evaluate the 2-D spline at the (ys × xs) grid straight from the
    B3 definition (4×4 stencil, mirror node extension)."""
    H, W = coef.shape
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    out = np.zeros((len(ys), len(xs)), dtype=np.float64)
    for i in range(4):
        yi = _mirror(y0 + (i - 1), H)
        wy = _b3(ys - (y0 + (i - 1)))
        for j in range(4):
            xj = _mirror(x0 + (j - 1), W)
            wx = _b3(xs - (x0 + (j - 1)))
            out += (wy[:, None] * wx[None, :]) * coef[np.ix_(yi, xj)]
    return out


def _round_to(arr: np.ndarray, dtype: np.dtype) -> np.ndarray:
    info = np.iinfo(dtype)
    return np.clip(np.rint(arr), info.min, info.max).astype(dtype)


def dense_zoom_order3(a: np.ndarray, rf: float) -> np.ndarray:
    """ndimage.zoom(a, rf, order=3, mode='nearest', grid_mode=False)
    by dense reference: edge-pad PAD, dense mirror prefilter, B3 eval
    on the endpoint-aligned output lattice."""
    h, w = a.shape
    nh, nw = max(1, round(h * rf)), max(1, round(w * rf))
    padded = np.pad(a.astype(np.float64), PAD, mode="edge")
    coef = dense_cubic_coeffs_2d(padded)
    ys = (np.linspace(0.0, h - 1.0, nh) if nh > 1 else np.zeros(1)) + PAD
    xs = (np.linspace(0.0, w - 1.0, nw) if nw > 1 else np.zeros(1)) + PAD
    return dense_eval_grid(coef, ys, xs)


CASES = {
    # (name, dtype, shape, seed)
    "u8": (np.uint8, (16, 16), 11),
    "u16": (np.uint16, (12, 14), 23),
}
ZOOMS = {"z137": 1.37, "z060": 0.6}


def main() -> int:
    try:
        import scipy.ndimage as ndi  # noqa: F401
        import scipy

        provenance = f"scipy.ndimage {scipy.__version__}"
        have_scipy = True
    except ImportError:
        provenance = "dense-reference"
        have_scipy = False

    out: dict[str, np.ndarray] = {"provenance": np.array(provenance)}
    for cname, (dtype, shape, seed) in CASES.items():
        rng = np.random.default_rng(seed)
        hi = np.iinfo(dtype).max + 1
        img = rng.integers(0, hi, size=shape, dtype=np.int64).astype(dtype)
        out[f"in_{cname}"] = img
        for zname, rf in ZOOMS.items():
            if have_scipy:
                g = ndi.zoom(
                    img.astype(np.float64), rf, order=3, mode="nearest"
                )
            else:
                g = dense_zoom_order3(img, rf)
            out[f"zoom_{cname}_{zname}_f64"] = g
            out[f"zoom_{cname}_{zname}"] = _round_to(g, dtype)

    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    np.savez_compressed(FIXTURE, **out)
    print(f"wrote {FIXTURE} (provenance: {provenance})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
