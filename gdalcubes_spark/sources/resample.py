"""Resampling kernels for the raster_cube scan — the full gdalwarp algorithm
set of the reference (view.h:66-79, mapping at warp.cpp:178-196):

  near/nearest, bilinear            — in raster_cube._sample_image (fast paths)
  cubic, cubicspline, lanczos       — separable convolution kernels (this file)
  average, mode, min, max, med,     — FOOTPRINT reductions: every source pixel
  q1, q3                              whose center falls inside the target
                                      cell contributes (this file)

Implemented from the observed gdalwarp semantics, not translated code.

Scale notes:
- Kernel methods are 2R×2R gathers (16 taps for cubic, 36 for lanczos) over
  the image's covered sub-window only — O(taps · covered cells).
- Footprint methods on the same-SRS (separable) path are EXACT: each source
  pixel is assigned its covering target cell by pure index arithmetic, then
  one reducers.segment_reduce per band and image — memory ∝ the covered
  SOURCE pixels. Cells with no contributing pixel (up-sampling) fall back to
  nearest — average(near-grid) == near.
- Footprint methods on the reprojection path use deterministic supersampling
  (n×n sub-cell centers, n = ceil(target/source pixel ratio), capped at 8):
  the n² nearest-samples per cell approximate the true footprint, reduced
  by reducers.full_reduce; exact for axis-aligned integer-factor grids.

Both paths reduce through reducers.py, so they share its conventions: med is
the (lo + hi) / 2 median of reduce_time (reduce_time.cpp:376-394); q1/q3 are
Hyndman–Fan type-7 (numpy default), the repo's reduce Q1/Q3
(reduce_time.cpp:426-453). mode: most frequent value, ties → smallest
(deterministic).
"""

from __future__ import annotations

import numpy as np

from gdalcubes_spark import reducers as R

# ---------------------------------------------------------------------------
# convolution kernels


def _cubic(x: np.ndarray) -> np.ndarray:
    """Keys bicubic, A = -0.5 (the gdalwarp 'cubic' kernel)."""
    ax = np.abs(x)
    A = -0.5
    return np.where(ax <= 1.0, (A + 2) * ax**3 - (A + 3) * ax**2 + 1.0,
                    np.where(ax < 2.0, A * (ax**3 - 5 * ax**2 + 8 * ax - 4), 0.0))


def _bspline(x: np.ndarray) -> np.ndarray:
    """Cubic B-spline (the gdalwarp 'cubicspline' kernel) — smoothing."""
    ax = np.abs(x)
    return np.where(ax <= 1.0, (4.0 - 6.0 * ax**2 + 3.0 * ax**3) / 6.0,
                    np.where(ax < 2.0, (2.0 - ax) ** 3 / 6.0, 0.0))


def _lanczos(x: np.ndarray) -> np.ndarray:
    """Lanczos windowed sinc, a = 3 (gdalwarp 'lanczos')."""
    return np.where(np.abs(x) < 3.0, np.sinc(x) * np.sinc(x / 3.0), 0.0)


# name -> (radius R, kernel fn); taps span [1-R, R] around floor(u)
KERNEL_RESAMPLING = {"cubic": (2, _cubic), "cubicspline": (2, _bspline), "lanczos": (3, _lanczos)}

FOOTPRINT_RESAMPLING = ("average", "mode", "min", "max", "med", "q1", "q3")


def _axis_taps(f: np.ndarray, n: int, radius: int, kfn):
    """1-D tap indices + normalized weights for continuous pixel coords f
    (f = (coord - origin)/pixel_size, pixel j's center at j+0.5).
    Returns (idx (2R, len), wgt (2R, len))."""
    u = f - 0.5
    base = np.floor(u)
    offs = np.arange(1 - radius, radius + 1, dtype="float64")
    idx = base[None, :] + offs[:, None]
    wgt = kfn(u[None, :] - idx)
    s = wgt.sum(axis=0)
    s[s == 0] = 1.0
    wgt = wgt / s  # lanczos taps don't sum to 1; normalize all (GDAL does)
    return np.clip(idx, 0, n - 1).astype(np.int64), wgt


def kernel_separable(arr: np.ndarray, fx: np.ndarray, fy: np.ndarray, name: str) -> np.ndarray:
    """Separable convolution sample: arr (nb,h,w) at continuous source pixel
    coords fx (wx,), fy (hy,). Caller masks out-of-image cells."""
    radius, kfn = KERNEL_RESAMPLING[name]
    nb, h, w = arr.shape
    ix, wx_ = _axis_taps(fx, w, radius, kfn)
    iy, wy_ = _axis_taps(fy, h, radius, kfn)
    out = np.zeros((nb, len(fy), len(fx)))
    for a in range(2 * radius):
        ya = iy[a][:, None]
        wa = wy_[a][:, None]
        for b in range(2 * radius):
            out += (wa * wx_[b][None, :]) * arr[:, ya, ix[b][None, :]]
    return out


def kernel_projected(arr: np.ndarray, fx: np.ndarray, fy: np.ndarray, name: str) -> np.ndarray:
    """2-D (reprojected) convolution sample: fx/fy are (hy,wx) grids."""
    radius, kfn = KERNEL_RESAMPLING[name]
    nb, h, w = arr.shape
    ux, uy = fx - 0.5, fy - 0.5
    bx, by = np.floor(ux), np.floor(uy)
    out = np.zeros((nb,) + fx.shape)
    wsum = np.zeros(fx.shape)
    for a in range(1 - radius, radius + 1):
        yi = by + a
        wy_ = kfn(uy - yi)
        yc = np.clip(yi, 0, h - 1).astype(np.int64)
        for b in range(1 - radius, radius + 1):
            xi = bx + b
            wgt = wy_ * kfn(ux - xi)
            xc = np.clip(xi, 0, w - 1).astype(np.int64)
            out += wgt[None, ...] * arr[:, yc, xc]
            wsum += wgt
    wsum[wsum == 0] = 1.0
    return out / wsum[None, ...]


# ---------------------------------------------------------------------------
# footprint reductions


# footprint method → the reducers.py name that computes it ("mode" has no
# reducer: segment_reduce knows it as a footprint-only name, and the
# supersampled path has _mode_lastaxis)
_REDUCER = {"average": "mean", "min": "min", "max": "max", "med": "median", "q1": "Q1", "q3": "Q3",
            "mode": "mode"}


def footprint_separable(arr: np.ndarray, sxs: np.ndarray, sys_: np.ndarray,
                        il: float, it_: float, pdx: float, pdy: float,
                        dxv: float, dyv: float, method: str) -> np.ndarray:
    """EXACT footprint resampling on the same-SRS path: assign each covered
    source pixel to the target cell containing its center, segmented-reduce.
    sxs/sys_ are target cell centers (sys_ descending). Empty target cells
    (up-sampling) whose center is inside the image fall back to nearest."""
    nb, h, w = arr.shape
    wx_n, hy_n = len(sxs), len(sys_)
    x_lo, x_hi = sxs[0] - dxv / 2, sxs[-1] + dxv / 2
    y_hi, y_lo = sys_[0] + dyv / 2, sys_[-1] - dyv / 2
    # source cols whose centers fall in [x_lo, x_hi)
    j0 = max(0, int(np.floor((x_lo - il) / pdx - 0.5)))
    j1 = min(w - 1, int(np.ceil((x_hi - il) / pdx - 0.5)))
    i0 = max(0, int(np.floor((it_ - y_hi) / pdy - 0.5)))
    i1 = min(h - 1, int(np.ceil((it_ - y_lo) / pdy - 0.5)))
    out = np.full((nb, hy_n, wx_n), np.nan)
    if j1 >= j0 and i1 >= i0:
        js = np.arange(j0, j1 + 1)
        is_ = np.arange(i0, i1 + 1)
        gx = il + (js + 0.5) * pdx
        gy = it_ - (is_ + 0.5) * pdy
        tx = np.floor((gx - x_lo) / dxv).astype(np.int64)
        ty = np.floor((y_hi - gy) / dyv).astype(np.int64)
        okx = (tx >= 0) & (tx < wx_n) & (gx >= x_lo) & (gx < x_hi)
        oky = (ty >= 0) & (ty < hy_n) & (gy > y_lo) & (gy <= y_hi)
        if okx.any() and oky.any():
            sub = arr[:, is_[oky][:, None], js[okx][None, :]].astype("float64")
            cell = (ty[oky][:, None] * wx_n + tx[okx][None, :]).ravel()
            ncell = hy_n * wx_n
            for b in range(nb):
                out[b] = R.segment_reduce(_REDUCER[method], cell, sub[b].ravel(), ncell).reshape(hy_n, wx_n)
    # nearest fallback for empty cells whose center is inside the image
    fx = (sxs - il) / pdx
    fy = (it_ - sys_) / pdy
    in_x = (fx >= 0) & (fx < w)
    in_y = (fy >= 0) & (fy < h)
    need = np.isnan(out) & (in_y[:, None] & in_x[None, :])[None, ...]
    if need.any():
        px = np.clip(fx.astype(np.int64), 0, w - 1)
        py = np.clip(fy.astype(np.int64), 0, h - 1)
        near = arr[:, py[:, None], px[None, :]].astype("float64")
        out[need] = near[need]
    # cells outside the image stay NaN
    out[:, ~in_y, :] = np.nan
    out[:, :, ~in_x] = np.nan
    return out


def _mode_lastaxis(v: np.ndarray) -> np.ndarray:
    """Mode along the last axis, NaN-skipping; ties → smallest value."""
    s = np.sort(v, axis=-1)  # NaNs sort to the end
    K = s.shape[-1]
    idx = np.arange(K)
    change = np.empty(s.shape, dtype=bool)
    change[..., 0] = True
    change[..., 1:] = s[..., 1:] != s[..., :-1]
    start = np.maximum.accumulate(np.where(change, idx, 0), axis=-1)
    # next change index strictly AFTER k = suffix-min of change positions,
    # shifted left by one (K past the end)
    m = np.where(change, idx, K)
    suffix_min = np.flip(np.minimum.accumulate(np.flip(m, axis=-1), axis=-1), axis=-1)
    nxt = np.concatenate([suffix_min[..., 1:], np.full(s.shape[:-1] + (1,), K)], axis=-1)
    length = np.where(np.isnan(s), -1, nxt - start)
    best = np.argmax(length, axis=-1)  # first max → smallest value
    res = np.take_along_axis(s, best[..., None], axis=-1)[..., 0]
    allnan = np.all(np.isnan(v), axis=-1)
    return np.where(allnan, np.nan, res)


def reduce_lastaxis(v: np.ndarray, method: str) -> np.ndarray:
    """NaN-skipping reduction along the last axis (supersampled footprints)."""
    if method == "mode":
        return _mode_lastaxis(v)
    if method not in _REDUCER:
        raise ValueError(f"unknown footprint method {method!r}")
    return R.full_reduce(_REDUCER[method], np.moveaxis(v, -1, 0))


def supersample_grid(sxs: np.ndarray, sys_: np.ndarray, dxv: float, dyv: float,
                     spxv: float, spyv: float, cap: int = 8):
    """Sub-cell center grid for the reprojection-path footprint approximation.
    Returns (sub_x (wx*n,), sub_y (hy*n,), n) with n per-axis subsamples."""
    n = int(np.ceil(max(dxv / max(spxv, 1e-12), dyv / max(spyv, 1e-12))))
    n = max(1, min(cap, n))
    offs = (np.arange(n) + 0.5) / n - 0.5
    sub_x = (sxs[:, None] + offs[None, :] * dxv).ravel()
    sub_y = (sys_[:, None] - offs[None, :] * dyv).ravel()
    return sub_x, sub_y, n
