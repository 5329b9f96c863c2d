"""window_time / window_space / fill_time: moving-window and gap-fill ops.

Reference semantics:
- window_time (window_time.h:49-73, .cpp:28-249): window = (l, r) cells
  around center along t; named reducers (mean, sum, count, prod, min, max,
  median — NaN-skipping) as (reducer, band) pairs, OR a convolution kernel of
  length l+1+r applied to every band (any NaN in the window → NaN,
  .cpp:104-119). Values beyond the cube's time range are NaN.
- Both windows' named reducers are reducers.full_reduce over the window
  axis; an all-NaN window gives NaN, except count → 0.
- window_space (window_space.h:47-185, .cpp:24-721): odd ny×nx focal window
  per band and time slice; reducer pairs or 2-D kernel; padding modes
  none/constant/replicate/reflect/reflect_pixel applied at CUBE boundaries
  (openEO apply_kernel semantics); chunk boundaries use real neighbor data
  (halo exchange — correctness must be chunking-invariant,
  test_window_space.R:44-49).
- fill_time (fill_time.h:20-47, .cpp:24-229): near (tie → previous), linear
  (one-sided → copy), locf, nocb; scans across chunk boundaries arbitrarily
  far.

Spark shapes:
- window_time / fill_time: if nct == 1 → NARROW mapInArrow (no shuffle).
  Else: halo slab exchange along t (window) or full-column gather (fill) —
  one bounded shuffle keyed by the spatial chunk.
- window_space: halo exchange — every chunk ships ≤ 8 boundary strips of
  width = window radius to its neighbors (tiny vs the tensor), groupBy
  assembles the padded plane. This is the canonical Spark stencil pattern.
- Halo pieces of both windows travel as chunk rows keyed by their TARGET
  chunk id, with their offset in the target's padded buffer in the
  (ct, cy, cx) columns.
"""

from __future__ import annotations

from typing import Iterable, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark import reducers as R
from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, chunk_stream, emit, pin_group_partitions
from gdalcubes_spark.operators.reduce import parse_pairs

WINDOW_REDUCERS = ("mean", "sum", "count", "prod", "min", "max", "median")


def _reduce_window(name: str, w: np.ndarray) -> np.ndarray:
    """Reduce the last (window) axis of a sliding-window view. An all-NaN
    window gives NaN, except count → 0: full_reduce already gives NaN there
    for every reducer but sum and prod (0 and 1)."""
    r = R.full_reduce(name, np.moveaxis(w, -1, 0))
    if name in ("sum", "prod"):
        r[np.all(np.isnan(w), axis=-1)] = np.nan
    return r


def window_time(cube: Cube, window: Sequence[int], reducer=None, kernel=None) -> Cube:
    l, r = int(window[0]), int(window[1])
    view, g = cube.view, cube.chunking
    if kernel is not None:
        kernel = np.asarray(kernel, dtype="float64")
        if kernel.size != l + 1 + r:
            raise ValueError("kernel length must be l+1+r (window_time.cpp:104-106)")
        out_bands = list(cube.bands)
        bidx = list(range(len(cube.bands)))
        rnames = None
    else:
        pairs = parse_pairs([reducer] if isinstance(reducer, str) else list(reducer), cube.bands)
        for name, _ in pairs:
            if name not in WINDOW_REDUCERS:
                raise ValueError(f"window_time reducer {name!r} not supported")
        out_bands = [f"{b}_{n}" for n, b in pairs]
        bidx = [cube.bands.index(b) for _, b in pairs]
        rnames = [n for n, _ in pairs]

    def compute(padded: np.ndarray, ntc: int) -> np.ndarray:
        """padded: (nb, l + ntc + r, ny, nx) → (nb_out, ntc, ny, nx)."""
        sw = np.lib.stride_tricks.sliding_window_view(padded, l + 1 + r, axis=1)  # (nb, ntc, ny, nx, W)
        if kernel is not None:
            out = np.einsum("btyxw,w->btyx", sw[bidx], kernel)  # NaN propagates
        else:
            out = np.stack([_reduce_window(n, sw[bi]) for n, bi in zip(rnames, bidx)], axis=0)
        return out

    if g.nct == 1:
        def fn(t: np.ndarray, coords):
            nb, ntc, ny, nx = t.shape
            padded = np.concatenate([np.full((nb, l, ny, nx), np.nan), t,
                                     np.full((nb, r, ny, nx), np.nan)], axis=1)
            return compute(padded, ntc)
        return cube.map_chunks(fn, out_bands=out_bands)

    # halo slab exchange along t: chunk k needs [k*ct - l, (k+1)*ct + r)
    base_df, chunks = chunk_stream(cube)  # fuse any pending narrow chain in here

    def halo(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for _, (ict, icy, icx), t_ in chunks(b):
                (t0, t1), _, _ = g.chunk_cell_range(ict, icy, icx)
                for kt in range(max(0, (t0 - r) // g.ct), min(g.nct - 1, (t1 - 1 + l) // g.ct) + 1):
                    (kt0, kt1), _, _ = g.chunk_cell_range(kt, icy, icx)
                    lo, hi = max(t0, kt0 - l), min(t1, kt1 + r)
                    if lo >= hi:
                        continue
                    rows.append((g.chunk_id(kt, icy, icx), (lo - (kt0 - l), 0, 0), t_[:, lo - t0 : hi - t0]))
            yield emit(CHUNK_SCHEMA, rows)

    nb_in = len(cube.bands)

    def assemble(key, table):
        cid = key[0].as_py()
        coords = g.chunk_coords(cid)
        (kt0, kt1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
        ntc, ny, nx = kt1 - kt0, y1 - y0, x1 - x0
        # NOTE: no core-chunk guard — an elided (all-NaN) core chunk still
        # gets a window computed from neighbor halo data
        # (window_time.cpp:160-251); the all-NaN output check below keeps the
        # missing-chunk invariant.
        padded = np.full((nb_in, l + ntc + r, ny, nx), np.nan)
        for _, (off, _, _), p in chunk_rows(table):
            padded[:, off : off + p.shape[1]] = p
        out = compute(padded, ntc)
        return pa.table(emit(CHUNK_SCHEMA, [] if np.all(np.isnan(out)) else [(cid, coords, out)]))

    df = (pin_group_partitions(base_df.mapInArrow(halo, CHUNK_SCHEMA), "chunk_id", g.n_chunks)
          .groupBy("chunk_id").applyInArrow(assemble, CHUNK_SCHEMA))
    return Cube(df, view, out_bands, g)


# ---------------------------------------------------------------------------


def _pad_plane(p: np.ndarray, y0: int, x0: int, ny: int, nx: int, mode: str, value: float) -> np.ndarray:
    """Apply cube-boundary padding to a haloed plane p (..., h, w) whose
    first row and column are the global cells y0 and x0 of an ny × nx cube.
    Each plane index outside [0, n) takes np.pad's value for it (constant,
    edge, symmetric, reflect); indices inside hold real data from the halo
    exchange. A padded index maps to a cube cell no farther from the chunk
    than the halo, so it lies inside the plane however narrow the chunk."""
    if mode == "none":
        return p
    for axis, lo, n in ((p.ndim - 2, y0, ny), (p.ndim - 1, x0, nx)):
        gi = np.arange(lo, lo + p.shape[axis])
        if mode == "constant":
            outside = ((gi < 0) | (gi >= n)).reshape((-1,) + (1,) * (p.ndim - 1 - axis))
            p = np.where(outside, value, p)
            continue
        if mode == "replicate":
            src = np.clip(gi, 0, n - 1)
        else:  # mirror with period 2n (reflect: edge repeated) or 2n - 2 (reflect_pixel)
            period = 2 * n if mode == "reflect" else max(2 * n - 2, 1)
            r = gi % period
            src = np.where(r < n, r, period - r - (mode == "reflect"))
        p = np.take(p, src - lo, axis=axis)
    return p


def window_space(cube: Cube, reducer=None, kernel=None, window: Optional[Sequence[int]] = None,
                 pad: str = "none", pad_value: float = 0.0) -> Cube:
    view, g = cube.view, cube.chunking
    if kernel is not None:
        kernel = np.asarray(kernel, dtype="float64")
        if kernel.ndim != 2 or kernel.shape[0] % 2 == 0 or kernel.shape[1] % 2 == 0:
            raise ValueError("kernel must be 2-D with odd dimensions")
        wy, wx = kernel.shape
        out_bands = list(cube.bands)
        bidx = list(range(len(cube.bands)))
        rnames = None
    else:
        if window is None:
            raise ValueError("need window=(ny, nx) with a reducer")
        wy, wx = int(window[0]), int(window[1])
        if wy % 2 == 0 or wx % 2 == 0:
            raise ValueError("window dimensions must be odd")
        pairs = parse_pairs([reducer] if isinstance(reducer, str) else list(reducer), cube.bands)
        for name, _ in pairs:
            if name not in WINDOW_REDUCERS:
                raise ValueError(f"window_space reducer {name!r} not supported")
        out_bands = [f"{b}_{n}" for n, b in pairs]
        bidx = [cube.bands.index(b) for _, b in pairs]
        rnames = [n for n, _ in pairs]
    hy, hx = wy // 2, wx // 2
    if pad not in ("none", "constant", "replicate", "reflect", "reflect_pixel"):
        raise ValueError(f"unknown pad mode {pad!r}")

    base_df, chunks = chunk_stream(cube)  # fuse any pending narrow chain in here

    def halo(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for _, (ict, icy, icx), t_ in chunks(b):
                _, (y0, y1), (x0, x1) = g.chunk_cell_range(ict, icy, icx)
                for ky in range(max(0, (y0 - hy) // g.cy), min(g.ncy - 1, (y1 - 1 + hy) // g.cy) + 1):
                    for kx in range(max(0, (x0 - hx) // g.cx), min(g.ncx - 1, (x1 - 1 + hx) // g.cx) + 1):
                        _, (ky0, ky1), (kx0, kx1) = g.chunk_cell_range(ict, ky, kx)
                        ylo, yhi = max(y0, ky0 - hy), min(y1, ky1 + hy)
                        xlo, xhi = max(x0, kx0 - hx), min(x1, kx1 + hx)
                        if ylo >= yhi or xlo >= xhi:
                            continue
                        rows.append((g.chunk_id(ict, ky, kx), (0, ylo - (ky0 - hy), xlo - (kx0 - hx)),
                                     t_[:, :, ylo - y0 : yhi - y0, xlo - x0 : xhi - x0]))
            yield emit(CHUNK_SCHEMA, rows)

    nb_in = len(cube.bands)

    def assemble(key, table):
        cid = key[0].as_py()
        coords = g.chunk_coords(cid)
        (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
        ntc, ny, nx = t1 - t0, y1 - y0, x1 - x0
        # NOTE: no core-chunk guard — see window_time.assemble; an all-NaN
        # core with live neighbor halos must still produce windowed values.
        padded = np.full((nb_in, ntc, ny + 2 * hy, nx + 2 * hx), np.nan)
        for _, (_, offy, offx), p in chunk_rows(table):
            padded[:, :, offy : offy + p.shape[2], offx : offx + p.shape[3]] = p
        padded = _pad_plane(padded, y0 - hy, x0 - hx, g.ny, g.nx, pad, pad_value)
        swy = np.lib.stride_tricks.sliding_window_view(padded, wy, axis=2)
        sw = np.lib.stride_tricks.sliding_window_view(swy, wx, axis=3)  # (nb,ntc,ny,nx,wy,wx)
        if kernel is not None:
            out = np.einsum("btyxuv,uv->btyx", sw[bidx], kernel)
        else:
            flat = sw.reshape(sw.shape[:4] + (wy * wx,))
            out = np.stack([_reduce_window(n, flat[bi]) for n, bi in zip(rnames, bidx)], axis=0)
        return pa.table(emit(CHUNK_SCHEMA, [] if np.all(np.isnan(out)) else [(cid, coords, out)]))

    df = (pin_group_partitions(base_df.mapInArrow(halo, CHUNK_SCHEMA), "chunk_id", g.n_chunks)
          .groupBy("chunk_id").applyInArrow(assemble, CHUNK_SCHEMA))
    return Cube(df, view, out_bands, g)


# ---------------------------------------------------------------------------


def _fill_series(v: np.ndarray, method: str) -> np.ndarray:
    """Vectorized fill along axis 0 of v (T, ...) per fill_time.cpp:140-185."""
    Tn = v.shape[0]
    idx = np.arange(Tn).reshape((Tn,) + (1,) * (v.ndim - 1))
    valid = ~np.isnan(v)
    # previous valid index at each t (or -1)
    prev_idx = np.where(valid, idx, -1)
    prev_idx = np.maximum.accumulate(prev_idx, axis=0)
    # next valid index at each t (or T)
    next_idx = np.where(valid, idx, Tn)
    next_idx = np.minimum.accumulate(next_idx[::-1], axis=0)[::-1]
    take_prev = np.clip(prev_idx, 0, Tn - 1)
    take_next = np.clip(next_idx, 0, Tn - 1)
    v0 = np.take_along_axis(v, take_prev, axis=0)
    v0 = np.where(prev_idx >= 0, v0, np.nan)
    v1 = np.take_along_axis(v, take_next, axis=0)
    v1 = np.where(next_idx < Tn, v1, np.nan)
    pd_ = (idx - prev_idx).astype("float64")
    nd_ = (next_idx - idx).astype("float64")
    with np.errstate(all="ignore"):
        if method == "locf":
            filled = v0
        elif method == "nocb":
            filled = v1
        elif method == "near":
            filled = np.where(np.isnan(v0), v1,
                              np.where(np.isnan(v1), v0,
                                       np.where(pd_ <= nd_, v0, v1)))
        elif method == "linear":
            interp = v0 * (nd_ / (pd_ + nd_)) + v1 * (pd_ / (pd_ + nd_))
            filled = np.where(np.isnan(v0), v1, np.where(np.isnan(v1), v0, interp))
        else:
            raise ValueError(f"unknown fill method {method!r}")
    return np.where(valid, v, filled)


def fill_time(cube: Cube, method: str = "linear") -> Cube:
    if method not in ("near", "linear", "locf", "nocb"):
        raise ValueError(f"unknown fill method {method!r} (fill_time.h:20-47)")
    view, g = cube.view, cube.chunking
    if g.nct == 1:
        def fn(t: np.ndarray, coords):
            return _fill_series(np.moveaxis(t, 1, 0), method).transpose(1, 0, 2, 3)
        return cube.map_chunks(fn)

    # gather the full time column per spatial chunk (fill scans arbitrarily far)
    def gather(key, table):
        rows = list(chunk_rows(table))
        _, icy, icx = rows[0][1]
        nb, _, ny, nx = rows[0][2].shape
        full = np.full((nb, g.nt, ny, nx), np.nan)
        for _, coords, t in rows:
            (t0, t1), _, _ = g.chunk_cell_range(*coords)
            full[:, t0:t1] = t
        filled = _fill_series(np.moveaxis(full, 1, 0), method).transpose(1, 0, 2, 3)
        out = []
        for kt in range(g.nct):
            (t0, t1), _, _ = g.chunk_cell_range(kt, icy, icx)
            piece = filled[:, t0:t1]
            if not np.all(np.isnan(piece)):
                out.append((g.chunk_id(kt, icy, icx), (kt, icy, icx), piece))
        return pa.table(emit(CHUNK_SCHEMA, out))

    keyed = cube.df.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx"))
    df = (pin_group_partitions(keyed, "skey", g.ncy * g.ncx)
          .groupBy("skey").applyInArrow(gather, CHUNK_SCHEMA))
    return Cube(df, view, list(cube.bands), g)
