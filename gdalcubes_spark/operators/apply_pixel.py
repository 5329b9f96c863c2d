"""apply_pixel / filter_pixel: per-pixel expressions over band values.

Reference semantics (apply_pixel.cpp:33-209, filter_pixel.h:48-80):
- apply_pixel: one new band per expression; variables are lowercase band names
  plus coordinate vars t0,t1,left,right,top,bottom,ix,iy,it (global indices;
  t0/t1 epoch seconds of the slice bounds; left/right/top/bottom per-cell
  bounds). keep_bands appends instead of replacing. Per-expression used-band
  analysis binds only referenced inputs.
- filter_pixel: predicate string; non-matching pixels become NaN — the cube
  SHAPE IS PRESERVED (this is NOT row filtering).

Spark shape: a narrow mapInArrow over chunk tensors — stays in one stage,
no shuffle; the numpy evaluation is the vectorized analogue of tinyexpr's
per-pixel loop. On long/cell form the same expressions render to F.expr via
gdalcubes_spark.expr.to_sql (used by the SQL oracles).
"""

from __future__ import annotations

from typing import List, Optional, Sequence, Union

import numpy as np

from gdalcubes_spark.cube import Cube
from gdalcubes_spark.expr import COORD_VARS, compile_expr


def _coord_env(needed, view, chunking, coords, shape):
    """Build per-chunk coordinate variable arrays broadcastable to (nt,ny,nx)."""
    env = {}
    nt, ny, nx = shape
    (t0c, _), (y0, _), (x0, _) = chunking.chunk_cell_range(*coords)
    if {"it", "t0", "t1"} & needed:
        it = (np.arange(nt) + t0c).astype("float64").reshape(nt, 1, 1)
        env["it"] = it
        if "t0" in needed or "t1" in needed:
            ep = view.time_epochs()
            if "t0" in needed:
                env["t0"] = np.array([ep[int(i)] for i in (np.arange(nt) + t0c)], dtype="float64").reshape(nt, 1, 1)
            if "t1" in needed:
                env["t1"] = np.array([ep[int(i) + 1] for i in (np.arange(nt) + t0c)], dtype="float64").reshape(nt, 1, 1)
    if {"ix", "left", "right"} & needed:
        ix = (np.arange(nx) + x0).astype("float64").reshape(1, 1, nx)
        env["ix"] = ix
        if "left" in needed:
            env["left"] = view.left + view.dx * ix
        if "right" in needed:
            env["right"] = view.left + view.dx * (ix + 1)
    if {"iy", "top", "bottom"} & needed:
        iy = (np.arange(ny) + y0).astype("float64").reshape(1, ny, 1)
        env["iy"] = iy
        if "top" in needed:
            env["top"] = view.top - view.dy * iy
        if "bottom" in needed:
            env["bottom"] = view.top - view.dy * (iy + 1)
    return env


def apply_pixel(cube: Cube, exprs: Union[str, Sequence[str]], names: Optional[Sequence[str]] = None,
                keep_bands: bool = False) -> Cube:
    if isinstance(exprs, str):
        exprs = [exprs]
    exprs = list(exprs)
    compiled = [compile_expr(e) for e in exprs]
    if names is None:
        names = [f"band{i + 1}" for i in range(len(exprs))]
    names = list(names)
    if len(names) != len(exprs):
        raise ValueError("names must match exprs")

    in_bands = list(cube.bands)
    lower = {b.lower(): i for i, b in enumerate(in_bands)}
    lower.update({b: i for i, b in enumerate(in_bands)})  # exact names too
    out_bands = (in_bands + names) if keep_bands else names
    view, chunking = cube.view, cube.chunking

    def fn(t: np.ndarray, coords):
        nb, nt, ny, nx = t.shape
        results = []
        for ce in compiled:
            env = {}
            coord_needed = {v for v in ce.variables if v in COORD_VARS}
            env.update(_coord_env(coord_needed, view, chunking, coords, (nt, ny, nx)))
            for v in ce.variables:
                if v in coord_needed:
                    continue
                if v not in lower:
                    raise ValueError(f"unknown variable {v!r}; bands: {in_bands}")
                env[v] = t[lower[v]]
            r = ce(env)
            results.append(np.broadcast_to(r, (nt, ny, nx)))
        new = np.stack(results, axis=0)
        if keep_bands:
            new = np.concatenate([t, new], axis=0)
        return new

    return cube.map_chunks(fn, out_bands=out_bands)


def filter_pixel(cube: Cube, predicate: str) -> Cube:
    """Pixels where the predicate is false/0 become NaN in ALL bands
    (filter_pixel.h:48-80) — shape preserved."""
    ce = compile_expr(predicate)
    in_bands = list(cube.bands)
    lower = {b.lower(): i for i, b in enumerate(in_bands)}
    lower.update({b: i for i, b in enumerate(in_bands)})
    view, chunking = cube.view, cube.chunking

    def fn(t: np.ndarray, coords):
        nb, nt, ny, nx = t.shape
        env = {}
        coord_needed = {v for v in ce.variables if v in COORD_VARS}
        env.update(_coord_env(coord_needed, view, chunking, coords, (nt, ny, nx)))
        for v in ce.variables:
            if v in coord_needed:
                continue
            if v not in lower:
                raise ValueError(f"unknown variable {v!r}; bands: {in_bands}")
            env[v] = t[lower[v]]
        m = ce(env)
        mask = np.broadcast_to(m, (nt, ny, nx)) != 0
        out = np.where(mask[None, ...], t, np.nan)
        return out

    return cube.map_chunks(fn)
