"""User-defined-function operators — the reference's "streaming" machinery
(stream.h:38-120, stream_apply_pixel/time, R chunk_apply/apply_time/predict)
re-expressed as Arrow UDFs over chunk tensors (mapInArrow / applyInArrow).
cloudpickle (built into PySpark) replaces the reference's external-process
byte protocol; Arrow replaces its [size][names][dims][payload] framing.

- chunk_apply(fn):   fn(tensor (nb,nt,ny,nx), (ict,icy,icx)) → tensor; output
  t/y/x dims must be 1 or same-as-input (stream.h shape rule).
- apply_time(fn):    fn sees each pixel's FULL (nb, nt) series; output
  (k, nt). Requires the whole time axis → gathers chunk columns when nct > 1.
- predict(model):    broadcast model, model.predict(X (cells, nb)) → (cells,)
  or (cells, k); the standard Spark batch-inference pattern.

The output band count of a user function is only known when it runs, so
each operator checks it there against the band names it declared (the
input's, or `names=`) and raises instead of writing a mislabeled cube.
"""

from __future__ import annotations

from typing import Callable, List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, emit
from gdalcubes_spark.grid import ChunkGrid


def _check_bands(op: str, out: np.ndarray, bands: List[str]) -> np.ndarray:
    if out.shape[0] != len(bands):
        raise ValueError(f"{op}: the function returned {out.shape[0]} band(s), but the output cube "
                         f"declares {len(bands)} ({bands}); pass names= with one name per output band")
    return out


def _time_columns(g: ChunkGrid, table):
    """(icy, icx, full): a spatial chunk's rows gathered into its full
    (nb, nt, ny, nx) time column, NaN where a chunk is elided."""
    rows = list(chunk_rows(table))
    _, icy, icx = rows[0][1]
    nb, _, ny, nx = rows[0][2].shape
    full = np.full((nb, g.nt, ny, nx), np.nan)
    for _, coords, t in rows:
        (t0, t1), _, _ = g.chunk_cell_range(*coords)
        full[:, t0:t1] = t
    return icy, icx, full


def chunk_apply(cube: Cube, fn: Callable, names: Optional[List[str]] = None) -> Cube:
    out_bands = list(names or cube.bands)

    def wrapped(t: np.ndarray, coords):
        r = fn(t, coords)
        if r is None:
            return None
        r = np.asarray(r, dtype="float64")
        nb, nt, ny, nx = t.shape
        for dim, (got, want) in enumerate(zip(r.shape[1:], (nt, ny, nx))):
            if got not in (1, want):
                raise ValueError(f"chunk_apply output dim {dim} must be 1 or {want}, got {got}")
        return _check_bands("chunk_apply", r, out_bands)
    return cube.map_chunks(wrapped, out_bands=out_bands)


def apply_time(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
               names: Optional[List[str]] = None) -> Cube:
    """fn: (nb, nt) → (k, nt) per pixel (R apply_time, R/apply_time.R:115).
    The function is applied per pixel; vectorize inside fn where possible."""
    g = cube.chunking
    out_bands = list(names or cube.bands)

    def per_chunk(full: np.ndarray) -> np.ndarray:
        nb, nt, ny, nx = full.shape
        cols = full.reshape(nb, nt, ny * nx)
        outs = []
        for i in range(ny * nx):
            r = np.asarray(fn(cols[:, :, i]), dtype="float64")
            if r.ndim == 1:
                r = r[None, :]
            outs.append(r)
        k = outs[0].shape[0]
        return _check_bands("apply_time", np.stack(outs, axis=-1).reshape(k, nt, ny, nx), out_bands)

    if g.nct == 1:
        return cube.map_chunks(lambda t, coords: per_chunk(t), out_bands=out_bands)

    # gather chunk columns along t (same pattern as fill_time)
    def gather(key, table):
        icy, icx, full = _time_columns(g, table)
        out = per_chunk(full)
        rows = []
        for kt in range(g.nct):
            (t0, t1), _, _ = g.chunk_cell_range(kt, icy, icx)
            piece = out[:, t0:t1]
            if not np.all(np.isnan(piece)):
                rows.append((g.chunk_id(kt, icy, icx), (kt, icy, icx), piece))
        return pa.table(emit(CHUNK_SCHEMA, rows))

    keyed = cube.df.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx"))
    df = keyed.groupBy("skey").applyInArrow(gather, CHUNK_SCHEMA)
    return Cube(df, cube.view, out_bands, g)


def reduce_time_udf(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
                    names: Optional[List[str]] = None) -> Cube:
    """R `reduce_time(x, FUN=...)` (stream_reduce_time.cpp:24-196): fn sees
    each pixel's FULL (nb, nt) series, returns (k,) — output nt == 1.
    The full time axis is assembled per spatial chunk before the call."""
    g, view = cube.chunking, cube.view
    gout = ChunkGrid(nt=1, ny=g.ny, nx=g.nx, ct=1, cy=g.cy, cx=g.cx)
    out_view = view.copy(dt=(view.t1 - view.t0) + 1, labels=None)
    out_bands = list(names or ["udf1"])

    def gather(key, table):
        icy, icx, full = _time_columns(g, table)
        nb, _, ny, nx = full.shape
        cols = full.reshape(nb, g.nt, ny * nx)
        outs = [np.atleast_1d(np.asarray(fn(cols[:, :, i]), dtype="float64"))
                for i in range(ny * nx)]
        out = _check_bands("reduce_time_udf", np.stack(outs, axis=-1).reshape(len(outs[0]), 1, ny, nx), out_bands)
        rows = [] if np.all(np.isnan(out)) else [(gout.chunk_id(0, icy, icx), (0, icy, icx), out)]
        return pa.table(emit(CHUNK_SCHEMA, rows))

    keyed = cube.df.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx"))
    df = keyed.groupBy("skey").applyInArrow(gather, CHUNK_SCHEMA)
    return Cube(df, out_view, out_bands, gout)


def reduce_space_udf(cube: Cube, fn: Callable[[np.ndarray], np.ndarray],
                     names: Optional[List[str]] = None) -> Cube:
    """R `reduce_space(x, FUN=...)` (stream_reduce_space.cpp): fn sees each
    time slice's full (nb, ny, nx) plane, returns (k,) — output 1×1/slice."""
    g, view = cube.chunking, cube.view
    nb = len(cube.bands)
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)
    out_view = view.copy()
    out_view.set_x_axis(view.left, view.right, n=1)
    out_view.set_y_axis(view.bottom, view.top, n=1)
    out_bands = list(names or ["udf1"])

    def gather(key, table):
        ict = key[0].as_py()
        (t0c, t1c), _, _ = g.chunk_cell_range(ict, 0, 0)
        ntc = t1c - t0c
        plane = np.full((nb, ntc, g.ny, g.nx), np.nan)
        for _, coords, t in chunk_rows(table):
            _, (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
            plane[:, :, y0:y1, x0:x1] = t
        outs = [np.atleast_1d(np.asarray(fn(plane[:, t]), dtype="float64")) for t in range(ntc)]
        out = _check_bands("reduce_space_udf", np.stack(outs, axis=1).reshape(len(outs[0]), ntc, 1, 1), out_bands)
        rows = [] if np.all(np.isnan(out)) else [(gout.chunk_id(ict, 0, 0), (ict, 0, 0), out)]
        return pa.table(emit(CHUNK_SCHEMA, rows))

    df = cube.df.groupBy("ct").applyInArrow(gather, CHUNK_SCHEMA)
    return Cube(df, out_view, out_bands, gout)


def predict(cube: Cube, model, output_names: Optional[List[str]] = None,
            keep_bands: bool = False) -> Cube:
    """Per-pixel model inference (R/predict.R:57): model.predict over
    (cells, nb) feature matrix, vectorized per chunk. NaN feature rows → NaN
    predictions."""
    names = output_names or ["pred"]

    def fn(t: np.ndarray, coords):
        nb, nt, ny, nx = t.shape
        X = t.reshape(nb, -1).T  # (cells, nb)
        ok = ~np.any(np.isnan(X), axis=1)
        out = np.full((len(names), X.shape[0]), np.nan)
        if ok.any():
            y = np.asarray(model.predict(X[ok]), dtype="float64")
            if y.ndim == 1:
                y = y[:, None]
            out[:, ok] = y.T[: len(names)]
        r = out.reshape(len(names), nt, ny, nx)
        if keep_bands:
            r = np.concatenate([t, r], axis=0)
        return r

    out_bands = (list(cube.bands) + names) if keep_bands else names
    return cube.map_chunks(fn, out_bands=out_bands)
