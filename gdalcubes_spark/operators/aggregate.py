"""aggregate_time / aggregate_space: re-grid a dimension to coarser resolution.

Reference semantics:
- aggregate_time (aggregate_time.h:40-187): new dt (or integer fact ⇒
  dt*fact); each source slice is assigned to the target cell containing its
  START datetime (calendar-aware: index_at_datetime); methods mean, min, max,
  median, count, var, sd, prod, sum.
- aggregate_space (aggregate_space.h:40-120, .cpp:281-472): new dx/dy or
  fact; each input-cell CENTER maps to exactly one output cell
  (aggregate_space.cpp:300-320); extent re-snapped via set_axis (symmetric
  enlargement on misalignment).

Spark shape: one bounded shuffle — input chunk tensors are cut into pieces
keyed by output chunk id (pure arithmetic, narrow), then each output chunk
reduces its pieces' cells grouped by output cell with reducers.segment_reduce
(exact median/var, NaN-skipping). No cell-row explosion: payloads stay as
packed tensors end-to-end.
"""

from __future__ import annotations

import itertools
from typing import Iterable, Optional

import numpy as np
import pyarrow as pa

from gdalcubes_spark import reducers as R
from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, chunk_stream, emit
from gdalcubes_spark.grid import ChunkGrid, Duration

AGG_METHODS = ("mean", "min", "max", "median", "count", "var", "sd", "prod", "sum")


def _aggregate(cube: Cube, out_view, gout: ChunkGrid, t_map: np.ndarray,
               y_map: np.ndarray, x_map: np.ndarray, method: str) -> Cube:
    """Generic regrid-aggregate. t/y/x_map: global input index → global output
    index (precomputed on the driver: nt/ny/nx-sized int arrays — small).

    A piece travels as a chunk row keyed by its OUTPUT chunk id and carrying
    its INPUT chunk's (ct, cy, cx); the merge re-derives the piece's output
    cell indices from those coords and the maps."""
    g = cube.chunking
    nb = len(cube.bands)

    def maps(coords, ocoords):
        """Per axis: the input cells of chunk `coords` that land in output
        chunk `ocoords`, and their output indices local to it."""
        out = []
        for m, (i0, i1), (o0, _), k, c in zip((t_map, y_map, x_map), g.chunk_cell_range(*coords),
                                               gout.chunk_cell_range(*ocoords), ocoords,
                                               (gout.ct, gout.cy, gout.cx)):
            om = m[i0:i1]
            sel = om // c == k
            out.append((sel, om[sel] - o0))
        return out

    base_df, chunks = chunk_stream(cube)  # fuse any pending narrow chain in here

    def cut(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for _, coords, tsr in chunks(b):
                (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
                # output chunk coords touched by this input chunk
                for ocoords in itertools.product(np.unique(t_map[t0:t1] // gout.ct).tolist(),
                                                 np.unique(y_map[y0:y1] // gout.cy).tolist(),
                                                 np.unique(x_map[x0:x1] // gout.cx).tolist()):
                    (st, _), (sy, _), (sx, _) = maps(coords, ocoords)
                    piece = tsr[:, st][:, :, sy][:, :, :, sx]
                    if not np.all(np.isnan(piece)):
                        rows.append((gout.chunk_id(*ocoords), coords, piece))
            yield emit(CHUNK_SCHEMA, rows)

    def merge(key, table):
        ocid = key[0].as_py()
        ocoords = gout.chunk_coords(ocid)
        ntc, nyc, nxc = gout.chunk_shape(*ocoords)
        groups, values = [], []
        for _, coords, p in chunk_rows(table):
            (_, lt), (_, ly), (_, lx) = maps(coords, ocoords)
            gid = (np.arange(p.shape[0])[:, None, None, None] * (ntc * nyc * nxc)
                   + lt[None, :, None, None] * (nyc * nxc)
                   + ly[None, None, :, None] * nxc
                   + lx[None, None, None, :])
            groups.append(gid.ravel())
            values.append(p.ravel())
        # a cell that only all-NaN values reach gives count/sum 0 (prod 1), but
        # it is only reached where an input piece had data: the non-empty-chunk rule
        t = R.segment_reduce(method, np.concatenate(groups), np.concatenate(values),
                             nb * ntc * nyc * nxc).reshape(nb, ntc, nyc, nxc)
        return pa.table(emit(CHUNK_SCHEMA, [] if np.all(np.isnan(t)) else [(ocid, ocoords, t)]))

    out_df = base_df.mapInArrow(cut, CHUNK_SCHEMA).groupBy("chunk_id").applyInArrow(merge, CHUNK_SCHEMA)
    return Cube(out_df, out_view, list(cube.bands), gout)


def aggregate_time(cube: Cube, dt: Optional[str] = None, fact: Optional[int] = None,
                   method: str = "mean") -> Cube:
    if method not in AGG_METHODS:
        raise ValueError(f"unknown aggregation method {method!r}")
    view = cube.view
    if dt is None:
        if fact is None:
            raise ValueError("need dt or fact")
        new_dt = view.dt * int(fact)
    else:
        new_dt = Duration.parse(dt)
    out_view = view.copy(dt=new_dt,
                         t0=view.t0.with_unit(new_dt.unit),
                         t1=view.t1.with_unit(new_dt.unit),
                         labels=None)  # re-binning to a regular axis drops labels
    # target index per source slice: by source cell START datetime
    t_map = np.array([out_view.index_at_datetime(view.datetime_at_index(i))
                      for i in range(view.nt)], dtype="int64")
    if (t_map < 0).any() or (t_map >= out_view.nt).any():
        raise ValueError("time aggregation produced out-of-range target index")
    g = cube.chunking
    gout = ChunkGrid(nt=out_view.nt, ny=g.ny, nx=g.nx, ct=max(1, g.ct), cy=g.cy, cx=g.cx)
    y_map = np.arange(view.ny, dtype="int64")
    x_map = np.arange(view.nx, dtype="int64")
    return _aggregate(cube, out_view, gout, t_map, y_map, x_map, method)


def aggregate_space(cube: Cube, dx: Optional[float] = None, dy: Optional[float] = None,
                    fact: Optional[int] = None, method: str = "mean") -> Cube:
    if method not in AGG_METHODS:
        raise ValueError(f"unknown aggregation method {method!r}")
    view = cube.view
    if fact is not None:
        ndx, ndy = view.dx * fact, view.dy * fact
    else:
        if dx is None or dy is None:
            raise ValueError("need (dx, dy) or fact")
        ndx, ndy = dx, dy
    out_view = view.copy()
    out_view.set_x_axis(view.left, view.right, delta=ndx)
    out_view.set_y_axis(view.bottom, view.top, delta=ndy)
    # input-cell centers → output cell (aggregate_space.cpp:300-320)
    xc = view.left + (np.arange(view.nx) + 0.5) * view.dx
    yc = view.top - (np.arange(view.ny) + 0.5) * view.dy
    x_map = np.clip(((xc - out_view.left) / out_view.dx).astype("int64"), 0, out_view.nx - 1)
    y_map = np.clip(((out_view.top - yc) / out_view.dy).astype("int64"), 0, out_view.ny - 1)
    t_map = np.arange(view.nt, dtype="int64")
    g = cube.chunking
    cy2 = min(g.cy, max(1, out_view.ny))
    cx2 = min(g.cx, max(1, out_view.nx))
    gout = ChunkGrid(nt=view.nt, ny=out_view.ny, nx=out_view.nx, ct=g.ct, cy=cy2, cx=cx2)
    return _aggregate(cube, out_view, gout, t_map, y_map, x_map, method)
