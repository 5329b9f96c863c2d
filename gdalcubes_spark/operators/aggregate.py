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
bins its pieces' cells with vectorized pandas groupby reductions (exact
median/var, NaN-skipping). No cell-row explosion: payloads stay as packed
tensors end-to-end.
"""

from __future__ import annotations

import itertools
import math
from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_stream, pack_tensor, tensor_of
from gdalcubes_spark.grid import ChunkGrid, Duration

AGG_METHODS = ("mean", "min", "max", "median", "count", "var", "sd", "prod", "sum")

_PIECE_SCHEMA = T.StructType([
    T.StructField("ocid", T.LongType(), False),     # output chunk id
    T.StructField("gmap_t", T.BinaryType(), False),  # int64 out t index per input slice (local to out chunk)
    T.StructField("gmap_y", T.BinaryType(), False),
    T.StructField("gmap_x", T.BinaryType(), False),
    T.StructField("nb", T.IntegerType(), False),
    T.StructField("nt", T.IntegerType(), False),
    T.StructField("ny", T.IntegerType(), False),
    T.StructField("nx", T.IntegerType(), False),
    T.StructField("data", T.BinaryType(), False),
])

_PANDAS_AGG = {"mean": "mean", "min": "min", "max": "max", "median": "median",
               "count": "count", "var": "var", "sd": "std", "prod": "prod", "sum": "sum"}


def _aggregate(cube: Cube, out_view, gout: ChunkGrid, t_map: np.ndarray,
               y_map: np.ndarray, x_map: np.ndarray, method: str) -> Cube:
    """Generic regrid-aggregate. t/y/x_map: global input index → global output
    index (precomputed on the driver: nt/ny/nx-sized int arrays — small)."""
    g = cube.chunking
    nb = len(cube.bands)

    base_df, _xf = chunk_stream(cube)  # fuse any pending narrow chain in here

    def cut(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                ict, icy, icx = int(row["ct"]), int(row["cy"]), int(row["cx"])
                tsr = _xf(tensor_of(row), (ict, icy, icx))
                if tsr is None:
                    continue
                (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(ict, icy, icx)
                ot = t_map[t0:t1]
                oy = y_map[y0:y1]
                ox = x_map[x0:x1]
                # output chunk coords touched by this input chunk
                kts = np.unique(ot // gout.ct)
                kys = np.unique(oy // gout.cy)
                kxs = np.unique(ox // gout.cx)
                for kt, ky, kx in itertools.product(kts, kys, kxs):
                    st = ot // gout.ct == kt
                    sy = oy // gout.cy == ky
                    sx = ox // gout.cx == kx
                    piece = tsr[:, st][:, :, sy][:, :, :, sx]
                    if np.all(np.isnan(piece)):
                        continue
                    (pt0, _), (py0, _), (px0, _) = gout.chunk_cell_range(int(kt), int(ky), int(kx))
                    rows.append(dict(
                        ocid=gout.chunk_id(int(kt), int(ky), int(kx)),
                        gmap_t=(ot[st] - pt0).astype("<i8").tobytes(),
                        gmap_y=(oy[sy] - py0).astype("<i8").tobytes(),
                        gmap_x=(ox[sx] - px0).astype("<i8").tobytes(),
                        nb=nb, nt=int(st.sum()), ny=int(sy.sum()), nx=int(sx.sum()),
                        data=pack_tensor(piece)))
            yield pd.DataFrame(rows, columns=[f.name for f in _PIECE_SCHEMA.fields]) if rows else \
                pd.DataFrame({f.name: pd.Series(dtype="object") for f in _PIECE_SCHEMA.fields})

    fn = _PANDAS_AGG[method]

    def merge(key, pdf):
        ocid = int(key[0])
        kt, ky, kx = gout.chunk_coords(ocid)
        ntc, nyc, nxc = gout.chunk_shape(kt, ky, kx)
        groups, values = [], []
        for _, row in pdf.iterrows():
            p = tensor_of(row)
            lt = np.frombuffer(row["gmap_t"], dtype="<i8")
            ly = np.frombuffer(row["gmap_y"], dtype="<i8")
            lx = np.frombuffer(row["gmap_x"], dtype="<i8")
            nb_, pnt, pny, pnx = p.shape
            gid = (np.arange(nb_)[:, None, None, None] * (ntc * nyc * nxc)
                   + lt[None, :, None, None] * (nyc * nxc)
                   + ly[None, None, :, None] * nxc
                   + lx[None, None, None, :])
            groups.append(gid.ravel())
            values.append(p.ravel())
        gids = np.concatenate(groups)
        vals = np.concatenate(values)
        s = pd.Series(vals).groupby(pd.Series(gids)).agg(fn)
        out = np.full(nb * ntc * nyc * nxc, np.nan)
        idx = s.index.to_numpy()
        res = s.to_numpy(dtype="float64")
        # pandas count returns 0 for all-NaN groups but those groups only exist
        # where an input chunk contributed → matches the non-empty-chunk rule
        out[idx] = res
        t = out.reshape(nb, ntc, nyc, nxc)
        if np.all(np.isnan(t)):
            return pd.DataFrame(columns=[f.name for f in CHUNK_SCHEMA.fields])
        return pd.DataFrame([dict(chunk_id=ocid, ct=kt, cy=ky, cx=kx, nb=nb, nt=ntc,
                                  ny=nyc, nx=nxc, data=pack_tensor(t))])

    out_df = base_df.mapInPandas(cut, _PIECE_SCHEMA).groupBy("ocid").applyInPandas(merge, CHUNK_SCHEMA)
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
