"""Projection / selection operators: select_bands, rename_bands, slice_time,
slice_space, select_time, crop.

Reference: select_bands.h:50-90 (band pushdown = column pruning),
rename_bands.h:45, slice_time.h:45-85, slice_space.h:46-110,
select_time.h:22-72 (labeled time axis), crop.h:51-130 (snap near|in|out on
cell indices).

Spark shapes: band ops and slices are narrow (filter on chunk-coord columns —
this is partition pruning, the tensor op runs only on surviving chunks).
crop re-grids chunk space: chunk pieces are shuffled by output chunk id
(one bounded shuffle) unless the crop is chunk-aligned.
"""

from __future__ import annotations

import itertools
import math
from typing import Iterable, Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, emit
from gdalcubes_spark.grid import ChunkGrid, CubeView, Datetime


def select_bands(cube: Cube, bands: Sequence[str]) -> Cube:
    bands = list(bands)
    unknown = [b for b in bands if b not in cube.bands]
    if unknown:
        raise ValueError(f"unknown bands {unknown}; cube has {cube.bands}")
    idx = [cube.bands.index(b) for b in bands]
    # pushdown: selecting bands of a raster_cube re-plans the scan so only
    # those bands are sampled/aggregated/shuffled (select_bands.h:50-90)
    if cube._scan_rebuild is not None:
        return cube._scan_rebuild(bands)

    def fn(t: np.ndarray, coords):
        return t[idx]

    return cube.map_chunks(fn, out_bands=bands)


def rename_bands(cube: Cube, mapping: dict) -> Cube:
    unknown = set(mapping) - set(cube.bands)
    if unknown:
        raise ValueError(f"unknown bands {unknown}")
    new = [mapping.get(b, b) for b in cube.bands]
    return Cube(cube.df, cube.view, new, cube.chunking)


def slice_time(cube: Cube, t=None, it: Optional[int] = None) -> Cube:
    view, g = cube.view, cube.chunking
    if it is None:
        if t is None:
            raise ValueError("need t or it")
        it = view.index_at_datetime(Datetime.parse(t) if isinstance(t, str) else t)
    it = int(it)
    if not (0 <= it < view.nt):
        raise ValueError(f"time index {it} out of range [0, {view.nt})")
    ict, loc = it // g.ct, it % g.ct
    out_view = view.copy(labels=None)  # single regular slice; stale labels would force nt=len(labels)
    tsel = view.datetime_at_index(it)
    out_view.t0 = tsel
    out_view.t1 = tsel
    gout = ChunkGrid(nt=1, ny=g.ny, nx=g.nx, ct=1, cy=g.cy, cx=g.cx)

    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            pieces = ((cy, cx, t[:, loc : loc + 1]) for _, (_, cy, cx), t in chunk_rows(b))
            yield emit(CHUNK_SCHEMA, [(gout.chunk_id(0, cy, cx), (0, cy, cx), t) for cy, cx, t in pieces
                                      if not np.all(np.isnan(t))])

    # partition pruning: only the one chunk slab along t is read
    df = cube.df.filter(F.col("ct") == ict).mapInArrow(gen, CHUNK_SCHEMA)
    return Cube(df, out_view, list(cube.bands), gout)


def slice_space(cube: Cube, x: Optional[float] = None, y: Optional[float] = None,
                ix: Optional[int] = None, iy: Optional[int] = None) -> Cube:
    view, g = cube.view, cube.chunking
    if ix is None or iy is None:
        if x is None or y is None:
            raise ValueError("need (x,y) or (ix,iy)")
        ix = int((x - view.left) / view.dx)
        iy = int((view.top - y) / view.dy)
    ix, iy = int(ix), int(iy)
    icy, icx, ly, lx = iy // g.cy, ix // g.cx, iy % g.cy, ix % g.cx
    out_view = view.copy()
    out_view.set_x_axis(view.left + ix * view.dx, view.left + (ix + 1) * view.dx, n=1)
    out_view.set_y_axis(view.top - (iy + 1) * view.dy, view.top - iy * view.dy, n=1)
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)

    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            pieces = ((ct, t[:, :, ly : ly + 1, lx : lx + 1]) for _, (ct, _, _), t in chunk_rows(b))
            yield emit(CHUNK_SCHEMA, [(gout.chunk_id(ct, 0, 0), (ct, 0, 0), t) for ct, t in pieces
                                      if not np.all(np.isnan(t))])

    df = cube.df.filter((F.col("cy") == icy) & (F.col("cx") == icx)).mapInArrow(gen, CHUNK_SCHEMA)
    return Cube(df, out_view, list(cube.bands), gout)


def select_time(cube: Cube, datetimes: Sequence) -> Cube:
    """Pick arbitrary datetime slices → labeled (irregular) time axis
    (select_time.h:22-72). The label list is broadcast via the view copy."""
    view, g = cube.view, cube.chunking
    its = []
    labels = []
    for t in datetimes:
        d = Datetime.parse(t) if isinstance(t, str) else t
        its.append(view.index_at_datetime(d))
        labels.append(view.datetime_at_index(its[-1]))
    order = list(range(len(its)))
    out_view = view.copy(t0=labels[0], t1=labels[-1], labels=tuple(labels))
    gout = ChunkGrid(nt=len(its), ny=g.ny, nx=g.nx, ct=len(its), cy=g.cy, cx=g.cx)
    wanted = {}
    for oi, it in zip(order, its):
        wanted.setdefault(it // g.ct, []).append((oi, it % g.ct))
    wanted_cts = sorted(wanted)

    # a picked slice travels as a chunk row whose ct is its label index
    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for cid, (ict, cy, cx), t in chunk_rows(b):
                for oi, loc in wanted.get(ict, ()):
                    s = t[:, loc : loc + 1]
                    if not np.all(np.isnan(s)):
                        rows.append((cid, (oi, cy, cx), s))
            yield emit(CHUNK_SCHEMA, rows)

    # assemble slices per output chunk (ct dimension = label index, ct_chunk = nt)
    def assemble(key, table):
        rows = list(chunk_rows(table))
        _, (_, cy, cx), first = rows[0]
        t = np.full((first.shape[0], len(its)) + first.shape[2:], np.nan)
        for _, (oi, _, _), s in rows:
            t[:, oi] = s[:, 0]
        return pa.table(emit(CHUNK_SCHEMA, [(gout.chunk_id(0, cy, cx), (0, cy, cx), t)]))

    pieces = cube.df.filter(F.col("ct").isin(wanted_cts)).mapInArrow(gen, CHUNK_SCHEMA)
    df = pieces.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx")) \
        .groupBy("skey").applyInArrow(assemble, CHUNK_SCHEMA)
    return Cube(df, out_view, list(cube.bands), gout)


def _snap_idx(v: float, origin: float, delta: float, mode: str, lo: bool) -> int:
    f = (v - origin) / delta
    if mode == "near":
        return int(math.floor(f + 0.5)) if lo else int(math.ceil(f - 0.5))
    if mode == "in":
        return int(math.ceil(f)) if lo else int(math.floor(f))
    if mode == "out":
        return int(math.floor(f)) if lo else int(math.ceil(f))
    raise ValueError(f"unknown snap {mode!r}")


def crop(cube: Cube, left=None, right=None, bottom=None, top=None, t0=None, t1=None,
         snap: str = "near") -> Cube:
    """Crop by extent/time with index snapping (crop.h:51-130). Cell-index
    ranges are computed once; chunk pieces shuffle to the re-origined grid."""
    view, g = cube.view, cube.chunking
    x0 = _snap_idx(left, view.left, view.dx, snap, True) if left is not None else 0
    x1 = _snap_idx(right, view.left, view.dx, snap, False) if right is not None else view.nx
    # y axis counts down from top
    y0 = _snap_idx(top, view.top, -view.dy, snap, True) if top is not None else 0
    y1 = _snap_idx(bottom, view.top, -view.dy, snap, False) if bottom is not None else view.ny
    if t0 is not None:
        tt0 = view.index_at_datetime(Datetime.parse(t0) if isinstance(t0, str) else t0)
    else:
        tt0 = 0
    if t1 is not None:
        tt1 = view.index_at_datetime(Datetime.parse(t1) if isinstance(t1, str) else t1) + 1
    else:
        tt1 = view.nt
    x0, x1 = max(0, x0), min(view.nx, x1)
    y0, y1 = max(0, y0), min(view.ny, y1)
    tt0, tt1 = max(0, tt0), min(view.nt, tt1)
    if x1 <= x0 or y1 <= y0 or tt1 <= tt0:
        raise ValueError("empty crop")

    # labeled axis: keep only the labels inside the crop window
    out_view = view.copy(labels=(view.labels[tt0:tt1] if view.labels is not None else None))
    out_view.set_x_axis(view.left + x0 * view.dx, view.left + x1 * view.dx, n=x1 - x0)
    out_view.set_y_axis(view.top - y1 * view.dy, view.top - y0 * view.dy, n=y1 - y0)
    out_view.t0 = view.datetime_at_index(tt0)
    out_view.t1 = view.datetime_at_index(tt1 - 1)
    gout = ChunkGrid(nt=tt1 - tt0, ny=y1 - y0, nx=x1 - x0, ct=g.ct, cy=g.cy, cx=g.cx)
    return _regrid(cube, (tt0, tt1), (y0, y1), (x0, x1), out_view, gout)


def crop_indices(cube: Cube, ix0: int = 0, ix1: Optional[int] = None,
                 iy0: int = 0, iy1: Optional[int] = None,
                 it0: int = 0, it1: Optional[int] = None) -> Cube:
    """The reference crop's INDEX variant (crop.h:74-130): half-open cell
    index ranges instead of coordinates — same regrid machinery."""
    view, g = cube.view, cube.chunking
    x1 = view.nx if ix1 is None else int(ix1)
    y1 = view.ny if iy1 is None else int(iy1)
    t1 = view.nt if it1 is None else int(it1)
    x0, y0, t0 = max(0, int(ix0)), max(0, int(iy0)), max(0, int(it0))
    x1, y1, t1 = min(view.nx, x1), min(view.ny, y1), min(view.nt, t1)
    if x1 <= x0 or y1 <= y0 or t1 <= t0:
        raise ValueError("empty crop")
    out_view = view.copy(labels=(view.labels[t0:t1] if view.labels is not None else None))
    out_view.set_x_axis(view.left + x0 * view.dx, view.left + x1 * view.dx, n=x1 - x0)
    out_view.set_y_axis(view.top - y1 * view.dy, view.top - y0 * view.dy, n=y1 - y0)
    out_view.t0 = view.datetime_at_index(t0)
    out_view.t1 = view.datetime_at_index(t1 - 1)
    gout = ChunkGrid(nt=t1 - t0, ny=y1 - y0, nx=x1 - x0, ct=g.ct, cy=g.cy, cx=g.cx)
    return _regrid(cube, (t0, t1), (y0, y1), (x0, x1), out_view, gout)


def _regrid(cube: Cube, trange, yrange, xrange, out_view: CubeView, gout: ChunkGrid) -> Cube:
    """Shift/crop cube cells into a new chunk grid. Input chunks are cut into
    pieces per output chunk and shuffled once on the output chunk id."""
    g = cube.chunking
    tt0, tt1 = trange
    y0, y1 = yrange
    x0, x1 = xrange

    # prune input chunks outside the crop (partition pruning on chunk coords)
    df = cube.df.filter(
        (F.col("ct") >= tt0 // g.ct) & (F.col("ct") <= (tt1 - 1) // g.ct)
        & (F.col("cy") >= y0 // g.cy) & (F.col("cy") <= (y1 - 1) // g.cy)
        & (F.col("cx") >= x0 // g.cx) & (F.col("cx") <= (x1 - 1) // g.cx)
    )

    # a piece travels as a chunk row keyed by its OUTPUT chunk id, with its
    # offset inside that chunk in the (ct, cy, cx) columns
    def cut(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for _, coords, t_ in chunk_rows(b):
                (ct0, ct1), (cy0, cy1), (cx0, cx1) = g.chunk_cell_range(*coords)
                # overlap with crop in global input cell coords
                ot0, ot1 = max(ct0, tt0), min(ct1, tt1)
                oy0, oy1 = max(cy0, y0), min(cy1, y1)
                ox0, ox1 = max(cx0, x0), min(cx1, x1)
                if ot0 >= ot1 or oy0 >= oy1 or ox0 >= ox1:
                    continue
                # output cell coords of the overlap
                gt0, gy0, gx0 = ot0 - tt0, oy0 - y0, ox0 - x0
                gt1, gy1, gx1 = ot1 - tt0, oy1 - y0, ox1 - x0
                # split by output chunk boundaries
                tks = range(gt0 // gout.ct, (gt1 - 1) // gout.ct + 1)
                yks = range(gy0 // gout.cy, (gy1 - 1) // gout.cy + 1)
                xks = range(gx0 // gout.cx, (gx1 - 1) // gout.cx + 1)
                for kt, ky, kx in itertools.product(tks, yks, xks):
                    (pt0, pt1), (py0, py1), (px0, px1) = gout.chunk_cell_range(kt, ky, kx)
                    st0, st1 = max(gt0, pt0), min(gt1, pt1)
                    sy0, sy1 = max(gy0, py0), min(gy1, py1)
                    sx0, sx1 = max(gx0, px0), min(gx1, px1)
                    piece = t_[:, st0 + tt0 - ct0 : st1 + tt0 - ct0,
                               sy0 + y0 - cy0 : sy1 + y0 - cy0,
                               sx0 + x0 - cx0 : sx1 + x0 - cx0]
                    if not np.all(np.isnan(piece)):
                        rows.append((gout.chunk_id(kt, ky, kx), (st0 - pt0, sy0 - py0, sx0 - px0), piece))
            yield emit(CHUNK_SCHEMA, rows)

    nb = len(cube.bands)

    def assemble(key, table):
        cid = key[0].as_py()
        coords = gout.chunk_coords(cid)
        t_ = np.full((nb,) + gout.chunk_shape(*coords), np.nan)
        for _, (ot, oy, ox), p in chunk_rows(table):
            t_[:, ot : ot + p.shape[1], oy : oy + p.shape[2], ox : ox + p.shape[3]] = p
        return pa.table(emit(CHUNK_SCHEMA, [(cid, coords, t_)]))

    out_df = df.mapInArrow(cut, CHUNK_SCHEMA).groupBy("chunk_id").applyInArrow(assemble, CHUNK_SCHEMA)
    return Cube(out_df, out_view, list(cube.bands), gout)
