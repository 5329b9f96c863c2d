"""filter_geom: crop + mask a cube by a WKT (multi)polygon.

Reference: filter_geom.cpp:32-306 — constructor computes the polygon-bbox
chunk range (pruning, :99-119); per chunk: skip if disjoint, zero-copy
pass-through if the chunk rectangle is fully contained (:196-215,231-234),
else rasterize at cell resolution (point-in-polygon per cell center,
:242-302) and NaN-out outside pixels.

Spark shape: the chunk-range prune is a `filter` on chunk-coord columns
(partition pruning); contains/disjoint fast paths skip the PIP entirely;
the exact PIP runs vectorized in numpy only on boundary chunks.
The output cube is cropped to the polygon bbox (snap "out"), like the
reference re-views the cube to the geometry extent.
"""

from __future__ import annotations

import math
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, emit
from gdalcubes_spark.geom import parse_wkt


def filter_geom(cube: Cube, wkt: str) -> Cube:
    geom = parse_wkt(wkt)
    view, g = cube.view, cube.chunking
    gl, gb, gr, gt = geom.bbox
    # chunk-range pruning from the polygon bbox (filter_geom.cpp:99-119)
    x0 = max(0, int(math.floor((gl - view.left) / view.dx)))
    x1 = min(view.nx, int(math.ceil((gr - view.left) / view.dx)))
    y0 = max(0, int(math.floor((view.top - gt) / view.dy)))
    y1 = min(view.ny, int(math.ceil((view.top - gb) / view.dy)))
    if x0 >= x1 or y0 >= y1:
        from pyspark.sql import SparkSession
        spark = SparkSession.getActiveSession()
        return Cube(spark.createDataFrame([], CHUNK_SCHEMA), view, list(cube.bands), g)

    kx0, kx1 = x0 // g.cx, (x1 - 1) // g.cx
    ky0, ky1 = y0 // g.cy, (y1 - 1) // g.cy
    pruned = cube.df.filter((F.col("cx") >= kx0) & (F.col("cx") <= kx1)
                            & (F.col("cy") >= ky0) & (F.col("cy") <= ky1))

    vleft, vtop, dx, dy = view.left, view.top, view.dx, view.dy

    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for cid, coords, t in chunk_rows(b):
                _, (cy0, cy1), (cx0, cx1) = g.chunk_cell_range(*coords)
                cl = vleft + cx0 * dx
                cr = vleft + cx1 * dx
                ctp = vtop - cy0 * dy
                cb = vtop - cy1 * dy
                if geom.disjoint_bbox(cl, cb, cr, ctp):
                    continue
                if geom.contains_rect(cl, cb, cr, ctp):
                    rows.append((cid, coords, t))  # pass-through
                    continue
                xs = vleft + (np.arange(cx0, cx1) + 0.5) * dx
                ys = vtop - (np.arange(cy0, cy1) + 0.5) * dy
                X, Y = np.meshgrid(xs, ys)
                inside = geom.contains(X.ravel(), Y.ravel()).reshape(X.shape)
                if not inside.any():
                    continue
                out = np.where(inside[None, None, :, :], t, np.nan)
                if not np.all(np.isnan(out)):
                    rows.append((cid, coords, out))
            yield emit(CHUNK_SCHEMA, rows)

    masked = Cube(pruned.mapInArrow(gen, CHUNK_SCHEMA), view, list(cube.bands), g)
    # crop to the geometry bbox; bounds are already cell-aligned (x0/x1/y0/y1
    # are cell indices), so snap="in" keeps them exactly — no outward growth
    from gdalcubes_spark.operators.select import crop
    return crop(masked,
                left=view.left + x0 * view.dx, right=view.left + x1 * view.dx,
                bottom=view.top - y1 * view.dy, top=view.top - y0 * view.dy, snap="in")
