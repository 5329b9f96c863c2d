"""extract_geom: raster⋈vector join — for spatial (+optional per-feature
datetime) features, emit long-format rows (FID, time, band values); plus
zonal statistics on top.

Reference: extract_geom.cpp:33-523 (chunk-mask pruning :164-218, spatial
filter :282, per-feature rasterize+copy :327-493, all-NaN rows dropped
:430-449); R zonal stats = aggregate by FID(,time) (R/extract.R:81-151).

Spark shape (the north rule's raster↔vector pattern):
1. feature cover in the JVM: regexp_extract_all pulls the WKT's coordinates,
   array_min/array_max give its bbox, column arithmetic its cell range and
   an explode its covering chunk ids (the scan's equi-join trick: theta join
   → explode + equi join); a feature datetime picks one slice by counting
   slice starts ≤ its epoch. A WKT that is not POINT, POLYGON or
   MULTIPOLYGON fails the job (raise_error);
2. ONE broadcast inner join gives each covered chunk row its feature list
   (collect_list): chunks no feature covers drop out, and no tensor is
   copied per feature;
3. ONE mapInArrow reads the joined chunks through chunk_stream (a pending
   narrow chain runs inside it): the covered cells (a point's cell, or the
   cells of the feature's window whose centres are inside the polygon) are
   gathered for all the chunk's slices at once and leave as Arrow columns;
4. zonal stats = plain groupBy("fid"[, "time"]).agg — Catalyst's hash agg.
kNN tile lookup lives in pipeline/knn.py on the same cell-id machinery.
"""

from __future__ import annotations

import re
from typing import List, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark.cube import Cube, chunk_stream, emit
from gdalcubes_spark.geom import parse_wkt

# one pattern for the JVM (RLIKE) and Python (re): both read (?i), \s, [...]
_PAIR = r"([-+0-9.eE]+)\s+([-+0-9.eE]+)"
_POINT = r"(?i)^\s*POINT\s*\(\s*" + _PAIR + r"\s*\)\s*$"
_POLYGON = r"(?i)^\s*(MULTI)?POLYGON"
_POINT_RE = re.compile(_POINT)


def _sql(s: str) -> str:
    """s as a Spark SQL string literal (the parser unescapes backslashes)."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


_XS = f"transform(regexp_extract_all(wkt, {_sql(_PAIR)}, 1), s -> CAST(s AS double))"
_YS = f"transform(regexp_extract_all(wkt, {_sql(_PAIR)}, 2), s -> CAST(s AS double))"
# (l, b, r, t): the bbox of a `wkt` column, the min and max of the coordinate
# pairs. A WKT that is not POINT, POLYGON or MULTIPOLYGON fails the job with
# "unsupported WKT", as geom.parse_wkt raises.
_WKT_BBOX = [
    f"IF(wkt RLIKE {_sql(_POINT)} OR (wkt RLIKE {_sql(_POLYGON)} AND size({_XS}) > 0), array_min({_XS}),"
    f" raise_error(concat('unsupported WKT ', substr(wkt, 1, 40)))) AS l",
    f"array_min({_YS}) AS b", f"array_max({_XS}) AS r", f"array_max({_YS}) AS t"]


def _cover(cube: Cube, features: DataFrame, time_column: Optional[str]) -> DataFrame:
    """(chunk_id, fid, wkt, it_f, x0, x1, y0, y1), all SQL expressions: one
    row per chunk a feature's bbox touches, with the feature's cell range
    clamped to the view ([x0, x1] × [y0, y1], inclusive) and its slice it_f
    (-1: every slice). A feature whose unclamped cell range misses the view,
    or whose datetime falls outside the time axis, gets no row. (Expression
    strings, not Column calls: each PySpark Column call is a JVM round trip,
    and the ~70 this cover needs would double zonal_stats' plan-building
    time.)"""
    view, g = cube.view, cube.chunking
    left, top, dx, dy, nx, ny = view.left, view.top, view.dx, view.dy, view.nx, view.ny
    fepoch = f"unix_timestamp(`{time_column}`)" if time_column else "NULL"
    # unclamped cell range, floor so a coordinate just outside the view maps
    # to the outside cell (-1 or n), never to the edge cell; greatest skips
    # the NULL of a zero-width extent
    x0, y0 = f"floor((l - {left}) / {dx})", f"floor(({top} - t) / {dy})"
    fb = (features.selectExpr("fid", "wkt", *_WKT_BBOX, f"CAST({fepoch} AS bigint) AS fepoch")
          .selectExpr("fid", "wkt", "fepoch", f"{x0} AS x0", f"{y0} AS y0",
                      f"greatest({x0}, IF(r > l, ceil((r - {left}) / {dx} - 1e-9) - 1, NULL)) AS x1",
                      f"greatest({y0}, IF(t > b, ceil(({top} - b) / {dy} - 1e-9) - 1, NULL)) AS y1")
          .filter(f"x1 >= 0 AND x0 < {nx} AND y1 >= 0 AND y0 < {ny}")
          .selectExpr("fid", "wkt", "fepoch", "greatest(x0, 0) AS x0", f"least(x1, {nx - 1}) AS x1",
                      "greatest(y0, 0) AS y0", f"least(y1, {ny - 1}) AS y1")
          .selectExpr("*", f"explode(sequence(floor(x0 / {g.cx}), floor(x1 / {g.cx}))) AS kx")
          .selectExpr("*", f"explode(sequence(floor(y0 / {g.cy}), floor(y1 / {g.cy}))) AS ky"))
    if time_column:
        # feature time → the slice whose [start, end) holds it (calendar-aware)
        starts = ", ".join(str(int(e)) for e in view.time_epochs())
        fb = (fb.selectExpr("*", f"size(filter(array({starts}), e -> e <= fepoch)) - 1 AS it_f")
              .filter(f"it_f >= 0 AND it_f < {view.nt}").selectExpr("*", f"floor(it_f / {g.ct}) AS kt"))
    else:
        fb = fb.selectExpr("*", f"explode(sequence(0L, {g.nct - 1}L)) AS kt", "-1 AS it_f")
    return fb.selectExpr(f"kt * {g.ncy * g.ncx} + ky * {g.ncx} + kx AS chunk_id", "fid", "wkt",
                         "CAST(it_f AS bigint) AS it_f", "x0", "x1", "y0", "y1")


# a feature in its chunk's list: id, WKT, slice (-1: all), clamped cell range
_FEATURE = ("fid", "wkt", "it_f", "x0", "x1", "y0", "y1")


def _covered_cells(wkt: str, xs: np.ndarray, ys: np.ndarray):
    """Row-major (iy, ix) of the window cells with centres (xs, ys) that a
    feature covers: a POINT its one cell, a polygon the cells whose centre is
    inside it (even-odd PIP, geom.Geometry.contains)."""
    if _POINT_RE.match(wkt):
        return np.nonzero(np.ones((len(ys), len(xs)), bool))
    X, Y = np.meshgrid(xs, ys)
    return np.nonzero(parse_wkt(wkt).contains(X.ravel(), Y.ravel()).reshape(X.shape))


def extract_geom(cube: Cube, features: DataFrame, time_column: Optional[str] = None,
                 _partials: bool = False) -> DataFrame:
    """features: DataFrame(fid long, wkt string[, <time_column> timestamp]).
    Returns long DataFrame (fid, it, time, <band>...), all-NaN rows dropped.

    _partials (internal, used by zonal_stats' combinable fast path): instead
    of one row per covered CELL, emit one row per (feature, slice, chunk)
    carrying per-band partial states (count/sum/min/max). At scale the long
    form is O(covered cells) rows through Arrow; partials are O(features ×
    chunks) — the map-side-combine shape of the zonal aggregation."""
    view, g = cube.view, cube.chunking
    time_strings = pa.array([view.datetime_at_index(i).to_string() for i in range(view.nt)], pa.string())
    safe = [re.sub(r"\W", "_", b) for b in cube.bands]
    keys = [T.StructField("fid", T.LongType(), False), T.StructField("it", T.IntegerType(), False),
            T.StructField("time", T.StringType(), False)]
    if _partials:
        out_schema = T.StructType(keys + [f for s in safe for f in (
            T.StructField(f"{s}__cnt", T.LongType(), False),
            T.StructField(f"{s}__sum", T.DoubleType(), True),
            T.StructField(f"{s}__min", T.DoubleType(), True),
            T.StructField(f"{s}__max", T.DoubleType(), True))])
    else:
        out_schema = T.StructType(keys + [T.StructField(s, T.DoubleType(), True) for s in safe])
    empty = emit(out_schema, [])
    arrow = empty.schema

    def rows_of(fid, its, vals):
        """[fid, it, <band columns>...] of one feature's (nb, nits, ncells)
        values: one row per covered cell and slice, or per slice (partials)."""
        ok = ~np.isnan(vals)
        if _partials:
            cnt = ok.sum(axis=2)  # (nb, nits)
            keep = cnt.any(axis=0)  # a slice with no value in any band gives no row
            sums, mins, maxs = (np.where(cnt > 0, red(np.where(ok, vals, fill), axis=2), np.nan)
                                for red, fill in ((np.sum, 0.0), (np.min, np.inf), (np.max, -np.inf)))
            bands = [s[bi][keep] for bi in range(len(safe)) for s in (cnt, sums, mins, maxs)]
            return [np.full(keep.sum(), fid), its[keep], *bands]
        keep = ok.any(axis=0)  # (nits, ncells): all-NaN rows dropped
        return [np.full(keep.sum(), fid), np.repeat(its, keep.sum(axis=1)),
                *(vals[bi][keep] for bi in range(len(safe)))]

    df, chunks = chunk_stream(cube)

    def gather(batches):
        for b in batches:
            # the batch's feature lists, flat, and each chunk row's slice of them
            lists = b.column("feats")
            off = lists.offsets.to_numpy()
            feats = list(zip(*(lists.values.field(c).to_pylist() for c in _FEATURE)))
            row = {cid: i for i, cid in enumerate(b.column("chunk_id").to_pylist())}
            out = []
            for cid, coords, t_ in chunks(b):
                (ct0, ct1), (cy0, cy1), (cx0, cx1) = g.chunk_cell_range(*coords)
                xs = view.left + (np.arange(cx0, cx1) + 0.5) * view.dx
                ys = view.top - (np.arange(cy0, cy1) + 0.5) * view.dy
                for fid, wkt, it_f, x0, x1, y0, y1 in feats[off[row[cid]]:off[row[cid] + 1]]:
                    # the feature's cell window within this chunk, chunk-local
                    sx0, sx1 = max(x0, cx0) - cx0, min(x1 + 1, cx1) - cx0
                    sy0, sy1 = max(y0, cy0) - cy0, min(y1 + 1, cy1) - cy0
                    if sx0 >= sx1 or sy0 >= sy1:
                        continue
                    iy, ix = _covered_cells(wkt, xs[sx0:sx1], ys[sy0:sy1])
                    if len(iy) == 0:
                        continue
                    its = np.arange(ct0, ct1) if it_f < 0 else np.array([it_f])
                    out.append(rows_of(fid, its, t_[:, (its - ct0)[:, None], iy + sy0, ix + sx0]))
            if not out:
                yield empty
                continue
            fid, it, *bands = (np.concatenate(c) for c in zip(*out))
            fields = [f for f in arrow if f.name != "time"]
            cols = [pa.array(c, f.type, from_pandas=True)  # NaN → null: an absent value
                    for c, f in zip([fid, it, *bands], fields)]
            cols.insert(2, time_strings.take(it))
            yield pa.RecordBatch.from_arrays(cols, schema=arrow)

    # chunk-mask pruning analogue (extract_geom.cpp:164-218): the inner join
    # keeps only chunks with candidate features. The feature side is
    # broadcast explicitly: it has no size estimate, so Catalyst would plan a
    # SortMergeJoin and shuffle the cube's tensors by chunk_id. Broadcast, the
    # extract runs in the cube's own partitions.
    feats = _cover(cube, features, time_column).groupBy("chunk_id").agg(
        F.expr(f"collect_list(struct({', '.join(_FEATURE)})) AS feats"))
    return df.join(F.broadcast(feats), "chunk_id").mapInArrow(gather, out_schema)


ZONAL_FUNCS = {"min": F.min, "max": F.max, "mean": F.avg, "sum": F.sum, "count": F.count,
               "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
               "var": F.var_samp, "sd": F.stddev_samp}


# the COMBINABLE functions: how each merges the _partials columns of band s
_MERGE_PARTIALS = {"count": lambda s: F.sum(f"{s}__cnt"), "sum": lambda s: F.sum(f"{s}__sum"),
                   "min": lambda s: F.min(f"{s}__min"), "max": lambda s: F.max(f"{s}__max"),
                   "mean": lambda s: F.sum(f"{s}__sum") / F.sum(f"{s}__cnt")}


def zonal_stats(cube: Cube, features: DataFrame, funcs: List[str], by_time: bool = True,
                time_column: Optional[str] = None) -> DataFrame:
    """groupBy(FID[, time]).agg over extract_geom rows (R/extract.R:118-127).

    When every requested function is COMBINABLE (min/max/mean/sum/count), the
    per-cell long form is never materialized: each (feature, slice, chunk)
    contributes one partial-state row and the aggregation merges states —
    rows through the shuffle drop from O(covered cells) to O(features ×
    chunks). median/var/sd need the values and take the long-form path."""
    for fn in funcs:
        if fn not in ZONAL_FUNCS:
            raise ValueError(f"unknown zonal function {fn!r}")
    safe = [re.sub(r"\W", "_", b) for b in cube.bands]
    keys = ["fid", "time"] if by_time else ["fid"]
    partials = all(fn in _MERGE_PARTIALS for fn in funcs)
    agg = _MERGE_PARTIALS if partials else ZONAL_FUNCS
    rows = extract_geom(cube, features, time_column=time_column, _partials=partials)
    return rows.groupBy(*keys).agg(*[agg[fn](s).alias(f"{s}_{fn}") for fn in funcs for s in safe])
