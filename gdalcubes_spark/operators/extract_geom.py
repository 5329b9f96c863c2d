"""extract_geom: raster⋈vector join — for spatial (+optional per-feature
datetime) features, emit long-format rows (FID, time, band values); plus
zonal statistics on top.

Reference: extract_geom.cpp:33-523 (chunk-mask pruning :164-218, spatial
filter :282, per-feature rasterize+copy :327-493, all-NaN rows dropped
:430-449); R zonal stats = aggregate by FID(,time) (R/extract.R:81-151).

Spark shape (the north rule's raster↔vector pattern):
1. features → bbox → covering chunk-id rectangles via pure column arithmetic
   (same equi-join trick as the scan: theta join → explode + equi join);
2. COGROUP chunks with their features (no tensor duplication per feature);
3. vectorized PIP gathers covered cells → long rows;
4. zonal stats = plain groupBy("fid"[, "time"]).agg — Catalyst's hash agg.
kNN tile lookup lives in pipeline/knn.py on the same cell-id machinery.
"""

from __future__ import annotations

import math
import re
from typing import List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark.cube import Cube, chunk_rows, pin_group_partitions
from gdalcubes_spark.geom import parse_wkt
from gdalcubes_spark.grid import Datetime

_POINT_RE = re.compile(r"^\s*POINT\s*\(\s*([-+0-9.eE]+)\s+([-+0-9.eE]+)\s*\)\s*$", re.I)


def _feature_bbox(wkt: str):
    m = _POINT_RE.match(wkt)
    if m:
        x, y = float(m.group(1)), float(m.group(2))
        return x, y, x, y
    g = parse_wkt(wkt)
    return g.bbox


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
    bands = list(cube.bands)
    vleft, vtop, dx, dy = view.left, view.top, view.dx, view.dy
    nx, ny = view.nx, view.ny
    has_time = time_column is not None

    # per-slice [start,end) epochs for feature-datetime → slice lookup
    slice_epochs = view.time_epochs()

    bbox_schema = T.StructType([
        T.StructField("fid", T.LongType(), False),
        T.StructField("wkt", T.StringType(), False),
        T.StructField("fepoch", T.LongType(), True),
        T.StructField("x0", T.LongType(), False),
        T.StructField("x1", T.LongType(), False),
        T.StructField("y0", T.LongType(), False),
        T.StructField("y1", T.LongType(), False),
    ])

    def prep(batches):
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                l, b, r, t = _feature_bbox(row["wkt"])
                x0 = max(0, int(math.floor((l - vleft) / dx)))
                x1 = min(nx - 1, int(math.ceil((r - vleft) / dx - 1e-9) - 1)) if r > l else x0
                x1 = max(x1, x0)
                y0 = max(0, int(math.floor((vtop - t) / dy)))
                y1 = min(ny - 1, int(math.ceil((vtop - b) / dy - 1e-9) - 1)) if t > b else y0
                y1 = max(y1, y0)
                if x0 > nx - 1 or y0 > ny - 1 or x1 < 0 or y1 < 0:
                    continue
                fe = None
                if has_time and row[time_column] is not None:
                    fe = int(pd.Timestamp(row[time_column]).timestamp())
                rows.append(dict(fid=int(row["fid"]), wkt=row["wkt"], fepoch=fe,
                                 x0=x0, x1=x1, y0=y0, y1=y1))
            yield pd.DataFrame(rows, columns=[f.name for f in bbox_schema.fields]) if rows else \
                pd.DataFrame({f.name: pd.Series(dtype="object") for f in bbox_schema.fields})

    fb = features.mapInPandas(prep, bbox_schema)
    # explode to covering chunk ids (kt unconstrained unless feature has time)
    fb = (fb.withColumn("kx", F.explode(F.sequence((F.col("x0") / g.cx).cast("long"),
                                                   (F.col("x1") / g.cx).cast("long"))))
          .withColumn("ky", F.explode(F.sequence((F.col("y0") / g.cy).cast("long"),
                                                 (F.col("y1") / g.cy).cast("long")))))
    if has_time:
        # feature time → single slice → single kt (calendar-aware searchsorted)
        @F.pandas_udf("long")
        def slice_of(ep: pd.Series) -> pd.Series:
            idx = np.searchsorted(np.asarray(slice_epochs), ep.to_numpy(), side="right") - 1
            idx = np.where((ep.to_numpy() >= slice_epochs[0]) & (idx >= 0) & (idx < view.nt), idx, -1)
            return pd.Series(idx)
        fb = fb.withColumn("it_f", slice_of("fepoch")).filter(F.col("it_f") >= 0)
        fb = fb.withColumn("kt", (F.col("it_f") / g.ct).cast("long"))
        fb = fb.withColumn("chunk_id", F.col("kt") * (g.ncy * g.ncx)
                           + F.col("ky") * g.ncx + F.col("kx"))
    else:
        kts = F.sequence(F.lit(0), F.lit(g.nct - 1))
        fb = (fb.withColumn("kt", F.explode(kts))
              .withColumn("it_f", F.lit(-1).cast("long"))
              .withColumn("chunk_id", F.col("kt").cast("long") * (g.ncy * g.ncx)
                          + F.col("ky") * g.ncx + F.col("kx")))
    fb = fb.select("chunk_id", "fid", "wkt", "it_f")

    time_strings = [view.datetime_at_index(i).to_string() for i in range(view.nt)]
    safe = [re.sub(r"\W", "_", b) for b in bands]
    if _partials:
        out_schema = T.StructType(
            [T.StructField("fid", T.LongType(), False),
             T.StructField("it", T.IntegerType(), False),
             T.StructField("time", T.StringType(), False)]
            + [f for s in safe for f in (
                T.StructField(f"{s}__cnt", T.LongType(), False),
                T.StructField(f"{s}__sum", T.DoubleType(), True),
                T.StructField(f"{s}__min", T.DoubleType(), True),
                T.StructField(f"{s}__max", T.DoubleType(), True))]
        )
    else:
        out_schema = T.StructType(
            [T.StructField("fid", T.LongType(), False),
             T.StructField("it", T.IntegerType(), False),
             T.StructField("time", T.StringType(), False)]
            + [T.StructField(s, T.DoubleType(), True) for s in safe]
        )

    def gather(chunks: pd.DataFrame, feats_: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({f.name: pd.Series(dtype="object") for f in out_schema.fields})
        if len(chunks) == 0 or len(feats_) == 0:
            return empty
        _, (kt, ky, kx), t_ = next(chunk_rows(pa.Table.from_pandas(chunks.iloc[:1], preserve_index=False)))
        (ct0, ct1), (cy0, cy1), (cx0, cx1) = g.chunk_cell_range(kt, ky, kx)
        xs = vleft + (np.arange(cx0, cx1) + 0.5) * dx
        ys = vtop - (np.arange(cy0, cy1) + 0.5) * dy
        frames = []
        for _, f in feats_.iterrows():
            wkt = f["wkt"]
            pm = _POINT_RE.match(wkt)
            if pm:
                px, py = float(pm.group(1)), float(pm.group(2))
                ixg = int((px - vleft) / dx)
                iyg = int((vtop - py) / dy)
                if not (cx0 <= ixg < cx1 and cy0 <= iyg < cy1):
                    continue
                sel_y = np.array([iyg - cy0])
                sel_x = np.array([ixg - cx0])
            else:
                geo = parse_wkt(wkt)
                gl, gb, gr, gtp = geo.bbox
                # restrict PIP to the bbox sub-window of this chunk
                sx0 = max(0, int((gl - vleft) / dx) - cx0)
                sx1 = min(cx1 - cx0, int(math.ceil((gr - vleft) / dx)) - cx0)
                sy0 = max(0, int((vtop - gtp) / dy) - cy0)
                sy1 = min(cy1 - cy0, int(math.ceil((vtop - gb) / dy)) - cy0)
                if sx0 >= sx1 or sy0 >= sy1:
                    continue
                X, Y = np.meshgrid(xs[sx0:sx1], ys[sy0:sy1])
                inside = geo.contains(X.ravel(), Y.ravel()).reshape(X.shape)
                if not inside.any():
                    continue
                yy, xx = np.nonzero(inside)
                sel_y = yy + sy0
                sel_x = xx + sx0
            its = range(ct0, ct1) if int(f["it_f"]) < 0 else [int(f["it_f"])]
            for it in its:
                lt = it - ct0
                vals = t_[:, lt, sel_y, sel_x]  # (nb, ncells)
                keep = ~np.all(np.isnan(vals), axis=0)  # drop all-NaN rows
                if not keep.any():
                    continue
                d = {"fid": int(f["fid"]), "it": it, "time": time_strings[it]}
                if _partials:
                    v = vals[:, keep]
                    ok = ~np.isnan(v)
                    with np.errstate(all="ignore"):
                        for bi, s in enumerate(safe):
                            vb = v[bi][ok[bi]]
                            d[f"{s}__cnt"] = int(len(vb))
                            d[f"{s}__sum"] = float(vb.sum()) if len(vb) else np.nan
                            d[f"{s}__min"] = float(vb.min()) if len(vb) else np.nan
                            d[f"{s}__max"] = float(vb.max()) if len(vb) else np.nan
                    frames.append(pd.DataFrame([d]))
                else:
                    frame = pd.DataFrame({**d, **{s: vals[bi, keep] for bi, s in enumerate(safe)}})
                    frames.append(frame)
        return pd.concat(frames, ignore_index=True) if frames else empty

    # chunk-mask pruning analogue (extract_geom.cpp:164-218): only chunks with
    # candidate features enter the cogroup — a semi-join Catalyst can
    # broadcast. No distinct on the build side: left_semi dedupes by
    # construction, and the distinct was one whole extra exchange.
    pruned = cube.df.join(fb.select("chunk_id"), "chunk_id", "left_semi")
    # pin the cogroup's task count on BOTH sides (PIP/extract cost per byte ≫
    # columnar work — see pin_group_partitions' AQE note)
    joined = (pin_group_partitions(pruned, "chunk_id", g.n_chunks).groupBy("chunk_id")
              .cogroup(pin_group_partitions(fb, "chunk_id", g.n_chunks).groupBy("chunk_id"))
              .applyInPandas(lambda left, right: gather(left, right), out_schema))
    return joined


ZONAL_FUNCS = {"min": F.min, "max": F.max, "mean": F.avg, "sum": F.sum, "count": F.count,
               "median": lambda c: F.expr(f"percentile({c}, 0.5)"),
               "var": F.var_samp, "sd": F.stddev_samp}


_COMBINABLE_ZONAL = {"min", "max", "mean", "sum", "count"}


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

    if all(fn in _COMBINABLE_ZONAL for fn in funcs):
        part = extract_geom(cube, features, time_column=time_column, _partials=True)
        merged = {
            "count": lambda s: F.sum(f"{s}__cnt"),
            "sum": lambda s: F.sum(f"{s}__sum"),
            "min": lambda s: F.min(f"{s}__min"),
            "max": lambda s: F.max(f"{s}__max"),
            "mean": lambda s: F.sum(f"{s}__sum") / F.sum(f"{s}__cnt"),
        }
        aggs = [merged[fn](s).alias(f"{s}_{fn}") for fn in funcs for s in safe]
        return part.groupBy(*keys).agg(*aggs)

    long = extract_geom(cube, features, time_column=time_column)
    aggs = []
    for fn in funcs:
        for s in safe:
            col = ZONAL_FUNCS[fn](s) if fn != "median" else F.expr(f"percentile({s}, 0.5)")
            aggs.append(col.alias(f"{s}_{fn}"))
    return long.groupBy(*keys).agg(*aggs)
