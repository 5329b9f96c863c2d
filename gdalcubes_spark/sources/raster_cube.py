"""raster_cube — THE core scan: image inventory ⋈ chunk grid → decoded,
warped, per-cell-aggregated chunk tensors.

Reference: image_collection_cube.cpp:315-682 (per chunk: SQLite range query →
VRT band-select → gdalwarp → RasterIO → mask → aggregation) with the range
predicate at image_collection.cpp:1373-1383 and aggregation states at
image_collection_cube.cpp:58-306.

Spark-first design — the theta range join is turned into an EQUI join:
because the cube grid is regular, an image's bbox + datetime map to an exact
rectangle of chunk ids by pure column arithmetic. We explode each image row
to its covering chunk ids (sequence + explode, all JVM-side, no UDF) and
shuffle image payloads once, directly to their chunks:

    images ──[column exprs: it, cx0..cx1, cy0..cy1]──▶ explode(chunk_id)
           ──▶ groupBy(chunk_id).applyInArrow(decode → warp → aggregate)

Both scan variants run one kernel, _ScanKernel: the per-image loop fold()
(decode → warp → mask → _AggState.update) and emit() (finalize → fused chain
→ chunk tensor, written as a chunk row by cube.emit). At 10^12-image scale
the plain scan is one shuffle whose keys are chunk ids; hot cells (power-law
image density) are handled by the two-phase salted variant (salt > 0): fold
per (chunk_id, salt bucket) bounds any single task's image count, then
_AggState.merge per chunk_id — only for decomposable aggregation methods;
median/none need all values of a cell in one task, so they run the plain
scan and warn that salt was ignored. The
incremental scan (streaming.streaming_scan) runs the same _explode plan and
_ScanKernel, with each chunk's _AggState kept in Spark state between
micro-batches.

Time-slice assignment replicates cube_coords (view.cpp:416-422) with the
duration-unit rules of datetime.h: linear epoch arithmetic for second..week
units, calendar month/year arithmetic otherwise — all as Spark SQL
expressions so the join side never runs Python.
"""

from __future__ import annotations

import warnings
from typing import List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gdalcubes_spark import codecs
from gdalcubes_spark import reducers as R
from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, apply_chain, emit, pack_tensor, pin_group_partitions
from gdalcubes_spark.sources import resample as RS
from gdalcubes_spark.grid import ChunkGrid, CubeView, Unit, default_chunking
from gdalcubes_spark.srs import Transformer, parse_epsg

_EPS = 1e-9

DECOMPOSABLE = ("min", "max", "mean", "sum", "first", "last", "count_images", "count_values")

# the exploded image columns _ScanKernel.fold reads
FOLD_COLUMNS = ("image_id", "it", "bytes", "fmt", "nleft", "nright", "nbottom", "ntop", "epsg",
                "vleft", "vright", "vbottom", "vtop")

# salted scan, phase 1 output: one partial _AggState (to_bytes) per (chunk, bucket)
_PARTIAL_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.LongType(), False),
    T.StructField("state", T.BinaryType(), False),
])


class ImageMask:
    """value/range mask over one band (image_collection_cube.h:34-140):
    pixels of every band become NaN where the mask band matches (or doesn't,
    when inverted)."""

    def __init__(self, band: str, values=None, vmin=None, vmax=None, invert: bool = False):
        self.band, self.values, self.vmin, self.vmax, self.invert = band, values, vmin, vmax, invert

    def apply(self, mask_vals: np.ndarray) -> np.ndarray:
        """Returns boolean array: True where pixel must be NaN'd."""
        if self.values is not None:
            m = np.isin(mask_vals, list(self.values))
        else:
            m = (mask_vals >= self.vmin) & (mask_vals <= self.vmax)
        return ~m if self.invert else m


def _time_index_sql(view: CubeView) -> str:
    """it as a Spark SQL expression over the `datetime` column."""
    u, n = view.dt.unit, view.dt.n
    t0 = view.t0
    if u in (Unit.SECOND, Unit.MINUTE, Unit.HOUR, Unit.DAY, Unit.WEEK):
        secs = {Unit.SECOND: 1, Unit.MINUTE: 60, Unit.HOUR: 3600, Unit.DAY: 86400, Unit.WEEK: 604800}[u] * n
        if u in (Unit.DAY, Unit.WEEK):
            # day difference counts calendar days of the date part (datetime.h DAY diff)
            return f"floor(datediff(to_date(datetime), '{t0.to_string()}') / {secs // 86400})"
        return f"floor((unix_timestamp(datetime) - {t0.epoch()}) / {secs})"
    if u == Unit.MONTH:
        return f"floor(((year(datetime) * 12 + month(datetime)) - {t0.year * 12 + t0.month}) / {n})"
    if u == Unit.YEAR:
        return f"floor((year(datetime) - {t0.year}) / {n})"
    raise ValueError(f"unsupported dt unit {u}")


def _bbox_in_view_srs(images: DataFrame, view: CubeView) -> DataFrame:
    """Add vleft/vright/vbottom/vtop: image bbox (stored EPSG:4326) expressed
    in the view SRS. Identity → pure column aliasing; UTM views transform the
    4 corners in a vectorized Arrow UDF (the warp-transformer-cache analogue)."""
    code = parse_epsg(view.srs)
    if code == 4326:
        return images.selectExpr("*", "`left` AS vleft", "`right` AS vright", "bottom AS vbottom", "top AS vtop")
    tr = Transformer(4326, code)

    @F.pandas_udf("left double, right double, bottom double, top double")
    def corners(l: pd.Series, r: pd.Series, b: pd.Series, t: pd.Series) -> pd.DataFrame:
        xs = np.stack([l, r, l, r])  # 4 corners
        ys = np.stack([b, b, t, t])
        X, Y = tr.transform(xs, ys)
        return pd.DataFrame(dict(left=X.min(axis=0), right=X.max(axis=0),
                                 bottom=Y.min(axis=0), top=Y.max(axis=0)))

    return (images.withColumn("_v", corners("left", "right", "bottom", "top"))
            .selectExpr("*", "_v.left AS vleft", "_v.right AS vright", "_v.bottom AS vbottom", "_v.top AS vtop")
            .drop("_v"))


def _choose_overview_level(levels, native_bbox, dxv, dyv) -> int:
    """COG overview selection (what gdalwarp does against a COG): pick the
    deepest pyramid level whose pixel size stays at least 2× FINER than the
    target cell size, so near/bilinear sampling keeps full quality while the
    decode touches 4^level fewer pixels. levels = [(h, w), ...] full-res
    first; returns 0 when no overview qualifies."""
    il, ir, ib_, it_ = native_bbox
    h0, w0 = levels[0]
    pdx0 = (ir - il) / w0
    pdy0 = (it_ - ib_) / h0
    # how many times coarser the target grid is than the full-res pixels
    ratio = min(dxv / pdx0, dyv / pdy0)
    k = 0
    while k + 1 < len(levels) and 2.0 ** (k + 1) * 2.0 <= ratio:
        k += 1
    return k


def _sample_image(payload, fmt, native_bbox, img_epsg, xs, ys, view_epsg, resampling,
                  nb_expected, vbbox, band_idx=None, dxv=None, dyv=None,
                  use_overviews=False):
    """Decode one image and sample it at cube cell centers — but ONLY over the
    sub-window of the chunk the image's bbox covers (vbbox = bbox in view
    SRS). Cost is O(covered cells), not O(chunk cells): at scale most images
    cover a small fraction of a chunk.

    Returns (vals (nb, hy, wx) float64 with NaN where outside the image,
    y_off, x_off) or None when the image misses the chunk entirely.
    All 12 gdalwarp algorithms of the reference (warp.cpp:178-196,
    view.h:66-79) are supported: near/bilinear inline here, cubic/
    cubicspline/lanczos and the footprint reductions (average/mode/min/max/
    med/q1/q3) in sources/resample.py. The identity-SRS path uses separable
    1-D pixel indexing (no meshgrid) and EXACT footprints; the reprojection
    path supersamples footprints (see resample.py docstring)."""
    vl, vr, vb, vt = vbbox
    if dxv is None:
        dxv = float(xs[1] - xs[0]) if len(xs) > 1 else (vr - vl)
    if dyv is None:
        dyv = float(ys[0] - ys[1]) if len(ys) > 1 else (vt - vb)
    # sub-window of chunk cells whose centers can fall inside the image bbox
    xi = np.nonzero((xs >= vl) & (xs <= vr))[0]
    yi = np.nonzero((ys >= vb) & (ys <= vt))[0]
    if len(xi) == 0 or len(yi) == 0:
        return None
    x_off, y_off = int(xi[0]), int(yi[0])
    sxs, sys_ = xs[xi[0]: xi[-1] + 1], ys[yi[0]: yi[-1] + 1]

    if use_overviews and fmt == "tif":
        # COG fast path: pick a pyramid level from metadata alone, decode
        # only that level's tiles — 4^level fewer pixels through zlib and
        # the resampler. pdx/pdy below derive from the DECODED shape, so
        # every sampling path downstream is level-agnostic.
        from gdalcubes_spark.tiffcodec import decode_geotiff, peek_levels
        levels = peek_levels(bytes(payload))
        lv = _choose_overview_level(levels, native_bbox, dxv, dyv)
        arr = decode_geotiff(bytes(payload), level=lv)[0]
    elif fmt in ("webp", "gif", "bmp"):
        # these containers are band-ambiguous (VP8L/palette collapse
        # rules; VP8 luma vs RGB) — pin the inventory-declared band
        # count into the decode
        arr = codecs.decode(bytes(payload), fmt, nb=nb_expected)
    else:
        arr = codecs.decode(bytes(payload), fmt)  # (nb, h, w) uint8
    nb, h, w = arr.shape
    if nb != nb_expected:
        raise ValueError(f"image has {nb} bands, collection declares {nb_expected}")
    if band_idx is not None:  # scan-level band pushdown
        arr = arr[band_idx]
        nb = len(band_idx)
    il, ir, ib_, it_ = native_bbox  # image pixel grid lives in its NATIVE srs
    pdx = (ir - il) / w
    pdy = (it_ - ib_) / h
    tr = Transformer(view_epsg, img_epsg)
    separable = tr.src == tr.dst
    if separable:
        fx = (sxs - il) / pdx          # (wx,) continuous pixel coords
        fy = (it_ - sys_) / pdy        # (hy,)
        in_x = (fx >= 0) & (fx < w)
        in_y = (fy >= 0) & (fy < h)
        if resampling in ("near", "nearest"):
            px = np.clip(fx.astype(np.int64), 0, w - 1)
            py = np.clip(fy.astype(np.int64), 0, h - 1)
            vals = arr[:, py[:, None], px[None, :]].astype("float64")
            vals[:, ~in_y, :] = np.nan
            vals[:, :, ~in_x] = np.nan
            return vals, y_off, x_off
        if resampling == "bilinear":
            u, v = fx - 0.5, fy - 0.5
            x0 = np.clip(np.floor(u).astype(np.int64), 0, w - 1)
            y0 = np.clip(np.floor(v).astype(np.int64), 0, h - 1)
            x1 = np.clip(x0 + 1, 0, w - 1)
            y1 = np.clip(y0 + 1, 0, h - 1)
            wx = np.clip(u - np.floor(u), 0.0, 1.0)[None, None, :]
            wy = np.clip(v - np.floor(v), 0.0, 1.0)[None, :, None]
            # NOTE: the explicit astype is FASTER than uint8 gathers feeding
            # mixed-dtype ufuncs (measured 0.68 vs 0.81 s / 2000 windows —
            # numpy's buffered casting in u8*f64 products loses to one
            # conversion); keep the float64 gathers
            a00 = arr[:, y0[:, None], x0[None, :]].astype("float64")
            a01 = arr[:, y0[:, None], x1[None, :]].astype("float64")
            a10 = arr[:, y1[:, None], x0[None, :]].astype("float64")
            a11 = arr[:, y1[:, None], x1[None, :]].astype("float64")
            vals = (a00 * (1 - wx) * (1 - wy) + a01 * wx * (1 - wy)
                    + a10 * (1 - wx) * wy + a11 * wx * wy)
            vals[:, ~in_y, :] = np.nan
            vals[:, :, ~in_x] = np.nan
            return vals, y_off, x_off
        if resampling in RS.KERNEL_RESAMPLING:
            vals = RS.kernel_separable(arr, fx, fy, resampling)
            vals[:, ~in_y, :] = np.nan
            vals[:, :, ~in_x] = np.nan
            return vals, y_off, x_off
        if resampling in RS.FOOTPRINT_RESAMPLING:
            vals = RS.footprint_separable(arr, sxs, sys_, il, it_, pdx, pdy,
                                          dxv, dyv, resampling)
            return vals, y_off, x_off
        raise ValueError(f"unsupported resampling {resampling!r}")
    # reprojection path: transform the sub-window's cell centers (2-D)
    X, Y = np.meshgrid(sxs, sys_)
    Xi, Yi = tr.transform(X, Y)
    fx = (Xi - il) / pdx
    fy = (it_ - Yi) / pdy
    out = np.full((nb, len(sys_), len(sxs)), np.nan)
    inside = (fx >= 0) & (fx < w) & (fy >= 0) & (fy < h)
    if not inside.any():
        return None
    if resampling in ("near", "nearest"):
        px = np.clip(fx.astype(np.int64), 0, w - 1)
        py = np.clip(fy.astype(np.int64), 0, h - 1)
        vals = arr[:, py, px].astype("float64")
        out[:, inside] = vals[:, inside]
    elif resampling == "bilinear":
        u, v = fx - 0.5, fy - 0.5
        x0 = np.clip(np.floor(u).astype(np.int64), 0, w - 1)
        y0 = np.clip(np.floor(v).astype(np.int64), 0, h - 1)
        x1 = np.clip(x0 + 1, 0, w - 1)
        y1 = np.clip(y0 + 1, 0, h - 1)
        wx = np.clip(u - np.floor(u), 0.0, 1.0)
        wy = np.clip(v - np.floor(v), 0.0, 1.0)
        a00 = arr[:, y0, x0].astype("float64")
        a01 = arr[:, y0, x1].astype("float64")
        a10 = arr[:, y1, x0].astype("float64")
        a11 = arr[:, y1, x1].astype("float64")
        vals = (a00 * (1 - wx) * (1 - wy) + a01 * wx * (1 - wy)
                + a10 * (1 - wx) * wy + a11 * wx * wy)
        out[:, inside] = vals[:, inside]
    elif resampling in RS.KERNEL_RESAMPLING:
        vals = RS.kernel_projected(arr, fx, fy, resampling)
        out[:, inside] = vals[:, inside]
    elif resampling in RS.FOOTPRINT_RESAMPLING:
        # supersampled footprint: n×n sub-cell centers per target cell,
        # nearest-gathered, then reduced (deterministic approximation of the
        # true footprint under reprojection)
        spxv = max((vr - vl) / w, 1e-12)  # source pixel size in view units
        spyv = max((vt - vb) / h, 1e-12)
        sub_x, sub_y, nss = RS.supersample_grid(sxs, sys_, dxv, dyv, spxv, spyv)
        X2, Y2 = np.meshgrid(sub_x, sub_y)
        X2i, Y2i = tr.transform(X2, Y2)
        fx2 = (X2i - il) / pdx
        fy2 = (it_ - Y2i) / pdy
        ins2 = (fx2 >= 0) & (fx2 < w) & (fy2 >= 0) & (fy2 < h)
        px2 = np.clip(fx2.astype(np.int64), 0, w - 1)
        py2 = np.clip(fy2.astype(np.int64), 0, h - 1)
        sv = arr[:, py2, px2].astype("float64")
        sv[:, ~ins2] = np.nan
        v4 = (sv.reshape(nb, len(sys_), nss, len(sxs), nss)
              .transpose(0, 1, 3, 2, 4).reshape(nb, len(sys_), len(sxs), nss * nss))
        return RS.reduce_lastaxis(v4, resampling), y_off, x_off
    else:
        raise ValueError(f"unsupported resampling {resampling!r}")
    return out, y_off, x_off


class _AggState:
    """The scan's per-cell aggregation kernel (image_collection_cube.cpp:58-306):
    update() folds one image window in, merge() folds in another state built
    over a disjoint image subset (salted partials), finalize() yields the
    (nb, nt, ny, nx) chunk tensor. to_bytes()/from_bytes() carry a partial
    state between the salted scan's two phases.

    aux holds what merge needs beyond acc: the per-cell value count (mean) or
    the per-cell order of the image whose value acc keeps (first/last)."""

    def __init__(self, method: str, shape):
        self.method = method
        self.acc = np.full(shape, np.nan)
        self.aux = (np.zeros(shape) if method == "mean"
                    else np.full(shape, np.nan) if method in ("first", "last") else None)
        self.buckets = {}  # median: lt -> list of (vals, y0, x0) windows

    def update(self, vals: np.ndarray, lt: int, y0: int = 0, x0: int = 0, order: float = 0.0):
        """vals: (nb, hy, wx) sub-window at (y0, x0); NaN where uncovered.
        order ranks the image for first/last (images arrive in image_id
        order within one state, but salted partials interleave)."""
        hy, wx = vals.shape[1], vals.shape[2]
        win = (slice(None), lt, slice(y0, y0 + hy), slice(x0, x0 + wx))
        a = self.acc[win]
        ok = ~np.isnan(vals)
        m = self.method
        if m == "none":
            a[ok] = vals[ok]
        elif m in ("first", "last"):
            self._pick(a, self.aux[win], vals, order)
        elif m == "min":
            a[...] = np.fmin(a, vals)
        elif m == "max":
            a[...] = np.fmax(a, vals)
        elif m in ("sum", "mean"):
            _nan_add(a, vals)
            if m == "mean":
                self.aux[win][ok] += 1
        elif m == "median":
            # keep (vals, window) — stacked once per slice at finalize into a
            # single bounding-box buffer (per-image full-plane np.full() was a
            # memory-bandwidth killer that destroyed multi-core scaling)
            self.buckets.setdefault(lt, []).append((vals, y0, x0))
        elif m == "count_images":
            # reference counts every image touching the slice, all cells
            s = self.acc[:, lt]
            s[np.isnan(s)] = 0.0
            s += 1.0
        elif m == "count_values":
            # like the reference: any image touching the slice zeroes ALL
            # NaN cells of the slice; only covered non-NaN cells increment
            s = self.acc[:, lt]
            s[np.isnan(s)] = 0.0
            a[ok] += 1.0
        else:
            raise ValueError(f"unknown aggregation {m!r}")

    def _pick(self, a, o, vals, order):
        """first/last: keep vals where the cell is empty or `order` ranks
        ahead of the image already kept (ties go to the later fold for last)."""
        w = ~np.isnan(vals) & ~((o <= order) if self.method == "first" else (o > order))
        a[w] = vals[w]
        o[w] = np.broadcast_to(order, w.shape)[w]

    def merge(self, other: "_AggState") -> None:
        """Fold in a state of the same method and shape built over a
        disjoint set of images (decomposable methods only)."""
        m = self.method
        if m == "min":
            np.fmin(self.acc, other.acc, out=self.acc)
        elif m == "max":
            np.fmax(self.acc, other.acc, out=self.acc)
        elif m in ("first", "last"):
            self._pick(self.acc, self.aux, other.acc, other.aux)
        elif m in ("sum", "mean", "count_images", "count_values"):
            _nan_add(self.acc, other.acc)
            if m == "mean":
                self.aux += other.aux
        else:
            raise ValueError(f"aggregation {m!r} is not decomposable")

    def to_bytes(self) -> bytes:
        return pack_tensor(self.acc if self.aux is None else np.stack([self.acc, self.aux]))

    @classmethod
    def from_bytes(cls, method: str, shape, data: bytes) -> "_AggState":
        st = cls(method, shape)
        arrs = np.frombuffer(data, dtype="<f8").reshape(-1, *shape)
        st.acc = arrs[0]
        if st.aux is not None:
            st.aux = arrs[1]
        return st

    def finalize(self) -> np.ndarray:
        if self.method == "mean":
            with np.errstate(invalid="ignore"):
                return self.acc / np.maximum(self.aux, 1)
        if self.method == "median":
            nb, _, ny, nx = self.acc.shape
            plane = ny * nx
            for lt, items in self.buckets.items():
                K = len(items)
                if K * nb * plane * 8 <= R.MEDIAN_DENSE_BYTES:
                    # dense path: stack each image's sub-window into one
                    # (K, nb, ny, nx) buffer and sort it in place along K —
                    # measured ~17x faster than sorting (cell, value) pairs on a
                    # 174-image hot chunk, which was the scan's straggler task
                    buf = np.full((K, nb, ny, nx), np.nan)
                    for k, (vals, y0, x0) in enumerate(items):
                        buf[k, :, y0:y0 + vals.shape[1], x0:x0 + vals.shape[2]] = vals
                    med = R.sorted_median(buf.reshape(K, nb * plane))
                else:
                    # sparse fallback (huge K × cells): only the real samples,
                    # as (cell, value) pairs — memory ∝ samples
                    idx, val = [], []
                    for vals, y0, x0 in items:
                        b, yy, xx = np.nonzero(~np.isnan(vals))
                        idx.append(b * plane + (yy + y0) * nx + (xx + x0))
                        val.append(vals[b, yy, xx])
                    med = R.segment_reduce("median", np.concatenate(idx), np.concatenate(val), nb * plane)
                self.acc[:, lt] = med.reshape(nb, ny, nx)
        return self.acc


def _nan_add(a: np.ndarray, vals: np.ndarray) -> None:
    """a += vals over vals' non-NaN cells; a NaN cell of a starts from 0."""
    ok = ~np.isnan(vals)
    a[ok & np.isnan(a)] = 0.0
    a[ok] += vals[ok]


def _explode(images: DataFrame, view: CubeView, g: ChunkGrid) -> DataFrame:
    """The scan's join side: each image row (batch or streaming) → one row per
    covering chunk id, by pure column arithmetic on the bbox in the view SRS
    (no UDF on identity views). SQL expression strings, not Column calls: each
    Column call is a JVM round trip."""
    left, top, dx, dy = (f"{float(x)!r}D" for x in (view.left, view.top, view.dx, view.dy))
    # covering cell ranges (inclusive) → covering chunk ranges
    return (_bbox_in_view_srs(images, view)
            .selectExpr("*", f"CAST({_time_index_sql(view)} AS BIGINT) AS it")
            .filter(f"it >= 0 AND it < {view.nt}")
            .selectExpr("*", f"CAST(greatest(0, floor((vleft - {left}) / {dx})) AS BIGINT) AS x0",
                        f"CAST(least({view.nx - 1}, ceil((vright - {left}) / {dx} - {_EPS!r}) - 1) AS BIGINT) AS x1",
                        f"CAST(greatest(0, floor(({top} - vtop) / {dy})) AS BIGINT) AS y0",
                        f"CAST(least({view.ny - 1}, ceil(({top} - vbottom) / {dy} - {_EPS!r}) - 1) AS BIGINT) AS y1")
            .filter("x0 <= x1 AND y0 <= y1")
            .selectExpr("*", f"explode(sequence(CAST(x0 / {g.cx} AS BIGINT), CAST(x1 / {g.cx} AS BIGINT))) AS kx")
            .selectExpr("*", f"explode(sequence(CAST(y0 / {g.cy} AS BIGINT), CAST(y1 / {g.cy} AS BIGINT))) AS ky")
            .selectExpr(f"CAST(it / {g.ct} AS BIGINT) * {g.ncy * g.ncx} + ky * {g.ncx} + kx AS chunk_id",
                        "it", "image_id", "bytes", "fmt", "nleft", "nright", "nbottom", "ntop",
                        "epsg", "vleft", "vright", "vbottom", "vtop"))


class _ScanKernel:
    """Per-chunk fold and emit of one scan (view, chunk grid, bands, mask,
    band pushdown): raster_cube's unsalted build and salted partial/merge,
    and streaming.streaming_scan's stateful update, all run these."""

    def __init__(self, view: CubeView, g: ChunkGrid, bands: List[str],
                 mask: Optional[ImageMask] = None, band_sel: Optional[List[str]] = None,
                 use_overviews: bool = False):
        compute = list(bands)
        self.band_idx = self.out_idx = None
        if band_sel is not None:
            missing = [b for b in band_sel if b not in bands]
            if missing:
                raise ValueError(f"unknown bands {missing}; collection has {bands}")
            compute = list(band_sel)
            if mask is not None and mask.band not in compute:
                compute.append(mask.band)
            self.band_idx = [bands.index(b) for b in compute]
            self.out_idx = [compute.index(b) for b in band_sel]
        if mask is not None and mask.band not in compute:
            raise ValueError(f"mask band {mask.band!r} not in {compute}")
        self.mask, self.mask_idx = mask, compute.index(mask.band) if mask is not None else -1
        self.nb, self.nb_payload = len(compute), len(bands)
        self.out_bands = list(band_sel) if band_sel is not None else list(bands)
        self.g, self.use_overviews = g, use_overviews
        self.method, self.resampling = view.aggregation, view.resampling
        self.view_epsg = parse_epsg(view.srs)
        self.left, self.top, self.dx, self.dy = view.left, view.top, view.dx, view.dy
        # two-phase merges (salted partials, streaming micro-batches) rank
        # first/last by the id's digits: row positions are not comparable
        # across states
        self.merge_rank = _digit_rank if self.method in ("first", "last") else _row_rank

    def new_state(self, cid: int) -> _AggState:
        return _AggState(self.method, (self.nb,) + self.g.chunk_shape(*self.g.chunk_coords(cid)))

    def merged(self, cid: int, blobs) -> _AggState:
        """A fresh state of chunk `cid` with every to_bytes() blob merged in
        (from_bytes arrays are read-only views, so never update them)."""
        st = self.new_state(cid)
        for data in blobs:
            st.merge(_AggState.from_bytes(self.method, st.acc.shape, data))
        return st

    def fold(self, cid: int, cols, rank) -> _AggState:
        """The one per-image loop: decode, warp and mask chunk `cid`'s
        images in image_id order and fold them into a fresh state.
        cols maps each FOLD_COLUMNS name to a numpy column of the chunk's
        exploded image rows; rank(sorted image ids) gives each image's
        first/last order."""
        g, dx, dy = self.g, self.dx, self.dy
        (t0c, t1c), (yy0, yy1), (xx0, xx1) = g.chunk_cell_range(*g.chunk_coords(cid))
        xs = self.left + (np.arange(xx0, xx1) + 0.5) * dx
        ys = self.top - (np.arange(yy0, yy1) + 0.5) * dy
        st = self.new_state(cid)
        by_id = np.argsort(cols["image_id"], kind="stable")
        c = {k: cols[k][by_id] for k in FOLD_COLUMNS}
        order = rank(c["image_id"])
        for i in range(len(by_id)):
            lt = int(c["it"][i]) - t0c
            if not (0 <= lt < t1c - t0c):
                continue
            res = _sample_image(c["bytes"][i], c["fmt"][i],
                                (c["nleft"][i], c["nright"][i], c["nbottom"][i], c["ntop"][i]),
                                int(c["epsg"][i]), xs, ys, self.view_epsg, self.resampling, self.nb_payload,
                                (c["vleft"][i], c["vright"][i], c["vbottom"][i], c["vtop"][i]),
                                self.band_idx, dxv=dx, dyv=dy, use_overviews=self.use_overviews)
            if res is None:
                continue
            vals, oy, ox = res
            if self.mask is not None:
                bad = self.mask.apply(vals[self.mask_idx])
                vals = np.where(bad[None, ...], np.nan, vals)
            st.update(vals, lt, oy, ox, order[i])
        return st

    def emit(self, cid: int, st: _AggState, chain: tuple) -> Optional[np.ndarray]:
        """Finalize into the chunk's tensor: drop the mask-only band, run the
        fused narrow chain. None for an elided (all-NaN) chunk."""
        t = st.finalize()
        if self.out_idx is not None and len(self.out_idx) != t.shape[0]:
            t = t[self.out_idx]
        return None if np.all(np.isnan(t)) else apply_chain(chain, t, self.g.chunk_coords(cid))

    def chunk_table(self, cid: int, t: Optional[np.ndarray]) -> pa.Table:
        """emit()'s tensor as the one-row chunk table of a grouped UDF."""
        return pa.table(emit(CHUNK_SCHEMA, [] if t is None else [(cid, self.g.chunk_coords(cid), t)]))


def raster_cube(images: DataFrame, view: CubeView, bands: List[str],
                chunking: Optional[ChunkGrid] = None, mask: Optional[ImageMask] = None,
                salt: int = 0, band_sel: Optional[List[str]] = None,
                use_overviews: bool = False) -> Cube:
    """Build a cube from the image inventory DataFrame (synth.IMAGE_SCHEMA).

    bands: names for the nb payload bands (the collection band dictionary).
    salt: >0 enables two-phase salted aggregation for hot chunks (only for
    DECOMPOSABLE aggregation methods; others warn and run unsalted).
    band_sel: scan-level band pushdown (select_bands on a raster_cube calls
    back into this, mirroring select_bands.h:50-90 / the SQL band filter at
    image_collection.cpp:1385-1392): only the selected bands (plus the mask
    band, if any) are sampled/aggregated/shuffled.
    use_overviews: COG fast path for fmt='tif' payloads — decode the pyramid
    level matched to the view resolution (kept ≥2× finer than the target
    cells) instead of full res; what gdalwarp does against a COG. Off by
    default because overview pixels are block means, so values differ from
    a full-res warp at the last ulp — enable when the view is much coarser
    than the sources and the decode dominates (the usual 100 TB case).

    The returned cube's build is the build/merge UDF with a fused chain:
    narrow ops chained onto it run inside that UDF after aggregation, with
    zero extra Arrow round trips (see Cube.map_chunks). Each chained build
    wraps the same analyzed pre-groupBy DataFrame, so it costs one cheap
    applyInArrow, not a from-scratch re-plan of the scan."""
    args = dict(locals())  # the select_bands rebuild reuses every argument
    g = chunking or default_chunking(view)
    k = _ScanKernel(view, g, bands, mask, band_sel, use_overviews)
    exploded = _explode(images, view, g)

    agg = view.aggregation
    if salt > 0 and agg not in DECOMPOSABLE:
        warnings.warn(f"salt={salt} ignored: {agg!r} aggregation needs every value of a cell "
                      f"in one task, so the unsalted scan runs", stacklevel=2)
        salt = 0
    if salt > 0:
        # Two-phase skew-proof scan: fold per (chunk_id, salt bucket of
        # image_id) into a partial state shipped as bytes, then per chunk_id
        # merge the partials and emit. Bounds any single task to
        # ~|images_in_chunk|/salt decodes (north-rule skew handling).
        def partial(key, table):
            cid = key[0].as_py()
            state = k.fold(cid, _fold_columns(table), k.merge_rank).to_bytes()
            return pa.table(emit(_PARTIAL_SCHEMA, [(cid, state)]))

        salted = exploded.withColumn("_salt", F.pmod(F.xxhash64("image_id"), F.lit(salt)))
        part = (pin_group_partitions(salted, ["chunk_id", "_salt"], g.n_chunks * salt)
                .groupBy("chunk_id", "_salt").applyInArrow(partial, _PARTIAL_SCHEMA))

        def make_df(chain: tuple):
            def merge(key, table):
                cid = key[0].as_py()
                return k.chunk_table(cid, k.emit(cid, k.merged(cid, table.column("state").to_pylist()), chain))
            return part.groupBy("chunk_id").applyInArrow(merge, CHUNK_SCHEMA)
    else:
        # Pin the decode shuffle's task count: AQE coalesces by POST-SHUFFLE
        # BYTES, but this stage's rows are compressed image refs whose decode/
        # warp cost is orders of magnitude larger per byte than columnar work —
        # byte-based coalescing was observed collapsing 32 cores' worth of
        # decode into 5 tasks. An explicit repartition(n, chunk_id) satisfies
        # the groupBy's clustering (no second exchange) and AQE leaves
        # user-numbered repartitions alone. n = parallelism, capped by chunk
        # count: one wave, since each Python task pays a fixed start-up cost.
        pinned = pin_group_partitions(exploded, "chunk_id", g.n_chunks)

        def make_df(chain: tuple):
            def build(key, table):
                cid = key[0].as_py()
                return k.chunk_table(cid, k.emit(cid, k.fold(cid, _fold_columns(table), _row_rank), chain))
            return pinned.groupBy("chunk_id").applyInArrow(build, CHUNK_SCHEMA)

    return Cube(make_df(()), view, k.out_bands, g, _build=make_df,
                _scan_rebuild=lambda names: raster_cube(**{**args, "band_sel": list(names)}))


def _fold_columns(table: pa.Table) -> dict:
    return {k: table.column(k).to_numpy() for k in FOLD_COLUMNS}


def _row_rank(image_ids: np.ndarray) -> np.ndarray:
    """first/last order inside one state: the position in the image_id sort
    (works for any id type)."""
    return np.arange(len(image_ids))


def _digit_rank(image_ids: np.ndarray) -> np.ndarray:
    """first/last order across salt buckets: the id's digits as a number.
    input_hint ids are "img_%012d", so this total order matches the
    reference's ORDER BY image_id."""
    out = np.empty(len(image_ids))
    for i, image_id in enumerate(image_ids):
        digits = "".join(ch for ch in str(image_id) if ch.isdigit())
        if not digits:
            raise ValueError("first/last merged across states (salt > 0, streaming) "
                             "needs numeric image ids")
        out[i] = int(digits)
    return out


def inventory_partition_columns(images: DataFrame, time_bucket: str = "month",
                                cell_deg: float = 2.0) -> DataFrame:
    """Assign the storage-partition columns for a planet-scale inventory:
    pt_tb (time bucket) and pt_gy/pt_gx (coarse spatial cell of the bbox
    center). Writing the inventory partitioned by these (parquet here,
    Iceberg partition spec on a cluster) lets the scan's datetime/bbox
    predicates prune at the METADATA level — the analogue of the reference's
    per-chunk SQLite WHERE (image_collection.cpp:1373-1383), but evaluated
    against file statistics instead of rows. At 10^12 images this is the
    difference between touching TBs of metadata and touching only the
    partitions a cube view overlaps."""
    tb = {"month": F.date_format("datetime", "yyyy-MM"),
          "day": F.date_format("datetime", "yyyy-MM-dd"),
          "year": F.date_format("datetime", "yyyy")}[time_bucket]
    # pt_ext: extent bucket e = ceil(log2(extent_cells)), clamped ≥ 0. An
    # image in bucket e spans ≤ 2^e cells per axis, so its CENTER cell is at
    # most 2^(e-1)+1 cells away from any view it overlaps — the read-side
    # prune derives its slack per bucket instead of assuming one fixed cell
    # (a fixed slack silently dropped oversized scenes: mosaics, full-swath
    # granules).
    ext = F.greatest((F.col("right") - F.col("left")) / cell_deg,
                     (F.col("top") - F.col("bottom")) / cell_deg)
    return (images
            .withColumn("pt_tb", tb)
            .withColumn("pt_gy", F.floor(((F.col("bottom") + F.col("top")) / 2) / cell_deg).cast("int"))
            .withColumn("pt_gx", F.floor(((F.col("left") + F.col("right")) / 2) / cell_deg).cast("int"))
            .withColumn("pt_ext", F.greatest(F.lit(0), F.ceil(F.log2(F.greatest(ext, F.lit(1e-9))))).cast("int")))


def read_inventory(spark, path: str, view: CubeView, cell_deg: float = 2.0,
                   time_bucket: str = "month") -> DataFrame:
    """Open a partitioned inventory pruned to the view's spatiotemporal
    window: the filters hit the PARTITION columns, so Spark prunes whole
    directories/files before any row is read."""
    df = spark.read.parquet(path)
    tbs = set()
    for i in range(view.nt):
        d = view.datetime_at_index(i)
        tbs.add(d.to_string()[:7] if time_bucket == "month"
                else d.to_string()[:10] if time_bucket == "day" else d.to_string()[:4])
    # COVER-based bbox prune: slack per extent bucket (see
    # inventory_partition_columns). A bucket-e image spans ≤ 2^e cells per
    # axis → its center sits ≤ 2^(e-1)+1 cells outside any view it overlaps.
    # The OR-of-buckets predicate is static (no data read to build it) and
    # made entirely of partition columns, so Spark still prunes whole
    # directories; legacy inventories without pt_ext fall back to the old
    # one-cell slack.
    gy0 = int(np.floor(view.bottom / cell_deg))
    gy1 = int(np.floor(view.top / cell_deg))
    gx0 = int(np.floor(view.left / cell_deg))
    gx1 = int(np.floor(view.right / cell_deg))
    time_pred = F.col("pt_tb").isin(sorted(tbs))
    if "pt_ext" not in df.columns:
        return df.filter(time_pred
                         & F.col("pt_gy").between(gy0 - 1, gy1 + 1)
                         & F.col("pt_gx").between(gx0 - 1, gx1 + 1))
    MAX_EXT_BUCKET = 24  # 2^24 cells ≈ the whole planet at any sane cell_deg
    pred = None
    for e in range(MAX_EXT_BUCKET + 1):
        s = (1 << max(e - 1, 0)) + 1
        p = ((F.col("pt_ext") == e)
             & F.col("pt_gy").between(gy0 - s, gy1 + s)
             & F.col("pt_gx").between(gx0 - s, gx1 + s))
        pred = p if pred is None else (pred | p)
    return df.filter(time_pred & pred)
