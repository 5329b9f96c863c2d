"""reduce_time / reduce_space: collapse a cube dimension entirely.

Reference: reduce_time.cpp:526-625 (streams chunks along t, lazy init — an
entirely-empty chunk column yields an empty output chunk), reduce_space.cpp.
Output band names are "<band>_<reducer>" unless names given
(reduce_time.h:110-118).

Spark shapes (designed for the 100 TB case):
- reduce_time, nct == 1 (the default adaptive chunking): NARROW — one
  mapInArrow, zero shuffle.
- reduce_time, nct > 1, all reducers combinable: map-side partial states per
  chunk (8·ny·nx·nstates bytes instead of the full tensor), shuffled by the
  spatial chunk key, merged + finalized. This is Catalyst's
  partial/final hash-agg pattern applied to tensors.
- reduce_time with median/Q1/Q3: the exact quantile needs every value —
  gather the chunk column (groupBy spatial key), same memory bound as the
  reference's per-thread column scan.
- reduce_space: per-chunk partials → groupBy(ct) (rows are tiny states);
  median falls back to gathering the t-slab.
"""

from __future__ import annotations

import re
from typing import Iterable, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, chunk_stream, emit, pin_group_partitions
from gdalcubes_spark.grid import ChunkGrid
from gdalcubes_spark import reducers as R

_PAIR_RE = re.compile(r"^\s*(\w+)\s*\(\s*([^)]+?)\s*\)\s*$")


def parse_pairs(reducers: Sequence, bands: List[str]) -> List[Tuple[str, str]]:
    """Accept "sum(band1)" strings (R/reduce.R:157-162) or (reducer, band)
    tuples; a bare reducer name applies to every band."""
    pairs: List[Tuple[str, str]] = []
    for r in reducers:
        if isinstance(r, tuple):
            pairs.append((r[0], r[1]))
        else:
            m = _PAIR_RE.match(r)
            if m:
                pairs.append((m.group(1), m.group(2)))
            else:
                pairs.extend((r, b) for b in bands)
    for name, band in pairs:
        if name not in R.REDUCERS:
            raise ValueError(f"unknown reducer {name!r}")
        if band not in bands:
            raise ValueError(f"unknown band {band!r}")
    return pairs


def _t_doubles(view, its: np.ndarray) -> np.ndarray:
    return np.array([view.datetime_at_index(int(i)).to_double() for i in its], dtype="float64")


def reduce_time(cube: Cube, reducers: Sequence, names: Optional[Sequence[str]] = None) -> Cube:
    pairs = parse_pairs(reducers, cube.bands)
    out_bands = list(names) if names else [f"{b}_{r}" for r, b in pairs]
    if len(out_bands) != len(pairs):
        raise ValueError("names must match reducer pairs")
    bidx = [cube.bands.index(b) for _, b in pairs]
    rnames = [r for r, _ in pairs]
    which = any(r.startswith("which") for r in rnames)  # only which_* reads the slice datetimes
    view = cube.view
    g = cube.chunking
    # nt collapses to 1: keep [t0, t1] with dt = full span; drop any labeled
    # axis (labels would keep nt == len(labels) and corrupt the output shape)
    out_view = view.copy(labels=None)
    out_view.dt = (view.t1 - view.t0) + 1
    gout = ChunkGrid(nt=1, ny=g.ny, nx=g.nx, ct=1, cy=g.cy, cx=g.cx)

    if g.nct == 1:
        # ---- narrow path: whole time axis inside each chunk -----------------
        def fn(t: np.ndarray, coords):
            td = _t_doubles(view, np.arange(t.shape[1])) if which else None
            return np.stack([R.full_reduce(r, t[bi], td) for r, bi in zip(rnames, bidx)], axis=0)[:, None]

        return cube.map_chunks(fn, out_view=out_view, out_bands=out_bands, out_chunking=gout)

    spatial_key = F.col("cy").cast("long") * g.ncx + F.col("cx")
    if all(r in R.COMBINABLE for r in rnames):
        # ---- partial/merge path (small shuffle) -----------------------------
        # a chunk's partial states travel as a chunk row whose "bands" are
        # the stacked STATE_KEYS arrays: shape (nstates, 1, ny, nx)
        base_df, chunks = chunk_stream(cube)  # fuse any pending narrow chain in here

        def mk_partial(batches: Iterable[pa.RecordBatch]):
            for b in batches:
                rows = []
                for cid, coords, t in chunks(b):
                    (t0, t1), _, _ = g.chunk_cell_range(*coords)
                    td = _t_doubles(view, np.arange(t0, t1))
                    blobs = []
                    for r, bi in zip(rnames, bidx):
                        st = R.partial_state(r, t[bi], td)
                        blobs.extend(st[k] for k in R.STATE_KEYS[r])
                    rows.append((cid, coords, np.stack(blobs, axis=0)[:, None]))
                yield emit(CHUNK_SCHEMA, rows)

        def merge(key, table):
            rows = sorted(chunk_rows(table), key=lambda r: r[1][0])  # time order matters for which_*
            _, cy, cx = rows[0][1]
            t = R.merge_finalize(rnames, (st[:, 0] for _, _, st in rows))[:, None]
            return pa.table(emit(CHUNK_SCHEMA, [(gout.chunk_id(0, cy, cx), (0, cy, cx), t)]))

        keyed = base_df.mapInArrow(mk_partial, CHUNK_SCHEMA).withColumn("skey", spatial_key)
    else:
        # ---- gather path (exact quantiles) ----------------------------------
        def merge(key, table):
            rows = sorted(chunk_rows(table), key=lambda r: r[1][0])
            _, cy, cx = rows[0][1]
            v = np.concatenate([t for _, _, t in rows], axis=1)  # (nb, T, ny, nx)
            td = None
            if which:
                td = _t_doubles(view, np.concatenate([np.arange(*g.chunk_cell_range(*c)[0]) for _, c, _ in rows]))
            t = np.stack([R.full_reduce(r, v[bi], td) for r, bi in zip(rnames, bidx)], axis=0)[:, None]
            return pa.table(emit(CHUNK_SCHEMA, [(gout.chunk_id(0, cy, cx), (0, cy, cx), t)]))

        keyed = pin_group_partitions(cube.df.withColumn("skey", spatial_key), "skey", g.ncy * g.ncx)
    return Cube(keyed.groupBy("skey").applyInArrow(merge, CHUNK_SCHEMA), out_view, out_bands, gout)


def reduce_space(cube: Cube, reducers: Sequence, names: Optional[Sequence[str]] = None) -> Cube:
    """Collapse x,y → 1×1 per time step (reduce_space.cpp:28-443); reducers
    min/max/mean/median/count/var/sd/prod/sum (no which_*/Q1/Q3)."""
    pairs = parse_pairs(reducers, cube.bands)
    for r, _ in pairs:
        if r in ("which_min", "which_max", "Q1", "Q3"):
            raise ValueError(f"reducer {r!r} not supported by reduce_space (reduce_space.h:80-92)")
    out_bands = list(names) if names else [f"{b}_{r}" for r, b in pairs]
    if len(out_bands) != len(pairs):
        raise ValueError("names must match reducer pairs")
    bidx = [cube.bands.index(b) for _, b in pairs]
    rnames = [r for r, _ in pairs]
    view, g = cube.view, cube.chunking
    out_view = view.copy()
    out_view.set_x_axis(view.left, view.right, n=1)
    out_view.set_y_axis(view.bottom, view.top, n=1)
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)

    if all(r in R.COMBINABLE for r in rnames):
        # partial states as chunk rows of shape (nstates, nt, 1, 1), merged per t-slab
        base_df, chunks = chunk_stream(cube)  # fuse any pending narrow chain in here

        def mk_partial(batches: Iterable[pa.RecordBatch]):
            for b in batches:
                rows = []
                for cid, coords, t in chunks(b):
                    _, nt, ny, nx = t.shape
                    blobs = []
                    for r, bi in zip(rnames, bidx):
                        # reduce over space: stack (ny*nx, nt)
                        st = R.partial_state(r, t[bi].reshape(nt, ny * nx).T)
                        blobs.extend(st[k] for k in R.STATE_KEYS[r])
                    rows.append((cid, coords, np.stack(blobs, axis=0)[:, :, None, None]))
                yield emit(CHUNK_SCHEMA, rows)

        def merge(key, table):
            ict = key[0].as_py()
            t = R.merge_finalize(rnames, (st[:, :, 0, 0] for _, _, st in chunk_rows(table)))
            return pa.table(emit(CHUNK_SCHEMA, [(gout.chunk_id(ict, 0, 0), (ict, 0, 0), t[:, :, None, None])]))

        parts = base_df.mapInArrow(mk_partial, CHUNK_SCHEMA)
    else:
        # gather path for exact median: all spatial chunks of a t-slab in one
        # group. Memory bound = one full t-slab, same as the reference's
        # per-thread scan.
        def merge(key, table):
            ict = key[0].as_py()
            chunks = [t for _, _, t in chunk_rows(table)]
            nt = chunks[0].shape[1]
            t = np.stack([R.full_reduce(r, np.concatenate([c[bi].reshape(nt, -1) for c in chunks], axis=1).T)
                          for r, bi in zip(rnames, bidx)], axis=0)
            return pa.table(emit(CHUNK_SCHEMA, [(gout.chunk_id(ict, 0, 0), (ict, 0, 0), t[:, :, None, None])]))

        parts = cube.df
    return Cube(parts.groupBy("ct").applyInArrow(merge, CHUNK_SCHEMA), out_view, out_bands, gout)


def value_histogram(cube: Cube, bins: int = 32, vmin: float = None,
                    vmax: float = None) -> "DataFrame":
    """Per-band value histogram over every cube cell — the data-QA
    distribution summary the reference lacks (its reducers are scalar).
    Returns (band, bin, lo, hi, n): `bins` equal-width buckets over
    [vmin, vmax]; values at vmax land in the last bucket; outside-range
    values are clipped into the edge buckets; NaN cells are excluded.

    Scale shape: the explode to long cells partial-aggregates to band×bins
    rows BEFORE the single shuffle (codegen HashAggregate combiner), so the
    exchange carries a histogram per task, never cells. vmin/vmax default
    to one cheap min/max aggregate."""
    cells = cube.cells()
    if vmin is None or vmax is None:
        r = cells.agg(F.min("value").alias("lo"), F.max("value").alias("hi")).first()
        vmin = float(r["lo"]) if vmin is None else float(vmin)
        vmax = float(r["hi"]) if vmax is None else float(vmax)
    width = (vmax - vmin) / bins if vmax > vmin else 1.0
    b = F.least(F.lit(bins - 1), F.greatest(F.lit(0),
                F.floor((F.col("value") - F.lit(vmin)) / F.lit(width)))).cast("long")
    return (cells.filter(F.col("value").isNotNull())
            .groupBy("band", b.alias("bin"))
            .agg(F.count("*").alias("n"))
            .select("band", "bin",
                    F.round(F.lit(vmin) + F.col("bin") * F.lit(width), 9).alias("lo"),
                    F.round(F.lit(vmin) + (F.col("bin") + 1) * F.lit(width), 9).alias("hi"),
                    "n"))
