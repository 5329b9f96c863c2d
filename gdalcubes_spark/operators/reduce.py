"""reduce_time / reduce_space: collapse a cube dimension entirely.

Reference: reduce_time.cpp:526-625 (streams chunks along t, lazy init — an
entirely-empty chunk column yields an empty output chunk), reduce_space.cpp.
Output band names are "<band>_<reducer>" unless names given
(reduce_time.h:110-118).

Spark shapes (designed for the 100 TB case):
- reduce_time, nct == 1 (the default adaptive chunking): NARROW — one
  mapInPandas, zero shuffle.
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
import pandas as pd
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_stream, pack_tensor, pin_group_partitions, tensor_of
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
            nt = t.shape[1]
            its = np.arange(nt)
            td = _t_doubles(view, its) if any(r.startswith("which") for r in rnames) else None
            outs = [R.full_reduce(r, np.moveaxis(t[bi], 0, 0), its, td)[None, ...] for r, bi in zip(rnames, bidx)]
            return np.stack([o[0] for o in outs], axis=0)[:, None, :, :]

        return cube.map_chunks(fn, out_view=out_view, out_bands=out_bands, out_chunking=gout)

    spatial_key_expr = "cy * {ncx} + cx".format(ncx=g.ncx)

    if all(r in R.COMBINABLE for r in rnames):
        # ---- partial/merge path (small shuffle) -----------------------------
        from pyspark.sql import types as T

        part_schema = T.StructType([
            T.StructField("skey", T.LongType(), False),
            T.StructField("cy", T.IntegerType(), False),
            T.StructField("cx", T.IntegerType(), False),
            T.StructField("ct", T.IntegerType(), False),
            T.StructField("ny", T.IntegerType(), False),
            T.StructField("nx", T.IntegerType(), False),
            T.StructField("state", T.BinaryType(), False),
        ])

        base_df, xf = chunk_stream(cube)  # fuse any pending narrow chain in here

        def mk_partial(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                rows = []
                for _, row in pdf.iterrows():
                    coords = (int(row["ct"]), int(row["cy"]), int(row["cx"]))
                    t = xf(tensor_of(row), coords)
                    if t is None:
                        continue
                    (t0, t1), _, _ = g.chunk_cell_range(*coords)
                    its = np.arange(t0, t1)
                    td = _t_doubles(view, its)
                    blobs = []
                    for r, bi in zip(rnames, bidx):
                        st = R.partial_state(r, t[bi], td)
                        blobs.extend(st[k] for k in R.STATE_KEYS[r])
                    state = np.stack(blobs, axis=0)
                    rows.append(dict(skey=int(row["cy"]) * g.ncx + int(row["cx"]), cy=int(row["cy"]),
                                     cx=int(row["cx"]), ct=int(row["ct"]), ny=t.shape[2], nx=t.shape[3],
                                     state=pack_tensor(state)))
                yield pd.DataFrame(rows, columns=[f.name for f in part_schema.fields]) if rows else \
                    pd.DataFrame({f.name: pd.Series(dtype="object") for f in part_schema.fields})

        def merge_group(key, pdf):
            pdf = pdf.sort_values("ct")  # time order matters for which_*
            ny, nx = int(pdf.iloc[0]["ny"]), int(pdf.iloc[0]["nx"])
            nstates = sum(len(R.STATE_KEYS[r]) for r in rnames)
            acc = None
            for _, row in pdf.iterrows():
                st = np.frombuffer(row["state"], dtype="<f8").reshape(nstates, ny, nx)
                if acc is None:
                    acc = st.copy()
                    continue
                off = 0
                for r in rnames:
                    ks = R.STATE_KEYS[r]
                    a = {k: acc[off + i] for i, k in enumerate(ks)}
                    b = {k: st[off + i] for i, k in enumerate(ks)}
                    m = R.merge_state(r, a, b)
                    for i, k in enumerate(ks):
                        acc[off + i] = m[k]
                    off += len(ks)
            out = []
            off = 0
            for r in rnames:
                ks = R.STATE_KEYS[r]
                out.append(R.finalize_state(r, {k: acc[off + i] for i, k in enumerate(ks)}))
                off += len(ks)
            t = np.stack(out, axis=0)[:, None, :, :]
            cy, cx = int(pdf.iloc[0]["cy"]), int(pdf.iloc[0]["cx"])
            cid = gout.chunk_id(0, cy, cx)
            return pd.DataFrame([dict(chunk_id=cid, ct=0, cy=cy, cx=cx, nb=t.shape[0], nt=1,
                                      ny=ny, nx=nx, data=pack_tensor(t))])

        part = base_df.mapInPandas(mk_partial, part_schema)
        out_df = part.groupBy("skey").applyInPandas(merge_group, CHUNK_SCHEMA)
        return Cube(out_df, out_view, out_bands, gout)

    # ---- gather path (exact quantiles) --------------------------------------
    def gather(key, pdf):
        pdf = pdf.sort_values("ct")
        ny, nx = int(pdf.iloc[0]["ny"]), int(pdf.iloc[0]["nx"])
        vals, its = [], []
        for _, row in pdf.iterrows():
            t = tensor_of(row)
            (t0, t1), _, _ = g.chunk_cell_range(int(row["ct"]), int(row["cy"]), int(row["cx"]))
            vals.append(t)
            its.append(np.arange(t0, t1))
        v = np.concatenate(vals, axis=1)  # (nb, T, ny, nx)
        its = np.concatenate(its)
        td = _t_doubles(view, its) if any(r.startswith("which") for r in rnames) else None
        outs = [R.full_reduce(r, v[bi], its, td) for r, bi in zip(rnames, bidx)]
        t = np.stack(outs, axis=0)[:, None, :, :]
        cy, cx = int(pdf.iloc[0]["cy"]), int(pdf.iloc[0]["cx"])
        cid = gout.chunk_id(0, cy, cx)
        return pd.DataFrame([dict(chunk_id=cid, ct=0, cy=cy, cx=cx, nb=t.shape[0], nt=1,
                                  ny=ny, nx=nx, data=pack_tensor(t))])

    keyed = cube.df.withColumn("skey", F.col("cy").cast("long") * g.ncx + F.col("cx"))
    out_df = (pin_group_partitions(keyed, "skey", g.ncy * g.ncx)
              .groupBy("skey").applyInPandas(gather, CHUNK_SCHEMA))
    return Cube(out_df, out_view, out_bands, gout)


def reduce_space(cube: Cube, reducers: Sequence, names: Optional[Sequence[str]] = None) -> Cube:
    """Collapse x,y → 1×1 per time step (reduce_space.cpp:28-443); reducers
    min/max/mean/median/count/var/sd/prod/sum (no which_*/Q1/Q3)."""
    pairs = parse_pairs(reducers, cube.bands)
    for r, _ in pairs:
        if r in ("which_min", "which_max", "Q1", "Q3"):
            raise ValueError(f"reducer {r!r} not supported by reduce_space (reduce_space.h:80-92)")
    out_bands = list(names) if names else [f"{b}_{r}" for r, b in pairs]
    bidx = [cube.bands.index(b) for _, b in pairs]
    rnames = [r for r, _ in pairs]
    view, g = cube.view, cube.chunking
    out_view = view.copy()
    out_view.set_x_axis(view.left, view.right, n=1)
    out_view.set_y_axis(view.bottom, view.top, n=1)
    gout = ChunkGrid(nt=g.nt, ny=1, nx=1, ct=g.ct, cy=1, cx=1)

    from pyspark.sql import types as T

    combinable = all(r in R.COMBINABLE for r in rnames)

    if combinable:
        part_schema = T.StructType([
            T.StructField("ct", T.IntegerType(), False),
            T.StructField("nt", T.IntegerType(), False),
            T.StructField("state", T.BinaryType(), False),
        ])

        base_df, xf = chunk_stream(cube)  # fuse any pending narrow chain in here

        def mk_partial(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                rows = []
                for _, row in pdf.iterrows():
                    t = xf(tensor_of(row), (int(row["ct"]), int(row["cy"]), int(row["cx"])))
                    if t is None:
                        continue
                    nb, nt, ny, nx = t.shape
                    blobs = []
                    for r, bi in zip(rnames, bidx):
                        # reduce over space: stack (ny*nx, nt)
                        v = t[bi].reshape(nt, ny * nx).T  # (cells, nt)
                        st = R.partial_state(r, v)
                        blobs.extend(st[k] for k in R.STATE_KEYS[r])
                    state = np.stack(blobs, axis=0)  # (nstates, nt)
                    rows.append(dict(ct=int(row["ct"]), nt=nt, state=pack_tensor(state)))
                yield pd.DataFrame(rows, columns=["ct", "nt", "state"]) if rows else \
                    pd.DataFrame(dict(ct=pd.Series(dtype="int32"), nt=pd.Series(dtype="int32"),
                                      state=pd.Series(dtype="object")))

        def merge_group(key, pdf):
            nt = int(pdf.iloc[0]["nt"])
            nstates = sum(len(R.STATE_KEYS[r]) for r in rnames)
            acc = None
            for _, row in pdf.iterrows():
                st = np.frombuffer(row["state"], dtype="<f8").reshape(nstates, nt)
                if acc is None:
                    acc = st.copy()
                    continue
                off = 0
                for r in rnames:
                    ks = R.STATE_KEYS[r]
                    m = R.merge_state(r, {k: acc[off + i] for i, k in enumerate(ks)},
                                      {k: st[off + i] for i, k in enumerate(ks)})
                    for i, k in enumerate(ks):
                        acc[off + i] = m[k]
                    off += len(ks)
            out, off = [], 0
            for r in rnames:
                ks = R.STATE_KEYS[r]
                out.append(R.finalize_state(r, {k: acc[off + i] for i, k in enumerate(ks)}))
                off += len(ks)
            t = np.stack(out, axis=0)[:, :, None, None]  # (nb, nt, 1, 1)
            ict = int(key[0])
            return pd.DataFrame([dict(chunk_id=gout.chunk_id(ict, 0, 0), ct=ict, cy=0, cx=0,
                                      nb=t.shape[0], nt=nt, ny=1, nx=1, data=pack_tensor(t))])

        part = base_df.mapInPandas(mk_partial, part_schema)
        out_df = part.groupBy("ct").applyInPandas(merge_group, CHUNK_SCHEMA)
        return Cube(out_df, out_view, out_bands, gout)

    # gather path for exact median: all spatial chunks of a t-slab in one group.
    # Memory bound = one full t-slab, same as the reference's per-thread scan.
    def gather(key, pdf):
        nt = None
        chunks = []
        for _, row in pdf.iterrows():
            t = tensor_of(row)
            nt = t.shape[1]
            chunks.append(t)
        outs = []
        for r, bi in zip(rnames, bidx):
            v = np.concatenate([c[bi].reshape(nt, -1) for c in chunks], axis=1).T  # (cells, nt)
            outs.append(R.full_reduce(r, v))
        t = np.stack(outs, axis=0)[:, :, None, None]
        ict = int(key[0])
        return pd.DataFrame([dict(chunk_id=gout.chunk_id(ict, 0, 0), ct=ict, cy=0, cx=0,
                                  nb=t.shape[0], nt=nt, ny=1, nx=1, data=pack_tensor(t))])

    out_df = cube.df.groupBy("ct").applyInPandas(gather, CHUNK_SCHEMA)
    return Cube(out_df, out_view, out_bands, gout)


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
