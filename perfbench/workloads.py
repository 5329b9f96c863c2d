"""The benchmark workloads.

Each workload has
- `setup(spark, work, seed)`: writes its input under `work` (untimed for
  `wall_s`, timed as part of `setup_s`) and returns the run state;
- `iterate(spark, st, probe)`: one closed-loop iteration, from the first
  engine call to the collected output (`Out`);
- `reference(spark, st, first)`: untimed, after the loop: checks `first`, the
  run's first iteration's output, against an independent numpy (or analytic)
  oracle and returns the output every iteration must reproduce;
- `CHAIN`: how the traced run turns prefix spans into layer self times:
  (layer, previous prefix it recomputes or None);
- `WARMUP`, `TIMED`: an untraced run's untimed and timed iteration counts.

The seed offsets the ids handed to `synth.make_row` by a multiple of the
layout's period (format cycle, hot-cell cycle, tile sweep and slope cycle),
so pixel values and ids change with the seed while tile layout, hot-cell
share, format mix and the amount of work stay fixed. The pixels then differ
only in the value offset d = 13 i mod 256 (synth.ImageLayout.params), which
the period shifts by a multiple of 64: there are four distinct value sets,
and `digest_key` names the one a seed gets. For the documents, the seed picks
the words; document lengths stay fixed.
"""

from __future__ import annotations

import functools
import gc
import glob
import hashlib
import math
import os
import shutil
import warnings
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

import numpy as np

VIEW_KW = dict(srs="EPSG:4326", left=0, bottom=0, t0="2021-01-01", dt="P1M")
# mean |engine - analytic pixels| allowed where jpeg images contribute: the
# in-repo codec round trip gives about 0.15; a broken decode gives tens
JPEG_MEAN_ABS = 2.0
# share of cells the scan oracle must check exactly (median_zonal: about 0.49)
MIN_EXACT = 0.3


class CheckFailed(Exception):
    """An output does not match its reference or oracle."""


@dataclass
class Out:
    chunks: Dict[int, np.ndarray] = field(default_factory=dict)
    table: List[tuple] = field(default_factory=list)
    extra: dict = field(default_factory=dict)

    @property
    def cells(self) -> int:
        return int(sum(a.size for a in self.chunks.values()))

    @property
    def rows(self) -> int:
        """Output rows: cube cells plus table rows ("tiles + joined rows")."""
        return self.cells + len(self.table)

    def counts(self) -> dict:
        return {"chunks": len(self.chunks), "cells": self.cells, "table_rows": len(self.table)}

    @functools.cached_property
    def digest(self) -> str:
        """Value digest, rounded to 1e-6 so summation order at the last ulp
        cannot flip it."""
        h = hashlib.sha256()
        for cid in sorted(self.chunks):
            a = np.round(self.chunks[cid], 6) + 0.0  # + 0.0 folds -0.0 into 0.0
            h.update(np.int64(cid).tobytes())
            h.update(np.where(np.isnan(a), np.nan, a).tobytes())
        for row in sorted(self.table):
            h.update(repr(tuple(round(v, 6) if isinstance(v, float) else v for v in row)).encode())
        return h.hexdigest()[:16]


def corrupt(out: Out) -> Out:
    """A copy of `out` with one value changed (the checker's negative control)."""
    chunks = {k: v.copy() for k, v in out.chunks.items()}
    table = list(out.table)
    if chunks:
        a = chunks[min(chunks)].reshape(-1)
        i = int(np.flatnonzero(~np.isnan(a))[0]) if np.any(~np.isnan(a)) else 0
        a[i] = (0.0 if np.isnan(a[i]) else a[i]) + 1.0
    else:
        first = list(table[0])
        first[1] = first[1] + 1
        table[0] = tuple(first)
    return Out(chunks, table, dict(out.extra))


def chunks_of(rows) -> Dict[int, np.ndarray]:
    return {int(r["chunk_id"]): np.frombuffer(r["data"], dtype="<f8").reshape(r["nb"], r["nt"], r["ny"], r["nx"])
            for r in rows}


def assemble(chunks: Dict[int, np.ndarray], g, nb: int) -> np.ndarray:
    out = np.full((nb, g.nt, g.ny, g.nx), np.nan)
    for cid, t in chunks.items():
        (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*g.chunk_coords(cid))
        out[:, t0:t1, y0:y1, x0:x1] = t
    return out


def same(a: np.ndarray, b: np.ndarray, what: str, rtol: float = 1e-9, atol: float = 1e-9) -> None:
    if a.shape != b.shape or not np.allclose(a, b, rtol=rtol, atol=atol, equal_nan=True):
        bad = int(np.sum(~np.isclose(a, b, rtol=rtol, atol=atol, equal_nan=True))) if a.shape == b.shape else -1
        raise CheckFailed(f"{what}: {bad} values differ from the oracle")


def scan_oracle(lay, ids, view) -> Tuple[np.ndarray, np.ndarray]:
    """Numpy scan of the synthetic images, independent of the engine: the
    analytic pixels of `synth.ImageLayout.pixels` (no codec), bilinear at cell
    centres, the median over the images of a time slice.

    Returns (values (nb, nt, ny, nx), exact (nt, ny, nx)). `exact` marks the
    cells whose every image is lossless (png/raw) and samples there from four
    real pixels; cells touched by a jpeg image (lossy) or by an image's outer
    half pixel (edge rules differ between resamplers) are left out of it."""
    nb, w, h = lay.nb, lay.tile_w, lay.tile_h
    xc = view.left + (np.arange(view.nx) + 0.5) * view.dx
    yc = view.top - (np.arange(view.ny) + 0.5) * view.dy
    by_t: Dict[int, List[int]] = {}
    for i in ids:
        month = np.datetime64(int(lay.params(i)["epoch"]), "s").astype("datetime64[M]")
        by_t.setdefault(int((month - np.datetime64(VIEW_KW["t0"][:7], "M")).astype(int)), []).append(i)
    out = np.full((nb, view.nt, view.ny, view.nx), np.nan)
    exact = np.ones((view.nt, view.ny, view.nx), bool)
    for t, its in by_t.items():
        if not 0 <= t < view.nt:
            continue
        stack = np.full((len(its), nb, view.ny, view.nx), np.nan)
        for k, i in enumerate(its):
            p = lay.params(i)
            u = (xc - p["left"]) / ((p["right"] - p["left"]) / w) - 0.5  # 0 = first pixel centre
            v = (p["top"] - yc) / ((p["top"] - p["bottom"]) / h) - 0.5
            ix = np.flatnonzero((u >= -0.5) & (u < w - 0.5))  # cell centre inside the image
            iy = np.flatnonzero((v >= -0.5) & (v < h - 0.5))
            if ix.size == 0 or iy.size == 0:
                continue
            uu, vv = np.clip(u[ix], 0, w - 1), np.clip(v[iy], 0, h - 1)
            ok = (vv == v[iy])[:, None] & (uu == u[ix])[None, :] & (p["fmt"] in ("png", "raw"))
            exact[t][np.ix_(iy, ix)] &= ok
            x0 = np.minimum(np.floor(uu).astype(int), w - 2)[None, :]
            y0 = np.minimum(np.floor(vv).astype(int), h - 2)[:, None]
            fx, fy = (uu - x0[0])[None, None, :], (vv - y0[:, 0])[None, :, None]
            a = lay.pixels(i).astype("float64")
            top = a[:, y0, x0] + fx * (a[:, y0, x0 + 1] - a[:, y0, x0])
            bot = a[:, y0 + 1, x0] + fx * (a[:, y0 + 1, x0 + 1] - a[:, y0 + 1, x0])
            stack[k][:, iy[:, None], ix[None, :]] = top + fy * (bot - top)
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # all-NaN cells stay NaN
            out[:, t] = np.nanmedian(stack, axis=0)
    return out, exact


def check_scan(got: np.ndarray, lay, ids, view, min_exact: float) -> None:
    """The engine's scan must equal the numpy oracle on every exact cell (at
    least `min_exact` of all cells), cover the same cells, and stay within
    JPEG_MEAN_ABS grey levels of it on average over the other cells."""
    want, exact = scan_oracle(lay, ids, view)
    if exact.mean() < min_exact:
        raise CheckFailed(f"scan oracle: only {exact.mean():.2f} of the cells are exact")
    same(got[:, exact], want[:, exact], "raster_cube vs the numpy scan oracle")
    if not np.array_equal(np.isnan(got), np.isnan(want)):
        raise CheckFailed("raster_cube covers other cells than the numpy scan oracle")
    rest = np.abs(got[:, ~exact] - want[:, ~exact])
    if rest.size and np.nanmean(rest) > JPEG_MEAN_ABS:
        raise CheckFailed(f"raster_cube is {np.nanmean(rest):.2f} grey levels off the oracle on lossy cells")


def layout_period(lay) -> int:
    """Id offset that keeps the tile, time step, hot flag, format and
    gradient slopes of every image (see synth.ImageLayout.params: the slopes
    cycle with period 5); only the value offset `d` changes."""
    return math.lcm(len(lay.fmts), lay.hot_every or 1, lay.gx * lay.gy * lay.ntime, 5)


def write_inventory(spark, path: str, lay, n: int, seed: int) -> None:
    """Like synth.generate_images, but over ids offset by the seed. The
    mapInPandas generation also starts and warms the Python workers."""
    import pandas as pd
    from gdalcubes_spark.synth import IMAGE_SCHEMA, make_row

    cols = [f.name for f in IMAGE_SCHEMA.fields]
    off = seed * layout_period(lay)
    parts = max(1, min(n // 64 + 1, spark.sparkContext.defaultParallelism * 2))

    def gen(batches):
        for pdf in batches:
            yield pd.DataFrame([make_row(int(i), lay) for i in pdf["id"]], columns=cols)

    (spark.range(off, off + n, numPartitions=parts).mapInPandas(gen, IMAGE_SCHEMA)
     .write.mode("overwrite").parquet(path))


def image_ids(lay, n: int, seed: int) -> range:
    off = seed * layout_period(lay)
    return range(off, off + n)


class Workload:
    name = ""
    CHAIN: List[Tuple[str, Optional[str]]] = []
    WARMUP, TIMED = 1, 3
    JAVA_OPTS = ""  # for the driver JVM

    def __init__(self, tiny: bool = False):
        self.tiny = tiny

    def check_extra(self, out: Out) -> None:
        """Workload-specific output checks beyond the reference digest."""

    def digest_key(self, seed: int) -> str:
        """The key of the seed's pinned digest in expected.json: seeds with
        the same key must give the same output values."""
        raise NotImplementedError

    def hygiene(self, spark, st) -> None:
        """Between iterations, outside the clock: drop caches and collect
        garbage so no iteration pays for the one before it."""
        spark.catalog.clearCache()
        gc.collect()


# ------------------------------------------------------------------ cubes

class MedianZonal(Workload):
    """bench.py scan_from_table/scan_zonal shape: png/raw/jpeg, 20% overlap,
    every 13th image on the hot cell, median bilinear ct=1 128² chunks,
    NDVI, reduce_time(median), zonal mean/count/median over 16 polygons.
    The reduced cube, cached for the zonal stats, is then checkpointed: write
    → remove a fixed share of the committed chunk files → resume → read
    back, which must equal the reduced cube."""
    name = "median_zonal"
    FMTS = ("png", "raw", "jpeg")
    HOT = 13
    OVERLAP = 0.2
    NTIME = 12
    N, N_TINY = 192, 48
    WARMUP, TIMED = 1, 3
    # Its work is in Python UDFs; the JVM plans and moves Arrow batches. With
    # the default tiered JIT, C2 kept compiling all run long, and each
    # iteration used about 2 JVM CPU-seconds less than the one before; with C1
    # only, iterations level off after the first warm one, and are faster.
    JAVA_OPTS = "-XX:TieredStopAtLevel=1"
    DROP_SHARE = 0.25
    CHAIN = [("raster_cube", None), ("apply_pixel", "raster_cube"), ("reduce", "apply_pixel"),
             ("extract_geom", None), ("checkpoint.write", None), ("checkpoint.resume", None),
             ("checkpoint.read", None)]

    @property
    def n_images(self) -> int:
        return self.N_TINY if self.tiny else self.N

    def layout(self):
        from gdalcubes_spark.synth import ImageLayout
        return ImageLayout(left0=0.0, top0=4.0, tile_dx=1.0, tile_dy=1.0, gx=4, gy=4, ntime=self.NTIME, dt_days=31,
                           tile_w=64, tile_h=64, nb=2, fmts=self.FMTS, hot_every=self.HOT,
                           overlap=self.OVERLAP)

    def view(self):
        from gdalcubes_spark.grid import CubeView
        return CubeView.create(right=4, top=4, t1=f"2021-{self.NTIME:02d}-28", dx=1.0 / 64, dy=1.0 / 64,
                               aggregation="median", resampling="bilinear", **VIEW_KW)

    def grid(self, v):
        from gdalcubes_spark.grid import ChunkGrid
        return ChunkGrid(nt=v.nt, ny=v.ny, nx=v.nx, ct=1, cy=128, cx=128)

    def payload_ids(self, seed: int) -> range:
        return image_ids(self.layout(), self.n_images, seed)

    def digest_key(self, seed: int) -> str:
        return str(seed * layout_period(self.layout()) * 13 % 256)  # the shift of d

    def setup(self, spark, work, seed):
        from gdalcubes_spark.geom import rect_wkt
        st = {"inventory": os.path.join(work, "inventory"), "seed": seed, "work": work}
        write_inventory(spark, st["inventory"], self.layout(), self.n_images, seed)
        # rectangles 0.1° inside each 1° tile; cell centers sit at (j + .5)/64,
        # never on an edge, so membership is unambiguous for the oracle
        st["rects"] = [(i % 4 + 0.1, i // 4 + 0.1, i % 4 + 0.9, i // 4 + 0.9) for i in range(16)]
        st["polys"] = spark.createDataFrame([(i, rect_wkt(*r)) for i, r in enumerate(st["rects"])],
                                            "fid long, wkt string")
        st["ckpt"] = os.path.join(work, "checkpoints")
        st["n"] = 0
        return st

    def build(self, spark, st):
        from gdalcubes_spark.operators.extract_geom import zonal_stats
        from gdalcubes_spark.sources.raster_cube import raster_cube
        from gdalcubes_spark.synth import band_names
        v = self.view()
        cube = raster_cube(spark.read.parquet(st["inventory"]), v, band_names(self.layout()), chunking=self.grid(v))
        ndvi = cube.apply_pixel("(b02 - b01) / (b02 + b01 + 1)", ["ndvi"])
        med = ndvi.reduce_time("median(ndvi)", names=["ndvi"])
        zs = zonal_stats(med, st["polys"], ["mean", "count", "median"], by_time=True)
        return cube, ndvi, med, zs

    def iterate(self, spark, st, p) -> Out:
        from gdalcubes_spark.checkpoint import read_checkpoint, resume, write_checkpoint
        st["n"] += 1
        path = os.path.join(st["ckpt"], f"it{st['n']}")
        with p.layer("driver.plan"):
            cube, ndvi, med, zs = self.build(spark, st)
        p.prefix("raster_cube", cube.df)
        p.prefix("apply_pixel", ndvi.df)
        with p.layer("reduce"):
            med.df.persist()
            rows = med.df.collect()
        try:
            with p.layer("extract_geom"):
                z = zs.select("fid", "ndvi_mean", "ndvi_count", "ndvi_median").collect()
            with p.layer("checkpoint.write"):
                write_checkpoint(med, path)
            files = sorted(glob.glob(os.path.join(path, "chunks", "part-*.parquet")))
            for f in files[:max(1, int(len(files) * self.DROP_SHARE))]:
                os.remove(f)
            with p.layer("checkpoint.resume"):
                resumed = resume(med, path)
            with p.layer("checkpoint.read"):
                back = read_checkpoint(spark, path).df.collect()
        finally:
            med.df.unpersist()
        nbytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)
        return Out(chunks_of(rows), [(int(r[0]), float(r[1]), int(r[2]), float(r[3])) for r in z],
                   extra={"resumed": resumed, "bytes": nbytes, "read_back": chunks_of(back)})

    def check_extra(self, out: Out) -> None:
        if not 0 < out.extra["resumed"] < len(out.chunks):
            raise CheckFailed(f"resume recomputed {out.extra['resumed']} of {len(out.chunks)} chunks")
        back = out.extra["read_back"]
        if back.keys() != out.chunks.keys() or not all(np.array_equal(back[k], out.chunks[k], equal_nan=True)
                                                       for k in back):
            raise CheckFailed("read_checkpoint after resume differs from the reduced cube")

    def hygiene(self, spark, st) -> None:
        shutil.rmtree(st["ckpt"], ignore_errors=True)
        super().hygiene(spark, st)

    def reference(self, spark, st, out: Out) -> Out:
        """The first timed output, checked in numpy: the engine's scan (run
        again, untimed) against the numpy scan oracle; NDVI, its time median
        and the zonal stats recomputed from that scan against the output."""
        cube, _, med, _ = self.build(spark, st)
        c = cube.collect_array()
        check_scan(c, self.layout(), self.payload_ids(st["seed"]), cube.view, MIN_EXACT)
        m = assemble(out.chunks, med.chunking, 1)[0, 0]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)
            same(m, np.nanmedian((c[1] - c[0]) / (c[1] + c[0] + 1), axis=0), "NDVI reduce_time(median)")
        v = med.view
        xc = v.left + (np.arange(v.nx) + 0.5) * v.dx
        yc = v.top - (np.arange(v.ny) + 0.5) * v.dy
        want = []
        for fid, (x0, y0, x1, y1) in enumerate(st["rects"]):
            sel = m[np.ix_((yc > y0) & (yc < y1), (xc > x0) & (xc < x1))]
            sel = sel[~np.isnan(sel)]
            if sel.size:
                want.append((fid, float(sel.mean()), int(sel.size), float(np.median(sel))))
        got = sorted(out.table)
        if len(got) != len(want) or any(a[0] != b[0] or a[2] != b[2] or not np.allclose(a[1::2], b[1::2])
                                         for a, b in zip(got, want)):
            raise CheckFailed("zonal_stats differ from the numpy zonal oracle")
        return out


# ------------------------------------------------------------------- text

VOCAB = ("spark window merge table column vector stream value data small join filter big group hash "
         "customer sort order slow line part fast row the agg key query a scan batch").split()
CLONE_OFFSET = 10_000_000


class TextDedup(Workload):
    """bench.py dedup_clusters shape: a documents table (31-word vocabulary,
    10-100 words, like documents.parquet) plus in-plan near-clones
    (text + " zzz") → minhash_lsh_pairs(0.7) → dedup_clusters."""
    name = "text_dedup"
    WARMUP, TIMED = 2, 4  # its work is JVM code, where C2 pays off
    N, N_TINY = 1000, 100
    CHAIN = [("dedup", None), ("components", "dedup")]

    @property
    def n_docs(self) -> int:
        return self.N_TINY if self.tiny else self.N

    def setup(self, spark, work, seed):
        import pandas as pd
        path = os.path.join(work, "documents")
        vocab, n = VOCAB, self.n_docs
        parts = max(1, spark.sparkContext.defaultParallelism)

        def gen(batches):
            for pdf in batches:
                rows = []
                for i in pdf["id"]:
                    # the length depends on the doc only, the words on the seed too
                    size = int(np.random.default_rng(int(i)).integers(10, 101))
                    words = np.random.default_rng([seed, int(i)]).choice(len(vocab), size=size)
                    rows.append((int(i), " ".join(vocab[w] for w in words)))
                yield pd.DataFrame(rows, columns=["doc_id", "text"])

        (spark.range(0, n, numPartitions=parts).mapInPandas(gen, "doc_id long, text string")
         .write.mode("overwrite").parquet(path))
        return {"documents": path, "seed": seed, "work": work}

    def iterate(self, spark, st, p) -> Out:
        from pyspark.sql import functions as F
        from gdalcubes_spark.pipeline.components import dedup_clusters
        from gdalcubes_spark.pipeline.dedup import minhash_lsh_pairs, release_caches
        with p.layer("driver.plan"):
            d = spark.read.parquet(st["documents"])
            near = d.select((F.col("doc_id") + CLONE_OFFSET).alias("doc_id"),
                            F.concat(F.col("text"), F.lit(" zzz")).alias("text"))
            docs = d.unionByName(near)
            pairs = minhash_lsh_pairs(docs, threshold=0.7)
        if p.traced:
            p.prefix("dedup", pairs)
            release_caches()  # the components layer then recomputes its pairs
        with p.layer("components"):
            rows = dedup_clusters(docs, pairs).collect()
        return Out(table=[(int(r["doc_id"]), int(r["cluster"]), int(r["cluster_size"]), bool(r["keep"]))
                          for r in rows])

    def digest_key(self, seed: int) -> str:
        return "any"  # the labels do not depend on the words

    def reference(self, spark, st, first: Out) -> Out:
        """Known by construction: each document and its clone form a cluster
        of two, labelled with the original's id; the original is kept."""
        n = self.n_docs
        return Out(table=[(i, i, 2, True) for i in range(n)] + [(CLONE_OFFSET + i, i, 2, False) for i in range(n)])

    def hygiene(self, spark, st) -> None:
        from gdalcubes_spark.pipeline.components import release_checkpoints
        from gdalcubes_spark.pipeline.dedup import release_caches
        release_caches()
        release_checkpoints()
        super().hygiene(spark, st)


WORKLOADS = {w.name: w for w in (MedianZonal, TextDedup)}
