"""The Cube abstraction: a lazy, distributed 4-D array (band, time, y, x).

Physical representation: a DataFrame of *chunk rows* — one row per spatiotemporal
chunk, payload a dense float64 tensor of shape (nb, nt_c, ny_c, nx_c) in
row-major order, mirroring gdalcubes' chunk_data layout (cube.h:263-388) but
carried as a Spark binary column so Arrow moves it in bulk.

NaN is the universal nodata value (image_collection_cube.cpp:343-346).
All-NaN chunks are *elided* — the row is simply absent from the DataFrame
(empty-chunk short-circuit, image_collection_cube.cpp:674-678) — so sparse
cubes cost nothing to shuffle. Every operator must treat a missing chunk row
as an all-NaN chunk.

Scale notes:
- one chunk row ≈ 8*nb*nt_c*ny_c*nx_c bytes; default chunking keeps this in
  the tens of MB so a single Arrow batch / Spark task handles a few chunks.
- chunk_id is the deterministic partition/join key (cube.h:495-497); narrow
  ops are mapInArrow (no shuffle), wide ops shuffle on a chunk-coord subset
  into applyInArrow.
- chunk_rows() and emit() are the one reader and the one writer of chunk
  rows in the batch chunk UDFs, like gdalcubes' single chunk_data interface:
  the UDFs see (chunk_id, (ct, cy, cx), tensor), never payload bytes and dims.
- narrow ops fuse one way: a Cube is its source's build(chain), the chain
  being the map_chunks tensor fns still pending on that source (the way
  gdalcubes' operators pull their input chunk through read_chunk). Direct df
  consumers get the chain inside the source's last UDF (on raster_cube, the
  scan's build); wide ops read chunk_stream() and run it in their own first
  UDF. Either way a chain of narrow ops crosses the JVM↔Python boundary once.
"""

from __future__ import annotations

import functools
import math
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, List, Optional, Sequence, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from gdalcubes_spark.grid import ChunkGrid, CubeView, default_chunking

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("chunk_id", T.LongType(), False),
        T.StructField("ct", T.IntegerType(), False),
        T.StructField("cy", T.IntegerType(), False),
        T.StructField("cx", T.IntegerType(), False),
        T.StructField("nb", T.IntegerType(), False),
        T.StructField("nt", T.IntegerType(), False),
        T.StructField("ny", T.IntegerType(), False),
        T.StructField("nx", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), True),
    ]
)

_SLICE_FILES_SCHEMA = T.StructType(
    [
        T.StructField("it", T.IntegerType(), False),
        T.StructField("file", T.StringType(), False),
        T.StructField("bytes_written", T.LongType(), False),
    ]
)

CELL_SCHEMA = T.StructType(
    [
        T.StructField("it", T.IntegerType(), False),
        T.StructField("iy", T.IntegerType(), False),
        T.StructField("ix", T.IntegerType(), False),
        T.StructField("band", T.StringType(), False),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def pin_group_partitions(df: DataFrame, keys, n_groups: int) -> DataFrame:
    """Repartition by `keys` with an EXPLICIT partition count before a
    groupBy().applyInArrow over chunk tensors.

    AQE coalesces post-shuffle partitions by byte size, but tensor-UDF stages
    (decode, focal windows, PIP extraction, exact-median gathers) cost orders
    of magnitude more per byte than columnar work — byte-based coalescing was
    observed collapsing 32 cores' worth of decode onto 5 tasks. A
    user-numbered repartition satisfies the downstream clustering requirement
    (no second exchange) and AQE leaves it alone.

    Count = cluster parallelism, capped by the number of groups: ONE wave of
    Python tasks. Every Python task pays a fixed cost before its UDF runs, so
    each extra wave costs that much again whether a task folds 8 images or
    52. Most of that cost was the worker re-reading its zip archives
    (pyspark.zip, the spark-core jar) at every task start; the engine's worker
    daemon (worker_daemon.py) removes it, and a wave now costs ≈0.05 s on a
    4-core host (≈0.14 s without the daemon, `tools/python_task_cost.py`).
    The one-wave rule was sized on the old cost and is kept as it is: a
    re-check starts from the new figure. It was measured only at local[4] on
    the median_zonal stages (scan, reduce_time gather); window and from_cells
    follow it untimed. reduce_space (groupBy "ct") and aggregate_* (groupBy
    chunk_id) group with no pin, so AQE may coalesce those stages. Hashing
    chunk_id into exactly `par` partitions gives tasks unequal group counts,
    so skew across the one wave is higher."""
    try:
        par = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        par = 32
    n = max(1, min(int(n_groups), par))
    return df.repartition(n, *([keys] if isinstance(keys, str) else list(keys)))


def chunk_rows(batch) -> Iterator[Tuple[int, Tuple[int, int, int], Optional[np.ndarray]]]:
    """The chunk rows of an Arrow RecordBatch or Table, as (chunk_id,
    (ct, cy, cx), tensor). tensor is the (nb, nt, ny, nx) float64 payload, a
    read-only np.frombuffer view, or None for a null payload (the missing
    side of an outer join). Extra columns of `batch` are ignored."""
    cols = [batch.column(f.name).to_pylist() for f in CHUNK_SCHEMA.fields]
    for cid, ct, cy, cx, nb, nt, ny, nx, data in zip(*cols):
        t = None if data is None else np.frombuffer(data, dtype="<f8").reshape(nb, nt, ny, nx)
        yield cid, (ct, cy, cx), t


def emit(schema: T.StructType, rows: Iterable[tuple]) -> pa.RecordBatch:
    """One Arrow batch of `schema` from `rows`. A CHUNK_SCHEMA row is
    (chunk_id, (ct, cy, cx), tensor): the tensor becomes its dims and the
    float64 payload. Rows of any other schema are tuples in field order.
    No rows give the empty batch of `schema`."""
    arrow = to_arrow_schema(schema)
    if schema == CHUNK_SCHEMA:
        rows = [(cid, *coords, *t.shape, pack_tensor(t)) for cid, coords, t in rows]
    cols = list(zip(*rows)) or [()] * len(arrow)
    return pa.RecordBatch.from_arrays([pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow)


def chunk_stream(cube):
    """(df, rows) for WIDE operators that read a cube's chunk rows inside
    their own first UDF: map over `df`; `rows(batch)` yields the batch's
    (chunk_id, (ct, cy, cx), tensor) with the cube's pending narrow chain
    applied and elided (None / all-NaN) chunks dropped.

    `df` is the cube's build with an empty chain, so the chain runs in the
    consumer's UDF: scan → apply_pixel → reduce partial runs the apply inside
    the partial, with no node (one full-cube Arrow round trip) of its own."""
    chain = cube._chain
    df = cube._build(()) if chain else cube.df

    def rows(batch):
        for cid, coords, t in chunk_rows(batch):
            t = apply_chain(chain, t, coords)
            if t is not None:
                yield cid, coords, t
    return df, rows


def apply_chain(chain: tuple, t: np.ndarray, coords: tuple) -> Optional[np.ndarray]:
    """Run a fused narrow chain of map_chunks fns on one chunk tensor. None
    when a step returns None or an all-NaN tensor: the chunk is then elided,
    the missing-chunk ≡ all-NaN invariant the unfused plan enforces between
    stages."""
    for f in chain:
        t = f(t, coords)
        if t is None or (isinstance(t, np.ndarray) and np.all(np.isnan(t))):
            return None
    return t


def _map_chain(df: DataFrame, chain: tuple) -> DataFrame:
    """The default build: `chain` as one mapInArrow over `df`."""
    if not chain:
        return df

    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            out = ((cid, coords, apply_chain(chain, t, coords)) for cid, coords, t in chunk_rows(b))
            yield emit(CHUNK_SCHEMA, [r for r in out if r[2] is not None])
    return df.mapInArrow(gen, CHUNK_SCHEMA)


def pack_tensor(a: np.ndarray) -> bytes:
    return np.ascontiguousarray(a, dtype="<f8").tobytes()


@dataclass
class Cube:
    """A data cube: chunk-row DataFrame + spacetime reference + bands + chunking.

    Shape metadata is computed eagerly at plan-construction time (like the
    reference's cube constructors); data stays lazy in the DataFrame lineage,
    which doubles as the serializable plan (Catalyst)."""

    df: DataFrame
    view: CubeView
    bands: List[str]
    chunking: ChunkGrid
    # Narrow-op fusion: df == _build(_chain). _chain holds the map_chunks
    # tensor fns still pending on the cube's source and _build(chain) builds
    # the chunk table with `chain` run inside the source's last UDF, so N
    # chained narrow ops cross the JVM↔Python Arrow boundary ONCE, not N
    # times (the Python-side analogue of whole-stage codegen). None means
    # the default build (_map_chain over df). df itself is always valid.
    _build: Optional[Callable[[tuple], DataFrame]] = field(default=None, repr=False, compare=False)
    _chain: tuple = field(default=(), repr=False, compare=False)
    # select_bands pushdown: the same source over fewer bands (raster_cube)
    _scan_rebuild: Optional[Callable[[List[str]], "Cube"]] = field(default=None, repr=False, compare=False)

    # ------------------------------------------------------------------ meta
    @property
    def shape(self):
        return (len(self.bands), self.view.nt, self.view.ny, self.view.nx)

    def band_index(self, name: str) -> int:
        return self.bands.index(name)

    # ----------------------------------------------------------- chunk plumbing
    def map_chunks(
        self,
        fn: Callable[[np.ndarray, tuple], Optional[np.ndarray]],
        out_view: Optional[CubeView] = None,
        out_bands: Optional[List[str]] = None,
        out_chunking: Optional[ChunkGrid] = None,
    ) -> "Cube":
        """Narrow per-chunk tensor transform (no shuffle): fn(tensor,
        (ict,icy,icx)) → new tensor or None (→ empty chunk elision).
        Output chunk grid must keep the same (ct,cy,cx) chunk coordinates
        unless out_chunking says otherwise.

        Chained narrow ops FUSE: the result is build(chain + (fn,)), with
        build this cube's _build or, without one, one mapInArrow over this
        cube's df. `apply_pixel → filter_pixel → reduce` therefore runs as
        ONE Python UDF (one Arrow round trip, one pack/unpack per chunk) —
        on a raster_cube inside the scan's own build UDF. Legal because
        map_chunks preserves chunk coordinates and dropping an all-NaN
        intermediate equals the missing-chunk ≡ all-NaN invariant the unfused
        plan enforces between stages."""
        build = self._build or functools.partial(_map_chain, self.df)
        chain = self._chain + (fn,)
        return Cube(build(chain), out_view or self.view, list(out_bands or self.bands),
                    out_chunking or self.chunking, _build=build, _chain=chain)

    # ------------------------------------------------------------- long format
    def cells(self, drop_nan: bool = True, band_as_index: bool = False) -> DataFrame:
        """Explode chunk tensors to long format (it, iy, ix, band, value) with
        *global* cell indices. Set-oriented ops and the SQL-oracle comparisons
        run on this form. drop_nan mirrors the reference's convention that
        NaN == absent."""
        bands = list(self.bands)
        g = self.chunking

        schema = CELL_SCHEMA if not band_as_index else T.StructType(
            [
                T.StructField("it", T.IntegerType(), False),
                T.StructField("iy", T.IntegerType(), False),
                T.StructField("ix", T.IntegerType(), False),
                T.StructField("band", T.IntegerType(), False),
                T.StructField("value", T.DoubleType(), True),
            ]
        )

        base_df, chunks = chunk_stream(self)  # fuse any pending narrow chain in here
        arrow = to_arrow_schema(schema)
        band_names = pa.array(bands, pa.string())

        def gen(batches: Iterable[pa.RecordBatch]):
            for b in batches:
                for _, coords, t in chunks(b):
                    (t0, _), (y0, _), (x0, _) = g.chunk_cell_range(*coords)
                    bi, ti, yi, xi = np.unravel_index(np.arange(t.size), t.shape)
                    v = t.ravel()
                    if drop_nan:
                        keep = ~np.isnan(v)
                        bi, ti, yi, xi, v = bi[keep], ti[keep], yi[keep], xi[keep], v[keep]
                    if len(v) == 0:
                        continue
                    band_col = bi.astype("int32") if band_as_index else band_names.take(bi)
                    yield pa.RecordBatch.from_arrays(
                        [(ti + t0).astype("int32"), (yi + y0).astype("int32"), (xi + x0).astype("int32"),
                         band_col, v], schema=arrow)

        return base_df.mapInArrow(gen, schema)

    @staticmethod
    def from_cells(cells_df: DataFrame, view: CubeView, bands: List[str], chunking: ChunkGrid) -> "Cube":
        """Assemble a Cube from a long-format DataFrame (inverse of cells()).
        Cells absent from the input are NaN. Shuffles once on chunk_id."""
        g = chunking
        ncx, ncy = g.ncx, g.ncy
        ct_, cy_, cx_ = g.ct, g.cy, g.cx

        df = cells_df.withColumn("_ict", (F.col("it") / ct_).cast("int")) \
            .withColumn("_icy", (F.col("iy") / cy_).cast("int")) \
            .withColumn("_icx", (F.col("ix") / cx_).cast("int")) \
            .withColumn("chunk_id", (F.col("_ict").cast("long") * (ncy * ncx) + F.col("_icy") * ncx + F.col("_icx")))

        nb = len(bands)
        band_names = pa.array(bands, pa.string())

        def assemble(key, table):
            cid = key[0].as_py()
            coords = g.chunk_coords(cid)
            (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
            t = np.full((nb, t1 - t0, y1 - y0, x1 - x0), np.nan)
            col = {k: table.column(k).to_numpy() for k in ("it", "iy", "ix", "value")}
            bi = pc.index_in(table.column("band"), value_set=band_names).to_numpy()
            t[bi, col["it"] - t0, col["iy"] - y0, col["ix"] - x0] = col["value"]
            return pa.table(emit(CHUNK_SCHEMA, [(cid, coords, t)]))

        out = (pin_group_partitions(df, "chunk_id", chunking.n_chunks)
               .groupBy("chunk_id").applyInArrow(assemble, CHUNK_SCHEMA))
        return Cube(out, view, list(bands), chunking)

    # ---------------------------------------------------------------- collect
    def collect_array(self) -> np.ndarray:
        """Assemble the whole cube on the driver as (nb, nt, ny, nx). Test/
        debug harness only — the distributed path writes chunk tables. A
        chunk whose tensor does not fill its slot exactly (a band count or
        chunk shape that disagrees with the cube's metadata) raises."""
        v, g = self.view, self.chunking
        out = np.full((len(self.bands), v.nt, v.ny, v.nx), np.nan)
        for cid, coords, t in chunk_rows(self.df.toArrow()):
            (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(*coords)
            slot = out[:, t0:t1, y0:y1, x0:x1]
            if t.shape != slot.shape:
                raise ValueError(f"chunk {cid} at {coords} has shape {t.shape}, but its slot in a cube "
                                 f"with bands {self.bands} is {slot.shape}")
            slot[...] = t
        return out

    # ------------------------------------------------------------ persistence
    def write_parquet(self, path: str, mode: str = "overwrite", packing=None,
                      format: str = "parquet", strict: bool = False) -> None:
        """Materialize the chunk table (the ncdf/Iceberg sink analogue,
        cube.cpp:617+). Re-open with read_parquet_cube().

        packing: a gdalcubes_spark.packing.Packing (or type string like
        "uint8") — values are stored as scaled/offset small integers
        (cube.h:52-96); read_parquet_cube auto-unpacks (ncdf auto_unpack).
        format: "parquet" (default) or "iceberg" — with a configured Iceberg
        catalog the chunk table is written through it (same columns,
        partitioned by ct); in this sandbox (no catalog jar) the writer
        transparently falls back to plain parquet. iceberg_ddl() returns the
        equivalent CREATE TABLE for cluster-side provisioning."""
        from gdalcubes_spark.packing import Packing
        if isinstance(packing, str):
            packing = Packing(type=packing)
        pk = packing or Packing()
        meta = dict(view=self.view.to_json(), bands=",".join(self.bands),
                    ct=str(self.chunking.ct), cy=str(self.chunking.cy), cx=str(self.chunking.cx),
                    pack=pk.to_json())
        df = self.df
        if pk.type != "none":
            # packed payloads are Packing's format, not the float64 wire format
            def repack(batches: Iterable[pa.RecordBatch]):
                for b in batches:
                    packed = pa.array([pk.pack(t) for _, _, t in chunk_rows(b)], pa.binary())
                    yield b.set_column(b.schema.get_field_index("data"), "data", packed)
            df = df.mapInArrow(repack, CHUNK_SCHEMA)
        for k, val in meta.items():
            df = df.withColumn(f"_meta_{k}", F.lit(val))
        if format == "iceberg":
            import re as _re
            tbl = _re.sub(r"[^A-Za-z0-9_]", "_", path.strip("/"))
            if tbl[:1].isdigit():
                tbl = f"t_{tbl}"
            # POSITIVE capability probe, not exception-message matching:
            # catalog absence is knowable before the write (is the
            # 'gdalcubes' v2 catalog configured in this session?), and
            # exception substrings vary across Spark/Iceberg versions — a
            # genuine write failure mentioning the catalog name must never
            # be silently downgraded to parquet.
            try:
                catalog_conf = df.sparkSession.conf.get("spark.sql.catalog.gdalcubes")
            except Exception:
                catalog_conf = None
            if catalog_conf:
                # catalog configured → any failure from here is real
                df.writeTo(f"gdalcubes.{tbl}") \
                  .partitionedBy(F.col("ct")).createOrReplace()
                return
            # catalog NOT configured (this sandbox: no Iceberg jar/conf).
            # strict=True refuses the downgrade — set it on any cluster
            # that is supposed to have a catalog.
            if strict:
                raise RuntimeError(
                    "Iceberg catalog 'gdalcubes' is not configured "
                    "(spark.sql.catalog.gdalcubes unset) and strict=True — "
                    "refusing the parquet downgrade")
            import warnings
            warnings.warn(
                f"Iceberg catalog 'gdalcubes' not configured; writing plain "
                f"parquet to {path} instead (pass strict=True to fail)",
                stacklevel=2)
        df.write.mode(mode).parquet(path)

    def write_bucketed_table(self, table: str, buckets: int = 32, mode: str = "overwrite") -> None:
        """Bucketed chunk-table sink: the table is pre-hash-partitioned by
        chunk_id (bucketBy + sortBy), so every later equi-join or groupBy on
        chunk_id over it — join_bands of two materialized cubes, checkpoint
        diffs, chunk-keyed UDF stages — runs with NO Exchange: Catalyst reads
        the bucket spec and reuses the on-disk hash distribution. This is the
        Spark analogue of Iceberg's bucket(chunk_id) partition transform and
        the co-location story for 100 TB cube⋈cube work."""
        meta = dict(view=self.view.to_json(), bands=",".join(self.bands),
                    ct=str(self.chunking.ct), cy=str(self.chunking.cy), cx=str(self.chunking.cx))
        df = self.df
        for k, val in meta.items():
            df = df.withColumn(f"_meta_{k}", F.lit(val))
        spark = df.sparkSession
        if mode == "overwrite":
            # a crashed/foreign session can leave the location on disk with no
            # metastore entry; saveAsTable then fails with
            # LOCATION_ALREADY_EXISTS — clear both halves first. Resolve the
            # location from the CATALOG when the table exists (the metastore
            # is authoritative, e.g. for externally-located tables); only for
            # a truly orphaned location fall back to Spark's layout
            # convention, which for database-qualified names is
            # <warehouse>/<db>.db/<table>, not <warehouse>/<table>.
            loc = None
            try:
                if spark.catalog.tableExists(table):
                    for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
                        if row["col_name"] == "Location":
                            loc = row["data_type"]
                            break
            except Exception:
                loc = None
            spark.sql(f"DROP TABLE IF EXISTS {table}")
            if loc is None:
                wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").removeprefix("file:")
                parts = [p for p in table.lower().split(".") if p != "spark_catalog"]
                if len(parts) >= 2 and parts[-2] != "default":
                    loc = f"{wh}/{parts[-2]}.db/{parts[-1]}"
                else:
                    loc = f"{wh}/{parts[-1]}"
            import shutil
            shutil.rmtree(loc.removeprefix("file:"), ignore_errors=True)
        (df.write.format("parquet").mode(mode)
         .bucketBy(buckets, "chunk_id").sortBy("chunk_id")
         .saveAsTable(table))

    def iceberg_ddl(self, table: str = "gdalcubes.chunks") -> str:
        """The Iceberg CREATE TABLE matching write_parquet's layout —
        partitioned by ct (time-slab pruning, the analogue of the chunk-id
        filter) with identity spec on the chunk coords."""
        cols = ",\n  ".join(f"{f.name} {'BIGINT' if isinstance(f.dataType, T.LongType) else 'INT' if isinstance(f.dataType, T.IntegerType) else 'BINARY'}"
                            for f in CHUNK_SCHEMA.fields)
        return (f"CREATE TABLE {table} (\n  {cols},\n"
                "  _meta_view STRING, _meta_bands STRING, _meta_ct STRING,\n"
                "  _meta_cy STRING, _meta_cx STRING, _meta_pack STRING\n"
                ") USING iceberg\nPARTITIONED BY (ct)\n"
                "TBLPROPERTIES ('write.target-file-size-bytes'='134217728')")

    def _write_slices(self, path: str, bsel: List[int], ext: str,
                      encode: Callable[[np.ndarray], bytes]) -> DataFrame:
        """One file per time slice (cube.cpp:292-615): each slice's
        (len(bsel), ny, nx) plane is assembled by ONE task (groupBy ct — the
        reference writer's one-file-per-slice bound) and encode(plane) goes
        to `path`/slice_<it>_<label>.<ext>. Executors write to `path`
        directly — use shared storage on a real cluster. Returns
        DataFrame(it, file, bytes_written)."""
        import os as _os

        v, g = self.view, self.chunking
        labels = [d.to_string().replace(":", "-") for d in v.time_labels()]
        _os.makedirs(path, exist_ok=True)

        def write_slice(key, table):
            (t0, t1), _, _ = g.chunk_cell_range(key[0].as_py(), 0, 0)
            parts = [(g.chunk_cell_range(*coords), t[bsel]) for _, coords, t in chunk_rows(table)]
            rows = []
            for lt in range(t1 - t0):
                plane = np.full((len(bsel), v.ny, v.nx), np.nan)
                for (_, (y0, y1), (x0, x1)), t in parts:
                    plane[:, y0:y1, x0:x1] = t[:, lt]
                data = encode(plane)
                it = t0 + lt
                fn = f"{path}/slice_{it:05d}_{labels[it]}.{ext}"
                with open(fn, "wb") as fh:
                    fh.write(data)
                rows.append((it, fn, len(data)))
            return pa.table(emit(_SLICE_FILES_SCHEMA, rows))

        return self.df.groupBy("ct").applyInArrow(write_slice, _SLICE_FILES_SCHEMA)

    def write_png_slices(self, path: str, band=None, vmin: float = None,
                         vmax: float = None) -> "DataFrame":
        """write_tif analogue (cube.cpp:292-615): one image file per time
        slice, scaled to uint8 via [vmin, vmax] and encoded with the in-repo
        PNG codec (NaN → 0). Returns a DataFrame(it, file, bytes_written) of
        what was written (see _write_slices)."""
        from gdalcubes_spark import codecs as _codecs

        bands = list(self.bands)
        bsel = [bands.index(band)] if isinstance(band, str) else (
            [bands.index(b) for b in band] if band is not None else list(range(min(len(bands), 3))))
        if len(bsel) == 2 or len(bsel) > 3:
            raise ValueError("PNG export needs 1 (grey) or 3 (RGB) bands")
        lo = 0.0 if vmin is None else float(vmin)
        hi = 255.0 if vmax is None else float(vmax)

        def encode(plane: np.ndarray) -> bytes:
            scaled = np.clip((plane - lo) / max(hi - lo, 1e-12) * 255.0, 0, 255)
            return _codecs.encode(np.where(np.isnan(scaled), 0, scaled).astype(np.uint8), "png")

        return self._write_slices(path, bsel, "png", encode)

    def write_tif(self, path: str, band=None, dtype: str = "float32",
                  nodata: float = -9999.0, tile: int = 256,
                  compress: str = "deflate", overviews: bool = True,
                  packing=None) -> "DataFrame":
        """write_tif / COG export (cube.cpp:292-615 `write_tif_collection`,
        COG=TRUE path): one Cloud-Optimized GeoTIFF per time slice, REAL
        GeoTIFF bytes from the in-repo pure-numpy codec (tiffcodec.py) —
        tiled Deflate, factor-2 overview pyramid, ModelPixelScale/Tiepoint +
        EPSG GeoKeys from the cube view, GDAL_NODATA. NaN cells become
        `nodata` (the reference writes its per-band no_data the same way).

        `packing` mirrors the reference's pack_minmax export (cube.h:52-96):
        a gdalcubes_spark.packing spec → integer bytes with scale/offset
        applied BEFORE the dtype cast. Like the reference's writer, each
        slice is assembled by one task (see _write_slices). Returns
        DataFrame(it, file, bytes_written)."""
        from gdalcubes_spark import tiffcodec as _tc

        if packing is not None and (packing.type == "none" or
                                    packing.nodata is None or np.isnan(packing.nodata)):
            raise ValueError("write_tif packing needs an integer type with a "
                             "finite nodata code (GeoTIFF carries it in GDAL_NODATA)")
        v, bands = self.view, list(self.bands)
        bsel = [bands.index(band)] if isinstance(band, str) else (
            [bands.index(b) for b in band] if band is not None else list(range(len(bands))))
        epsg = None
        if isinstance(v.srs, str) and v.srs.upper().startswith("EPSG:"):
            epsg = int(v.srs.split(":")[1])
        left, top, dx, dy = v.left, v.top, v.dx, v.dy
        nd = float(nodata)
        # snap tile dim to the slice size (multiple of 16) so small cubes
        # don't pad a 40x40 slice out to a 256x256 tile
        tile = min(tile, max(16, -(-max(v.ny, v.nx) // 16) * 16))

        def encode(plane: np.ndarray) -> bytes:
            if packing is not None:
                a = np.frombuffer(packing.pack(plane), dtype=packing.dtype
                                  ).reshape(plane.shape).copy()
                slice_nd = float(packing.nodata)
            else:
                a = np.where(np.isnan(plane), nd, plane).astype(dtype)
                slice_nd = nd
            # floats get the TechNote-3 byte-split predictor under
            # deflate (what GDAL writes for float COGs — ~30% smaller
            # on smooth fields); integers keep the auto predictor 2
            pred = 3 if (compress == "deflate"
                         and np.issubdtype(a.dtype, np.floating)) else None
            return _tc.encode_geotiff(
                a, tile=tile, compress=compress, overviews=overviews,
                predictor=pred, nodata=slice_nd,
                left=left, top=top, dx=dx, dy=dy, epsg=epsg)

        return self._write_slices(path, bsel, "tif", encode)

    # operator API (implemented in gdalcubes_spark.operators.*; thin wrappers
    # so pipelines read like the reference's R verb chains)
    def select_bands(self, bands: Sequence[str]) -> "Cube":
        from gdalcubes_spark.operators.select import select_bands
        return select_bands(self, bands)

    def rename_bands(self, mapping: dict) -> "Cube":
        from gdalcubes_spark.operators.select import rename_bands
        return rename_bands(self, mapping)

    def apply_pixel(self, exprs, names=None, keep_bands: bool = False) -> "Cube":
        from gdalcubes_spark.operators.apply_pixel import apply_pixel
        return apply_pixel(self, exprs, names, keep_bands)

    def filter_pixel(self, predicate: str) -> "Cube":
        from gdalcubes_spark.operators.apply_pixel import filter_pixel
        return filter_pixel(self, predicate)

    def reduce_time(self, *reducers, names=None) -> "Cube":
        from gdalcubes_spark.operators.reduce import reduce_time
        return reduce_time(self, list(reducers), names)

    def reduce_space(self, *reducers, names=None) -> "Cube":
        from gdalcubes_spark.operators.reduce import reduce_space
        return reduce_space(self, list(reducers), names)

    def aggregate_time(self, dt: Optional[str] = None, fact: Optional[int] = None, method: str = "mean") -> "Cube":
        from gdalcubes_spark.operators.aggregate import aggregate_time
        return aggregate_time(self, dt=dt, fact=fact, method=method)

    def aggregate_space(self, dx: Optional[float] = None, dy: Optional[float] = None,
                        fact: Optional[int] = None, method: str = "mean") -> "Cube":
        from gdalcubes_spark.operators.aggregate import aggregate_space
        return aggregate_space(self, dx=dx, dy=dy, fact=fact, method=method)

    def slice_time(self, t=None, it: Optional[int] = None) -> "Cube":
        from gdalcubes_spark.operators.select import slice_time
        return slice_time(self, t=t, it=it)

    def slice_space(self, x: Optional[float] = None, y: Optional[float] = None,
                    ix: Optional[int] = None, iy: Optional[int] = None) -> "Cube":
        from gdalcubes_spark.operators.select import slice_space
        return slice_space(self, x=x, y=y, ix=ix, iy=iy)

    def select_time(self, datetimes) -> "Cube":
        from gdalcubes_spark.operators.select import select_time
        return select_time(self, datetimes)

    def crop_indices(self, ix0: int = 0, ix1=None, iy0: int = 0, iy1=None,
                     it0: int = 0, it1=None) -> "Cube":
        from gdalcubes_spark.operators.select import crop_indices
        return crop_indices(self, ix0=ix0, ix1=ix1, iy0=iy0, iy1=iy1, it0=it0, it1=it1)

    def crop(self, left=None, right=None, bottom=None, top=None, t0=None, t1=None, snap: str = "near") -> "Cube":
        from gdalcubes_spark.operators.select import crop
        return crop(self, left=left, right=right, bottom=bottom, top=top, t0=t0, t1=t1, snap=snap)

    def window_time(self, window, reducer: Optional[str] = None, kernel=None) -> "Cube":
        from gdalcubes_spark.operators.window import window_time
        return window_time(self, window, reducer=reducer, kernel=kernel)

    def window_space(self, reducer: Optional[str] = None, kernel=None, window=None, pad: str = "none",
                     pad_value: float = 0.0) -> "Cube":
        from gdalcubes_spark.operators.window import window_space
        return window_space(self, reducer=reducer, kernel=kernel, window=window, pad=pad, pad_value=pad_value)

    def fill_time(self, method: str = "linear") -> "Cube":
        from gdalcubes_spark.operators.window import fill_time
        return fill_time(self, method)

    def join_bands(self, *others: "Cube", prefixes=None) -> "Cube":
        from gdalcubes_spark.operators.join_bands import join_bands
        return join_bands([self, *others], prefixes=prefixes)

    def filter_geom(self, wkt: str) -> "Cube":
        from gdalcubes_spark.operators.filter_geom import filter_geom
        return filter_geom(self, wkt)

    def extract_geom(self, features: DataFrame, time_column: Optional[str] = None) -> DataFrame:
        from gdalcubes_spark.operators.extract_geom import extract_geom
        return extract_geom(self, features, time_column=time_column)

    def apply_time(self, fn, names=None) -> "Cube":
        from gdalcubes_spark.operators.stream import apply_time
        return apply_time(self, fn, names)

    def chunk_apply(self, fn, names=None) -> "Cube":
        from gdalcubes_spark.operators.stream import chunk_apply
        return chunk_apply(self, fn, names)

    def predict(self, model, output_names=None, keep_bands: bool = False) -> "Cube":
        from gdalcubes_spark.operators.stream import predict
        return predict(self, model, output_names, keep_bands)

    def __getitem__(self, key) -> "Cube":
        """`cube[bands, t, iy, ix]` selection sugar (R `[.cube`,
        R/selection.R:82): band name(s), time index/datetime/slice, and
        pixel index scalars/slices compose select_bands / slice_* / crop."""
        if not isinstance(key, tuple):
            key = (key,)
        bands, t, y, x = (list(key) + [None] * 4)[:4]
        c = self
        if bands is not None:
            c = c.select_bands([bands] if isinstance(bands, str) else list(bands))
        if isinstance(t, int):
            c = c.slice_time(it=t)
        elif isinstance(t, str):
            c = c.slice_time(t=t)
        elif isinstance(t, slice) and (t.start is not None or t.stop is not None):
            c = c.crop(t0=t.start, t1=t.stop)
        if isinstance(y, int) and isinstance(x, int):
            c = c.slice_space(iy=y, ix=x)
        elif isinstance(y, slice) or isinstance(x, slice):
            v = c.view
            kw = {}
            if isinstance(x, slice):
                kw["left"] = v.left + (x.start or 0) * v.dx
                kw["right"] = v.left + (x.stop if x.stop is not None else v.nx) * v.dx
            if isinstance(y, slice):
                kw["top"] = v.top - (y.start or 0) * v.dy
                kw["bottom"] = v.top - (y.stop if y.stop is not None else v.ny) * v.dy
            c = c.crop(**kw)
        return c


# ---------------------------------------------------------------- sources


def dummy_cube(spark: SparkSession, view: CubeView, nbands: int = 1, fill: float = 1.0,
               chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """Constant-fill synthetic cube (reference dummy.cpp:29-60) — the backbone
    of every golden test. Distributed: one task per ~few chunks."""
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nbands)]
    n = g.n_chunks
    parts = min(n, max(1, spark.sparkContext.defaultParallelism))
    base = spark.range(0, n, numPartitions=parts).withColumnRenamed("id", "chunk_id")

    def gen(batches: Iterable[pa.RecordBatch]):
        for b in batches:
            rows = []
            for cid in b.column("chunk_id").to_pylist():
                coords = g.chunk_coords(cid)
                rows.append((cid, coords, np.full((nbands,) + g.chunk_shape(*coords), float(fill))))
            yield emit(CHUNK_SCHEMA, rows)

    return Cube(base.mapInArrow(gen, CHUNK_SCHEMA), view, bands, g)


def empty_cube(spark: SparkSession, view: CubeView, nbands: int = 1,
               chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """All-NaN cube: zero chunk rows (empty-chunk elision makes this free)."""
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nbands)]
    return Cube(spark.createDataFrame([], CHUNK_SCHEMA), view, bands, g)


def cube_from_array(spark: SparkSession, arr: np.ndarray, view: CubeView,
                    chunking: Optional[ChunkGrid] = None, band_names: Optional[List[str]] = None) -> Cube:
    """Driver-side numpy (nb,nt,ny,nx) → distributed Cube. Test harness."""
    nb, nt, ny, nx = arr.shape
    assert (nt, ny, nx) == (view.nt, view.ny, view.nx), f"{arr.shape} vs view {(view.nt, view.ny, view.nx)}"
    g = chunking or default_chunking(view)
    bands = band_names or [f"band{i + 1}" for i in range(nb)]
    rows = []
    for cid in range(g.n_chunks):
        ict, icy, icx = g.chunk_coords(cid)
        (t0, t1), (y0, y1), (x0, x1) = g.chunk_cell_range(ict, icy, icx)
        t = arr[:, t0:t1, y0:y1, x0:x1]
        if not np.all(np.isnan(t)):
            rows.append((cid, (ict, icy, icx), t))
    return Cube(spark.createDataFrame(pa.table(emit(CHUNK_SCHEMA, rows)), CHUNK_SCHEMA), view, bands, g)


def read_bucketed_cube(spark: SparkSession, table: str) -> Cube:
    """Open a bucketed chunk table written by write_bucketed_table — the
    DataFrame carries the bucket spec, so chunk_id joins/groupBys over it are
    Exchange-free."""
    df = spark.table(table)
    meta = df.select("_meta_view", "_meta_bands", "_meta_ct", "_meta_cy", "_meta_cx").first()
    view = CubeView.from_json(meta["_meta_view"])
    bands = meta["_meta_bands"].split(",")
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=int(meta["_meta_ct"]),
                  cy=int(meta["_meta_cy"]), cx=int(meta["_meta_cx"]))
    return Cube(df.select([f.name for f in CHUNK_SCHEMA.fields]), view, bands, g)


def read_parquet_cube(spark: SparkSession, path: str) -> Cube:
    """Re-open a materialized chunk table (ncdf_cube analogue, ncdf_cube.h:48).
    Packed tables (write_parquet(packing=...)) are auto-unpacked to float64
    (ncdf auto_unpack)."""
    from gdalcubes_spark.packing import Packing

    df = spark.read.parquet(path)
    cols = set(df.columns)
    sel = ["_meta_view", "_meta_bands", "_meta_ct", "_meta_cy", "_meta_cx"] + (
        ["_meta_pack"] if "_meta_pack" in cols else [])
    meta = df.select(sel).first()
    view = CubeView.from_json(meta["_meta_view"])
    bands = meta["_meta_bands"].split(",")
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=int(meta["_meta_ct"]),
                  cy=int(meta["_meta_cy"]), cx=int(meta["_meta_cx"]))
    out = df.select([f.name for f in CHUNK_SCHEMA.fields])
    pk = Packing.from_json(meta["_meta_pack"]) if "_meta_pack" in cols else Packing()
    if pk.type != "none":
        # packed payloads are Packing's format: read them column-wise, not
        # through chunk_rows (which reads the float64 wire format)
        def unpack(batches: Iterable[pa.RecordBatch]):
            for b in batches:
                cols = [b.column(f.name).to_pylist() for f in CHUNK_SCHEMA.fields]
                yield emit(CHUNK_SCHEMA, [(cid, (ct, cy, cx), pk.unpack(data, (nb, nt, ny, nx)))
                                          for cid, ct, cy, cx, nb, nt, ny, nx, data in zip(*cols)])
        out = out.mapInArrow(unpack, CHUNK_SCHEMA)
    return Cube(out, view, bands, g)
