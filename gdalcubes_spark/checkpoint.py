"""Checkpoint / lineage / resume — the north rule's resilience layer, which
the reference lacks entirely (its multiprocess failure story is
"kill everything", multiprocess.cpp:178-191).

A checkpoint is two artefacts under one root, both written and read through
the root's Hadoop FileSystem (_fs):
- chunks/         the chunk table (parquet; Iceberg-compatible layout), one
                  row per committed chunk: its CHUNK_SCHEMA columns plus its
                  metrics (the partition that wrote it, n_cells, n_nan, bytes,
                  wall_ms, written_at). The metrics view is
                  spark.read.parquet(f"{path}/chunks").drop("data").
- _lineage.json   the cube's view JSON, bands, chunking and plan string,
                  written BEFORE chunks/, so every chunk table has one.

Every commit is ONE Spark job (_commit): a mapInArrow appends each chunk's
metrics columns to the batch it forwards to the chunks/ writer. Spark's file
commit protocol keeps one attempt's file per task, so a re-run task never
records a chunk twice.

resume(): refuse a cube whose view, bands or chunking differ from the
lineage's, then recompute ONLY the chunk ids missing from chunks/ (a
left-anti join on chunk_id) and append them through the same commit pass:
exact resume after executor or job loss.
"""

from __future__ import annotations

import json
import time
from contextlib import closing
from typing import Iterable

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, emit
from gdalcubes_spark.grid import ChunkGrid, CubeView

_METRICS = T.StructType([
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("n_cells", T.LongType(), False),
    T.StructField("n_nan", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
    T.StructField("wall_ms", T.DoubleType(), False),
    T.StructField("written_at", T.DoubleType(), False),
])
_SCHEMA = T.StructType(CHUNK_SCHEMA.fields + _METRICS.fields)


def _commit(df, path: str, mode: str) -> int:
    """Write `df`'s chunk rows plus their metrics columns to `path`/chunks in
    ONE Spark job; returns the number of chunks committed. wall_ms is the
    batch's wait since the previous yield plus its NaN count, per chunk."""
    # Exact: the mapInArrow is in the write job's result stage (above its last
    # exchange), and Spark applies a result task's accumulator updates once per
    # partition, never from a failed attempt (DAGScheduler.handleTaskCompletion).
    n = df.sparkSession.sparkContext.accumulator(0)
    arrow = to_arrow_schema(_SCHEMA)

    def commit(batches: Iterable[pa.RecordBatch]):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        t0 = time.perf_counter()
        for b in batches:
            ts = [t for _, _, t in chunk_rows(b)]
            ms = (time.perf_counter() - t0) * 1000.0 / max(len(ts), 1)
            now = time.time()
            m = emit(_METRICS, [(pid, t.size, int(np.isnan(t).sum()), t.nbytes, ms, now) for t in ts])
            n.add(len(ts))
            yield pa.RecordBatch.from_arrays(b.columns + m.columns, schema=arrow)
            t0 = time.perf_counter()

    df.select(CHUNK_SCHEMA.fieldNames()).mapInArrow(commit, _SCHEMA).write.mode(mode).parquet(f"{path}/chunks")
    return n.value


def _lineage(cube: Cube) -> dict:
    """The fields of _lineage.json that resume() checks."""
    ck = cube.chunking
    return dict(view=cube.view.to_json(), bands=list(cube.bands), chunking=dict(ct=ck.ct, cy=ck.cy, cx=ck.cx))


def write_checkpoint(cube: Cube, path: str, mode: str = "overwrite") -> None:
    """Materialize cube + per-chunk lineage/metrics (one Spark job)."""
    fs, p = _fs(cube.df.sparkSession, f"{path}/_lineage.json")
    lineage = dict(_lineage(cube),
                   plan="\n".join(cube.df._jdf.queryExecution().simpleString().splitlines()[:50]),
                   created=time.time())
    with closing(fs.create(p, True)) as out:
        out.write(json.dumps(lineage, indent=2).encode())
    _commit(cube.df, path, mode)


def _read_lineage(spark: SparkSession, path: str) -> dict:
    fs, p = _fs(spark, f"{path}/_lineage.json")
    with closing(fs.open(p)) as stream:
        return json.loads(bytes(stream.readAllBytes()))


def read_checkpoint(spark: SparkSession, path: str) -> Cube:
    """Re-open a checkpointed cube (the ncdf_cube analogue over our sink)."""
    lin = _read_lineage(spark, path)
    view = CubeView.from_json(lin["view"])
    ck = lin["chunking"]
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=ck["ct"], cy=ck["cy"], cx=ck["cx"])
    return Cube(spark.read.schema(CHUNK_SCHEMA).parquet(f"{path}/chunks"), view, list(lin["bands"]), g)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path`: s3a://, hdfs:// and file: URIs
    resolve where the executing cluster sees them. A driver-local check would
    miss a remote checkpoint and let resume() overwrite committed chunks."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def resume(cube: Cube, path: str) -> int:
    """Compute + append only the chunks NOT already committed at `path`
    (exact resume after job loss). Returns the number of chunks appended:
    -1 for a fresh full write, 0 when the checkpoint was complete.

    Raises ValueError, naming the field, when the cube's view, bands or
    chunking differ from the lineage's, or when chunks/ has no lineage. A
    changed operator chain or changed values over the same grid pass: a plan
    fingerprint is not stable across core counts (pin_group_partitions bakes
    defaultParallelism into the plan), so it would refuse a legitimate
    resume on fewer executors."""
    spark = cube.df.sparkSession
    fs, chunks = _fs(spark, f"{path}/chunks")
    # A fresh full write ONLY when no chunk was ever committed (the lineage is
    # written first and may exist alone); a storage or permission error must
    # propagate, not discard committed chunks.
    if not fs.exists(chunks):
        write_checkpoint(cube, path, mode="overwrite")
        return -1
    if not _fs_exists(spark, f"{path}/_lineage.json"):
        raise ValueError(f"resume: {path}/chunks has no _lineage.json beside it; cannot tell what it holds")
    stored = _read_lineage(spark, path)
    for field, want in _lineage(cube).items():
        if stored[field] != want:
            raise ValueError(f"resume: the cube's {field} {want} differs from the checkpoint's "
                             f"{stored[field]} at {path}")
    before = {st.getPath().toString() for st in fs.listStatus(chunks)}
    # a known schema: no inference job, and a chunks/ that holds no part file
    # (a job lost before its commit) reads as empty instead of failing
    done = spark.read.schema(T.StructType([CHUNK_SCHEMA["chunk_id"]])).parquet(f"{path}/chunks")
    n = _commit(cube.df.join(done, "chunk_id", "left_anti"), path, "append")
    if n == 0:
        # Spark writes write-task 0's part file even when it has no rows;
        # drop it so repeated resumes of a complete checkpoint add no files.
        for st in fs.listStatus(chunks):
            if st.getPath().toString() not in before:
                fs.delete(st.getPath(), False)
    return n
