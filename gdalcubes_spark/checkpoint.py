"""Checkpoint / lineage / resume — the north rule's resilience layer, which
the reference lacks entirely (its multiprocess failure story is
"kill everything", multiprocess.cpp:178-191).

A checkpointed materialization writes three things under one root:
- chunks/     the chunk-tensor table (parquet; Iceberg-compatible layout —
              swap the writer format on a cluster with an Iceberg catalog)
- metrics/    one row per committed chunk: chunk_id, the partition that
              wrote it, n_cells, n_nan, bytes, wall_ms, written_at — the
              per-chunk lineage+metrics record the north rule asks for
- _lineage.json   the cube's constructible plan (view JSON, bands, chunking,
              lineage string of the DataFrame plan)

Every commit is ONE Python pass over the chunk rows (_commit): a mapInArrow
forwards the rows to the chunks/ writer and reports each chunk's metrics row
to the driver through an accumulator; the driver writes metrics/ from that
local frame. Nothing is persisted, counted or recomputed, so each commit pays
one wave of Python tasks. The price is driver-side: the metrics rows (about
60 bytes each) travel through the scheduler's accumulator merges and sit in
driver memory as one pandas frame, so commit cost on the driver grows with
the number of chunks committed — fine at 10^5 chunks, not at 10^9 (see the
ROADMAP item on a distributed metrics write).

resume(): recompute ONLY the chunk ids missing from the checkpoint (a
left-anti join on chunk_id) and append them through the same commit pass.
Combined with Spark's native task retry this gives exact
resume-after-executor-loss: a re-submitted job skips every committed chunk.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import AccumulatorParam, TaskContext
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows
from gdalcubes_spark.grid import ChunkGrid, CubeView

_METRIC_SCHEMA = T.StructType([
    T.StructField("chunk_id", T.LongType(), False),
    T.StructField("partition_id", T.IntegerType(), False),
    T.StructField("n_cells", T.LongType(), False),
    T.StructField("n_nan", T.LongType(), False),
    T.StructField("bytes", T.LongType(), False),
    T.StructField("wall_ms", T.DoubleType(), False),
    T.StructField("written_at", T.DoubleType(), False),
])


class _RowsParam(AccumulatorParam):
    """Accumulator of metric-row tuples: tasks append, the driver reads."""

    def zero(self, value):
        return []

    def addInPlace(self, a, b):
        a.extend(b)
        return a


def _commit(df, path: str, mode: str) -> int:
    """Write `df`'s chunk rows to `path`/chunks in ONE Python pass and their
    metrics rows to `path`/metrics; returns the number of chunks committed.

    The pass forwards each Arrow batch unchanged and reports one metrics row
    per chunk through an accumulator. wall_ms is the batch's wait since the
    previous yield (the upstream work that produced it) plus the NaN count,
    split evenly over its chunks. A re-run task reports again, so the driver
    keeps the latest row per chunk_id, then writes metrics/ from a local
    frame (no Python worker, no second pass over the chunks). Driver memory
    and accumulator-merge time are O(chunks committed)."""
    spark = df.sparkSession
    acc = spark.sparkContext.accumulator([], _RowsParam())

    def commit(batches: Iterable[pa.RecordBatch]):
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else -1
        t0 = time.perf_counter()
        for b in batches:
            rows = [(cid, pid, t.size, int(np.isnan(t).sum()), t.nbytes) for cid, _, t in chunk_rows(b)]
            ms = (time.perf_counter() - t0) * 1000.0 / max(len(rows), 1)
            now = time.time()
            acc.add([r + (ms, now) for r in rows])
            yield b
            t0 = time.perf_counter()

    chunk_cols = [f.name for f in CHUNK_SCHEMA.fields]
    df.select(chunk_cols).mapInArrow(commit, CHUNK_SCHEMA).write.mode(mode).parquet(f"{path}/chunks")
    m = (pd.DataFrame(acc.value, columns=_METRIC_SCHEMA.fieldNames())
         .sort_values("written_at", kind="stable").drop_duplicates("chunk_id", keep="last"))
    acc.value = []  # the driver's accumulator registry keeps `acc` alive
    if len(m) or mode == "overwrite":
        spark.createDataFrame(m, _METRIC_SCHEMA).write.mode(mode).parquet(f"{path}/metrics")
    return len(m)


def write_checkpoint(cube: Cube, path: str, mode: str = "overwrite") -> None:
    """Materialize cube + per-chunk lineage/metrics (one Python pass)."""
    _commit(cube.df, path, mode)
    lineage = dict(view=cube.view.to_json(), bands=cube.bands,
                   chunking=dict(ct=cube.chunking.ct, cy=cube.chunking.cy, cx=cube.chunking.cx),
                   plan="\n".join(cube.df._jdf.queryExecution().simpleString().splitlines()[:50]),
                   created=time.time())
    os.makedirs(path, exist_ok=True)
    with open(f"{path}/_lineage.json", "w") as f:
        json.dump(lineage, f, indent=2)


def read_checkpoint(spark: SparkSession, path: str) -> Cube:
    """Re-open a checkpointed cube (the ncdf_cube analogue over our sink)."""
    with open(f"{path}/_lineage.json") as f:
        lin = json.load(f)
    view = CubeView.from_json(lin["view"])
    ck = lin["chunking"]
    g = ChunkGrid(nt=view.nt, ny=view.ny, nx=view.nx, ct=ck["ct"], cy=ck["cy"], cx=ck["cx"])
    df = spark.read.parquet(f"{path}/chunks")
    return Cube(df.select([f.name for f in CHUNK_SCHEMA.fields]), view, list(lin["bands"]), g)


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for `path`, so s3a://, hdfs:// and file: URIs
    all resolve against the filesystem the EXECUTING cluster sees — a
    driver-local os.path.exists would report a remote checkpoint as absent
    and let resume() silently overwrite committed chunks."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def resume(cube: Cube, path: str) -> int:
    """Compute + append only the chunks NOT already committed at `path`
    (exact resume after job loss). Returns the number of chunks appended:
    -1 for a fresh full write, 0 when the checkpoint was complete."""
    spark = cube.df.sparkSession
    # Fall back to a fresh full write ONLY when the checkpoint genuinely does
    # not exist; a transient read error (storage/permission) must propagate
    # instead of silently discarding previously committed chunks.
    if not _fs_exists(spark, f"{path}/_lineage.json") and not _fs_exists(spark, f"{path}/chunks"):
        write_checkpoint(cube, path, mode="overwrite")
        return -1
    fs, chunks = _fs(spark, f"{path}/chunks")
    before = {st.getPath().toString() for st in fs.listStatus(chunks)}
    done = spark.read.parquet(f"{path}/chunks").select("chunk_id")
    n = _commit(cube.df.join(done, "chunk_id", "left_anti"), path, "append")
    if n == 0:
        # Spark writes write-task 0's part file even when it has no rows;
        # drop it so repeated resumes of a complete checkpoint add no files.
        for st in fs.listStatus(chunks):
            if st.getPath().toString() not in before:
                fs.delete(st.getPath(), False)
    return n
