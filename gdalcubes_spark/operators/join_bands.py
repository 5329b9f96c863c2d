"""join_bands: N-ary band concatenation of cubes with identical shape/chunking.

Reference: join_bands.h:56-186 — strict st_ref equality check (:85-107),
band-name prefixes on conflict (:118-147). Coverage gaps are NaN.

Spark shape: a full outer equi-join on chunk_id. Shapes are guaranteed equal
⇒ no skew; Catalyst picks sort-merge or shuffled hash; with identical
upstream partitioning the exchange is often reused.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from gdalcubes_spark.cube import CHUNK_SCHEMA, Cube, chunk_rows, emit


def join_bands(cubes: Sequence[Cube], prefixes: Optional[Sequence[str]] = None) -> Cube:
    if len(cubes) < 2:
        raise ValueError("join_bands needs >= 2 cubes")
    v0, g0 = cubes[0].view, cubes[0].chunking
    for c in cubes[1:]:
        same = (c.view.nx == v0.nx and c.view.ny == v0.ny and c.view.nt == v0.nt
                and abs(c.view.left - v0.left) < 1e-9 and abs(c.view.top - v0.top) < 1e-9
                and c.view.dt == v0.dt and (c.view.t0 - v0.t0).n == 0
                and (c.chunking.ct, c.chunking.cy, c.chunking.cx) == (g0.ct, g0.cy, g0.cx))
        if not same:
            raise ValueError("join_bands requires identical shape, st_ref and chunking (join_bands.h:85-107)")
    # band naming: prefix on conflict (or always, when prefixes given)
    counts = {}
    for c in cubes:
        for b in c.bands:
            counts[b] = counts.get(b, 0) + 1
    out_bands = []
    for i, c in enumerate(cubes):
        pre = (prefixes[i] if prefixes else f"X{i + 1}")
        for b in c.bands:
            out_bands.append(f"{pre}.{b}" if (prefixes or counts[b] > 1) else b)

    # each side rides the join as one struct of its chunk-row columns, so
    # chunk_rows reads every side; a side without the chunk has a null payload
    def side(i: int, c: Cube):
        cols = [F.col(f.name) for f in CHUNK_SCHEMA.fields]
        return c.df.select("chunk_id", F.struct(*cols).alias(f"s{i}"))

    joined = side(0, cubes[0])
    for i in range(1, len(cubes)):
        joined = joined.join(side(i, cubes[i]), "chunk_id", "outer")
    nbs = [len(c.bands) for c in cubes]

    def combine(batches):
        for b in batches:
            sides = [chunk_rows(pa.RecordBatch.from_struct_array(b.column(f"s{i}"))) for i in range(len(nbs))]
            rows = []
            for cid, parts in zip(b.column("chunk_id").to_pylist(), zip(*sides)):
                coords = next(co for _, co, t in parts if t is not None)
                shape = g0.chunk_shape(*coords)
                rows.append((cid, coords, np.concatenate(
                    [t if t is not None else np.full((nb,) + shape, np.nan) for (_, _, t), nb in zip(parts, nbs)])))
            yield emit(CHUNK_SCHEMA, rows)

    return Cube(joined.mapInArrow(combine, CHUNK_SCHEMA), v0, out_bands, g0)
