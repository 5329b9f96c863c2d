"""Structured Streaming layer — our Spark-native extension beyond the
reference (gdalcubes is a pure batch engine; its "streaming" is an external-
process byte protocol, stream.h:38-120 — see operators/stream.py for that).

Real stream processing for a continuously-arriving image inventory:
- streaming_inventory(spark, dir): file-source readStream of image-metadata
  parquet drops (the shape of a Kafka/Kinesis feed of new scene arrivals);
- streaming_scan: the incremental raster_cube — the batch scan's explode
  plan, fold/emit and _AggState (sources/raster_cube.py), with each chunk's
  partial state kept in Spark state between micro-batches;
- streaming_cell_counts: watermarked, windowed per-cube-cell arrival counts —
  the "how much new data landed in each tile this hour" operational metric;
- streaming_events_window: generic windowed aggregation over the events
  table shape (ts, event_type, value) with late-data handling.

All queries are incremental (state kept by Spark's streaming aggregation).
Image bboxes go through the batch scan's _bbox_in_view_srs and chunk ids
through its grid arithmetic, so a tile id means the same thing in both
planes (the classic lambda-architecture unification), in any view SRS.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gdalcubes_spark.grid import ChunkGrid, CubeView, default_chunking
from gdalcubes_spark.sources.raster_cube import _bbox_in_view_srs, _time_index_sql
from gdalcubes_spark.synth import IMAGE_SCHEMA


def streaming_inventory(spark: SparkSession, path: str, max_files_per_trigger: int = 16) -> DataFrame:
    """File-source stream of image-inventory parquet drops."""
    return (spark.readStream.schema(IMAGE_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def streaming_cell_counts(stream: DataFrame, view: CubeView, chunking: ChunkGrid,
                          watermark: str = "1 hour", window: str = "1 hour") -> DataFrame:
    """Watermarked windowed count of arriving images per cube chunk: one
    count per arrival, at the chunk holding the image's top-left corner in
    the view SRS (clamped into the grid) — the SAME bbox transform and chunk
    arithmetic as the batch scan."""
    g = chunking
    m = (_bbox_in_view_srs(stream, view)
         .withColumn("it", F.expr(_time_index_sql(view)).cast("long"))
         .filter((F.col("it") >= 0) & (F.col("it") < view.nt))
         .withColumn("x0", F.floor((F.col("vleft") - view.left) / view.dx))
         .withColumn("y0", F.floor((view.top - F.col("vtop")) / view.dy))
         .withColumn("kx", F.greatest(F.lit(0), F.least(F.lit(g.ncx - 1), (F.col("x0") / g.cx).cast("long"))))
         .withColumn("ky", F.greatest(F.lit(0), F.least(F.lit(g.ncy - 1), (F.col("y0") / g.cy).cast("long"))))
         .withColumn("chunk_id", (F.col("it") / g.ct).cast("long") * (g.ncy * g.ncx)
                     + F.col("ky") * g.ncx + F.col("kx")))
    m = m.withColumn("datetime", F.col("datetime").cast("timestamp"))
    return (m.withWatermark("datetime", watermark)
            .groupBy(F.window("datetime", window).alias("w"), "chunk_id")
            .agg(F.count("*").alias("n_images"))
            .select(F.col("w.start").alias("window_start"), "chunk_id", "n_images"))


def streaming_events_window(stream: DataFrame, watermark: str = "10 minutes",
                            window: str = "1 hour") -> DataFrame:
    """Windowed per-type aggregation with late-data handling over the events
    shape (ts timestamp, event_type string, value double)."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"), "event_type", "n",
                    F.round("sum_value", 6).alias("sum_value")))


def run_to_memory(query_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming DataFrame to a memory sink with availableNow (process
    everything currently available, then stop) — the test/backfill trigger.
    Waits for NATURAL termination: a bounded awaitTermination can return
    mid-micro-batch and silently under-report results."""
    q = (query_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).trigger(availableNow=True).start())
    q.awaitTermination()
    return q


def streaming_scan(stream: DataFrame, view: CubeView, bands, chunking: Optional[ChunkGrid] = None) -> DataFrame:
    """INCREMENTAL raster_cube: maintain per-chunk aggregation state over a
    stream of arriving images and emit the updated chunk tensor whenever new
    scenes land in it — continuous ingest for a training-data lake, a
    capability the batch-only reference cannot express.

    Same kernel as the batch scan: raster_cube's explode plan (_explode, with
    the bbox in the view SRS) feeds applyInPandasWithState keyed by
    chunk_id, and each micro-batch restores the chunk's _AggState, merges in
    one fold per arrival batch, saves it (to_bytes) and emits — so each
    micro-batch decodes only ITS images. Aggregation and resampling come from
    the view, as in raster_cube; the methods are raster_cube.DECOMPOSABLE
    (the same rule as salt > 0: median/none need every value of a cell at
    once and stay batch operations). Emitted rows are CHUNK_SCHEMA plus
    n_images_seen, the images placed on the chunk so far (monotone —
    consumers keep the row with the max per chunk); a chunk that is still
    all-NaN is elided, as in the batch scan."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from gdalcubes_spark.cube import CHUNK_SCHEMA, pack_tensor
    from gdalcubes_spark.sources.raster_cube import DECOMPOSABLE, FOLD_COLUMNS, _explode, _ScanKernel

    if view.aggregation not in DECOMPOSABLE:
        raise ValueError(f"streaming_scan supports decomposable methods only, not {view.aggregation!r}")
    g = chunking or default_chunking(view)
    k = _ScanKernel(view, g, bands)
    out_schema = T.StructType(CHUNK_SCHEMA.fields + [T.StructField("n_images_seen", T.LongType(), False)])
    state_schema = T.StructType([
        T.StructField("state", T.BinaryType(), False),  # _AggState.to_bytes()
        T.StructField("n_seen", T.LongType(), False),
    ])

    def update_fn(key, pdf_iter, state: GroupState):
        cid = int(key[0])
        blob, n_seen = state.get if state.exists else (None, 0)
        st = k.merged(cid, [] if blob is None else [blob])
        for pdf in pdf_iter:
            st.merge(k.fold(cid, {c: pdf[c].to_numpy() for c in FOLD_COLUMNS}, k.merge_rank))
            n_seen += len(pdf)
        state.update((st.to_bytes(), n_seen))
        t = k.emit(cid, st, ())
        if t is None:
            return iter([])
        (kt, ky, kx), (nb, nt, ny, nx) = g.chunk_coords(cid), t.shape
        return iter([pd.DataFrame([dict(chunk_id=cid, ct=kt, cy=ky, cx=kx, nb=nb, nt=nt, ny=ny, nx=nx,
                                        data=pack_tensor(t), n_images_seen=n_seen)])])

    return (_explode(stream, view, g).groupBy("chunk_id")
            .applyInPandasWithState(update_fn, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))


def streaming_dedup(stream: DataFrame, key_expr: str = "md5(lower(trim(text)))",
                    id_col: str = "doc_id", timeout_minutes: int = 0) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): exactly-once
    streaming deduplication — emit only the FIRST record per content key,
    keeping a per-key seen flag in Spark state. The streaming half of the
    batch exact_dedup (pipeline/dedup.py); state is partitioned by key so it
    scales horizontally with executors."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = stream.withColumn("_k", F.expr(key_expr))
    out_schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField(id_col, T.LongType(), False),
    ])
    state_schema = T.StructType([T.StructField("seen", T.BooleanType(), False)])

    def dedup_fn(key, pdf_iter, state: GroupState):
        if state.exists:
            # already emitted for this key — swallow everything
            for _ in pdf_iter:
                pass
            return iter(())
        first = None
        for pdf in pdf_iter:
            if len(pdf) and first is None:
                first = int(pdf[id_col].min())
            elif len(pdf):
                first = min(first, int(pdf[id_col].min()))
        if first is None:
            return iter(())
        state.update((True,))
        return iter([pd.DataFrame({"k": [key[0]], id_col: [first]})])

    return (keyed.groupBy("_k")
            .applyInPandasWithState(dedup_fn, out_schema, state_schema,
                                    "append", GroupStateTimeout.NoTimeout))


_TTL_UNITS = {"ms": 1, "millisecond": 1, "milliseconds": 1,
              "s": 1000, "second": 1000, "seconds": 1000,
              "m": 60_000, "min": 60_000, "minute": 60_000, "minutes": 60_000,
              "h": 3_600_000, "hour": 3_600_000, "hours": 3_600_000,
              "d": 86_400_000, "day": 86_400_000, "days": 86_400_000}


def _ttl_ms(ttl) -> int:
    """'30 minutes' / '2h' / 1500 → milliseconds (GroupState.setTimeoutDuration
    takes an int; the CalendarInterval-string form is JVM-side only)."""
    if isinstance(ttl, int):
        return ttl
    parts = str(ttl).strip().split()
    if len(parts) == 1:  # '2h' / '1500ms'
        import re
        m = re.fullmatch(r"(\d+)\s*([a-zA-Z]+)", parts[0])
        if not m:
            raise ValueError(f"cannot parse ttl {ttl!r}")
        parts = [m.group(1), m.group(2)]
    n, unit = int(parts[0]), parts[1].lower()
    if unit not in _TTL_UNITS:
        raise ValueError(f"unknown ttl unit {unit!r} in {ttl!r}")
    return n * _TTL_UNITS[unit]


def streaming_phash_dedup(stream: DataFrame, id_col: str = "image_id",
                          phash_col: str = "phash", max_hamming: int = 4,
                          sig_bits: int = 64, max_state: int | None = 65536,
                          ttl: "str | int | None" = None) -> DataFrame:
    """Streaming VISUAL near-dup (custom stateful operator): emit (ida, idb,
    hamming) for every arriving image within `max_hamming` bits of any
    previously-seen phash — the incremental-ingest twin of the batch
    hash_near_pairs (pipeline/dedup.py:277).

    Shape: the signature is sliced into bands = max_hamming+1 equal windows;
    by pigeonhole, any pair within max_hamming Hamming bits agrees EXACTLY on
    at least one band, so state keyed by (band, band-value) gives complete
    candidate generation with per-bucket state bounded by bucket occupancy —
    exactly the batch banded-bucket equi-join, re-expressed as
    applyInPandasWithState so it runs incrementally and scales horizontally
    with executors (state partitions on the bucket key).

    Delivery: a pair agreeing on SEVERAL bands fires once per matching band
    (at-least-once pair delivery); batch consumers distinct() the sink.
    Expects a long id (cast from numeric) — map string ids to longs
    upstream (e.g. xxhash64) before calling.

    STATE BOUNDING (an unbounded ingest stream would otherwise grow hot
    buckets linearly in images-seen): `max_state` caps each bucket at its
    most-recent entries (LRU by arrival order, applied when state is saved
    — the retention contract is "new images pair against the last max_state
    bucket-mates"); `ttl` (e.g. "30 minutes") additionally drops buckets
    that have been idle for the duration via a processing-time timeout.
    Defaults: max_state=65536 (bounded out of the box), ttl off.

    CAVEAT: `ttl` requires a continuous trigger (e.g.
    trigger(processingTime=...)).  Under Trigger.AvailableNow, Spark can
    only fire the registered processing-time timeouts by running more
    batches, so it busy-loops "no new data but cleaning up state" batches
    until every timeout expires and the query never self-terminates
    (observed: ~100 empty batches/min).  In batch-drain harnesses leave
    ttl off — max_state already bounds state without a timeout."""
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    n_bands = max_hamming + 1
    width = -(-sig_bits // n_bands)
    mask = (1 << width) - 1 if width < 63 else (1 << 62) - 1
    full = (1 << sig_bits) - 1
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("ph"), b * width).bitwiseAND(F.lit(mask)).alias("bv"))
        for b in range(n_bands)])
    keyed = (stream.select(F.col(id_col).cast("long").alias("id"),
                           F.col(phash_col).cast("long").alias("ph"))
             .withColumn("_b", F.explode(bands))
             .select("id", "ph", F.col("_b.band").alias("band"), F.col("_b.bv").alias("bv")))

    out_schema = T.StructType([
        T.StructField("ida", T.LongType(), False),
        T.StructField("idb", T.LongType(), False),
        T.StructField("hamming", T.IntegerType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("phs", T.ArrayType(T.LongType()), False),
    ])

    def pair_fn(key, pdf_iter, state: GroupState):
        if ttl is not None and state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            ids, phs = (list(v) for v in state.get)
        else:
            ids, phs = [], []
        rows = []
        for pdf in pdf_iter:
            for i, p in zip(pdf["id"].tolist(), pdf["ph"].tolist()):
                for j, q in zip(ids, phs):
                    if i == j:
                        continue
                    hd = ((p ^ q) & full).bit_count()
                    if hd <= max_hamming:
                        a, b = (i, j) if i < j else (j, i)
                        rows.append((a, b, hd))
                ids.append(i)
                phs.append(p)
        if max_state is not None and len(ids) > max_state:
            ids, phs = ids[-max_state:], phs[-max_state:]
        state.update((ids, phs))
        if ttl is not None:
            state.setTimeoutDuration(_ttl_ms(ttl))
        if not rows:
            return iter(())
        return iter([pd.DataFrame(rows, columns=["ida", "idb", "hamming"])])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl is not None
               else GroupStateTimeout.NoTimeout)
    return (keyed.groupBy("band", "bv")
            .applyInPandasWithState(pair_fn, out_schema, state_schema,
                                    "append", timeout))


def streaming_embed_neardup(stream: DataFrame, threshold: float = 0.99,
                            id_col: str = "vec_id", vec_col: str = "embedding",
                            n_planes: int = 8, n_tables: int = 12,
                            seed: int = 42, max_state: int | None = 65536,
                            ttl: "str | int | None" = None) -> DataFrame:
    """Streaming SEMANTIC near-dup (custom stateful operator): emit (ida,
    idb, sim) for every arriving embedding whose cosine with a
    previously-seen vector is ≥ threshold — the incremental twin of
    cosine_neardup_pairs_bucketed (pipeline/similarity.py:318).

    Shape: the same hyperplane sign buckets generate candidates (miss prob
    ≈(1−(1−θ/π)^p)^T, ~2e-9 at defaults for θ at 0.99; exact duplicates and
    positively-scaled clones collide with probability 1), state keyed by
    (table, bucket) holds the bucket's (id, unit-vector) list, and the EXACT
    cosine applies inside the state function — so emitted pairs are
    exact-verified, never bucket-trusted. A pair colliding in several tables
    fires once per table (at-least-once delivery, like
    streaming_phash_dedup); distinct() the sink.

    STATE BOUNDING: same contract as streaming_phash_dedup — `max_state`
    caps each (table, bucket) at its most-recent entries (LRU by arrival
    order), `ttl` drops idle buckets via a processing-time timeout.
    Defaults: max_state=65536, ttl off."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    rng = np.random.default_rng(seed)
    # the embedding dimension is only known from data — draw planes against
    # a max dim and slice per batch (3 MB closure at the defaults)
    planes = rng.standard_normal((n_tables, n_planes, 4096))

    keyed_schema = T.StructType([
        T.StructField("id", T.LongType(), False),
        T.StructField("vec", T.ArrayType(T.DoubleType()), False),
        T.StructField("tbl", T.IntegerType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ])

    def bucketize(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids = pdf[id_col].to_numpy()
            V = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
            dim = V.shape[1]
            if dim > planes.shape[2]:
                raise ValueError(
                    f"embedding dim {dim} exceeds the {planes.shape[2]} the "
                    "hyperplanes were drawn for — raise the max in "
                    "streaming_embed_neardup")
            out = []
            for t in range(n_tables):
                sig = (V @ planes[t, :, :dim].T > 0).astype(np.int64)
                bucket = (sig * (1 << np.arange(n_planes))).sum(axis=1)
                out.append(pd.DataFrame(dict(id=ids, vec=list(V), tbl=t,
                                             bucket=bucket.astype("int32"))))
            yield pd.concat(out)

    keyed = stream.select(F.col(id_col).cast("long").alias(id_col), vec_col) \
        .mapInPandas(bucketize, keyed_schema)

    out_schema = T.StructType([
        T.StructField("ida", T.LongType(), False),
        T.StructField("idb", T.LongType(), False),
        T.StructField("sim", T.DoubleType(), False),
    ])
    state_schema = T.StructType([
        T.StructField("ids", T.ArrayType(T.LongType()), False),
        T.StructField("vecs", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ])

    def pair_fn(key, pdf_iter, state: GroupState):
        if ttl is not None and state.hasTimedOut:
            state.remove()
            return iter(())
        if state.exists:
            ids, vecs = (list(v) for v in state.get)
        else:
            ids, vecs = [], []
        rows = []
        for pdf in pdf_iter:
            for i, v in zip(pdf["id"].tolist(), pdf["vec"].tolist()):
                v = np.asarray(v, dtype="float64")
                if vecs:
                    sims = np.asarray(vecs) @ v
                    for j, s in zip(ids, sims):
                        if s >= threshold and i != j:
                            a, b = (i, j) if i < j else (j, i)
                            rows.append((a, b, round(float(s), 6)))
                ids.append(int(i))
                # pure-python floats: numpy scalars don't survive the state
                # (un)pickler on the JVM side
                vecs.append(v.tolist())
        if max_state is not None and len(ids) > max_state:
            ids, vecs = ids[-max_state:], vecs[-max_state:]
        state.update((ids, vecs))
        if ttl is not None:
            state.setTimeoutDuration(_ttl_ms(ttl))
        if not rows:
            return iter(())
        return iter([pd.DataFrame(rows, columns=["ida", "idb", "sim"])])

    timeout = (GroupStateTimeout.ProcessingTimeTimeout if ttl is not None
               else GroupStateTimeout.NoTimeout)
    return (keyed.groupBy("tbl", "bucket")
            .applyInPandasWithState(pair_fn, out_schema, state_schema,
                                    "append", timeout))


def streaming_events_sessions(stream: DataFrame, watermark: str = "10 minutes",
                              gap: str = "30 minutes") -> DataFrame:
    """Per-user SESSION windows over the event stream (gap-merged ranges,
    session end = last event + gap) — Structured Streaming's stateful
    session_window operator; the watermark bounds how long an open session
    waits for late events before it can be finalized."""
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (stream.withWatermark("ts", watermark)
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("sum_value"))
            .select("user_id", F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"), "n_events", "sum_value"))


def streaming_ivf_assign(stream: DataFrame, centroids,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """Incremental IVF index build over a continuous embedding feed.

    Assigns every arriving vector to its nearest (cosine) coarse centroid —
    STATELESS: the centroid matrix is broadcast-sized (k x dim, trained
    offline by distributed_kmeans / ivf_topk's Lloyd pass), so this is pure
    Arrow-batched map work at any ingest rate.  Downstream,
    ``writeStream.partitionBy("centroid")`` turns the feed into an
    incrementally-growing IVF-flat index whose directory layout is exactly
    what the batch probe side prunes on (the ivfpq_encode partition-pruning
    contract) — the lambda-architecture unification for ANN.  Emits
    (id, centroid, sim, vector) so the sink stores everything the re-rank
    needs.

    The reference has no streaming plane at all (stream.h:38-120 is an
    external-process byte protocol over finished chunks); this operator is
    Spark-native surface beyond it.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    C = np.asarray(centroids, dtype="float64")
    C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-12)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("centroid", T.IntegerType(), False),
        T.StructField("sim", T.DoubleType(), False),
        T.StructField("embedding", T.ArrayType(T.DoubleType()), False),
    ])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({
                    "vec_id": pd.Series(dtype="int64"),
                    "centroid": pd.Series(dtype="int32"),
                    "sim": pd.Series(dtype="float64"),
                    "embedding": pd.Series(dtype="object")})
                continue
            E = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            En = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True),
                                1e-12)
            S = En @ C.T
            a = np.argmax(S, axis=1)
            yield pd.DataFrame({
                "vec_id": pdf[id_col].to_numpy().astype("int64"),
                "centroid": a.astype("int32"),
                "sim": S[np.arange(len(a)), a],
                "embedding": [r.tolist() for r in E]})

    return stream.select(F.col(id_col), F.col(vec_col)).mapInPandas(
        assign, schema)
