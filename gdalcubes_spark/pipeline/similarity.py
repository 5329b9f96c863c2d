"""Similarity search over an embedding column (array<float>).

- brute_topk: exact cosine top-k. Scale shape: broadcast the query matrix,
  compute per-partition LOCAL top-k with one numpy matmul per Arrow batch
  (float64 accumulate), then a tiny global top-k window — shuffle carries
  only n_queries × k rows per partition, never the full similarity matrix.
- hyperplane_lsh_topk: random-hyperplane sign buckets (deterministic seed)
  turn the scan into a bucket equi-join; exact cosine re-rank on candidates.
  The scale path when the corpus no longer fits a full scan per query batch.
- IVF-style variant: kmeans-lite coarse centroids (fixed seed, few Lloyd
  iterations on a sample) → probe nearest centroids only.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_PAIR_SCHEMA = T.StructType([
    T.StructField("query_id", T.LongType(), False),
    T.StructField("neighbor_id", T.LongType(), False),
    T.StructField("sim", T.DoubleType(), False),
])


# Widen the corpus for a driver-streamed query batch ONLY when the per-row
# matmul is heavy enough to repay a repartition: work/row ≈ nq·dim flops, so
# batches below this finish faster serialized on a small-split corpus than
# shuffled (measured 0.56 s vs 1.1-1.4 s at sf0.1 with 100 queries — the r3
# ann_topk regression).
_WIDEN_MIN_BATCH = 1024


def _batch_gated_widen(src_plain):
    """Returns src(nq): the plain corpus below _WIDEN_MIN_BATCH queries, one
    memoized widened subtree above it (every batch reuses the same exchange,
    never a per-batch reshuffle)."""
    from gdalcubes_spark.pipeline.dedup import widen_input
    memo = {}

    def _src(nq: int):
        if nq < _WIDEN_MIN_BATCH:
            return src_plain
        if "wide" not in memo:
            memo["wide"] = widen_input(src_plain)
        return memo["wide"]

    return _src


def _norm_rows(m: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(m, axis=1, keepdims=True)
    return m / np.maximum(n, 1e-30)


def brute_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               id_col: str = "vec_id", vec_col: str = "embedding",
               exclude_self: bool = True, batch_queries: int = 4096) -> DataFrame:
    """queries: DataFrame(id_col, vec_col). Returns (query_id, neighbor_id,
    sim) with exactly the global top-k per query (cosine, float64).

    The query set is streamed to the driver in BOUNDED batches
    (toLocalIterator + batch_queries), never collected whole: driver memory
    is O(batch_queries × dim) regardless of the query-set size. Each batch
    closes over its own matrix and scans the corpus once; query ids are
    disjoint across batches, so one final per-query window merges them.
    For query sets large enough that B corpus scans hurt, route to
    hyperplane_lsh_topk / ivf_topk (the sublinear paths)."""
    _src = _batch_gated_widen(embeddings.select(id_col, vec_col))

    def scan_with(qids: np.ndarray, Q: np.ndarray):
        def local_topk(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _PAIR_SCHEMA.fields})
                    continue
                ids = pdf[id_col].to_numpy()
                E = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
                S = Q @ E.T  # (nq, nbatch)
                if exclude_self:
                    for qi, qid in enumerate(qids):
                        S[qi, ids == qid] = -np.inf
                kk = min(k, S.shape[1])
                top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
                rows = dict(query_id=np.repeat(qids, kk),
                            neighbor_id=ids[top.ravel()],
                            sim=np.take_along_axis(S, top, axis=1).ravel())
                out = pd.DataFrame(rows)
                yield out[np.isfinite(out["sim"])]

        return _src(len(qids)).mapInPandas(local_topk, _PAIR_SCHEMA)

    local = None
    buf_ids, buf_vecs = [], []

    def flush():
        nonlocal local, buf_ids, buf_vecs
        if not buf_ids:
            return
        qids = np.asarray(buf_ids)
        Q = _norm_rows(np.stack(buf_vecs).astype("float64"))
        part = scan_with(qids, Q)
        local = part if local is None else local.unionByName(part)
        buf_ids, buf_vecs = [], []

    for row in queries.select(id_col, vec_col).toLocalIterator():
        buf_ids.append(row[id_col])
        buf_vecs.append(np.asarray(row[vec_col]))
        if len(buf_ids) >= batch_queries:
            flush()
    flush()
    if local is None:
        return queries.sparkSession.createDataFrame([], _PAIR_SCHEMA) \
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"))
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (local.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))


_SIG_SCHEMA = T.StructType([
    T.StructField("vid", T.LongType(), False),
    T.StructField("table", T.IntegerType(), False),
    T.StructField("bucket", T.LongType(), False),
])


def _hyperplane_signatures(df: DataFrame, planes: np.ndarray,
                           id_col: str, vec_col: str) -> DataFrame:
    """(vid, table, bucket) sign-pattern rows, computed EXECUTOR-side — one
    numpy matmul per Arrow batch per table, no shuffle, no driver pass. Sign
    patterns are invariant under positive scaling, so exact duplicates (and
    scaled clones, cosine = 1) land in the same bucket in every table."""
    n_tables, n_planes = planes.shape[0], planes.shape[1]

    def signatures(batches: Iterable[pd.DataFrame]):
        pw = (1 << np.arange(n_planes)).astype("int64")
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({f.name: pd.Series(dtype="int64") for f in _SIG_SCHEMA.fields})
                continue
            ids = pdf[id_col].to_numpy()
            E = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            frames = []
            for t in range(n_tables):
                bits = (E @ planes[t].T) > 0
                bucket = bits @ pw
                frames.append(pd.DataFrame(dict(vid=ids, table=t, bucket=bucket)))
            yield pd.concat(frames, ignore_index=True)

    from gdalcubes_spark.pipeline.dedup import widen_input
    return widen_input(df.select(id_col, vec_col)).mapInPandas(signatures, _SIG_SCHEMA)


def hyperplane_lsh_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
                        n_planes: int = 12, n_tables: int = 4, seed: int = 42,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: sign-pattern buckets over n_tables independent
    hyperplane sets; union of bucket-mates = candidates; exact cosine re-rank.
    Recall grows with n_tables; report it against brute_topk in tests."""
    first = embeddings.select(vec_col).first()
    dim = len(first[vec_col])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    sigs = _hyperplane_signatures(embeddings, planes, id_col, vec_col)
    qsigs = _hyperplane_signatures(queries, planes, id_col, vec_col) \
        .withColumnRenamed("vid", "qid")
    cand = (qsigs.join(sigs, ["table", "bucket"])
            .select(F.col("qid").alias("query_id"), F.col("vid").alias("neighbor_id")).distinct())
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    # exact re-rank of candidates
    e1 = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ev"))
    e2 = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    dot = F.aggregate(F.zip_with("ev", "qv", lambda a, b: a.cast("double") * b.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda a: a.cast("double") * a.cast("double")),
                                       F.lit(0.0), lambda acc, x: acc + x))
    scored = (cand.join(e1, "neighbor_id").join(e2, "query_id")
              .withColumn("sim", dot / (nrm("ev") * nrm("qv"))))
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))


def ivf_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5, n_centroids: int = 16,
             n_probe: int = 4, iters: int = 5, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             exclude_self: bool = True, sample_rows: int = 4096,
             train_full_corpus: bool = False) -> DataFrame:
    """IVF-flat ANN: coarse centroids from a seeded Lloyd's run on a sample
    (driver-side, tiny), assignments as a column, probe the n_probe nearest
    lists per query. The classic billion-scale layout (partition-by-centroid
    ⇒ partition pruning does the candidate cut).

    Driver-memory bound (same contract as brute_topk's): the training sample
    is capped at sample_rows vectors (one bounded toPandas) and `queries` is
    the small side by contract — its probe projection is executor-side, so
    only the CORPUS is never driver-materialized; keep |queries| to what a
    driver can hold in flight (≲10⁵ rows) or shard the query set."""
    # Seed sample: md5-bucket filter (deterministic_sample's trick), NOT
    # limit() — limit() takes the first partitions, so on a corpus
    # sorted/clustered by source the centroids would cover one region and
    # recall silently degrades. The hash filter is uniform over ROWS
    # regardless of layout; orderBy(_hb)+limit is a TakeOrdered (no full
    # sort) that makes the draw exact-size and partitioning-independent.
    if train_full_corpus:
        # ALL vectors through the distributed Lloyd's pass (seeds itself
        # from its own md5-bucket sample) — the per-iteration shuffle is
        # k·dim partials per partition, corpus-size independent
        # (pipeline/clustering.py); the driver-side sampled training below
        # would be dead work, so skip it entirely
        from gdalcubes_spark.pipeline.clustering import distributed_kmeans
        C = distributed_kmeans(embeddings, k=n_centroids, iters=iters, seed=seed,
                               id_col=id_col, vec_col=vec_col, seed_rows=sample_rows)
    else:
        from gdalcubes_spark.pipeline.sampling import _BUCKETS, _hash_bucket
        n_total = embeddings.count()
        frac = min(1.0, (4.0 * sample_rows) / max(n_total, 1))
        sample = (embeddings.select(F.col(id_col), F.col(vec_col))
                  .withColumn("_hb", _hash_bucket(id_col))
                  .filter(F.col("_hb") < int(frac * _BUCKETS))
                  .orderBy("_hb", id_col).limit(sample_rows)
                  .select(vec_col).toPandas())
        X = _norm_rows(np.stack(sample[vec_col].to_numpy()).astype("float64"))
        rng = np.random.default_rng(seed)
        C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
        for _ in range(iters):
            a = np.argmax(X @ C.T, axis=1)
            for j in range(C.shape[0]):
                m = X[a == j]
                if len(m):
                    C[j] = m.mean(axis=0)
            C = _norm_rows(C)

    assign_schema = T.StructType([T.StructField("vid", T.LongType(), False),
                                  T.StructField("centroid", T.IntegerType(), False)])

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(dict(vid=pd.Series(dtype="int64"), centroid=pd.Series(dtype="int32")))
                continue
            ids = pdf[id_col].to_numpy()
            E = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
            yield pd.DataFrame(dict(vid=ids, centroid=np.argmax(E @ C.T, axis=1).astype("int32")))

    from gdalcubes_spark.pipeline.dedup import widen_input
    assigned = widen_input(embeddings.select(id_col, vec_col)).mapInPandas(assign, assign_schema)

    probe_schema = T.StructType([T.StructField("qid", T.LongType(), False),
                                 T.StructField("centroid", T.IntegerType(), False)])

    def probes(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(dict(qid=pd.Series(dtype="int64"), centroid=pd.Series(dtype="int32")))
                continue
            ids = pdf[id_col].to_numpy()
            Qm = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
            order = np.argsort(-(Qm @ C.T), axis=1)[:, :n_probe]
            yield pd.DataFrame(dict(qid=np.repeat(ids, order.shape[1]),
                                    centroid=order.ravel().astype("int32")))

    qprobe = queries.select(id_col, vec_col).mapInPandas(probes, probe_schema)
    cand = (qprobe.join(assigned, "centroid")
            .select(F.col("qid").alias("query_id"), F.col("vid").alias("neighbor_id")).distinct())
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
    e1 = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ev"))
    e2 = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    dot = F.aggregate(F.zip_with("ev", "qv", lambda a, b: a.cast("double") * b.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda a: a.cast("double") * a.cast("double")),
                                       F.lit(0.0), lambda acc, x: acc + x))
    scored = (cand.join(e1, "neighbor_id").join(e2, "query_id")
              .withColumn("sim", dot / (nrm("ev") * nrm("qv"))))
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))


_NEARDUP_SCHEMA = T.StructType([
    T.StructField("ida", T.LongType(), False),
    T.StructField("idb", T.LongType(), False),
    T.StructField("sim", T.DoubleType(), False),
])


def cosine_neardup_pairs(embeddings: DataFrame, threshold: float = 0.99,
                         id_col: str = "vec_id", vec_col: str = "embedding",
                         batch_queries: int = 4096,
                         max_rows: int = 262_144) -> DataFrame:
    """EXACT embedding near-dup pairs: all (ida < idb) with cosine ≥
    threshold — the embedding-space twin of exact_dedup.

    AUDIT-GATE API, guarded: the corpus is streamed through the driver in
    bounded batches and every batch scans every row — O(n²) dot products
    plus a driver pass. That is the right shape for verifying a sampled
    slice or a modest corpus, and catastrophically wrong at corpus scale,
    so the call HARD-FAILS when the input exceeds `max_rows` (raise the cap
    explicitly if you really mean it). The production path is
    cosine_neardup_pairs_bucketed (hyperplane sign buckets, executor-side
    exact verify, no driver pass)."""
    n = embeddings.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_neardup_pairs is the O(n^2) audit gate; input has {n} rows "
            f"> max_rows={max_rows}. Use cosine_neardup_pairs_bucketed for "
            f"corpus-scale near-dup, or pass max_rows explicitly to override.")

    _src = _batch_gated_widen(embeddings.select(id_col, vec_col))

    def scan_with(qids: np.ndarray, Q: np.ndarray):
        def emit(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _NEARDUP_SCHEMA.fields})
                    continue
                ids = pdf[id_col].to_numpy()
                E = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
                S = Q @ E.T
                qi, ei = np.nonzero(S >= threshold)
                a, b = qids[qi], ids[ei]
                keep = a < b  # dedupe + drop self
                yield pd.DataFrame(dict(ida=a[keep], idb=b[keep], sim=S[qi, ei][keep]))

        return _src(len(qids)).mapInPandas(emit, _NEARDUP_SCHEMA)

    out = None
    buf_ids, buf_vecs = [], []

    def flush():
        nonlocal out, buf_ids, buf_vecs
        if not buf_ids:
            return
        part = scan_with(np.asarray(buf_ids), _norm_rows(np.stack(buf_vecs).astype("float64")))
        out = part if out is None else out.unionByName(part)
        buf_ids, buf_vecs = [], []

    for row in embeddings.select(id_col, vec_col).toLocalIterator():
        buf_ids.append(row[id_col])
        buf_vecs.append(np.asarray(row[vec_col]))
        if len(buf_ids) >= batch_queries:
            flush()
    flush()
    if out is None:
        return embeddings.sparkSession.createDataFrame([], _NEARDUP_SCHEMA)
    return out.select("ida", "idb", F.round("sim", 6).alias("sim"))


def cosine_neardup_pairs_bucketed(embeddings: DataFrame, threshold: float = 0.99,
                                  id_col: str = "vec_id", vec_col: str = "embedding",
                                  n_planes: Optional[int] = None, n_tables: int = 12,
                                  seed: int = 42) -> DataFrame:
    """Embedding near-dup pairs at 100 TB shape: hyperplane sign buckets
    generate candidates EXECUTOR-side, then only candidate pairs get the
    exact zip_with cosine verify — no driver pass, no all-pairs scan.

    Plan: one mapInPandas projection emits (vid, table, bucket) sign rows
    (zero shuffle), a self equi-join on (table, bucket) with ida < idb is the
    only quadratic-risk exchange (bounded by bucket occupancy, 2^n_planes
    buckets per table), distinct-ed candidates join the vectors back and a
    JVM-side zip_with/aggregate dot product applies the exact threshold.

    Recall: a pair at angle θ collides in one table with prob (1 − θ/π)^p;
    miss prob across T tables is (1 − (1−θ/π)^p)^T. n_planes=None derives p
    from the threshold: p=8 below 0.999 (θ≈8.1° at 0.99 → miss ≈ 2e-9 with
    T=12), p=16 at ≥ 0.999 (θ≈2.56° → miss ≈ 6e-9) — the tighter threshold
    affords twice the planes, which squares down bucket occupancy and with
    it the candidate-join volume (measured 427k → ~2k candidate pairs on a
    clustered 4k-vector corpus). Exact duplicates and positively-scaled
    clones (cosine 1) are found with probability 1 under ANY p/T (equal
    sign patterns in every table). For an audit-grade exact gate use
    cosine_neardup_pairs (the O(n²) verify path) on a sampled slice."""
    if n_planes is None:
        n_planes = 16 if threshold >= 0.999 else 8
    first = embeddings.select(vec_col).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame([], _NEARDUP_SCHEMA)
    dim = len(first[vec_col])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    sigs = _hyperplane_signatures(embeddings, planes, id_col, vec_col)
    a = sigs.select(F.col("vid").alias("ida"), "table", "bucket")
    b = sigs.select(F.col("vid").alias("idb"), "table", "bucket")
    cand = (a.join(b, ["table", "bucket"])
            .filter(F.col("ida") < F.col("idb"))
            .select("ida", "idb").distinct())
    e1 = embeddings.select(F.col(id_col).alias("ida"), F.col(vec_col).alias("va"))
    e2 = embeddings.select(F.col(id_col).alias("idb"), F.col(vec_col).alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                                       F.lit(0.0), lambda acc, x: acc + x))
    return (cand.join(e1, "ida").join(e2, "idb")
            .withColumn("sim", dot / (nrm("va") * nrm("vb")))
            .filter(F.col("sim") >= threshold)
            .select("ida", "idb", F.round("sim", 6).alias("sim")))


# --------------------------------------------------------------- product
# quantization (Jégou/Douze/Schmid, "Product Quantization for Nearest
# Neighbor Search", IEEE TPAMI 2011 — public paper; implemented from the
# paper's ADC construction, no reference code involved)

def _pq_train(embeddings: DataFrame, m: int, ks: int, iters: int, seed: int,
              sample_rows: int, id_col: str, vec_col: str):
    """Seeded per-subspace Lloyd's on an md5-bucket sample (layout-
    independent, like ivf_topk's fix). Returns (C (m, ks, dsub), dim, dsub);
    vectors whose dim % m != 0 are zero-padded into the last subspace."""
    from gdalcubes_spark.pipeline.sampling import _BUCKETS, _hash_bucket
    n_total = embeddings.count()
    frac = min(1.0, (4.0 * sample_rows) / max(n_total, 1))
    sample = (embeddings.select(F.col(id_col), F.col(vec_col))
              .withColumn("_hb", _hash_bucket(id_col))
              .filter(F.col("_hb") < int(frac * _BUCKETS))
              .orderBy("_hb", id_col).limit(sample_rows)
              .select(vec_col).toPandas())
    X = _norm_rows(np.stack(sample[vec_col].to_numpy()).astype("float64"))
    dim = X.shape[1]
    dsub = -(-dim // m)
    if dim != m * dsub:
        X = np.pad(X, ((0, 0), (0, m * dsub - dim)))
    rng = np.random.default_rng(seed)
    ks_eff = min(ks, len(X))
    C = np.empty((m, ks_eff, dsub))
    for j in range(m):
        Xs = X[:, j * dsub:(j + 1) * dsub]
        C[j] = Xs[rng.choice(len(Xs), size=ks_eff, replace=False)]
        for _ in range(iters):
            d2 = (Xs * Xs).sum(1)[:, None] - 2.0 * (Xs @ C[j].T) + (C[j] * C[j]).sum(1)[None]
            a = np.argmin(d2, axis=1)
            for c in range(ks_eff):
                mask = a == c
                if mask.any():
                    C[j, c] = Xs[mask].mean(axis=0)
    return C, dim, dsub


_PQ_CODE_SCHEMA = T.StructType([
    T.StructField("vid", T.LongType(), False),
    T.StructField("codes", T.BinaryType(), False),
])


def pq_encode(embeddings: DataFrame, C: np.ndarray, dim: int,
              id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Corpus → (vid, codes binary): m uint8 subspace code bytes per vector.
    At 100 TB this is THE scan-side win — a 64-dim float32 corpus shrinks
    32× (256 B → 8 B/row), so the exhaustive ADC scan reads 1/32 of the
    bytes and the codes table broadcast-joins/caches where vectors can't.
    Pure executor-side mapInPandas; the codebook (m·ks·dsub float64, a few
    hundred KB) ships once in the closure."""
    m, ks_eff, dsub = C.shape
    cn2 = 0.5 * (C * C).sum(axis=2)  # (m, ks)

    def encode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(dict(vid=pd.Series(dtype="int64"),
                                        codes=pd.Series(dtype="object")))
                continue
            E = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
            if E.shape[1] != m * dsub:
                E = np.pad(E, ((0, 0), (0, m * dsub - E.shape[1])))
            codes = np.empty((len(E), m), dtype=np.uint8)
            for j in range(m):
                # argmin ||x_j − c||² == argmax (x_j·c − ½||c||²)
                codes[:, j] = np.argmax(E[:, j * dsub:(j + 1) * dsub] @ C[j].T - cn2[j], axis=1)
            yield pd.DataFrame(dict(vid=pdf[id_col].to_numpy(),
                                    codes=[r.tobytes() for r in codes]))

    from gdalcubes_spark.pipeline.dedup import widen_input
    return widen_input(embeddings.select(id_col, vec_col)).mapInPandas(encode, _PQ_CODE_SCHEMA)


def pq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5, m: int = 8,
            ks: int = 64, iters: int = 8, seed: int = 11, refine: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            exclude_self: bool = True, sample_rows: int = 4096,
            batch_queries: int = 4096) -> DataFrame:
    """PQ-ADC top-k (cosine): train m per-subspace codebooks on a seeded
    md5-bucket sample, encode the corpus to m-byte codes executor-side, scan
    CODES (not vectors) with a per-query lookup table, then exact-re-rank the
    top refine·k ADC candidates with the JVM zip_with dot product.

    Scale shape: the only full pass touches the m-byte codes table
    (asymmetric distance = m table lookups per row, numpy-gathered per
    partition); the exact re-rank joins refine·k·|Q| candidate pairs back to
    the vectors — candidate volume is independent of corpus size. Query
    batches stream through the driver bounded (as brute_topk), each batch
    O(batch_queries·m·ks) LUT memory — `queries` is the small side by
    contract (≲10⁵ rows through toLocalIterator; shard above that).
    refine=0 returns raw ADC scores (approximate sims) without the re-rank
    join."""
    C, dim, dsub = _pq_train(embeddings, m, ks, iters, seed, sample_rows, id_col, vec_col)
    coded = pq_encode(embeddings, C, dim, id_col, vec_col)
    nq_keep = max(k * refine, k)

    def scan_with(qids: np.ndarray, Q: np.ndarray):
        if Q.shape[1] != m * dsub:
            Q = np.pad(Q, ((0, 0), (0, m * dsub - Q.shape[1])))
        lut = np.stack([Q[:, j * dsub:(j + 1) * dsub] @ C[j].T for j in range(m)], axis=1)  # (nq, m, ks)

        def local_topk(batches: Iterable[pd.DataFrame]):
            for pdf in batches:
                if len(pdf) == 0:
                    yield pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _PAIR_SCHEMA.fields})
                    continue
                ids = pdf["vid"].to_numpy()
                codes = np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8).reshape(len(ids), m)
                S = np.zeros((len(qids), len(ids)))
                for j in range(m):
                    S += lut[:, j, :][:, codes[:, j]]
                if exclude_self:
                    for qi, qid in enumerate(qids):
                        S[qi, ids == qid] = -np.inf
                kk = min(nq_keep, S.shape[1])
                top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
                out = pd.DataFrame(dict(query_id=np.repeat(qids, kk),
                                        neighbor_id=ids[top.ravel()],
                                        sim=np.take_along_axis(S, top, axis=1).ravel()))
                yield out[np.isfinite(out["sim"])]

        return coded.mapInPandas(local_topk, _PAIR_SCHEMA)

    local, buf_ids, buf_vecs = None, [], []

    def flush():
        nonlocal local, buf_ids, buf_vecs
        if not buf_ids:
            return
        part = scan_with(np.asarray(buf_ids), _norm_rows(np.stack(buf_vecs).astype("float64")))
        local = part if local is None else local.unionByName(part)
        buf_ids, buf_vecs = [], []

    for row in queries.select(id_col, vec_col).toLocalIterator():
        buf_ids.append(row[id_col])
        buf_vecs.append(np.asarray(row[vec_col]))
        if len(buf_ids) >= batch_queries:
            flush()
    flush()
    if local is None:
        return queries.sparkSession.createDataFrame([], _PAIR_SCHEMA) \
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim"))

    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    cand = (local.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= nq_keep)
            .select("query_id", "neighbor_id"))
    if refine <= 0:
        return (local.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
                .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))
    e1 = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ev"))
    e2 = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    dot = F.aggregate(F.zip_with("ev", "qv", lambda a, b: a.cast("double") * b.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda a: a.cast("double") * a.cast("double")),
                                       F.lit(0.0), lambda acc, x: acc + x))
    scored = (cand.join(e1, "neighbor_id").join(e2, "query_id")
              .withColumn("sim", dot / (nrm("ev") * nrm("qv"))))
    w2 = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w2)).filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))


def ivfpq_encode(embeddings: DataFrame, n_centroids: int = 16, m: int = 8,
                 ks: int = 64, iters: int = 6, seed: int = 11,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 sample_rows: int = 4096, train_full_corpus: bool = False):
    """Train both IVF-PQ quantizers and produce the CODED TABLE — (vid,
    centroid, codes) in ONE corpus pass. Returns (coded_df, C, CB, dim,
    dsub). Persist `coded_df.write.partitionBy("centroid")` and the probe
    join over a centroid filter becomes partition-pruned at the FileScan
    (tests/test_round4_fixes.py pins the PartitionFilters); the quantizer
    arrays are a few hundred KB — ship them with the job."""
    if train_full_corpus:
        # COARSE quantizer over all vectors via the distributed Lloyd's pass
        # (per-partition partial sums — k·dim floats/partition through the
        # shuffle, corpus-size independent); it seeds itself, so the
        # driver-side sampled training below would be dead work
        from gdalcubes_spark.pipeline.clustering import distributed_kmeans
        C = distributed_kmeans(embeddings, k=n_centroids, iters=iters, seed=seed,
                               id_col=id_col, vec_col=vec_col, seed_rows=sample_rows)
    else:
        # --- train the coarse quantizer on one md5-bucket sample
        from gdalcubes_spark.pipeline.sampling import _BUCKETS, _hash_bucket
        n_total = embeddings.count()
        frac = min(1.0, (4.0 * sample_rows) / max(n_total, 1))
        sample = (embeddings.select(F.col(id_col), F.col(vec_col))
                  .withColumn("_hb", _hash_bucket(id_col))
                  .filter(F.col("_hb") < int(frac * _BUCKETS))
                  .orderBy("_hb", id_col).limit(sample_rows)
                  .select(vec_col).toPandas())
        X = _norm_rows(np.stack(sample[vec_col].to_numpy()).astype("float64"))
        rng = np.random.default_rng(seed)
        C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
        for _ in range(iters):
            a = np.argmax(X @ C.T, axis=1)
            for j in range(C.shape[0]):
                mbr = X[a == j]
                if len(mbr):
                    C[j] = mbr.mean(axis=0)
            C = _norm_rows(C)
    CB, dim, dsub = _pq_train(embeddings, m, ks, iters, seed, sample_rows, id_col, vec_col)
    cn2 = 0.5 * (CB * CB).sum(axis=2)

    # --- one corpus pass: coarse assignment + PQ codes together
    coded_schema = T.StructType([
        T.StructField("vid", T.LongType(), False),
        T.StructField("centroid", T.IntegerType(), False),
        T.StructField("codes", T.BinaryType(), False),
    ])

    def assign_encode(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(dict(vid=pd.Series(dtype="int64"),
                                        centroid=pd.Series(dtype="int32"),
                                        codes=pd.Series(dtype="object")))
                continue
            E = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
            cent = np.argmax(E @ C.T, axis=1).astype("int32")
            Ep = E if E.shape[1] == m * dsub else np.pad(E, ((0, 0), (0, m * dsub - E.shape[1])))
            codes = np.empty((len(E), m), dtype=np.uint8)
            for j in range(m):
                codes[:, j] = np.argmax(Ep[:, j * dsub:(j + 1) * dsub] @ CB[j].T - cn2[j], axis=1)
            yield pd.DataFrame(dict(vid=pdf[id_col].to_numpy(), centroid=cent,
                                    codes=[r.tobytes() for r in codes]))

    from gdalcubes_spark.pipeline.dedup import widen_input
    coded = widen_input(embeddings.select(id_col, vec_col)).mapInPandas(assign_encode, coded_schema)
    return coded, C, CB, dim, dsub


def ivfpq_topk(embeddings: DataFrame, queries: DataFrame, k: int = 5,
               n_centroids: int = 16, n_probe: int = 4, m: int = 8, ks: int = 64,
               iters: int = 6, seed: int = 11, refine: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding",
               exclude_self: bool = True, sample_rows: int = 4096,
               train_full_corpus: bool = False) -> DataFrame:
    """IVF+PQ — the billion-scale production layout: coarse centroids prune
    the corpus to n_probe inverted lists per query, PQ codes (m bytes/vector)
    score the surviving candidates by asymmetric distance, and the top
    refine·k re-rank exactly with the JVM zip_with dot product.

    Scale shape: the per-query work is O(|probed lists| · m) byte lookups —
    independent of corpus size through the list pruning AND 32× lighter per
    candidate through the codes; the only corpus-wide passes are the two
    mapInPandas projections (assign + encode, fused in ivfpq_encode), both
    embarrassingly parallel. Persist the coded table partitioned by
    `centroid` (ivfpq_encode) and the probe join becomes partition-pruned.
    `queries` is the small side by contract (streamed via toLocalIterator in
    bounded batches, ≲10⁵ rows; shard the query set above that)."""
    coded, C, CB, dim, dsub = ivfpq_encode(
        embeddings, n_centroids=n_centroids, m=m, ks=ks, iters=iters, seed=seed,
        id_col=id_col, vec_col=vec_col, sample_rows=sample_rows,
        train_full_corpus=train_full_corpus)

    # --- query side: probes + ADC LUT rows, executor-side
    q_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField("centroid", T.IntegerType(), False),
        T.StructField("lut", T.BinaryType(), False),  # float32 (m, ks) table
    ])

    def probes(batches: Iterable[pd.DataFrame]):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame(dict(qid=pd.Series(dtype="int64"),
                                        centroid=pd.Series(dtype="int32"),
                                        lut=pd.Series(dtype="object")))
                continue
            Qm = _norm_rows(np.stack(pdf[vec_col].to_numpy()).astype("float64"))
            Qp = Qm if Qm.shape[1] == m * dsub else np.pad(Qm, ((0, 0), (0, m * dsub - Qm.shape[1])))
            order = np.argsort(-(Qm @ C.T), axis=1)[:, :n_probe]
            luts = np.stack([Qp[:, j * dsub:(j + 1) * dsub] @ CB[j].T for j in range(m)], axis=1)
            ids = pdf[id_col].to_numpy()
            yield pd.DataFrame(dict(
                qid=np.repeat(ids, order.shape[1]),
                centroid=order.ravel().astype("int32"),
                lut=[luts[i].astype("float32").tobytes() for i in np.repeat(np.arange(len(ids)), order.shape[1])]))

    qprobe = queries.select(id_col, vec_col).mapInPandas(probes, q_schema)

    # --- candidate scoring: equi-join on centroid, ADC per group (numpy)
    def adc(key, pdf):
        if len(pdf) == 0:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _PAIR_SCHEMA.fields})
        lut = np.frombuffer(pdf["lut"].iloc[0], dtype=np.float32).reshape(m, -1)
        ids = pdf["vid"].to_numpy()
        codes = np.frombuffer(b"".join(pdf["codes"]), dtype=np.uint8).reshape(len(ids), m)
        s = np.zeros(len(ids))
        for j in range(m):
            s += lut[j, codes[:, j]]
        qid = int(key[0])
        keep = np.ones(len(ids), dtype=bool)
        if exclude_self:
            keep = ids != qid
        kk = min(max(k * refine, k), int(keep.sum()))
        if kk == 0:
            return pd.DataFrame({f.name: pd.Series(dtype="float64") for f in _PAIR_SCHEMA.fields})
        si = s.copy()
        si[~keep] = -np.inf
        top = np.argpartition(-si, kk - 1)[:kk]
        return pd.DataFrame(dict(query_id=np.full(kk, qid), neighbor_id=ids[top], sim=si[top]))

    cand = (qprobe.join(coded, "centroid")
            .groupBy("qid").applyInPandas(adc, _PAIR_SCHEMA)
            .select("query_id", "neighbor_id"))
    # --- exact re-rank of the ADC survivors
    e1 = embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("ev"))
    e2 = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    dot = F.aggregate(F.zip_with("ev", "qv", lambda a, b: a.cast("double") * b.cast("double")),
                      F.lit(0.0), lambda acc, x: acc + x)
    nrm = lambda c: F.sqrt(F.aggregate(F.transform(c, lambda a: a.cast("double") * a.cast("double")),
                                       F.lit(0.0), lambda acc, x: acc + x))
    scored = (cand.join(e1, "neighbor_id").join(e2, "query_id")
              .withColumn("sim", dot / (nrm("ev") * nrm("qv"))))
    from pyspark.sql import Window as W
    w = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
            .select("query_id", "neighbor_id", F.round("sim", 6).alias("sim")))
