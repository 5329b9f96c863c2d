"""Connected components over near-duplicate pair graphs.

Pairwise dedup (minhash_lsh_pairs / simhash_near_pairs / jaccard_pairs)
yields EDGES; an actual dedup pass needs CLUSTERS — every document labeled
with its duplicate-group id so one representative survives. At corpus scale
the graph has billions of edges, so we use the alternating large-star /
small-star algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — public literature): each round is two groupBy shuffles on
node id, and the edge set converges to a star per component in O(log n)
rounds even for path-shaped graphs (min-label propagation would need
O(diameter) rounds).

Spark shape: edges live in a DataFrame (src, dst); each star operation is a
single groupBy(node).agg(min) joined back — all JVM aggregations, no Python.
Lineage is cut with localCheckpoint every round (iterative plans otherwise
stack O(rounds) shuffles into one Catalyst tree and planning time explodes);
convergence is an aggregate equality check on (sum, count) of the edge set.
An input that is already a star forest (pure clone pairs) runs no round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# localCheckpoint block handles from CONVERGED component edge sets. These are
# deliberately NOT in dedup._CACHED: checkpoint lineage is truncated, so a
# released result can never recompute — while dedup's registry holds
# recomputable caches that other library functions (knn_tiles,
# minhash_lsh_pairs) free unilaterally between queries. Sharing one registry
# let those calls silently invalidate an un-collected dedup_clusters result.
_CKPT_CACHED: list = []


def release_checkpoints() -> None:
    """Free the converged edge sets' localCheckpoint blocks. Collect or
    persist any outstanding connected_components / dedup_clusters result
    FIRST — released checkpoints cannot recompute (truncated lineage)."""
    while _CKPT_CACHED:
        try:
            _CKPT_CACHED.pop().unpersist()
        except Exception:
            pass


def _large_star(edges: DataFrame) -> DataFrame:
    """Connect every neighbor larger than u to u's minimum neighborhood label.

    large-star(u): m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u), v > u.

    Plan shape: the per-node minimum is a window aggregate over
    partitionBy(src) — ONE exchange — instead of the groupBy + join-back
    formulation (two exchanges over the same rows). No trailing distinct:
    duplicate edges do not change any window minimum, and _small_star's
    final distinct (the only place the edge SET matters — the convergence
    signature) dedupes once per round instead of twice."""
    from pyspark.sql import Window as W
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    m = F.least(F.min("dst").over(W.partitionBy("src")), F.col("src").cast("long"))
    return (sym.withColumn("m", m)
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst")))


def _small_star(edges: DataFrame) -> DataFrame:
    """Orient edges to the smaller endpoint, then connect each node's small
    neighbors (and itself) to the minimum of that set.

    small-star(u): N⁻ = {v ∈ N(u) : v < u}; m = min(N⁻ ∪ {u});
    emit (v, m) for v ∈ N⁻ ∪ {u}, v ≠ m.

    Same window-aggregate shape as _large_star (one exchange for the
    minimum; both union branches reuse the same windowed subtree), one
    distinct for the whole round's output. Every output edge has
    src > dst: to_min emits (v, m) with m ≤ min(N⁻) < v, the self edge
    (u, m) has m < u — the signature relies on this orientation."""
    from pyspark.sql import Window as W
    directed = (edges.select(F.greatest("src", "dst").alias("src"),
                             F.least("src", "dst").alias("dst"))
                .filter(F.col("src") != F.col("dst")))
    d2 = directed.withColumn("m", F.min("dst").over(W.partitionBy("src")))
    to_min = d2.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    self_edge = d2.select("src", F.col("m").alias("dst"))
    return (to_min.union(self_edge)
            .filter(F.col("src") != F.col("dst"))
            .distinct())


def _component_map(pairs: DataFrame, src: str = "ida", dst: str = "idb",
                   max_rounds: int = 25) -> DataFrame:
    """(id, component) for every node of the pair graph that is NOT its
    component's minimum, labelled with that minimum. A root labels itself,
    so it has no row here."""
    sc = pairs.sparkSession.sparkContext

    def checkpointed(df: DataFrame):
        """localCheckpoint + the JVM RDD handles it persisted. DataFrame.
        unpersist() does NOT free checkpoint blocks (verified: the persistent
        RDD count stays put), so release needs the JavaRDD handles."""
        before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
        out = df.localCheckpoint()
        jmap = sc._jsc.getPersistentRDDs()
        handles = [jmap.get(i) for i in jmap.keySet().toArray() if i not in before]
        return out, handles

    edges, live = checkpointed(
        pairs.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct())

    def signature(e: DataFrame):
        # `e` is always a _small_star output: already distinct with src > dst
        # on every row, so the canonical (least, greatest) re-projection and
        # its distinct shuffle are redundant — a single partial-aggregated
        # scan over the checkpointed blocks (no exchange beyond the final
        # 1-row merge) computes the same set identity.
        r = (e.agg(F.count("*").alias("n"),
                   F.sum(F.pmod(F.xxhash64("dst", "src"), F.lit(1 << 40))).alias("s"))
             .collect()[0])
        return (r["n"], r["s"])

    # round 0: the rounds converge to a star forest centred on each
    # component's minimum; the canonical (greatest, least) input already is
    # one when no node is both a greatest and a least and every greatest has
    # a single least. Per node u over its neighbours N(u): u < min N(u) (a
    # centre) or min N(u) = max N(u) < u (a leaf; its neighbour's own test
    # makes that a centre). Duplicate and reversed edges change no min/max.
    # Pure clone pairs then run no round; any other input runs the rounds it
    # always did (prev = None: round 1 never matches).
    sym = edges.selectExpr("inline(array(struct(src AS u, dst AS v), struct(dst AS u, src AS v)))")
    star = (sym.groupBy("u").agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .selectExpr("count_if(NOT (u < lo OR (lo = hi AND hi < u))) = 0 AS star")
            .collect()[0]["star"])
    prev = None
    for _ in range(0 if star else max_rounds):
        old_live = live
        edges, live = checkpointed(_small_star(_large_star(edges)))
        # localCheckpoint is eager: the new edge set is materialized, so the
        # superseded round's blocks can go NOW — otherwise every round leaks
        # a persisted RDD that neither catalog.clearCache() nor
        # DataFrame.unpersist() touches, and long sessions degrade
        for h in old_live:
            h.unpersist()
        cur = signature(edges)
        if cur == prev:
            break
        prev = cur
    # the converged edge set backs the returned (lazy) DataFrame — register
    # its block handles in the checkpoint-only registry so a long session can
    # free them with release_checkpoints() AFTER collecting the result
    # (dedup.release_caches() no longer touches these: see _CKPT_CACHED)
    _CKPT_CACHED.extend(live)
    # converged state: a star — every non-root points at its component min
    return (edges.select(F.greatest("src", "dst").alias("id"),
                         F.least("src", "dst").alias("component"))
            .groupBy("id").agg(F.min("component").alias("component")))


def connected_components(pairs: DataFrame, src: str = "ida", dst: str = "idb",
                         max_rounds: int = 25) -> DataFrame:
    """Label every node of the pair graph with its component's MINIMUM id.

    Returns (id, component). Isolated nodes don't appear in `pairs`, so they
    don't appear here either — left-join and coalesce(component, id) at the
    call site to label a full corpus."""
    comp = _component_map(pairs, src, dst, max_rounds)
    roots = comp.select(F.col("component").alias("id"), F.col("component")).distinct()
    return comp.unionByName(roots).distinct()


def dedup_clusters(df: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                   src: str = "ida", dst: str = "idb") -> DataFrame:
    """Full-corpus duplicate clustering: every row of `df` labeled with its
    cluster id (component min; singletons label themselves), plus the cluster
    size and a keep flag on the representative. One broadcast-sized join per
    corpus row — the expensive part is the pair graph, already bucketed."""
    from pyspark.sql import Window as W
    # roots are absent from the non-root map and label themselves through
    # the coalesce, so the roots union of connected_components is not needed
    labeled = (df.select(F.col(id_col).cast("long").alias("id"))
               .join(_component_map(pairs, src, dst), "id", "left")
               .select("id", F.coalesce("component", F.col("id")).alias("cluster")))
    # cluster_size as a window count over the same key: one exchange instead
    # of the groupBy + join-back pair (identical values — count over the
    # unbounded partition frame IS the group size)
    return (labeled.withColumn("cluster_size", F.count("*").over(W.partitionBy("cluster")))
            .select(F.col("id").alias(id_col), "cluster", "cluster_size",
                    (F.col("id") == F.col("cluster")).alias("keep")))
