"""Deduplication for web-scale corpora: exact, n-gram Jaccard, MinHash+LSH,
SimHash — all pure DataFrame/SQL plans (Catalyst-optimized, no Python in the
hot path except nothing at all: even the hashes are JVM xxhash64).

Scale design:
- exact: hash-groupBy on a fingerprint — one shuffle on md5 keys.
- jaccard_pairs: token explode → equi-join on token → pair-count groupBy.
  The token join is the classic inverted-index self-join; hot tokens are the
  skew risk → stopword-ish tokens can be dropped via a document-frequency
  cap (df_cap) computed in the same plan.
- minhash_lsh: per-doc shingle array → 64 minhashes → 16 band keys of 4
  (array expressions, no shuffle, computed once per doc and cached beside
  the shingles) → bucket equi-join → exact-Jaccard verification of
  candidates only. Turns the O(n²) similarity join into an equi-join.
- simhash: 64-bit sign-of-weighted-bit-sums; banded Hamming buckets.
"""

from __future__ import annotations

from typing import Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdalcubes_spark.pipeline.text import _bind, _grams_sql, fingerprint_sql

# DataFrames persisted by long plans (LSH shingles); release_caches() frees
# them — call between queries in long-lived sessions to avoid cache growth.
_CACHED: list = []


def release_caches() -> None:
    """Free every registered cache/checkpoint block. Collect (or persist
    elsewhere) any still-needed result DataFrame FIRST: localCheckpoint
    blocks registered by connected_components have truncated lineage, so
    once released they cannot recompute."""
    while _CACHED:
        try:
            _CACHED.pop().unpersist()
        except Exception:
            pass


def widen_input(df: DataFrame, mult: int = 2) -> DataFrame:
    """Round-robin repartition when the source has fewer partitions than
    ~mult×cores. Compute-heavy per-row projections (64 minhashes × shingles,
    hyperplane signatures, PQ encodes) cost ~10³× more than the bytes they
    read, so a small parquet's 1-2 input splits serialize them on 1-2 of 32
    cores — the INPUT-side twin of the scan's AQE task-count pinning
    (cube.pin_group_partitions). At production scale the source has far more
    splits than cores and this is a no-op; the repartition it adds here
    shuffles only the raw rows once, repaid immediately by full-width
    execution of everything downstream."""
    want = df.sparkSession.sparkContext.defaultParallelism * mult
    # the partition count of the physical plan's RDD, read in the JVM:
    # df.rdd would also wrap the query in a Python RDD to be thrown away
    if df._jdf.queryExecution().executedPlan().execute().getNumPartitions() < want:
        return df.repartition(want)
    return df


def exact_dedup(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per identical (normalized) text. Returns the
    surviving rows' ids + group size."""
    return (df.withColumn("_fp", F.expr(fingerprint_sql(text_col)))
            .groupBy("_fp")
            .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
            .drop("_fp"))


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return (df.select(id_col, F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("tok"))
            .filter(F.col("tok") != "").distinct())


def jaccard_pairs(df: DataFrame, threshold: float = 0.6, id_col: str = "doc_id",
                  text_col: str = "text", df_cap=0) -> DataFrame:
    """Exact word-set Jaccard over all pairs sharing ≥1 token.

    df_cap drops tokens appearing in more than df_cap docs (stopword/skew
    guard — at corpus scale the hot-token self-join is quadratic in the hot
    token's document frequency and dominates everything else):
    - 0: off (exact over ALL tokens — matches the SQL oracle exactly)
    - int > 0: fixed cap (deterministic, oracle-expressible)
    - "auto": cap at max(p99 of the token document-frequency distribution, 8),
      computed in-plan; the HOT set is tiny by construction → broadcast
      anti-join, no extra shuffle of the token table.
    Dropping a token with df > cap can only LOWER a pair's intersection, so
    capped Jaccard is a lower bound — pairs reported are still ≥ threshold
    on the capped universe (standard stopword semantics)."""
    toks = _tokens(df, id_col, text_col)
    if df_cap == "auto":
        freq = toks.groupBy("tok").agg(F.count("*").alias("df"))
        cap = freq.agg(F.greatest(F.percentile_approx("df", F.lit(0.99)),
                                  F.lit(8)).alias("_cap"))
        hot = freq.join(F.broadcast(cap), F.col("df") > F.col("_cap"), "inner").select("tok")
        toks = toks.join(F.broadcast(hot), "tok", "left_anti")
    elif df_cap and df_cap > 0:
        rare = toks.groupBy("tok").count().filter(F.col("count") <= df_cap).select("tok")
        toks = toks.join(F.broadcast(rare), "tok")
    sizes = toks.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = toks.select(F.col(id_col).alias("ida"), "tok")
    b = toks.select(F.col(id_col).alias("idb"), "tok")
    inter = (a.join(b, "tok").filter(F.col("ida") < F.col("idb"))
             .groupBy("ida", "idb").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("idb"), F.col("sz").alias("szb"))
    return (inter.join(sa, "ida").join(sb, "idb")
            .withColumn("jaccard", F.round(F.col("inter")
                                           / (F.col("sza") + F.col("szb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("ida", "idb", "jaccard"))


def _shingle_sql(text_col: str, n: int) -> str:
    """SQL array of a doc's word n-gram shingles, HASHED to int64 before
    leaving the narrow stage: downstream joins shuffle 8-byte keys, not
    strings (collisions are negligible at n²/2⁶⁴, and the LSH and exact
    paths share the hashed universe, so Jaccard is unchanged). The words
    `split(lower(text), ' +')` are computed once per doc."""
    return _grams_sql(f"split(lower(`{text_col}`), ' +')", n, "xxhash64")


def _shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """One row per distinct (doc, shingle hash)."""
    return df.selectExpr(f"`{id_col}`", f"explode({_shingle_sql(text_col, n)}) AS shingle").distinct()


def _shingle_arrays(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """One row per doc: array of DISTINCT int64 shingle hashes — the compact
    form of _shingles with NO explode and NO distinct shuffle (array_distinct
    runs per row). Same xxhash64 universe as _shingles, so Jaccard values are
    identical between the two representations."""
    return widen_input(df).selectExpr(
        f"`{id_col}`", f"array_distinct({_shingle_sql(text_col, n)}) AS shingles")


def _signature_sql(n_hashes: int) -> str:
    """SQL array of the n_hashes minhashes of the `shingles` column:
    h_i = min over shingles s of xxhash64(s, i)."""
    sig = f"transform(sequence(0, {n_hashes - 1}), i -> array_min(transform(sh, s -> xxhash64(s, i))))"
    return _bind("shingles", "sh", sig)


def _band_keys_sql(n_hashes: int, bands: int) -> str:
    """SQL array of the `bands` band keys of the `shingles` column's
    signature g: key b = xxhash64(b, g[b*r], …, g[b*r + r-1]), r =
    n_hashes // bands. The signature is bound once per doc, not once per
    band."""
    rows = n_hashes // bands
    key = ", ".join(["b"] + [f"g[b * {rows} + {r}]" for r in range(rows)])
    return _bind(_signature_sql(n_hashes), "g", f"transform(sequence(0, {bands - 1}), b -> xxhash64({key}))")


def _lsh_arrays(df: DataFrame, id_col: str, text_col: str, shingle_n: int,
                n_hashes: int, bands: int) -> DataFrame:
    """One row per doc: (id, shingles, _keys), the shingle array and its
    band keys."""
    return (_shingle_arrays(df, id_col, text_col, shingle_n)
            .selectExpr(f"`{id_col}`", "shingles", f"{_band_keys_sql(n_hashes, bands)} AS _keys"))


def minhash_lsh_pairs(df: DataFrame, threshold: float = 0.6, id_col: str = "doc_id",
                      text_col: str = "text", n_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3) -> DataFrame:
    """Candidate generation via banded minhash buckets, then EXACT shingle-
    Jaccard verification of candidates only. With 16×4 the detection
    probability at j=0.6 is ~0.88, at j=0.8 ~0.9986 — tune bands/rows per
    target threshold.

    Plan shape: docs → per-row shingle ARRAYS (no explode) → per-row
    signature array (no shuffle) → one row per (doc, band) → banded bucket
    equi-join (the only real shuffle: n_docs×bands tiny rows) → verify
    candidates with array_intersect (pair-count-sized joins). At corpus
    scale every stage stays proportional to docs + candidate pairs, never to
    total shingle occurrences.

    The LSH is three SQL expressions, so building the plan costs the same
    few JVM round trips whatever `n_hashes` and `bands` are (int lambda
    variables i and b, r = n_hashes // bands):
    - shingles: `array_distinct(transform(sequence(0, greatest(size(w) - n,
      0)), i -> xxhash64(concat_ws(' ', slice(w, i + 1, n)))))`, with
      `w = split(lower(text), ' +')`;
    - signature: `g = transform(sequence(0, n_hashes - 1),
      i -> array_min(transform(shingles, s -> xxhash64(s, i))))`;
    - band keys: `_keys = transform(sequence(0, bands - 1),
      b -> xxhash64(b, g[b*r], …, g[b*r + r-1]))`, posexploded to
      (band, key) on each side of the bucket join.
    Higher-order functions are interpreted (CodegenFallback), so each lambda
    reaches `w`, `shingles` and `g` through `_bind`: each is computed once
    per doc, never once per shingle, hash or band. The shingles and the band
    keys are cached together, so both join sides and both verify sides read
    the cache and the signature runs once per doc (16 keys, 128 B per doc,
    not the 64 minhashes). With the cache released, each join side computes
    `_keys` once per doc in its own Project below the Generate."""
    release_caches()  # drop caches from any prior LSH call in this session
    arr = _lsh_arrays(df, id_col, text_col, shingle_n, n_hashes, bands).persist()
    _CACHED.append(arr)
    # _outer: over an inner Generate of a column, Catalyst infers the filter
    # `size(_keys) > 0 AND isnotnull(_keys)` and pushes it below the Project,
    # so with the cache released each join side would compute the signature
    # three times. `_keys` always holds `bands` keys: the rows are the same.
    bucket = arr.selectExpr(f"`{id_col}` AS _id", "posexplode_outer(_keys) AS (band, key)")
    l = bucket.selectExpr("_id AS ida", "band", "key")
    r = bucket.selectExpr("_id AS idb", "band", "key")
    cand = (l.join(r, ["band", "key"]).filter(F.col("ida") < F.col("idb"))
            .select("ida", "idb").distinct())
    # exact verification on candidates only: set ops on the two arrays
    aa = arr.select(F.col(id_col).alias("ida"), F.col("shingles").alias("_sha"))
    bb = arr.select(F.col(id_col).alias("idb"), F.col("shingles").alias("_shb"))
    return (cand.join(aa, "ida").join(bb, "idb")
            .withColumn("inter", F.size(F.array_intersect("_sha", "_shb")).cast("double"))
            .withColumn("jaccard", F.round(F.col("inter")
                                           / (F.size("_sha") + F.size("_shb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("ida", "idb", "jaccard"))


def jaccard_pairs_shingles_exact(df: DataFrame, threshold: float = 0.6, id_col: str = "doc_id",
                                 text_col: str = "text", shingle_n: int = 3) -> DataFrame:
    """Exact shingle-set Jaccard over pairs sharing ≥1 shingle — the ground
    truth the LSH path is validated against (same shingle definition)."""
    sh = _shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("ida"), "shingle")
    b = sh.select(F.col(id_col).alias("idb"), "shingle")
    inter = (a.join(b, "shingle").filter(F.col("ida") < F.col("idb"))
             .groupBy("ida", "idb").agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col(id_col).alias("ida"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col(id_col).alias("idb"), F.col("sz").alias("szb"))
    return (inter.join(sa, "ida").join(sb, "idb")
            .withColumn("jaccard", F.round(F.col("inter")
                                           / (F.col("sza") + F.col("szb") - F.col("inter")), 6))
            .filter(F.col("jaccard") >= threshold)
            .select("ida", "idb", "jaccard"))


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            bits: int = 64, hash_fn: str = "xxhash64") -> DataFrame:
    """SimHash: sign of per-bit weighted sums of token hashes — entirely JVM
    aggregations (one conditional sum per bit in one groupBy pass).

    hash_fn="xxhash64" (default): fastest, JVM-only, 64 bits.
    hash_fn="md5": engine-agnostic 60-bit variant (first 15 hex chars of
    md5(token)) — the exact same signature is computable in ANSI SQL/DuckDB,
    which makes the whole near-dup pipeline oracle-able end to end."""
    if hash_fn == "md5":
        bits = min(bits, 60)  # 15 hex chars stay inside a signed 64-bit long
    toks = (widen_input(df)
            .select(id_col, F.explode(F.split(F.lower(F.col(text_col)), " +")).alias("tok"))
            .filter(F.col("tok") != ""))
    if hash_fn == "md5":
        h = F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64("tok")
    aggs = [F.sum(F.when(F.shiftrightunsigned(h, i).bitwiseAND(F.lit(1)) != 0, 1).otherwise(-1)).alias(f"s{i}")
            for i in range(bits)]
    sums = toks.groupBy(id_col).agg(*aggs)
    sig = F.lit(0).cast("long")
    for i in range(bits):
        sig = sig + F.when(F.col(f"s{i}") > 0, F.lit(1 << i) if i < 63 else F.lit(-(1 << 63))).otherwise(0)
    return sums.select(id_col, sig.alias("simhash"))


def hash_near_pairs(sig: DataFrame, id_col: str, hash_col: str, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs for ANY 64-bit signature column (SimHash, the images
    table's phash, …): banded buckets → candidate equi-join → exact
    bit_count(xor).

    The band count is DERIVED from max_hamming (pigeonhole: with
    max_hamming+1 bands, any pair with hamming ≤ max_hamming must agree on
    at least one whole band) — a fixed 4-band split silently missed pairs at
    hamming=4 with one differing bit per band."""
    if not (0 <= max_hamming <= 31):
        raise ValueError("max_hamming must be in [0, 31] (banding needs ≥2-bit bands)")
    nbands = int(max_hamming) + 1
    base, rem = divmod(64, nbands)
    widths = [base + 1 if b < rem else base for b in range(nbands)]
    offs = [sum(widths[:b]) for b in range(nbands)]

    def band_expr(b: int):
        w, o = widths[b], offs[b]
        e = F.shiftrightunsigned(F.col(hash_col), o)
        if w < 64:
            e = e.bitwiseAND(F.lit((1 << w) - 1))
        return e.alias(f"p{b}")

    s = sig.select(F.col(id_col), F.col(hash_col).alias("_sig"),
                   *[band_expr(b) for b in range(nbands)])
    # single explode → ONE self-join on (band, key) instead of nbands separate
    # joins re-reading the signature source nbands times
    bucket = s.select(id_col, "_sig", F.explode(F.array(*[
        F.struct(F.lit(b).alias("band"), F.col(f"p{b}").alias("key")) for b in range(nbands)
    ])).alias("bk")).select(id_col, "_sig", "bk.band", "bk.key")
    l = bucket.select(F.col(id_col).alias("ida"), F.col("_sig").alias("sha"), "band", "key")
    r = bucket.select(F.col(id_col).alias("idb"), F.col("_sig").alias("shb"), "band", "key")
    pairs = (l.join(r, ["band", "key"]).filter(F.col("ida") < F.col("idb"))
             .select("ida", "idb", "sha", "shb"))
    return (pairs.distinct()
            .withColumn("hamming", F.expr("bit_count(sha ^ shb)"))
            .filter(F.col("hamming") <= max_hamming)
            .select("ida", "idb", "hamming"))


def phash_near_pairs(images: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Image near-dup via the inventory's phash column (input_hint) — the
    visual-dedup pass of a training-data pipeline, no decode needed."""
    return hash_near_pairs(images.select(F.col("image_id").alias("id"), "phash"),
                           "id", "phash", max_hamming)


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3, id_col: str = "doc_id",
                       text_col: str = "text", hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup text pairs by SimHash over banded Hamming buckets."""
    sig = simhash(df, id_col, text_col, hash_fn=hash_fn)
    return hash_near_pairs(sig, id_col, "simhash", max_hamming)
