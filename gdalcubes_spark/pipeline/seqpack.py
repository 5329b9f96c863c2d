"""Sequence packing: batch documents into fixed token budgets.

LLM pretraining packs variable-length documents into fixed-length sequences
(e.g. 2048/8192 tokens) to avoid padding waste. Globally optimal bin packing
is NP-hard and inherently serial; the distributed version shards documents
into deterministic hash buckets and runs first-fit-decreasing (FFD) inside
each bucket — a classic approximation (≤ 11/9·OPT + 1 bins per bucket) whose
quality is independent of bucket count, so the same code packs 10k docs on a
laptop and 10B docs on a 1000-executor cluster (buckets ≫ cores ⇒ even load;
one shuffle on the bucket key, the per-bucket pack is a tight numpy loop over
thousands of rows, not a per-token loop).

Determinism: bucket = md5-hash(doc id) mod n_buckets, in-bucket order =
(length desc, id asc) — same bins every run on any cluster layout.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OUT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("n_tokens", T.LongType(), False),
    T.StructField("bucket", T.IntegerType(), False),
    T.StructField("bin", T.LongType(), False),       # globally unique bin id
    T.StructField("truncated", T.BooleanType(), False),
])


def pack_sequences(df: DataFrame, max_len: int, id_col: str = "doc_id",
                   len_col: str = "n_tokens", n_buckets: int = 256) -> DataFrame:
    """Assign every document to a packed bin of total length ≤ max_len.

    Documents longer than max_len get a singleton bin with truncated=true
    (the caller decides whether to split or drop). Returns one row per doc:
    (doc_id, n_tokens, bucket, bin, truncated); bin ids are globally unique
    (bucket * 2^40 + local index)."""
    if max_len <= 0:
        raise ValueError("max_len must be positive")
    h = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10).cast("long")
    src = df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(len_col).cast("long").alias("n_tokens"),
        F.pmod(h, F.lit(n_buckets)).cast("int").alias("bucket"))

    def pack(key, pdf):
        bucket = int(key[0])
        pdf = pdf.sort_values(["n_tokens", "doc_id"], ascending=[False, True])
        lens = pdf["n_tokens"].to_numpy()
        # first-fit scan as a numpy mask (argmax of first True): the inner
        # loop stays O(open bins) per doc but runs at C speed, so buckets of
        # 10^5+ docs don't pay a pure-Python scan per document
        fills = np.zeros(64, dtype="int64")
        nbins = 0
        assign = np.empty(len(lens), dtype="int64")
        for i, ln in enumerate(lens):
            ln = min(int(ln), max_len)  # oversize → occupies a full bin
            ok = fills[:nbins] <= max_len - ln
            if ok.any():
                placed = int(np.argmax(ok))  # lowest-index open bin that fits
            else:
                if nbins == len(fills):
                    fills = np.concatenate([fills, np.zeros(len(fills), dtype="int64")])
                placed = nbins
                nbins += 1
            fills[placed] += ln
            assign[i] = placed
        return pd.DataFrame(dict(
            doc_id=pdf["doc_id"].to_numpy(),
            n_tokens=pdf["n_tokens"].to_numpy(),
            bucket=np.full(len(lens), bucket, dtype="int32"),
            bin=(np.int64(bucket) << np.int64(40)) + assign,
            truncated=pdf["n_tokens"].to_numpy() > max_len,
        ))

    return src.groupBy("bucket").applyInPandas(pack, _OUT_SCHEMA)
