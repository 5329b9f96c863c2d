"""Text analysis for large-scale training-data pipelines: token counting,
quality scoring, language ID (marker-word heuristic), document fingerprints.

Everything in this module is expressed as ENGINE-AGNOSTIC SQL built from
length/replace/lower/md5 only, so the exact same expression string runs
through Catalyst (F.expr) and through the DuckDB oracle — predictions are
bit-identical by construction. A faster/looser variant would use regexp
functions; these are deliberately portable.

All operations are JVM-side column expressions — zero Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny marker lexicons for the language-ID heuristic (word-boundary counts);
# the heuristic is the deliverable — a deterministic, cheap, SQL-native
# classifier of the kind used for corpus bucketing before expensive model LID
LANG_MARKERS = {
    "en": ("the", "and", "of", "is"),
    "de": ("der", "und", "die", "ist"),
    "fr": ("le", "et", "la", "est"),
    "es": ("el", "y", "la", "es"),
}

STOPWORDS = ("the", "a", "and", "of", "is", "to", "in")


def occurrences_sql(col: str, word: str) -> str:
    """Count word-boundary occurrences of `word` via the length/replace trick
    (portable across engines; text is space-tokenized). Spaces are doubled
    first so adjacent occurrences don't share a boundary space (replace is
    non-overlapping)."""
    padded = f"(' ' || replace(lower({col}), ' ', '  ') || ' ')"
    target = f"' {word} '"
    return (f"CAST((length({padded}) - length(replace({padded}, {target}, '')))"
            f" / {len(word) + 2} AS BIGINT)")


def n_tokens_sql(col: str) -> str:
    # CAST keeps Spark (int32 length) and DuckDB (int64 length) schema-equal
    return f"CAST(length(trim({col})) - length(replace(trim({col}), ' ', '')) + 1 AS BIGINT)"


def stopword_count_sql(col: str) -> str:
    return "(" + " + ".join(occurrences_sql(col, w) for w in STOPWORDS) + ")"


def quality_sql(col: str) -> str:
    """Quality score in [0,1]-ish: length prior × stopword-ratio prior —
    the shape of heuristic quality filters for web-scale corpora."""
    nt = n_tokens_sql(col)
    sw = stopword_count_sql(col)
    return (f"round( (CASE WHEN {nt} BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)"
            f" * (0.5 + least(CAST({sw} AS DOUBLE) / {nt}, 0.25) * 2), 6)")


def lang_id_sql(col: str) -> str:
    scores = {lang: "(" + " + ".join(occurrences_sql(col, w) for w in ws) + ")"
              for lang, ws in LANG_MARKERS.items()}
    # deterministic argmax with fixed tie order en > de > fr > es
    e, d, f_, s = scores["en"], scores["de"], scores["fr"], scores["es"]
    return (f"(CASE WHEN {e} >= {d} AND {e} >= {f_} AND {e} >= {s} THEN 'en' "
            f"WHEN {d} >= {f_} AND {d} >= {s} THEN 'de' "
            f"WHEN {f_} >= {s} THEN 'fr' ELSE 'es' END)")


def fingerprint_sql(col: str) -> str:
    """Whitespace-normalized content fingerprint (md5 hex) — the exact-dedup
    key for corpus-scale hash-groupBy."""
    return f"md5(lower(trim({col})))"


def _bind(col: str, var: str, body: str) -> str:
    """SQL for `body` with `var` bound to the value of `col` (a column or an
    expression). Catalyst inlines a projected expression that its consumer
    references once, even into a lambda that runs per array element, and
    higher-order functions are interpreted (CodegenFallback), not compiled:
    an expression named inside a per-element lambda is re-evaluated for
    every element. A lambda over the one-element array(col) evaluates `col`
    once wherever the expression ends up."""
    return f"transform(array({col}), {var} -> {body})[0]"


def _words_sql(col: str) -> str:
    """SQL array of the text's words: lower-cased, trimmed, split on runs of
    whitespace (DuckDB's string_split_regex(lower(trim(col)), '\\s+'))."""
    return f"split(lower(trim(`{col}`)), '\\\\s+')"


def _grams_sql(words: str, n: int, hash_fn: str = "") -> str:
    """SQL array of the word n-grams of the `words` array expression,
    `hash_fn(gram)` when given: one per start position, all the words when
    there are fewer than n. `words` is bound once per doc (`_bind`), not
    re-split for every gram."""
    gram = f"concat_ws(' ', slice(w, i + 1, {n}))"
    if hash_fn:
        gram = f"{hash_fn}({gram})"
    return _bind(words, "w", f"transform(sequence(0, greatest(size(w) - {n}, 0)), i -> {gram})")


def occurrences_of_padded(padded_col: str, word: str) -> str:
    """occurrences_sql against a PRE-COMPUTED padded column — the fast path:
    the naive form re-derives `' ' || replace(lower(text),' ','  ') || ' '`
    inside every count (dozens of string copies per row); computing it once
    cuts the text-analysis plan's string churn ~20×. Result-identical."""
    target = f"' {word} '"
    return (f"CAST((length({padded_col}) - length(replace({padded_col}, {target}, '')))"
            f" / {len(word) + 2} AS BIGINT)")


def text_features(df: DataFrame, col: str = "text") -> DataFrame:
    """Attach token count, stopword ratio, quality score, language guess and
    fingerprint — all whole-stage-codegen column expressions. Semantically
    identical to the naive per-feature SQL (the oracle form), but the padded
    string and the per-word counts are computed once each."""
    p = "_padded"
    df = df.withColumn(p, F.expr(f"' ' || replace(lower({col}), ' ', '  ') || ' '"))
    sw = "(" + " + ".join(occurrences_of_padded(p, w) for w in STOPWORDS) + ")"
    nt = n_tokens_sql(col)
    scores = {lang: "(" + " + ".join(occurrences_of_padded(p, w) for w in ws) + ")"
              for lang, ws in LANG_MARKERS.items()}
    df = (df.withColumn("n_tokens", F.expr(nt))
          .withColumn("_sw", F.expr(sw))
          .withColumn("stop_ratio", F.round(F.col("_sw").cast("double") / F.col("n_tokens"), 6))
          .withColumn("quality", F.expr(
              f"round((CASE WHEN n_tokens BETWEEN 20 AND 1000 THEN 1.0 ELSE 0.5 END)"
              f" * (0.5 + least(CAST(_sw AS DOUBLE) / n_tokens, 0.25) * 2), 6)")))
    for lang in scores:
        df = df.withColumn(f"_s_{lang}", F.expr(scores[lang]))
    e, d, f_, s_ = "_s_en", "_s_de", "_s_fr", "_s_es"
    df = df.withColumn("lang_pred", F.expr(
        f"(CASE WHEN {e} >= {d} AND {e} >= {f_} AND {e} >= {s_} THEN 'en' "
        f"WHEN {d} >= {f_} AND {d} >= {s_} THEN 'de' "
        f"WHEN {f_} >= {s_} THEN 'fr' ELSE 'es' END)"))
    df = df.withColumn("fingerprint", F.expr(fingerprint_sql(col)))
    return df.drop(p, "_sw", *[f"_s_{l}" for l in scores])


def rolling_fingerprints(df: DataFrame, col: str = "text", window: int = 8, keep: int = 4) -> DataFrame:
    """Winnowing-style document fingerprints: hash every `window`-word
    sliding window, keep the `keep` lexicographically-smallest hashes per doc
    (robust to local edits — the near-dup index key). Returns (doc_id, fp).

    Entirely JVM column expressions, ZERO shuffle: the window hashes, dedup,
    sort and top-k all happen per row (transform → array_distinct →
    array_sort → slice) — no explode, no groupBy, no Python. The
    higher-order functions are interpreted (CodegenFallback), so the words
    are split once per doc (`_grams_sql`), not once per window. The hash is
    md5 of the window text, so the exact same fingerprints are computable in
    DuckDB (engine-agnostic oracle), like fingerprint_sql. Replaces a
    per-character Python rolling hash that was the one row-at-a-time UDF
    left in the repo."""
    fps = _grams_sql(_words_sql(col), window, "md5")
    return df.selectExpr("doc_id", f"explode(slice(array_sort(array_distinct({fps})), 1, {keep})) AS fp")


def rolling_fingerprints_sql(col: str = "text", window: int = 8, keep: int = 4,
                             table: str = "docs") -> str:
    """DuckDB rendering of rolling_fingerprints — same md5-of-window hashes,
    same smallest-`keep` selection."""
    return f"""
        SELECT doc_id, fp FROM (
          SELECT doc_id, fp,
                 ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY fp) AS rn
          FROM (
            SELECT DISTINCT doc_id,
                   md5(array_to_string(ws[CAST(i + 1 AS INTEGER):CAST(i + {window} AS INTEGER)], ' ')) AS fp
            FROM (SELECT doc_id, string_split_regex(lower(trim({col})), '\\s+') AS ws FROM {table})
            CROSS JOIN range(0, 100000) t(i)
            WHERE i <= greatest(len(ws) - {window}, 0)
          )
        ) WHERE rn <= {keep}
    """


def _doc_gram_hashes(df: DataFrame, n: int, id_col: str, col: str) -> DataFrame:
    """(id, gh): md5 hash per DISTINCT word n-gram per row — built per row
    (transform → array_distinct), one output row per (doc, gram)."""
    grams = _grams_sql(_words_sql(col), n, "md5")
    return df.selectExpr(f"`{id_col}`", f"explode(array_distinct({grams})) AS gh")


def ngram_contamination(docs: DataFrame, bench: DataFrame, n: int = 8,
                        id_col: str = "doc_id", col: str = "text",
                        bench_id: str = "doc_id", bench_col: str = "text") -> DataFrame:
    """Benchmark DECONTAMINATION: for every training document, how many of
    its distinct word n-grams appear anywhere in the evaluation/benchmark
    set — the standard leakage gate a training pipeline runs before a corpus
    ships (n=8..13 word overlap is the common contamination criterion).

    Returns (id, n_grams, n_contaminated, contaminated). 100 TB shape: the
    benchmark side is small by definition → its distinct gram-hash set
    BROADCASTS (no shuffle on the corpus for the membership test); the corpus
    side is one codegen explode + two map-side-combinable groupBys on doc_id.
    Gram identity is md5 text hashes, so a SQL engine reproduces the result
    exactly (DuckDB oracle)."""
    bg = _doc_gram_hashes(bench, n, bench_id, bench_col).select("gh").distinct()
    dg = _doc_gram_hashes(docs, n, id_col, col)
    tot = dg.groupBy(id_col).agg(F.count("*").alias("n_grams"))
    hits = (dg.join(F.broadcast(bg), "gh")
            .groupBy(id_col).agg(F.count("*").alias("n_contaminated")))
    return (tot.join(hits, id_col, "left")
            .select(id_col, "n_grams",
                    F.coalesce("n_contaminated", F.lit(0)).alias("n_contaminated"),
                    (F.coalesce("n_contaminated", F.lit(0)) > 0).alias("contaminated")))


def ngram_contamination_sql(n: int = 8, table: str = "documents",
                            bench_pred: str = "doc_id % 41 = 0") -> str:
    """DuckDB rendering of ngram_contamination with the benchmark set being
    the `bench_pred` slice of the same table (the driver-query shape).

    CAVEAT (shared with the sibling gram oracles): the range(0, 100000)
    cross join caps gram positions at 100k words/document — the Spark
    implementation is unbounded, so the oracle only matches corpora whose
    documents stay under that (the synthetic tables are ~200 words/doc)."""
    grams = f"""
        SELECT DISTINCT doc_id,
               md5(array_to_string(ws[CAST(i + 1 AS INTEGER):CAST(i + {n} AS INTEGER)], ' ')) AS gh
        FROM (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM {table})
        CROSS JOIN range(0, 100000) t(i)
        WHERE i <= greatest(len(ws) - {n}, 0)
    """
    return f"""
        WITH dg AS ({grams}),
        bench AS (SELECT DISTINCT gh FROM dg WHERE {bench_pred}),
        tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM dg GROUP BY doc_id),
        hit AS (SELECT dg.doc_id, COUNT(*) AS h FROM dg JOIN bench USING (gh) GROUP BY dg.doc_id)
        SELECT t.doc_id, t.n_grams, COALESCE(hit.h, 0) AS n_contaminated,
               COALESCE(hit.h, 0) > 0 AS contaminated
        FROM tot t LEFT JOIN hit ON hit.doc_id = t.doc_id
    """


# PII patterns chosen to mean THE SAME THING in Java regex (Spark codegen)
# and RE2 (DuckDB): no backrefs, no lookaround, plain classes/quantifiers —
# the bpe_token_counts cross-engine discipline.
_PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("url", r"https?://[^ ]+"),
    ("phone", r"\d{3}-\d{3}-\d{4}"),
)


def pii_scan(df: DataFrame, id_col: str = "doc_id", col: str = "text") -> DataFrame:
    """PII scrubbing gate: per-document counts of email/url/phone patterns,
    a has_pii flag, and the md5 of the REDACTED text (each match replaced by
    its [TYPE] tag, in pattern order) — what a pre-training privacy filter
    computes before dropping or rewriting documents.

    Single codegen projection, zero Python, zero shuffle (regexp_count +
    chained regexp_replace); the patterns are RE2-safe so a DuckDB oracle
    reproduces counts AND the redacted-text hash exactly.

    PRECEDENCE CONTRACT: counts are computed against the RAW text, while
    redaction chains replaces in _PII_PATTERNS order (email, url, phone).
    A match nested inside an earlier pattern's match (e.g. a phone number in
    a URL path) is therefore COUNTED but swallowed by the outer tag rather
    than emitted as its own — n_* totals the PII present in the input, not
    the tags present in the output. The oracle renders the same chain, so
    both engines agree byte-for-byte."""
    red = F.col(col)
    for name, p in _PII_PATTERNS:
        red = F.regexp_replace(red, p, f"[{name.upper()}]")
    out = df.select(
        F.col(id_col),
        *[F.regexp_count(F.col(col), F.lit(p)).cast("long").alias(f"n_{name}")
          for name, p in _PII_PATTERNS],
        F.md5(red).alias("redacted_md5"))
    total = sum(F.col(f"n_{name}") for name, _ in _PII_PATTERNS)
    return out.withColumn("has_pii", total > 0)


def pii_scan_sql(table: str = "documents", col: str = "text") -> str:
    """DuckDB rendering of pii_scan (same patterns, same replace order)."""
    counts = ", ".join(
        f"CAST(len(regexp_extract_all({col}, '{p}')) AS BIGINT) AS n_{name}"
        for name, p in _PII_PATTERNS)
    red = col
    for name, p in _PII_PATTERNS:
        red = f"regexp_replace({red}, '{p}', '[{name.upper()}]', 'g')"
    total = " + ".join(f"len(regexp_extract_all({col}, '{p}'))" for _, p in _PII_PATTERNS)
    return f"""
        SELECT doc_id, {counts}, md5({red}) AS redacted_md5,
               ({total}) > 0 AS has_pii
        FROM {table}
    """


def ngram_counts(df: DataFrame, n: int = 2, k: int = 100, col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Top-k word n-grams by DOCUMENT frequency (vocabulary/contamination
    analysis over a training corpus). Per-doc n-gram arrays (transform →
    array_distinct — no per-occurrence rows) mean the explode emits at most
    one row per (doc, distinct n-gram) and the count is one shuffle; the global top-k is a TakeOrdered (no full sort). Ordering is
    total (count desc, ngram asc) so results are deterministic under ties."""
    grams = _grams_sql(_words_sql(col), n)
    return (df.selectExpr(f"`{id_col}`", f"explode(array_distinct({grams})) AS ngram")
            .groupBy("ngram").agg(F.count("*").alias("doc_freq"))
            .orderBy(F.desc("doc_freq"), F.asc("ngram"))
            .limit(k))


def ngram_counts_sql(n: int = 2, k: int = 100, col: str = "text",
                     table: str = "documents") -> str:
    """DuckDB rendering of ngram_counts (same grams, counts, and ordering)."""
    return f"""
        SELECT ngram, doc_freq FROM (
          SELECT ngram, COUNT(*) AS doc_freq FROM (
            SELECT DISTINCT doc_id,
                   array_to_string(ws[CAST(i + 1 AS INTEGER):CAST(i + {n} AS INTEGER)], ' ') AS ngram
            FROM (SELECT doc_id, string_split_regex(lower(trim({col})), '\\s+') AS ws FROM {table})
            CROSS JOIN range(0, 100000) t(i)
            WHERE i <= greatest(len(ws) - {n}, 0)
          ) GROUP BY ngram
        ) ORDER BY doc_freq DESC, ngram ASC LIMIT {k}
    """


# ------------------------------------------------------------- BPE pre-token
# GPT-2-style pre-tokenizer classes, written RE2-compatible (no lookahead) so
# the SAME pattern string runs through Java regex (Spark regexp_count) and
# RE2 (DuckDB regexp_extract_all) with identical leftmost-first alternation:
# contractions | space?+letters | space?+digits | space?+punct-run.
# Whitespace between tokens is simply unmatched (not a token).
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_counts(df: DataFrame, col: str = "text") -> DataFrame:
    """Per-doc token budget columns for training-data sizing: whitespace
    token count, BPE-ish pre-token count (the quantity that tracks real
    tokenizer output within a few %), and chars-per-pretoken (a compression
    proxy — prose sits near 4, code/junk drifts low). One codegen projection,
    zero Python, zero shuffle; regexp_count is a single JVM scan per row."""
    n_ws = F.expr(n_tokens_sql(col))
    n_bpe = F.regexp_count(F.col(col), F.lit(BPE_PRETOKEN_RE))
    return df.select(
        "doc_id",
        n_ws.alias("n_ws_tokens"),
        n_bpe.alias("n_bpe_tokens"),
        F.round(F.length(col) / F.greatest(n_bpe, F.lit(1)), 6).alias("chars_per_token"),
    )


def bpe_token_counts_oracle_sql(col: str = "text") -> str:
    """DuckDB rendering of bpe_token_counts (same regex, RE2 side)."""
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    nb = f"len(regexp_extract_all({col}, '{pat}'))"
    return (f"SELECT doc_id, {n_tokens_sql(col)} AS n_ws_tokens, "
            f"CAST({nb} AS INT) AS n_bpe_tokens, "
            f"round(length({col}) / greatest({nb}, 1), 6) AS chars_per_token "
            f"FROM documents")


# ---------------------------------------------------------------- tf-idf

def tfidf_top_terms(df: DataFrame, k: int = 3, col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k terms by tf-idf (smooth idf: ln((N+1)/(df+1)) + 1,
    the sklearn convention) — the lexical salience signal corpus-quality
    filters and topic bucketing run on.

    Scale shape: two map-side-combinable shuffles (term frequency on
    (doc, tok), document frequency on tok) + one equi-join on tok. Stopword
    tokens are hot keys; the groupBys partial-aggregate them, and the tf⋈df
    join is AQE-skew-join eligible (df_t is vocabulary-sized — broadcast it
    via spark.sql.autoBroadcastJoinThreshold when the vocab fits). Tokens
    follow the module's whitespace convention so the DuckDB oracle is
    bit-identical."""
    toks = (df.select(id_col, F.explode(F.split(F.lower(F.col(col)), " ")).alias("tok"))
            .filter(F.col("tok") != ""))
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    dft = tf.groupBy("tok").agg(F.count("*").alias("df_t"))
    n = df.count()
    scored = (tf.join(dft, "tok")
              .withColumn("tfidf", F.round(
                  F.col("tf") * (F.log((n + 1.0) / (F.col("df_t") + 1.0)) + F.lit(1.0)), 6)))
    from pyspark.sql import Window as W
    w = W.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("tok"))
    return (scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
            .select(id_col, "tok", "tf", "tfidf"))


def tfidf_top_terms_oracle_sql(k: int = 3, col: str = "text") -> str:
    """DuckDB rendering of tfidf_top_terms (same tokenization/idf/rounding)."""
    return f"""
        WITH toks AS (SELECT doc_id, unnest(string_split(lower({col}), ' ')) AS tok
                      FROM documents),
        tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks WHERE tok <> '' GROUP BY 1, 2),
        dft AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
        n AS (SELECT COUNT(*) AS c FROM documents),
        scored AS (SELECT doc_id, tok, tf,
                          ROUND(tf * (LN((c + 1.0) / (df_t + 1.0)) + 1.0), 6) AS tfidf
                   FROM tf JOIN dft USING (tok) CROSS JOIN n)
        SELECT doc_id, tok, tf, tfidf FROM scored
        QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, tok) <= {k}
    """
