"""Text-analysis operators for LLM training-data pipelines.

The reference has no text operators at all (its only string handling is
the fixed header/cell-cleaning pipeline, converter/converter.go:201-211,
380-412); these are the SURVEY §7 M5 extensions over the ``documents``
table: token counting (whitespace + BPE-ish regex), quality scoring,
language ID (stopword-hit heuristic), document fingerprinting, TF-IDF
keyword extraction, PII scanning, and deterministic hash-based
train/test splitting and stratified sampling.

Scale posture: no collects, no Python UDFs anywhere. Most operators
are a single narrow codegen'd projection; TF-IDF adds the minimal
two aggregations + one term join its semantics require, and n-gram
stats one explode + grouped count. At 100 TB these run as map tasks
over parquet splits plus one shuffle per declared aggregation.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import (
    md5_60,
    md5_60_sql,
    shingles,
    shingles_sql,
    tokenize,
    two_phase_cumsum,
)
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.operators.cache import persist_tracked as _persist
from csv_to_parquet_spark.sources.tables import load_table, spread

CAT = Catalog()

# A small fixed English stopword list: enough signal for the n-gram/
# stopword-ratio language heuristic, and identical in the oracle SQL.
_STOPWORDS = (
    "the a an and or of to in is are was for on with as at by it this that "
    "from be not have has had but they you we he she i"
).split()
_STOP_SQL = ", ".join(f"'{w}'" for w in _STOPWORDS)

# BPE-ish tokenizer regex: runs of word chars OR single non-space symbols
# (the shape GPT-2's pre-tokenizer produces, minus byte-level details).
_BPE_RE = r"\w+|[^\w\s]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # regex/array per-row work on a single-file table → parallelize
    return spread(load_table(spark, sf_dir, "documents"))


@CAT.query(
    "text_token_counts",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_ws_tokens,
           CAST(len(regexp_extract_all(text, '{_BPE_RE}')) AS BIGINT) AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex tokens per doc."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokenize("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)).cast("bigint").alias(
            "n_bpe_tokens"
        ),
        F.length("text").cast("bigint").alias("n_chars_measured"),
    )


@CAT.query(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents)
    SELECT doc_id, n_chars,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(length(array_to_string(toks, '')) AS DOUBLE) / len(toks), 6) AS avg_token_len,
           ROUND(CAST(length(regexp_replace(text, '[^.,;:!?''"]', '', 'g')) AS DOUBLE)
                 / n_chars, 6) AS punct_ratio,
           ROUND(CAST(len(list_filter(toks, x -> lower(x) IN ({_STOP_SQL}))) AS DOUBLE)
                 / len(toks), 6) AS stopword_ratio,
           ROUND(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                 / n_chars, 6) AS alpha_ratio,
           ROUND(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS distinct_ratio
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring heuristics: length, punctuation/alpha/stopword
    ratios, vocabulary diversity — the standard pre-training filters.

    Hot-path engineering (this is the most text-heavy batch query):
    every per-token quantity is reformulated as a codegen'd string
    expression instead of an interpreted higher-order function —
    - stopword hits: one ``regexp_count`` DFA pass over the lowercased
      text (a token is a whitespace-delimited run, so ``\\s(stop|…)``
      with a ``(?=\\s)`` lookahead on space-padded text counts exactly
      the tokens whose lowercase form is in the stoplist; duplicates
      count, matching the oracle's ``list_filter``), replacing a
      per-token interpreted lambda with a 31-way ``isin``;
    - summed token length: ``length(regexp_replace(trim(text),
      '\\s+', ''))`` — all non-whitespace chars of the trimmed text —
      replacing ``array_join`` over the token array.
    Only ``array_distinct`` (a single native array pass) remains
    outside whole-stage codegen. Measured ~10× over the HOF
    formulation at sf0.1.
    """
    toks = tokenize("text")
    n_chars = F.length("text").cast("bigint")
    n_toks = F.size(toks)
    stop_re = r"\s(?:" + "|".join(_STOPWORDS) + r")(?=\s)"
    stop_hits = F.regexp_count(
        F.concat(F.lit(" "), F.lower("text"), F.lit(" ")), F.lit(stop_re)
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_chars.alias("n_chars"),
        n_toks.cast("bigint").alias("n_tokens"),
        F.round(
            F.length(F.regexp_replace(F.trim(F.col("text")), r"\s+", ""))
            .cast("double")
            / n_toks,
            6,
        ).alias("avg_token_len"),
        F.round(
            F.length(F.regexp_replace("text", "[^.,;:!?'\"]", "")).cast("double")
            / n_chars,
            6,
        ).alias("punct_ratio"),
        F.round(stop_hits.cast("double") / n_toks, 6).alias("stopword_ratio"),
        F.round(
            F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("double")
            / n_chars,
            6,
        ).alias("alpha_ratio"),
        F.round(F.size(F.array_distinct(toks)).cast("double") / n_toks, 6).alias(
            "distinct_ratio"
        ),
    )


@CAT.query(
    "text_language_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents)
    SELECT doc_id, lang AS lang_label,
           CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL}))) AS DOUBLE)
                     / len(toks) >= 0.03
                THEN 'en' ELSE 'unk' END AS lang_pred
    FROM t
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language heuristic: docs whose stopword ratio clears
    a threshold classify as 'en'. (A full n-gram model is just more
    terms in the same hit-ratio expression — the plan shape is what
    matters: one narrow map, no shuffle.)"""
    toks = tokenize(F.lower(F.col("text")))
    stop_re = r"\s(?:" + "|".join(_STOPWORDS) + r")(?=\s)"
    ratio = (
        F.regexp_count(
            F.concat(F.lit(" "), F.lower("text"), F.lit(" ")), F.lit(stop_re)
        ).cast("double")
        / F.size(toks)
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.col("lang").alias("lang_label"),
        F.when(ratio >= 0.03, "en").otherwise("unk").alias("lang_pred"),
    )


@CAT.query(
    "text_fingerprints",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents)
    SELECT doc_id,
           md5(text) AS content_md5,
           {md5_60_sql("array_to_string(list_sort(list_distinct(toks)), ' ')")} AS bow_fingerprint,
           {md5_60_sql("array_to_string(toks[1:8], ' ')")} AS prefix_fingerprint
    FROM t
    """,
)
def text_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: full-content md5, an order-insensitive
    bag-of-words fingerprint (sorted distinct tokens), and a prefix
    fingerprint (first 8 tokens) — the keys exact/near dedup group on."""
    toks = tokenize("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        md5_60(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias(
            "bow_fingerprint"
        ),
        md5_60(F.array_join(F.slice(toks, 1, 8), " ")).alias("prefix_fingerprint"),
    )


@CAT.query(
    "text_ngram_top50",
    oracle="""
    WITH t AS (
      SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents),
    g AS (
      SELECT unnest(CASE WHEN len(toks) >= 2
                    THEN [array_to_string(toks[i:i+1], ' ')
                          for i in range(1, len(toks))]
                    ELSE [] END) AS bigram
      FROM t)
    SELECT bigram, COUNT(*) AS n
    FROM g GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
    """,
)
def text_ngram_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigrams: explode → count → top-k.

    Partial aggregation runs map-side before the single shuffle on the
    bigram key; the final top-k is TakeOrderedAndProject.
    """
    toks = tokenize(F.lower(F.col("text")))
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        _docs(spark, sf_dir)
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Corpus statistics: TF-IDF
# ---------------------------------------------------------------------------

_TFIDF_K = 5


@CAT.query(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(*) AS n FROM documents),
    s AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n)
    SELECT doc_id, term, tfidf, rn
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
          FROM s) t
    WHERE rn <= {_TFIDF_K}
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{k} TF-IDF terms — the classic corpus-level
    keyword extraction.

    Plan: explode tokens → (doc, term) counts with map-side partial
    agg → document-frequency agg on the term key → join tf⋈df on term
    → broadcast the 1-row corpus count → per-doc top-k window. Two
    aggregations and one join, all on (term, long) pairs; ranking is
    on the ROUNDED score so sub-ulp ln() differences between engines
    cannot flip ranks (term asc breaks exact ties).
    """
    toks = tokenize(F.lower(F.col("text")))
    docs = _docs(spark, sf_dir)
    tf = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = F.broadcast(docs.agg(F.count(F.lit(1)).alias("n")))
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(n)
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
        .withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= _TFIDF_K)
        .select("doc_id", "term", "tfidf", "rn")
    )


# ---------------------------------------------------------------------------
# PII scanning and deterministic splits/sampling
# ---------------------------------------------------------------------------

# RE2-compatible patterns (no lookaround) so the DuckDB oracle runs the
# *identical* regex; Java's engine is a superset for these constructs.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
_PII_PHONE = r"\+?\d[\d\- ]{7,}\d"


@CAT.query(
    "text_pii_scan",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(text, '{_PII_IPV4}')) AS BIGINT) AS n_ipv4,
           CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS BIGINT) AS n_phoneish,
           (len(regexp_extract_all(text, '{_PII_EMAIL}')) > 0
            OR len(regexp_extract_all(text, '{_PII_IPV4}')) > 0
            OR len(regexp_extract_all(text, '{_PII_PHONE}')) > 0) AS has_pii
    FROM documents
    """,
)
def text_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection pass: count email / IPv4 / phone-shaped spans per
    document — the filter gate a pre-training pipeline runs before
    publishing a corpus. Pure codegen'd regexp_count projections, one
    narrow map at any scale."""
    n_em = F.regexp_count("text", F.lit(_PII_EMAIL)).cast("bigint")
    n_ip = F.regexp_count("text", F.lit(_PII_IPV4)).cast("bigint")
    n_ph = F.regexp_count("text", F.lit(_PII_PHONE)).cast("bigint")
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_em.alias("n_emails"),
        n_ip.alias("n_ipv4"),
        n_ph.alias("n_phoneish"),
        ((n_em > 0) | (n_ip > 0) | (n_ph > 0)).alias("has_pii"),
    )


@CAT.query(
    "split_train_test_hash",
    oracle=f"""
    SELECT doc_id,
           {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_test_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/10 train/test split by hash bucket — the
    reproducible alternative to randomSplit: stable across runs,
    engines, partitionings, and corpus growth (a doc's split never
    changes when other docs are added). One narrow map, no shuffle."""
    bucket = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(100))
    return _docs(spark, sf_dir).select(
        "doc_id",
        bucket.cast("bigint").alias("bucket"),
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )


@CAT.query(
    "split_leakage_safe_groups",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(text)) AS group_rep
      FROM documents)
    SELECT doc_id, group_rep,
           {md5_60_sql("CAST(group_rep AS VARCHAR)")} % 100 AS bucket,
           CASE WHEN {md5_60_sql("CAST(group_rep AS VARCHAR)")} % 100 < 90
                THEN 'train' ELSE 'test' END AS split
    FROM g
    """,
)
def split_leakage_safe_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-aware train/test split: every member of an exact
    duplicate group lands in the SAME split, keyed by the hash of the
    group's canonical representative (its minimum doc_id). The naive
    per-document split (``split_train_test_hash``) leaks evaluation
    data whenever a test document has a training-set duplicate — the
    classic contamination path dedup-aware splitting exists to close
    (the eval side of the same discipline as
    ``decontam_train_eval``).

    By construction the invariant "same group ⇒ same split" cannot be
    violated: the split is a pure function of group_rep. Plan: ONE
    exchange — the representative is a MIN window over the md5(text)
    partition (no groupBy + join-back, no second fact pass), then the
    bucket/split assignment is a narrow map. The md5 partition key
    never crosses engines; only the representative doc_id does, so
    the oracle comparison is hash-scheme-independent.
    """
    h = F.md5(F.col("text").cast("binary"))
    rep = F.min("doc_id").over(Window.partitionBy(h))
    bucket = F.pmod(md5_60(rep.cast("string")), F.lit(100))
    return _docs(spark, sf_dir).select(
        "doc_id",
        rep.alias("group_rep"),
        bucket.cast("bigint").alias("bucket"),
        F.when(bucket < 90, "train").otherwise("test").alias("split"),
    )


#: RAG-style chunking parameters: window and stride in tokens
#: (overlap = window − stride). Containment-free chunk count:
#: 1 + ceil(max(0, n − C)/S) — the last window clamps to the document
#: end instead of emitting a tail fully covered by its predecessor.
_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@CAT.query(
    "chunk_sliding_windows",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t
      FROM documents WHERE len(trim(text)) > 0),
    ch AS (
      SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
             CAST(1 + i*{_CHUNK_STRIDE} AS BIGINT) AS start_tok,
             CAST(LEAST(1 + i*{_CHUNK_STRIDE} + {_CHUNK_TOKENS} - 1, len(t))
               AS BIGINT) AS end_tok,
             array_to_string(
               t[1 + i*{_CHUNK_STRIDE}
                 : LEAST(1 + i*{_CHUNK_STRIDE} + {_CHUNK_TOKENS} - 1, len(t))],
               ' ') AS chunk
      FROM toks,
           UNNEST(range(0, 1 + (GREATEST(len(t) - {_CHUNK_TOKENS}, 0)
                                + {_CHUNK_STRIDE} - 1) // {_CHUNK_STRIDE}))
             u(i))
    SELECT doc_id, chunk_idx, start_tok, end_tok,
           end_tok - start_tok + 1 AS n_tokens,
           {md5_60_sql("chunk")} AS chunk_hash
    FROM ch
    """,
)
def chunk_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the splitter every
    embedding/RAG ingestion pipeline runs before vectorizing:
    ``_CHUNK_TOKENS``(=32)-token windows at stride
    ``_CHUNK_STRIDE``(=24), overlap 8, the final window
    clamped to the document end. The chunk COUNT rule is
    containment-free — 1 + ceil(max(0, n−C)/S) — so a short tail that
    would sit entirely inside its predecessor is never emitted
    (verified: zero chunks with end ≤ previous end on the fixture).

    Output pins CONTENT, not just offsets: chunk_hash is the shared
    60-bit md5 of the space-joined window, so the oracle verifies the
    exact token spans cross-engine. Plan: ONE narrow map — the token
    array never explodes; windows are built per row by a JVM
    ``transform`` over the chunk-index sequence and then unnested to
    chunk rows. No shuffle at any corpus size; chunking 100 TB is
    exactly one pass over the scan.
    """
    C, S = _CHUNK_TOKENS, _CHUNK_STRIDE
    toks = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", tokenize("text").alias("t"))
    )
    n = F.size("t")

    def _chunk_struct(i):
        end = F.least(i * S + C, n)  # bound once: end_tok AND slice length
        return F.struct(
            i.cast("bigint").alias("chunk_idx"),
            (i * S + 1).cast("bigint").alias("start_tok"),
            end.cast("bigint").alias("end_tok"),
            md5_60(
                F.concat_ws(" ", F.slice("t", i * S + 1, end - (i * S)))
            ).alias("chunk_hash"),
        )

    return toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.expr(
                        f"(greatest(size(t) - {C}, 0) + {S - 1}) div {S}"
                    ).cast("int"),
                ),
                _chunk_struct,
            )
        ).alias("c"),
    ).select(
        "doc_id",
        "c.chunk_idx",
        "c.start_tok",
        "c.end_tok",
        (F.col("c.end_tok") - F.col("c.start_tok") + 1).alias("n_tokens"),
        "c.chunk_hash",
    )


# per-mille keep rates per language band — EN-heavy corpora downsample
# the dominant language, keep the tail
_STRATA_PERMILLE = {"en": 300, "de": 700, "fr": 700}
_STRATA_DEFAULT = 1000


@CAT.query(
    "sample_stratified_hash",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang,
             {md5_60_sql("CAST(doc_id AS VARCHAR)")} % 1000 AS h
      FROM documents)
    SELECT doc_id, lang FROM r
    WHERE h < CASE lang
        {" ".join(f"WHEN '{k}' THEN {v}" for k, v in _STRATA_PERMILLE.items())}
        ELSE {_STRATA_DEFAULT} END
    """,
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with per-language keep rates, decided by a
    deterministic hash bucket instead of an RNG — exactly reproducible
    (same membership in every engine and run), unlike ``sampleBy``
    whose membership is seed- and partitioning-dependent. One narrow
    map; the rate table is a literal CASE, no join."""
    h = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(1000))
    expr = F.lit(_STRATA_DEFAULT)
    for k, v in reversed(_STRATA_PERMILLE.items()):
        expr = F.when(F.col("lang") == k, F.lit(v)).otherwise(expr)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", h.alias("h"), expr.alias("rate"))
        .filter(F.col("h") < F.col("rate"))
        .select("doc_id", "lang")
    )


#: Hash-bucket resolution for the balanced-mix sampler (2^20 buckets —
#: keep-rate granularity ~1e-6, plenty below any real mix tolerance).
_MIX_BUCKETS = 1 << 20


@CAT.query(
    "sample_balanced_mix",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
    m AS (SELECT MIN(n_s) AS mn FROM c),
    r AS (
      SELECT doc_id, source,
             {md5_60_sql("CAST(doc_id AS VARCHAR)")} % {_MIX_BUCKETS} AS h
      FROM documents)
    SELECT doc_id, source
    FROM r JOIN c USING (source) CROSS JOIN m
    WHERE h * n_s < mn * {_MIX_BUCKETS}
    """,
)
def sample_balanced_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven training-mix resampler: downsample every ``source``
    to the size of the SMALLEST source, so the sampled corpus has a
    uniform source mix — the "balance your data mixture" step of
    training-set assembly, with rates computed FROM the data rather
    than a hardcoded table (contrast :func:`sample_stratified_hash`).

    Membership is deterministic (md5 hash bucket vs keep-rate), and the
    rate comparison ``h·n_s < min·2^20`` is exact bigint arithmetic on
    both engines — no float rate ever materializes, so the sample is
    bit-identical cross-engine and run-to-run.

    Scale shape: one map-side-combined count agg (rows = #sources),
    broadcast back; the sampler itself is a narrow filter over the
    scan. The 1-row global MIN broadcasts via a scalar cross join."""
    d = _docs(spark, sf_dir)
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_s"))
    mn = counts.agg(F.min("n_s").alias("mn"))
    h = F.pmod(md5_60(F.col("doc_id").cast("string")), F.lit(_MIX_BUCKETS))
    return (
        d.select("doc_id", "source", h.alias("h"))
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(mn))
        .filter(F.col("h") * F.col("n_s") < F.col("mn") * F.lit(_MIX_BUCKETS))
        .select("doc_id", "source")
    )


# ---------------------------------------------------------------------------
# Gopher-style repetition filters (Rae et al. 2021, §A1.1): drop
# documents dominated by repeated n-grams. The corpus has no newlines,
# so the line/paragraph variants are degenerate here; the token-level
# family (top-unigram fraction, duplicate 2/3-gram fractions) carries
# the same signal. Thresholds are parameterized module constants.
# ---------------------------------------------------------------------------

_REP_TOP1_MAX = 0.20  # most-frequent token may cover ≤20% of tokens
_REP_DUP2_MAX = 0.20  # ≤20% of word 2-grams may be repeats
_REP_DUP3_MAX = 0.15  # ≤15% of word 3-grams may be repeats
_TOKS_SQL = "regexp_split_to_array(trim(text), '\\s+')"


@CAT.query(
    "text_repetition_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    g AS (
      SELECT doc_id, toks,
             {shingles_sql("toks", 2)} AS g2,
             {shingles_sql("toks", 3)} AS g3
      FROM t)
    SELECT doc_id,
           ROUND(CAST(list_max(list_transform(list_distinct(toks),
                   d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                 / len(toks), 6) AS top_unigram_frac,
           CASE WHEN len(g2) > 0
                THEN ROUND(CAST(1.0 AS DOUBLE)
                           - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
                ELSE 0.0 END AS dup_2gram_frac,
           CASE WHEN len(g3) > 0
                THEN ROUND(CAST(1.0 AS DOUBLE)
                           - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                ELSE 0.0 END AS dup_3gram_frac,
           (ROUND(CAST(list_max(list_transform(list_distinct(toks),
                    d -> len(list_filter(toks, x -> x = d)))) AS DOUBLE)
                  / len(toks), 6) <= {_REP_TOP1_MAX}
            AND (CASE WHEN len(g2) > 0
                 THEN ROUND(CAST(1.0 AS DOUBLE)
                            - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
                 ELSE 0.0 END) <= {_REP_DUP2_MAX}
            AND (CASE WHEN len(g3) > 0
                 THEN ROUND(CAST(1.0 AS DOUBLE)
                            - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
                 ELSE 0.0 END) <= {_REP_DUP3_MAX}) AS keep
    FROM g
    """,
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gate: per doc, the fraction of tokens
    covered by the single most frequent token, and the duplicate
    fraction of word 2-grams / 3-grams, plus the resulting keep flag.

    Scale posture: one narrow zero-shuffle projection — every metric
    is an array HOF over the doc's own token array, so cost is
    O(tokens x distinct-tokens) per row with NO data movement; at
    100 TB this runs as map tasks over parquet splits. (For very long
    documents the explode + groupBy formulation bounds per-row cost;
    at this corpus' ~56 tokens/doc the in-row form wins by avoiding a
    shuffle entirely.) Ratios are ROUND(·, 6) before the threshold
    compare, so the keep flag cannot flip on cross-engine float drift.
    """
    toks = tokenize("text")
    df = _docs(spark, sf_dir).select("doc_id", toks.alias("toks"))
    n = F.size("toks")
    counts = F.transform(
        F.array_distinct("toks"),
        lambda d: F.size(F.filter(F.col("toks"), lambda x: x == d)),
    )
    top1 = F.round(F.array_max(counts).cast("double") / n, 6)

    def dup_frac(g):
        return F.when(
            F.size(g) > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(g)).cast("double") / F.size(g), 6
            ),
        ).otherwise(F.lit(0.0))

    dup2 = dup_frac(shingles(F.col("toks"), 2))
    dup3 = dup_frac(shingles(F.col("toks"), 3))
    return df.select(
        "doc_id",
        top1.alias("top_unigram_frac"),
        dup2.alias("dup_2gram_frac"),
        dup3.alias("dup_3gram_frac"),
        (
            (top1 <= _REP_TOP1_MAX)
            & (dup2 <= _REP_DUP2_MAX)
            & (dup3 <= _REP_DUP3_MAX)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# Train/eval decontamination: flag training documents that share any
# word n-gram with a held-out evaluation split — the standard guard
# against benchmark leakage into pre-training corpora. Production
# windows are 8-13 tokens; with this corpus' ~30-word vocabulary a
# 4-token window produces the same sparse-overlap statistics.
# ---------------------------------------------------------------------------

_DECON_MOD = 20  # doc_id % 20 == 0 → the held-out "benchmark" split
_DECON_N = 4


@CAT.query(
    "decontam_train_eval",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    sh AS (
      SELECT doc_id, unnest(list_distinct({shingles_sql("toks", _DECON_N)})) AS s
      FROM t),
    ev AS (SELECT DISTINCT s FROM sh WHERE doc_id % {_DECON_MOD} = 0),
    tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {_DECON_MOD} <> 0)
    SELECT tr.doc_id, COUNT(*) AS n_hit_shingles
    FROM tr JOIN ev USING (s)
    GROUP BY tr.doc_id
    """,
)
def decontam_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-decontamination scan: training docs that contain any
    4-token shingle also present in the eval split, with the count of
    distinct contaminated shingles per doc.

    Scale posture: the eval side of the join is a benchmark set —
    tiny and fixed-size relative to a 100 TB training corpus — so its
    distinct shingles are BROADCAST and the train side never shuffles
    for the join; the only exchange is the final per-doc count. Both
    sides deduplicate shingles inside the row (array_distinct before
    explode), so a doc repeating one contaminated shingle counts it
    once and the exploded volume is bounded by distinct shingles.
    """
    docs = _docs(spark, sf_dir)
    sh = docs.select(
        "doc_id",
        F.explode(F.array_distinct(shingles(tokenize("text"), _DECON_N))).alias("s"),
    )
    ev = sh.filter(F.col("doc_id") % _DECON_MOD == 0).select("s").distinct()
    tr = sh.filter(F.col("doc_id") % _DECON_MOD != 0)
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hit_shingles"))
    )


@CAT.query(
    "profile_corpus_stats",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           ROUND(quantile_cont(n_chars, 0.5), 6) AS med_chars,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_exact_dups
    FROM documents GROUP BY lang
    """,
)
def profile_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus health report, one scan: per language — doc count,
    source cardinality, median length, and exact-duplicate count
    (docs minus distinct content hashes). The dashboard numbers a
    data curator checks before/after each pipeline stage.

    Both engines interpolate the median with the same (n-1)*q rank
    convention, and integer inputs make the interpolation arithmetic
    exact, so even the percentile is oracle-exact. One shuffle on
    lang (tiny key space); the distinct aggregates expand map-side
    like any multi-distinct hash aggregation."""
    return (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 6).alias("med_chars"),
            (F.count(F.lit(1)) - F.count_distinct(F.md5("text")))
            .cast("bigint")
            .alias("n_exact_dups"),
        )
    )


# ---------------------------------------------------------------------------
# Collocation mining and deterministic training-shard assignment
# ---------------------------------------------------------------------------

#: Minimum bigram occurrences to qualify as a collocation candidate.
_COLLOC_MIN_COUNT = 5
#: Collocations reported.
_COLLOC_TOP_K = 50
#: Training shards for the deterministic shard assigner.
_N_SHARDS = 16


@CAT.query(
    "text_bigram_colloc",
    oracle=f"""
    WITH t AS (
      SELECT regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    tot AS (
      SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_uni,
             CAST(SUM(CASE WHEN len(toks) >= 2 THEN len(toks) - 1
                           ELSE 0 END) AS BIGINT) AS n_bi
      FROM t),
    uni AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c_tok
      FROM (SELECT unnest(toks) AS tok FROM t) GROUP BY tok),
    bi AS (
      SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_bi
      FROM (SELECT unnest({shingles_sql("toks", 2)}) AS bigram FROM t)
      GROUP BY bigram
      HAVING COUNT(*) >= {_COLLOC_MIN_COUNT}),
    j AS (
      SELECT b.bigram, b.c_bi, u1.c_tok AS c_w1, u2.c_tok AS c_w2
      FROM bi b
      JOIN uni u1 ON u1.tok = split_part(b.bigram, ' ', 1)
      JOIN uni u2 ON u2.tok = split_part(b.bigram, ' ', 2))
    SELECT bigram, c_bi, c_w1, c_w2,
           round((CAST(c_bi AS DOUBLE) * n_uni * n_uni) /
                 (CAST(n_bi AS DOUBLE) * c_w1 * c_w2), 6) AS lift
    FROM j CROSS JOIN tot
    ORDER BY lift DESC, bigram
    LIMIT {_COLLOC_TOP_K}
    """,
)
def text_bigram_colloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise lift
    ``P(w1 w2) / (P(w1)·P(w2))`` — the phrase-detection pass a corpus
    pipeline runs before tokenizer training or n-gram language
    modeling. Lift is the exp of PMI; ranking by it avoids a log()
    whose last-bit rounding differs across engines, while the
    multiply/divide chain is plain IEEE arithmetic written identically
    in both engines (operands derive from exact bigint counts).

    Two grouped counts (unigrams, bigrams) + two key joins to attach
    constituent-word counts to each surviving bigram; the
    ``count >= _COLLOC_MIN_COUNT`` gate prunes the bigram side
    BEFORE the joins, and the 1-row totals broadcast. Top-k plans as
    TakeOrderedAndProject, ties broken by the unique bigram string.
    At 100 TB the joins shuffle on word keys — bounded by vocabulary,
    not corpus size, and AQE handles the Zipfian skew of the
    high-frequency function words.
    """
    toks = _docs(spark, sf_dir).select(tokenize("text").alias("toks"))
    tot = toks.agg(
        F.sum(F.size("toks")).cast("bigint").alias("n_uni"),
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).cast("bigint").alias("n_bi"),
    )
    uni = (
        toks.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c_tok"))
    )
    bi = (
        toks.select(F.explode(shingles(F.col("toks"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_bi"))
        .filter(F.col("c_bi") >= _COLLOC_MIN_COUNT)
    )
    j = (
        bi.withColumn("w1", F.substring_index("bigram", " ", 1))
        .withColumn("w2", F.substring_index("bigram", " ", -1))
        .join(uni.select(F.col("tok").alias("w1"), F.col("c_tok").alias("c_w1")), "w1")
        .join(uni.select(F.col("tok").alias("w2"), F.col("c_tok").alias("c_w2")), "w2")
    )
    lift = F.round(
        (F.col("c_bi").cast("double") * F.col("n_uni") * F.col("n_uni"))
        / (F.col("n_bi").cast("double") * F.col("c_w1") * F.col("c_w2")),
        6,
    )
    return (
        j.crossJoin(F.broadcast(tot))
        .select("bigram", "c_bi", "c_w1", "c_w2", lift.alias("lift"))
        .orderBy(F.desc("lift"), "bigram")
        .limit(_COLLOC_TOP_K)
    )


@CAT.query(
    "shard_assign_training",
    oracle=f"""
    WITH s AS (
      SELECT doc_id,
             {md5_60_sql("CAST(doc_id AS VARCHAR) || '#shard'")} % {_N_SHARDS}
               AS shard,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents)
    SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM s GROUP BY shard
    """,
)
def shard_assign_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance report: every
    doc hashes to one of ``_N_SHARDS`` shards (salted md5 bucket,
    decorrelated from the train/test split hash by the ``#shard``
    salt), and the report shows per-shard doc and token totals — the
    pre-write step of publishing a sharded training corpus, where the
    writer would ``repartition(n, shard)`` then write one file set per
    shard.

    Membership is a narrow map (no RNG, stable under corpus growth);
    the balance report is one map-side-combined aggregation on a
    16-key space. Token sums are exact bigints; the oracle
    casts its SUM back from DuckDB's HUGEINT.
    """
    shard = F.pmod(
        md5_60(F.concat(F.col("doc_id").cast("string"), F.lit("#shard"))),
        F.lit(_N_SHARDS),
    )
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            shard.alias("shard"),
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch — deterministic, hence oracle-EXACT (unlike the HLL /
# approx-percentile entries, which are rows-only): both engines build
# the identical d×w counter matrix from the same md5-derived row
# hashes, so even the sketch's *over*-estimates match bit-for-bit.
# ---------------------------------------------------------------------------

#: Count-min depth (independent hash rows) and width (counters/row).
_CM_DEPTH = 4
_CM_WIDTH = 64
#: Heavy hitters probed against the sketch.
_CM_TOP_K = 20


@CAT.query(
    "sketch_count_min_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents),
    rs AS (SELECT unnest(range({_CM_DEPTH})) AS r),
    cells AS (
      SELECT r.r,
             {md5_60_sql("tok || '#cm' || CAST(r.r AS VARCHAR)")}
               % {_CM_WIDTH} AS col,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, rs r GROUP BY 1, 2),
    top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM toks GROUP BY tok
      ORDER BY true_count DESC, tok LIMIT {_CM_TOP_K})
    SELECT t.tok, t.true_count, MIN(c.cnt) AS cm_estimate,
           (MIN(c.cnt) = t.true_count) AS is_exact
    FROM top t
    JOIN rs u ON true
    JOIN cells c
      ON c.r = u.r
     AND c.col = {md5_60_sql("t.tok || '#cm' || CAST(u.r AS VARCHAR)")}
               % {_CM_WIDTH}
    GROUP BY t.tok, t.true_count
    """,
)
def sketch_count_min_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + probe: fold the corpus token stream
    into a 4×64 counter matrix (row r counts tokens by
    ``md5(tok + salt_r) mod 64``), then probe the matrix for the 20
    most frequent tokens — the estimate is the min across rows, which
    upper-bounds the true count (CM's one-sided error). ``is_exact``
    flags probes where no bucket collision inflated the estimate.

    Because the hash rows are fixed md5-derived functions, the sketch
    is fully deterministic and the oracle reproduces the exact matrix
    — this entry carries a value-exact check where classic randomized
    sketches can only be rows-only. Scale shape: the build is one
    explode (×4 rows per token via the per-row hash array) into a
    map-side-combined count over a FIXED 256-cell key space — the
    sketch never grows with the corpus, which is its whole point; the
    probe joins 20×4 hash keys against those 256 aggregated cells.
    """
    toks = _docs(spark, sf_dir).select(
        F.explode(tokenize("text")).alias("tok")
    )
    def col_for(tok_col: F.Column, r: F.Column | int) -> F.Column:
        r_str = (
            F.lit(str(r)) if isinstance(r, int) else r.cast("string")
        )
        return F.pmod(
            md5_60(F.concat(tok_col, F.lit("#cm"), r_str)), F.lit(_CM_WIDTH)
        )

    cells = (
        toks.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            col_for(F.col("tok"), r).alias("col"),
                        )
                        for r in range(_CM_DEPTH)
                    ]
                )
            ).alias("rc")
        )
        .groupBy(F.col("rc.r").alias("r"), F.col("rc.col").alias("col"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("true_count"))
        .orderBy(F.desc("true_count"), "tok")
        .limit(_CM_TOP_K)
    )
    probes = top.select(
        "tok",
        "true_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        col_for(F.col("tok"), r).alias("col"),
                    )
                    for r in range(_CM_DEPTH)
                ]
            )
        ).alias("rc"),
    ).select("tok", "true_count", F.col("rc.r").alias("r"), F.col("rc.col").alias("col"))
    return (
        probes.join(F.broadcast(cells), ["r", "col"])
        .groupBy("tok", "true_count")
        .agg(F.min("cnt").alias("cm_estimate"))
        .select(
            "tok",
            "true_count",
            "cm_estimate",
            (F.col("cm_estimate") == F.col("true_count")).alias("is_exact"),
        )
    )


@CAT.query(
    "mix_temperature_weights",
    oracle=f"""
    WITH g AS (
      SELECT lang,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(SUM(len(regexp_extract_all(text, '{_BPE_RE}'))) AS BIGINT)
               AS n_tokens
      FROM documents GROUP BY lang)
    SELECT lang, n_docs, n_tokens,
           round(CAST(n_tokens AS DOUBLE) / SUM(n_tokens) OVER (), 6)
             AS raw_share,
           round(sqrt(CAST(n_tokens AS DOUBLE)) /
                 SUM(sqrt(CAST(n_tokens AS DOUBLE))) OVER (), 6)
             AS sample_weight
    FROM g
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix temperature sampling weights per language: raw
    token share and the temperature-flattened sampling weight
    p_i ∝ tokens_i^τ with τ = 0.5 (the multilingual-LM upsampling
    scheme that boosts low-resource slices) — the table a data-mixing
    stage feeds into its per-domain samplers.

    One groupBy(lang) with map-side partial token sums (the fact-scale
    work); the normalizing window runs over ≤|langs| rows. τ = 0.5 is
    deliberately sqrt — IEEE-exact and correctly rounded in both
    engines, unlike pow(x, 0.7) whose libm last-ulp may differ."""
    g = _docs(spark, sf_dir).groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), 0)))
        .cast("bigint")
        .alias("n_tokens"),
    )
    w = Window.partitionBy()
    tok_d = F.col("n_tokens").cast("double")
    return g.select(
        "lang",
        "n_docs",
        "n_tokens",
        F.round(tok_d / F.sum(tok_d).over(w), 6).alias("raw_share"),
        F.round(
            F.sqrt(tok_d) / F.sum(F.sqrt(tok_d)).over(w), 6
        ).alias("sample_weight"),
    )


@CAT.query(
    "lang_mismatch_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             regexp_split_to_array(trim(lower(text)), '\\s+') AS toks
      FROM documents),
    p AS (
      SELECT lang AS lang_label,
             CASE WHEN CAST(len(list_filter(toks, x -> x IN ({_STOP_SQL})))
                       AS DOUBLE) / len(toks) >= 0.03
                  THEN 'en' ELSE 'unk' END AS lang_pred
      FROM t)
    SELECT lang_label, lang_pred,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(CAST(count(*) AS DOUBLE) /
                 SUM(count(*)) OVER (PARTITION BY lang_label), 6)
             AS pct_of_label
    FROM p GROUP BY lang_label, lang_pred
    """,
)
def lang_mismatch_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix: for every
    (declared lang, predicted lang) cell, the doc count and its share
    of the declared label — the audit a multilingual corpus runs to
    find mislabeled slices before per-language mixing/filtering trusts
    the metadata column.

    Same narrow stopword-ratio classifier as ``text_language_id`` (one
    regexp_count DFA pass, no shuffle on the fact side), then one
    groupBy over the ≤|langs|² cells; the share-normalizing window
    runs on the aggregated grid only."""
    stop_re = r"\s(?:" + "|".join(_STOPWORDS) + r")(?=\s)"
    ratio = (
        F.regexp_count(
            F.concat(F.lit(" "), F.lower("text"), F.lit(" ")), F.lit(stop_re)
        ).cast("double")
        / F.size(tokenize(F.lower(F.col("text"))))
    )
    p = _docs(spark, sf_dir).select(
        F.col("lang").alias("lang_label"),
        F.when(ratio >= 0.03, "en").otherwise("unk").alias("lang_pred"),
    )
    g = p.groupBy("lang_label", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    wl = Window.partitionBy("lang_label")
    return g.select(
        "lang_label",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(wl), 6
        ).alias("pct_of_label"),
    )


#: Tokens per segment for line-level (segment-level) dedup.
_SEG_TOKENS = 10


@CAT.query(
    "dedup_segment_lines",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             array_to_string(
               toks[i*{_SEG_TOKENS}+1 : i*{_SEG_TOKENS}+{_SEG_TOKENS}], ' ')
               AS seg
      FROM t, unnest(range(0, len(toks) // {_SEG_TOKENS})) AS u(i)
      WHERE len(toks) >= {_SEG_TOKENS}),
    d AS (
      SELECT seg, count(DISTINCT doc_id) AS nd FROM s GROUP BY seg)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_segs,
           round(CAST(SUM(CASE WHEN d.nd > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS dup_frac
    FROM s JOIN d USING (seg)
    GROUP BY s.doc_id
    """,
)
def dedup_segment_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (line-level) dedup audit: each doc is cut into
    consecutive 10-token segments; a segment is "duplicated"
    when the identical segment occurs in more than one distinct doc,
    and each doc reports its duplicated-segment fraction — the
    C4/RefinedWeb-style line-dedup signal, adapted to unpunctuated
    text via fixed token windows.

    One explode to (doc_id, segment), one groupBy(segment) with
    map-side-partial distinct-doc counts, one shuffle join back on the
    segment key, one groupBy(doc_id) — every shuffled row is a short
    segment string or an id, never the document. (The production
    variant hashes segments to 8-byte keys before the shuffle; here
    the plain string IS the join key so the oracle can reproduce it
    verbatim — xxhash64 would be Spark-only.) Trailing partial
    segments are ignored (short tails carry no dedup signal)."""
    toks = tokenize("text")
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= _SEG_TOKENS)
    )
    segs = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(0), F.expr(f"size(toks) div {_SEG_TOKENS}") - 1
                ),
                lambda i: F.array_join(
                    F.slice("toks", i * _SEG_TOKENS + 1, _SEG_TOKENS), " "
                ),
            )
        ).alias("seg"),
    )
    counts = segs.groupBy("seg").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    dup = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (
        segs.join(counts, "seg")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_segs"),
            dup.cast("bigint").alias("n_dup_segs"),
            F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_frac"
            ),
        )
    )


@CAT.query(
    "bpe_merge_candidates",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS t
      FROM documents),
    p AS (
      SELECT substring(t, CAST(i AS INTEGER), 2) AS pair
      FROM tok, unnest(range(1, length(t))) AS u(i)
      WHERE length(t) >= 2)
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY pair
    ORDER BY n DESC, pair LIMIT 50
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge step: corpus-wide frequencies of adjacent
    character pairs inside (lowercased) tokens, top 50 — the counting
    pass a byte-pair-encoding tokenizer trainer runs to pick its next
    merge rule. Each token OCCURRENCE votes (training counts weight by
    frequency, not vocabulary membership).

    Two narrow explodes (token, then its length−1 overlapping char
    pairs via a substring transform — all codegen'd string ops), one
    count groupBy with map-side partials over the tiny pair space
    (≤ |alphabet|²), and a TakeOrderedAndProject top-50 with a
    deterministic (count desc, pair) tiebreak. At 100 TB this is a
    pure map + one bounded-cardinality aggregation."""
    tok = _docs(spark, sf_dir).select(
        F.explode(tokenize(F.lower(F.col("text")))).alias("t")
    )
    pairs = tok.filter(F.length("t") >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("t") - 1),
                lambda i: F.substring(F.col("t"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


#: Merge rounds learned by the BPE trainer (each is a full
#: pair-count + argmax + apply cycle — the sequential dependency that
#: makes tokenizer training the canonical iterative corpus job).
_BPE_LEARN_ROUNDS = 8


@CAT.query(
    "bpe_learn_merges",
    oracle="""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE len(trim(text)) > 0),
    words AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY w),
    s0 AS (SELECT w, f,
                  ' ' || trim(regexp_replace(w, '(?s)(.)', '\\1 ', 'g')) || ' '
                    AS seg
           FROM words),
    
    p1 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s0) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m1 AS (SELECT a, b, c FROM p1 ORDER BY c DESC, a, b LIMIT 1),
    s1 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s0, m1 m),
    p2 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s1) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m2 AS (SELECT a, b, c FROM p2 ORDER BY c DESC, a, b LIMIT 1),
    s2 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s1, m2 m),
    p3 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s2) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m3 AS (SELECT a, b, c FROM p3 ORDER BY c DESC, a, b LIMIT 1),
    s3 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s2, m3 m),
    p4 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s3) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m4 AS (SELECT a, b, c FROM p4 ORDER BY c DESC, a, b LIMIT 1),
    s4 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s3, m4 m),
    p5 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s4) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m5 AS (SELECT a, b, c FROM p5 ORDER BY c DESC, a, b LIMIT 1),
    s5 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s4, m5 m),
    p6 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s5) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m6 AS (SELECT a, b, c FROM p6 ORDER BY c DESC, a, b LIMIT 1),
    s6 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s5, m6 m),
    p7 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s6) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m7 AS (SELECT a, b, c FROM p7 ORDER BY c DESC, a, b LIMIT 1),
    s7 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s6, m7 m),
    p8 AS (
      SELECT syms[i] AS a, syms[i+1] AS b, SUM(f) AS c
      FROM (SELECT f, regexp_split_to_array(trim(seg), ' ') AS syms
            FROM s7) t,
           UNNEST(range(1, len(syms))) u(i)
      GROUP BY 1, 2),
    m8 AS (SELECT a, b, c FROM p8 ORDER BY c DESC, a, b LIMIT 1),
    s8 AS (
      SELECT w, f, replace(replace(seg, ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' '), ' ' || m.a || ' ' || m.b || ' ', ' ' || m.a || m.b || ' ') AS seg
      FROM s7, m8 m)
    SELECT * FROM (SELECT 1 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m1 UNION ALL SELECT 2 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m2 UNION ALL SELECT 3 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m3 UNION ALL SELECT 4 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m4 UNION ALL SELECT 5 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m5 UNION ALL SELECT 6 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m6 UNION ALL SELECT 7 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m7 UNION ALL SELECT 8 AS rank, a AS sym_a, b AS sym_b, CAST(c AS BIGINT) AS pair_freq FROM m8) ORDER BY rank
    """,
)
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — the learn side that completes the
    catalog's byte-pair-encoding triptych (``bpe_merge_candidates``
    counts one round's candidates; ``text_subword_merge_stats``
    applies a fixed cascade): run 8 full merge rounds and emit
    the ordered merge table (rank, pair, frequency) — the artifact a
    tokenizer trainer ships.

    Shape: classic BPE trains on the WORD-TYPE histogram, not the
    corpus — the per-round frames are vocabulary-sized, which is what
    makes iterative tokenizer training tractable at 100 TB (one
    corpus-scale tokenize + groupBy builds the histogram; every merge
    round after that touches only word types × their frequencies).
    Each round: adjacent-pair counts via a narrow zip of the symbol
    array against itself (no shuffle beyond the tiny pair groupBy), a
    deterministic argmax (count DESC, pair ASC — TakeOrdered, one
    model-sized collect per round, the k-means-centroid pattern), and
    the merge applied under the SAME replace-scan contract as
    ``text_subword_merge_stats``/``_sw_segment_sql``: TWO
    left-to-right non-overlapping literal replaces on the
    space-delimited symbol string (one pass misses back-to-back
    occurrences that share a delimiter space — ' b a n a n a ' with
    merge (a,n) single-replaces to ' b an a n a ', two passes reach
    greedy BPE's ' b an an a '). As documented on the sibling, this
    equals classic greedy BPE everywhere except unbounded same-pair
    adjacency chains, where a bounded number of passes merges in a
    different (still deterministic) grouping. The char interleave is
    DOTALL ('(?s)') so Java and RE2 dots agree on U+0085/U+2028/
    U+2029 inside tokens (see ``_sw_segment_sql``).

    If every word type collapses to a single symbol before
    8 rounds complete, the trainer stops early and emits the
    merges learned so far (vocabulary exhausted — nothing left to
    merge).

    The oracle replays all 8 rounds as chained CTEs, so the
    LEARNED MERGES — not merely counts — are verified cross-engine.
    The lazy replace chain recomputes from the persisted histogram
    each round (8 narrow string ops at most — cheaper than
    re-persisting vocabulary-sized churn every round).
    """
    words = _persist(
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(F.explode(tokenize(F.lower(F.col("text")))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    seg = words.select(
        "w",
        "f",
        F.concat(
            F.lit(" "),
            F.trim(F.regexp_replace("w", "(?s)(.)", "$1 ")),
            F.lit(" "),
        ).alias("seg"),
    )
    merges = []
    for rank in range(1, _BPE_LEARN_ROUNDS + 1):
        syms = F.split(F.trim("seg"), " ")
        pairs = seg.select(
            "f",
            F.explode(
                F.arrays_zip(
                    F.slice(syms, 1, F.size(syms) - 1).alias("a"),
                    F.slice(syms, 2, F.size(syms) - 1).alias("b"),
                )
            ).alias("p"),
        )
        rows = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("f").alias("c"))
            .orderBy(F.desc("c"), "a", "b")
            .limit(1)
            .collect()
        )
        if not rows:  # vocabulary exhausted: stop early, keep merges
            break
        top = rows[0]
        merges.append((rank, top.a, top.b, int(top.c)))
        pat = F.lit(f" {top.a} {top.b} ")
        rep = F.lit(f" {top.a}{top.b} ")
        seg = seg.withColumn(
            "seg", F.replace(F.replace(F.col("seg"), pat, rep), pat, rep)
        )
    return spark.createDataFrame(
        merges, "rank BIGINT, sym_a STRING, sym_b STRING, pair_freq BIGINT"
    )


#: Vocabulary size and per-doc encode length for text_vocab_encode.
_VOCAB_K = 1000
_ENC_LEN = 20


@CAT.query(
    "text_vocab_encode",
    oracle=f"""
    WITH allt AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents),
    vc AS (SELECT t, count(*) AS n FROM allt GROUP BY t),
    vocab AS (
      SELECT t, row_number() OVER (ORDER BY n DESC, t) AS id
      FROM vc QUALIFY id <= {_VOCAB_K}),
    d AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+')[1:{_ENC_LEN}] AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, toks[CAST(i AS INTEGER)] AS t, i AS pos
      FROM d, unnest(range(1, len(toks) + 1)) AS u(i)),
    enc AS (
      SELECT tok.doc_id, tok.pos, CAST(COALESCE(v.id, 0) AS BIGINT) AS id
      FROM tok LEFT JOIN vocab v ON v.t = tok.t)
    SELECT doc_id,
           array_to_string(list(id ORDER BY pos), ',') AS ids_csv,
           CAST(SUM(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
    FROM enc GROUP BY doc_id
    """,
)
def text_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary encoding — the id-mapping step of dataset prep: build
    a frequency-ranked top-K token vocabulary (deterministic
    (count desc, token) tiebreak), then encode each document's leading
    tokens as ids, OOV → 0, with an OOV count per doc. (The id
    sequence is emitted CSV-joined — the driver's order-insensitive
    value hash needs hashable cells, and the join preserves the exact
    ordered sequence.)

    Vocab build is one corpus-wide count groupBy + TakeOrdered top-K;
    the rank window then runs over the K surviving rows only (a
    bounded model table, same contract as the k-means centroid
    collect — never a global sort of the corpus). Encoding is a
    broadcast left join of the exploded (doc, pos, token) frame
    against the K-row vocab, re-bagged per doc by one groupBy with an
    ``array_sort`` on (pos, id) structs — order is carried by data,
    not by partition luck."""
    toks = tokenize("text")
    docs = _docs(spark, sf_dir)
    vc = docs.select(F.explode(toks).alias("t")).groupBy("t").agg(
        F.count(F.lit(1)).alias("n")
    )
    top = vc.orderBy(F.desc("n"), "t").limit(_VOCAB_K)
    w = Window.orderBy(F.desc("n"), "t")  # K bounded rows post-limit
    vocab = top.select("t", F.row_number().over(w).cast("bigint").alias("id"))
    tok = docs.select(
        "doc_id", F.posexplode(F.slice(toks, 1, _ENC_LEN)).alias("pos", "t")
    )
    enc = tok.join(F.broadcast(vocab), "t", "left").select(
        "doc_id",
        "pos",
        F.coalesce("id", F.lit(0).cast("bigint")).alias("id"),
    )
    return enc.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s.id.cast("string"),
            ),
            ",",
        ).alias("ids_csv"),
        F.sum(F.when(F.col("id") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
    )


#: Leading tokens that define a document's template key.
_TEMPLATE_TOKENS = 10


@CAT.query(
    "text_template_groups",
    oracle=f"""
    WITH k AS (
      SELECT doc_id,
             md5(array_to_string(
               regexp_split_to_array(trim(text), '\\s+')[1:{_TEMPLATE_TOKENS}],
               ' ')) AS template_key
      FROM documents
      WHERE len(regexp_split_to_array(trim(text), '\\s+'))
            >= {_TEMPLATE_TOKENS})
    SELECT template_key,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM k GROUP BY template_key HAVING count(*) > 1
    """,
)
def text_template_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection: documents sharing an identical
    leading-token prefix (the "generated from the same form letter /
    scraper template" signal) grouped by the md5 of their first 10
    tokens, reporting every group with more than one member.

    One narrow key projection (slice + join + md5, all codegen'd) and
    one groupBy on the 16-byte key with map-side partials — the
    cheapest member of the dedup family, usually run before the
    heavier shingle passes to strip template clusters early. md5 keys
    reproduce identically in DuckDB."""
    toks = tokenize("text")
    d = (
        _docs(spark, sf_dir)
        .filter(F.size(toks) >= _TEMPLATE_TOKENS)
        .select(
            "doc_id",
            F.md5(
                F.array_join(F.slice(toks, 1, _TEMPLATE_TOKENS), " ")
            ).alias("template_key"),
        )
    )
    return (
        d.groupBy("template_key")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .filter(F.col("n_docs") > 1)
    )


# ---------------------------------------------------------------------------
# Round 5: readability profile
# ---------------------------------------------------------------------------


@CAT.query(
    "text_readability",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                             x -> len(x) > 0)) AS n_words,
             len(list_filter(regexp_split_to_array(text, '[.!?]+'),
                             x -> len(trim(x)) > 0)) AS n_sentences,
             len(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters
      FROM documents)
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_letters AS BIGINT) AS n_letters,
           round(CASE WHEN n_words > 0
                 THEN CAST(n_letters AS DOUBLE) / n_words END, 6)
             AS letters_per_word,
           round(CASE WHEN n_sentences > 0
                 THEN CAST(n_words AS DOUBLE) / n_sentences END, 6)
             AS words_per_sentence
    FROM t
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability profile: word/sentence/letter counts
    plus the two ratios (letters-per-word, words-per-sentence) that
    drive every classic readability index (Flesch, ARI, Coleman-Liau)
    — a standard quality-filter feature column for training corpora
    (documents with pathological sentence lengths or symbol density
    are extraction failures).

    Counting conventions are regex-defined identically in both
    engines: words = nonempty whitespace splits, sentences = nonempty
    trimmed [.!?]+ splits, letters = A-Za-z characters. Ratios are
    ANSI-guarded (NULL for empty documents) and rounded at 6 dp with
    both engines evaluating the same double division. One narrow
    per-row map, no shuffle — the shape that runs at any corpus
    size."""
    words = F.filter(tokenize("text"), lambda x: F.length(x) > 0)
    sents = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda x: F.length(F.trim(x)) > 0
    )
    letters = F.length(F.regexp_replace("text", "[^A-Za-z]", ""))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.size(words).cast("bigint").alias("n_words"),
        F.size(sents).cast("bigint").alias("n_sentences"),
        letters.cast("bigint").alias("n_letters"),
    )
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_letters",
        F.round(
            F.when(
                F.col("n_words") > 0,
                F.col("n_letters").cast("double") / F.col("n_words"),
            ),
            6,
        ).alias("letters_per_word"),
        F.round(
            F.when(
                F.col("n_sentences") > 0,
                F.col("n_words").cast("double") / F.col("n_sentences"),
            ),
            6,
        ).alias("words_per_sentence"),
    )


# ---------------------------------------------------------------------------
# Round 5: unigram-LM log-probability scoring (LM quality-filter proxy)
# ---------------------------------------------------------------------------

#: Fixed-point scale for per-token log probabilities (micro-nats).
_LM_SCALE = 1_000_000


@CAT.query(
    "text_unigram_logprob",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE len(trim(text)) > 0),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM tok),
    scored AS (
      SELECT tok.doc_id,
             CAST(FLOOR(ln(CAST(freq.f AS DOUBLE) / tot.n) * {_LM_SCALE})
                  AS BIGINT) AS lp
      FROM tok JOIN freq ON tok.t = freq.t, tot)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(-SUM(lp) AS BIGINT) AS neg_logprob_micro,
           CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS per_token_micro
    FROM scored GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprisal per document — the cheap proxy
    for the LM-perplexity quality filter (CCNet-style): train a
    unigram model on the corpus itself (token frequency / total), then
    score each document by its total and per-token negative log
    probability. Documents of rare-token noise score high; natural
    text scores low.

    Exactness across engines is the design problem: a per-document sum
    of DOUBLE logs is accumulation-order dependent. The metric is
    therefore DEFINED in fixed point — each token's log-probability is
    floored to integer micro-nats (floor, not round: round-half
    conventions differ between engines on negative values; ln and the
    division produce identical doubles everywhere) and the document
    score is the exact BIGINT sum of those integers, order-independent
    by construction. The ≤1 micro-nat/token quantization is noise at
    filter thresholds while buying bit-exact reproducibility — the
    same trick as the integer-fixed-point PageRank.

    Plan: one token explode feeds BOTH the frequency model (vocab-
    sized groupBy) and the scoring join (token-keyed shuffle join of
    the token stream against the model — at 100 TB the model is
    vocabulary-sized and hot tokens are exactly what map-side partial
    aggregation and AQE skew splitting handle); the corpus total is a
    1-row broadcast. No Python, no doubles in any aggregation."""
    tok = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokenize("text")).alias("t"))
    )
    tok = _persist(tok)
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    lp = F.floor(
        F.log(F.col("f").cast("double") / F.col("n")) * _LM_SCALE
    ).cast("bigint")
    scored = (
        tok.join(freq, "t")
        .crossJoin(F.broadcast(tot))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        (-F.sum("lp")).cast("bigint").alias("neg_logprob_micro"),
        F.expr("(-sum(lp)) div count(*)").cast("bigint").alias(
            "per_token_micro"
        ),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking — FastCDC-style boundaries over token streams

_CDC_MOD = 16  # expected chunk length = _CDC_MOD tokens (geometric)
_CDC_PAIRS_SQL = shingles_sql(_TOKS_SQL, 2)


@CAT.query(
    "text_cdc_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks, {_CDC_PAIRS_SQL} AS pairs
      FROM documents),
    b AS (
      SELECT doc_id, toks,
             list_filter(range(1, len(pairs) + 1),
                         i -> ({md5_60_sql("pairs[i]")}) % {_CDC_MOD} = 0)
               AS bounds
      FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(bounds) + 1 AS BIGINT) AS n_chunks,
           CAST(COALESCE(bounds[1], 0) AS BIGINT) AS first_boundary
    FROM b
    """,
)
def text_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync family): a chunk
    boundary falls BEFORE token i+1 wherever the rolling fingerprint
    of the token pair (i, i+1) hits 0 mod {_CDC_MOD}, giving
    geometric chunks of ~{_CDC_MOD} tokens whose frames move WITH the
    content — an insertion early in a document shifts only the chunk
    it lands in, unlike fixed-offset windows where every downstream
    frame changes. This is the primitive under chunk-level dedup and
    incremental corpus sync: chunk fingerprints from yesterday's
    corpus still match today's except around the edit.

    Emits per doc the token count, chunk count, and first boundary
    position (0 = unchunked doc) — the audit a pipeline uses to size
    its chunk store. Plan: a single narrow codegen'd projection
    (tokenize → pair shingles → filter over an index sequence); no
    explode, no shuffle, no Python. At 100 TB it is pure map work
    over parquet splits."""
    toks = tokenize("text")
    pairs = shingles(toks, 2)
    # index-aware transform: each pair is hashed exactly ONCE. The
    # tempting `filter(sequence(1, size(pairs)), i ->
    # hash(element_at(pairs, i)))` form re-evaluates the whole
    # shingle-array expression per index after CollapseProject inlines
    # it -- O(n^2) per document, measured 7.6 s vs 0.6 s at sf0.1
    # (the same blowup class the winnowing operator hit in round 4).
    bounds = F.filter(
        F.transform(
            pairs,
            lambda p, i: F.when(md5_60(p) % _CDC_MOD == 0, i + 1),
        ),
        lambda x: x.isNotNull(),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.size(bounds) + 1).cast("bigint").alias("n_chunks"),
        F.coalesce(F.try_element_at(bounds, F.lit(1)), F.lit(0))
        .cast("bigint")
        .alias("first_boundary"),
    )


# ---------------------------------------------------------------------------
# Hashing-trick bag-of-words features

_HBOW_BUCKETS = 64


@CAT.query(
    "feat_hashed_bow",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS tok FROM documents)
    SELECT doc_id,
           ({md5_60_sql("tok")}) % {_HBOW_BUCKETS} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM occ GROUP BY doc_id, bucket
    """,
)
def feat_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick bag-of-words (fastText/Vowpal-Wabbit input
    encoding): every token maps to bucket = fingerprint mod
    {_HBOW_BUCKETS} with NO vocabulary pass — the feature space is
    fixed before the data is seen, so featurization is one pass,
    embarrassingly parallel, and identical across training runs and
    engines. Collisions are the accepted trade (two tokens sharing a
    bucket); the bucket count is the knob.

    Emits the sparse (doc_id, bucket, count) triplets a linear
    classifier or quality-scoring model consumes. Plan: explode →
     60-bit fingerprint map-side → groupBy (doc_id, bucket) with
    map-side partial aggregation; the exchange ships only long
    triplets, bounded by docs × {_HBOW_BUCKETS} regardless of token
    volume. No vocabulary broadcast, no Python."""
    occ = _docs(spark, sf_dir).select(
        "doc_id", F.explode(tokenize("text")).alias("tok")
    )
    return (
        occ.select(
            "doc_id", (md5_60(F.col("tok")) % _HBOW_BUCKETS).alias("bucket")
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# Corpus novelty curve — first-occurrence attribution of passages

_NOVEL_N = 8  # passage width in tokens (matches dedup_repeated_passages)
_NOVEL_SQL = shingles_sql(_TOKS_SQL, _NOVEL_N)


@CAT.query(
    "text_novelty_curve",
    oracle=f"""
    WITH occ AS (
      SELECT doc_id, {md5_60_sql("sh")} AS fp
      FROM (SELECT doc_id, unnest({_NOVEL_SQL}) AS sh FROM documents)),
    firsts AS (
      SELECT fp, MIN(doc_id) AS first_doc FROM occ GROUP BY fp),
    per_doc AS (
      SELECT o.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_passages,
             CAST(COUNT(*) FILTER (WHERE f.first_doc = o.doc_id)
                  AS BIGINT) AS n_novel
      FROM occ o JOIN firsts f ON o.fp = f.fp
      GROUP BY o.doc_id)
    SELECT doc_id, n_passages, n_novel,
           CAST((n_novel * 1000000) // n_passages AS BIGINT)
             AS novelty_ppm
    FROM per_doc
    """,
)
def text_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus novelty curve: for each document (in doc_id ingestion
    order), the fraction of its {_NOVEL_N}-token passages that occur
    for the FIRST time in that document — the growth-audit a corpus
    team plots to decide when a source is mined out (novelty decays
    toward boilerplate-only as a crawl saturates), and the dual of
    ``dedup_repeated_passages`` (that op finds the repeated spans;
    this one attributes first-sightings). Integer ppm keeps the
    ratio engine-exact.

    Plan: one passage explode fingerprinted map-side to 60-bit longs,
    a groupBy(fp) min for first-occurrence, then a fp-keyed join back
    to occurrences and a per-doc count — two shuffles of long pairs,
    payload text never leaves the map side. Hot boilerplate
    fingerprints skew the join key exactly like the repeated-passage
    op; AQE's skew-join split covers both the same way. Docs shorter
    than {_NOVEL_N} tokens have no passages and are absent, as in the
    oracle."""
    # persist the (doc_id, fp) long pairs: both the first-occurrence
    # aggregation and the join-back consume this frame, and without
    # the boundary the corpus is scanned + tokenized + hashed twice
    occ = _persist(
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.explode(shingles(tokenize("text"), _NOVEL_N)).alias("sh"),
        )
        .select("doc_id", md5_60(F.col("sh")).alias("fp"))
    )
    firsts = occ.groupBy("fp").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        occ.join(firsts, "fp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_passages",
        "n_novel",
        F.expr("(n_novel * 1000000) div n_passages")
        .cast("bigint")
        .alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# Per-source vocabulary growth / lexical-diversity profile


@CAT.query(
    "text_vocab_profile_by_source",
    oracle=f"""
    WITH occ AS (
      SELECT source, unnest({_TOKS_SQL}) AS tok FROM documents),
    tc AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM occ GROUP BY source, tok)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_size,
           CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS n_hapax,
           CAST((COUNT(*) * 1000000) // SUM(c) AS BIGINT) AS ttr_ppm
    FROM tc GROUP BY source
    """,
)
def text_vocab_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary profile: token volume, distinct
    vocabulary, hapax legomena (once-only terms), and type-token
    ratio in integer ppm — the Heaps'-law quantities a corpus team
    compares across sources to spot template farms (tiny vocabulary,
    near-zero hapax share) versus organic text (hapax typically a
    large fraction of vocabulary), and to size tokenizer training.

    Plan: one explode, a (source, token) count with map-side
    partials, then a per-source rollup of the (already tiny)
    vocabulary frame. At 100 TB the only full-volume exchange is the
    token count, keyed by (source, token) — Zipf-head words are
    spread across sources and absorbed by the partial aggregation."""
    occ = _docs(spark, sf_dir).select(
        "source", F.explode(tokenize("text")).alias("tok")
    )
    tc = occ.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return tc.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        F.expr("(count(1) * 1000000) div sum(c)").cast("bigint").alias(
            "ttr_ppm"
        ),
    )


@CAT.query(
    "text_rake_keywords",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, i AS pos,
             regexp_replace(lower(toks[i]), '[^a-z]', '', 'g') AS w
      FROM (SELECT doc_id,
                   regexp_split_to_array(trim(text), '\\s+') AS toks
            FROM documents) d,
           unnest(range(1, len(toks) + 1)) AS u(i)),
    ph AS (
      SELECT doc_id, pos, w,
             CASE WHEN w = '' OR w IN ({_STOP_SQL}) THEN 1 ELSE 0 END
               AS is_delim,
             SUM(CASE WHEN w = '' OR w IN ({_STOP_SQL}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
      FROM tok),
    mem AS (SELECT doc_id, phrase_id, w FROM ph WHERE is_delim = 0),
    pl AS (SELECT doc_id, phrase_id, CAST(count(*) AS BIGINT) AS plen
           FROM mem GROUP BY doc_id, phrase_id),
    wd AS (
      SELECT w AS word, CAST(count(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM mem JOIN pl USING (doc_id, phrase_id)
      GROUP BY w)
    SELECT word, freq, deg, (deg * 1000000) // freq AS score_micro
    FROM wd
    ORDER BY score_micro DESC, word
    LIMIT 50
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 RAKE keywords (Rose et al. 2010) — corpus-level word
    scores ``deg(w)/freq(w)`` in exact integer micro-units.

    RAKE splits text into candidate phrases at stopwords/punctuation;
    a word's degree is the summed length of every phrase it occurs in
    (its co-occurrence mass), its frequency the number of occurrences.
    High ``deg/freq`` = a word that lives in long content phrases —
    a keyword — vs. one that appears alone everywhere.

    Plan: posexplode tokens (position preserved) → normalize to
    [a-z]+ → phrase ids via a running stopword/punct-delimiter count
    (one window over (doc, pos) — the gaps-and-islands shape, no
    self-join) → phrase lengths by (doc, phrase) → join members back
    for degree mass → one corpus-level groupBy(word). Score is
    ``(deg * 10^6) div freq`` — floor division on positive BIGINTs,
    bit-identical in any engine and accumulation order. Top-50 with a
    word tiebreaker compiles to TakeOrderedAndProject.

    Scale: everything is narrow until the (doc, pos) window, whose
    partition key is the document — no skew beyond the longest single
    document. The final groupBy(word) has map-side partial
    aggregation; phrase frames carry ids + small ints only.
    """
    d = _docs(spark, sf_dir).select(
        "doc_id", F.posexplode(tokenize("text")).alias("pos", "tok")
    )
    w = F.regexp_replace(F.lower("tok"), "[^a-z]", "")
    is_delim = (w == "") | w.isin(*_STOPWORDS)
    win = Window.partitionBy("doc_id").orderBy("pos")
    ph = d.select(
        "doc_id",
        w.alias("w"),
        is_delim.cast("int").alias("is_delim"),
        F.sum(is_delim.cast("int")).over(win).alias("phrase_id"),
    )
    mem = ph.filter(F.col("is_delim") == 0).select("doc_id", "phrase_id", "w")
    pl = mem.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    wd = (
        mem.join(pl, ["doc_id", "phrase_id"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.sum("plen").alias("deg"),
        )
    )
    score = F.expr("(deg * CAST(1000000 AS BIGINT)) div freq")
    return (
        wd.select("word", "freq", "deg", score.alias("score_micro"))
        .orderBy(F.desc("score_micro"), "word")
        .limit(50)
    )


#: Stopword-density thresholds (ppm of tokens) swept by
#: quality_threshold_sweep — 0 keeps everything by construction.
_SWEEP_THRS = (0, 25_000, 50_000, 100_000, 150_000, 200_000, 250_000, 300_000)


@CAT.query(
    "quality_threshold_sweep",
    oracle=f"""
    WITH t AS (
      SELECT CAST(length(text) AS BIGINT) AS n_chars,
             len(regexp_split_to_array(trim(text), '\\s+')) AS n_toks,
             len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                 x -> lower(x) IN ({_STOP_SQL}))) AS hits
      FROM documents),
    s AS (SELECT n_chars,
                 (CAST(hits AS BIGINT) * 1000000) // n_toks AS sr_ppm
          FROM t),
    k AS (SELECT CAST(thr AS BIGINT) AS thr,
                 CAST(SUM(CASE WHEN CAST(thr AS BIGINT) <= sr_ppm
                               THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
                 CAST(SUM(CASE WHEN CAST(thr AS BIGINT) <= sr_ppm
                               THEN n_chars ELSE 0 END) AS BIGINT)
                   AS chars_kept
          FROM s CROSS JOIN (VALUES {", ".join(f"({t})" for t in _SWEEP_THRS)})
                            AS th(thr)
          GROUP BY thr)
    SELECT thr, docs_kept, chars_kept,
           (docs_kept * 1000000) // (MAX(docs_kept) OVER ()) AS kept_ppm
    FROM k ORDER BY thr
    """,
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration sweep: for each stopword-density cutoff,
    how many documents (and how much text) survive — the table a
    pipeline owner reads before picking a quality threshold, computed
    in ONE corpus scan instead of one query per candidate cutoff.

    Per doc: stopword density in integer ppm (``hits·10⁶ div
    n_tokens`` — same regexp-count hit definition as
    :func:`text_quality_scores`, floor division so every engine
    agrees bit-for-bit). Each doc then emits one row per threshold
    (with a pass flag) via a bounded ``explode`` over the 8-element
    literal array — an 8× narrow fan-out, not a join — and one
    groupBy(threshold) with map-side partials folds the corpus to
    exactly 8 rows, including docs_kept=0 rows for cutoffs that kill
    everything. The kept-share ppm divides by the threshold-0 row (which
    keeps everything by construction) via a MAX window over the ≤8
    aggregated rows — the single-partition window is bounded by the
    threshold count, never the corpus.
    """
    stop_re = r"\s(?:" + "|".join(_STOPWORDS) + r")(?=\s)"
    hits = F.regexp_count(
        F.concat(F.lit(" "), F.lower("text"), F.lit(" ")), F.lit(stop_re)
    ).cast("bigint")
    n_toks = F.size(tokenize("text")).cast("bigint")
    per = _docs(spark, sf_dir).select(
        F.length("text").cast("bigint").alias("n_chars"),
        hits.alias("hits"),
        n_toks.alias("n_toks"),
    ).select(
        "n_chars",
        F.expr("(hits * CAST(1000000 AS BIGINT)) div n_toks").alias("sr_ppm"),
    )
    thrs = F.array(*[F.lit(t).cast("bigint") for t in _SWEEP_THRS])
    # explode EVERY threshold (not just passed ones) so a cutoff that
    # kills the whole corpus still emits its docs_kept=0 row — absence
    # would read as "not swept", the wrong signal on a calibration
    # table. Still a bounded 8x narrow fan-out, no join.
    passed = F.col("thr") <= F.col("sr_ppm")
    ex = per.select("n_chars", "sr_ppm", F.explode(thrs).alias("thr"))
    agg = ex.groupBy("thr").agg(
        F.sum(passed.cast("bigint")).alias("docs_kept"),
        F.sum(F.when(passed, F.col("n_chars")).otherwise(0)).alias(
            "chars_kept"
        ),
    )
    w = Window.partitionBy()
    return (
        agg.withColumn("total", F.max("docs_kept").over(w))
        .select(
            "thr",
            "docs_kept",
            "chars_kept",
            F.expr("(docs_kept * CAST(1000000 AS BIGINT)) div total").alias(
                "kept_ppm"
            ),
        )
        .orderBy("thr")
    )


#: Misra-Gries counters per partition / heavy-hitter threshold
#: denominator. Completeness needs _MG_K + 1 > _HH_DEN: an item with
#: global count > N/_HH_DEN must exceed n_p/(_MG_K+1) in at least one
#: partition (pigeonhole), so it survives that partition's summary.
_MG_K = 300
_HH_DEN = 200


@CAT.query(
    "text_heavy_hitters_mg",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents),
    n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tok),
    c AS (SELECT t, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY t)
    SELECT t AS token, cnt, (cnt * 1000000) // total AS ppm
    FROM c, n WHERE cnt * {_HH_DEN} > total
    """,
)
def text_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens above 0.5% of the corpus, found with per-partition
    Misra-Gries summaries + an exact recount — the bounded-memory
    heavy-hitter shape for streams/corpora whose vocabulary does NOT
    fit in an aggregation hash table.

    Phase 1 (mapInPandas, O(_MG_K + one document's vocabulary) state
    per partition): each partition folds its documents' token counts
    into a Misra-Gries summary — merge one DOCUMENT's exact counts,
    and whenever more than _MG_K counters exist, subtract the
    (K+1)-th largest value from all and drop the non-positive (the
    mergeable-summaries weighted decrement; Agarwal et al. 2012).
    Decrementing per document, not per Arrow batch, is what bounds
    the state: a batch's union vocabulary is O(batch bytes), a single
    document's is capped by document length. Guarantee: an item with
    partition count > n_p/(K+1) always survives (each decrement
    removes ≥ (K+1)·m total weight), so with K+1 > den every global
    heavy hitter is emitted by ≥1 partition — candidates are a
    SUPERSET, never missing a true hitter.

    Phase 2 (exact): semi-join the token stream against the
    broadcast candidate set (≤ partitions·K ids), recount exactly,
    filter cnt·den > N. False candidates die here, so the output is
    deterministic and oracle-exact even though each summary's content
    depends on partition order.

    This is the one catalog query that is legitimately a custom
    per-partition sequential algorithm (SURVEY §7 case (c)): the
    whole point is state strictly smaller than the key space, which
    no groupBy expresses. The Python crossing ships one token-array
    row per document, Arrow-batched.
    """
    import pandas as pd

    docs = _docs(spark, sf_dir).select(tokenize("text").alias("toks"))

    def mg(batches):
        import heapq
        from collections import Counter

        counters: Counter = Counter()
        for pdf in batches:
            for toks in pdf["toks"]:
                counters.update(toks)
                if len(counters) > _MG_K:
                    # (K+1)-th largest via a bounded heap: O(V log K)
                    # per decrement (V ≤ K + doc vocab), not a full
                    # O(V log V) sort of the counter map
                    m = heapq.nlargest(_MG_K + 1, counters.values())[-1]
                    counters = Counter(
                        {t: c - m for t, c in counters.items() if c > m}
                    )
        yield pd.DataFrame({"t": pd.Series(list(counters), dtype="object")})

    cand = docs.mapInPandas(mg, "t string").distinct()
    toks = _docs(spark, sf_dir).select(F.explode(tokenize("text")).alias("t"))
    total = toks.agg(F.count(F.lit(1)).alias("total"))
    exact = (
        toks.join(F.broadcast(cand), "t", "left_semi")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_DEN > F.col("total"))
        .select(
            F.col("t").alias("token"),
            "cnt",
            F.expr("(cnt * CAST(1000000 AS BIGINT)) div total").alias("ppm"),
        )
    )


#: Per-group sample size for the deterministic top-k-by-hash sampler.
_GROUP_SAMPLE_K = 5


@CAT.query(
    "sample_group_topk_hash",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {md5_60_sql("CAST(doc_id AS VARCHAR)")}, doc_id)
               AS rk
      FROM documents)
    SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_GROUP_SAMPLE_K}
    """,
)
def sample_group_topk_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly k documents per (lang, source) stratum, chosen by
    ordering each stratum on a deterministic doc-id hash — the
    reproducible stand-in for per-group reservoir sampling (same
    members in every engine, run, and partitioning; an RNG reservoir
    is none of those). The per-group rank also gives a stable
    eval-set ordering for free.

    Plan: one narrow hash projection, one window partitioned by the
    stratum, filter rk <= k. Scale: the window sorts WITHIN strata
    only — fine while strata fit a partition. For a jumbo stratum the
    upgrade is the classic two-phase top-k (per-partition top-k via
    the same hash order, then re-rank the <= k·P survivors), same
    contract; the hash-order statistic it computes is identical.
    """
    h = md5_60(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang", "source").orderBy(h.asc(), F.col("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", "source")
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _GROUP_SAMPLE_K)
        .select("lang", "source", "doc_id", "rk")
    )


# ---------------------------------------------------------------------------
# Round 6: PII redaction rewrite + bigram-LM surprisal
# ---------------------------------------------------------------------------


@CAT.query(
    "text_pii_redact",
    oracle=f"""
    WITH s1 AS (
      SELECT doc_id, text,
             regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g') AS t1
      FROM documents),
    s2 AS (
      SELECT *, regexp_replace(t1, '{_PII_IPV4}', '[IP]', 'g') AS t2
      FROM s1),
    s3 AS (
      SELECT *, regexp_replace(t2, '{_PII_PHONE}', '[PHONE]', 'g') AS t3
      FROM s2)
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{_PII_EMAIL}'))
              + len(regexp_extract_all(t1, '{_PII_IPV4}'))
              + len(regexp_extract_all(t2, '{_PII_PHONE}'))
              AS BIGINT) AS n_redacted,
           CAST(length(text) AS BIGINT) AS len_before,
           CAST(length(t3) AS BIGINT) AS len_after,
           {md5_60_sql("t3")} AS redacted_hash
    FROM s3
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction REWRITE — the publish-side counterpart of
    :func:`text_pii_scan`: replace email / IPv4 / phone-shaped spans
    with typed placeholder tokens instead of dropping the document
    (the standard treatment when the text is valuable but the spans
    are not). Emits per-doc redaction count, before/after lengths,
    and a hash of the redacted text so the oracle pins the REWRITE
    itself, not just the counts.

    Replacement order (email → IPv4 → phone) is part of the contract
    and identical in both engines, and ``n_redacted`` counts each
    stage's matches on that stage's INPUT (the already-partially-
    redacted text), so it equals the number of replacements actually
    performed — a phone- or IP-shaped span swallowed inside an email
    match (``555-123-4567@example.com``) counts once, not twice. The
    digit-free placeholders guarantee a replacement never CREATES a
    later match; counting sequentially guarantees a consumed span
    never inflates the count. Same RE2-compatible patterns as the
    scan (no lookaround — Java and DuckDB agree). Pure codegen'd
    regexp projections: one narrow map at any scale, no shuffle, no
    Python."""
    t1 = F.regexp_replace(F.col("text"), _PII_EMAIL, "[EMAIL]")
    t2 = F.regexp_replace(t1, _PII_IPV4, "[IP]")
    t3 = F.regexp_replace(t2, _PII_PHONE, "[PHONE]")
    n_red = (
        F.regexp_count("text", F.lit(_PII_EMAIL))
        + F.regexp_count(t1, F.lit(_PII_IPV4))
        + F.regexp_count(t2, F.lit(_PII_PHONE))
    ).cast("bigint")
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_red.alias("n_redacted"),
        F.length("text").cast("bigint").alias("len_before"),
        F.length(t3).cast("bigint").alias("len_after"),
        md5_60(t3).alias("redacted_hash"),
    )


_BIGRAMS_SQL = shingles_sql(_TOKS_SQL, 2)


@CAT.query(
    "text_bigram_surprisal",
    oracle=f"""
    WITH big AS (
      SELECT doc_id, unnest({_BIGRAMS_SQL}) AS bg
      FROM documents WHERE len(trim(text)) > 0),
    fbg AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM big GROUP BY bg),
    fw AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c) AS BIGINT) AS cw
           FROM fbg GROUP BY 1),
    scored AS (
      SELECT big.doc_id,
             CAST(FLOOR(ln(CAST(fbg.c AS DOUBLE) / fw.cw) * {_LM_SCALE})
                  AS BIGINT) AS lp
      FROM big
      JOIN fbg ON big.bg = fbg.bg
      JOIN fw ON split_part(big.bg, ' ', 1) = fw.w1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(-SUM(lp) AS BIGINT) AS neg_logprob_micro,
           CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS per_bigram_micro
    FROM scored GROUP BY doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprisal per document — one order up
    from :func:`text_unigram_logprob` and a materially better
    LM-perplexity quality-filter proxy (it penalizes improbable token
    TRANSITIONS, which is what separates shuffled-word noise from
    natural text that unigram frequency alone cannot see).

    Model: corpus-trained MLE, P(w2|w1) = c(w1 w2) / c(w1 ·), where
    the continuation denominator c(w1 ·) is derived by AGGREGATING
    THE BIGRAM MODEL ITSELF (sum of c over bigrams starting with w1)
    — a vocabulary-sized second agg instead of a second corpus scan;
    both engines derive it identically so no smoothing is needed
    (every scored bigram is in the model by construction).

    Same fixed-point exactness contract as the unigram op: per-bigram
    log-probabilities floor to integer micro-nats and the document
    score is an order-independent BIGINT sum.

    Plan: one bigram explode feeds the model agg and the scoring
    join; the first-token key is a narrow split on the (vocab-sized)
    model, never on the corpus; both scoring joins are key-shuffles
    that AQE skew-splits on hot bigrams. No Python anywhere. The
    persist of the exploded stream (spill-safe) trades one disk-backed
    materialization for the second corpus scan+tokenize the two
    branches would otherwise each pay — same call as the unigram op;
    at extreme scale where even spilling the stream is unwanted, drop
    the persist and eat the recompute (both branches stay correct)."""
    big = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.explode(shingles(tokenize("text"), 2)).alias("bg"),
        )
    )
    big = _persist(big)
    fbg = big.groupBy("bg").agg(F.count(F.lit(1)).alias("c"))
    w1 = F.split(F.col("bg"), " ", 2)[0]
    fw = fbg.groupBy(w1.alias("w1")).agg(F.sum("c").alias("cw"))
    lp = F.floor(
        F.log(F.col("c").cast("double") / F.col("cw")) * _LM_SCALE
    ).cast("bigint")
    scored = (
        big.join(fbg, "bg")
        .join(fw, w1 == F.col("w1"))
        .select("doc_id", lp.alias("lp"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        (-F.sum("lp")).cast("bigint").alias("neg_logprob_micro"),
        F.expr("(-sum(lp)) div count(*)").cast("bigint").alias(
            "per_bigram_micro"
        ),
    )


#: Hashed-feature dimensionality and weight range for the linear
#: quality scorer (weights in integer micro-units, [-1000, 1000]).
_QMODEL_D = 1024
_QMODEL_W = 2001


@CAT.query(
    "quality_model_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks
      FROM documents WHERE len(trim(text)) > 0),
    scored AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CAST(list_sum(list_transform(toks, tk ->
               ({md5_60_sql(f"CAST(({md5_60_sql('tk')}) % {_QMODEL_D} AS VARCHAR)")})
                 % {_QMODEL_W} - {(_QMODEL_W - 1) // 2}
             )) AS BIGINT) AS logit_micro
      FROM t)
    SELECT doc_id, n_tokens, logit_micro, logit_micro > 0 AS keep
    FROM scored
    """,
)
def quality_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale — the
    fastText-style model-based filter every modern pretraining
    pipeline runs (score each document with a linear model over
    hashed bag-of-words features; keep if the logit clears a
    threshold). The deliverable here is the inference plumbing at
    100 TB; the weight VALUES are a deterministic stand-in (a fixed
    pseudo-random projection of the feature index — production swaps
    in trained weights as a {_QMODEL_D}-entry broadcast map or, as
    here, an inline expression).

    logit = Σ_tokens w[h(token) mod {_QMODEL_D}] with integer
    micro-unit weights in [−1000, 1000], so the score is an exact
    BIGINT — order-independent, bit-identical in any engine.

    Plan shape is the point: the entire model application is ONE
    narrow projection — ``aggregate`` over the token array evaluates
    the hash→weight→sum chain inside whole-stage codegen, so scoring
    is a zero-shuffle, zero-Python map over parquet splits. No join,
    no explode, no per-doc state. A {_QMODEL_D}-dim trained model
    inlines the same way (a CASE/element_at over a broadcast array
    literal); only a multi-MB model would graduate to a broadcast
    join against exploded (doc_id, bucket, count) features."""
    def w_of(tk):
        # feature index = h(token) mod D; weight = pseudo-random
        # integer micro-units from a second hash of the index
        return (
            md5_60((md5_60(tk) % _QMODEL_D).cast("string")) % _QMODEL_W
            - (_QMODEL_W - 1) // 2
        )

    logit = F.aggregate(
        F.transform(tokenize("text"), w_of),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
            logit.alias("logit_micro"),
            (logit > 0).alias("keep"),
        )
    )


#: Weighted-priority sample size.
_WSAMPLE_K = 100
#: 2^60, the md5_60 range (uniform u = (h+1) / 2^60 ∈ (0, 1]).
_H_RANGE = 1 << 60


@CAT.query(
    "sample_weighted_priority",
    oracle=f"""
    WITH w AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS weight,
             ({md5_60_sql("CAST(doc_id AS VARCHAR)")} + 1)
               / CAST({_H_RANGE} AS DOUBLE) AS u
      FROM documents WHERE len(trim(text)) > 0),
    keyed AS (
      SELECT doc_id, weight,
             CAST(FLOOR(ln(u) / weight * {_LM_SCALE}) AS BIGINT) AS key_micro
      FROM w),
    r AS (
      SELECT doc_id, weight, key_micro,
             row_number() OVER (ORDER BY key_micro DESC, doc_id) AS rk
      FROM keyed)
    SELECT doc_id, weight, key_micro, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_WSAMPLE_K}
    """,
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement at corpus scale —
    Efraimidis-Spirtes priority sampling (Inf. Proc. Letters 2006):
    give every document the key u^(1/w) for a uniform u and weight w
    (here: token count, the usual proxy for sampling proportional to
    training-token contribution) and keep the top-k keys. One pass,
    no rejection loop, exactly k rows, inclusion probability
    proportional to weight — the distributed replacement for
    sequential weighted reservoirs.

    Determinism/exactness contract: u derives from the doc-id hash
    (not an RNG), the key is compared in log domain
    (ln(u)/w, monotone in u^(1/w)) and FLOORED to integer
    micro-units so the ranking is bit-identical in any engine —
    same fixed-point discipline as the LM surprisal ops.

    Plan: a narrow keyed projection + TakeOrderedAndProject top-k
    (per-partition heaps, k·P rows to one reducer — never a global
    sort). At 100 TB this is the cheapest possible shape for a
    weighted subsample."""
    w = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("weight"),
            (
                (md5_60(F.col("doc_id").cast("string")) + 1)
                / F.lit(float(_H_RANGE))
            ).alias("u"),
        )
    )
    keyed = w.select(
        "doc_id",
        "weight",
        F.floor(F.log("u") / F.col("weight") * _LM_SCALE)
        .cast("bigint")
        .alias("key_micro"),
    )
    win = Window.orderBy(F.desc("key_micro"), F.asc("doc_id"))
    # row_number over an unpartitioned window would single-task the
    # corpus; orderBy+limit lets Spark plan TakeOrderedAndProject
    # (per-partition top-k), and the rank is reconstructed on the
    # k-row result only.
    topk = keyed.orderBy(F.desc("key_micro"), F.asc("doc_id")).limit(
        _WSAMPLE_K
    )
    return topk.withColumn(
        "rk", F.row_number().over(win).cast("bigint")
    ).select("doc_id", "weight", "key_micro", "rk")


#: Unit-separator sentinel for subword segmentation (must not occur in
#: document text — a control char no tokenizer corpus contains).
_SW_SEP = "\x1f"
#: Fixed merge cascade (priority order). The operator contract is
#: "apply a given merges table"; production swaps in trained merges.
_SW_MERGES = [
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("an", "d"),
    ("e", "r"), ("o", "n"), ("r", "e"), ("o", "u"), ("s", "t"),
    ("e", "n"), ("o", "r"),
]


def _sw_segment_sql(var: str, dialect: str) -> str:
    """Segmentation expression for one word (lambda var ``var``):
    interleave separators between characters, then apply each merge
    rule as TWO left-to-right non-overlapping literal replaces —
    verified char-identical between Spark and DuckDB. The group ref
    spelling ('$1' vs '\\1') and the global-replace flag are the only
    dialect differences."""
    # (?s): without it, Java's dot excludes U+0085/U+2028/U+2029 while
    # RE2's matches them — a token containing a unicode line separator
    # (which the ASCII \s+ tokenizer does NOT split on) would segment
    # differently per engine. DOTALL makes both dots total.
    if dialect == "spark":
        expr = f"concat('{_SW_SEP}', regexp_replace({var}, '(?s)(.)', '$1{_SW_SEP}'))"
    else:
        expr = f"'{_SW_SEP}' || regexp_replace({var}, '(?s)(.)', '\\1{_SW_SEP}', 'g')"
    for a, b in _SW_MERGES:
        pat, rep = f"{_SW_SEP}{a}{_SW_SEP}{b}{_SW_SEP}", f"{_SW_SEP}{a}{b}{_SW_SEP}"
        expr = f"replace(replace({expr}, '{pat}', '{rep}'), '{pat}', '{rep}')"
    return expr


@CAT.query(
    "text_subword_merge_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS_SQL} AS toks
      FROM documents WHERE len(trim(text)) > 0),
    s AS (
      SELECT doc_id, toks,
             list_transform(toks, w -> {_sw_segment_sql("w", "duck")}) AS seg
      FROM t)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
             AS n_chars,
           CAST(list_sum(list_transform(seg, g ->
                 len(g) - len(replace(g, '{_SW_SEP}', '')) - 1))
             AS BIGINT) AS n_subwords,
           {md5_60_sql("array_to_string(seg, ' ')")} AS seg_hash
    FROM s
    """,
)
def text_subword_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword segmentation by a fixed merge cascade — the APPLY side
    of BPE-style tokenization (the mining side is
    ``bpe_merge_candidates``): split each word into characters, fold
    the merges table over it in priority order, and report per-doc
    word/char/subword counts plus a hash of the full segmentation so
    the oracle pins the segmentation itself, not just counts.

    Semantics contract — replace-scan merging: each rule applies as
    two left-to-right non-overlapping literal replaces on the
    separator-interleaved symbol string. This is deterministic and
    char-identical across engines (verified), and equals classic
    greedy BPE everywhere except unbounded same-pair adjacency chains
    ('ababab...'), where a bounded number of replace passes merges in
    a different (still deterministic) grouping — a documented
    divergence chosen because TRUE greedy needs an unbounded
    sequential scan per word, which neither SQL engine expresses; two
    passes close every chain the fixture or natural text produces.
    The separator is U+001F (contract: absent from document text).

    Plan: the whole cascade is ONE codegen'd projection — transform()
    over the token array with a nested replace chain, no shuffle, no
    Python, no model join (the merges ship inside the expression,
    like the linear classifier's weights). A trained merges table of
    thousands of rules would graduate to a Pandas UDF; the plumbing
    (per-word fold, hash-pinned output) stays identical."""
    seg_sql = _sw_segment_sql("w", "spark")
    toks = tokenize("text")
    d = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", toks.alias("toks"))
        .withColumn("seg", F.expr(f"transform(toks, w -> {seg_sql})"))
    )
    n_sub = F.aggregate(
        F.transform(
            F.col("seg"),
            lambda g: F.length(g)
            - F.length(F.replace(g, F.lit(_SW_SEP)))
            - 1,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return d.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_words"),
        F.aggregate(
            F.transform(F.col("toks"), F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_chars"),
        n_sub.alias("n_subwords"),
        md5_60(F.array_join("seg", " ")).alias("seg_hash"),
    )


#: Top-V frequency ranks used for the Zipf log-log fit.
_ZIPF_V = 1000


@CAT.query(
    "text_zipf_fit",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE len(trim(text)) > 0),
    freq AS (SELECT t, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY t),
    rk AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r
      FROM freq),
    pts AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM rk WHERE r <= {_ZIPF_V}),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * x) AS sxx, SUM(x * y) AS sxy
      FROM pts)
    SELECT n AS n_ranks,
           CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1000000)
                AS BIGINT) AS slope_micro,
           CAST(FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                      / n * 1000000) AS BIGINT) AS intercept_micro
    FROM m
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law diagnostic for a text corpus: OLS fit of
    ln(frequency) against ln(rank) over the top {_ZIPF_V} token
    ranks. Natural language sits near slope −1; a corpus drifting
    toward −0.5 (too flat: boilerplate/template spam) or −2 (too
    steep: tiny effective vocabulary) is the classic cheap smell test
    a pretraining pipeline runs per source alongside the Heaps-law
    profile (``text_vocab_profile_by_source``).

    Determinism: ranks use the (freq DESC, token) total order, the
    OLS runs on exact sums of identical IEEE doubles in both engines,
    and slope/intercept floor to micro-units — same contract as the
    other ln-based ops.

    Plan: token explode → vocab-sized groupBy; the rank window and
    the 5-number moment reduction run on the VOCABULARY (then its
    top-{_ZIPF_V} slice), never the corpus. The one corpus-scale
    stage is the map-side-combined frequency count."""
    tok = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(F.explode(tokenize("text")).alias("t"))
    )
    freq = tok.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    w = Window.orderBy(F.desc("f"), F.asc("t"))
    # vocab-sized window; production note: for a >memory vocabulary,
    # take the top-V by freq first (TakeOrdered) — the fit only ever
    # reads V rows
    pts = (
        freq.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= _ZIPF_V)
        .select(
            F.log(F.col("r").cast("double")).alias("x"),
            F.log(F.col("f").cast("double")).alias("y"),
        )
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return m.select(
        F.col("n").alias("n_ranks"),
        F.floor(slope * 1000000).cast("bigint").alias("slope_micro"),
        F.floor(intercept * 1000000).cast("bigint").alias("intercept_micro"),
    )


@CAT.query(
    "text_js_divergence",
    oracle=f"""
    WITH tok AS (
      SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE len(trim(text)) > 0),
    dist AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
             FROM tok GROUP BY 1, 2),
    tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS v
            FROM dist GROUP BY 1),
    pairs AS (SELECT a.source AS sa, a.n AS na, a.v AS va,
                     b.source AS sb, b.n AS nb, b.v AS vb
              FROM tot a, tot b WHERE a.source < b.source),
    inter AS (
      SELECT a.source AS sa, b.source AS sb,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(a.c) AS BIGINT) AS ca_common,
             CAST(SUM(b.c) AS BIGINT) AS cb_common,
             SUM(CAST(FLOOR(
               (CAST(a.c AS DOUBLE) / na.n)
               * ln(2 * (CAST(a.c AS DOUBLE) / na.n)
                    / (CAST(a.c AS DOUBLE) / na.n
                       + CAST(b.c AS DOUBLE) / nb.n))
               * 1000000000) AS BIGINT)) AS terms_a,
             SUM(CAST(FLOOR(
               (CAST(b.c AS DOUBLE) / nb.n)
               * ln(2 * (CAST(b.c AS DOUBLE) / nb.n)
                    / (CAST(a.c AS DOUBLE) / na.n
                       + CAST(b.c AS DOUBLE) / nb.n))
               * 1000000000) AS BIGINT)) AS terms_b
      FROM dist a JOIN dist b ON a.t = b.t AND a.source < b.source
           JOIN tot na ON a.source = na.source
           JOIN tot nb ON b.source = nb.source
      GROUP BY 1, 2)
    SELECT p.sa AS source_a, p.sb AS source_b,
           CAST(p.va + p.vb - COALESCE(i.n_common, 0) AS BIGINT)
             AS n_union_terms,
           CAST((COALESCE(i.terms_a, 0) + COALESCE(i.terms_b, 0)
             + CAST(FLOOR(CAST(p.na - COALESCE(i.ca_common, 0) AS DOUBLE)
                          / p.na * ln(2) * 1000000000) AS BIGINT)
             + CAST(FLOOR(CAST(p.nb - COALESCE(i.cb_common, 0) AS DOUBLE)
                          / p.nb * ln(2) * 1000000000) AS BIGINT)
            ) // 2 AS BIGINT) AS jsd_nano
    FROM pairs p LEFT JOIN inter i ON p.sa = i.sa AND p.sb = i.sb
    """,
)
def text_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between the unigram
    distributions of every pair of document sources — the standard
    corpus-drift / mixture-design diagnostic ("how different is
    source A\'s language from source B\'s?"; 0 = identical, ln 2 =
    disjoint). Used when composing training mixtures to spot
    near-duplicate sources (waste) and outlier sources (contamination
    risk).

    Fixed-point determinism (the micro-nat pattern, at NANO scale
    because each term carries a factor p ≈ 1/n): each SHARED
    vocabulary term\'s p·ln(2p/(p+q)) contribution is floored to
    integer nano-nats and summed exactly. Tokens exclusive to one
    side contribute p·ln 2 each, and that mass is SEPARABLE:
    Σ_{{t∈A∖B}} p_t = (n_A − Σ_{{t∈A∩B}} c_t)/n_A, an exact integer
    ratio, so the whole exclusive tail collapses to ONE floored
    float term per side per pair — no per-token work for tokens the
    pair doesn\'t share (r8: this replaced a pair-expanded full-outer
    join over the entire vocabulary; by Zipf most of the vocabulary
    is exclusive hapax, so the old plan shuffled mostly rows whose
    contribution is expressible in closed form).

    Scale: sources are a bounded catalog dimension, so the |S|² pair
    grid is tiny. The heavy operation is ONE token-keyed self-join of
    the per-source vocabulary frame restricted to co-occurring
    tokens; the persisted dist frame is shuffled once on the token
    key. Per-source totals are carried ON the vocabulary rows by a
    window over the (per-source-vocab-sized) dist frame, so the plan
    has no total-attaching joins and no driver actions. Worst-case
    join fan-out per token is the pair grid itself, never the
    corpus."""
    tok = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("source", F.explode(tokenize("text")).alias("t"))
    )
    dist = _persist(
        tok.groupBy("source", "t").agg(F.count(F.lit(1)).alias("c"))
    )
    # carry each source's totals ON the vocabulary rows via a window
    # over the (tiny, per-source-vocab) dist frame — the self-join
    # sides then already hold na/nb and no further total-attaching
    # joins or driver actions exist anywhere in the plan
    w = Window.partitionBy("source")
    dist = dist.select(
        "source",
        "t",
        "c",
        F.sum("c").over(w).cast("bigint").alias("n"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("v"),
    )
    a = dist.select(
        F.col("source").alias("sa"),
        "t",
        F.col("c").alias("ca"),
        F.col("n").alias("na"),
    )
    b = dist.select(
        F.col("source").alias("sb"),
        F.col("t").alias("tb"),
        F.col("c").alias("cb"),
        F.col("n").alias("nb"),
    )
    co = a.join(b, (a.t == b.tb) & (a.sa < b.sb))
    p = F.col("ca").cast("double") / F.col("na")
    q = F.col("cb").cast("double") / F.col("nb")
    term_a = F.floor(p * F.log(2 * p / (p + q)) * 1000000000).cast("bigint")
    term_b = F.floor(q * F.log(2 * q / (p + q)) * 1000000000).cast("bigint")
    inter = (
        co.select("sa", "sb", "ca", "cb", term_a.alias("ta"), term_b.alias("tb2"))
        .groupBy("sa", "sb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum("ca").cast("bigint").alias("ca_common"),
            F.sum("cb").cast("bigint").alias("cb_common"),
            F.sum("ta").alias("terms_a"),
            F.sum("tb2").alias("terms_b"),
        )
    )
    tot = dist.select("source", "n", "v").distinct()
    ga = tot.select(
        F.col("source").alias("psa"),
        F.col("n").alias("pna"),
        F.col("v").alias("pva"),
    )
    gb = tot.select(
        F.col("source").alias("psb"),
        F.col("n").alias("pnb"),
        F.col("v").alias("pvb"),
    )
    pairs = ga.crossJoin(F.broadcast(gb)).filter(F.col("psa") < F.col("psb"))
    return (
        pairs.join(
            inter,
            (pairs.psa == inter.sa) & (pairs.psb == inter.sb),
            "left",
        )
        .select(
            F.col("psa").alias("source_a"),
            F.col("psb").alias("source_b"),
            (
                F.col("pva") + F.col("pvb") - F.coalesce("n_common", F.lit(0))
            )
            .cast("bigint")
            .alias("n_union_terms"),
            F.expr(
                "cast((coalesce(terms_a, 0) + coalesce(terms_b, 0)"
                " + cast(floor(cast(pna - coalesce(ca_common, 0) as double)"
                "              / pna * ln(2) * 1000000000) as bigint)"
                " + cast(floor(cast(pnb - coalesce(cb_common, 0) as double)"
                "              / pnb * ln(2) * 1000000000) as bigint)"
                ") div 2 as bigint)"
            ).alias("jsd_nano"),
        )
    )


# BM25 parameters as shared decimal literals (never live floats)
_BM25_K1 = "1.2"
_BM25_B = "0.75"
_BM25_NQ = 3  # query = the NQ highest-document-frequency tokens


@CAT.query(
    "text_bm25_scores",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS t
      FROM documents WHERE len(trim(text)) > 0),
    tf AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
           FROM tok GROUP BY 1),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS total_len
      FROM dl),
    df AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
    q AS (SELECT t, df FROM df ORDER BY df DESC, t LIMIT {_BM25_NQ}),
    scored AS (
      SELECT tf.doc_id, tf.t,
             CAST(FLOOR(
               ln((CAST(stats.n_docs AS DOUBLE) - q.df + 0.5)
                  / (q.df + 0.5) + 1)
               * (tf.tf * (CAST({_BM25_K1} AS DOUBLE) + 1))
               / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                  * (1 - CAST({_BM25_B} AS DOUBLE)
                     + CAST({_BM25_B} AS DOUBLE) * dl.dl
                       * stats.n_docs / stats.total_len))
               * 1000000) AS BIGINT) AS term_micro
      FROM tf JOIN q ON tf.t = q.t
              JOIN dl ON tf.doc_id = dl.doc_id, stats)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_query_terms,
           CAST(SUM(term_micro) AS BIGINT) AS bm25_micro
    FROM scored GROUP BY doc_id
    """,
)
def text_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval scoring (Robertson & Zaragoza 2009) of
    every document against a deterministic query — the NQ=3
    highest-df corpus tokens (ties broken by token order), so the
    query derives from the data rather than a fixture literal. BM25
    is THE classical sparse ranking function; a training-data
    pipeline uses it for retrieval-based decontamination and
    hard-negative mining alongside the dense kNN entries.

    Determinism: tf, df, dl, N, Σdl are exact BIGINTs; k1/b are
    shared decimal literals; avgdl enters as dl·N/Σdl (kept as one
    double expression — no pre-rounded intermediate); each term's
    score is micro-floored, and a document's score is the exact
    integer sum (order-independent; ln follows the micro-nat
    precedent). idf uses the +1 smoothing so it is positive even for
    a term in >half the docs — needed since high-df tokens are
    exactly what this query selects.

    Plan: ONE tokenize explode feeds tf, dl, and df; the query set is
    a 3-row broadcast; corpus-level N/Σdl is a 1-row
    broadcast attach. The scoring join touches only postings of the
    query terms (pushed equi-join on token), so the heavy frame never
    re-shuffles on anything but its natural keys."""
    tok = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokenize("text")).alias("t"))
    )
    tok = _persist(tok)
    tf = _persist(
        tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    df = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    q = df.orderBy(F.desc("df"), "t").limit(_BM25_NQ)
    k1 = F.expr(f"CAST({_BM25_K1} AS DOUBLE)")
    b = F.expr(f"CAST({_BM25_B} AS DOUBLE)")
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1
    )
    denom = F.col("tf") + k1 * (
        1 - b + b * F.col("dl") * F.col("n_docs") / F.col("total_len")
    )
    scored = (
        tf.join(F.broadcast(q.select("t", "df")), "t")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(idf * (F.col("tf") * (k1 + 1)) / denom * 1000000)
            .cast("bigint")
            .alias("term_micro"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_query_terms"),
        F.sum("term_micro").cast("bigint").alias("bm25_micro"),
    )


#: Group-sample size for the two-phase grouped top-k (mirrors
#: sample_group_topk_hash's contract).
_TOPK2_K = 5


@CAT.query(
    "sample_group_topk_two_phase",
    oracle=f"""
    WITH r AS (
      SELECT doc_id, lang, source,
             row_number() OVER (
               PARTITION BY lang, source
               ORDER BY {md5_60_sql("CAST(doc_id AS VARCHAR)")}, doc_id)
               AS rk
      FROM documents)
    SELECT lang, source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_TOPK2_K}
    """,
)
def sample_group_topk_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The TWO-PHASE grouped top-k that ``sample_group_topk_hash``'s
    docstring names as the jumbo-stratum upgrade — same contract
    (exactly k per (lang, source), deterministic hash order), same
    oracle, different physical shape:

    Phase 1 (mapInArrow, bounded memory, NO shuffle): each Arrow
    batch keeps only its per-group k smallest (hash, doc_id) keys — a
    pandas groupby-head over the sorted batch. The global per-group
    top-k is a subset of the union of per-batch top-ks (any row it
    contains is within the top-k of every set it belongs to), so the
    screen is lossless; survivors are ≤ k·groups per BATCH instead of
    the full stratum.

    Phase 2 (exact): the standard window ranks only the survivors —
    the shuffle carries ≤ k·groups·batches rows, never a jumbo
    stratum through one task's sort. Hash keys are computed JVM-side
    BEFORE the kernel (same md5_60 the single-window variant uses),
    so the Python crossing ships 4 narrow columns and does zero
    hashing.
    """
    import pyarrow as pa

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        "lang",
        "source",
        md5_60(F.col("doc_id").cast("string")).alias("h"),
    )

    def batch_topk(batches):
        for batch in batches:
            pdf = batch.to_pandas()
            keep = (
                pdf.sort_values(["h", "doc_id"])
                .groupby(["lang", "source"], sort=False)
                .head(_TOPK2_K)
            )
            yield pa.RecordBatch.from_pandas(
                keep, schema=batch.schema, preserve_index=False
            )

    survivors = docs.mapInArrow(
        batch_topk, "doc_id bigint, lang string, source string, h bigint"
    )
    w = Window.partitionBy("lang", "source").orderBy("h", "doc_id")
    return (
        survivors.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= _TOPK2_K)
        .select("lang", "source", "doc_id", "rk")
    )


# Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", appendix A1.1 — the public corpus-filter
# recipe). Ratio rules compare via integer cross-multiplication so no
# floats enter the verdicts. Line-shape rules (bullet/ellipsis) are
# omitted: the synthetic corpus is single-line by construction and the
# rules would vacuously pass.
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = 3  # mean word length bounds (chars/word)
_GOPHER_MAX_MWL = 10
_GOPHER_ALPHA_PCT = 80  # >= 80% of words contain an alphabetic char
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GOPHER_MIN_STOPS = 2  # distinct stop words required


@CAT.query(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    d AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_words,
             CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-zA-Z]')))
                  AS BIGINT) AS n_alpha,
             CAST(list_sum(list_transform(toks, w -> CAST(len(w) AS BIGINT)))
                  AS BIGINT) AS n_chars,
             CAST(len(list_intersect(list_transform(toks, w -> lower(w)),
                  {list(_GOPHER_STOPS)})) AS BIGINT) AS n_stops
      FROM t),
    v AS (
      SELECT doc_id,
             CAST(n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}
                  AS INT) AS r_words,
             CAST(n_chars >= {_GOPHER_MIN_MWL} * n_words
                  AND n_chars <= {_GOPHER_MAX_MWL} * n_words AS INT) AS r_mwl,
             CAST(n_alpha * 100 >= {_GOPHER_ALPHA_PCT} * n_words AS INT)
               AS r_alpha,
             CAST(n_stops >= {_GOPHER_MIN_STOPS} AS INT) AS r_stops
      FROM d)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(r_words) AS BIGINT) AS pass_word_count,
           CAST(SUM(r_mwl) AS BIGINT) AS pass_mean_word_len,
           CAST(SUM(r_alpha) AS BIGINT) AS pass_alpha_ratio,
           CAST(SUM(r_stops) AS BIGINT) AS pass_stop_words,
           CAST(SUM(r_words * r_mwl * r_alpha * r_stops) AS BIGINT)
             AS pass_all
    FROM v
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher corpus-filter rules (Rae et al. 2021, A1.1) as a
    per-rule pass-count report over the documents table: word-count
    bounds, mean-word-length bounds, alphabetic-word ratio, and
    stop-word presence — the named public recipe behind most web-scale
    pretraining filters (C4/RefinedWeb variants tighten the same
    axes). The line-shape rules (bullet/ellipsis starts) are omitted:
    this corpus is single-line by construction and they pass
    vacuously.

    Exactness: every ratio rule compares by integer
    cross-multiplication (n_chars ≥ 3·n_words, 100·n_alpha ≥
    80·n_words) so the verdicts involve no floats at all; the report
    is five exact integer sums off one tokenize pass — a single
    map-side-combined aggregate, no shuffle of document content.
    """
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    toks = tokenize("text")
    d = _docs(spark, sf_dir).select(
        F.size(toks).cast("bigint").alias("n_words"),
        F.size(
            F.filter(toks, lambda w: w.rlike("[a-zA-Z]"))
        ).cast("bigint").alias("n_alpha"),
        F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, w: acc + F.length(w).cast("bigint"),
        ).alias("n_chars"),
        F.size(
            F.array_intersect(
                F.transform(toks, lambda w: F.lower(w)), stops
            )
        ).cast("bigint").alias("n_stops"),
    )
    r_words = (
        F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ).cast("int")
    r_mwl = (
        (F.col("n_chars") >= _GOPHER_MIN_MWL * F.col("n_words"))
        & (F.col("n_chars") <= _GOPHER_MAX_MWL * F.col("n_words"))
    ).cast("int")
    r_alpha = (
        F.col("n_alpha") * 100 >= _GOPHER_ALPHA_PCT * F.col("n_words")
    ).cast("int")
    r_stops = (F.col("n_stops") >= _GOPHER_MIN_STOPS).cast("int")
    v = d.select(
        r_words.alias("r_words"),
        r_mwl.alias("r_mwl"),
        r_alpha.alias("r_alpha"),
        r_stops.alias("r_stops"),
    )
    return v.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("r_words").cast("bigint").alias("pass_word_count"),
        F.sum("r_mwl").cast("bigint").alias("pass_mean_word_len"),
        F.sum("r_alpha").cast("bigint").alias("pass_alpha_ratio"),
        F.sum("r_stops").cast("bigint").alias("pass_stop_words"),
        F.sum(
            F.col("r_words") * F.col("r_mwl") * F.col("r_alpha") * F.col("r_stops")
        ).cast("bigint").alias("pass_all"),
    )


# ---------------------------------------------------------------------------
# Mojibake repair audit — the ftfy class of encoding cleanup

#: The core UTF-8-read-as-Latin-1 digraph table: each Latin-1
#: Supplement character's 2-byte UTF-8 encoding, re-decoded as
#: Latin-1, becomes the 'Ã'-led digraph on the right — the signature
#: corruption ("cafÃ©") every web-scale corpus cleanup (ftfy's
#: fix_encoding, the C4/CCNet pipelines) reverses. A bounded mapping
#: TABLE (not a codec call) keeps the repair a pure JVM expression
#: chain, identical in Spark and the oracle. U+00ED í is excluded
#: because its second byte (0xAD, soft hyphen) is zero-width — a
#: mapping-table repair of invisible characters is exactly the case
#: real pipelines route to a full decoder instead.
_MOJIBAKE_MAP = [
    ("á", "Ã¡"),  # á <- Ã¡
    ("é", "Ã©"),  # é <- Ã©
    ("ó", "Ã³"),  # ó <- Ã³
    ("ú", "Ãº"),  # ú <- Ãº
    ("ñ", "Ã±"),  # ñ <- Ã±
    ("ü", "Ã¼"),  # ü <- Ã¼
    ("ç", "Ã§"),  # ç <- Ã§
]

#: Deterministic corpus shaping: the ASCII fixture has no encoding
#: damage, so the entry plants it — every third document gets two
#: accented words ("dáta", "quéry") and is then double-encoded via
#: the digraph table. Both engines build the SAME planted column, so
#: the repair is verified against a known-good intended text.
_MOJI_PLANT = [("data", "dáta"), ("query", "quéry")]


def _moji_sql(expr: str, table: list[tuple[str, str]], forward: bool) -> str:
    """Chain replace() calls over a mapping table (identical
    left-to-right non-overlapping semantics in Spark and DuckDB)."""
    for clean, moji in table:
        src, dst = (clean, moji) if forward else (moji, clean)
        expr = f"replace({expr}, '{src}', '{dst}')"
    return expr


_MOJI_INTENDED = _moji_sql("text", _MOJI_PLANT, forward=True)
_MOJI_CORRUPT = _moji_sql(_MOJI_INTENDED, _MOJIBAKE_MAP, forward=True)
_MOJI_COUNTS = " + ".join(
    f"(length(corrupted) - length(replace(corrupted, '{moji}', ''))) / 2"
    for _, moji in _MOJIBAKE_MAP
)


@CAT.query(
    "text_mojibake_repair",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN {_MOJI_INTENDED}
                  ELSE text END AS intended,
             CASE WHEN doc_id % 3 = 0 THEN {_MOJI_CORRUPT}
                  ELSE text END AS corrupted
      FROM documents),
    audited AS (
      SELECT doc_id, intended, corrupted,
             {_moji_sql("corrupted", _MOJIBAKE_MAP, forward=False)} AS repaired,
             CAST({_MOJI_COUNTS} AS BIGINT) AS n_mojibake
      FROM planted)
    SELECT doc_id,
           n_mojibake,
           (n_mojibake > 0) AS is_mojibake,
           (repaired = intended) AS repaired_ok,
           CAST(length(corrupted) - length(repaired) AS BIGINT) AS chars_saved
    FROM audited
    """,
)
def text_mojibake_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mojibake (double-encoded UTF-8) detection + repair audit — the
    ftfy ``fix_encoding`` class of cleanup every web corpus runs
    before training. UTF-8 text mis-decoded as Latin-1 turns each
    accented character into an 'Ã'-led digraph ("café" → "cafÃ©");
    the repair inverts the bounded digraph table ``_MOJIBAKE_MAP``
    and the audit reports, per document: the number of mojibake
    sequences found, a corruption flag, whether the repair
    reconstructed the intended text exactly, and the characters
    reclaimed.

    The ASCII fixture has no real encoding damage, so the entry
    PLANTS it deterministically (every third doc_id gets two accented
    words, then the forward corruption) — both engines build the same
    planted column, making ``repaired_ok`` a real end-to-end check
    that the inverse mapping recovers the original, not a vacuous
    always-true. A unit test drives the same mapping over adversarial
    strings (idempotence, clean-text no-ops, multi-hit counting).

    Scale shape: one narrow codegen'd projection — chained
    ``replace`` + ``length`` arithmetic, no UDF, no shuffle, no
    explode; at 100 TB this is a pure map over parquet splits with
    full predicate/column pushdown intact, which is why production
    pipelines run exactly this digraph-table form in the hot path and
    reserve codec-based repair (the stubbed multimodal pattern) for
    flagged rows."""
    d = _docs(spark, sf_dir)
    planted = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0, F.expr(_MOJI_INTENDED)
        ).otherwise(F.col("text")).alias("intended"),
        F.when(
            F.col("doc_id") % 3 == 0, F.expr(_MOJI_CORRUPT)
        ).otherwise(F.col("text")).alias("corrupted"),
    )
    audited = planted.select(
        "doc_id",
        "intended",
        "corrupted",
        F.expr(_moji_sql("corrupted", _MOJIBAKE_MAP, forward=False)).alias(
            "repaired"
        ),
        F.expr(_MOJI_COUNTS).cast("bigint").alias("n_mojibake"),
    )
    return audited.select(
        "doc_id",
        "n_mojibake",
        (F.col("n_mojibake") > 0).alias("is_mojibake"),
        (F.col("repaired") == F.col("intended")).alias("repaired_ok"),
        (F.length("corrupted") - F.length("repaired"))
        .cast("bigint")
        .alias("chars_saved"),
    )


# ---------------------------------------------------------------------------
# Round 9: CCNet-style perplexity bucketing (held-out LM + head/middle/tail)
# ---------------------------------------------------------------------------

#: Reference-slice selector: documents with doc_id % MOD == 0 (~20% of
#: the corpus) stand in for CCNet's clean target corpus (Wikipedia in
#: the paper). Deterministic, partition-prunable, identical in SQL.
_CCNET_TRAIN_MOD = 5


@CAT.query(
    "text_ccnet_buckets",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang, text FROM documents WHERE len(trim(text)) > 0),
    big AS (SELECT doc_id, lang, unnest({_BIGRAMS_SQL}) AS bg FROM d),
    tb AS (SELECT lang, bg FROM big WHERE doc_id % {_CCNET_TRAIN_MOD} = 0),
    cbg AS (SELECT lang, bg, CAST(count(*) AS BIGINT) AS c
            FROM tb GROUP BY 1, 2),
    cw AS (SELECT lang, split_part(bg, ' ', 1) AS w1,
                  CAST(SUM(c) AS BIGINT) AS cw
           FROM cbg GROUP BY 1, 2),
    vt AS (SELECT lang, CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
           FROM (SELECT lang, unnest({_TOKS_SQL}) AS tok FROM d
                 WHERE doc_id % {_CCNET_TRAIN_MOD} = 0)
           GROUP BY 1),
    sc AS (
      SELECT big.doc_id, big.lang,
             CAST(FLOOR(ln(CAST(COALESCE(cbg.c, 0) + 1 AS DOUBLE)
                           / GREATEST(COALESCE(cw.cw, 0) + vt.v, 1))
                        * {_LM_SCALE}) AS BIGINT) AS lp
      FROM big
      LEFT JOIN cbg ON big.lang = cbg.lang AND big.bg = cbg.bg
      LEFT JOIN cw ON big.lang = cw.lang
                  AND split_part(big.bg, ' ', 1) = cw.w1
      JOIN vt ON big.lang = vt.lang),
    pd AS (
      SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
             CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS per_bigram_micro
      FROM sc GROUP BY 1, 2),
    hist AS (SELECT lang, per_bigram_micro, CAST(count(*) AS BIGINT) AS h
             FROM pd GROUP BY 1, 2),
    cumh AS (
      SELECT lang, per_bigram_micro, h,
             SUM(h) OVER (PARTITION BY lang ORDER BY per_bigram_micro
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
             SUM(h) OVER (PARTITION BY lang) AS n
      FROM hist),
    bmap AS (SELECT lang, per_bigram_micro,
                    ((cum - h) * 3) // n + 1 AS b
             FROM cumh)
    SELECT pd.doc_id, pd.lang, pd.n_bigrams, pd.per_bigram_micro,
           CASE bmap.b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS bucket
    FROM pd
    JOIN bmap ON pd.lang = bmap.lang
             AND pd.per_bigram_micro = bmap.per_bigram_micro
    """,
)
def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet perplexity bucketing (Wenzek et al. 2020, the pipeline
    behind CCNet/CC-100 and most web-scale pretraining corpora): train
    a per-language LM on a clean reference slice, score EVERY document
    by per-token surprisal, and split each language into head / middle
    / tail tertiles — head being the third closest to the reference
    distribution, the slice that actually enters training.

    Differences from :func:`text_bigram_surprisal` (the corpus-MLE
    proxy) are exactly the published pipeline's three ingredients:
    (1) the model is trained on a HELD-OUT reference slice
    (doc_id % {_CCNET_TRAIN_MOD} == 0 stands in for Wikipedia), so
    scoring is a genuine out-of-distribution measurement and needs
    (2) add-one smoothing over the per-language training vocabulary V
    — P(w2|w1) = (c+1)/(c(w1·)+V) — to price unseen transitions; and
    (3) the scores feed per-LANGUAGE tertile buckets, CCNet's actual
    output artifact.

    Exactness: the same fixed-point contract as the other LM entries —
    per-bigram log-probabilities floor to integer micro-nats, document
    scores are order-independent BIGINT sums. Bucketing is exact yet
    sort-free at scale: instead of ranking every document per language
    (a giant per-lang window), the per-doc integer scores are
    compressed to a (lang, score) HISTOGRAM and the tertile is
    assigned per score-group from its cumulative start index
    (((cum - h) * 3) // n + 1, ties share a bucket by construction —
    same score ⇒ same bucket, which is also the leakage-safe choice).
    The histogram itself is NOT model-sized (integer per-doc scores
    are near-unique), so its cumulative uses the two-phase prefix-sum
    scaffold: within-(lang, score-div-2²⁰) window sums run parallel
    and only the per-(lang, bucket) offsets frame — corpus-size-
    independent — is broadcast. Documents pick up their bucket through
    a (lang, score)-keyed join. A language absent from the reference
    slice has no LM and is dropped by the inner vocab join in BOTH
    engines (at any tested SF every language has training docs).

    Plan: one persisted bigram explode feeds the training aggregation
    and the scoring joins; the model frames are vocabulary-sized, so
    AQE plans them as BROADCAST builds against the stream (plan-
    verified at sf0.1) — with a vocabulary too big to broadcast they
    degrade to lang+bigram-keyed shuffles that AQE skew-splits on hot
    transitions. The vocab count is a training-slice-only token
    explode (≈1/{_CCNET_TRAIN_MOD} of the corpus); V is a 5-row
    broadcast; the per-doc scores persist once and feed both the
    histogram branch and the final bucket join; the histogram/bucket
    frames are model-sized. No Python, no doubles in any
    aggregation."""
    docs = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    big = docs.select(
        "doc_id", "lang", F.explode(shingles(tokenize("text"), 2)).alias("bg")
    )
    big = _persist(big)
    train = big.filter(F.col("doc_id") % _CCNET_TRAIN_MOD == 0)
    cbg = train.groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("c"))
    w1 = F.split(F.col("bg"), " ", 2)[0]
    cw = cbg.groupBy("lang", w1.alias("w1")).agg(F.sum("c").alias("cw"))
    vt = (
        docs.filter(F.col("doc_id") % _CCNET_TRAIN_MOD == 0)
        .select("lang", F.explode(tokenize("text")).alias("tok"))
        .groupBy("lang")
        .agg(F.count_distinct("tok").alias("v"))
    )
    lp = F.floor(
        F.log(
            (F.coalesce(F.col("c"), F.lit(0)) + 1).cast("double")
            / F.greatest(
                F.coalesce(F.col("cw"), F.lit(0)) + F.col("v"), F.lit(1)
            )
        )
        * _LM_SCALE
    ).cast("bigint")
    cw = cw.withColumnRenamed("lang", "cw_lang")
    sc = (
        big.join(cbg, ["lang", "bg"], "left")
        .join(
            cw,
            (F.col("lang") == F.col("cw_lang")) & (w1 == F.col("w1")),
            "left",
        )
        .join(F.broadcast(vt), "lang")
        .select("doc_id", F.col("lang"), lp.alias("lp"))
    )
    pd_ = sc.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("(-sum(lp)) div count(*)").cast("bigint").alias(
            "per_bigram_micro"
        ),
    )
    # feeds BOTH the histogram branch and the final bucket join — the
    # whole scoring subtree would otherwise execute twice
    pd_ = _persist(pd_)
    hist = pd_.groupBy("lang", "per_bigram_micro").agg(
        F.count(F.lit(1)).alias("h")
    )
    # Exact per-lang cumulative WITHOUT a per-lang global sort: the
    # (lang, score) histogram is NOT model-sized (integer per-doc
    # scores are near-unique, so it grows with the corpus — r9 review
    # finding), so the cumulative uses the two-phase prefix-sum
    # scaffold (functions.two_phase_cumsum): scores bucket by div 2^20
    # (≈1 nat), within-(lang,bucket) window sums run parallel, and
    # ONLY the per-(lang,bucket) offsets frame — score_range/2^20 rows
    # per language, corpus-independent — is broadcast back with the
    # per-lang totals riding along.
    v = hist.withColumn("bkt", F.expr("per_bigram_micro div 1048576"))
    bmap = two_phase_cumsum(
        v, ["h"], ["per_bigram_micro"], ["bkt"], groups=["lang"], totals=True
    ).select(
        "lang",
        "per_bigram_micro",
        F.expr("((cum_h - h) * 3) div n_h + 1").alias("b"),
    )
    bucket = (
        F.when(F.col("b") == 1, "head")
        .when(F.col("b") == 2, "middle")
        .otherwise("tail")
    )
    return (
        pd_.join(bmap, ["lang", "per_bigram_micro"])
        .select(
            "doc_id",
            "lang",
            "n_bigrams",
            "per_bigram_micro",
            bucket.alias("bucket"),
        )
    )


# ---------------------------------------------------------------------------
# Round 9: DSIR — data selection with importance resampling
# ---------------------------------------------------------------------------

#: Hashed-feature dimensionality for the DSIR importance model (the
#: paper uses 10k hashed n-gram buckets; 256 keeps the model readable
#: while exercising the identical machinery).
_DSIR_B = 256
#: Target-domain selector: documents from this source stand in for the
#: paper's target corpus (e.g. Wikipedia/books when curating from CC).
_DSIR_TARGET = "src0"


@CAT.query(
    "sample_dsir_importance",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source, unnest({_TOKS_SQL}) AS t
      FROM documents WHERE len(trim(text)) > 0),
    f AS (SELECT doc_id, source, ({md5_60_sql('t')}) % {_DSIR_B} AS b
          FROM tok),
    cr AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM f GROUP BY b),
    ct AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM f
           WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f
           WHERE source = '{_DSIR_TARGET}'),
    nr AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f),
    model AS (
      SELECT cr.b,
             CAST(FLOOR(ln(
               (CAST(COALESCE(ct.c, 0) + 1 AS DOUBLE) / (nt.n + {_DSIR_B}))
               / (CAST(cr.c + 1 AS DOUBLE) / (nr.n + {_DSIR_B}))
             ) * {_LM_SCALE}) AS BIGINT) AS lw
      FROM cr LEFT JOIN ct ON cr.b = ct.b, nt, nr),
    dw AS (
      SELECT f.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(SUM(m.lw) AS BIGINT) AS weight_micro
      FROM f JOIN model m ON f.b = m.b GROUP BY 1),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dw),
    r AS (
      SELECT doc_id, n_tokens, weight_micro,
             CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id)
                  AS BIGINT) AS sel_rank
      FROM dw)
    SELECT doc_id, n_tokens, weight_micro, sel_rank,
           sel_rank <= (tot.n + 3) // 4 AS selected
    FROM r, tot
    """,
)
def sample_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR — Data Selection with Importance Resampling (Xie et al.,
    NeurIPS 2023), the importance-weighted data-selection stage of a
    pretraining pipeline: score every raw document by how much more
    likely its hashed-feature profile is under a TARGET domain than
    under the raw corpus, then keep the top quarter.

    Model: tokens hash into {_DSIR_B} buckets (md5_60 %, identical in
    both engines); the target distribution comes from the
    '{_DSIR_TARGET}' slice, the raw distribution from the full corpus,
    both add-one smoothed. A bucket's log importance ratio
    ln(p_target/p_raw) is floored to integer micro-nats on the
    {_DSIR_B}-row MODEL (the only place a double exists), so each
    document's weight is an order-independent BIGINT sum over its
    tokens — the paper's Gumbel resampling is replaced by the
    deterministic top-K variant (rank by weight, doc_id tiebreak) so
    the entry is oracle-exact.

    Scale shape: the token stream is persisted once and feeds the two
    model aggregations (both {_DSIR_B}-row outputs) and the scoring
    join, which is a BROADCAST of the model against the stream — no
    corpus-keyed exchange at all for scoring; the per-doc weight agg is
    the one corpus shuffle. Ranking uses the two-phase global
    row-number scaffold (:func:`two_phase_cumsum` of a constant 1):
    range-repartition on the unique (weight DESC, doc_id) key,
    per-partition window, broadcast exclusive offsets — globally
    consecutive ranks with no single-task sort. K = ceil(n/4) comes
    from the totals on the offsets frame, so `selected` is a
    projection, not a second pass.
    """
    docs = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    f = docs.select(
        "doc_id", "source", F.explode(tokenize("text")).alias("t")
    ).select("doc_id", "source", (md5_60(F.col("t")) % _DSIR_B).alias("b"))
    f = _persist(f)
    cr = f.groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    ct = (
        f.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    nt = f.filter(F.col("source") == _DSIR_TARGET).agg(
        F.count(F.lit(1)).alias("nt")
    )
    nr = f.agg(F.count(F.lit(1)).alias("nr"))
    lw = F.floor(
        F.log(
            (
                (F.coalesce(F.col("ct"), F.lit(0)) + 1).cast("double")
                / (F.col("nt") + _DSIR_B)
            )
            / ((F.col("c") + 1).cast("double") / (F.col("nr") + _DSIR_B))
        )
        * _LM_SCALE
    ).cast("bigint")
    model = (
        cr.join(ct, "b", "left")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nr))
        .select("b", lw.alias("lw"))
    )
    dw = (
        f.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lw").cast("bigint").alias("weight_micro"),
        )
    )
    # two-phase global rank on (weight DESC, doc_id) — unique key, so
    # the sampled range boundaries cannot change any row's rank
    r = dw.repartitionByRange(
        32, F.desc("weight_micro"), F.asc("doc_id")
    ).withColumn("pid", F.spark_partition_id())
    r = _persist(r)
    ranked = two_phase_cumsum(
        r.withColumn("one", F.lit(1)),
        ["one"],
        [F.desc("weight_micro"), F.asc("doc_id")],
        ["pid"],
        totals=True,
    )
    return ranked.select(
        "doc_id",
        "n_tokens",
        "weight_micro",
        F.col("cum_one").alias("sel_rank"),
        (F.col("cum_one") <= F.expr("(n_one + 3) div 4")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# Round 10: tokenizer fertility / compression-ratio report per language


@CAT.query(
    "tokenizer_fertility_report",
    oracle=f"""
    WITH t AS (
      SELECT lang, {_TOKS_SQL} AS toks,
             CAST(strlen(trim(text)) AS BIGINT) AS nb
      FROM documents WHERE len(trim(text)) > 0),
    s AS (
      SELECT lang, nb, CAST(len(toks) AS BIGINT) AS nw,
             CAST(list_sum(list_transform(toks, w -> len(w))) AS BIGINT)
               AS nc,
             CAST(list_sum(list_transform(
                   list_transform(toks, w -> {_sw_segment_sql("w", "duck")}),
                   g -> len(g) - len(replace(g, '{_SW_SEP}', '')) - 1))
               AS BIGINT) AS ns
      FROM t),
    a AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(nw) AS BIGINT) AS n_words,
             CAST(SUM(nc) AS BIGINT) AS n_chars,
             CAST(SUM(nb) AS BIGINT) AS n_bytes,
             CAST(SUM(ns) AS BIGINT) AS n_subwords
      FROM s GROUP BY 1)
    SELECT lang, n_docs, n_words, n_chars, n_bytes, n_subwords,
           CAST(CAST(n_subwords AS HUGEINT) * 1000000 // n_words
                AS BIGINT) AS fertility_micro,
           CAST(CAST(n_chars AS HUGEINT) * 1000000 // n_subwords
                AS BIGINT) AS chars_per_token_micro,
           CAST(CAST(n_subwords AS HUGEINT) * 1000000 // n_bytes
                AS BIGINT) AS tokens_per_byte_micro
    FROM a
    """,
)
def tokenizer_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression-ratio report per language —
    the standard readiness check before committing a tokenizer to a
    pretraining run (a language whose fertility is 2× the others pays
    2× the compute per byte of signal and starves in a shared token
    budget). Applies the catalog's fixed merge cascade (the
    ``text_subword_merge_stats`` apply side / ``_sw_segment_sql``,
    trained by ``bpe_learn_merges``) to every document and aggregates
    per language: document/word/char/byte/subword totals plus the
    three ratios tokenizer reports quote — fertility (subword tokens
    per whitespace word), chars per token (compression), and tokens
    per byte (cost per byte of corpus).

    Exactness: the ratios are integer micro-units via cross-
    multiplication (a·10⁶ // b on the BIGINT totals, widened through
    DECIMAL(38,0)/HUGEINT so the multiply cannot overflow even at
    10¹³+ subwords per language) — no doubles anywhere, so
    cross-engine parity is bit-exact and the sums are
    order-independent under any partitioning. Invariants pinned by
    tests/test_round10.py: fertility ≥ 10⁶ (every word is ≥ 1
    subword), chars-per-token ≥ 10⁶ (every subword is ≥ 1 char), and
    the per-language subword totals reconcile exactly with the
    per-document ``text_subword_merge_stats`` output.

    Plan: the whole cascade is the sibling entry's zero-shuffle
    codegen projection (merges ship inside the expression); the ONLY
    exchange is the per-language aggregation, whose map-side partials
    reduce each partition to |langs| rows — at 100 TB the shuffle
    carries ~5 rows per task, and the ratio division runs on the
    final |langs|-row frame. Reference: no counterpart (converter.go
    is a per-file converter); SURVEY §2 LLM-tokenizer extension."""
    seg_sql = _sw_segment_sql("w", "spark")
    toks = tokenize("text")
    d = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "lang",
            toks.alias("toks"),
            F.octet_length(F.trim("text")).cast("bigint").alias("nb"),
        )
        .withColumn("seg", F.expr(f"transform(toks, w -> {seg_sql})"))
    )
    n_sub = F.aggregate(
        F.transform(
            F.col("seg"),
            lambda g: F.length(g)
            - F.length(F.replace(g, F.lit(_SW_SEP)))
            - 1,
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n_chars = F.aggregate(
        F.transform(F.col("toks"), F.length),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    a = (
        d.select(
            "lang",
            "nb",
            F.size("toks").cast("bigint").alias("nw"),
            n_chars.alias("nc"),
            n_sub.alias("ns"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("nw").cast("bigint").alias("n_words"),
            F.sum("nc").cast("bigint").alias("n_chars"),
            F.sum("nb").cast("bigint").alias("n_bytes"),
            F.sum("ns").cast("bigint").alias("n_subwords"),
        )
    )
    # the cross-multiplications widen through DECIMAL(38,0) (HUGEINT in
    # the oracle): at the advertised 100 TB scale a language's subword
    # total passes int64max/10⁶ ≈ 9.2e12 and a bare BIGINT multiply
    # would throw ARITHMETIC_OVERFLOW under ANSI mode. Unlike the
    # feat_target_encoding_loo case (r8: DECIMAL dropped for an int64
    # decomposition because it widened a CORPUS-sized column), this
    # division runs on the final |langs|-row frame — cost is nil.
    return a.select(
        "lang",
        "n_docs",
        "n_words",
        "n_chars",
        "n_bytes",
        "n_subwords",
        F.expr(
            "cast(cast(n_subwords as decimal(38,0)) * 1000000"
            " div n_words as bigint)"
        ).alias("fertility_micro"),
        F.expr(
            "cast(cast(n_chars as decimal(38,0)) * 1000000"
            " div n_subwords as bigint)"
        ).alias("chars_per_token_micro"),
        F.expr(
            "cast(cast(n_subwords as decimal(38,0)) * 1000000"
            " div n_bytes as bigint)"
        ).alias("tokens_per_byte_micro"),
    )


# ---------------------------------------------------------------------------
# Round 11: trained language identification (the last unbuilt CCNet stage)


#: Char n-gram order for the langid classifier (trigram is the
#: classic langid.py / fastText-default granularity).
_LANGID_N = 3
#: Hashed feature buckets — small enough that the per-language weight
#: vector inlines as an array literal in the scoring projection (the
#: quality_model_score convention), large enough that distinct
#: character distributions land in distinct buckets.
_LANGID_D = 64
#: Training sample: the lowest doc_ids (the bounded-sample trainer
#: convention every ANN index here uses — model parameters come from
#: a fixed-size sample, corpus-independent).
_LANGID_SAMPLE = 512


def _langid_grams(t):
    """Array of char {_LANGID_N}-grams of a (lower/trimmed) string
    column — F.sequence positions + Column.substr, no Python."""
    return F.transform(
        F.sequence(F.lit(1), F.length(t) - (_LANGID_N - 1)),
        lambda i: t.substr(i, F.lit(_LANGID_N)),
    )


def langid_score_frame(docs: DataFrame) -> DataFrame:
    """Train a naive-Bayes linear langid on the lowest
    ``_LANGID_SAMPLE`` doc_ids of ``docs`` (columns: doc_id, lang,
    text), then score EVERY row — factored out so tests can run the
    identical estimator on planted fixtures with genuinely distinct
    character distributions.

    Model: per language, Laplace-smoothed log-probabilities of hashed
    char-trigram buckets plus a document-frequency log-prior, all
    FLOORED to integer micro-units so scores are exact BIGINTs
    (the _LM_SCALE fixed-point discipline). Score(doc, lang) =
    prior[lang] + Σ_grams w[lang][h(gram) mod D]; prediction is the
    argmax with ties broken (score DESC, lang DESC) identically in
    both engines.

    Plan: training is one bounded explode+count over the ≤512-doc
    sample (TakeOrdered + model-sized aggregations, collected once —
    |langs|·D + |langs| rows); scoring is a ZERO-SHUFFLE codegen
    projection — buckets hashed once per doc into an int array, then
    |langs| F.aggregate folds over inlined weight-array literals.
    No corpus join, no explode, no Python in the scoring path.

    The floor(ln·10⁶) weight/prior constants are evaluated ONCE
    through DuckDB itself (a |langs|·D-row scalar query over the
    collected counts, identical expression text to the oracle's), so
    the literals inlined into the Spark projection are definitionally
    the numbers the oracle recomputes — parity no longer depends on
    CPython's libm agreeing with DuckDB's at floor boundaries
    (ADVICE r11)."""
    norm = F.lower(F.trim(F.col("text")))
    base = docs.select("doc_id", "lang", norm.alias("t")).filter(
        F.length("t") >= _LANGID_N
    )
    samp = _persist(base.orderBy("doc_id").limit(_LANGID_SAMPLE))
    ex = samp.select(
        "lang",
        F.explode(
            F.transform(
                _langid_grams(F.col("t")),
                lambda g: (md5_60(g) % _LANGID_D).cast("int"),
            )
        ).alias("b"),
    )
    cnt = {
        (r.lang, r.b): r.c
        for r in ex.groupBy("lang", "b").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    tot = {
        r.lang: r.c
        for r in ex.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    dl = {
        r.lang: r.c
        for r in samp.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n_sample = sum(dl.values())
    langs = sorted(tot)
    # Evaluate the micro-nat constants with DuckDB's ln — the SAME
    # expression text the oracle runs — so both engines inline
    # identical integers by construction (see docstring).
    import duckdb
    import pandas as pd

    win = pd.DataFrame(
        [
            (lang, b, cnt.get((lang, b), 0), tot[lang])
            for lang in langs
            for b in range(_LANGID_D)
        ],
        columns=["lang", "b", "c", "n"],
    )
    pin = pd.DataFrame(
        [(lang, dl[lang], n_sample) for lang in langs],
        columns=["lang", "d", "m"],
    )
    con = duckdb.connect()
    con.register("win", win)
    con.register("pin", pin)
    weights = {lang: [0] * _LANGID_D for lang in langs}
    for lang, b, w in con.execute(
        f"""SELECT lang, b,
                   CAST(FLOOR(ln((c + 1) / CAST(n + {_LANGID_D} AS DOUBLE))
                              * {_LM_SCALE}) AS BIGINT)
            FROM win"""
    ).fetchall():
        weights[lang][b] = int(w)
    priors = {
        lang: int(p)
        for lang, p in con.execute(
            f"""SELECT lang,
                       CAST(FLOOR(ln(d / CAST(m AS DOUBLE)) * {_LM_SCALE})
                            AS BIGINT)
                FROM pin"""
        ).fetchall()
    }
    con.close()

    withb = base.select(
        "doc_id",
        "lang",
        F.transform(
            _langid_grams(F.col("t")),
            lambda g: (md5_60(g) % _LANGID_D).cast("int"),
        ).alias("bs"),
    )

    def score_of(lang):
        warr = F.array(*[F.lit(w) for w in weights[lang]])
        return F.aggregate(
            F.col("bs"),
            F.lit(priors[lang]).cast("bigint"),
            lambda acc, b: acc + F.element_at(warr, b + 1),
        )

    ranked = withb.select(
        "doc_id",
        "lang",
        F.reverse(
            F.array_sort(
                F.array(
                    *[
                        F.struct(
                            score_of(lang).alias("s"),
                            F.lit(lang).alias("pl"),
                        )
                        for lang in langs
                    ]
                )
            )
        ).alias("rk"),
    )
    margin = (
        (F.col("rk")[0]["s"] - F.col("rk")[1]["s"])
        if len(langs) > 1
        else F.lit(0).cast("bigint")
    )
    return ranked.select(
        "doc_id",
        "lang",
        F.col("rk")[0]["pl"].alias("pred_lang"),
        F.col("rk")[0]["s"].alias("score_micro"),
        margin.alias("margin_micro"),
        (F.col("rk")[0]["pl"] == F.col("lang")).alias("agree"),
    )


def _langid_oracle() -> str:
    """DuckDB replay of :func:`langid_score_frame` — sample selection,
    trigram bucket counts, smoothed integer weights + priors, corpus
    scoring join, windowed argmax. Weight/grid CTEs MATERIALIZED (the
    chained-CTE inlining guard); the corpus scoring join stays inline
    so it fuses."""
    gram = f"substring(t, CAST(i AS INTEGER), {_LANGID_N})"
    return f"""
    WITH base AS (
      SELECT doc_id, lang, lower(trim(text)) AS t FROM documents
      WHERE len(lower(trim(text))) >= {_LANGID_N}),
    samp AS MATERIALIZED (
      SELECT * FROM base ORDER BY doc_id LIMIT {_LANGID_SAMPLE}),
    ex AS (
      SELECT lang, {md5_60_sql(gram)} % {_LANGID_D} AS b
      FROM samp, unnest(range(1, len(t) - {_LANGID_N - 2})) AS u(i)),
    cnt AS (SELECT lang, b, COUNT(*) AS c FROM ex GROUP BY 1, 2),
    tot AS (SELECT lang, COUNT(*) AS n FROM ex GROUP BY 1),
    dl AS (SELECT lang, COUNT(*) AS d FROM samp GROUP BY 1),
    ns AS (SELECT COUNT(*) AS m FROM samp),
    grid AS (SELECT dl.lang, gb.b FROM dl, unnest(range(0, {_LANGID_D})) AS gb(b)),
    w AS MATERIALIZED (
      SELECT g.lang, g.b,
             CAST(FLOOR(ln((COALESCE(c.c, 0) + 1)
                           / CAST(t.n + {_LANGID_D} AS DOUBLE))
                        * {_LM_SCALE}) AS BIGINT) AS w
      FROM grid g
      JOIN tot t USING (lang)
      LEFT JOIN cnt c ON c.lang = g.lang AND c.b = g.b),
    pri AS MATERIALIZED (
      SELECT dl.lang,
             CAST(FLOOR(ln(dl.d / CAST(ns.m AS DOUBLE)) * {_LM_SCALE})
                  AS BIGINT) AS p
      FROM dl, ns),
    cb AS (
      SELECT doc_id, {md5_60_sql(gram)} % {_LANGID_D} AS b
      FROM base, unnest(range(1, len(t) - {_LANGID_N - 2})) AS u(i)),
    sc AS (
      SELECT cb.doc_id, w.lang AS cand,
             CAST(MAX(pri.p) + SUM(w.w) AS BIGINT) AS s
      FROM cb JOIN w ON w.b = cb.b JOIN pri ON pri.lang = w.lang
      GROUP BY cb.doc_id, w.lang),
    rk AS (
      SELECT doc_id, cand, s,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, cand DESC) AS rn,
             s - lead(s) OVER (PARTITION BY doc_id
                               ORDER BY s DESC, cand DESC) AS mg
      FROM sc)
    SELECT b.doc_id, b.lang, rk.cand AS pred_lang, rk.s AS score_micro,
           CAST(COALESCE(rk.mg, 0) AS BIGINT) AS margin_micro,
           (rk.cand = b.lang) AS agree
    FROM rk JOIN base b USING (doc_id) WHERE rk.rn = 1
    """


@CAT.query("text_langid_model", oracle=_langid_oracle())
def text_langid_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained language identification — the one CCNet/C4 stage that
    was still unbuilt (Wenzek et al. 2020 run fastText langid UPSTREAM
    of the LM buckets; every other entry consumes the corpus's `lang`
    column as given). fastText-style shape: hashed char-trigram
    features → per-language linear scores → argmax, with the model
    trained on a bounded sample and applied as a zero-shuffle inlined
    projection (see :func:`langid_score_frame` for the estimator and
    the plan shape; composite into text_ccnet_buckets pinned by
    tests/test_round11.py).

    Honesty note (the ANN recall-honesty convention): the synthetic
    corpus draws EVERY language's text from the same English word
    distribution — `lang` is an independent label, not a property of
    the characters — so corpus-level agreement lands near the
    majority-class prior by construction. The estimator's
    discrimination is proven on planted fixtures with genuinely
    distinct character distributions (tests/test_round11.py), where
    agreement is exact; margin_micro quantifies ambiguity per doc.

    Exactness: weights and priors are floor(ln(·)·10⁶) integer
    micro-units, scores are BIGINT sums, the argmax tie-breaks
    (score DESC, lang DESC) — bit-identical in DuckDB.
    Reference: no counterpart (converter.go is a per-file converter);
    SURVEY §2 LLM-text extension."""
    return langid_score_frame(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Round 11: URL/domain-level filtering (RefinedWeb/C4 blocklist + cap)


#: Registrable-domain universe for the deterministic URL fixture: 40
#: domains d0..d39, TLD fixed by dom_id % 4 so the registrable name is
#: a pure function of the doc-id hash (both engines replay it).
_URL_DOMS = 40
_URL_TLDS = ("com", "org", "net", "io")
#: RefinedWeb-style per-domain contribution cap: a registrable domain
#: contributes its _URL_CAP lowest doc_ids; the rest are 'capped'.
_URL_CAP = 12
#: C4/RefinedWeb-style blocklist — explicit registrable-domain
#: literals (consistent with the dom_id % 4 TLD rule: 3→io, 17→org,
#: 29→org; pinned by tests/test_round11.py).
_URL_BLOCKLIST = ("d3.io", "d17.org", "d29.org")
_URL_BLOCK_SQL = ", ".join(f"'{d}'" for d in _URL_BLOCKLIST)


@CAT.query(
    "text_url_domain_filter",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {md5_60_sql("CAST(doc_id AS VARCHAR)")} % {_URL_DOMS} AS dom_id
      FROM documents),
    u AS (
      SELECT doc_id,
             'https://www.d' || CAST(dom_id AS VARCHAR) || '.' ||
             list_value('{_URL_TLDS[0]}', '{_URL_TLDS[1]}',
                        '{_URL_TLDS[2]}', '{_URL_TLDS[3]}')[
               CAST(dom_id % 4 AS INTEGER) + 1] ||
             '/doc/' || CAST(doc_id AS VARCHAR) AS url
      FROM h),
    p AS (
      SELECT doc_id, url,
             regexp_extract(
               regexp_extract(url, '^https://([^/]+)/', 1),
               '([^.]+\\.[^.]+)$', 1) AS domain
      FROM u),
    f AS (
      SELECT doc_id, domain,
             domain IN ({_URL_BLOCK_SQL}) AS blocked,
             row_number() OVER (
               PARTITION BY domain, domain IN ({_URL_BLOCK_SQL})
               ORDER BY doc_id) AS rk
      FROM p)
    SELECT doc_id, domain,
           CAST(CASE WHEN blocked THEN 0 ELSE rk END AS BIGINT)
             AS domain_rank,
           CASE WHEN blocked THEN 'blocked'
                WHEN rk > {_URL_CAP} THEN 'capped'
                ELSE 'kept' END AS verdict
    FROM f
    """,
)
def text_url_domain_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level filtering — the RefinedWeb/C4 pipeline stage
    that runs BEFORE any content filter: parse each document's URL,
    extract the registrable domain, drop blocklisted domains, and cap
    every domain's contribution at its ``_URL_CAP`` lowest doc_ids
    (RefinedWeb's per-domain frequency cap, the defense against a
    single crawler-friendly site dominating the corpus).

    The corpus carries no URL column, so the URL ASSIGNMENT is a
    deterministic fixture stage (registrable domain = pure function of
    the doc-id hash — the multimodal-stub convention: fixture-gen is
    replayed identically by both engines and clearly marked). The
    OPERATOR under test is everything after it: host extraction and
    registrable-domain parsing are real regexes over the URL string,
    the blocklist is an IN-list, and the cap is a rank within the
    domain.

    Exactness: hash-derived domain ids, string equality against
    literal blocklist entries, and a deterministic (domain, doc_id)
    rank — no doubles anywhere. Blocked docs report rank 0 (they never
    consume a cap slot — the published order: blocklist first, cap the
    survivors).

    Plan: URL synthesis + parsing + blocklist test are one zero-
    shuffle codegen projection; the cap is ONE domain-keyed window
    exchange (partition (domain, blocked), order doc_id). At web scale
    registrable-domain cardinality is ~10⁷ with the hottest domains at
    ~10⁶ docs — a single window partition per domain holds; a truly
    degenerate domain would switch to the two-phase rank scaffold
    (functions.two_phase_cumsum) keyed on (domain, doc_id-bucket).
    Reference: no counterpart (converter.go is a per-file converter);
    SURVEY §2 LLM-text extension."""
    h = md5_60(F.col("doc_id").cast("string"))
    dom_id = h % _URL_DOMS
    tld = F.element_at(
        F.array(*[F.lit(t) for t in _URL_TLDS]),
        (dom_id % 4).cast("int") + 1,
    )
    url = F.concat(
        F.lit("https://www.d"),
        dom_id.cast("string"),
        F.lit("."),
        tld,
        F.lit("/doc/"),
        F.col("doc_id").cast("string"),
    )
    p = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_extract(
            F.regexp_extract(url, "^https://([^/]+)/", 1),
            r"([^.]+\.[^.]+)$",
            1,
        ).alias("domain"),
    )
    blocked = F.col("domain").isin(*_URL_BLOCKLIST)
    rk = F.row_number().over(
        Window.partitionBy("domain", blocked).orderBy("doc_id")
    )
    f = p.select("doc_id", "domain", blocked.alias("blocked"), rk.alias("rk"))
    return f.select(
        "doc_id",
        "domain",
        F.when(F.col("blocked"), F.lit(0))
        .otherwise(F.col("rk"))
        .cast("bigint")
        .alias("domain_rank"),
        F.when(F.col("blocked"), F.lit("blocked"))
        .when(F.col("rk") > _URL_CAP, F.lit("capped"))
        .otherwise(F.lit("kept"))
        .alias("verdict"),
    )


# ---------------------------------------------------------------------------
# Round 12: unigram-LM (SentencePiece-style) tokenizer trainer


#: Word types longer than this are excluded from the trainer histogram
#: (the SentencePiece max-sentencepiece-length discipline; also the DP
#: unroll bound for the oracle replay).
_ULM_MAXLEN = 12
#: Maximum candidate piece length.
_ULM_MAXP = 4
#: Multi-char seed candidates: top-K substrings (2.._ULM_MAXP chars)
#: by f-weighted occurrence, ties (occ DESC, piece ASC).
_ULM_K = 48
#: Viterbi-EM rounds (segment -> recount -> Laplace+1 recost).
_ULM_ITERS = 2


def _ulm_viterbi_pieces(w, cost: dict):
    """Viterbi segmentation of word column ``w`` under integer piece
    costs — entirely Spark higher-order functions (one ``aggregate``
    fold over positions carrying the dp/backpointer array, its finish
    lambda a second bounded fold that walks the backpointers), so the
    per-word DP stays inside whole-stage codegen: no pandas UDF, no
    Python in the segmentation path, plan size LINEAR in _ULM_MAXLEN
    (the naive nested-expression encoding is 4^12 nodes).

    Tie rule: candidates are tried longest-piece-first and replaced
    only on strictly smaller cost, so ties prefer the longest final
    piece — the oracle's ``least`` + first-equal-in-(4..1)-order
    backpointer CASE implements the identical preference."""
    costmap = F.create_map(
        *[x for p, c in sorted(cost.items()) for x in (F.lit(p), F.lit(c))]
    )

    def dp_step(acc, i):
        best = None
        for L in range(_ULM_MAXP, 0, -1):
            # guards evaluate under when(); clamp keeps the masked
            # element_at/substr index positive (negative would silently
            # index from the end)
            j1 = F.greatest(i - F.lit(L) + 1, F.lit(1))
            cand = F.when(
                i >= F.lit(L),
                F.element_at(acc, j1)["dp"]
                + F.try_element_at(costmap, w.substr(j1, F.lit(L))),
            )
            chosen = F.struct(cand.alias("dp"), F.lit(L).alias("bk"))
            if best is None:
                best = chosen
            else:
                best = F.when(
                    cand.isNotNull()
                    & (best["dp"].isNull() | (cand < best["dp"])),
                    chosen,
                ).otherwise(best)
        return F.concat(acc, F.array(best))

    def finish(acc):
        def back_step(st, _):
            bk = F.element_at(acc, st["pos"] + 1)["bk"]
            return F.when(
                st["pos"] > 0,
                F.struct(
                    (st["pos"] - bk).alias("pos"),
                    F.concat(
                        F.array(w.substr(st["pos"] - bk + 1, bk)), st["ps"]
                    ).alias("ps"),
                ),
            ).otherwise(st)

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(_ULM_MAXLEN)),
            F.struct(
                F.length(w).cast("int").alias("pos"),
                F.array().cast("array<string>").alias("ps"),
            ),
            back_step,
        )["ps"]

    return F.aggregate(
        F.sequence(F.lit(1), F.length(w)),
        F.array(
            F.struct(
                F.lit(0).cast("bigint").alias("dp"),
                F.lit(0).cast("int").alias("bk"),
            )
        ),
        dp_step,
        finish,
    )


def _ulm_costs(counts: dict) -> dict:
    """floor(ln(T/occ)·10⁶) integer micro-nat costs, evaluated through
    DuckDB's own ln over the model-sized count table — the langid
    convention (ADVICE r11): the literals the Spark projection inlines
    are definitionally the numbers the oracle recomputes."""
    import duckdb
    import pandas as pd

    tot = sum(counts.values())
    df = pd.DataFrame(
        [(p, c, tot) for p, c in counts.items()],
        columns=["piece", "occ", "tot"],
    )
    con = duckdb.connect()
    con.register("cdf", df)
    out = {
        p: int(w)
        for p, w in con.execute(
            f"""SELECT piece,
                       CAST(FLOOR(ln(tot / CAST(occ AS DOUBLE))
                                  * {_LM_SCALE}) AS BIGINT)
                FROM cdf"""
        ).fetchall()
    }
    con.close()
    return out


def _ulm_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trainer's word-type histogram (w, f) — ONE definition shared
    by the trainer and the fertility report (and mirrored by the
    u_words / u_lw oracle CTEs), so the length filter and
    normalization cannot drift between the entries they reconcile."""
    return (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(F.explode(tokenize(F.lower(F.col("text")))).alias("w"))
        .filter(F.length("w").between(1, _ULM_MAXLEN))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )


def unigram_lm_model(words: DataFrame) -> list[tuple]:
    """Train the unigram LM on a word-type histogram ``words``
    (columns: w string, f bigint) and return the final model rows
    ``(piece, piece_len, viterbi_count, cost_micro, kept)`` — factored
    so tests can run the identical estimator on planted histograms.

    Shape (the ``bpe_learn_merges`` discipline): the corpus appears
    only through the histogram; every EM round segments WORD TYPES
    (distributed, zero-Python DP via :func:`_ulm_viterbi_pieces`),
    recounts with a piece groupBy whose result is model-sized
    (≤ alphabet + {_ULM_K} rows — the only per-round collect), and
    re-estimates costs driver-side. Seed = all single chars + top-K
    multi-char substrings by f-weighted occurrence.

    Word types longer than _ULM_MAXLEN are outside the trainer's
    universe and are filtered here (the backtrack fold walks exactly
    _ULM_MAXLEN steps — without the filter an over-long planted word
    would silently segment to its last 12 chars and corrupt counts).
    The CALLER'S frame is what gets persisted, with the filter a lazy
    view over that cache — persisting the filtered derivative instead
    would strand callers that reuse the same histogram (the fertility
    entry's segmentation branch) on an uncached plan Spark's
    CacheManager cannot substitute (r12 review)."""
    words = _persist(words).filter(
        F.length("w").between(1, _ULM_MAXLEN)
    )
    subs = words.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length("w")),
                    lambda i: F.filter(
                        F.transform(
                            F.sequence(F.lit(1), F.lit(_ULM_MAXP)),
                            lambda L: F.when(
                                i + L - 1 <= F.length("w"),
                                F.col("w").substr(i, L),
                            ),
                        ),
                        lambda p: p.isNotNull(),
                    ),
                )
            )
        ).alias("piece"),
        "f",
    )
    occ = _persist(
        subs.groupBy("piece").agg(F.sum("f").cast("bigint").alias("occ"))
    )
    chars = {
        r.piece: r.occ
        for r in occ.filter(F.length("piece") == 1).collect()
    }
    multi = {
        r.piece: r.occ
        for r in occ.filter(F.length("piece") >= 2)
        .orderBy(F.desc("occ"), "piece")
        .limit(_ULM_K)
        .collect()
    }
    vocab = dict(chars)
    vocab.update(multi)
    cost = _ulm_costs(vocab)

    counts: dict = {}
    for _ in range(_ULM_ITERS):
        seg = words.select(
            "f",
            F.explode(_ulm_viterbi_pieces(F.col("w"), cost)).alias("piece"),
        )
        got = {
            r.piece: r.c
            for r in seg.groupBy("piece")
            .agg(F.sum("f").cast("bigint").alias("c"))
            .collect()
        }
        counts = {p: got.get(p, 0) for p in vocab}
        cost = _ulm_costs({p: c + 1 for p, c in counts.items()})

    return [
        (p, len(p), int(counts[p]), int(cost[p]), len(p) == 1 or counts[p] > 0)
        for p in sorted(vocab)
    ]


def _ulm_pivot_cols() -> str:
    cols = []
    for i in range(1, _ULM_MAXLEN + 1):
        for L in range(1, min(_ULM_MAXP, i) + 1):
            cols.append(
                f"MAX(CASE WHEN i = {i} AND L = {L} THEN cost END)"
                f" AS c_{i}_{L}"
            )
    return ",\n             ".join(cols)


def _ulm_iter_sql(
    it: int, cost_in: str, vocab: str, recount: bool = True
) -> str:
    """Oracle CTE block for one EM iteration: per-word pivot of
    end-position piece costs, {_ULM_MAXLEN} DP levels (``least`` over
    candidates + first-equal-in-longest-first-order backpointer),
    {_ULM_MAXLEN} backtrack steps, then (``recount``) piece recount
    and Laplace+1 recost — ``recount=False`` emits the segmentation
    only (the APPLY shape the fertility report consumes).
    Levels chain linearly (single-reference CTEs inline without
    re-evaluation); only the multi-referenced frames are MATERIALIZED
    (the duckdb-cte-inlining guard)."""
    parts = [
        f"""u{it}sub AS (
      SELECT s.w, s.i, s.L, c.cost
      FROM (SELECT w.w, u.i, l.L,
                   substring(w.w, CAST(u.i - l.L + 1 AS INTEGER),
                             CAST(l.L AS INTEGER)) AS piece
            FROM u_words w,
                 unnest(range(1, len(w.w) + 1)) AS u(i),
                 unnest([{", ".join(str(i) for i in range(1, _ULM_MAXP + 1))}]) AS l(L)
            WHERE u.i - l.L + 1 >= 1) s
      JOIN {cost_in} c ON c.piece = s.piece),
    u{it}piv AS MATERIALIZED (
      SELECT w,
             {_ulm_pivot_cols()}
      FROM u{it}sub GROUP BY w),
    u{it}l0 AS (
      SELECT w.w, w.f, p.* EXCLUDE (w) FROM u_words w
      JOIN u{it}piv p USING (w))"""
    ]
    for i in range(1, _ULM_MAXLEN + 1):
        cands = []
        for L in range(min(_ULM_MAXP, i), 0, -1):
            dp_prev = f"dp_{i - L}" if i - L > 0 else "CAST(0 AS BIGINT)"
            cands.append((L, f"({dp_prev} + c_{i}_{L})"))
        least = "least(" + ", ".join(c for _, c in cands) + ")"
        arms = " ".join(
            f"WHEN {c} IS NOT NULL AND dp_{i} = {c} THEN {L}"
            for L, c in cands
        )
        parts.append(
            f"""u{it}l{i} AS (
      SELECT *, {least} AS dp_{i},
             CASE WHEN dp_{i} IS NULL THEN 0 {arms} ELSE 0 END AS bk_{i}
      FROM u{it}l{i - 1})"""
        )
    bk_arms = " ".join(
        f"WHEN {i} THEN bk_{i}" for i in range(1, _ULM_MAXLEN + 1)
    )
    parts.append(
        f"""u{it}t0 AS (
      SELECT *, CAST(len(w) AS INTEGER) AS pos_0 FROM u{it}l{_ULM_MAXLEN})"""
    )
    for k in range(1, _ULM_MAXLEN + 1):
        parts.append(
            f"""u{it}t{k} AS (
      SELECT *,
        CASE WHEN pos_{k - 1} > 0
             THEN (CASE pos_{k - 1} {bk_arms} ELSE 0 END) ELSE 0 END
          AS bkc_{k},
        CASE WHEN pos_{k - 1} > 0
             THEN substring(w, pos_{k - 1} - bkc_{k} + 1, bkc_{k}) END
          AS piece_{k},
        CASE WHEN pos_{k - 1} > 0 THEN pos_{k - 1} - bkc_{k}
             ELSE pos_{k - 1} END AS pos_{k}
      FROM u{it}t{k - 1})"""
        )
    piece_list = ", ".join(f"piece_{k}" for k in range(1, _ULM_MAXLEN + 1))
    if recount:
        parts.append(
            f"""u{it}cnt AS (
      SELECT piece, CAST(SUM(f) AS BIGINT) AS c
      FROM (SELECT f, unnest([{piece_list}]) AS piece
            FROM u{it}t{_ULM_MAXLEN})
      WHERE piece IS NOT NULL GROUP BY piece),
    u{it}full AS MATERIALIZED (
      SELECT v.piece, CAST(COALESCE(c.c, 0) AS BIGINT) AS c
      FROM {vocab} v LEFT JOIN u{it}cnt c USING (piece)),
    u{it}cost AS MATERIALIZED (
      SELECT v.piece,
             CAST(FLOOR(ln(t.tot / CAST(v.c + 1 AS DOUBLE))
                        * {_LM_SCALE}) AS BIGINT) AS cost
      FROM u{it}full v, (SELECT SUM(c + 1) AS tot FROM u{it}full) t)"""
        )
    return ",\n    ".join(parts)


def _ulm_train_ctes() -> str:
    """The trainer's full CTE chain (histogram → seed → {_ULM_ITERS}
    EM iterations → final counts/costs) — shared by the trainer oracle
    and the fertility-report oracle so they can never drift."""
    iters = []
    cost_in = "u_c0"
    for it in range(1, _ULM_ITERS + 1):
        iters.append(_ulm_iter_sql(it, cost_in, "u_seedv"))
        cost_in = f"u{it}cost"
    body = ",\n    ".join(iters)
    return f"""u_tok AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
      FROM documents WHERE len(trim(text)) > 0),
    u_words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM u_tok
      WHERE len(w) BETWEEN 1 AND {_ULM_MAXLEN} GROUP BY w),
    u_subocc AS (
      SELECT substring(w, CAST(i AS INTEGER), CAST(L AS INTEGER)) AS piece,
             CAST(SUM(f) AS BIGINT) AS occ
      FROM u_words,
           unnest(range(1, len(w) + 1)) AS u(i),
           unnest([{", ".join(str(i) for i in range(1, _ULM_MAXP + 1))}]) AS l(L)
      WHERE i + L - 1 <= len(w)
      GROUP BY 1),
    u_seedv AS MATERIALIZED (
      SELECT piece, occ FROM u_subocc WHERE len(piece) = 1
      UNION ALL
      SELECT piece, occ FROM (
        SELECT piece, occ FROM u_subocc WHERE len(piece) >= 2
        ORDER BY occ DESC, piece LIMIT {_ULM_K})),
    u_c0 AS MATERIALIZED (
      SELECT v.piece,
             CAST(FLOOR(ln(t.tot / CAST(v.occ AS DOUBLE)) * {_LM_SCALE})
                  AS BIGINT) AS cost
      FROM u_seedv v, (SELECT SUM(occ) AS tot FROM u_seedv) t),
    {body}"""


def _ulm_oracle() -> str:
    """DuckDB replay of :func:`unigram_lm_model` — histogram, seed
    vocabulary, {_ULM_ITERS} unrolled EM iterations, final vocab."""
    last = _ULM_ITERS
    return f"""
    WITH {_ulm_train_ctes()}
    SELECT v.piece,
           CAST(len(v.piece) AS BIGINT) AS piece_len,
           f.c AS viterbi_count,
           k.cost AS cost_micro,
           (len(v.piece) = 1 OR f.c > 0) AS kept
    FROM u_seedv v
    JOIN u{last}full f USING (piece)
    JOIN u{last}cost k USING (piece)
    """


@CAT.query("tokenizer_unigram_lm", oracle=_ulm_oracle())
def tokenizer_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018; the SentencePiece
    model family) — the other production tokenizer beside the BPE
    triptych (VERDICT r11 #5): seed a candidate vocabulary (all
    single characters + the top-{_ULM_K} f-weighted substrings of
    2..{_ULM_MAXP} chars), then run {_ULM_ITERS} Viterbi-EM rounds —
    segment every word type by minimum total piece cost (integer
    micro-nats, floor(ln·10⁶)), recount pieces f-weighted over the
    best segmentations, Laplace-smooth and re-estimate costs — and
    emit the learned vocabulary with final expected counts, final
    costs, and the kept flag (multi-char pieces the EM stopped using
    are pruned from the shipped vocab; single chars always stay for
    coverage).

    Like classic trainers this runs on the WORD-TYPE histogram, so
    every EM round is vocabulary-sized — at 100 TB the corpus is
    touched exactly once (tokenize + histogram groupBy); the DP is
    zero-Python whole-stage-codegen folds (:func:`_ulm_viterbi_pieces`)
    over word types, and the only per-round collect is the ≤ alphabet
    + {_ULM_K}-row piece-count frame (the bpe_learn_merges
    discipline). Micro-nat constants are evaluated through DuckDB's
    own ln (the langid/ADVICE-r11 convention), so cross-engine parity
    never rides on libm agreement at floor boundaries.

    The oracle replays the ENTIRE trainer — seed selection, both EM
    rounds' DP (pivoted end-position piece costs + {_ULM_MAXLEN}
    chained dp levels with the identical longest-piece tie rule),
    backtracking, recounting, re-costing — as generated unrolled CTEs,
    so the LEARNED MODEL is verified cross-engine, not merely counts;
    a third, pure-Python EM reimplementation reconciles the vocab and
    the corpus fertility in tests/test_round12.py.
    Reference: no counterpart (converter.go is a per-file converter);
    SURVEY §2 LLM-text extension."""
    return unigram_pipeline(spark, sf_dir)["model"]


def _ulm_fertility_oracle() -> str:
    """DuckDB replay of :func:`tokenizer_unigram_fertility` — the full
    trainer chain (shared constant), the kept-vocab projection, ONE
    apply-only DP block over the word types, and the per-language
    aggregation of the (lang, word) histogram."""
    piece_list = ", ".join(f"piece_{k}" for k in range(1, _ULM_MAXLEN + 1))
    last = _ULM_ITERS
    return f"""
    WITH {_ulm_train_ctes()},
    u_kept AS MATERIALIZED (
      SELECT k.piece, k.cost FROM u{last}cost k
      JOIN u{last}full f USING (piece)
      WHERE len(k.piece) = 1 OR f.c > 0),
    {_ulm_iter_sql(last + 1, "u_kept", "u_seedv", recount=False)},
    u_nseg AS MATERIALIZED (
      SELECT w,
             CAST(len(list_filter([{piece_list}],
                                  x -> x IS NOT NULL)) AS BIGINT)
               AS n_pieces
      FROM u{last + 1}t{_ULM_MAXLEN}),
    u_lw AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT lang,
                   unnest(regexp_split_to_array(trim(lower(text)),
                                                '\\s+')) AS w
            FROM documents WHERE len(trim(text)) > 0)
      WHERE len(w) BETWEEN 1 AND {_ULM_MAXLEN} GROUP BY 1, 2)
    SELECT l.lang,
           CAST(SUM(l.f) AS BIGINT) AS n_words,
           CAST(SUM(l.f * s.n_pieces) AS BIGINT) AS n_pieces,
           CAST(SUM(l.f * len(l.w)) AS BIGINT) AS n_chars,
           CAST(CAST(SUM(l.f * s.n_pieces) AS HUGEINT) * 1000
                // SUM(l.f) AS BIGINT) AS fertility_milli,
           CAST(CAST(SUM(l.f * len(l.w)) AS HUGEINT) * 1000
                // SUM(l.f * s.n_pieces) AS BIGINT)
             AS chars_per_piece_milli
    FROM u_lw l JOIN u_nseg s USING (w)
    GROUP BY 1
    """


@CAT.query("tokenizer_unigram_fertility", oracle=_ulm_fertility_oracle())
def tokenizer_unigram_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language fertility report of the SHIPPED unigram-LM vocab —
    the apply side of :func:`tokenizer_unigram_lm` (and the unigram
    twin of ``tokenizer_fertility_report``, which reports the BPE
    cascade): segment every word type under the trainer's final
    kept-piece costs (pruned pieces excluded — shipped-model
    semantics), then weight by the (lang, word) histogram to report
    words, pieces, chars, fertility (pieces per word, integer milli)
    and chars per piece for every language.

    Scale: the corpus is touched twice (trainer histogram + lang-keyed
    histogram, both map-side-combined groupBys); the trained model and
    the histogram the trainer persisted are reused from
    :func:`unigram_pipeline`, so segmentation runs once per word TYPE
    (the codegen fold) off that cache, and the (lang, word) join is
    word-type-sized on both sides — no broadcast assumption, the
    optimizer picks the join strategy. Words longer than
    {_ULM_MAXLEN} chars are outside the trainer's universe and are
    excluded from the report (documented trainer discipline).

    Exactness: integer counts, integer milli ratios widened through
    DECIMAL(38,0)/HUGEINT; the only floats live inside the trainer's
    DuckDB-evaluated cost constants (shared with the trainer oracle
    via one CTE constant, zero drift).
    Reference: no counterpart (converter.go is a per-file converter);
    SURVEY §2 LLM-text extension."""
    return unigram_pipeline(spark, sf_dir)["fertility"]


def unigram_pipeline(
    spark: SparkSession, sf_dir: str
) -> dict[str, DataFrame]:
    """The unigram-LM chain — the ONE code path behind both catalog
    entries, each of which returns its own key of
    ``{"model", "fertility"}``.

    The Viterbi-EM trainer runs once per call (its per-round collects
    are eager, so the model is a driver-side list by the time this
    returns); the word-type histogram is built once and persisted by
    the trainer, which is the documented contract of
    :func:`unigram_lm_model`, so the fertility report segments word
    types off that cache. The fertility frame itself is lazy: selecting
    ``"model"`` pays no fertility job. Call
    ``operators.cache.release_caches`` when done, as bench does.
    Reference: no counterpart (converter.go is a per-file converter);
    SURVEY §2 LLM-text extension (the mix_pipeline convention)."""
    words = _ulm_words(spark, sf_dir)
    model = unigram_lm_model(words)
    kept_cost = {p: cost for p, _, _, cost, kept in model if kept}
    segn = words.select(
        "w",
        F.size(_ulm_viterbi_pieces(F.col("w"), kept_cost))
        .cast("bigint")
        .alias("n_pieces"),
    )
    lw = (
        _docs(spark, sf_dir)
        .filter(F.length(F.trim("text")) > 0)
        .select(
            "lang",
            F.explode(tokenize(F.lower(F.col("text")))).alias("w"),
        )
        .filter(F.length("w").between(1, _ULM_MAXLEN))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    fertility = (
        lw.join(segn, "w")
        .groupBy("lang")
        .agg(
            F.sum("f").cast("bigint").alias("n_words"),
            F.sum(F.col("f") * F.col("n_pieces"))
            .cast("bigint")
            .alias("n_pieces"),
            F.sum(F.col("f") * F.length("w"))
            .cast("bigint")
            .alias("n_chars"),
        )
        .select(
            "lang",
            "n_words",
            "n_pieces",
            "n_chars",
            F.expr(
                "cast(cast(n_pieces as decimal(38,0)) * 1000 div n_words"
                " as bigint)"
            ).alias("fertility_milli"),
            F.expr(
                "cast(cast(n_chars as decimal(38,0)) * 1000 div n_pieces"
                " as bigint)"
            ).alias("chars_per_piece_milli"),
        )
    )
    return {
        "model": spark.createDataFrame(
            model,
            "piece STRING, piece_len BIGINT, viterbi_count BIGINT,"
            " cost_micro BIGINT, kept BOOLEAN",
        ),
        "fertility": fertility,
    }


# ---------------------------------------------------------------------------
# Round 12: Stupid Backoff trigram LM scoring (Brants et al. 2007)


#: Word-trigram shingle SQL (space-joined, the shingles() convention).
_TRIGRAMS_SQL = shingles_sql(_TOKS_SQL, 3)

#: The per-trigram score expression — ONE textual constant parsed by
#: BOTH engines (Spark F.expr and the DuckDB oracle), so every
#: arithmetic op (double casts, divisions, the 0.4 / 0.16 backoff
#: literals, the micro-nat floor) is the identical IEEE expression
#: tree; ln is the only engine-library call (the _LM_SCALE
#: convention). Levels: trigram MLE; else alpha * bigram MLE; else
#: alpha^2 * Laplace unigram (OOV-safe). alpha^2 is the literal 0.16
#: in both engines (NOT 0.4*0.4, whose double product is
#: 0.16000000000000003).
_SB_LP_SQL = f"""CAST(CASE
      WHEN c3 IS NOT NULL
        THEN FLOOR(ln(CAST(c3 AS DOUBLE) / cx2) * {_LM_SCALE})
      WHEN b23 IS NOT NULL
        THEN FLOOR(ln(CAST(b23 AS DOUBLE) / cx1 * 0.4) * {_LM_SCALE})
      ELSE FLOOR(ln((CAST(COALESCE(u3, 0) AS DOUBLE) + 1) / (nn + vv)
                    * 0.16) * {_LM_SCALE})
    END AS BIGINT)"""

_SB_LEVEL_SQL = """CASE WHEN c3 IS NOT NULL THEN 3
         WHEN b23 IS NOT NULL THEN 2 ELSE 1 END"""


@CAT.query(
    "text_stupid_backoff_lm",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, text FROM documents WHERE len(trim(text)) > 0),
    tg AS (SELECT doc_id, unnest({_TRIGRAMS_SQL}) AS tg FROM d),
    tri AS MATERIALIZED (
      SELECT tg, CAST(count(*) AS BIGINT) AS c3 FROM tg
      WHERE doc_id % {_CCNET_TRAIN_MOD} = 0 GROUP BY tg),
    ctx2 AS (
      SELECT concat(split_part(tg, ' ', 1), ' ', split_part(tg, ' ', 2))
               AS k12,
             CAST(SUM(c3) AS BIGINT) AS cx2
      FROM tri GROUP BY 1),
    bi2 AS (
      SELECT concat(split_part(tg, ' ', 2), ' ', split_part(tg, ' ', 3))
               AS k23,
             CAST(SUM(c3) AS BIGINT) AS b23
      FROM tri GROUP BY 1),
    ctx1 AS (
      SELECT split_part(tg, ' ', 2) AS w2, CAST(SUM(c3) AS BIGINT) AS cx1
      FROM tri GROUP BY 1),
    uni AS (
      SELECT split_part(tg, ' ', 3) AS w3, CAST(SUM(c3) AS BIGINT) AS u3
      FROM tri GROUP BY 1),
    tot AS (SELECT CAST(SUM(c3) AS BIGINT) AS nn,
                   CAST(COUNT(DISTINCT split_part(tg, ' ', 3)) AS BIGINT)
                     AS vv
            FROM tri),
    sc AS (
      SELECT t.doc_id, {_SB_LP_SQL} AS lp, {_SB_LEVEL_SQL} AS lvl
      FROM (SELECT doc_id, tg,
                   concat(split_part(tg, ' ', 1), ' ',
                          split_part(tg, ' ', 2)) AS k12,
                   concat(split_part(tg, ' ', 2), ' ',
                          split_part(tg, ' ', 3)) AS k23,
                   split_part(tg, ' ', 2) AS w2,
                   split_part(tg, ' ', 3) AS w3
            FROM tg) t
      LEFT JOIN tri USING (tg)
      LEFT JOIN ctx2 USING (k12)
      LEFT JOIN bi2 USING (k23)
      LEFT JOIN ctx1 USING (w2)
      LEFT JOIN uni USING (w3)
      CROSS JOIN tot)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           CAST(SUM(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tri_hit,
           CAST(SUM(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bi_hit,
           CAST(SUM(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_uni_backoff,
           CAST(-SUM(lp) AS BIGINT) AS neg_logprob_micro,
           CAST((-SUM(lp)) // COUNT(*) AS BIGINT) AS per_trigram_micro
    FROM sc GROUP BY doc_id
    """,
)
def text_stupid_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff trigram LM scoring (Brants et al. 2007, "Large
    Language Models in Machine Translation") — the web-scale backoff
    scheme designed FOR distributed counting (no discount
    renormalization, so the model is pure count tables), and the
    production step up from the catalog's unigram/bigram MLE scorers:
    S(w3|w1w2) = c(w1w2w3)/c(w1w2), backing off to 0.4·S(w3|w2), then
    to 0.16·Laplace-unigram (OOV-safe). Trained on the
    1/{_CCNET_TRAIN_MOD} doc_id slice (the text_ccnet_buckets
    convention); EVERY lower-order table derives from the trigram
    model itself (Σ over leading/trailing words), so each backoff
    denominator exists by construction and the oracle derives the
    identical closure.

    Per-doc output: trigram count, per-level hit counts (a training
    doc's trigrams are all in the model, so its n_tri_hit ==
    n_trigrams — pinned by a test; held-out docs exercise both
    backoff levels), and the integer micro-nat surprisal sum / mean.

    Exactness: the score expression is ONE textual SQL constant
    parsed by both engines (identical IEEE double ops, micro-nat
    floor, order-independent BIGINT sums); ln is the engine library
    (the _LM_SCALE convention).

    Plan: one corpus trigram explode persisted and reused for the
    train filter + scoring side; the model and every derived
    denominator are vocabulary-sized aggs; scoring is key-shuffled
    LEFT JOINs that AQE skew-splits on hot n-grams (a web-scale
    trigram table does not broadcast); the 1-row (N, V) frame is the
    only broadcast. No Python anywhere. Reference: no counterpart
    (converter.go is a per-file converter); SURVEY §2 LLM-text
    extension."""
    docs = _docs(spark, sf_dir).filter(F.length(F.trim("text")) > 0)
    tg = _persist(
        docs.select(
            "doc_id", F.explode(shingles(tokenize("text"), 3)).alias("tg")
        )
    )
    tri = tg.filter(F.col("doc_id") % _CCNET_TRAIN_MOD == 0).groupBy(
        "tg"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c3"))
    tri = _persist(tri)
    p = F.split(F.col("tg"), " ", 3)
    k12 = F.concat_ws(" ", p[0], p[1])
    k23 = F.concat_ws(" ", p[1], p[2])
    ctx2 = tri.groupBy(k12.alias("k12")).agg(
        F.sum("c3").cast("bigint").alias("cx2")
    )
    bi2 = tri.groupBy(k23.alias("k23")).agg(
        F.sum("c3").cast("bigint").alias("b23")
    )
    ctx1 = tri.groupBy(p[1].alias("w2")).agg(
        F.sum("c3").cast("bigint").alias("cx1")
    )
    uni = tri.groupBy(p[2].alias("w3")).agg(
        F.sum("c3").cast("bigint").alias("u3")
    )
    tot = tri.agg(
        F.sum("c3").cast("bigint").alias("nn"),
        F.count_distinct(p[2]).cast("bigint").alias("vv"),
    )
    keyed = tg.select(
        "doc_id",
        "tg",
        k12.alias("k12"),
        k23.alias("k23"),
        p[1].alias("w2"),
        p[2].alias("w3"),
    )
    sc = (
        keyed.join(tri, "tg", "left")
        .join(ctx2, "k12", "left")
        .join(bi2, "k23", "left")
        .join(ctx1, "w2", "left")
        .join(uni, "w3", "left")
        .join(F.broadcast(tot))
        .select(
            "doc_id",
            F.expr(_SB_LP_SQL).alias("lp"),
            F.expr(_SB_LEVEL_SQL).alias("lvl"),
        )
    )
    return sc.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trigrams"),
        F.sum(F.when(F.col("lvl") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_tri_hit"),
        F.sum(F.when(F.col("lvl") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bi_hit"),
        F.sum(F.when(F.col("lvl") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_uni_backoff"),
        (-F.sum("lp")).cast("bigint").alias("neg_logprob_micro"),
        F.expr("cast((-sum(lp)) div count(*) as bigint)").alias(
            "per_trigram_micro"
        ),
    )
