"""Sequence packing / chunking operators for LLM training pipelines.

The reference has no notion of documents or token budgets (it is a
CSV→Parquet converter, converter/converter.go:116-182); these extend
SURVEY §7 M5 with the two shapes every pretraining data pipeline needs
between "clean corpus" and "training batches":

- **Token-budget packing** (``pack_token_budget``): assign documents to
  contiguous fixed-token-budget bins in a deterministic corpus order.
  The core primitive is a global prefix sum of per-document token
  counts. A single global window (``Window.orderBy(...)`` with no
  partitioning) would serialize 100 TB through ONE task, so this
  runs the two-phase distributed scan ``functions.two_phase_cumsum``: a
  within-bucket cumulative sum (parallel window, partitioned by a
  doc_id range bucket) plus a tiny per-bucket offset table that is
  cumulated on one task (N/BUCKET rows — driver-small by construction)
  and broadcast back. Values are identical to the naive global window,
  which is exactly what the DuckDB oracle runs.

- **Overlapping chunking** (``text_chunk_overlap``): split each
  document's token stream into windows of ``CHUNK`` tokens with stride
  ``STRIDE`` (context-window preparation with overlap). Pure narrow
  ``sequence``+``posexplode``+``slice`` — zero shuffles, fully
  codegen'd, scales as a map over parquet splits.

- **Grouped-aggregate pandas UDAF** (``udaf_pandas_median_cents``):
  the ``pandas_udf`` GROUPED_AGG surface — the extension point for
  custom aggregates Spark lacks natively. Arrow-batched (one Python
  crossing per group batch, never per row); verified bit-exact against
  DuckDB's ``median``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from csv_to_parquet_spark.functions import (
    md5_60,
    md5_60_sql,
    tokenize,
    two_phase_cumsum,
)
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.operators.cache import persist_tracked
from csv_to_parquet_spark.sources.tables import load_table, spread

CAT = Catalog()

#: Tokens per packed training bin.
BUDGET = 2048
#: Documents per prefix-sum bucket. The offset table has N/BUCKET rows
#: and must stay small enough for a single-task window + broadcast; at
#: 1e12 documents set this ~1e6 (offset table = 1e6 rows) — the local
#: value is small only so the tiny test corpus still exercises multiple
#: buckets.
BUCKET = 128

#: Chunk window / stride (tokens). STRIDE < CHUNK ⇒ overlap.
CHUNK = 64
STRIDE = 48


@CAT.query(
    "pack_token_budget",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks)
    SELECT CAST((cum_tokens - 1) // {BUDGET} AS BIGINT) AS bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           MIN(doc_id) AS first_doc,
           MAX(doc_id) AS last_doc
    FROM cum
    GROUP BY bin_id
    """,
)
def pack_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into contiguous {BUDGET}-token bins via a
    distributed two-phase prefix sum (see module docstring): a doc is
    assigned to the bin containing its LAST token, so every bin spans
    exactly BUDGET positions of the global token stream."""
    toks = (
        spread(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.size(tokenize("text")).cast("bigint").alias("n_tokens"),
            F.expr(f"doc_id div {BUCKET}").alias("bucket"),
        )
    )
    # Both phases branch off ``toks``; without a persist each branch
    # re-scans and re-tokenizes the full corpus (measured: one tokenize
    # pass is ~1/3 of the query at sf0.1). Persist the NARROW projection
    # only — 3 fixed-width columns, never the text — so the second pass
    # reads ~24 bytes/doc from block storage instead of re-splitting
    # every document. Spill-safe (MEMORY_AND_DISK default) and released
    # by the harness via release_caches() after materialization.
    toks = persist_tracked(toks)
    cum = two_phase_cumsum(toks, ["n_tokens"], ["doc_id"], ["bucket"])
    return (
        cum.withColumn(
            "bin_id", F.expr(f"(cum_n_tokens - 1) div {BUDGET}").cast("bigint")
        )
        .groupBy("bin_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@CAT.query(
    "text_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents),
    s AS (SELECT doc_id, toks, len(toks) AS n FROM t)
    SELECT doc_id,
           start // {STRIDE} AS chunk_idx,
           CAST(least({CHUNK}, n - start) AS BIGINT) AS n_chunk_tokens,
           {md5_60_sql(f"array_to_string(toks[start + 1 : start + {CHUNK}], ' ')")}
             AS chunk_hash
    FROM s, (SELECT unnest(range(0, n, {STRIDE})) AS start)
    """,
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping sliding-window chunking: CHUNK-token windows at
    STRIDE-token steps over each document (the standard context-window
    prep with CHUNK-STRIDE tokens of overlap). Narrow single-map plan —
    sequence/posexplode/slice are all codegen'd; no shuffle, no UDF."""
    d = (
        spread(load_table(spark, sf_dir, "documents"))
        .select("doc_id", tokenize("text").alias("toks"))
        .withColumn("n", F.size("toks"))
    )
    d = d.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(F.expr(f"sequence(0, n - 1, {STRIDE})")).alias(
            "chunk_idx", "start"
        ),
    )
    chunk = F.expr(f"slice(toks, start + 1, {CHUNK})")
    return d.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.least(F.lit(CHUNK), F.col("n") - F.col("start"))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        md5_60(F.array_join(chunk, " ")).alias("chunk_hash"),
    )


@CAT.query(
    "udaf_pandas_median_cents",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(median(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             AS median_acctbal_cents
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def udaf_pandas_median_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas_udf GROUPED_AGG (custom aggregate): exact median of
    integer account-balance cents per market segment. Median has no
    decomposable partial form, so Spark shuffles each group's values to
    one task and hands them to the UDAF as one Arrow batch — the right
    trade for a true holistic aggregate (per-group cardinality is
    bounded; the shuffle is on the grouping key like any agg). Even
    counts average the two middle values in double — identical
    arithmetic to DuckDB's median over BIGINT."""

    @pandas_udf("double")
    def median_udaf(v: pd.Series) -> float:
        return float(v.median())

    # Spark disallows mixing pandas and native aggregates in one agg
    # (INVALID_PANDAS_UDF_PLACEMENT), so the count is a pandas
    # aggregate too — same single shuffle, both run over one Arrow
    # batch per group.
    @pandas_udf("bigint")
    def count_udaf(v: pd.Series) -> int:
        return int(len(v))

    return (
        load_table(spark, sf_dir, "customer")
        .select(
            "c_mktsegment",
            F.round(F.col("c_acctbal") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("c_mktsegment")
        .agg(
            count_udaf("cents").alias("n_customers"),
            median_udaf("cents").alias("median_acctbal_cents"),
        )
    )
