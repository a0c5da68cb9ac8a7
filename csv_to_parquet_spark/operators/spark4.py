"""Modern Spark-4 API surfaces as first-class catalog operators: the
Python DataSource API, the VARIANT type, SQL-language UDFs
(``CREATE FUNCTION ... RETURN``), ``mapInArrow``, ``df.observe()``
metrics, and mergeable HLL sketch rollups.

The reference is a fixed-pipeline file converter
(converter/converter.go:66-420) with none of these extension points;
this module rounds out SURVEY §2's "UDF surfaces" and "sources"
categories with the Spark-4-native mechanisms a platform team actually
extends the engine through:

- a **Python DataSource** is the supported way to graft an external
  system (a log service, an internal API, a proprietary format) into
  the scan planner — partitions() is the parallelism contract, so a
  production source maps one InputPartition per external shard and
  the cluster reads them concurrently;
- **VARIANT** is the open-ended-JSON answer at 100 TB: shredded
  binary encoding, typed path extraction without a schema pass over
  the corpus, no per-row string re-parse per accessed field;
- **SQL UDFs** keep business expressions inside Catalyst (inlined
  into the plan — full codegen, pushdown, no Python boundary), unlike
  Python UDFs;
- **mapInArrow** is the zero-copy batch escape hatch below
  mapInPandas (no pandas materialization of list columns);
- **observe()** piggybacks pipeline quality metrics onto a production
  write's single pass — no second scan for the metrics job;
- **HLL sketch agg/union** is the mergeable-state pattern for
  distinct-count rollups: per-partition sketches persist, later
  layers union them without touching raw ids again.

Exactness: every oracle-checked query here reduces to integer
arithmetic (counts, integer sums, fixed-point quantization with
``floor``) so cross-engine hashes are unconditional; the HLL rollup is
rows-only by design (an approximation, bound-tested in
tests/test_round6c.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.sources.tables import load_table, spread

CAT = Catalog()


# ---------------------------------------------------------------------------
# Python DataSource API (Spark 4): a deterministic partitioned source
# ---------------------------------------------------------------------------

#: Generator parameters. The row content is pure integer arithmetic on
#: the global sequence number so a SQL engine can replay it exactly.
_DSRC_PARTS = 8
_DSRC_ROWS_PER_PART = 2000
_DSRC_LEVELS = ("DEBUG", "INFO", "WARN", "ERROR", "FATAL")
#: Knuth's multiplicative-hash constant — spreads levels over seq
#: deterministically without an RNG.
_DSRC_MIX = 2654435761


def _make_rangelog_datasource():
    """Class factory: the DataSource subclass is defined lazily so
    importing this module never requires the (Spark-4-only)
    ``pyspark.sql.datasource`` machinery at import time."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        InputPartition,
    )

    class RangeLogReader(DataSourceReader):
        def __init__(self, options):
            self.n_parts = int(options.get("parts", _DSRC_PARTS))
            self.rows_per = int(
                options.get("rowsperpart", _DSRC_ROWS_PER_PART)
            )

        def partitions(self):
            # one InputPartition per shard = the parallelism contract;
            # Spark schedules one task per element returned here
            return [InputPartition(i) for i in range(self.n_parts)]

        def read(self, partition):
            pid = partition.value
            for s in range(self.rows_per):
                g = pid * self.rows_per + s
                level = _DSRC_LEVELS[(g * _DSRC_MIX) % 5]
                latency_ms = (g * g) % 997
                yield (pid, g, level, latency_ms)

    class RangeLogDataSource(DataSource):
        """Synthetic shard-partitioned log source: stands in for any
        external system a production deployment would wrap (each
        partition() would map to one remote shard/file/offset range)."""

        @classmethod
        def name(cls):
            return "rangelog"

        def schema(self):
            return (
                "part_id INT, seq BIGINT, level STRING, latency_ms BIGINT"
            )

        def reader(self, schema):
            return RangeLogReader(self.options)

    return RangeLogDataSource


_DSRC_N = _DSRC_PARTS * _DSRC_ROWS_PER_PART


@CAT.query(
    "source_python_datasource",
    oracle=f"""
    WITH g AS (
      SELECT unnest(generate_series(0, {_DSRC_N - 1})) AS g),
    rows_ AS (
      SELECT CASE (g * {_DSRC_MIX}) % 5
               WHEN 0 THEN 'DEBUG' WHEN 1 THEN 'INFO' WHEN 2 THEN 'WARN'
               WHEN 3 THEN 'ERROR' ELSE 'FATAL' END AS level,
             (g * g) % 997 AS latency_ms
      FROM g)
    SELECT level,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(latency_ms) AS BIGINT) AS total_latency_ms,
           CAST(MAX(latency_ms) AS BIGINT) AS max_latency_ms
    FROM rows_ GROUP BY level
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan a custom Python DataSource (Spark 4 DataSource API) and
    aggregate it: per-level row counts and latency sums over the
    deterministic 8-partition synthetic log stream.

    The oracle replays the generator's integer arithmetic with
    ``generate_series`` — the source yields pure-Python ints, so the
    values are exact on both engines. The DataFrame side exercises the
    real V2 path: schema declaration, ``partitions()`` planning (8
    concurrent read tasks), per-partition ``read()`` iterators,
    then a normal Catalyst aggregate on top.
    """
    spark.dataSource.register(_make_rangelog_datasource())
    src = (
        spark.read.format("rangelog")
        .option("parts", str(_DSRC_PARTS))
        .option("rowsPerPart", str(_DSRC_ROWS_PER_PART))
        .load()
    )
    return src.groupBy("level").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("latency_ms").cast("bigint").alias("total_latency_ms"),
        F.max("latency_ms").cast("bigint").alias("max_latency_ms"),
    )


# ---------------------------------------------------------------------------
# VARIANT: typed path extraction from open-ended JSON
# ---------------------------------------------------------------------------


@CAT.query(
    "variant_events_shred",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS min_k,
           CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT)
             AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def variant_events_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the events ``props`` JSON into VARIANT once, extract a
    typed path, and aggregate — the Spark-4 semi-structured pattern.

    ``parse_json`` shreds the document to Spark's binary variant
    encoding in one pass; ``variant_get(v, '$.k', 'bigint')`` is then
    a typed O(path) lookup, NOT a per-row string re-parse — at 100 TB
    with wide open-ended props this beats ``get_json_object`` (which
    re-parses the string per extracted field) and needs no schema
    inference pass over the corpus (vs ``from_json``, which requires
    one fixed struct schema up front).
    """
    e = spread(load_table(spark, sf_dir, "events"))
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").cast("bigint").alias("min_k"),
            F.max("k").cast("bigint").alias("max_k"),
        )
    )


# ---------------------------------------------------------------------------
# SQL-language UDF: business logic that stays inside Catalyst
# ---------------------------------------------------------------------------

#: One shared body text: the Spark CREATE FUNCTION and the DuckDB
#: oracle inline EXACTLY this expression (integer cents × integer
#: centi-fraction — exact in any engine).
_SQLUDF_BODY = (
    "CAST(ROUND(price * 100) AS BIGINT) * "
    "(100 - CAST(ROUND(disc * 100) AS BIGINT))"
)


@CAT.query(
    "sql_udf_disc_revenue",
    oracle=f"""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_SQLUDF_BODY.replace("price", "l_extendedprice")
                                 .replace("disc", "l_discount")})
                AS BIGINT) AS disc_revenue_units
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def sql_udf_disc_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue per return flag through a SQL-language UDF
    (``CREATE FUNCTION ... RETURN <expr>``, Spark 4.1).

    Unlike a Python UDF, a SQL UDF is INLINED into the plan by
    Catalyst — the aggregate below compiles to the same whole-stage
    codegen as writing the expression inline (no Python workers, no
    serialization boundary, predicate pushdown unaffected), while
    callers still get one named, owned definition of the business
    rule. Units are cents × centi-fraction (exact integers).
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION disc_units("
        "price DOUBLE, disc DOUBLE) RETURNS BIGINT RETURN "
        + _SQLUDF_BODY
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "li_sqludf"
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               CAST(SUM(disc_units(l_extendedprice, l_discount)) AS BIGINT)
                 AS disc_revenue_units
        FROM li_sqludf
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# mapInArrow: zero-copy fixed-point embedding norms
# ---------------------------------------------------------------------------

#: Fixed-point quantization scale for the Arrow norm kernel. floor()
#: (not round) on the float64-upcast component is deterministic and
#: tie-free on both engines.
_ARROW_Q = 1_000_000


@CAT.query(
    "mapinarrow_norm_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * {_ARROW_Q}) AS BIGINT))
               AS qv
      FROM embeddings)
    SELECT vec_id,
           CAST(len(qv) AS INT) AS dim,
           CAST(list_sum(list_transform(qv, v -> v * v)) AS BIGINT)
             AS norm_sq_q
    FROM q
    """,
)
def mapinarrow_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector quantized squared L2 norm computed in a
    ``mapInArrow`` kernel — the zero-copy batch UDF surface below
    mapInPandas.

    The Arrow RecordBatch arrives with the list<float> column intact
    (mapInPandas would materialize it as a pandas object column of
    ndarrays — one Python object per row); the kernel flattens the
    list buffer ONCE into a single numpy view, upcasts float32→float64
    (exact), quantizes with floor to int64, and segment-sums by the
    list offsets — no per-row Python. Fixed-point makes the result an
    exact integer, so the DuckDB comparison is unconditional.
    """
    import pyarrow as pa

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )

    def kernel(batches):
        import numpy as np

        for batch in batches:
            vec_ids = batch.column("vec_id")
            lists = batch.column("embedding")
            if isinstance(lists, pa.ChunkedArray):  # pragma: no cover
                lists = lists.combine_chunks()
            flat = lists.flatten().to_numpy(zero_copy_only=False)
            q = np.floor(flat.astype(np.float64) * _ARROW_Q).astype(
                np.int64
            )
            offs = lists.offsets.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            sums = np.add.reduceat(
                np.concatenate([q * q, np.zeros(1, dtype=np.int64)]),
                offs[:-1],
            )
            # reduceat on an empty segment copies the next element —
            # only possible for zero-length lists; mask them to 0
            lens = np.diff(offs)
            sums = np.where(lens == 0, 0, sums)
            yield pa.RecordBatch.from_arrays(
                [
                    vec_ids,
                    pa.array(lens.astype(np.int32), type=pa.int32()),
                    pa.array(sums, type=pa.int64()),
                ],
                names=["vec_id", "dim", "norm_sq_q"],
            )

    return emb.mapInArrow(
        kernel, "vec_id bigint, dim int, norm_sq_q bigint"
    )


# ---------------------------------------------------------------------------
# observe(): pipeline metrics piggybacked on the production pass
# ---------------------------------------------------------------------------

#: Short-document threshold for the observed quality metric (tokens).
_OBS_SHORT_TOKENS = 20


@CAT.query(
    "pipeline_observe_metrics",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN len(regexp_split_to_array(trim(text), '\\s+'))
                              < {_OBS_SHORT_TOKENS}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
           CAST(MAX(len(regexp_split_to_array(trim(text), '\\s+')))
                AS BIGINT) AS max_tokens
    FROM documents
    """,
)
def pipeline_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus quality metrics collected via ``df.observe()`` during a
    (noop-sink) production write — the single-pass observability
    pattern: the metrics accumulate inside the SAME job that writes
    the data, so there is no second metrics scan of a 100 TB corpus.

    The returned one-row frame is built from the Observation's
    collected values; the oracle recomputes the identical integer
    aggregates directly. (A second scan is exactly what this operator
    exists to avoid — the equality of the two is the test.)
    """
    from pyspark.sql import Observation

    from csv_to_parquet_spark.functions import tokenize

    docs = spread(load_table(spark, sf_dir, "documents"))
    n_tok = F.size(tokenize("text"))
    obs = Observation("corpus_metrics")
    observed = docs.observe(
        obs,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok.cast("bigint")).alias("n_tokens"),
        F.sum(
            F.when(n_tok < _OBS_SHORT_TOKENS, 1).otherwise(0).cast("bigint")
        ).alias("n_short"),
        F.max(n_tok.cast("bigint")).alias("max_tokens"),
    )
    # the production write whose pass carries the metrics
    observed.write.format("noop").mode("overwrite").save()
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["n_docs"]),
                int(m["n_tokens"]),
                int(m["n_short"]),
                int(m["max_tokens"]),
            )
        ],
        "n_docs bigint, n_tokens bigint, n_short bigint, max_tokens bigint",
    )


# ---------------------------------------------------------------------------
# HLL sketch rollup: mergeable distinct-count state (rows-only)
# ---------------------------------------------------------------------------


@CAT.query("sketch_hll_daily_rollup")  # approximate by design: rows-only
def sketch_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type via MERGEABLE HLL sketches: one
    ``hll_sketch_agg`` per (day, type) — the granularity a production
    pipeline persists — then ``hll_union_agg`` + estimate per type,
    WITHOUT re-touching raw user ids.

    This is the 100 TB distinct-count architecture: the daily layer is
    computed once when each day lands (and is re-usable for any
    rollup: weekly, per-type, global), and every later union runs over
    kilobyte sketch blobs instead of the id stream.
    ``approx_count_distinct`` alone cannot do this — its partials are
    not a storable column. Approximate ⇒ rows-only check here; the
    estimate-vs-exact error bound is pinned in tests/test_round6c.py
    (standard error ~0.8% at lgConfigK=12).
    """
    e = spread(load_table(spark, sf_dir, "events"))
    daily = e.groupBy(
        F.to_date("ts").alias("d"), F.col("event_type")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                "approx_users"
            ),
        )
        .select(
            "event_type",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.col("approx_users").cast("bigint").alias("approx_users"),
        )
    )


# ---------------------------------------------------------------------------
# listagg (Spark 4.0 SQL:2023 ordered string aggregation)
# ---------------------------------------------------------------------------


@CAT.query(
    "agg_listagg_nations",
    oracle="""
    SELECT r.r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n_nations,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def agg_listagg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation via ``listagg ... WITHIN GROUP``
    (SQL:2023, Spark 4.0) — the deterministic report-formatting
    aggregate (``collect_list`` + ``array_join`` has NO ordering
    guarantee without an explicit sort_array; listagg's WITHIN GROUP
    makes the order part of the aggregate's contract, which is what
    makes the result hash-comparable across engines at all).
    """
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.expr(
                "listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)"
            ).alias("nations"),
        )
    )


# ---------------------------------------------------------------------------
# Polymorphic Python UDTF: output schema computed by analyze()
# ---------------------------------------------------------------------------

_UDTF_TOP_N = 3


@CAT.query(
    "udtf_polymorphic_top_tokens",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
      FROM documents)
    SELECT doc_id,
           {", ".join(f"toks[{i}] AS token_{i}" for i in range(1, _UDTF_TOP_N + 1))}
    FROM t
    """,
)
def udtf_polymorphic_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POLYMORPHIC Python UDTF (Spark 4): the output schema is not
    declared statically but computed by the class's ``analyze()`` from
    the call's constant argument — ``top_tokens(doc_id, text, 3)``
    returns columns token_1..token_3; change the literal and the
    schema follows at PLAN time (the static-returnType UDTF
    ``udtf_split_bigrams`` cannot do this). The leading columns pass
    through so the lateral join needs no re-join on doc_id.
    """
    from pyspark.sql.functions import (
        AnalyzeArgument,
        AnalyzeResult,
        udtf,
    )
    from pyspark.sql.types import LongType, StringType, StructType

    @udtf
    class TopTokensUDTF:
        @staticmethod
        def analyze(
            doc_id: AnalyzeArgument,
            text: AnalyzeArgument,
            n: AnalyzeArgument,
        ) -> AnalyzeResult:
            k = int(n.value)  # constant-foldable argument drives schema
            schema = StructType().add("doc_id", LongType())
            for i in range(1, k + 1):
                schema = schema.add(f"token_{i}", StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, doc_id, text, n):
            toks = text.strip().split()
            yield (doc_id,) + tuple(
                toks[i] if i < len(toks) else None for i in range(n)
            )

    spark.udtf.register("top_tokens", TopTokensUDTF)
    spread(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "docs_udtf_poly"
    )
    return spark.sql(
        f"SELECT s.* FROM docs_udtf_poly d, "
        f"LATERAL top_tokens(d.doc_id, d.text, {_UDTF_TOP_N}) s"
    )


# ---------------------------------------------------------------------------
# pandas API on Spark: the third query dialect (SQL, DataFrame, pandas)
# ---------------------------------------------------------------------------


@CAT.query(
    "ps_pandas_api_rollup",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def ps_pandas_api_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue rollup written in the pandas API on Spark
    (``pyspark.pandas``) — the third query dialect next to SQL and the
    DataFrame API, for teams porting pandas pipelines wholesale. The
    pandas-style expressions compile to the SAME Catalyst plan (ps
    ``.round`` IS Spark's HALF_UP round, not numpy's half-even — which
    is exactly why the cents arithmetic stays oracle-exact here).

    Scale note: the default index type is pinned to ``distributed``
    for the conversion — the default distributed-sequence index forces
    extra jobs to make ids consecutive, and ``sequence`` would move
    the corpus through ONE partition; none of the ids matter for an
    aggregation, so the coordination-free index is the right one.
    """
    import pyspark.pandas as ps

    prev = ps.get_option("compute.default_index_type")
    ps.set_option("compute.default_index_type", "distributed")
    try:
        psdf = load_table(spark, sf_dir, "orders")[
            ["o_orderpriority", "o_totalprice"]
        ].pandas_api()
        psdf["cents"] = (
            (psdf["o_totalprice"] * 100).round(0).astype("int64")
        )
        out = (
            psdf.groupby("o_orderpriority")
            .agg(n_orders=("cents", "count"), revenue_cents=("cents", "sum"))
            .reset_index()
        )
        return out.to_spark().select(
            "o_orderpriority",
            F.col("n_orders").cast("bigint").alias("n_orders"),
            F.col("revenue_cents").cast("bigint").alias("revenue_cents"),
        )
    finally:
        ps.set_option("compute.default_index_type", prev)
