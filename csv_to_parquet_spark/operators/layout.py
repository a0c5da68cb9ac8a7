"""Data-layout operators — bucketing and partition pruning.

The reference writes flat parquet files with no layout control beyond
the 128 MB row group (converter/converter.go:325). At 100 TB, layout
IS the optimization: a fact table bucketed on its join key makes every
subsequent join on that key exchange-free, and a date-partitioned
table turns time-range predicates into directory pruning. Both are
demonstrated here as catalog queries whose ORACLES are the plain
(layout-free) computations — identical results, cheaper plans — plus
plan assertions in tests/test_plans.py.

The bucketed/partitioned copies are materialized once per (sf, layout)
into a local warehouse under /tmp and reused across calls — the
engine-side analog of a one-time ETL into a governed table format.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import cents
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.sources.tables import load_table

CAT = Catalog()

_N_BUCKETS = 8
_WAREHOUSE = os.path.join(tempfile.gettempdir(), "csv2pq_warehouse")


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")


def _ensure_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """One-time: orders + lineitem bucketed by their join key into a
    spark_catalog-managed table pair; returns the table names."""
    tag = _sf_tag(sf_dir)
    t_orders, t_lineitem = f"orders_b_{tag}", f"lineitem_b_{tag}"
    # bucketed reads require catalog tables; these land in the session's
    # warehouse (spark-warehouse/ + derby metastore, both gitignored)
    for name, src, key in (
        (t_orders, "orders", "o_orderkey"),
        (t_lineitem, "lineitem", "l_orderkey"),
    ):
        if not spark.catalog.tableExists(name):
            # a table dir without a metastore entry (fresh derby, old
            # files, or an interrupted write) blocks saveAsTable —
            # clear it
            wh = spark.conf.get(
                "spark.sql.warehouse.dir", "spark-warehouse"
            ).removeprefix("file:")
            stale = os.path.join(wh, name.lower())
            if os.path.exists(stale):
                import shutil

                shutil.rmtree(stale, ignore_errors=True)
            (
                load_table(spark, sf_dir, src)
                .write.mode("overwrite")
                .bucketBy(_N_BUCKETS, key)
                .sortBy(key)
                .format("parquet")
                .saveAsTable(name)
            )
    return t_orders, t_lineitem


@CAT.query(
    "bucketed_join_order_revenue",
    oracle="""
    SELECT o_orderkey, o_orderdate,
           CAST(SUM(CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           COUNT(*) AS n_items
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderkey, o_orderdate
    """,
)
def bucketed_join_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join on pre-bucketed tables: both sides are bucketed
    (and sorted) on orderkey, so the join plans WITHOUT a shuffle on
    either side — the bucket layout carries the co-location. The
    subsequent groupBy on the same key also reuses it. At 100 TB this
    turns the most expensive recurring join in the warehouse into a
    scan-local merge. Oracle: the identical layout-free join."""
    t_orders, t_lineitem = _ensure_bucketed(spark, sf_dir)
    # merge hint: at bench scale AQE would broadcast the filtered
    # orders side; the point of the layout is the exchange-free
    # sort-merge path that holds when BOTH sides are 100 TB-class.
    o = spark.table(t_orders).filter(F.col("o_orderstatus") == "F").hint("merge")
    li = spark.table(t_lineitem)
    rev_c = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
        "bigint"
    )
    return (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(rev_c).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def _ensure_partitioned(spark: SparkSession, sf_dir: str) -> str:
    """One-time: orders re-written partitioned by order year."""
    tag = _sf_tag(sf_dir)
    path = os.path.join(_WAREHOUSE, f"orders_by_year_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_year", F.year("o_orderdate"))
            .write.mode("overwrite")
            .partitionBy("o_year")
            .parquet(path)
        )
    return path


@CAT.query(
    "partition_pruned_year_revenue",
    oracle="""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    WHERE year(o_orderdate) = 1997
    GROUP BY o_orderstatus ORDER BY o_orderstatus
    """,
)
def partition_pruned_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregation over a year-partitioned copy of orders: the
    o_year = 1997 predicate prunes at the DIRECTORY level — non-matching
    partitions are never listed, opened, or scanned (PartitionFilters
    in the plan, asserted in tests). The 100 TB pattern for every
    time-bounded query. Oracle: same computation on the flat table."""
    path = _ensure_partitioned(spark, sf_dir)
    return (
        spark.read.parquet(path)
        .filter(F.col("o_year") == 1997)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents("o_totalprice")).alias("total_cents"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Small-file compaction (the OPTIMIZE maintenance operator)
# ---------------------------------------------------------------------------

_FRAGMENT_PARTS = 64
_COMPACT_TARGET_BYTES = 96 * 1024 * 1024


def compact_parquet_dir(
    spark: SparkSession, src_dir: str, out_dir: str
) -> int:
    """Rewrite a parquet directory into ceil(total/_COMPACT_TARGET_BYTES)
    files.

    The small-files problem is the dominant operational tax of
    streaming/incremental ingest at scale: a 100 TB table accreted in
    per-minute micro-batches ends up with millions of KB-sized files
    whose open/footer costs dwarf the data scan. Compaction = one
    narrow-ish job: scan → round-robin repartition to the target file
    count → rewrite. Returns the file count written."""
    import glob as _glob
    import math

    total = sum(
        os.path.getsize(p) for p in _glob.glob(os.path.join(src_dir, "*.parquet"))
    )
    n_files = max(1, math.ceil(total / _COMPACT_TARGET_BYTES))
    (
        spark.read.parquet(src_dir)
        .repartition(n_files)
        .write.mode("overwrite")
        .parquet(out_dir)
    )
    return len(_glob.glob(os.path.join(out_dir, "*.parquet")))


@CAT.query(
    "layout_compact_small_files",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM orders
    """,
)
def layout_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction round-trip: a deliberately fragmented copy
    of ``orders`` (64 part-files) is compacted to the byte-target file
    count, and the compacted table must be content-identical to the
    original — compaction changes layout, never data. File-count
    assertions live in tests/test_llm_ops.py."""
    tag = _sf_tag(sf_dir)
    frag = os.path.join(_WAREHOUSE, f"orders_frag_{tag}")
    compact = os.path.join(_WAREHOUSE, f"orders_compact_{tag}")
    if not os.path.exists(os.path.join(frag, "_SUCCESS")):
        (
            load_table(spark, sf_dir, "orders")
            .repartition(_FRAGMENT_PARTS)
            .write.mode("overwrite")
            .parquet(frag)
        )
    if not os.path.exists(os.path.join(compact, "_SUCCESS")):
        compact_parquet_dir(spark, frag, compact)
    return spark.read.parquet(compact).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )


# ---------------------------------------------------------------------------
# Z-order (Morton-curve) clustering — multi-column data skipping
# ---------------------------------------------------------------------------

_Z_MASKS = (
    (8, 0x00FF00FF),
    (4, 0x0F0F0F0F),
    (2, 0x33333333),
    (1, 0x55555555),
)


def _spread_bits(c):
    """Interleave-ready spread: 16-bit int -> its bits at even
    positions of a 32-bit int (magic-mask technique, 4 shift+mask
    rounds instead of a 16-term OR chain). JVM-side only."""
    for shift, mask in _Z_MASKS:
        c = (c.bitwiseOR(F.shiftleft(c, shift))).bitwiseAND(F.lit(mask))
    return c


def zorder_value(a, b):
    """Morton z-value of two 16-bit coordinates (a gets odd bits)."""
    return F.shiftleft(_spread_bits(a), 1).bitwiseOR(_spread_bits(b))


def _spread_sql(expr: str) -> str:
    for shift, mask in _Z_MASKS:
        expr = f"((({expr}) | (({expr}) << {shift})) & {mask})"
    return expr


def _zorder_sql(a: str, b: str) -> str:
    return f"(({_spread_sql(a)} << 1) | {_spread_sql(b)})"


_Z_A = "(user_id & 65535)"
_Z_B = "(CAST(ROUND(value * 100) AS BIGINT) & 65535)"


@CAT.query(
    "layout_zorder_events",
    oracle=f"""
    WITH z AS (
      SELECT ({_zorder_sql(_Z_A, _Z_B)}) AS z_value, user_id
      FROM events)
    SELECT (z_value >> 20) AS z_bucket,
           COUNT(*) AS n_events,
           CAST(MIN(z_value) AS BIGINT) AS min_z,
           CAST(MAX(z_value) AS BIGINT) AS max_z,
           COUNT(DISTINCT user_id) AS n_users
    FROM z GROUP BY 1
    """,
)
def layout_zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: events rewritten range-partitioned + sorted
    by the Morton interleave of (user_id, value-cents), then profiled
    per z-bucket from the REWRITTEN files.

    Why this layout at 100 TB: a table sorted by one column skips row
    groups only for predicates on that column; sorting by the Morton
    z-value keeps BOTH dimensions locally clustered, so parquet
    min/max stats prune scans for predicates on user_id, on value, or
    on both — the standard multi-dimensional clustering trick
    (Delta/Iceberg OPTIMIZE ZORDER BY) built from two narrow bitwise
    expressions, repartitionByRange, and sortWithinPartitions; no
    engine extension needed. The z-value itself is exact integer math,
    so the per-bucket profile has an exact oracle over the flat table
    (roundtrip invariance: rewriting changed layout, not data)."""
    tag = _sf_tag(sf_dir)
    path = os.path.join(_WAREHOUSE, f"events_zorder_{tag}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        ev = load_table(spark, sf_dir, "events")
        z = ev.select(
            "*",
            zorder_value(
                F.col("user_id").bitwiseAND(F.lit(65535)),
                cents("value").bitwiseAND(F.lit(65535)),
            ).alias("z_value"),
        )
        (
            z.repartitionByRange(8, "z_value")
            .sortWithinPartitions("z_value")
            .write.mode("overwrite")
            .parquet(path)
        )
    return (
        spark.read.parquet(path)
        .groupBy(F.shiftright("z_value", 20).alias("z_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("z_value").cast("bigint").alias("min_z"),
            F.max("z_value").cast("bigint").alias("max_z"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


@CAT.query(
    "sink_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(ts AS DATE) AS event_date, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_date, event_type
    """,
)
def sink_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the lakehouse backfill primitive:
    ``mode("overwrite")`` with ``partitionOverwriteMode=dynamic``
    replaces ONLY the partitions present in the incoming batch and
    leaves every other partition's files untouched, which is how a
    daily pipeline re-runs one bad day without rewriting (or even
    listing) the other ~36,499 day partitions of a 100 TB table.
    Static overwrite mode — the default — would truncate the whole
    table first; the difference is the entire point of this entry.

    Proof shape: the base write deliberately corrupts the earliest
    day's counts (+1000), then a second write containing ONLY that
    day's correct rows overwrites in dynamic mode. The read-back
    equals the clean aggregation iff (a) the corrupted partition was
    replaced and (b) no other partition was touched — both failure
    modes (static truncation, no-op append) diverge from the oracle.

    Scale: the repair batch is one partition's aggregation; the
    overwrite's cost is proportional to the DIRTY data, not the
    table. The only driver-side value is the 1-row min-date scalar
    (bounded collect, house convention)."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    path = os.path.join(_WAREHOUSE, f"daily_counts_{tag}")
    # NOT the writer's _SUCCESS: that lands after the FIRST (corrupted)
    # write, so a crash between the two writes would leave a staged
    # fixture that looks done but was never repaired. The marker is
    # written by us, strictly after the dynamic-overwrite repair.
    done = os.path.join(path, "_REPAIR_DONE")
    agg = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.to_date("ts").alias("event_date"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    if not os.path.exists(done):
        first_day = agg.agg(F.min("event_date")).collect()[0][0]
        corrupted = agg.withColumn(
            "n_events",
            F.when(
                F.col("event_date") == F.lit(first_day),
                F.col("n_events") + 1000,
            ).otherwise(F.col("n_events")),
        )
        corrupted.write.mode("overwrite").partitionBy("event_date").parquet(path)
        # the repair: only the bad day's rows, dynamic overwrite
        (
            agg.filter(F.col("event_date") == F.lit(first_day))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_date")
            .parquet(path)
        )
        with open(done, "w") as f:
            f.write("ok")
    back = spark.read.parquet(path)
    return back.select(
        F.col("event_date").cast("date").alias("event_date"),
        "event_type",
        F.col("n_events").cast("bigint").alias("n_events"),
    )
