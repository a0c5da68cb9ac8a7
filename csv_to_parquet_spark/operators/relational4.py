"""TPC-H wave 4 — the last four classic shapes (Q2, Q11, Q12, Q21),
completing all 22 TPC-H query topologies in the catalog.

The reference tool has no relational surface at all (SURVEY.md §2
Part B; converter/converter.go is a single-table pipeline); these are
engine extensions. The driver schema has no ``partsupp`` table and no
``l_shipmode``/``l_commitdate``/``l_receiptdate`` columns, so as in
relational3.py each query keeps the *plan shape* that makes it
interesting — the decorrelated min-subquery (Q2), the scalar-subquery
threshold over a grouped sum (Q11), the conditional two-way count
(Q12), the EXISTS + NOT EXISTS double self-join (Q21) — and derives
the missing inputs from ``lineitem``; each docstring notes the
adaptation.

Scale posture follows relational.py: dimensions broadcast, fact joins
shuffle once on their keys, money in exact integer cents so the
DuckDB oracle hashes bit-identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import cents, two_phase_cumsum
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.operators.cache import persist_tracked
from csv_to_parquet_spark.sources.tables import load_table

CAT = Catalog()

_REV_CENTS_SQL = "CAST(ROUND(l_extendedprice*(1-l_discount)*100) AS BIGINT)"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


@CAT.query(
    "q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey AS partkey, l_suppkey AS suppkey,
             MIN(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS price_cents
      FROM lineitem GROUP BY 1, 2),
    eu AS (
      SELECT s_suppkey, s_name, CAST(ROUND(s_acctbal*100) AS BIGINT)
               AS s_acctbal_cents, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'),
    offers AS (
      SELECT p_partkey, s_name, s_acctbal_cents, n_name, price_cents
      FROM part
      JOIN ps ON p_partkey = partkey
      JOIN eu ON suppkey = s_suppkey
      WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE'),
    best AS (
      SELECT p_partkey AS best_pk, MIN(price_cents) AS best_cents
      FROM offers GROUP BY 1)
    SELECT s_acctbal_cents, s_name, n_name, p_partkey
    FROM offers JOIN best
      ON p_partkey = best_pk AND price_cents = best_cents
    ORDER BY s_acctbal_cents DESC, n_name, s_name, p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the supplier(s) in one
    region offering it at the region-wide minimum price — the classic
    correlated MIN subquery, decorrelated into a per-part minimum
    joined back on (part, price), exactly how Catalyst rewrites the
    subquery form. (Adaptation: no ``partsupp``, so the part-supplier
    offer list is the distinct (l_partkey, l_suppkey) pairs from
    ``lineitem`` with MIN(l_extendedprice) as the offer price.)

    Plan shape at scale: the offer list aggregates lineitem once on
    (partkey, suppkey) — map-side partial agg, one shuffle — and is
    persisted (tracked) because the decorrelated MIN references it
    twice; without the persist Catalyst inlines the whole lineitem
    pipeline into BOTH sides of the final join and scans the fact
    table twice. The per-part minimum is ≤ one row per qualifying
    part, so it broadcasts back into the offers — no sort-merge
    exchange of the offer rows at all. Output rows are (part,
    supplier) pairs; the final ORDER BY ... LIMIT plans as
    TakeOrderedAndProject."""
    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(F.min(cents("l_extendedprice")).alias("price_cents"))
    )
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eu = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(n, F.col("s_nationkey") == n.n_nationkey)
        .join(r, F.col("n_regionkey") == r.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            cents("s_acctbal").alias("s_acctbal_cents"),
            "n_name",
        )
    )
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(
            F.col("p_size").between(10, 20) & (F.col("p_type") == "LARGE")
        )
    )
    offers = persist_tracked(
        p.join(ps, p.p_partkey == ps.partkey)
        .join(eu, ps.suppkey == eu.s_suppkey)
        .select("p_partkey", "s_name", "s_acctbal_cents", "n_name", "price_cents")
    )
    best = F.broadcast(
        offers.groupBy(F.col("p_partkey").alias("best_pk")).agg(
            F.min("price_cents").alias("best_cents")
        )
    )
    return (
        offers.join(
            best,
            (offers.p_partkey == best.best_pk)
            & (offers.price_cents == best.best_cents),
        )
        .select("s_acctbal_cents", "s_name", "n_name", "p_partkey")
        .orderBy(F.desc("s_acctbal_cents"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@CAT.query(
    "q11_important_parts",
    oracle=f"""
    WITH vals AS (
      SELECT l_partkey, CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS value_cents
      FROM lineitem
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_5'
      GROUP BY l_partkey),
    total AS (SELECT SUM(value_cents) AS t FROM vals)
    SELECT l_partkey, value_cents
    FROM vals CROSS JOIN total
    WHERE CAST(value_cents AS DOUBLE) > 0.001 * t
    ORDER BY value_cents DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts representing a significant share of one
    nation's traded value — a grouped sum filtered against a scalar
    subquery over the *same* aggregate (HAVING value > fraction *
    SUM(value)). (Adaptation: no ``partsupp``, so value is lineitem
    revenue for suppliers of the nation instead of supplycost *
    availqty.)

    The per-part aggregate is computed once and reused for both the
    total and the filter: the scalar total is a one-row broadcast
    cross-joined into the grouped rows, so the fact table is read and
    shuffled exactly once. Threshold compares double(cents) >
    0.001 * total_cents — both engines derive the double from the
    same exact integers."""
    li = _t(spark, sf_dir, "lineitem")
    s = F.broadcast(
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = persist_tracked(
        li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "value_cents"
            )
        )
    )
    total = F.broadcast(vals.agg(F.sum("value_cents").alias("t")))
    return (
        vals.crossJoin(total)
        .filter(F.col("value_cents").cast("double") > 0.001 * F.col("t"))
        .select("l_partkey", "value_cents")
        .orderBy(F.desc("value_cents"), "l_partkey")
    )


@CAT.query(
    "q12_late_shipment_priority",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE year(l_shipdate) = 1996
      AND l_shipdate >= o_orderdate + INTERVAL 30 DAY
    GROUP BY l_linestatus ORDER BY l_linestatus
    """,
)
def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: did slow shipments delay high-priority orders —
    a fact-fact join under a date-arithmetic predicate with two
    complementary conditional counts per group. (Adaptation: no
    ``l_shipmode``/``l_commitdate``/``l_receiptdate``; the group key is
    ``l_linestatus`` and "slow" is shipped ≥ 30 days after the order
    date.)

    The ship-year filter prunes lineitem at the scan; the date
    predicate runs post-join since it needs both sides. Conditional
    counts compile to a single hash aggregate pass — no second join
    or union of two filtered branches."""
    li = _t(spark, sf_dir, "lineitem").filter(F.year("l_shipdate") == 1996)
    o = _t(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.date_add("o_orderdate", 30))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@CAT.query(
    "q21_waiting_suppliers",
    oracle="""
    WITH lif AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderstatus = 'F')
    SELECT s_name, COUNT(*) AS numwait
    FROM lif l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_1'
      AND l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lif l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lif l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s_name ORDER BY numwait DESC, s_name
    LIMIT 100
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the *sole* late shipper on a
    finished multi-supplier order — the hardest classic topology: a
    fact self-join three ways, one EXISTS (another supplier shipped on
    the order) and one NOT EXISTS (no *other* supplier was late),
    consumed as a left-semi and a left-anti join. (Adaptation: "late"
    is shipped > 60 days after o_orderdate in place of
    l_receiptdate > l_commitdate.)

    The F-order lineitem projection is computed once, persisted
    (tracked, so release_caches() drops it), and reused for all three
    roles (l1/l2/l3) — the two self-joins then shuffle only (orderkey,
    suppkey, late) triples, never the full fact row. Both existence
    joins share the same orderkey shuffle key. The supplier dimension
    broadcasts; the final count-per-supplier is a tiny aggregate
    planned as TakeOrderedAndProject."""
    o_f = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lif = persist_tracked(
        _t(spark, sf_dir, "lineitem")
        .join(o_f, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_shipdate") > F.date_add("o_orderdate", 60)).alias("late"),
        )
    )
    s1 = (
        _t(spark, sf_dir, "supplier")
        .join(
            _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name")
    )
    l1 = (
        lif.filter(F.col("late"))
        .join(F.broadcast(s1), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("l_orderkey", "l_suppkey", "s_name")
    )
    l2 = lif.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = lif.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("sk3")
    )
    return (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("o2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == F.col("o3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


@CAT.query(
    "unpivot_customer_metrics",
    oracle="""
    WITH m AS (
      SELECT c_custkey,
             CAST(ROUND(c_acctbal*100) AS BIGINT) AS acctbal_cents,
             CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(length(c_name) AS BIGINT) AS name_len
      FROM customer)
    SELECT c_custkey, 'acctbal_cents' AS metric, acctbal_cents AS val FROM m
    UNION ALL
    SELECT c_custkey, 'nationkey', nationkey FROM m
    UNION ALL
    SELECT c_custkey, 'name_len', name_len FROM m
    """,
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (melt): three per-customer metrics become
    (c_custkey, metric, val) rows via the native ``DataFrame.unpivot``
    — Spark plans a single Expand over one scan (3× row multiplier,
    no shuffle, no join), the exact dual of the pivot operator already
    in the catalog. The oracle spells the same semantics as the
    classic UNION ALL, which would scan the table three times — the
    reason the Expand form is the scale path."""
    m = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        cents("c_acctbal").alias("acctbal_cents"),
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.length("c_name").cast("bigint").alias("name_len"),
    )
    return m.unpivot(
        ["c_custkey"],
        ["acctbal_cents", "nationkey", "name_len"],
        "metric",
        "val",
    )


@CAT.query(
    "lineitem_pareto_abc",
    oracle=f"""
    WITH r AS (
      SELECT l_partkey,
             CAST(SUM({_REV_CENTS_SQL}) AS BIGINT) AS rev_cents
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS total FROM r),
    c AS (
      SELECT l_partkey, rev_cents,
             CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey)
               AS BIGINT) AS cum_cents
      FROM r)
    SELECT c.l_partkey, c.rev_cents, c.cum_cents,
           round(CAST(c.cum_cents AS DOUBLE) / t.total, 6) AS cum_share,
           CASE WHEN c.cum_cents * 100 <= t.total * 80 THEN 'A'
                WHEN c.cum_cents * 100 <= t.total * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c, t
    """,
)
def lineitem_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC classification of parts by revenue: parts sorted by
    revenue carry a running cumulative share, classed A (first 80% of
    revenue), B (to 95%), C (tail) — the inventory-prioritization
    report behind "20% of SKUs drive 80% of revenue".

    The fact table collapses to per-part revenue first (map-side
    partial cents sums); the global cumulative window then runs over
    the PART-dimension-sized frame only — bounded by catalog size,
    not fact rows, which is what makes the single-partition ordered
    window acceptable (same contract as the vocabulary rank). Class
    boundaries compare exact integers (cum·100 ≤ total·80), so
    classification never hinges on double rounding."""
    r = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            )
            .cast("bigint")
            .alias("rev_cents")
        )
    )
    total = r.agg(F.sum("rev_cents").cast("bigint").alias("total"))
    wc = Window.orderBy(F.desc("rev_cents"), "l_partkey")
    c = r.select(
        "l_partkey",
        "rev_cents",
        F.sum("rev_cents").over(
            wc.rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("bigint")
        .alias("cum_cents"),
    )
    return c.crossJoin(F.broadcast(total)).select(
        "l_partkey",
        "rev_cents",
        "cum_cents",
        F.round(
            F.col("cum_cents").cast("double") / F.col("total"), 6
        ).alias("cum_share"),
        F.when(F.col("cum_cents") * 100 <= F.col("total") * 80, "A")
        .when(F.col("cum_cents") * 100 <= F.col("total") * 95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@CAT.query(
    "revenue_yoy_growth",
    oracle="""
    WITH g AS (
      SELECT n.n_name AS nation,
             CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(SUM(CAST(ROUND(o.o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY nation, o_year)
    SELECT nation, o_year, rev_cents,
           lag(rev_cents) OVER (PARTITION BY nation ORDER BY o_year)
             AS prev_cents,
           round(CASE WHEN lag(rev_cents) OVER (PARTITION BY nation
                                                ORDER BY o_year) > 0
                 THEN (CAST(rev_cents AS DOUBLE) -
                       lag(rev_cents) OVER (PARTITION BY nation
                                            ORDER BY o_year)) /
                      lag(rev_cents) OVER (PARTITION BY nation
                                           ORDER BY o_year) END, 6)
             AS yoy_growth
    FROM g
    """,
)
def revenue_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth per nation: the reporting shape
    behind every trend dashboard — aggregate to the (nation, year)
    grid, then a lag window computes the growth ratio against the
    prior year (NULL for the first year; zero prior revenue guarded
    to NULL under ANSI mode in both engines).

    The fact table aggregates FIRST with map-side partial cents sums
    (the nation dimension broadcasts into the join); the lag window
    runs over the nations×years grid only. One fact exchange total."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = F.broadcast(
        _t(spark, sf_dir, "nation").select(
            "n_nationkey", F.col("n_name").alias("nation")
        )
    )
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("nation", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev_cents"))
    )
    w = Window.partitionBy("nation").orderBy("o_year")
    prev = F.lag("rev_cents").over(w)
    return g.select(
        "nation",
        "o_year",
        "rev_cents",
        prev.alias("prev_cents"),
        F.round(
            F.when(
                prev > 0,
                (F.col("rev_cents").cast("double") - prev) / prev,
            ),
            6,
        ).alias("yoy_growth"),
    )


@CAT.query(
    "contingency_brand_type",
    oracle="""
    WITH o AS (
      SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS observed
      FROM part GROUP BY p_brand, p_type),
    rt AS (SELECT p_brand, CAST(SUM(observed) AS BIGINT) AS row_tot
           FROM o GROUP BY p_brand),
    ct AS (SELECT p_type, CAST(SUM(observed) AS BIGINT) AS col_tot
           FROM o GROUP BY p_type),
    t AS (SELECT CAST(SUM(observed) AS BIGINT) AS total FROM o)
    SELECT o.p_brand, o.p_type, o.observed,
           round(CAST(rt.row_tot AS DOUBLE) * ct.col_tot / t.total, 6)
             AS expected,
           round((o.observed - CAST(rt.row_tot AS DOUBLE) * ct.col_tot
                               / t.total) /
                 sqrt(CAST(rt.row_tot AS DOUBLE) * ct.col_tot / t.total), 6)
             AS pearson_residual
    FROM o
    JOIN rt ON rt.p_brand = o.p_brand
    JOIN ct ON ct.p_type = o.p_type
    CROSS JOIN t
    """,
)
def contingency_brand_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency-table analysis of brand × type: observed cell
    counts, independence-expected counts, and Pearson residuals — the
    chi-square decomposition that flags which brand/type combinations
    are over- or under-represented (feature-interaction screening,
    catalog anomaly detection).

    One groupBy over the bounded brand×type grid (map-side partials on
    the fact scan); marginals re-aggregate the grid itself, never the
    fact table, and broadcast back. Expected counts exist for every
    observed cell (marginals ≥ cell > 0), so the residual denominator
    is never zero — no ANSI guard needed. Counts are exact BIGINTs;
    the expected/residual doubles execute the identical expression
    tree in both engines, rounded."""
    o = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand", "p_type")
        .agg(F.count(F.lit(1)).alias("observed"))
    )
    rt = o.groupBy("p_brand").agg(
        F.sum("observed").cast("bigint").alias("row_tot")
    )
    ct = o.groupBy("p_type").agg(
        F.sum("observed").cast("bigint").alias("col_tot")
    )
    t = o.agg(F.sum("observed").cast("bigint").alias("total"))
    exp = (
        F.col("row_tot").cast("double") * F.col("col_tot") / F.col("total")
    )
    return (
        o.join(F.broadcast(rt), "p_brand")
        .join(F.broadcast(ct), "p_type")
        .crossJoin(F.broadcast(t))
        .select(
            "p_brand",
            "p_type",
            "observed",
            F.round(exp, 6).alias("expected"),
            F.round((F.col("observed") - exp) / F.sqrt(exp), 6).alias(
                "pearson_residual"
            ),
        )
    )


#: Price-cents per skyline range bucket: the cross-range maxima table
#: has |price domain|/_SKYLINE_RANGE rows (driver-small by
#: construction), while each range's running max stays a parallel
#: partitioned window — the two-phase scan that keeps a
#: high-cardinality price domain off a single task.
_SKYLINE_RANGE = 10_000


@CAT.query(
    "skyline_parts",
    oracle="""
    WITH d AS (
      SELECT CAST(ROUND(p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(p_size AS BIGINT) AS size,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part
      WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL
      GROUP BY 1, 2),
    g AS (
      SELECT price_cents, MAX(size) AS size,
             CAST(SUM(CASE WHEN size = m THEN n_parts ELSE 0 END) AS BIGINT)
               AS n_parts
      FROM (SELECT *, MAX(size) OVER (PARTITION BY price_cents) AS m FROM d)
      GROUP BY price_cents),
    r AS (
      SELECT price_cents, size, n_parts,
             MAX(size) OVER (ORDER BY price_cents
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS rm
      FROM g)
    SELECT price_cents, size, n_parts
    FROM r WHERE rm IS NULL OR size > rm
    ORDER BY price_cents
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: minimize retail price,
    maximize size — the points no other part dominates, with the
    count of parts at each frontier point.

    The classic sort-based skyline: aggregate to distinct
    (price_cents, size) points (keeping per-price max size, since a
    same-price smaller part is dominated outright), then one running
    MAX(size) over price order — a point survives iff its size
    strictly exceeds every cheaper point's. Money in integer cents so
    dominance comparisons are exact in both engines.

    Scale: both windows run AFTER aggregation, so the corpus-sized
    work is a single map-side-combined groupBy and the frontier pass
    sees one row per DISTINCT price. The running max itself is the
    two-phase distributed scan (same pattern as ``pack_token_budget``)
    rather than a single global-order window: a parallel within-range
    running max (window partitioned by a price-range bucket) plus a
    per-range maxima table — |domain|/range rows, cumulated on one
    task and broadcast back — so a high-cardinality price domain
    never serializes through one task. ``greatest`` of the two
    prefixes equals the global running max exactly (null only at the
    very first point, matching the window's empty frame). For >2
    dimensions the sort trick no longer applies and the standard
    distributed answer is grid/angular partitioning + local-skyline-
    then-merge; at 2-D this exact plan is optimal.
    """
    # NULL price/size points are excluded up front (dominance is
    # undefined for them, and a NULL range key would silently drop
    # rows at the inner offsets join instead of deliberately here)
    d = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_retailprice").isNotNull() & F.col("p_size").isNotNull()
        )
        .groupBy(
            cents("p_retailprice").alias("price_cents"),
            F.col("p_size").cast("bigint").alias("size"),
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    wp = Window.partitionBy("price_cents")
    g = (
        d.withColumn("m", F.max("size").over(wp))
        .groupBy("price_cents")
        .agg(
            F.max("size").alias("size"),
            F.sum(F.when(F.col("size") == F.col("m"), F.col("n_parts")).otherwise(0)).alias(
                "n_parts"
            ),
        )
    )
    # two-phase running max over price order: within-range window
    # (parallel) + broadcast exclusive cross-range prefix maxima
    g = g.withColumn("rng", F.expr(f"price_cents div {_SKYLINE_RANGE}"))
    w_in = (
        Window.partitionBy("rng")
        .orderBy("price_cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = g.withColumn("rm_in", F.max("size").over(w_in))
    w_off = Window.orderBy("rng").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        g.groupBy("rng")
        .agg(F.max("size").alias("rng_max"))
        .withColumn("rm_prev", F.max("rng_max").over(w_off))
        .select("rng", "rm_prev")
    )
    return (
        within.join(F.broadcast(offsets), "rng")
        .withColumn("rm", F.greatest("rm_in", "rm_prev"))
        .filter(F.col("rm").isNull() | (F.col("size") > F.col("rm")))
        .select("price_cents", "size", "n_parts")
        .orderBy("price_cents")
    )


@CAT.query(
    "join_bloom_prefilter",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders
    WHERE o_custkey IN (
      SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered semi join: revenue by priority for orders
    whose customer is in the BUILDING segment, with the fact scan
    pre-screened by a Bloom filter of the key set BEFORE the semi
    join. The result is EXACT — a Bloom filter built by inserting
    every key has no false negatives, and the exact semi join that
    follows removes its false positives — so the oracle is the plain
    ``IN`` subquery.

    Why this exists at 100 TB: when the key side is too large to
    broadcast as an exact set but its *bitmap* fits comfortably
    (m bits regardless of key count — here 2^16 bits = 8 KiB; 2^27
    bits = 16 MiB screens ~10M keys at ~1% fp), the filter drops
    non-matching fact rows at the SCAN, before they are shuffled for
    the join. The shuffle then carries only matching-plus-fp rows —
    the same trick Spark's own runtime row-level filtering applies to
    shuffle joins, built here from first principles with public
    primitives so the screen can be persisted and reused across
    queries (a join-key zone-map in table form).

    Construction (all codegen'd):
    - k=3 positions per key via seeded xxhash64 pmod m;
    - positions fold to (word, bit) pairs; ``bit_or`` over
      ``1 << bit`` builds the 64-bit words DISTRIBUTED (the only
      shuffle is onto <= m/64 word groups);
    - the finished m/64-long word array — 8 KiB here, a few MiB in
      the large-key regime — ships INSIDE the filter expression as a
      literal, the centroid-literal pattern (`cluster_kmeans_assign`),
      making the screen a plain scan-side Filter. This is
      deliberate: the first build of this operator attached the
      bitmap as a 1-row broadcast crossJoin, and Catalyst REORDERED
      the exact semi join below it, running the screen on
      already-exact rows (measured; pure overhead). A literal in the
      scan's own Filter cannot be reordered past the join it guards.
    - the exact semi join then runs over the surviving sliver.
    """
    m_bits = 1 << 16
    n_words = m_bits // 64
    keys = persist_tracked(
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )

    def positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(m_bits)).cast("int")
            for seed in (101, 202, 303)
        ]

    # distributed build: explode bit positions, fold into words
    # (pyspark's shiftleft() helper only takes a literal shift count,
    # so the variable-shift mask is an expr string)
    word_rows = (
        keys.select(
            F.explode(F.array(*positions(F.col("c_custkey")))).alias("pos")
        )
        .selectExpr(
            "shiftright(pos, 6) AS widx",
            "shiftleft(CAST(1 AS BIGINT), pmod(pos, 64)) AS mask",
        )
        .groupBy("widx")
        .agg(F.bit_or("mask").alias("word"))
        .collect()  # model-sized: <= m/64 words (1024 here), never |keys|
    )
    dense = [0] * n_words
    for r in word_rows:
        dense[r.widx] = r.word
    # One parser round-trip for the whole bitmap. Building this as
    # F.array(*[F.lit(w) ...]) costs n_words Py4J calls (~2 s of pure
    # driver chatter at m=2^16); a single SQL string parses in ~ms and
    # constant-folds to one array Literal either way. The Column object
    # is reused across the three probe tests, so the JVM tree is shared.
    bm = F.expr("array(" + ",".join(f"{w}L" for w in dense) + ")")

    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", cents("o_totalprice").alias("price_c")
    )
    probes = positions(F.col("o_custkey"))
    tests = [
        (
            F.element_at(bm, F.shiftright(p, 6) + 1).bitwiseAND(
                F.expr(
                    f"shiftleft(CAST(1 AS BIGINT), pmod(CAST("
                    f"pmod(xxhash64(o_custkey, {seed}), {m_bits})"
                    f" AS INT), 64))"
                )
            )
            != 0
        )
        for p, seed in zip(probes, (101, 202, 303))
    ]
    prefiltered = orders.filter(tests[0] & tests[1] & tests[2])
    return (
        prefiltered.join(
            F.broadcast(keys),
            prefiltered.o_custkey == keys.c_custkey,
            "semi",
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("price_c").cast("bigint").alias("revenue_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Two-phase global row numbering (range partition + partition offsets)
# ---------------------------------------------------------------------------


@CAT.query(
    "rank_global_two_phase",
    oracle="""
    SELECT o_orderkey,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS price_cents,
           CAST(ROW_NUMBER() OVER (
             ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT), o_orderkey)
             AS BIGINT) AS global_rank
    FROM orders
    """,
)
def rank_global_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally consecutive row numbers for EVERY order by
    (price, orderkey) — without the single-task global window a naive
    ``row_number() OVER (ORDER BY ...)`` compiles to.

    The distributed zipWithIndex pattern: (1) range-repartition on the
    full sort key, so partition p holds exactly the keys between
    sampled boundaries and partition ids ascend with the key order;
    (2) a PER-PARTITION running count (window partitioned by
    ``spark_partition_id()`` — parallel); (3) per-partition counts
    roll into broadcast exclusive offsets (one tiny frame, |partitions|
    rows). global_rank = local rn + offset[pid] — the running sum of a
    constant 1 through ``functions.two_phase_cumsum``. The sampled range
    boundaries are nondeterministic, but the FINAL rank is not: the
    total order (price_cents, o_orderkey) is unique, and where a row
    lands cannot change its rank — only which partition computes it.
    The unique tiebreaker is what makes this driver-hash-exact; equal
    keys split across a boundary would otherwise rank arbitrarily.
    """
    d = _t(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("price_cents")
    )
    r = d.repartitionByRange(32, "price_cents", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    r = persist_tracked(r)  # feeds the window AND the offset counts
    return two_phase_cumsum(
        r.withColumn("one", F.lit(1)),
        ["one"],
        ["price_cents", "o_orderkey"],
        ["pid"],
    ).select(
        "o_orderkey", "price_cents", F.col("cum_one").alias("global_rank")
    )


# ---------------------------------------------------------------------------
# Entity resolution: phonetic blocking + edit-distance verify
# ---------------------------------------------------------------------------

#: Shared-text phonetic blocking key (soundex-LIKE, own definition so
#: BOTH engines evaluate the identical expression): uppercase, keep the
#: first letter, map consonant classes to digits (vowels/H/W/Y -> 0),
#: drop the zeros, collapse digit runs (four halving replace rounds:
#: each round halves a same-digit run — ceil(n/2) — so four rounds
#: collapse runs up to 16, covering any word of <= 17 chars; ADVICE r6
#: showed three rounds leave 'B11' for a 10-digit run).
_PHON_SRC = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_PHON_DST = "01230120022455012623010202"


def _phonetic_key_sql(col: str) -> str:
    digits = f"substring(translate(upper({col}), '{_PHON_SRC}', '{_PHON_DST}'), 2)"
    collapsed = f"replace({digits}, '0', '')"
    for _ in range(4):
        inner = collapsed
        for d in "123456":
            inner = f"replace({inner}, '{d}{d}', '{d}')"
        collapsed = inner
    return f"concat(substring(upper({col}), 1, 1), {collapsed})"


@CAT.query(
    "er_phonetic_block_join",
    oracle=f"""
    WITH w AS (
      SELECT DISTINCT unnest(regexp_split_to_array(p_name, ' ')) AS w
      FROM part),
    k AS (SELECT w, {_phonetic_key_sql("w")} AS pk FROM w)
    SELECT a.w AS word_a, b.w AS word_b, a.pk,
           CAST(levenshtein(a.w, b.w) AS BIGINT) AS lev
    FROM k a JOIN k b ON a.pk = b.pk AND a.w < b.w
    WHERE levenshtein(a.w, b.w) <= 2
    """,
)
def er_phonetic_block_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking: part-name vocabulary words that
    share a phonetic key AND are within edit distance 2 — the
    block-then-verify shape every record-linkage pipeline uses to
    avoid the O(n²) all-pairs edit-distance join.

    The phonetic key is one shared SQL expression (translate +
    replace pipeline, identical text in both engines — see
    _phonetic_key_sql), so the BLOCKING itself is oracle-checked, not
    just the verified pairs. Scale: the key is a narrow projection;
    the self-join fan-out is bounded by phonetic-bucket sizes (a
    bounded vocabulary here; for open name domains production adds a
    frequency cap per bucket exactly like the df-capped shingle
    index); levenshtein runs on candidates only.
    """
    words = (
        _t(spark, sf_dir, "part")
        .select(F.explode(F.split("p_name", " ")).alias("w"))
        .distinct()
        .withColumn("pk", F.expr(_phonetic_key_sql("w")))
    )
    a = words.select(F.col("w").alias("word_a"), "pk")
    b = words.select(F.col("w").alias("word_b"), F.col("pk").alias("pk_b"))
    return (
        a.join(
            b,
            (F.col("pk") == F.col("pk_b"))
            & (F.col("word_a") < F.col("word_b")),
        )
        .withColumn(
            "lev", F.levenshtein("word_a", "word_b").cast("bigint")
        )
        .filter(F.col("lev") <= 2)
        .select("word_a", "word_b", "pk", "lev")
    )


# ---------------------------------------------------------------------------
# ANSI-safe scalar arithmetic: the try_* family
# ---------------------------------------------------------------------------


@CAT.query(
    "scalar_try_functions",
    oracle="""
    WITH d AS (
      SELECT l_returnflag,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c,
             CAST(ROUND(l_tax * 100) AS BIGINT) AS tax_bp,
             CASE WHEN l_quantity < 10
                  THEN CAST(CAST(l_quantity AS BIGINT) AS VARCHAR)
                  ELSE 'n/a' END AS qty_str
      FROM lineitem),
    r AS (
      SELECT l_returnflag,
             CASE WHEN tax_bp = 0 THEN NULL
                  ELSE CAST(FLOOR(CAST(price_c AS DOUBLE) / tax_bp) AS BIGINT)
             END AS ratio,
             try_cast(qty_str AS BIGINT) AS qty_parsed
      FROM d)
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN ratio IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero_tax,
           CAST(SUM(ratio) AS BIGINT) AS sum_ratio,
           CAST(COUNT(qty_parsed) AS BIGINT) AS n_parsed,
           CAST(SUM(qty_parsed) AS BIGINT) AS sum_parsed
    FROM r GROUP BY l_returnflag
    """,
)
def scalar_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANSI-safe ``try_*`` scalar family under ANSI mode:
    ``try_divide`` (NULL on division by zero instead of the runtime
    error plain ``/`` raises under spark.sql.ansi.enabled) and
    ``try_cast`` (NULL on unparseable input) — the error-tolerant
    arithmetic a pipeline needs when a 100 TB scan cannot afford one
    poisoned row killing the job. Both engines fold the NULLs into
    the same aggregates; DuckDB lacks try_divide so its oracle spells
    out the equivalent CASE (documenting exactly what the function
    means).
    """
    d = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents("l_extendedprice").alias("price_c"),
        cents("l_tax").alias("tax_bp"),
        F.when(
            F.col("l_quantity") < 10,
            F.col("l_quantity").cast("bigint").cast("string"),
        )
        .otherwise(F.lit("n/a"))
        .alias("qty_str"),
    )
    r = d.select(
        "l_returnflag",
        F.expr(
            "CAST(FLOOR(try_divide(CAST(price_c AS DOUBLE), tax_bp))"
            " AS BIGINT)"
        ).alias("ratio"),
        F.expr("try_cast(qty_str AS BIGINT)").alias("qty_parsed"),
    )
    return r.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("ratio").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero_tax"),
        F.sum("ratio").cast("bigint").alias("sum_ratio"),
        F.count("qty_parsed").cast("bigint").alias("n_parsed"),
        F.sum("qty_parsed").cast("bigint").alias("sum_parsed"),
    )
