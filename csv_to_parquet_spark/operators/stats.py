"""Distributed statistics battery: two-sample tests, ANOVA, OLS,
lagged cross-correlation, and a correlation matrix.

The reference is a file converter with no statistics surface
(converter/converter.go:66-420); these extend the SURVEY §7 analytics
surface with the classical inference shapes a data-quality or
experimentation pipeline runs over the star schema — the same family
as ``events_ab_test_welch`` / ``events_chisq_independence`` in
``analytics.py``, pushed further: rank/ECDF statistics that need a
GLOBAL cumulative pass, and multi-moment closed forms.

Exactness contract (house pattern, see ``events_ab_test_welch``): all
sufficient statistics are exact BIGINT sums of integer-valued columns
(cents / quantity units / discount basis points), and every floating
expression is ONE shared SQL text rendered into both the Spark plan
(``F.expr``) and the DuckDB oracle — identical parse tree over
identical exact-integer inputs ⇒ bit-identical IEEE doubles, so the
micro-floored outputs cannot straddle a boundary differently.

Scale posture: the ECDF-family statistics (KS, Mann-Whitney) need a
global cumulative count over the VALUE domain — the classic
distributed-unfriendly shape. They run the two-phase prefix sum
``functions.two_phase_cumsum``: value-ordered buckets give parallel
within-bucket window sums, per-bucket totals (tiny by construction)
roll into broadcast offsets. No global single-partition sort anywhere;
the only single-task step is over the bucket-totals frame, whose size
is the value range divided by the bucket width, independent of row
count. Overflow note: cum*n products are exact in int64 up to ~1e18
(n1*n2 of two ~1e9-row samples). Second-moment sums (Σx², Σxy) blow
int64 far earlier — Σ price_cents² ≈ 6e19 at sf0.1 already — so the
correlation/OLS sufficient statistics accumulate as DECIMAL(38,0) in
the shared SQL text (exact integers in both engines; DuckDB's HUGEINT
accumulator feeds the same decimal cast).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import cents, two_phase_cumsum
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.sources.tables import load_table

CAT = Catalog()


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Value-ordered bucket width for the ECDF prefix sums: 2^20 cents
# (~$10.5k). o_totalprice spans ~[$1k, $600k] so the bucket-totals
# frame is at most a few hundred rows at ANY scale factor.
_KS_BUCKET = 1 << 20

_GRP_A = "1-URGENT"
_GRP_B = "5-LOW"


def _ecdf_counts(spark: SparkSession, sf_dir: str):
    """Shared KS / Mann-Whitney scaffold.

    Returns (per-value frame with exact cumulative counts, totals):
    one row per distinct o_totalprice cents value carrying
    (val, c1, c2, cum1, cum2) and the scalar totals (n1, n2) as
    constant columns, riding the broadcast offsets frame. Two-phase
    prefix sum (:func:`two_phase_cumsum`):
    bucket = val div 2^20 preserves value order, so within-bucket
    window sums + exclusive bucket offsets compose to the exact global
    cumulative — no single-partition global sort.
    """
    pri = F.col("o_orderpriority")
    v = (
        _t(spark, sf_dir, "orders")
        .filter(pri.isin(_GRP_A, _GRP_B))
        .select(
            cents("o_totalprice").alias("val"),
            F.when(pri == _GRP_A, 1).otherwise(0).alias("i1"),
            F.when(pri == _GRP_B, 1).otherwise(0).alias("i2"),
        )
        .groupBy("val")
        .agg(
            F.sum("i1").cast("bigint").alias("c1"),
            F.sum("i2").cast("bigint").alias("c2"),
        )
    )
    v = v.withColumn("bucket", F.expr(f"val div {_KS_BUCKET}"))
    return (
        two_phase_cumsum(v, ["c1", "c2"], ["val"], ["bucket"], totals=True)
        .withColumnRenamed("cum_c1", "cum1")
        .withColumnRenamed("cum_c2", "cum2")
        .withColumnRenamed("n_c1", "n1")
        .withColumnRenamed("n_c2", "n2")
    )


# Shared DuckDB CTE producing the same per-value cumulative frame.
_ECDF_SQL = f"""
    v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS val,
             CAST(SUM(CASE WHEN o_orderpriority = '{_GRP_A}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN o_orderpriority = '{_GRP_B}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM orders
      WHERE o_orderpriority IN ('{_GRP_A}', '{_GRP_B}')
      GROUP BY 1),
    c AS (
      SELECT val, c1, c2,
             CAST(SUM(c1) OVER (ORDER BY val) AS BIGINT) AS cum1,
             CAST(SUM(c2) OVER (ORDER BY val) AS BIGINT) AS cum2
      FROM v),
    t AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2
      FROM v)
"""


@CAT.query(
    "stats_ks_two_sample",
    oracle=f"""
    WITH {_ECDF_SQL}
    SELECT n1, n2,
           CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS BIGINT) AS ks_num,
           CAST(CAST(MAX(ABS(cum1 * n2 - cum2 * n1)) AS HUGEINT) * 1000000
                // (n1 * n2) AS BIGINT) AS ks_micro
    FROM c, t
    GROUP BY n1, n2
    """,
)
def stats_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the
    o_totalprice distributions of '1-URGENT' and '5-LOW' orders.

    D = max_v |F1(v) - F2(v)| is computed ENTIRELY in integers:
    |cum1*n2 - cum2*n1| is the numerator of the ECDF gap over the
    common denominator n1*n2, and the reported ks_micro is an exact
    integer division — zero float involvement, so cross-engine parity
    is unconditional. The global cumulative uses the two-phase
    bucketed prefix sum (module docstring); nothing sorts globally.
    """
    cum = _ecdf_counts(spark, sf_dir)
    g = cum.groupBy("n1", "n2").agg(
        F.max(F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")))
        .cast("bigint")
        .alias("ks_num")
    )
    return g.select(
        "n1",
        "n2",
        "ks_num",
        # ks_num ≤ n1·n2, so ks_num·1e6 tops int64 near sf10 (n≈3M per
        # group) — widen like the sibling second-moment sums (DuckDB
        # side widens to HUGEINT)
        F.expr(
            "CAST(ks_num AS DECIMAL(38,0)) * 1000000 div (n1 * n2)"
        )
        .cast("bigint")
        .alias("ks_micro"),
    )


# Shared float tail of the Mann-Whitney normal approximation (tie
# corrected). Rendered into BOTH engines; inputs are exact integers.
_MW_Z_SQL = (
    "CAST(FLOOR((u1_x2 / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2) / "
    "sqrt(CAST(n1 AS DOUBLE) * n2 / 12 * "
    "((n1 + n2 + 1) - CAST(tie_t AS DOUBLE) / "
    "((n1 + n2) * (CAST(n1 AS DOUBLE) + n2 - 1)))) * 1000000) AS BIGINT)"
)


@CAT.query(
    "stats_mannwhitney_u",
    oracle=f"""
    WITH {_ECDF_SQL},
    s AS (
      SELECT CAST(SUM(c1 * (2 * cum2 - c2)) AS BIGINT) AS u1_x2,
             CAST(SUM((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2))
                  AS BIGINT) AS tie_t
      FROM c)
    SELECT n1, n2, u1_x2,
           CAST(2 * n1 * n2 - u1_x2 AS BIGINT) AS u2_x2,
           {_MW_Z_SQL} AS z_micro
    FROM s, t
    """,
)
def stats_mannwhitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U test on the same two order-priority samples.

    U1 is assembled per distinct value with ties handled exactly:
    2*U1 = Σ_v c1_v * (2*cum2_v - c2_v) — each group-1 row at value v
    beats every group-2 row below v (cum2 - c2) and half-ties the c2_v
    rows AT v; doubling keeps it integral. The z statistic uses the
    tie-corrected normal approximation; its single float expression is
    shared text with the oracle (module docstring), so the floored
    micro value agrees bit-for-bit. Tie cubes stay within int64 until
    a single value repeats ~2M times; past that widen to
    decimal(38,0) (DuckDB already computes in HUGEINT).
    """
    cum = _ecdf_counts(spark, sf_dir)
    s = cum.groupBy("n1", "n2").agg(
        F.sum(
            F.col("c1") * (F.lit(2) * F.col("cum2") - F.col("c2"))
        )
        .cast("bigint")
        .alias("u1_x2"),
        F.sum(
            (F.col("c1") + F.col("c2"))
            * (F.col("c1") + F.col("c2"))
            * (F.col("c1") + F.col("c2"))
            - (F.col("c1") + F.col("c2"))
        )
        .cast("bigint")
        .alias("tie_t"),
    )
    return s.select(
        "n1",
        "n2",
        "u1_x2",
        (F.lit(2) * F.col("n1") * F.col("n2") - F.col("u1_x2"))
        .cast("bigint")
        .alias("u2_x2"),
        F.expr(_MW_Z_SQL).alias("z_micro"),
    )


_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

# Fixed-order float tail for the one-way ANOVA over the five pivoted
# segment columns. Double addition is NOT associative, so the sum of
# the per-group s²/n terms is written out in one fixed textual order
# rendered into both engines (the Welch pivot trick, k=5).
_ANOVA_BETWEEN = " + ".join(
    f"CAST(s{i} AS DOUBLE) * s{i} / n{i}" for i in range(1, 6)
)
_ANOVA_S = " + ".join(f"s{i}" for i in range(1, 6))
_ANOVA_N = " + ".join(f"n{i}" for i in range(1, 6))
_ANOVA_SS = " + ".join(f"ss{i}" for i in range(1, 6))
_ANOVA_SSB = f"(({_ANOVA_BETWEEN}) - CAST({_ANOVA_S} AS DOUBLE) * ({_ANOVA_S}) / ({_ANOVA_N}))"
_ANOVA_SSW = f"(CAST({_ANOVA_SS} AS DOUBLE) - ({_ANOVA_BETWEEN}))"
_ANOVA_TAIL_SQL = (
    f"CAST({_ANOVA_N} AS BIGINT) AS n_total, "
    f"CAST(FLOOR({_ANOVA_SSB} / 4 / ({_ANOVA_SSW} / (({_ANOVA_N}) - 5)) "
    f"* 1000000) AS BIGINT) AS f_micro, "
    f"CAST(FLOOR({_ANOVA_SSB} / ({_ANOVA_SSB} + {_ANOVA_SSW}) * 1000000) "
    f"AS BIGINT) AS eta2_micro"
)

_ANOVA_PIVOT_SQL = ", ".join(
    f"MAX(CASE WHEN c_mktsegment = '{seg}' THEN n END) AS n{i}, "
    f"MAX(CASE WHEN c_mktsegment = '{seg}' THEN s END) AS s{i}, "
    f"MAX(CASE WHEN c_mktsegment = '{seg}' THEN ss END) AS ss{i}"
    for i, seg in enumerate(_SEGMENTS, 1)
)


@CAT.query(
    "stats_anova_oneway",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
             CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)
                      * CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT)
               AS ss
      FROM customer GROUP BY 1),
    w AS (SELECT {_ANOVA_PIVOT_SQL} FROM g)
    SELECT {_ANOVA_TAIL_SQL} FROM w
    """,
)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of account balance (cents) across the five
    market segments: F = (SSB/(k-1)) / (SSW/(N-k)) plus the effect
    size eta² = SSB/SST.

    The five per-group (n, Σ, Σ²) triplets are exact BIGINTs pivoted
    into fixed columns (TPC-H's segment domain is closed), so the
    float tail is one deterministic expression with an explicit
    left-to-right term order shared with the oracle — the pivot is
    what makes k-group double summation order-stable across engines.
    Plan: one map-side-combined groupBy over customer, a 1-row pivot,
    a scalar projection.
    """
    cents_bal = cents("c_acctbal")
    g = (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents_bal).cast("bigint").alias("s"),
            F.sum(cents_bal * cents_bal).cast("bigint").alias("ss"),
        )
    )
    w = g.agg(*_agg_frags(_ANOVA_PIVOT_SQL))
    return w.selectExpr(
        *[f.strip() for f in _split_top_level(_ANOVA_TAIL_SQL)]
    )


_CORR_PAIRS = [
    ("quantity", "extendedprice"),
    ("quantity", "discount"),
    ("quantity", "tax"),
    ("extendedprice", "discount"),
    ("extendedprice", "tax"),
    ("discount", "tax"),
]

_CORR_VARS = {
    "quantity": "CAST(l_quantity AS BIGINT)",
    "extendedprice": "CAST(ROUND(l_extendedprice * 100) AS BIGINT)",
    "discount": "CAST(ROUND(l_discount * 100) AS BIGINT)",
    "tax": "CAST(ROUND(l_tax * 100) AS BIGINT)",
}


def _corr_frag(a: str, b: str) -> str:
    """Pearson corr micro-floored, from the named exact-int sums
    n, s_<v>, ss_<v>, s_<a>_<b> — one shared text for both engines."""
    return (
        f"CAST(FLOOR((CAST(s_{a}_{b} AS DOUBLE) "
        f"- CAST(s_{a} AS DOUBLE) * s_{b} / n) / "
        f"sqrt((CAST(ss_{a} AS DOUBLE) - CAST(s_{a} AS DOUBLE) * s_{a} / n) * "
        f"(CAST(ss_{b} AS DOUBLE) - CAST(s_{b} AS DOUBLE) * s_{b} / n)) "
        f"* 1000000) AS BIGINT)"
    )


# Per-row products fit int64 comfortably (price_cents² ≈ 1e14); their
# SUMS do not at bench scale (Σ price_cents² ≈ 6e19 > int64 at sf0.1
# already), so every squared/cross-product sum is accumulated as
# DECIMAL(38,0) — exact integer arithmetic in BOTH engines (DuckDB
# reads the same text; its HUGEINT would also have refused the BIGINT
# cast). First-moment sums stay BIGINT (≈6e12 at sf0.1; 1000× head-
# room). The float tails CAST these to DOUBLE — identical
# nearest-even conversion on both sides.
_CORR_SUMS_SQL = (
    "CAST(COUNT(*) AS BIGINT) AS n, "
    + ", ".join(
        f"CAST(SUM({expr}) AS BIGINT) AS s_{v}, "
        f"CAST(SUM(CAST({expr} * {expr} AS DECIMAL(38,0)))"
        f" AS DECIMAL(38,0)) AS ss_{v}"
        for v, expr in _CORR_VARS.items()
    )
    + ", "
    + ", ".join(
        f"CAST(SUM(CAST({_CORR_VARS[a]} * {_CORR_VARS[b]} AS DECIMAL(38,0)))"
        f" AS DECIMAL(38,0)) AS s_{a}_{b}"
        for a, b in _CORR_PAIRS
    )
)


@CAT.query(
    "stats_corr_matrix",
    oracle=f"""
    WITH w AS (SELECT {_CORR_SUMS_SQL} FROM lineitem)
    {" UNION ALL ".join(
        f"SELECT '{a}' AS var_a, '{b}' AS var_b, "
        f"{_corr_frag(a, b)} AS corr_micro FROM w"
        for a, b in _CORR_PAIRS
    )}
    """,
)
def stats_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix (upper triangle, 6 pairs)
    over lineitem's four numeric measures, in ONE aggregation pass.

    All 15 sufficient statistics (count, 4 sums, 4 sum-squares, 6
    cross-products) come from a single map-side-combined agg over
    integer-valued rescalings (units / cents / basis points); the six
    correlations are then a ``stack`` over shared float fragments —
    the multi-corr one-pass shape, vs. six separate ``corr()`` scans.
    """
    w = (
        _t(spark, sf_dir, "lineitem")
        .groupBy()
        .agg(*_agg_frags(_CORR_SUMS_SQL))
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', ({_corr_frag(a, b)})" for a, b in _CORR_PAIRS
    )
    return w.selectExpr(
        f"stack(6, {stack_args}) AS (var_a, var_b, corr_micro)"
    )


def _split_top_level(s: str) -> list[str]:
    """Split a comma-joined SELECT list on top-level commas only."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _agg_frags(select_list: str) -> list:
    """Turn a shared ``expr AS name`` SELECT list into Spark agg
    columns — the mechanism that guarantees the Spark plan evaluates
    the EXACT text the oracle runs."""
    cols = []
    for frag in _split_top_level(select_list):
        expr_part, name = frag.strip().rsplit(" AS ", 1)
        cols.append(F.expr(expr_part).alias(name))
    return cols


# OLS with two regressors, closed form via centered moments + Cramer.
_OLS_MOMS = (
    "(CAST(s_x1x1 AS DOUBLE) - CAST(s_x1 AS DOUBLE) * s_x1 / n)",
    "(CAST(s_x2x2 AS DOUBLE) - CAST(s_x2 AS DOUBLE) * s_x2 / n)",
    "(CAST(s_x1x2 AS DOUBLE) - CAST(s_x1 AS DOUBLE) * s_x2 / n)",
    "(CAST(s_x1y AS DOUBLE) - CAST(s_x1 AS DOUBLE) * s_y / n)",
    "(CAST(s_x2y AS DOUBLE) - CAST(s_x2 AS DOUBLE) * s_y / n)",
    "(CAST(s_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * s_y / n)",
)
_M11, _M22, _M12, _M1Y, _M2Y, _MYY = _OLS_MOMS
_OLS_DEN = f"({_M11} * {_M22} - {_M12} * {_M12})"
_OLS_B1 = f"(({_M22} * {_M1Y} - {_M12} * {_M2Y}) / {_OLS_DEN})"
_OLS_B2 = f"(({_M11} * {_M2Y} - {_M12} * {_M1Y}) / {_OLS_DEN})"
_OLS_B0 = (
    f"(CAST(s_y AS DOUBLE) / n - {_OLS_B1} * (CAST(s_x1 AS DOUBLE) / n) "
    f"- {_OLS_B2} * (CAST(s_x2 AS DOUBLE) / n))"
)
_OLS_R2 = f"(({_OLS_B1} * {_M1Y} + {_OLS_B2} * {_M2Y}) / {_MYY})"
_OLS_TAIL_SQL = (
    "CAST(n AS BIGINT) AS n_rows, "
    f"CAST(FLOOR({_OLS_B0} * 1000000) AS BIGINT) AS b0_micro, "
    f"CAST(FLOOR({_OLS_B1} * 1000000) AS BIGINT) AS b1_micro, "
    f"CAST(FLOOR({_OLS_B2} * 1000000) AS BIGINT) AS b2_micro, "
    f"CAST(FLOOR({_OLS_R2} * 1000000) AS BIGINT) AS r2_micro"
)

_OLS_X1 = "CAST(l_quantity AS BIGINT)"
_OLS_X2 = "CAST(ROUND(l_discount * 100) AS BIGINT)"
_OLS_Y = "CAST(ROUND(l_extendedprice * 100) AS BIGINT)"

# second-moment sums widened to DECIMAL(38,0) — see _CORR_SUMS_SQL
_OLS_SUMS_SQL = (
    "CAST(COUNT(*) AS BIGINT) AS n, "
    f"CAST(SUM({_OLS_X1}) AS BIGINT) AS s_x1, "
    f"CAST(SUM({_OLS_X2}) AS BIGINT) AS s_x2, "
    f"CAST(SUM({_OLS_Y}) AS BIGINT) AS s_y, "
    f"CAST(SUM(CAST({_OLS_X1} * {_OLS_X1} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_x1x1, "
    f"CAST(SUM(CAST({_OLS_X2} * {_OLS_X2} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_x2x2, "
    f"CAST(SUM(CAST({_OLS_X1} * {_OLS_X2} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_x1x2, "
    f"CAST(SUM(CAST({_OLS_X1} * {_OLS_Y} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_x1y, "
    f"CAST(SUM(CAST({_OLS_X2} * {_OLS_Y} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_x2y, "
    f"CAST(SUM(CAST({_OLS_Y} * {_OLS_Y} AS DECIMAL(38,0)))"
    f" AS DECIMAL(38,0)) AS s_yy"
)


@CAT.query(
    "stats_ols_two_factor",
    oracle=f"""
    WITH w AS (SELECT {_OLS_SUMS_SQL} FROM lineitem)
    SELECT {_OLS_TAIL_SQL} FROM w
    """,
)
def stats_ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS of extended price (cents) on quantity (units)
    and discount (basis points): normal equations solved by Cramer's
    rule over centered second moments.

    One distributed pass accumulates the nine exact-integer sufficient
    statistics; the 3-parameter solve is a scalar projection — the
    textbook 'sufficient statistics, not data movement' regression
    shape (the same reason Spark MLlib's normal-equation solver beats
    gradient descent for tiny feature counts). The float tail is
    shared text with the oracle. Overflow headroom: Σy² at ~1e7-cent
    prices exhausts int64 near ~1e4 × today's sf0.1 rows; past that
    the sums widen to decimal(38,0) (DuckDB is already HUGEINT).
    """
    w = (
        _t(spark, sf_dir, "lineitem")
        .groupBy()
        .agg(*_agg_frags(_OLS_SUMS_SQL))
    )
    return w.selectExpr(*[f.strip() for f in _split_top_level(_OLS_TAIL_SQL)])


_XCORR_CORR = (
    "CAST(FLOOR((s_xy - CAST(s_x AS DOUBLE) * s_y / n) / "
    "sqrt((s_xx - CAST(s_x AS DOUBLE) * s_x / n) * "
    "(s_yy - CAST(s_y AS DOUBLE) * s_y / n)) * 1000000) AS BIGINT)"
)


@CAT.query(
    "events_lag_xcorr",
    oracle=f"""
    WITH b AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events),
    sp AS (
      SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b),
    dr AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1),
    daily AS (
      SELECT sp.d, COALESCE(dr.x, 0) AS x, COALESCE(dr.y, 0) AS y
      FROM sp LEFT JOIN dr USING (d)),
    l AS (SELECT CAST(unnest(range(-3, 4)) AS BIGINT) AS lag),
    p AS (
      SELECT l.lag, a.x AS x, b2.y AS y
      FROM daily a
      CROSS JOIN l
      JOIN daily b2 ON b2.d = a.d + CAST(l.lag AS INTEGER)),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s_x, CAST(SUM(y) AS BIGINT) AS s_y,
             CAST(SUM(x * x) AS BIGINT) AS s_xx,
             CAST(SUM(y * y) AS BIGINT) AS s_yy,
             CAST(SUM(x * y) AS BIGINT) AS s_xy
      FROM p GROUP BY lag)
    SELECT lag, n AS n_days, {_XCORR_CORR} AS corr_micro
    FROM s
    """,
)
def events_lag_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between daily click volume and
    daily purchase volume at lags -3..+3 days (does click traffic
    LEAD purchases?). Pearson corr of (x_t, y_{t+lag}) over the
    zero-filled date spine.

    Scale shape: the corpus is touched ONCE (a date-keyed count agg);
    everything after runs on the daily frame, whose cardinality is
    the calendar span — a few thousand rows for a decade of 100 TB
    telemetry — so the 7-way lag expansion and self-join are
    broadcast-sized by construction. Exact integer daily counts feed
    the shared float fragment.
    """
    e = _t(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "event_type"
    )
    dr = e.groupBy("d").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    )
    bounds = e.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    daily = (
        spine.join(dr, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    # The 7-way lag fan-out is a generator, not a join: explode keeps
    # the expansion row-local, and the lagged self-join is then a
    # single broadcast HASH join on the shifted date (an equi key) —
    # no nested-loop cross join anywhere in the plan.
    a = daily.select(
        F.col("d").alias("da"),
        F.col("x"),
        F.explode(F.array(*[F.lit(i) for i in range(-3, 4)])).alias("lag"),
    )
    b = daily.select(F.col("d").alias("db"), F.col("y"))
    p = a.join(
        F.broadcast(b),
        F.col("db") == F.expr("date_add(da, CAST(lag AS INT))"),
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s_x"),
        F.sum("y").cast("bigint").alias("s_y"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s_xx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s_yy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("s_xy"),
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        F.expr(_XCORR_CORR).alias("corr_micro"),
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation — distributed exact average ranks
# ---------------------------------------------------------------------------

#: Bucket width for the x-side (price cents) rank prefix sum.
_RANK_BUCKET = 1 << 20


def _rank2_map_bounded(vals: DataFrame) -> DataFrame:
    """(val, cnt) -> (val, cnt, r2) where r2 = doubled average rank =
    2*cnt_less + cnt_eq + 1 (exact integer, tie-correct), for a
    DOMAIN-BOUNDED value histogram (the y side: l_quantity ∈ 1..50 at
    every scale factor) — one global-order window over the ≤50-row
    frame. :func:`two_phase_cumsum` would buy nothing here: one
    bucket covers the domain, so it would add two exchanges and a
    broadcast join of constant-zero offsets to this same window."""
    w = (
        Window.orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return vals.select(
        "val",
        "cnt",
        # cum = cnt_less + cnt_eq  =>  2*cum - cnt + 1 = 2*cnt_less + cnt_eq + 1
        (
            F.lit(2) * F.sum("cnt").over(w) - F.col("cnt") + F.lit(1)
        ).alias("r2"),
    )


# Pearson-on-doubled-ranks float tail (the 2x scale cancels), shared
# text with the oracle; inputs are exact DECIMAL(38,0)/BIGINT.
_SPEARMAN_TAIL = (
    "CAST(FLOOR((CAST(s_xy AS DOUBLE) - CAST(s_x AS DOUBLE) * s_y / n) / "
    "sqrt((CAST(s_xx AS DOUBLE) - CAST(s_x AS DOUBLE) * s_x / n) * "
    "(CAST(s_yy AS DOUBLE) - CAST(s_y AS DOUBLE) * s_y / n)) "
    "* 1000000) AS BIGINT) AS rho_micro"
)

_SPEARMAN_SUMS = (
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(r2x AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_x, "
    "CAST(SUM(CAST(r2y AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS s_y, "
    "CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2x) AS DECIMAL(38,0)) AS s_xx, "
    "CAST(SUM(CAST(r2y AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0)) AS s_yy, "
    "CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0)) AS s_xy"
)


@CAT.query(
    "stats_spearman_rank",
    oracle=f"""
    WITH d AS (
      SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS x,
             CAST(l_quantity AS BIGINT) AS y
      FROM lineitem),
    r AS (
      SELECT 2 * (RANK() OVER (ORDER BY x))
               + COUNT(*) OVER (PARTITION BY x) - 1 AS r2x,
             2 * (RANK() OVER (ORDER BY y))
               + COUNT(*) OVER (PARTITION BY y) - 1 AS r2y
      FROM d),
    s AS (SELECT {_SPEARMAN_SUMS} FROM r)
    SELECT n, {_SPEARMAN_TAIL} FROM s
    """,
)
def stats_spearman_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between extended price and quantity
    over lineitem, with exact tie-corrected average ranks — Pearson on
    doubled ranks (r2 = 2*cnt_less + cnt_eq + 1, kept integral so the
    rank maps are exact; the 2x scale cancels in the correlation).

    The monotone-association complement to ``stats_corr_matrix``'s
    Pearson: immune to the heavy right tail of prices.

    Scale shape: ranks need a GLOBAL order statistic per variable.
    The FACTORED sufficient statistics avoid ever joining two
    corpus-sized frames: S_y/S_yy come from the y-marginal alone
    (domain 1..50 — a broadcast/driver-sized map, its two scalars
    collected like the k-means centroid literals); S_x/S_xx/S_xy come
    from ONE groupBy(x) that carries both the count and t_x = Σ r2y
    over that x's rows (using S_xy = Σ_x r2x·t_x), with r2x computed
    by the bucketed two-phase prefix sum over the distinct-x frame.
    So the corpus is scanned from a narrow 16-byte/row cache twice
    (y-marginal, x-aggregation) and shuffles exactly once at
    corpus-key scale (the groupBy(x)); the earlier joint-histogram
    formulation shuffled n-sized frames three times when x was
    near-unique (at sf0.1 both shapes sit near the ~6-stage fixed
    floor, ≈2.7 s; the removed n-scale shuffles are what matter at
    100 TB, where x-key exchanges dominate stage overhead). Sums
    accumulate as DECIMAL(38,0): Σ r2x² ≈ 4n³/3 exceeds int64 past
    ~1.3e6 rows.
    """
    from csv_to_parquet_spark.operators.cache import persist_tracked

    d = persist_tracked(
        _t(spark, sf_dir, "lineitem").select(
            cents("l_extendedprice").alias("x"),
            F.col("l_quantity").cast("bigint").alias("y"),
        )
    )
    ymap = _rank2_map_bounded(
        d.groupBy(F.col("y").alias("val")).agg(F.count(F.lit(1)).alias("cnt"))
    )
    # one corpus-keyed shuffle: per distinct x, the row count, the sum
    # of that x's rows' doubled y-ranks (for S_xy = Σ r2x·t_x), AND the
    # sum of their squares. The y-marginal scalars ride this same
    # aggregation — S_y = Σ_rows r2y = Σ_x t_x and S_yy = Σ_x t2_x,
    # exact integer regroupings — so the r7–r12 eager driver collect of
    # (s_y, s_yy) and the second build of the ymap DAG it forced are
    # gone (r13, guide §5 driver / §2.4: the scaffold runs once, the
    # query is one plan with zero driver round-trips).
    xagg = (
        d.join(
            F.broadcast(
                ymap.select(F.col("val").alias("y"), F.col("r2").alias("r2y"))
            ),
            "y",
        )
        .groupBy("x")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.expr("CAST(SUM(CAST(r2y AS DECIMAL(38,0))) AS DECIMAL(38,0))")
            .alias("t_x"),
            F.expr(
                "CAST(SUM(CAST(r2y AS DECIMAL(38,0)) * r2y) AS DECIMAL(38,0))"
            ).alias("t2_x"),
        )
    )
    # two-phase doubled ranks over the distinct-x frame; t_x/t2_x pass
    # through the shared scaffold untouched
    xagg = xagg.withColumn("bucket", F.expr(f"x div {_RANK_BUCKET}"))
    xfull = two_phase_cumsum(xagg, ["cnt"], ["x"], ["bucket"]).withColumn(
        "r2x",
        F.lit(2) * F.col("cum_cnt") - F.col("cnt") + F.lit(1),
    )
    # DECIMAL(38,0) accumulation throughout: Σr2y² ≈ 4n³/3 tops int64
    # past ~1.3e6 rows (r7 review); 38 digits hold to n ≈ 10¹².
    s = xfull.groupBy().agg(
        F.expr("CAST(SUM(cnt) AS BIGINT)").alias("n"),
        F.expr(
            "CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * cnt) AS DECIMAL(38,0))"
        ).alias("s_x"),
        F.expr(
            "CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * r2x * cnt) AS DECIMAL(38,0))"
        ).alias("s_xx"),
        F.expr(
            "CAST(SUM(CAST(r2x AS DECIMAL(38,0)) * t_x) AS DECIMAL(38,0))"
        ).alias("s_xy"),
        F.expr("CAST(SUM(t_x) AS DECIMAL(38,0))").alias("s_y"),
        F.expr("CAST(SUM(t2_x) AS DECIMAL(38,0))").alias("s_yy"),
    )
    return s.selectExpr("n", _SPEARMAN_TAIL)


# ---------------------------------------------------------------------------
# Winsorized mean — exact distributed order statistics + clamp
# ---------------------------------------------------------------------------

#: Winsorization tail mass: clamp below the p-th and above the
#: (1-p)-th percentile, p = 1/_WINSOR_DEN.
_WINSOR_DEN = 20  # 5% / 95%


@CAT.query(
    "stats_winsorized_mean",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS val,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1),
    c AS (
      SELECT val, cnt,
             CAST(SUM(cnt) OVER (ORDER BY val) AS BIGINT) AS cum
      FROM v),
    t AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM v),
    b AS (
      SELECT n,
             (SELECT MIN(val) FROM c
              WHERE cum * {_WINSOR_DEN} >= (SELECT n FROM t)) AS p_lo,
             (SELECT MIN(val) FROM c
              WHERE cum * {_WINSOR_DEN} >= (SELECT n FROM t) * {_WINSOR_DEN - 1})
               AS p_hi
      FROM t)
    SELECT n, p_lo AS p05_cents, p_hi AS p95_cents,
           CAST((SELECT SUM(cnt * least(greatest(val, p_lo), p_hi)) FROM c)
                * 1000000 // n AS BIGINT) AS winsorized_mean_micro
    FROM b
    """,
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-winsorized mean of order totals (cents): exact p05/p95 order
    statistics (smallest value whose cumulative count reaches
    ceil(p·n), integer comparison ``cum*20 >= n`` — no float
    thresholds), then the mean with both tails clamped to them.
    Robust-location complement to ``stats_mad_outliers``.

    Scale shape: one corpus pass builds the (val, cnt) histogram; the
    cumulative uses the bucketed two-phase prefix sum. The two
    percentile boundaries are a 2-scalar driver collect (the same
    model-sized-collect pattern as the k-means centroid literals) —
    NOT a crossJoin — and the final clamp+sum is a second narrow pass
    over the persisted histogram, never the raw corpus.
    """
    vals = (
        _t(spark, sf_dir, "orders")
        .groupBy(cents("o_totalprice").alias("val"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from csv_to_parquet_spark.operators.cache import persist_tracked

    vals = persist_tracked(vals)
    cum = two_phase_cumsum(
        vals.withColumn("bucket", F.expr(f"val div {_KS_BUCKET}")),
        ["cnt"],
        ["val"],
        ["bucket"],
        totals=True,
    )
    bounds = cum.agg(
        F.max("n_cnt").alias("n"),
        F.min(
            F.when(
                F.col("cum_cnt") * _WINSOR_DEN >= F.col("n_cnt"), F.col("val")
            )
        ).alias("p_lo"),
        F.min(
            F.when(
                F.col("cum_cnt") * _WINSOR_DEN
                >= F.col("n_cnt") * (_WINSOR_DEN - 1),
                F.col("val"),
            )
        ).alias("p_hi"),
    ).collect()[0]
    n, p_lo, p_hi = int(bounds.n), int(bounds.p_lo), int(bounds.p_hi)
    return vals.agg(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(p_lo).cast("bigint").alias("p05_cents"),
        F.lit(p_hi).cast("bigint").alias("p95_cents"),
        # the clamped sum is ~2.3e18 already at sf0.1 (4x int64
        # headroom) — widen to DECIMAL(38,0) like the sibling
        # second-moment sums so sf0.5+ can't overflow (DuckDB's SUM
        # accumulates in HUGEINT on its side); Spark `div` on decimal
        # yields an exact BIGINT quotient (ADVICE r6).
        F.expr(
            f"CAST(SUM(CAST(cnt * least(greatest(val, {p_lo}), {p_hi}) "
            f"AS DECIMAL(38,0))) * 1000000 div {n} AS BIGINT)"
        ).alias("winsorized_mean_micro"),
    )


@CAT.query(
    "events_acf_daily",
    oracle=f"""
    WITH b AS (
      SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
      FROM events WHERE event_type = 'purchase'),
    sp AS (
      SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
                                         CAST(d1 AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS d
      FROM b),
    dr AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS y
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    daily AS (
      SELECT sp.d, COALESCE(dr.y, 0) AS y FROM sp LEFT JOIN dr USING (d)),
    l AS (SELECT CAST(unnest(range(0, 8)) AS BIGINT) AS lag),
    p AS (
      SELECT l.lag, a.y AS x, b2.y AS y
      FROM daily a
      CROSS JOIN l
      JOIN daily b2 ON b2.d = a.d + CAST(l.lag AS INTEGER)),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s_x, CAST(SUM(y) AS BIGINT) AS s_y,
             CAST(SUM(x * x) AS BIGINT) AS s_xx,
             CAST(SUM(y * y) AS BIGINT) AS s_yy,
             CAST(SUM(x * y) AS BIGINT) AS s_xy
      FROM p GROUP BY lag)
    SELECT lag, n AS n_days, {_XCORR_CORR} AS corr_micro
    FROM s
    """,
)
def events_acf_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily purchase-count series at
    lags 0..7 (lag 0 ≡ 1.0 as a built-in sanity row; the weekly lag-7
    spike is the signature of day-of-week seasonality, which
    ``orders_seasonal_decompose`` then factors out).

    Same machinery as ``events_lag_xcorr`` with both sides the SAME
    series: one corpus-touching date-keyed count, a zero-filled spine,
    an explode-generated lag fan-out (a generator, not a join), and a
    broadcast hash self-join on the shifted date. Pearson over exact
    integer daily counts; shared float fragment with the oracle.
    """
    e = _t(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(F.to_date("ts").alias("d"))
    dr = e.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    bounds = e.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    daily = spine.join(dr, "d", "left").select(
        "d", F.coalesce("y", F.lit(0)).alias("y")
    )
    a = daily.select(
        F.col("d").alias("da"),
        F.col("y").alias("x"),
        F.explode(F.array(*[F.lit(i) for i in range(0, 8)])).alias("lag"),
    )
    b = daily.select(F.col("d").alias("db"), F.col("y").alias("y"))
    p = a.join(
        F.broadcast(b),
        F.col("db") == F.expr("date_add(da, CAST(lag AS INT))"),
    )
    s = p.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s_x"),
        F.sum("y").cast("bigint").alias("s_y"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("s_xx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s_yy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("s_xy"),
    )
    return s.select(
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_days"),
        F.expr(_XCORR_CORR).alias("corr_micro"),
    )


# ---------------------------------------------------------------------------
# Huber M-estimator of location — all-integer IRLS
# ---------------------------------------------------------------------------

#: Huber tuning constant (cents): residuals beyond this are
#: down-weighted hyperbolically. Fixed (not MAD-derived) so every
#: iteration is a pure function of the data and the constant.
_HUBER_K = 2_000_000  # $20k
#: Weight quantization: w = min(Q, K*Q div |x-m|) keeps IRLS in exact
#: integers (the float w = min(1, K/|x-m|) scaled by Q and floored).
_HUBER_Q = 10_000
_HUBER_ITERS = 3


@CAT.query(
    "stats_huber_location",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x FROM orders),
    a0 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) // COUNT(*) AS BIGINT) AS m FROM v),
    i1 AS (
      SELECT CAST(CAST(SUM(w * x) AS BIGINT)
                  // CAST(SUM(w) AS BIGINT) AS BIGINT) AS m
      FROM (SELECT x, least({_HUBER_Q},
                     {_HUBER_K * _HUBER_Q}
                       // greatest(abs(x - (SELECT m FROM a0)), 1)) AS w
            FROM v)),
    i2 AS (
      SELECT CAST(CAST(SUM(w * x) AS BIGINT)
                  // CAST(SUM(w) AS BIGINT) AS BIGINT) AS m
      FROM (SELECT x, least({_HUBER_Q},
                     {_HUBER_K * _HUBER_Q}
                       // greatest(abs(x - (SELECT m FROM i1)), 1)) AS w
            FROM v)),
    i3 AS (
      SELECT CAST(CAST(SUM(w * x) AS BIGINT)
                  // CAST(SUM(w) AS BIGINT) AS BIGINT) AS m
      FROM (SELECT x, least({_HUBER_Q},
                     {_HUBER_K * _HUBER_Q}
                       // greatest(abs(x - (SELECT m FROM i2)), 1)) AS w
            FROM v))
    SELECT a0.n,
           a0.m AS mean_cents,
           (SELECT m FROM i1) AS huber_iter1_cents,
           (SELECT m FROM i2) AS huber_iter2_cents,
           (SELECT m FROM i3) AS huber_cents
    FROM a0
    """,
)
def stats_huber_location(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of the order-total location via IRLS kept
    ENTIRELY in integers: weights w = min(1, K/|x−m|) are quantized to
    w_q = min(Q, K·Q div |x−m|) and each iterate is the exact integer
    division (Σ w_q·x) div (Σ w_q) — so three unrolled iterations are
    bit-identical across engines with NO float accumulation anywhere
    (a float IRLS would hash-diverge on summation order). The robust
    mean between the plain mean and the median: outliers beyond K
    cents get hyperbolically shrinking weight instead of the mean's
    full leverage or the median's zero gradient.

    Scale shape: each iteration is one map-side-combined aggregate
    over the persisted narrow column with the previous iterate as a
    LITERAL (the k-means centroid-literal pattern; scalars collected
    driver-side are model-sized). Fixed iteration count — IRLS on a
    convex loss contracts fast and a data-dependent stop would make
    the plan nondeterministic. Weight products stay within
    int64 through ~1.5e7 rows (w·x ≈ 6e11/row); past that, widen the
    sums — but NOT via DECIMAL `//`, which DuckDB routes through
    double and floors one ulp differently (measured off-by-one at
    iteration 2); HUGEINT casts keep the division integral there.
    """
    from csv_to_parquet_spark.operators.cache import persist_tracked

    vals = persist_tracked(
        _t(spark, sf_dir, "orders").select(cents("o_totalprice").alias("x"))
    )
    first = vals.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("CAST(SUM(x) div COUNT(*) AS BIGINT)").alias("m"),
    ).collect()[0]
    n, m = int(first.n), int(first.m)
    iters = []
    for _ in range(_HUBER_ITERS):
        w = (
            f"least({_HUBER_Q}, {_HUBER_K * _HUBER_Q}"
            f" div greatest(abs(x - {m}), 1))"
        )
        m = int(
            vals.agg(
                F.expr(
                    f"CAST(CAST(SUM(({w}) * x) AS BIGINT)"
                    f" div CAST(SUM({w}) AS BIGINT) AS BIGINT)"
                ).alias("m")
            ).collect()[0].m
        )
        iters.append(m)
    return vals.limit(1).select(
        F.lit(n).cast("bigint").alias("n"),
        F.lit(int(first.m)).cast("bigint").alias("mean_cents"),
        F.lit(iters[0]).cast("bigint").alias("huber_iter1_cents"),
        F.lit(iters[1]).cast("bigint").alias("huber_iter2_cents"),
        F.lit(iters[2]).cast("bigint").alias("huber_cents"),
    )
