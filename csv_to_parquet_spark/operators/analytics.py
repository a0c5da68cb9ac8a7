"""Event-analytics operators: funnel, retention cohorts, RFM segments.

The reference has no event analytics at all (it is a file converter —
converter/converter.go:66-420); these extend the SURVEY §7 M3/M5
surface with the product-analytics shapes a training-data/telemetry
pipeline runs over an append-only event log: step-funnel conversion,
weekly retention cohorts, and RFM (recency/frequency/monetary)
segmentation over the ``events`` table.

Scale posture: every query shuffles exactly once on ``user_id`` (the
natural partition key of an event log) and derives everything else
from window/aggregate expressions over that one exchange — consecutive
``Window.partitionBy("user_id")`` frames and the final
``groupBy("user_id")`` all reuse the same hash partitioning, so adding
funnel steps adds zero shuffles. Post-aggregation tables (one row per
user / per cohort-week) are orders of magnitude smaller than the log;
the only windows over them partition by cohort-week. RFM scores use
fixed threshold bands, not global quantiles — a deliberate scale
choice: exact ntile() needs a single-partition global sort, while
threshold bands are a narrow map and are how production RFM is
actually configured (stable, interpretable band edges).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from csv_to_parquet_spark.functions import cents, cents_sql, two_phase_cumsum
from csv_to_parquet_spark.operators import Catalog
from csv_to_parquet_spark.operators.cache import persist_tracked
from csv_to_parquet_spark.sources.tables import load_table

CAT = Catalog()


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


@CAT.query(
    "events_funnel_steps",
    oracle="""
    WITH s1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id),
    s2 AS (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
                      THEN e.ts END) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
                      THEN e.ts END) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      GROUP BY e.user_id),
    c AS (
      SELECT CAST(count(t_view) AS BIGINT) AS n_view,
             CAST(count(t_click) AS BIGINT) AS n_click,
             CAST(count(t_purchase) AS BIGINT) AS n_purch
      FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
    SELECT step, n_users,
           CASE WHEN n_view > 0
                THEN round(CAST(n_users AS DOUBLE) / n_view, 6) END
             AS pct_of_first
    FROM (
      SELECT 'view' AS step, n_view AS n_users, n_view FROM c
      UNION ALL SELECT 'click_after_view', n_click, n_view FROM c
      UNION ALL SELECT 'purchase_after_click', n_purch, n_view FROM c)
    """,
)
def events_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered step-funnel conversion: users who viewed, then clicked
    strictly after their first view, then purchased strictly after that
    first qualifying click.

    The cascade is three window aggregates over the SAME
    ``partitionBy(user_id)`` frame — each step's anchor time feeds the
    next step's conditional min — so the whole funnel costs one hash
    exchange of (user_id, event_type, ts) regardless of step count.
    The oracle expresses the identical cascade as three grouped
    conditional-min CTEs (a window referencing a prior window's result
    needs re-aggregation in plain SQL; the semantics are the same:
    NULL anchors propagate, so a user missing step k never counts for
    step k+1).
    """
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    d = d.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    d = d.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    users = d.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    counts = users.agg(
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purch"),
    )
    steps = counts.select(
        F.expr(
            "stack(3, 'view', n_view, 'click_after_view', n_click, "
            "'purchase_after_click', n_purch) AS (step, n_users)"
        ),
        F.col("n_view"),
    )
    return steps.select(
        "step",
        "n_users",
        F.when(
            F.col("n_view") > 0,
            F.round(F.col("n_users").cast("double") / F.col("n_view"), 6),
        ).alias("pct_of_first"),
    )


@CAT.query(
    "events_retention_cohort",
    oracle="""
    WITH f AS (
      SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
    a AS (
      SELECT CAST(date_trunc('week', f.first_ts) AS TIMESTAMP) AS cohort_week,
             CAST(date_diff('day', CAST(f.first_ts AS DATE),
                            CAST(e.ts AS DATE)) // 7 AS BIGINT) AS week_offset,
             e.user_id
      FROM events e JOIN f ON e.user_id = f.user_id),
    g AS (
      SELECT cohort_week, week_offset,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
      FROM a GROUP BY cohort_week, week_offset)
    SELECT cohort_week, week_offset, n_active,
           round(CAST(n_active AS DOUBLE) /
                 max(CASE WHEN week_offset = 0 THEN n_active END)
                   OVER (PARTITION BY cohort_week), 6) AS retention
    FROM g
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the ISO week of their
    first event; for each (cohort_week, weeks-since-first) cell, the
    distinct active users and the retention ratio vs the cohort's
    week-0 size.

    One exchange on user_id computes first-event times (window min);
    the distinct-user count re-uses that partitioning (user_id stays a
    grouping key through the distinct). The retention ratio is a
    window over the *aggregated* cohort grid — rows = weeks², trivial
    at any scale. Week-0 always exists (a user's first event is offset
    0 by construction) and is the cohort max, so the ratio denominator
    is never NULL/zero — no ANSI division guard needed, in either
    engine.
    """
    e = _events(spark, sf_dir).select("user_id", "ts")
    w = Window.partitionBy("user_id")
    d = e.withColumn("first_ts", F.min("ts").over(w))
    grid = (
        d.select(
            F.date_trunc("week", "first_ts").cast("timestamp_ntz").alias(
                "cohort_week"
            ),
            F.expr(
                "CAST(datediff(CAST(ts AS DATE), CAST(first_ts AS DATE)) div 7 "
                "AS BIGINT)"
            ).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    wc = Window.partitionBy("cohort_week")
    week0 = F.max(
        F.when(F.col("week_offset") == 0, F.col("n_active"))
    ).over(wc)
    return grid.select(
        "cohort_week",
        "week_offset",
        "n_active",
        F.round(F.col("n_active").cast("double") / week0, 6).alias("retention"),
    )


# Fixed RFM band edges (days / events / cents). Threshold bands instead
# of quantiles: exact global ntile() would funnel the per-user table
# through a single-partition sort; bands are a narrow map and match how
# production RFM is configured. Values are arbitrary but fixed — the
# oracle runs the identical CASE ladder.
_R_BANDS = (2, 5, 10)  # recency_days <= x → score 4/3/2, else 1
_F_BANDS = (100, 50, 20)  # frequency >= x → score 4/3/2, else 1
_M_BANDS = (200_000, 100_000, 30_000)  # monetary_cents >= x → 4/3/2, else 1


def _band_desc(col: str, bands: tuple[int, int, int], le: bool) -> str:
    op = "<=" if le else ">="
    return (
        f"CASE WHEN {col} {op} {bands[0]} THEN 4 "
        f"WHEN {col} {op} {bands[1]} THEN 3 "
        f"WHEN {col} {op} {bands[2]} THEN 2 ELSE 1 END"
    )


@CAT.query(
    "events_user_rfm",
    oracle=f"""
    WITH anchor AS (SELECT max(ts) AS anchor_ts FROM events),
    u AS (
      SELECT user_id, max(ts) AS last_ts,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN {cents_sql("value")} ELSE 0 END) AS BIGINT)
               AS monetary_cents
      FROM events GROUP BY user_id),
    m AS (
      SELECT user_id,
             CAST(date_diff('day', CAST(last_ts AS DATE),
                            CAST(anchor_ts AS DATE)) AS BIGINT) AS recency_days,
             frequency, monetary_cents
      FROM u, anchor)
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST({_band_desc("recency_days", _R_BANDS, le=True)} AS BIGINT)
             AS r_score,
           CAST({_band_desc("frequency", _F_BANDS, le=False)} AS BIGINT)
             AS f_score,
           CAST({_band_desc("monetary_cents", _M_BANDS, le=False)} AS BIGINT)
             AS m_score,
           CAST({_band_desc("recency_days", _R_BANDS, le=True)} AS VARCHAR) ||
           CAST({_band_desc("frequency", _F_BANDS, le=False)} AS VARCHAR) ||
           CAST({_band_desc("monetary_cents", _M_BANDS, le=False)} AS VARCHAR)
             AS segment
    FROM m
    """,
)
def events_user_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-user recency (days since last event,
    anchored at the corpus max timestamp so the result is
    deterministic), frequency (event count), monetary (purchase value
    in exact integer cents), scored into fixed 1-4 bands and a
    three-digit segment label.

    One groupBy(user_id) exchange; the 1-row anchor aggregate is
    broadcast cross-joined (the repo's scalar-subquery idiom). Scores
    are pure CASE ladders — no second pass, no global sort. Monetary
    uses integer cents so the sum is exact in any accumulation order;
    the oracle casts its SUM back to BIGINT (DuckDB widens to
    HUGEINT).
    """

    def band(col: str, bands: tuple[int, int, int], le: bool) -> F.Column:
        cmp = (
            (lambda t: F.col(col) <= t) if le else (lambda t: F.col(col) >= t)
        )
        return (
            F.when(cmp(bands[0]), 4)
            .when(cmp(bands[1]), 3)
            .when(cmp(bands[2]), 2)
            .otherwise(1)
            .cast("bigint")
        )

    e = _events(spark, sf_dir).select("user_id", "event_type", "ts", "value")
    anchor = e.agg(F.max("ts").alias("anchor_ts"))
    per_user = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").alias("frequency"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
        ).alias("monetary_cents"),
    )
    m = per_user.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        F.datediff(F.col("anchor_ts").cast("date"), F.col("last_ts").cast("date"))
        .cast("bigint")
        .alias("recency_days"),
        "frequency",
        "monetary_cents",
    )
    r_s = band("recency_days", _R_BANDS, le=True)
    f_s = band("frequency", _F_BANDS, le=False)
    m_s = band("monetary_cents", _M_BANDS, le=False)
    return m.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        r_s.alias("r_score"),
        f_s.alias("f_score"),
        m_s.alias("m_score"),
        F.concat(
            r_s.cast("string"), f_s.cast("string"), m_s.cast("string")
        ).alias("segment"),
    )


#: Trailing time-range window width (µs) for the RANGE-frame query.
_TRAIL_US = 3_600_000_000  # 1 hour


@CAT.query(
    "window_time_range_sum",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(SUM({cents_sql("value")}) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trail_1h_cents,
           CAST(COUNT(*) OVER (
                 PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_TRAIL_US} PRECEDING AND CURRENT ROW)
             AS BIGINT) AS trail_1h_events
    FROM events
    """,
)
def window_time_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing time-window aggregate per event: each event's sum of
    values and event count over the PRECEDING HOUR of the same user's
    activity — a RANGE window frame keyed on event time (microsecond
    epoch), the per-row sibling of the tumbling/sliding aggregations
    in the streaming suite and the shape behind rate-limit / rolling-
    exposure features.

    RANGE (not ROWS) semantics: the frame is defined by time distance,
    so simultaneous events are peers and an idle gap empties the
    frame. One user_id exchange; the in-partition time sort is the
    window's own requirement. Sums are exact integer cents; the frame
    bound is exact integer microseconds — identical peer/boundary
    decisions in both engines.
    """
    e = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    # ntz → timestamp is instant-exact here: the session timezone is
    # pinned UTC (ensure_session_confs), matching DuckDB's epoch_us
    # over its naive TIMESTAMP.
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-_TRAIL_US, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents("value")).over(w).alias("trail_1h_cents"),
        F.count(F.lit(1)).over(w).alias("trail_1h_events"),
    )


@CAT.query(
    "events_time_rollup",
    oracle=f"""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
           CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
           CAST(GROUPING(CAST(date_trunc('day', ts) AS TIMESTAMP),
                         CAST(date_trunc('hour', ts) AS TIMESTAMP))
             AS BIGINT) AS grain,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({cents_sql("value")}) AS BIGINT) AS value_cents
    FROM events
    GROUP BY GROUPING SETS (
      (CAST(date_trunc('day', ts) AS TIMESTAMP),
       CAST(date_trunc('hour', ts) AS TIMESTAMP)),
      (CAST(date_trunc('day', ts) AS TIMESTAMP)),
      ())
    """,
)
def events_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-granularity rollup: hourly cells, daily
    rollups, and the grand total in ONE pass over the event log —
    Spark's Expand operator materializes the grouping sets so the
    scan runs once, which is exactly the continuous-aggregate
    hierarchy a time-series store maintains (hour → day → total).
    ``grain`` (grouping_id) tags each row's level so downstream
    readers can route to the right granularity.

    One Expand (3× row multiplier on the aggregation input, collapsed
    map-side by partial aggregation into at most
    hours+days+1 groups) + one exchange on the composite key. Sums
    are exact integer cents.
    """
    e = _events(spark, sf_dir).select(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day_start"),
        F.date_trunc("hour", "ts").cast("timestamp_ntz").alias("hour_start"),
        cents("value").alias("v_cents"),
    )
    return (
        e.groupingSets(
            [["day_start", "hour_start"], ["day_start"], []],
            "day_start",
            "hour_start",
        )
        .agg(
            F.grouping_id().cast("bigint").alias("grain"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("v_cents").alias("value_cents"),
        )
    )


@CAT.query(
    "events_transition_matrix",
    oracle="""
    WITH t AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events)
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(count(*) AS BIGINT) AS n_trans,
           round(CAST(count(*) AS DOUBLE) /
                 SUM(count(*)) OVER (PARTITION BY prev_type), 6) AS prob
    FROM t WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every (from, to) event-type pair, the transition
    count and row-normalized probability.

    One user_id exchange for the lag window (ordered by (ts, event_id)
    — the unique tiebreaker keeps simultaneous events deterministic),
    then one groupBy over the 5×5 pair space with map-side partial
    aggregation; the row-normalizing window runs over ≤|types|² rows.
    Probabilities divide exact BIGINT counts, rounded to 6 — the only
    doubles in the query."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = (
        e.withColumn("from_type", F.lag("event_type").over(w))
        .filter(F.col("from_type").isNotNull())
        .groupBy("from_type", F.col("event_type").alias("to_type"))
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    wf = Window.partitionBy("from_type")
    return d.select(
        "from_type",
        "to_type",
        "n_trans",
        F.round(
            F.col("n_trans").cast("double") / F.sum("n_trans").over(wf), 6
        ).alias("prob"),
    )


@CAT.query(
    "events_gapfill_locf",
    oracle=f"""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1
      FROM events),
    days AS (
      SELECT CAST(unnest(range(d0, d1 + INTERVAL 1 DAY,
                               INTERVAL 1 DAY)) AS TIMESTAMP) AS day
      FROM b),
    u AS (SELECT DISTINCT user_id FROM events),
    daily AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(max({cents_sql("value")}) AS BIGINT) AS day_max_cents
      FROM events GROUP BY 1, 2)
    SELECT u.user_id, days.day, daily.day_max_cents,
           LAST_VALUE(daily.day_max_cents IGNORE NULLS) OVER (
             PARTITION BY u.user_id ORDER BY days.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS locf_cents
    FROM u CROSS JOIN days
    LEFT JOIN daily ON daily.user_id = u.user_id AND daily.day = days.day
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward:
    a dense (user × day) spine over the observed date range, left-
    joined to each user's daily max value, with gaps filled by the
    most recent prior observation (NULL until a user's first one).

    The fact table is aggregated to (user, day) FIRST — at 100 TB the
    map-side partial max collapses the log to |users|×|days| rows
    before any join. The day spine derives from a 1-row min/max
    aggregate (broadcast), so the spine build is |users| × |days| with
    no fact-scale shuffle; the LOCF window re-uses the spine's user_id
    partitioning. Values are exact integer cents."""
    e = _events(spark, sf_dir).select(
        "user_id",
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
        cents("value").alias("v"),
    )
    bounds = e.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    days = bounds.select(
        F.explode(
            F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    users = e.select("user_id").distinct()
    daily = e.groupBy("user_id", "day").agg(F.max("v").alias("day_max_cents"))
    spine = users.crossJoin(F.broadcast(days))
    j = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return j.select(
        "user_id",
        "day",
        "day_max_cents",
        F.last("day_max_cents", ignorenulls=True).over(w).alias("locf_cents"),
    )


@CAT.query(
    "stats_mad_outliers",
    oracle=f"""
    WITH v AS (
      SELECT event_type, {cents_sql("value")} AS x FROM events),
    med AS (
      SELECT event_type, CAST(median(x) AS DOUBLE) AS median_cents
      FROM v GROUP BY event_type),
    dev AS (
      SELECT v.event_type, abs(v.x - med.median_cents) AS d, med.median_cents
      FROM v JOIN med USING (event_type)),
    mad AS (
      SELECT event_type, CAST(median(d) AS DOUBLE) AS mad_cents
      FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           CAST(count(*) AS BIGINT) AS n,
           max(dev.median_cents) AS median_cents,
           max(mad.mad_cents) AS mad_cents,
           CAST(SUM(CASE WHEN dev.d > 3 * mad.mad_cents THEN 1 ELSE 0 END)
             AS BIGINT) AS n_outliers
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type
    """,
)
def stats_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier profile per event type: exact median, median
    absolute deviation (MAD), and the count of events farther than
    3×MAD from the median.

    MAD is inherently two-pass (the deviation needs the median); each
    pass is one groupBy(event_type) with the ≤|types|-row result
    broadcast back — the fact table is scanned twice but never
    shuffled beyond the two grouped medians. All arithmetic is exact:
    cents are integers, medians of integers are .0/.5 halves (exact in
    double), deviations and 3×MAD comparisons are exact double ops —
    identical in both engines with no rounding needed. Exact per-group
    median is Spark's sort-based `median`; at open-ended group
    cardinality the drop-in scale fallback is `approx_percentile`
    (same shape, bounded state)."""
    v = _events(spark, sf_dir).select("event_type", cents("value").alias("x"))
    med = v.groupBy("event_type").agg(
        F.median("x").cast("double").alias("median_cents")
    )
    dev = v.join(F.broadcast(med), "event_type").select(
        "event_type",
        "median_cents",
        F.abs(F.col("x") - F.col("median_cents")).alias("d"),
    )
    mad = dev.groupBy("event_type").agg(
        F.median("d").cast("double").alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max("median_cents").alias("median_cents"),
            F.max("mad_cents").alias("mad_cents"),
            F.sum(
                F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


@CAT.query(
    "corr_exact_value_k",
    oracle=f"""
    WITH v AS (
      SELECT event_type, {cents_sql("value")} AS x,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS y
      FROM events
      WHERE json_extract_string(props, '$.k') IS NOT NULL),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy,
             CAST(SUM(x*y) AS BIGINT) AS sxy
      FROM v GROUP BY event_type)
    SELECT event_type, n,
           round(CASE WHEN (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                           (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy) > 0
                 THEN (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
                      sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
                           (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy))
                 END, 6) AS corr_xy
    FROM s
    """,
)
def corr_exact_value_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation computed from exact integer moment
    sums — between event value (cents) and the JSON `k` property.

    The five moment sums accumulate EXACTLY in any partition order —
    the reason not to use the built-in `corr`, whose running double
    state is accumulation-order-dependent and would hash-differ from
    DuckDB's; only the final per-group scalar combine switches to
    double, where both engines execute the identical IEEE expression
    tree. Zero-variance groups yield NULL (guarded — ANSI mode would
    otherwise throw on the sqrt-of-zero division). One
    groupBy(event_type) exchange with map-side partials. Overflow
    budget: each PRODUCT fits BIGINT (|x|≤10⁵ cents, |y|≤10² ⇒
    x² ≤ 10¹⁰), but the second-moment SUMS do not at scale
    (Σx² overflows 2⁶³ past ~9×10⁸ rows per group), so sxx/syy/sxy
    accumulate as decimal(38,0) — exact and order-independent like
    integer sums, with headroom to ~10²⁸ rows per group; DuckDB's
    HUGEINT promotion is the same widening, and both engines' final
    cast-to-double of the identical integer value rounds identically.
    Σx/Σy stay BIGINT (≤10⁵·rows — safe past 10¹³ rows/group)."""
    e = _events(spark, sf_dir).select(
        "event_type",
        cents("value").alias("x"),
        F.get_json_object("props", "$.k").cast("bigint").alias("y"),
    ).filter(F.col("y").isNotNull())
    dec = "decimal(38,0)"
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    vy = nd * F.col("syy") - F.col("sy").cast("double") * F.col("sy")
    cov = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    return s.select(
        "event_type",
        "n",
        F.round(
            F.when(vx * vy > 0, cov / F.sqrt(vx * vy)), 6
        ).alias("corr_xy"),
    )


#: Interval width (minutes) assigned to each event for the sweep-line
#: concurrency query.
_CONC_MINUTES = 5


@CAT.query(
    "events_peak_concurrency",
    oracle=f"""
    WITH b AS (
      SELECT CAST(ts AS TIMESTAMP) AS t, 1 AS d FROM events
      UNION ALL
      SELECT CAST(ts + INTERVAL {_CONC_MINUTES} MINUTE AS TIMESTAMP), -1
      FROM events),
    c AS (
      SELECT CAST(date_trunc('day', t) AS TIMESTAMP) AS day,
             SUM(d) OVER (PARTITION BY CAST(date_trunc('day', t) AS TIMESTAMP)
                          ORDER BY t, d) AS run
      FROM b)
    SELECT day, CAST(max(run) AS BIGINT) AS peak_concurrent
    FROM c GROUP BY day
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day via the sweep-line technique: each
    event holds a resource for 5 minutes; its interval contributes a
    +1 boundary at start and a −1 at end, and the daily peak is the
    max of the running boundary sum — the classic
    max-overlapping-intervals shape (concurrent sessions, connection
    pools, GPU occupancy) that needs no interval self-join.

    Boundaries double the row count (narrow union, no shuffle), then
    ONE window sort per day partition — the sweep is embarrassingly
    parallel across days, so at 100 TB the sort is bounded by a single
    day's volume, not the corpus. Ordering (t, d) puts −1 before +1 at
    equal timestamps (half-open intervals: a handoff at the same
    instant never double-counts), and the default RANGE window frame
    makes timestamp ties peers in BOTH engines — every tie group sees
    the same post-group running value, so the max is
    tie-order-independent. Counter resets per day by construction
    (documented semantics: a day's peak counts intervals *starting or
    still open from boundaries within that day's partition*)."""
    e = _events(spark, sf_dir).select("ts")
    starts = e.select(
        F.col("ts").cast("timestamp").alias("t"), F.lit(1).alias("d")
    )
    ends = e.select(
        (F.col("ts") + F.expr(f"INTERVAL {_CONC_MINUTES} MINUTES"))
        .cast("timestamp")
        .alias("t"),
        F.lit(-1).alias("d"),
    )
    b = starts.unionAll(ends).withColumn(
        "day", F.date_trunc("day", "t").cast("timestamp_ntz")
    )
    w = Window.partitionBy("day").orderBy("t", "d")
    run = b.withColumn("run", F.sum("d").over(w))
    return run.groupBy("day").agg(
        F.max("run").cast("bigint").alias("peak_concurrent")
    )


@CAT.query(
    "events_rolling_wau",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
      FROM events),
    b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud),
    x AS (
      SELECT user_id,
             CAST(unnest(range(day, day + INTERVAL 7 DAY,
                               INTERVAL 1 DAY)) AS TIMESTAMP) AS report_day
      FROM ud)
    SELECT report_day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
    FROM x, b WHERE report_day BETWEEN b.d0 AND b.d1
    GROUP BY report_day
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) per day — the trailing-window
    DISTINCT that a plain window frame cannot express (distinct
    aggregates are not frame-mergeable).

    The scale trick: dedupe the log to (user, day) FIRST (map-side
    partial distinct collapses 100 TB to |users|×|days| rows), then
    each user-day contributes itself to the 7 report days it is
    visible from — a bounded ×7 explode — and one groupBy(report_day)
    counts distinct users. Fan-out is window/granularity (7), never
    row count; the alternative day×log range self-join re-scans the
    fact table per day. Report days clamp to the observed range via a
    1-row broadcast bounds join."""
    e = _events(spark, sf_dir).select(
        "user_id",
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("day"),
    )
    ud = e.distinct()
    bounds = e.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    x = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                "day",
                F.col("day") + F.expr("INTERVAL 6 DAYS"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("report_day"),
    )
    return (
        x.crossJoin(F.broadcast(bounds))
        .filter(F.col("report_day").between(F.col("d0"), F.col("d1")))
        .groupBy("report_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )


@CAT.query(
    "events_time_weighted_avg",
    oracle=f"""
    WITH t AS (
      SELECT user_id, {cents_sql("value")} AS cents,
             epoch_us(ts) AS us,
             lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_us
      FROM events),
    d AS (
      SELECT user_id, cents, (next_us - us) // 1000000 AS dt_s
      FROM t WHERE next_us IS NOT NULL)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_intervals,
           CAST(SUM(dt_s) AS BIGINT) AS total_s,
           round(CASE WHEN SUM(dt_s) > 0
                 THEN CAST(SUM(cents * dt_s) AS DOUBLE) / SUM(dt_s) END, 6)
             AS twa_cents
    FROM d GROUP BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each event's value is
    held until the user's next event, and the mean weights by that
    holding duration (whole seconds) — the correct average for
    sampled-on-change signals (balances, gauge metrics, prices), where
    the arithmetic mean over-weights bursts.

    One user_id exchange for the lead window ((ts, event_id) tiebreak),
    then a groupBy on the same partitioning. All-integer weights:
    cents × whole-second durations summed as BIGINT (exact in any
    order; bounded — 10⁵ cents × month-long gaps × millions of events
    stays under 2⁶³), one double division at the end, zero-duration
    users guarded to NULL identically in both engines."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_id", "ts", cents("value").alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    d = (
        e.select(
            "user_id",
            "cents",
            us.alias("us"),
            F.lead(us).over(w).alias("next_us"),
        )
        .filter(F.col("next_us").isNotNull())
        .select(
            "user_id",
            "cents",
            F.expr("(next_us - us) div 1000000").alias("dt_s"),
        )
    )
    s_dt = F.sum("dt_s")
    return d.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_intervals"),
        s_dt.cast("bigint").alias("total_s"),
        F.round(
            F.when(
                s_dt > 0,
                F.sum(F.col("cents") * F.col("dt_s")).cast("double") / s_dt,
            ),
            6,
        ).alias("twa_cents"),
    )


@CAT.query(
    "events_conversion_latency",
    oracle="""
    WITH s1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id),
    s2 AS (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts > s1.t_view
                      THEN e.ts END) AS t_conv
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      GROUP BY e.user_id),
    lat AS (
      SELECT s1.user_id,
             (epoch_us(s2.t_conv) - epoch_us(s1.t_view)) // 1000000
               AS latency_s
      FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      WHERE s2.t_conv IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_converted,
           CAST(min(latency_s) AS BIGINT) AS min_s,
           CAST(median(latency_s) AS DOUBLE) AS median_s,
           CAST(max(latency_s) AS BIGINT) AS max_s
    FROM lat
    """,
)
def events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile: whole seconds from each user's first
    view to their first purchase strictly after it, summarized as
    count / min / exact median / max — the companion metric to the
    step funnel (how long conversion takes, not just how often).

    Same one-exchange window cascade as ``events_funnel_steps`` (the
    purchase anchor conditions on the view anchor over the same
    ``partitionBy(user_id)`` frame), then a driver-size summary over
    one row per converting user. Latencies are exact integer seconds;
    the median's half-values are exact in double."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    w = Window.partitionBy("user_id")
    d = e.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    ).withColumn(
        "t_conv",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    lat = (
        d.groupBy("user_id")
        .agg(F.max("t_view").alias("t_view"), F.max("t_conv").alias("t_conv"))
        .filter(F.col("t_conv").isNotNull())
        .select(
            F.expr(
                "(unix_micros(CAST(t_conv AS TIMESTAMP)) - "
                "unix_micros(CAST(t_view AS TIMESTAMP))) div 1000000"
            ).alias("latency_s")
        )
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("latency_s").cast("bigint").alias("min_s"),
        F.median("latency_s").cast("double").alias("median_s"),
        F.max("latency_s").cast("bigint").alias("max_s"),
    )


@CAT.query(
    "events_audience_overlap",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    sizes AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_aud
      FROM ut GROUP BY event_type),
    p AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(*) AS BIGINT) AS n_both
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY type_a, type_b)
    SELECT p.type_a, p.type_b, p.n_both,
           sa.n_aud AS n_a, sb.n_aud AS n_b,
           round(CAST(p.n_both AS DOUBLE) /
                 (sa.n_aud + sb.n_aud - p.n_both), 6) AS jaccard
    FROM p
    JOIN sizes sa ON sa.event_type = p.type_a
    JOIN sizes sb ON sb.event_type = p.type_b
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every pair of event types, the
    users common to both audiences and the Jaccard overlap — the
    segment-intersection report behind audience planning and feature
    co-occurrence analysis.

    The log collapses to distinct (user, type) FIRST (map-side partial
    distinct); the pair join fans out per user bounded by |types|²
    (not row count); audience sizes are a ≤|types|-row broadcast. All
    counts exact BIGINTs, one rounded division."""
    ut = _events(spark, sf_dir).select("user_id", "event_type").distinct()
    sizes = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_aud"))
    b = ut.select(
        F.col("user_id").alias("u2"), F.col("event_type").alias("type_b")
    )
    p = (
        ut.join(
            b,
            (ut.user_id == b.u2) & (ut.event_type < b.type_b),
        )
        .groupBy(F.col("event_type").alias("type_a"), "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = sizes.select(
        F.col("event_type").alias("type_a"), F.col("n_aud").alias("n_a")
    )
    sb = sizes.select(
        F.col("event_type").alias("type_b"), F.col("n_aud").alias("n_b")
    )
    return (
        p.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.col("n_both").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_both")),
                6,
            ).alias("jaccard"),
        )
    )


@CAT.query(
    "orders_cohort_ltv",
    oracle="""
    WITH f AS (
      SELECT o_custkey, min(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey),
    cs AS (
      SELECT CAST(date_trunc('month', first_dt) AS TIMESTAMP) AS cohort_month,
             CAST(count(*) AS BIGINT) AS n_customers
      FROM f GROUP BY 1),
    a AS (
      SELECT CAST(date_trunc('month', f.first_dt) AS TIMESTAMP) AS cohort_month,
             CAST((year(o.o_orderdate) * 12 + month(o.o_orderdate)) -
                  (year(f.first_dt) * 12 + month(f.first_dt)) AS BIGINT)
               AS m_off,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN f ON o.o_custkey = f.o_custkey),
    g AS (
      SELECT cohort_month, m_off, CAST(SUM(cents) AS BIGINT) AS rev_cents
      FROM a GROUP BY cohort_month, m_off)
    SELECT g.cohort_month, g.m_off, g.rev_cents,
           CAST(SUM(g.rev_cents) OVER (PARTITION BY g.cohort_month
                                       ORDER BY g.m_off) AS BIGINT)
             AS cum_rev_cents,
           cs.n_customers,
           round(CAST(SUM(g.rev_cents) OVER (PARTITION BY g.cohort_month
                                             ORDER BY g.m_off) AS DOUBLE)
                 / cs.n_customers, 6) AS ltv_cents
    FROM g JOIN cs ON cs.cohort_month = g.cohort_month
    """,
)
def orders_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime value: customers grouped by first-order month;
    for each (cohort, months-since-first) cell, the period revenue,
    the running cumulative revenue, and cumulative LTV per cohort
    customer — the retention-curve's revenue twin.

    One o_custkey exchange derives first-order months; revenue cells
    aggregate with map-side partials; the cumulative window and the
    cohort-size broadcast join run over the months² grid only.
    Money is exact integer cents end to end; LTV is the single
    rounded division."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", cents("o_totalprice").alias("cents")
    )
    w = Window.partitionBy("o_custkey")
    d = o.withColumn("first_dt", F.min("o_orderdate").over(w))
    cohort = F.date_trunc("month", "first_dt").cast("timestamp_ntz")
    m_off = (
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        - (F.year("first_dt") * 12 + F.month("first_dt"))
    ).cast("bigint")
    g = (
        d.select(cohort.alias("cohort_month"), m_off.alias("m_off"), "cents")
        .groupBy("cohort_month", "m_off")
        .agg(F.sum("cents").cast("bigint").alias("rev_cents"))
    )
    cs = (
        d.groupBy("o_custkey")
        .agg(F.max("first_dt").alias("first_dt"))
        .groupBy(
            F.date_trunc("month", "first_dt")
            .cast("timestamp_ntz")
            .alias("cohort_month")
        )
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    wc = Window.partitionBy("cohort_month").orderBy("m_off")
    cum = F.sum("rev_cents").over(wc)
    return (
        g.join(F.broadcast(cs), "cohort_month")
        .select(
            "cohort_month",
            "m_off",
            "rev_cents",
            cum.cast("bigint").alias("cum_rev_cents"),
            "n_customers",
            F.round(
                cum.cast("double") / F.col("n_customers"), 6
            ).alias("ltv_cents"),
        )
    )


#: Inactivity gap that closes a session (microseconds).
_SESS_GAP_US = 30 * 60 * 1_000_000


@CAT.query(
    "events_sessionize_rows",
    oracle=f"""
    WITH t AS (
      SELECT user_id, event_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_us
      FROM events),
    s AS (
      SELECT user_id, event_id, us,
             SUM(CASE WHEN prev_us IS NULL
                        OR us - prev_us > {_SESS_GAP_US}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM t)
    SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us,
           CAST((max(us) - min(us)) // 1000000 AS BIGINT) AS duration_s
    FROM s GROUP BY user_id, session_idx
    """,
)
def events_sessionize_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sessionization via gaps-and-islands: events more than
    30 idle minutes apart start a new per-user session, and every
    session reports its index, event count, bounds, and duration —
    the session-ID assignment the `session_window` aggregate (already
    in the catalog) deliberately hides, needed whenever downstream
    work joins back to individual sessions.

    One user_id exchange; the lag flag and the running session-index
    sum share the same (ts, event_id)-ordered window, and the final
    per-session groupBy reuses the partitioning. Timestamps are exact
    integer microseconds end to end."""
    e = _events(spark, sf_dir).select("user_id", "event_id", "ts")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    t = e.select("user_id", "event_id", us.alias("us")).withColumn(
        "prev_us", F.lag("us").over(Window.partitionBy("user_id").orderBy("us", "event_id"))
    )
    new_sess = F.when(
        F.col("prev_us").isNull()
        | (F.col("us") - F.col("prev_us") > _SESS_GAP_US),
        1,
    ).otherwise(0)
    s = t.withColumn(
        "session_idx",
        F.sum(new_sess).over(
            Window.partitionBy("user_id")
            .orderBy("us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return s.groupBy("user_id", F.col("session_idx").cast("bigint").alias("session_idx")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("start_us"),
        F.max("us").alias("end_us"),
        F.expr("(max(us) - min(us)) div 1000000").alias("duration_s"),
    )


#: Burst detection: events within a trailing minute to flag a user.
_BURST_WINDOW_US = 60_000_000
_BURST_N = 5


@CAT.query(
    "events_burst_users",
    oracle=f"""
    WITH c AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                            RANGE BETWEEN {_BURST_WINDOW_US} PRECEDING
                                      AND CURRENT ROW) AS in_window
      FROM events)
    SELECT user_id,
           CAST(max(in_window) AS BIGINT) AS max_burst,
           CAST(count(*) AS BIGINT) AS n_events,
           max(in_window) >= {_BURST_N} AS is_bursty
    FROM c GROUP BY user_id
    """,
)
def events_burst_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst / bot-rate detection: each user's maximum event count
    inside any trailing 60-second window, flagged when it reaches the
    threshold — the rate-limit signal an abuse pipeline computes
    before filtering scripted traffic.

    A RANGE frame keyed on microsecond epoch counts the trailing
    window per event (simultaneous events are peers — identical
    semantics in both engines), then one groupBy(user_id) max on the
    same partitioning. One exchange total; integer counts only."""
    e = _events(spark, sf_dir).select("user_id", "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-_BURST_WINDOW_US, 0)
    )
    c = e.select(
        "user_id", F.count(F.lit(1)).over(w).alias("in_window")
    )
    return c.groupBy("user_id").agg(
        F.max("in_window").cast("bigint").alias("max_burst"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max("in_window") >= _BURST_N).alias("is_bursty"),
    )


@CAT.query(
    "events_distribution_drift",
    oracle="""
    WITH b AS (SELECT min(ts) AS t0, max(ts) AS t1 FROM events),
    h AS (
      SELECT e.event_type,
             CASE WHEN epoch_us(e.ts) - epoch_us(b.t0)
                       < (epoch_us(b.t1) - epoch_us(b.t0)) / 2
                  THEN 'first' ELSE 'second' END AS half
      FROM events e, b),
    c AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN half = 'first' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_first,
             CAST(SUM(CASE WHEN half = 'second' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_second
      FROM h GROUP BY event_type),
    t AS (
      SELECT CAST(SUM(n_first) AS BIGINT) AS t_first,
             CAST(SUM(n_second) AS BIGINT) AS t_second
      FROM c)
    SELECT c.event_type, c.n_first, c.n_second,
           round(CAST(c.n_first AS DOUBLE) / t.t_first, 6) AS p_first,
           round(CAST(c.n_second AS DOUBLE) / t.t_second, 6) AS p_second,
           round(abs(CAST(c.n_first AS DOUBLE) / t.t_first -
                     CAST(c.n_second AS DOUBLE) / t.t_second), 6)
             AS abs_drift
    FROM c, t
    """,
)
def events_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the event-type mix of the first half
    of the observed period vs the second, with per-type share deltas —
    the shape a data-drift alert computes between a reference window
    and a live window before models retrain on shifted data.

    The half-splitting epoch midpoint comes from a 1-row min/max
    aggregate broadcast against the log (one scan); the two
    distributions fold into ONE conditional-sum groupBy (never two
    passes); shares divide exact BIGINTs by the 1-row totals. Exactly
    two fact scans total (bounds + histogram) and both are narrow."""
    e = _events(spark, sf_dir).select("event_type", "ts")
    b = e.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    us0 = F.unix_micros(F.col("t0").cast("timestamp"))
    us1 = F.unix_micros(F.col("t1").cast("timestamp"))
    h = e.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(us - us0 < (us1 - us0) / 2, "first")
        .otherwise("second")
        .alias("half"),
    )
    c = h.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == "first", 1).otherwise(0))
        .cast("bigint")
        .alias("n_first"),
        F.sum(F.when(F.col("half") == "second", 1).otherwise(0))
        .cast("bigint")
        .alias("n_second"),
    )
    t = c.agg(
        F.sum("n_first").cast("bigint").alias("t_first"),
        F.sum("n_second").cast("bigint").alias("t_second"),
    )
    p1 = F.col("n_first").cast("double") / F.col("t_first")
    p2 = F.col("n_second").cast("double") / F.col("t_second")
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "n_first",
        "n_second",
        F.round(p1, 6).alias("p_first"),
        F.round(p2, 6).alias("p_second"),
        F.round(F.abs(p1 - p2), 6).alias("abs_drift"),
    )


@CAT.query(
    "events_first_touch_attribution",
    oracle=f"""
    WITH r AS (
      SELECT user_id, event_type, {cents_sql("value")} AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    ft AS (SELECT user_id, event_type AS first_touch FROM r WHERE rn = 1),
    p AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN cents
                           ELSE 0 END) AS BIGINT) AS purch_cents
      FROM r GROUP BY user_id),
    g AS (
      SELECT ft.first_touch,
             CAST(count(*) AS BIGINT) AS n_users,
             CAST(SUM(p.purch_cents) AS BIGINT) AS attributed_cents
      FROM ft JOIN p ON ft.user_id = p.user_id
      GROUP BY ft.first_touch)
    SELECT first_touch, n_users, attributed_cents,
           round(CAST(attributed_cents AS DOUBLE) /
                 SUM(attributed_cents) OVER (), 6) AS revenue_share
    FROM g
    """,
)
def events_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: every user's purchase revenue credited
    to the event type that first brought them in, with each channel's
    share of total attributed revenue — the simplest of the marketing
    attribution models and the template for the positional variants
    (last-touch flips the window order; linear splits the sum).

    One user_id exchange computes BOTH the first-touch label
    (row_number over (ts, event_id)) and the per-user purchase cents;
    the channel rollup and share window run over ≤|types| rows.
    Exact integer cents; one rounded division."""
    e = _events(spark, sf_dir).select(
        "user_id", "event_type", "ts", "event_id", cents("value").alias("cents")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = e.withColumn("rn", F.row_number().over(w))
    per_user = r.groupBy("user_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias(
            "first_touch"
        ),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("cents")).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("purch_cents"),
    )
    g = per_user.groupBy("first_touch").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("purch_cents").cast("bigint").alias("attributed_cents"),
    )
    wt = Window.partitionBy()
    return g.select(
        "first_touch",
        "n_users",
        "attributed_cents",
        F.round(
            F.col("attributed_cents").cast("double")
            / F.sum("attributed_cents").over(wt),
            6,
        ).alias("revenue_share"),
    )


@CAT.query(
    "events_longest_streak",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    r AS (
      SELECT user_id, day,
             row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
      FROM ud),
    g AS (
      SELECT user_id, day - CAST(rn AS INTEGER) AS anchor,
             CAST(count(*) AS BIGINT) AS streak_len
      FROM r GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(max(streak_len) AS BIGINT) AS longest_streak,
           CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
           CAST(count(*) AS BIGINT) AS n_streaks
    FROM g GROUP BY user_id
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (plus total
    active days and streak count) — the engagement metric behind
    "7-day streak" features, computed with the gaps-and-islands
    anchor trick: consecutive days share the constant
    ``day − row_number`` anchor, so runs become groupBy keys without
    any self-join.

    The log dedupes to (user, day) first (map-side partial distinct);
    the row_number window and both groupBys reuse the same user_id
    partitioning — one exchange total, all-integer date arithmetic."""
    ud = (
        _events(spark, sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("day")
    g = (
        ud.withColumn("rn", F.row_number().over(w))
        .select(
            "user_id",
            F.expr("date_sub(day, rn)").alias("anchor"),
        )
        .groupBy("user_id", "anchor")
        .agg(F.count(F.lit(1)).alias("streak_len"))
    )
    return g.groupBy("user_id").agg(
        F.max("streak_len").cast("bigint").alias("longest_streak"),
        F.sum("streak_len").cast("bigint").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


@CAT.query(
    "users_cumulative_growth",
    oracle="""
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS first_day
      FROM events GROUP BY user_id),
    d AS (
      SELECT first_day, CAST(count(*) AS BIGINT) AS new_users
      FROM f GROUP BY first_day)
    SELECT first_day AS day, new_users,
           CAST(SUM(new_users) OVER (ORDER BY first_day) AS BIGINT)
             AS cumulative_users
    FROM d
    """,
)
def users_cumulative_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: new users per day (day of first event) and
    the running cumulative user count — the signup/adoption chart, and
    the exact way to get "cumulative distinct users by day" without a
    per-day distinct scan: a user contributes once, on their first
    day, and a cumulative sum over the DAY-level grid replaces the
    day×log rescan.

    One user_id exchange for first-event times, one groupBy over days,
    and the cumulative window runs over the |days| grid only (the
    single-partition window is bounded by calendar size — the same
    contract as the vocabulary rank and ABC windows)."""
    f = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.date_trunc("day", F.min("ts"))
            .cast("timestamp_ntz")
            .alias("first_day")
        )
    )
    d = f.groupBy("first_day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("first_day").rowsBetween(Window.unboundedPreceding, 0)
    return d.select(
        F.col("first_day").alias("day"),
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    )


# ---------------------------------------------------------------------------
# Round 5: exact equi-depth histogram + calendar heatmap
# ---------------------------------------------------------------------------

#: Equi-depth buckets for the price histogram.
_ED_BUCKETS = 10
#: Cents per phase-1 value-range stripe (see hist_equi_depth_price).
_ED_STRIPE = 5_000_000


@CAT.query(
    "hist_equi_depth_price",
    oracle=f"""
    WITH c AS (
      SELECT o_orderkey, {cents_sql("o_totalprice")} AS cts FROM orders),
    r AS (
      SELECT cts,
             ROW_NUMBER() OVER (ORDER BY cts, o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM c)
    SELECT CAST((rn - 1) * {_ED_BUCKETS} // n AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(cts) AS min_cents, MAX(cts) AS max_cents,
           CAST(SUM(cts) AS BIGINT) AS sum_cents
    FROM r GROUP BY decile
    """,
)
def hist_equi_depth_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth (decile) histogram of order totals — the
    statistics every optimizer/profiler wants, computed with an exact
    GLOBAL rank but WITHOUT a single-partition global sort.

    The global row number is the two-phase distributed prefix sum
    (``functions.two_phase_cumsum``) of a constant 1, keyed by value:
    phase 1 ranks rows inside value-range stripes (cents div STRIPE —
    stripes are contiguous in the sort order by construction, so
    within-stripe rank + stripe offset IS the global rank); phase 2
    cumulates per-stripe counts on the (tiny) stripe-level table and
    broadcasts the offsets back with the row total n riding along.
    Each row's decile is then the pure integer map (rn-1)·B div n —
    identical arithmetic in the oracle, so bucket membership (not just
    counts) is engine-exact, including ties, which the
    (cents, o_orderkey) total order makes deterministic.

    At 100 TB: stripes are value-bounded, so a skewed price
    distribution concentrates rows in few stripes — the remedy is a
    smaller STRIPE constant (the stripe table stays tiny: range/STRIPE
    rows); the per-stripe window is the only sort and partitions by
    stripe. The exact-rank shape is what a production system runs
    when approx_percentile (the sketch scale path, covered by
    ``approx_percentile_sketch``) is not acceptable — e.g. auditing
    the sketch itself."""
    c = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", cents("o_totalprice").alias("cts")
    )
    c = c.withColumn("stripe", F.expr(f"cts div {_ED_STRIPE}"))
    ranked = two_phase_cumsum(
        c.withColumn("one", F.lit(1)),
        ["one"],
        ["cts", "o_orderkey"],
        ["stripe"],
        totals=True,
    )
    return (
        ranked.withColumn(
            "decile",
            F.expr(f"((cum_one - 1) * {_ED_BUCKETS}) div n_one")
            .cast("bigint"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("cts").alias("min_cents"),
            F.max("cts").alias("max_cents"),
            F.sum("cts").alias("sum_cents"),
        )
    )


@CAT.query(
    "events_dow_hour_heatmap",
    oracle=f"""
    SELECT ((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 + 3) % 7)
             + 1 AS iso_dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM({cents_sql("value")}) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: event count and exact value by (ISO weekday ×
    hour-of-day) — the calendar-grid view behind load forecasting and
    anomaly baselines.

    The weekday is computed as pure integer arithmetic on days since
    the epoch ((d % 7 + 3) % 7 + 1; 1970-01-01 was a Thursday) instead
    of each engine's dayofweek builtin, whose numbering conventions
    disagree (Spark: Sunday=1; DuckDB dow: Sunday=0; isodow: Monday=1)
    — the arithmetic is identical in both engines by construction.
    One groupBy over a ≤168-cell grid: full map-side partial
    aggregation, minimal exchange."""
    e = _events(spark, sf_dir)
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    return (
        e.select(
            ((d % 7 + 3) % 7 + 1).cast("int").alias("iso_dow"),
            F.hour("ts").cast("bigint").alias("hour"),
            cents("value").alias("cts"),
        )
        .groupBy("iso_dow", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cts").alias("value_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: exact grouped mode + fixed-point behavioral entropy
# ---------------------------------------------------------------------------


@CAT.query(
    "agg_mode_priority",
    oracle="""
    WITH c AS (
      SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus, o_orderpriority),
    r AS (
      SELECT o_orderstatus, o_orderpriority, n,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY n DESC, o_orderpriority) AS rk
      FROM c)
    SELECT o_orderstatus, o_orderpriority AS mode_priority, n AS mode_count
    FROM r WHERE rk = 1
    """,
)
def agg_mode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group MODE (most frequent value) with a deterministic
    tie-break — the statistical mode the built-in ``mode()`` aggregate
    cannot provide cross-engine (its tie choice is implementation-
    defined), rebuilt as count-then-rank: groupBy (group, value) with
    map-side partials collapses the fact table to the distinct
    (group, value) grid, and the rank window runs over that tiny grid
    partitioned by group. Ties break (count DESC, value ASC) —
    identical ordering in both engines, so the selected mode is exact
    even when two priorities tie."""
    c = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("n"), F.asc("o_orderpriority")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("n").alias("mode_count"),
        )
    )


#: Fixed-point scale (micro-nats) for the entropy feature.
_ENT_SCALE = 1_000_000


@CAT.query(
    "events_type_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS ci
      FROM events GROUP BY user_id, event_type),
    cw AS (
      SELECT user_id, ci,
             CAST(SUM(ci) OVER (PARTITION BY user_id) AS BIGINT) AS n
      FROM c),
    u AS (
      SELECT user_id, CAST(MAX(n) AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(ci * CAST(FLOOR(ln(CAST(n AS DOUBLE) / ci)
                                      * {_ENT_SCALE}) AS BIGINT))
                  AS BIGINT) AS s
      FROM cw GROUP BY user_id)
    SELECT user_id, n_events, n_types,
           CAST(s // n_events AS BIGINT) AS entropy_micro
    FROM u
    """,
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Shannon entropy of the event-type mix, in integer
    micro-nats — the behavioral-diversity feature behind bot detection
    (a scripted user hammers one event type → entropy ≈ 0; organic
    users mix types). H = Σ (cᵢ/n)·ln(n/cᵢ), computed as the exact
    BIGINT sum Σ cᵢ·⌊1e6·ln(n/cᵢ)⌋ divided by n — the same fixed-point
    discipline as the unigram-LM scorer and integer PageRank: the only
    doubles are ln() inputs/outputs computed identically per (user,
    type) cell in both engines; every aggregation is an
    order-independent integer sum, so the score is bit-exact.

    One groupBy (user, type) collapses the log to the per-user type
    grid (≤ |types| rows per user); the per-user total rides a window
    over that grid partitioned by the same key — no second shuffle."""
    c = (
        _events(spark, sf_dir)
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("ci"))
    )
    w = Window.partitionBy("user_id")
    c = c.withColumn("n", F.sum("ci").over(w))
    term = F.col("ci") * F.floor(
        F.log(F.col("n").cast("double") / F.col("ci")) * _ENT_SCALE
    ).cast("bigint")
    return (
        c.groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(term).alias("s"),
        )
        .select(
            "user_id",
            "n_events",
            "n_types",
            F.expr("s div n_events").cast("bigint").alias("entropy_micro"),
        )
    )


@CAT.query(
    "agg_weighted_median_cents",
    oracle=f"""
    WITH t AS (
      SELECT l_returnflag,
             {cents_sql("l_extendedprice")} AS v,
             CAST(ROUND(l_quantity) AS BIGINT) AS w
      FROM lineitem),
    c AS (
      SELECT l_returnflag, v,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                          RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM t)
    SELECT l_returnflag,
           MIN(v) FILTER (WHERE 2 * cum >= tot) AS weighted_median_cents,
           CAST(MIN(tot) AS BIGINT) AS total_weight
    FROM c GROUP BY l_returnflag
    """,
)
def agg_weighted_median_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group WEIGHTED median — the statistic behind "the
    median unit price, weighted by units sold", which plain
    percentile_approx can neither weight nor make exact. Lower
    weighted median: the smallest value v whose cumulative weight
    reaches half the group total. All math is integer (price cents,
    integral quantities), so the result is bit-identical across
    engines and partition orders.

    Plan: one hash exchange on the group key, a RANGE-frame running
    sum inside each partition (the RANGE frame makes every tie row
    carry the full tie-group weight — no row-order dependence), then
    the conditional-min aggregation reuses the same partitioning, so
    the whole operator is ONE shuffle. At 100 TB the per-group sort
    is the cost; groups are the coarse return-flag classes here, so
    a production run over finer keys relies on the same shape with
    per-key sorts sized by the group, not the table."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        cents("l_extendedprice").alias("v"),
        F.round("l_quantity").cast("bigint").alias("w"),
    )
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = li.select(
        "l_returnflag",
        "v",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wt).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v"))).alias(
            "weighted_median_cents"
        ),
        F.min("tot").cast("bigint").alias("total_weight"),
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition — exact integer variant

_SEAS_HALF = 5  # centered 11-month moving-average trend window


@CAT.query(
    "orders_seasonal_decompose",
    oracle=f"""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS ym,
             CAST(SUM({cents_sql("o_totalprice")}) AS BIGINT) AS revenue_cents
      FROM orders GROUP BY ym),
    tr AS (
      SELECT ym, revenue_cents,
             CASE WHEN COUNT(*) OVER w = {2 * _SEAS_HALF + 1}
                  THEN SUM(revenue_cents) OVER w // {2 * _SEAS_HALF + 1}
             END AS trend_cents
      FROM m
      WINDOW w AS (ORDER BY ym
                   ROWS BETWEEN {_SEAS_HALF} PRECEDING
                            AND {_SEAS_HALF} FOLLOWING)),
    s AS (
      SELECT month(ym) AS moy,
             SUM(revenue_cents - trend_cents) AS dev_sum,
             COUNT(*) AS n
      FROM tr WHERE trend_cents IS NOT NULL GROUP BY moy)
    SELECT CAST(tr.ym AS DATE) AS ym, tr.revenue_cents, tr.trend_cents,
           CAST(CASE WHEN s.dev_sum < 0
                     THEN -((-s.dev_sum) // s.n)
                     ELSE s.dev_sum // s.n END AS BIGINT) AS seasonal_cents
    FROM tr JOIN s ON month(tr.ym) = s.moy
    """,
)
def orders_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of monthly revenue —
    trend = centered 11-month moving average (NULL at the series
    edges where the window is partial), seasonal index = per
    month-of-year mean deviation from trend. The moving-average +
    month-index construction is the textbook decomposition
    (Kendall/Stuart); divisions are sign-symmetric integer cents so
    both engines agree to the bit — no float smoothing.

    Scale shape worth stating precisely: the UNPARTITIONED window
    runs AFTER the monthly aggregation, on a series whose length is
    months-of-history — ~1,200 rows for a century of data — so the
    single-partition sort is bounded by calendar time, never by the
    fact table; the only full-data work is the one groupBy(month)
    exchange. The 12-row seasonal index joins back broadcast. The
    decomposition is over OBSERVED months (a wholly-absent month
    shortens the series identically in both engines)."""
    win = 2 * _SEAS_HALF + 1
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("ym"))
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("revenue_cents"))
    )
    w = Window.orderBy("ym").rowsBetween(-_SEAS_HALF, _SEAS_HALF)
    tr = m.select(
        "ym",
        "revenue_cents",
        F.when(
            F.count(F.lit(1)).over(w) == win,
            F.expr(f"sum(revenue_cents) over (order by ym rows between "
                   f"{_SEAS_HALF} preceding and {_SEAS_HALF} following) "
                   f"div {win}"),
        ).alias("trend_cents"),
    )
    s = (
        tr.filter(F.col("trend_cents").isNotNull())
        .groupBy(F.month("ym").alias("moy"))
        .agg(
            F.sum(F.col("revenue_cents") - F.col("trend_cents")).alias("dev_sum"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "moy",
            F.when(
                F.col("dev_sum") < 0,
                -F.expr("(-dev_sum) div n"),
            )
            .otherwise(F.expr("dev_sum div n"))
            .cast("bigint")
            .alias("seasonal_cents"),
        )
    )
    return (
        tr.join(F.broadcast(s), F.month(tr.ym) == s.moy)
        .select(
            F.col("ym").cast("date").alias("ym"),
            "revenue_cents",
            "trend_cents",
            "seasonal_cents",
        )
    )


@CAT.query(
    "events_cusum_changepoint",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, day),
    m AS (
      SELECT event_type, day, n,
             COUNT(*) OVER (PARTITION BY event_type) AS n_days,
             SUM(n) OVER (PARTITION BY event_type) AS tot,
             SUM(n) OVER (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS run,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
               AS k
      FROM d),
    c AS (
      SELECT event_type, day,
             n_days * run - k * tot AS cusum_scaled
      FROM m)
    SELECT event_type,
           MIN(day) FILTER (WHERE ABS(cusum_scaled) =
             (SELECT MAX(ABS(c2.cusum_scaled)) FROM c c2
              WHERE c2.event_type = c.event_type)) AS change_day,
           CAST(MAX(ABS(cusum_scaled)) AS BIGINT) AS peak_cusum_scaled
    FROM c GROUP BY event_type
    """,
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type — the classical
    level-shift detector: the cumulative sum of deviations from the
    series mean peaks at the most likely changepoint (Page 1954;
    the max-|CUSUM| location is the standard single-changepoint
    estimator). Kept EXACT by scaling instead of dividing: with mean
    = tot/n_days, n_days·(run_k − k·mean) = n_days·run_k − k·tot is
    pure BIGINT — no float mean, no rounding, bit-identical engines.
    Ties on the peak break to the earliest day.

    Scale shape: the daily aggregation is the only full-data
    exchange; the per-type windows then run over days-of-history
    rows (calendar-bounded, like ``orders_seasonal_decompose``), and
    the peak pick is a per-type aggregate. Overflow: n_days·run ≤
    days·total-events — int64-safe until ~10¹⁴ events per type
    (promote to decimal(38,0) past that, the
    ``corr_exact_value_k`` pattern)."""
    d = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type")
    wo = Window.partitionBy("event_type").orderBy("day")
    c = d.select(
        "event_type",
        "day",
        (
            F.count(F.lit(1)).over(wt)
            * F.sum("n").over(wo.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(wo) * F.sum("n").over(wt)
        ).alias("cusum_scaled"),
    )
    peak = c.groupBy("event_type").agg(
        F.max(F.abs("cusum_scaled")).alias("peak_cusum_scaled")
    )
    return (
        c.join(F.broadcast(peak), "event_type")
        .filter(F.abs("cusum_scaled") == F.col("peak_cusum_scaled"))
        .groupBy("event_type")
        .agg(
            F.min("day").alias("change_day"),
            F.max("peak_cusum_scaled").cast("bigint").alias(
                "peak_cusum_scaled"
            ),
        )
        .select("event_type", "change_day", "peak_cusum_scaled")
    )


_FUNNEL_GAP_H = 48  # max allowed hours between consecutive funnel steps


@CAT.query(
    "events_funnel_max_gap",
    oracle=f"""
    WITH s1 AS (
      SELECT user_id,
             min(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY user_id),
    s2 AS (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t_view
                      AND e.ts <= s1.t_view + INTERVAL {_FUNNEL_GAP_H} HOUR
                      THEN e.ts END) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      GROUP BY e.user_id),
    s3 AS (
      SELECT e.user_id,
             min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t_click
                      AND e.ts <= s2.t_click + INTERVAL {_FUNNEL_GAP_H} HOUR
                      THEN e.ts END) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      GROUP BY e.user_id)
    SELECT step, n_users FROM (
      SELECT 'view' AS step, CAST(count(t_view) AS BIGINT) AS n_users,
             1 AS ord FROM s1
      UNION ALL
      SELECT 'click_within_gap', CAST(count(t_click) AS BIGINT), 2 FROM s2
      UNION ALL
      SELECT 'purchase_within_gap', CAST(count(t_purchase) AS BIGINT), 3
      FROM s3) ORDER BY ord
    """,
)
def events_funnel_max_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed funnel: view → click → purchase where each NEXT step
    must land within {_FUNNEL_GAP_H} hours of the previous step's
    completion — the conversion definition product analytics actually
    uses (an unbounded funnel credits a purchase months later;
    ``events_funnel_steps`` is that unconstrained baseline). The gap
    constraint makes the steps SEQUENTIALLY dependent: step k's
    deadline derives from step k−1's achieved time, so the funnel
    cannot be one grouped aggregation.

    Plan: one min-aggregation per step, each joined to the previous
    step's per-user time — for k steps, k passes over events joined
    on user_id, every exchange carrying (user_id, timestamp) pairs
    only. At 100 TB the events scan dominates; pre-filtering each
    pass to its step's event type prunes the join input map-side,
    and all k joins co-partition on user_id so AQE reuses the
    exchange layout. Conversion credit is first-eligible-event
    (min within window), the standard strict-order attribution."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    gap = F.expr(f"INTERVAL {_FUNNEL_GAP_H} HOUR")
    s1 = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter((F.col("ts") > F.col("t_view")) & (F.col("ts") <= F.col("t_view") + gap))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t_click")) & (F.col("ts") <= F.col("t_click") + gap)
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    counts = [
        s1.agg(F.count("t_view").cast("bigint").alias("n_users")).select(
            F.lit("view").alias("step"), "n_users", F.lit(1).alias("ord")
        ),
        s2.agg(F.count("t_click").cast("bigint").alias("n_users")).select(
            F.lit("click_within_gap").alias("step"), "n_users", F.lit(2).alias("ord")
        ),
        s3.agg(F.count("t_purchase").cast("bigint").alias("n_users")).select(
            F.lit("purchase_within_gap").alias("step"),
            "n_users",
            F.lit(3).alias("ord"),
        ),
    ]
    out = counts[0].unionByName(counts[1]).unionByName(counts[2])
    return out.orderBy("ord").select("step", "n_users")


@CAT.query(
    "events_dau_mau_stickiness",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    bounds AS (
      SELECT MIN(day) AS d0, MAX(day) AS d1 FROM ud),
    dau AS (
      SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    mau AS (
      SELECT wday, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM (SELECT user_id, day + CAST(unnest(range(0, 30)) AS INTEGER) AS wday FROM ud),
           bounds
      WHERE wday BETWEEN bounds.d0 AND bounds.d1
      GROUP BY wday)
    SELECT dau.day, dau.dau, mau.mau,
           CAST((dau.dau * 1000000) // mau.mau AS BIGINT)
             AS stickiness_ppm
    FROM dau JOIN mau ON dau.day = mau.wday
    """,
)
def events_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement ratio every growth
    team tracks (what share of the trailing-30-day audience showed up
    today). MAU(d) counts distinct users active in the 30 days ENDING
    at d; early days use the truncated available window, the standard
    convention. Integer ppm keeps the ratio engine-exact.

    Scale shape — same argument as ``events_rolling_wau``: the raw
    log is FIRST collapsed to distinct (user, day) pairs (the one
    full-data exchange), then each pair explodes into at most 30
    window-membership rows — bounded amplification of the already
    tiny distinct-pairs frame, never a day×log self-join and never a
    30-day range scan per day. The count-distinct per window day
    uses Spark's two-phase split, so one viral day cannot pin a
    reducer."""
    ud = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    b = ud.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    mau = (
        ud.select(
            "user_id",
            F.explode(F.sequence(F.lit(0), F.lit(29))).alias("i"),
            "day",
        )
        .select("user_id", F.expr("date_add(day, i)").alias("wday"))
        .join(F.broadcast(b), F.col("wday").between(F.col("d0"), F.col("d1")))
        .groupBy("wday")
        .agg(F.count_distinct("user_id").cast("bigint").alias("mau"))
    )
    return (
        dau.join(mau, dau.day == mau.wday)
        .select(
            "day",
            "dau",
            "mau",
            F.expr("(dau * 1000000) div mau").cast("bigint").alias(
                "stickiness_ppm"
            ),
        )
    )


_GINI_STRIPE = 1 << 20  # value-range stripe width (cents) for the global rank


@CAT.query(
    "orders_revenue_gini",
    oracle="""
    WITH pc AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS x
      FROM orders GROUP BY o_custkey),
    r AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS rn FROM pc),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS s0,
             SUM(CAST(rn AS HUGEINT) * x) AS s1
      FROM r)
    SELECT n AS n_customers, s0 AS total_cents,
           CAST(((2 * s1 - (n + 1) * s0) * 1000000) // (n * s0) AS BIGINT)
             AS gini_ppm
    FROM s
    """,
)
def orders_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini coefficient of per-customer revenue — the standard
    inequality index (G = (2·Σᵢ i·xᵢ)/(n·Σx) − (n+1)/n over ascending
    xᵢ), reported in integer ppm. Complements ``lineitem_pareto_abc``:
    ABC classifies members, Gini is the single audited concentration
    number a health dashboard tracks over time.

    Scale shape: the global rank over per-customer totals is the
    striped two-phase prefix sum of ``hist_equi_depth_price``
    (``functions.two_phase_cumsum``) — rank within value-range
    stripes, add broadcast stripe offsets — so
    there is NO single-partition sort over the customer dimension
    (which is corpus-sized, unlike a calendar). The rank-weighted
    moment Σ rn·x accumulates as decimal(38,0): at 10⁹ customers,
    rn·x ≈ 10¹⁶ per row and the sum tops int64 — same promotion
    pattern as ``corr_exact_value_k``. All inputs non-negative, so
    truncating division agrees across engines without the
    sign-symmetric guard."""
    pc = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("x"))
    )
    pc = pc.withColumn("stripe", F.expr(f"x div {_GINI_STRIPE}"))
    ranked = two_phase_cumsum(
        pc.withColumn("one", F.lit(1)), ["one"], ["x", "o_custkey"], ["stripe"]
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s0"),
        F.sum(F.col("cum_one").cast("decimal(38,0)") * F.col("x")).alias("s1"),
    )
    return s.select(
        F.col("n").alias("n_customers"),
        F.col("s0").alias("total_cents"),
        F.expr(
            "cast(((2 * s1 - (n + 1) * s0) * 1000000) div (n * s0) as bigint)"
        ).alias("gini_ppm"),
    )


@CAT.query(
    "events_gap_histogram",
    oracle="""
    WITH g AS (
      SELECT user_id,
             -- epoch_us floor-diff, NOT date_diff: date_diff counts
             -- millisecond-boundary crossings, diverging from the
             -- elapsed-time floor by 1 when sub-ms components differ
             CAST((epoch_us(ts) -
                   epoch_us(lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id))) // 1000
                  AS BIGINT) AS gap_ms
      FROM events)
    SELECT CAST(FLOOR(LOG2(gap_ms)) AS BIGINT) AS log2_ms_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_ms) AS BIGINT) AS min_ms,
           CAST(MAX(gap_ms) AS BIGINT) AS max_ms
    FROM g WHERE gap_ms IS NOT NULL AND gap_ms > 0
    GROUP BY log2_ms_bucket
    """,
)
def events_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution (log2 millisecond buckets) — the
    burstiness profile read BEFORE choosing a session timeout: human
    activity is bimodal (within-burst seconds vs between-visit
    hours), and the empty band between the modes is where
    ``events_sessionize_rows``'s threshold belongs. Exact integer
    milliseconds; zero-gap duplicates are excluded (they are
    same-instant records, not gaps), NULL first-events drop.

    Plan: one hash exchange on user_id for the lag window (ordered by
    ts with the event_id tiebreaker, so ties are deterministic), then
    a ~40-bucket groupBy. Per-user window state is the user's own
    history — the partition-by-entity shape that scales with users,
    not with the table."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            "event_id",
            "ts",
            (
                (
                    F.unix_micros(F.col("ts").cast("timestamp"))
                    - F.unix_micros(
                        F.lag(F.col("ts").cast("timestamp")).over(w)
                    )
                )
                / F.lit(1000)
            )
            .cast("bigint")
            .alias("gap_ms"),
        )
        .filter(F.col("gap_ms").isNotNull() & (F.col("gap_ms") > 0))
    )
    return (
        g.select(
            F.floor(F.log2("gap_ms")).cast("bigint").alias("log2_ms_bucket"),
            "gap_ms",
        )
        .groupBy("log2_ms_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_ms").cast("bigint").alias("min_ms"),
            F.max("gap_ms").cast("bigint").alias("max_ms"),
        )
    )


_ABC_CUTOFF = "1998-01-01"  # fixed period split (data spans 1995..2001)

_ABC_PERIOD_SQL = f"""
      SELECT CASE WHEN o_orderdate < DATE '{_ABC_CUTOFF}' THEN 1 ELSE 2 END
               AS period,
             o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY period, o_custkey
"""


@CAT.query(
    "orders_abc_migration",
    oracle=f"""
    WITH r AS ({_ABC_PERIOD_SQL}),
    t AS (SELECT period, CAST(SUM(rev) AS BIGINT) AS total
          FROM r GROUP BY period),
    c AS (
      SELECT r.period, r.o_custkey,
             CAST(SUM(rev) OVER (PARTITION BY r.period
                                 ORDER BY rev DESC, o_custkey)
                  AS BIGINT) AS cum,
             t.total
      FROM r JOIN t ON r.period = t.period),
    k AS (
      SELECT period, o_custkey,
             CASE WHEN cum * 100 <= total * 80 THEN 'A'
                  WHEN cum * 100 <= total * 95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM c),
    m AS (
      SELECT COALESCE(p1.o_custkey, p2.o_custkey) AS o_custkey,
             COALESCE(p1.cls, 'N') AS class_p1,
             COALESCE(p2.cls, 'N') AS class_p2
      FROM (SELECT * FROM k WHERE period = 1) p1
      FULL OUTER JOIN (SELECT * FROM k WHERE period = 2) p2
        ON p1.o_custkey = p2.o_custkey)
    SELECT class_p1, class_p2, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM m GROUP BY class_p1, class_p2
    """,
)
def orders_abc_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC-class migration matrix: every customer is Pareto-classed
    (A ≤ 80% cumulative revenue, B ≤ 95%, C tail — the
    ``lineitem_pareto_abc`` convention) independently in two periods,
    and the matrix counts transitions, with 'N' for absent-in-period
    (churned or newly acquired) — the report behind "which A
    accounts slipped" that a static ABC snapshot cannot answer.

    Scale: per-period revenue collapses fact rows first (map-side
    cents partials); the cumulative windows partition BY PERIOD over
    the customer-dimension frame (same bounded-window contract as
    the Pareto op — and the striped-rank escape hatch of
    ``orders_revenue_gini`` applies verbatim if the customer
    dimension outgrows it). The full-outer class join ships (key,
    1-char class) pairs; the result is at most 16 cells."""
    cutoff = F.lit(_ABC_CUTOFF).cast("date")
    r = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.when(F.col("o_orderdate") < cutoff, 1).otherwise(2).alias("period"),
            "o_custkey",
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    t = r.groupBy("period").agg(F.sum("rev").cast("bigint").alias("total"))
    wc = (
        Window.partitionBy("period")
        .orderBy(F.desc("rev"), "o_custkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = (
        r.withColumn("cum", F.sum("rev").over(wc).cast("bigint"))
        .join(F.broadcast(t), "period")
        .select(
            "period",
            "o_custkey",
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C")
            .alias("cls"),
        )
    )
    p1 = k.filter(F.col("period") == 1).select(
        F.col("o_custkey").alias("k1"), F.col("cls").alias("c1")
    )
    p2 = k.filter(F.col("period") == 2).select(
        F.col("o_custkey").alias("k2"), F.col("cls").alias("c2")
    )
    return (
        p1.join(p2, p1.k1 == p2.k2, "full_outer")
        .select(
            F.coalesce("c1", F.lit("N")).alias("class_p1"),
            F.coalesce("c2", F.lit("N")).alias("class_p2"),
        )
        .groupBy("class_p1", "class_p2")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@CAT.query(
    "events_ab_test_welch",
    oracle="""
    WITH u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1, 2),
    a AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS s,
             CAST(SUM(k * k) AS BIGINT) AS ss
      FROM u GROUP BY arm),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS na,
             MAX(CASE WHEN arm = 0 THEN s END) AS sa,
             MAX(CASE WHEN arm = 0 THEN ss END) AS ssa,
             MAX(CASE WHEN arm = 1 THEN n END) AS nb,
             MAX(CASE WHEN arm = 1 THEN s END) AS sb,
             MAX(CASE WHEN arm = 1 THEN ss END) AS ssb
      FROM a)
    SELECT na AS n_users_a, sa AS n_purch_a, nb AS n_users_b, sb AS n_purch_b,
           CAST(FLOOR(sa * 1000000.0 / na) AS BIGINT) AS mean_a_micro,
           CAST(FLOOR(sb * 1000000.0 / nb) AS BIGINT) AS mean_b_micro,
           CAST(FLOOR(
             (CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb)
             / sqrt(
                 ((ssa - CAST(sa AS DOUBLE) * sa / na) / (na - 1)) / na
               + ((ssb - CAST(sb AS DOUBLE) * sb / nb) / (nb - 1)) / nb)
             * 1000000) AS BIGINT) AS welch_t_micro
    FROM w
    """,
)
def events_ab_test_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: Welch's two-sample t statistic on
    purchases-per-user between two deterministic arms (user_id
    parity stands in for the assignment column). Welch, not a pooled
    z on a binary, because per-user event COUNTS are the metric with
    actual variance in behavioral data (the binary "ever purchased"
    saturates to 1 on any active corpus — measured degenerate at
    every test sf).

    Exactness: the per-arm sufficient statistics (n, Σk, Σk²) are
    exact BIGINTs — integer second moments, the
    ``corr_exact_value_k`` trick — and the final t is one identical
    IEEE double expression over them in both engines, floored to
    micro-units. Degenerate inputs (an empty arm, or zero variance in
    both arms) yield NULL via NULL propagation rather than a
    division error.

    Plan: one (user_id)-keyed map-side-combined agg over the corpus,
    a 2-row arm rollup, a 1-row final projection. Nothing else
    touches corpus scale."""
    u = (
        _events(spark, sf_dir)
        .select("user_id", "event_type")
        .groupBy(
            "user_id", (F.col("user_id") % 2).cast("bigint").alias("arm")
        )
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("k")
        )
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("s"),
        F.sum(F.col("k") * F.col("k")).alias("ss"),
    )
    w = a.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("s"))).alias("sa"),
        F.max(F.when(F.col("arm") == 0, F.col("ss"))).alias("ssa"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("s"))).alias("sb"),
        F.max(F.when(F.col("arm") == 1, F.col("ss"))).alias("ssb"),
    )
    ma = F.col("sa").cast("double") / F.col("na")
    mb = F.col("sb").cast("double") / F.col("nb")
    va = (F.col("ssa") - F.col("sa").cast("double") * F.col("sa") / F.col("na")) / (
        F.col("na") - 1
    )
    vb = (F.col("ssb") - F.col("sb").cast("double") * F.col("sb") / F.col("nb")) / (
        F.col("nb") - 1
    )
    # try_divide: zero pooled variance (or a 1-user arm) is a NULL
    # statistic, not an ANSI arithmetic error
    t = F.try_divide(ma - mb, F.sqrt(va / F.col("na") + vb / F.col("nb")))
    return w.select(
        F.col("na").alias("n_users_a"),
        F.col("sa").alias("n_purch_a"),
        F.col("nb").alias("n_users_b"),
        F.col("sb").alias("n_purch_b"),
        F.floor(F.col("sa") * 1000000.0 / F.col("na"))
        .cast("bigint")
        .alias("mean_a_micro"),
        F.floor(F.col("sb") * 1000000.0 / F.col("nb"))
        .cast("bigint")
        .alias("mean_b_micro"),
        F.floor(t * 1000000).cast("bigint").alias("welch_t_micro"),
    )


@CAT.query(
    "events_ab_cuped",
    oracle="""
    WITH b AS (
      SELECT MIN(epoch_us(ts)) + (MAX(epoch_us(ts)) - MIN(epoch_us(ts))) // 2
               AS t_split
      FROM events),
    u AS (
      SELECT user_id, CAST(user_id % 2 AS BIGINT) AS arm,
             CAST(SUM(CASE WHEN epoch_us(ts) < t_split THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN epoch_us(ts) >= t_split
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events, b GROUP BY 1, 2),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM u),
    th AS (
      SELECT n, sx, sy,
             (sxy - CAST(sx AS DOUBLE) * sy / n)
               / (sxx - CAST(sx AS DOUBLE) * sx / n) AS theta
      FROM g),
    a AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_arm,
             CAST(SUM(x) AS BIGINT) AS sx_arm,
             CAST(SUM(y) AS BIGINT) AS sy_arm
      FROM u GROUP BY arm)
    SELECT a.arm,
           a.n_arm AS n_users,
           CAST(FLOOR(a.sy_arm * 1000000.0 / a.n_arm) AS BIGINT)
             AS mean_y_micro,
           CAST(FLOOR(th.theta * 1000000) AS BIGINT) AS theta_micro,
           CAST(FLOOR(
             (CAST(a.sy_arm AS DOUBLE) / a.n_arm
              - th.theta * (CAST(a.sx_arm AS DOUBLE) / a.n_arm
                            - CAST(th.sx AS DOUBLE) / th.n)) * 1000000)
             AS BIGINT) AS mean_y_cuped_micro
    FROM a, th
    """,
)
def events_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM 2013) for the A/B
    readout: regress the experiment-period metric Y (post-split
    purchases per user) on the PRE-period covariate X (pre-split
    activity), and report each arm's mean of the adjusted metric
    Y − θ·(X − X̄). Pre-period behavior is unaffected by treatment, so
    the adjustment shifts nothing in expectation while absorbing the
    between-user variance that X predicts — the standard way real
    experimentation platforms tighten confidence intervals without
    more traffic.

    The time split is the midpoint of the observed event-time range
    (integer epoch-microsecond arithmetic, engine-identical); θ and
    the adjusted means come from exact BIGINT sufficient statistics
    with one IEEE double expression at the end, floored to
    micro-units — the Welch readout's exactness contract.

    Plan: one corpus-scale (user_id)-keyed agg (the 1-row time bound
    broadcast onto it); everything after runs on per-user rows and
    2-row arm aggregates."""
    e = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    b = e.agg(
        (
            F.min(F.unix_micros(F.col("ts").cast("timestamp")))
            + (
                (F.max(F.unix_micros(F.col("ts").cast("timestamp"))) - F.min(F.unix_micros(F.col("ts").cast("timestamp"))))
                / F.lit(2)
            ).cast("bigint")
        ).alias("t_split")
    )
    u = (
        e.crossJoin(F.broadcast(b))
        .groupBy(
            "user_id", (F.col("user_id") % 2).cast("bigint").alias("arm")
        )
        .agg(
            F.sum(
                F.when(F.unix_micros(F.col("ts").cast("timestamp")) < F.col("t_split"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("x"),
            F.sum(
                F.when(
                    (F.unix_micros(F.col("ts").cast("timestamp")) >= F.col("t_split"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("y"),
        )
    )
    u = persist_tracked(u)  # per-user stats feed θ AND the arm rollup
    g = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    th = g.select(
        "n",
        "sx",
        "sy",
        (
            (F.col("sxy") - F.col("sx").cast("double") * F.col("sy") / F.col("n"))
            / (
                F.col("sxx")
                - F.col("sx").cast("double") * F.col("sx") / F.col("n")
            )
        ).alias("theta"),
    )
    a = u.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_arm"),
        F.sum("x").alias("sx_arm"),
        F.sum("y").alias("sy_arm"),
    )
    j = a.crossJoin(F.broadcast(th))
    return j.select(
        "arm",
        F.col("n_arm").alias("n_users"),
        F.floor(F.col("sy_arm") * 1000000.0 / F.col("n_arm"))
        .cast("bigint")
        .alias("mean_y_micro"),
        F.floor(F.col("theta") * 1000000).cast("bigint").alias("theta_micro"),
        F.floor(
            (
                F.col("sy_arm").cast("double") / F.col("n_arm")
                - F.col("theta")
                * (
                    F.col("sx_arm").cast("double") / F.col("n_arm")
                    - F.col("sx").cast("double") / F.col("n")
                )
            )
            * 1000000
        )
        .cast("bigint")
        .alias("mean_y_cuped_micro"),
    )


@CAT.query(
    "events_interval_coverage",
    oracle="""
    WITH iv AS (
      SELECT user_id,
             epoch_us(ts) AS s,
             epoch_us(ts) + 600000000 AS e
      FROM events),
    m AS (
      SELECT user_id, s, e,
             MAX(e) OVER (PARTITION BY user_id ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS prev_e
      FROM iv),
    isl AS (
      SELECT user_id, s, e,
             SUM(CASE WHEN prev_e IS NULL OR s > prev_e THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS island
      FROM m),
    per AS (
      SELECT user_id, island,
             MAX(e) - MIN(s) AS covered_us
      FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           CAST(SUM(covered_us) AS BIGINT) AS covered_us
    FROM per GROUP BY user_id
    """,
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event projects a 10-minute
    activity interval; per user, overlapping intervals merge and the
    answer is the total UNION length plus the number of disjoint
    activity islands. This is the sweep-line "islands and gaps" shape
    (distinct from sessionization's gap-splitting: here interval
    LENGTH matters, and the union length is what billing/uptime/SLA
    queries actually charge for).

    Distributed form: the sweep needs no sort of the whole corpus —
    one window per user (running max of interval end over preceding
    rows) marks island starts, a cumulative sum numbers islands, and
    two keyed aggregations finish. All arithmetic in exact epoch
    microseconds (BIGINT), so the oracle hashes identically.

    Tie safety: rows with equal (user, ts) have equal interval ends,
    so the running max and the island boundaries are order-stable
    under any tie order — required, since Spark and DuckDB sort ties
    differently.

    Scale: everything is partitioned by user_id — the window, the
    island rollup, and the final agg reuse ONE shuffle (Exchange
    reuse on the same key); no global sort, no driver state. Skewed
    mega-users bound the window state at one user's rows, the same
    bound sessionization already accepts."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = _events(spark, sf_dir).select(
        "user_id", us.alias("s"), (us + 600000000).alias("e")
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = (
        iv.withColumn("prev_e", F.max("e").over(w_prev))
        .withColumn(
            "new_island",
            F.when(
                F.col("prev_e").isNull() | (F.col("s") > F.col("prev_e")), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("new_island").over(w_cum))
    )
    per = isl.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("covered_us")
    )
    return per.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered_us").cast("bigint").alias("covered_us"),
    )


# Benford expected first-digit probabilities, log10(1 + 1/d), baked as
# DECIMAL LITERALS into both engines' expressions: log10 is not
# guaranteed correctly-rounded (unlike +,-,*,/,sqrt), so computing it
# live in two math libraries could differ by an ulp and flip a
# micro-floor. The literals are exact and identical by construction.
_BENFORD_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829992",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}

_BENFORD_CASE = " ".join(
    f"WHEN {d} THEN {p}" for d, p in _BENFORD_P.items()
)


@CAT.query(
    "stats_benford_digits",
    oracle=f"""
    WITH o AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice*100) AS BIGINT)
                         AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders
      WHERE CAST(ROUND(o_totalprice*100) AS BIGINT) > 0),
    c AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM o GROUP BY digit),
    t AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM c)
    SELECT digit, n_obs,
           CAST(FLOOR(n_obs * 1000000.0 / n) AS BIGINT) AS obs_ppm,
           CAST(FLOOR(CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE) * 1000000)
             AS BIGINT) AS exp_ppm,
           CAST(FLOOR(
             power(n_obs - n * CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE), 2)
             / (n * CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE)) * 1000000)
             AS BIGINT) AS chi2_cell_micro
    FROM c, t
    """,
)
def stats_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: first-significant-
    digit frequencies vs log10(1+1/d), with per-digit chi-square
    contributions — the standard forensic-accounting / synthetic-data
    smell test (TPC-H's uniform price generator should NOT be
    Benford, and the chi2 column quantifies exactly how far off).

    Exactness: the first digit comes from the decimal rendering of
    the exact cents BIGINT (both engines render integers
    identically — no float formatting); counts are exact; the
    expected probabilities are shared decimal literals (see
    _BENFORD_P — log10 is deliberately NOT computed live); the chi2
    cell is one IEEE double expression over exact ints, micro-floored.

    Scale: one map-side-combined groupBy onto ≤9 cells, then a 9-row
    rollup crossJoin-attached (1-row broadcast). The corpus is
    touched once, two columns read."""
    cts = cents("o_totalprice")
    o = (
        load_table(spark, sf_dir, "orders")
        .select(cts.alias("cents"))
        .filter(F.col("cents") > 0)
        .select(
            F.substring(F.col("cents").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
    )
    c = o.groupBy("digit").agg(F.count(F.lit(1)).alias("n_obs"))
    t = c.agg(F.sum("n_obs").cast("bigint").alias("n"))
    p = F.expr(f"CAST(CASE digit {_BENFORD_CASE} END AS DOUBLE)")
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n_obs",
        F.floor(F.col("n_obs") * 1000000.0 / F.col("n"))
        .cast("bigint")
        .alias("obs_ppm"),
        F.floor(p * 1000000).cast("bigint").alias("exp_ppm"),
        F.floor(
            F.pow(F.col("n_obs") - F.col("n") * p, F.lit(2))
            / (F.col("n") * p)
            * 1000000
        )
        .cast("bigint")
        .alias("chi2_cell_micro"),
    )


@CAT.query(
    "events_chisq_independence",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             ((datediff('day', DATE '1970-01-01', CAST(ts AS DATE))
               % 7 + 3) % 7) + 1 AS iso_dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, iso_dow, o,
             SUM(o) OVER (PARTITION BY event_type) AS r,
             SUM(o) OVER (PARTITION BY iso_dow) AS c,
             SUM(o) OVER () AS n
      FROM cells),
    contrib AS (
      SELECT o, r, c, n,
             CAST(FLOOR(
               power(o - CAST(r AS DOUBLE) * c / n, 2)
               / (CAST(r AS DOUBLE) * c / n) * 1000000) AS BIGINT)
               AS chi2_cell_micro
      FROM m)
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST((COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1)
             AS BIGINT) AS dof_upper,
           CAST(SUM(chi2_cell_micro) AS BIGINT) AS chi2_micro
    FROM contrib
    """,
)
def events_chisq_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and
    ISO weekday — "does behavior depend on the day?", the categorical
    counterpart of the Welch readout. Reported: N, occupied cell
    count, a degrees-of-freedom bound, and the chi-square statistic
    in micro-units.

    Determinism is the whole design: each cell's (O−E)²/E is one IEEE
    expression over exact BIGINTs (E = r·c/N in double — every op
    correctly rounded) FLOORED TO MICROS PER CELL, and the statistic
    is the *integer* sum of those fixed-point cells — so no
    float-summation-order divergence between engines is possible
    (the bigram-surprisal micro-nat pattern). dof is derived from
    DISTINCT marginal values as a cheap upper bound — exact dof needs
    the marginal count, which the occupied-cell grid already implies
    for any non-degenerate corpus.

    Scale: one corpus groupBy onto a types×7 grid; the three marginal
    windows and the final 1-row rollup run on ≤|types|·7 rows."""
    e = _events(spark, sf_dir)
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cells = (
        e.select(
            "event_type", ((d % 7 + 3) % 7 + 1).cast("int").alias("iso_dow")
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    m = (
        cells.withColumn(
            "r", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("c", F.sum("o").over(Window.partitionBy("iso_dow")))
        .withColumn(
            "n",
            F.sum("o").over(
                Window.partitionBy()  # whole (tiny) grid
            ),
        )
    )
    ex = F.col("r").cast("double") * F.col("c") / F.col("n")
    contrib = m.withColumn(
        "chi2_cell_micro",
        F.floor(F.pow(F.col("o") - ex, F.lit(2)) / ex * 1000000).cast(
            "bigint"
        ),
    )
    return contrib.agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).alias("n_cells"),
        ((F.countDistinct("r") - 1) * (F.countDistinct("c") - 1))
        .cast("bigint")
        .alias("dof_upper"),
        F.sum("chi2_cell_micro").cast("bigint").alias("chi2_micro"),
    )


# Poisson(1) CDF thresholds scaled to 2^60, as EXACT INTEGER literals
# (floor(cdf(k) * 2^60), k = 0..7): the bootstrap weight of a
# (user, replicate) cell is the count of thresholds <= its 60-bit md5
# draw — pure integer comparisons, so both engines agree bit-for-bit
# without ever comparing floats. P(X > 8) < 1e-6 is truncated to 8.
_POIS_T = [
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
]

_BOOT_B = 100  # bootstrap replicates


@CAT.query(
    "stats_bootstrap_ci_poisson",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1),
    pt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(FLOOR(SUM(k) * 1000000.0 / COUNT(*)) AS BIGINT)
               AS point_mean_micro
      FROM u),
    cells AS (
      SELECT u.user_id, u.k, b.b,
             CAST(concat('0x', substring(md5(concat(
               CAST(u.user_id AS VARCHAR), ':', CAST(b.b AS VARCHAR))),
               1, 15)) AS BIGINT) AS h
      FROM u, (SELECT unnest(generate_series(0, {_BOOT_B - 1})) AS b) b),
    wts AS (
      SELECT b, k,
             {" + ".join(f"(CASE WHEN h >= {t} THEN 1 ELSE 0 END)"
                         for t in _POIS_T)} AS w
      FROM cells),
    reps AS (
      SELECT b,
             CAST(FLOOR(SUM(w * k) * 1000000.0 / SUM(w)) AS BIGINT)
               AS mean_micro
      FROM wts GROUP BY b HAVING SUM(w) > 0),
    ranked AS (
      SELECT mean_micro,
             ROW_NUMBER() OVER (ORDER BY mean_micro) AS rn,
             COUNT(*) OVER () AS nb
      FROM reps)
    SELECT pt.n_users, pt.point_mean_micro,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(nb * 0.025) AS BIGINT)
                    THEN mean_micro END) AS BIGINT) AS ci_lo_micro,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(nb * 0.975) AS BIGINT)
                    THEN mean_micro END) AS BIGINT) AS ci_hi_micro,
           CAST(MAX(nb) AS BIGINT) AS n_replicates
    FROM ranked, pt
    GROUP BY pt.n_users, pt.point_mean_micro
    """,
)
def stats_bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean purchases-per-user
    via the POISSON bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams", Google 2012) — the resampling scheme
    that actually works at 100 TB: classical bootstrap needs to draw n
    rows WITH replacement n times (a global shuffle per replicate, B
    passes), while Poisson(1) weights are independent per row, so ALL
    B replicates materialize in ONE pass as a B-way explode + one
    keyed aggregation.

    Determinism is the design: each (user, replicate) draw is the
    60-bit md5 integer, and its Poisson weight is the count of
    precomputed integer CDF thresholds (<= 2^60 scale) below it —
    integer compares only, no RNG, no floats until the final
    mean-per-replicate division (one micro-floored IEEE op). The CI is
    the nearest-rank 2.5%/97.5% replicate mean via ROW_NUMBER — no
    percentile-interpolation convention to disagree on.

    Plan: one corpus agg to per-user counts, a B-way explode of the
    (much smaller) user frame, one (replicate)-keyed agg to B rows,
    a 100-row window, and two 1-row broadcast attaches. The corpus is
    read once; the explode inflates users × B, never events × B."""
    u = (
        _events(spark, sf_dir)
        .select("user_id", "event_type")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("k")
        )
    )
    u = persist_tracked(u)
    pt = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.floor(F.sum("k") * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("point_mean_micro"),
    )
    cells = u.select(
        "user_id",
        "k",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_B - 1))).alias("b"),
    ).withColumn(
        "h",
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("user_id").cast("string"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint"),
    )
    w = sum(
        (F.col("h") >= F.lit(t)).cast("int") for t in _POIS_T
    )
    reps = (
        cells.select("b", "k", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("k")).alias("wk"),
            F.sum("w").alias("sw"),
        )
        .filter(F.col("sw") > 0)
        .select(
            F.floor(F.col("wk") * 1000000.0 / F.col("sw"))
            .cast("bigint")
            .alias("mean_micro")
        )
    )
    wspec = Window.orderBy("mean_micro")
    ranked = reps.withColumn("rn", F.row_number().over(wspec)).withColumn(
        "nb", F.count(F.lit(1)).over(Window.partitionBy())
    )
    ci = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("nb") * 0.025).cast("bigint"),
                F.col("mean_micro"),
            )
        )
        .cast("bigint")
        .alias("ci_lo_micro"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("nb") * 0.975).cast("bigint"),
                F.col("mean_micro"),
            )
        )
        .cast("bigint")
        .alias("ci_hi_micro"),
        F.max("nb").cast("bigint").alias("n_replicates"),
    )
    return pt.crossJoin(F.broadcast(ci)).select(
        "n_users",
        "point_mean_micro",
        "ci_lo_micro",
        "ci_hi_micro",
        "n_replicates",
    )


@CAT.query(
    "orders_theilsen_trend",
    oracle="""
    WITH m AS (
      SELECT (EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate)) AS mi,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    pairs AS (
      SELECT b.rev - a.rev AS dy, b.mi - a.mi AS dx
      FROM m a JOIN m b ON a.mi < b.mi),
    slopes AS (
      SELECT CAST(FLOOR(CAST(dy AS DOUBLE) / dx * 1000000) AS BIGINT)
               AS slope_micro
      FROM pairs),
    ranked AS (
      SELECT slope_micro,
             ROW_NUMBER() OVER (ORDER BY slope_micro) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes)
    SELECT CAST((SELECT COUNT(*) FROM m) AS BIGINT) AS n_months,
           CAST(MAX(np) AS BIGINT) AS n_pairs,
           CAST(FLOOR((MAX(CASE WHEN rn = (np + 1) // 2
                           THEN slope_micro END)
                 + MAX(CASE WHEN rn = np // 2 + 1
                           THEN slope_micro END)) / 2.0) AS BIGINT)
             AS slope_cents_per_month_micro
    FROM ranked
    """,
)
def orders_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen trend estimator on monthly order revenue: the MEDIAN
    of all pairwise month-to-month slopes — the robust alternative to
    OLS (the Zipf fit's estimator) that a single promo-spike month
    cannot drag, which is why monitoring pipelines prefer it for
    revenue/latency trend alarms.

    Exactness: monthly revenues are exact cents; each pairwise slope
    is one IEEE division micro-floored to BIGINT; the median is the
    average of the two middle order statistics via ROW_NUMBER (exact
    nearest-rank selection — no percentile interpolation convention),
    floored once more for the odd/even unification.

    Scale: the corpus aggregates to ONE row per month before anything
    quadratic happens — the self-join is |months|², i.e. a few
    hundred rows for years of data (the same bounded-domain argument
    as the dow×hour heatmap). The window runs on that same tiny
    frame. If the time grain were per-second, the right tool is the
    repeated-median variant over bounded buckets — documented, not
    needed at a monthly grain."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mi"
            )
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    m = persist_tracked(m)
    a = m.select(F.col("mi").alias("mia"), F.col("rev").alias("reva"))
    b = m.select(F.col("mi").alias("mib"), F.col("rev").alias("revb"))
    slopes = (
        a.join(F.broadcast(b), F.col("mia") < F.col("mib"))
        .select(
            F.floor(
                (F.col("revb") - F.col("reva")).cast("double")
                / (F.col("mib") - F.col("mia"))
                * 1000000
            )
            .cast("bigint")
            .alias("slope_micro")
        )
    )
    ranked = slopes.withColumn(
        "rn", F.row_number().over(Window.orderBy("slope_micro"))
    ).withColumn("np", F.count(F.lit(1)).over(Window.partitionBy()))
    med = ranked.agg(
        F.max("np").cast("bigint").alias("n_pairs"),
        F.floor(
            (
                F.max(
                    F.when(
                        F.col("rn") == F.expr("(np + 1) div 2"),
                        F.col("slope_micro"),
                    )
                )
                + F.max(
                    F.when(
                        F.col("rn") == F.expr("np div 2 + 1"),
                        F.col("slope_micro"),
                    )
                )
            )
            / 2.0
        )
        .cast("bigint")
        .alias("slope_cents_per_month_micro"),
    )
    nm = m.agg(F.count(F.lit(1)).cast("bigint").alias("n_months"))
    return nm.crossJoin(F.broadcast(med)).select(
        "n_months", "n_pairs", "slope_cents_per_month_micro"
    )


@CAT.query(
    "dq_freshness_report",
    oracle="""
    WITH b AS (
      SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1,
             max(epoch_us(ts)) AS corpus_max_us
      FROM events),
    days AS (
      SELECT CAST(unnest(range(d0, d1 + INTERVAL 1 DAY,
                               INTERVAL 1 DAY)) AS DATE) AS day,
             corpus_max_us
      FROM b),
    daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             max(epoch_us(ts)) AS day_max_us
      FROM events GROUP BY 1)
    SELECT CAST(days.day AS TIMESTAMP) AS day,
           COALESCE(daily.n_events, 0) AS n_events,
           COALESCE(daily.n_users, 0) AS n_users,
           CAST(daily.day_max_us AS BIGINT) AS day_max_us,
           CASE WHEN daily.day IS NULL THEN NULL
                ELSE CAST(days.corpus_max_us - daily.day_max_us AS BIGINT)
           END AS staleness_us,
           CAST(CASE WHEN daily.day IS NULL THEN 1 ELSE 0 END AS INT)
             AS is_gap
    FROM days LEFT JOIN daily ON days.day = daily.day
    """,
)
def dq_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition freshness/completeness report — the data-quality view
    an ingestion SLA dashboard renders: one row per calendar day in
    the observed range, with event and user counts, the day's last
    arrival time, its staleness relative to the corpus high-water
    mark, and an explicit gap flag for days with NO data (absence is
    the defect the plain GROUP BY can't surface — the spine makes
    missing partitions first-class rows).

    Scale: the fact table collapses to |days| rows via one map-side-
    combined groupBy; the day spine derives from a 1-row min/max
    broadcast (the gapfill pattern); the final join is spine-sized.
    distinct-user counts are exact (count-distinct shuffle bounded by
    |days| groups); staleness is exact epoch-microsecond integer
    arithmetic."""
    e = _events(spark, sf_dir)
    b = e.agg(
        F.min(F.to_date("ts")).alias("d0"),
        F.max(F.to_date("ts")).alias("d1"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
            "corpus_max_us"
        ),
    )
    days = b.select(
        F.explode(F.sequence("d0", "d1")).alias("day"), "corpus_max_us"
    )
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias(
            "day_max_us"
        ),
    )
    return (
        days.join(daily, "day", "left")
        .select(
            F.col("day").cast("timestamp").alias("day"),
            F.coalesce("n_events", F.lit(0)).cast("bigint").alias(
                "n_events"
            ),
            F.coalesce("n_users", F.lit(0)).cast("bigint").alias("n_users"),
            F.col("day_max_us").cast("bigint").alias("day_max_us"),
            F.when(
                F.col("day_max_us").isNotNull(),
                F.col("corpus_max_us") - F.col("day_max_us"),
            )
            .cast("bigint")
            .alias("staleness_us"),
            F.when(F.col("day_max_us").isNull(), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_gap"),
        )
    )


_COPRES_K = 10  # co-presence anchor set: the K most active users
_SESS_GAP_US = 30 * 60 * 1_000_000  # session gap, 30 min


@CAT.query(
    "events_copresence_topk",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us FROM events),
    topk AS (
      SELECT user_id FROM ev GROUP BY user_id
      ORDER BY COUNT(*) DESC, user_id LIMIT {_COPRES_K}),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                    > {_SESS_GAP_US} OR
                  LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev),
    numbered AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM marked),
    sess AS (
      SELECT user_id, sid, MIN(us) AS s0, MAX(us) AS s1
      FROM numbered GROUP BY user_id, sid),
    anchor AS (SELECT sess.* FROM sess JOIN topk USING (user_id)),
    ov AS (
      SELECT a.user_id AS anchor_user, o.user_id AS other_user,
             LEAST(a.s1, o.s1) - GREATEST(a.s0, o.s0) AS ov_us
      FROM anchor a JOIN sess o
        ON a.s0 <= o.s1 AND o.s0 <= a.s1 AND a.user_id != o.user_id)
    SELECT anchor_user, other_user,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(ov_us) AS BIGINT) AS total_overlap_us
    FROM ov GROUP BY 1, 2
    """,
)
def events_copresence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join: for the K most active users (the
    anchors), find every other user whose activity SESSIONS overlap
    the anchor's sessions in time, with overlap counts and total
    overlapping microseconds — the co-presence primitive behind
    fraud-ring detection and collaboration analytics.

    The join predicate is the interval-overlap theta condition
    (a.s0 <= o.s1 AND o.s0 <= a.s1), which no equi-join expresses.
    This entry is the K-ANCHORED report: the anchor side is
    deliberately BOUNDED (K users' sessions — top-K by activity,
    deterministic ties) and broadcast, so the big session frame
    streams through a broadcast nested-loop once with no shuffle at
    all — the right plan when one side is bounded by construction.
    The unbounded ALL-PAIRS production scale path is its sibling
    ``events_copresence_bucketed`` (same module): it equi-joins on
    coarse time buckets (each session exploded to the buckets it
    spans) and applies this exact predicate per bucket, Θ(per-bucket
    pairs) with no broadcast of anything unbounded. Use topk when you
    have anchors, bucketed when you need every pair.

    Sessions are the standard 30-min-gap sessionization (one window
    per user — the sessionize exchange); overlap lengths are exact
    epoch-microsecond integers."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = _events(spark, sf_dir).select("user_id", us.alias("us"))
    ev = persist_tracked(ev)
    topk = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "user_id")
        .limit(_COPRES_K)
        .select("user_id")
    )
    w = Window.partitionBy("user_id").orderBy("us")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        ev.withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("us") - F.col("prev") > _SESS_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wcum))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s0"), F.max("us").alias("s1"))
    )
    sess = persist_tracked(sess)
    anchor = sess.join(F.broadcast(topk), "user_id").select(
        F.col("user_id").alias("anchor_user"),
        F.col("s0").alias("a0"),
        F.col("s1").alias("a1"),
    )
    ov = sess.join(
        F.broadcast(anchor),
        (F.col("a0") <= F.col("s1"))
        & (F.col("s0") <= F.col("a1"))
        & (F.col("anchor_user") != F.col("user_id")),
    ).select(
        "anchor_user",
        F.col("user_id").alias("other_user"),
        (
            F.least("a1", "s1") - F.greatest("a0", "s0")
        ).alias("ov_us"),
    )
    return ov.groupBy("anchor_user", "other_user").agg(
        F.count(F.lit(1)).alias("n_overlaps"),
        F.sum("ov_us").cast("bigint").alias("total_overlap_us"),
    )


@CAT.query(
    "orders_ewma_monthly",
    oracle="""
    WITH m AS (
      SELECT (EXTRACT(year FROM o_orderdate) * 12
              + EXTRACT(month FROM o_orderdate)) AS mi,
             CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT)
               AS rev
      FROM orders GROUP BY 1),
    idx AS (
      SELECT mi, rev,
             ROW_NUMBER() OVER (ORDER BY mi) - 1 AS t
      FROM m),
    terms AS (
      SELECT cur.mi, cur.rev, cur.t,
             CASE WHEN past.t = 0 THEN
               CASE WHEN cur.t - past.t >= 62 THEN 0
                    ELSE (past.rev * 1000000) // (1 << (cur.t - past.t))
               END
             ELSE
               CASE WHEN cur.t - past.t + 1 >= 62 THEN 0
                    ELSE (past.rev * 1000000)
                         // (1 << (cur.t - past.t + 1))
               END
             END AS term_micro
      FROM idx cur JOIN idx past ON past.t <= cur.t)
    SELECT mi AS month_index, rev AS rev_cents,
           CAST(SUM(term_micro) AS BIGINT) AS ewma_cents_micro
    FROM terms GROUP BY mi, rev
    """,
)
def orders_ewma_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of monthly revenue with
    alpha = 1/2, computed WITHOUT any floating point: the recurrence
    s_t = alpha*x_t + (1-alpha)*s_(t-1) unrolls to dyadic weights
    2^-(t-j+1) (and 2^-t for the seed month), so each term is an
    integer shift-divide — (rev * 1e6) div 2^k — and the smoothed
    value is an exact integer sum. Both engines floor-divide
    non-negative BIGINTs identically, so parity is exact by
    construction rather than by IEEE luck (the one smoothing
    constant a binary computer can honor exactly; for general alpha
    the micro-floor-per-term double pattern applies).

    Scale: the corpus collapses to one row per month first; the
    unrolled triangular self-join is |months|²/2 rows — the same
    bounded-domain argument as Theil-Sen. The streaming counterpart
    (incremental-state EWMA) is what `stream_stateful_user_counters`
    demonstrates; this is the batch/backfill form."""
    m = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mi"
            )
        )
        .agg(F.sum(cents("o_totalprice")).cast("bigint").alias("rev"))
    )
    idx = m.withColumn(
        "t", F.row_number().over(Window.orderBy("mi")) - 1
    )
    idx = persist_tracked(idx)
    cur = idx.select(
        F.col("mi"), F.col("rev"), F.col("t").alias("tc")
    )
    past = idx.select(
        F.col("rev").alias("revp"), F.col("t").alias("tp")
    )
    terms = cur.join(
        F.broadcast(past), F.col("tp") <= F.col("tc")
    ).select(
        "mi",
        "rev",
        # shift capped at 62: a 2^-62 weight floors to 0 for any
        # realistic monthly revenue, and an uncapped shift would
        # overflow DuckDB / wrap in the JVM — divergently.
        F.expr(
            "CASE WHEN tp = 0 THEN "
            " CASE WHEN tc - tp >= 62 THEN CAST(0 AS BIGINT) "
            "  ELSE (revp * 1000000) div shiftleft(CAST(1 AS BIGINT), tc - tp) END "
            "ELSE "
            " CASE WHEN tc - tp + 1 >= 62 THEN CAST(0 AS BIGINT) "
            "  ELSE (revp * 1000000) div shiftleft(CAST(1 AS BIGINT), tc - tp + 1) END "
            "END"
        ).alias("term_micro"),
    )
    return terms.groupBy(
        F.col("mi").alias("month_index"), F.col("rev").alias("rev_cents")
    ).agg(F.sum("term_micro").cast("bigint").alias("ewma_cents_micro"))


@CAT.query(
    "events_bitmap_dau_rollup",
    oracle="""
    WITH tiles AS (
      SELECT date_trunc('week', CAST(ts AS DATE)) AS week,
             CAST(ts AS DATE) AS day,
             user_id // 63 AS widx,
             bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS word
      FROM events GROUP BY 1, 2, 3),
    weekly AS (
      SELECT week, widx, bit_or(word) AS word,
             CAST(COUNT(*) AS BIGINT) AS n_day_tiles
      FROM tiles GROUP BY week, widx)
    SELECT CAST(week AS TIMESTAMP) AS week,
           CAST(SUM(bit_count(word)) AS BIGINT) AS n_active_users,
           CAST(COUNT(*) AS BIGINT) AS n_tiles,
           CAST(SUM(n_day_tiles) AS BIGINT) AS n_day_tiles
    FROM weekly GROUP BY week
    """,
)
def events_bitmap_dau_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly active users via BITMAP TILES — the roaring-bitmap
    technique in plain SQL: each (day, word-index) tile packs 63
    users into one BIGINT word (bit k set = user widx*63+k was
    active), weekly distinct counts are then bit_or over the days
    followed by popcount, NO count-distinct shuffle of raw user ids.

    Why this matters at 100 TB: count(DISTINCT user) rollups over
    many grains re-shuffle the full id stream per grain, while bitmap
    tiles aggregate once at the finest grain (day) into a frame whose
    size is |days| × |id-space|/63 REGARDLESS of event volume; every
    coarser grain (week, month, arbitrary day ranges) is a cheap
    bit_or/popcount re-aggregation of tiles — the precomputed-tile
    pattern materialized views use for distinct counts. Tiles use
    63-bit words because both engines' 1 << 63 diverges (DuckDB
    overflows, the JVM wraps negative); 63 keeps every shift exact
    and the popcount identical.

    Exactness: bit_or and popcount are integer-exact and
    order-independent; the result equals count(DISTINCT) by
    construction (pinned in tests against countDistinct)."""
    e = _events(spark, sf_dir).select(
        F.date_trunc("week", F.to_date("ts"))
        .cast("timestamp")
        .alias("week"),
        F.to_date("ts").alias("day"),
        F.expr("user_id div 63").alias("widx"),
        F.expr(
            "shiftleft(CAST(1 AS BIGINT), CAST(pmod(user_id, 63) AS INT))"
        ).alias("mask"),
    )
    tiles = e.groupBy("week", "day", "widx").agg(
        F.bit_or("mask").alias("word")
    )
    weekly = tiles.groupBy("week", "widx").agg(
        F.bit_or("word").alias("word"),
        F.count(F.lit(1)).alias("n_day_tiles"),
    )
    return weekly.groupBy("week").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_active_users"),
        F.count(F.lit(1)).alias("n_tiles"),
        F.sum("n_day_tiles").cast("bigint").alias("n_day_tiles"),
    )


_MC_SCALE = 1_000_000
_MC_ITERS = 3


def _mc_iter_sql(prev: str, out: str) -> str:
    """One integer fixed-point Markov step: incoming mass
    sum_i (p_i * c_ij) div r_i, with dangling states (no outgoing
    transitions) retaining their own mass."""
    return f"""
    {out} AS (
      SELECT s.i,
             CAST(COALESCE(inc.v, 0)
                  + CASE WHEN rt.r IS NULL THEN p.p ELSE 0 END
               AS BIGINT) AS p
      FROM states s
      JOIN {prev} p ON p.i = s.i
      LEFT JOIN rowtot rt ON rt.i = s.i
      LEFT JOIN (
        SELECT t.j AS i, SUM((pp.p * t.c) // rt2.r) AS v
        FROM trans t
        JOIN {prev} pp ON pp.i = t.i
        JOIN rowtot rt2 ON rt2.i = t.i
        GROUP BY t.j) inc ON inc.i = s.i)
    """


@CAT.query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type AS j,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS i
      FROM events),
    trans AS (
      SELECT i, j, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE i IS NOT NULL GROUP BY i, j),
    states AS (
      SELECT DISTINCT i FROM (
        SELECT i FROM trans UNION ALL SELECT j FROM trans)),
    rowtot AS (SELECT i, CAST(SUM(c) AS BIGINT) AS r FROM trans GROUP BY i),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM states),
    p0 AS (SELECT i, CAST({_MC_SCALE} // ns.n AS BIGINT) AS p
           FROM states, ns),
    {_mc_iter_sql("p0", "p1")},
    {_mc_iter_sql("p1", "p2")},
    {_mc_iter_sql("p2", "p3")}
    SELECT i AS event_type, p AS pi_micro FROM p3
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the user-behavior Markov chain:
    event-to-event transition probabilities estimated from each
    user's time-ordered stream, then 3 synchronous power-iteration
    steps from the uniform start — "where does a user's session
    settle?", the behavioral-equilibrium readout next to the
    one-step transition matrix entry.

    Determinism is the fixed-point-PageRank contract: transition
    counts and row totals are exact BIGINTs; each step moves
    (p_i * c_ij) div r_i micro-units of mass — floor division of
    non-negative integers, identical in any engine at any partition
    order; dangling states retain their mass explicitly. Consecutive
    pairs are ordered by (ts, event_id) so equal timestamps cannot
    make the transition counts ambiguous.

    Scale: the corpus collapses to |states|² transition counts via
    one sessionize-keyed window plus one groupBy; the iteration runs
    on state-sized frames (here event types; the same pipeline
    handles product/page state spaces where |states|² is millions —
    still tiny next to the event log)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("j"),
        F.lag("event_type").over(w).alias("i"),
    )
    trans = persist_tracked(
        seq.filter(F.col("i").isNotNull())
        .groupBy("i", "j")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    states = persist_tracked(
        trans.select("i")
        .unionAll(trans.select(F.col("j").alias("i")))
        .distinct()
    )
    rowtot = persist_tracked(
        trans.groupBy("i").agg(F.sum("c").cast("bigint").alias("r"))
    )
    ns = states.agg(F.count(F.lit(1)).alias("n"))
    p = states.crossJoin(F.broadcast(ns)).select(
        "i", F.expr(f"CAST({_MC_SCALE} div n AS BIGINT)").alias("p")
    )
    for _ in range(_MC_ITERS):
        inc = (
            trans.join(
                F.broadcast(
                    p.select(
                        F.col("i").alias("pi"), F.col("p").alias("pp")
                    )
                ),
                F.col("i") == F.col("pi"),
            )
            .join(
                F.broadcast(
                    rowtot.select(
                        F.col("i").alias("ri"), F.col("r").alias("rr")
                    )
                ),
                F.col("i") == F.col("ri"),
            )
            .groupBy(F.col("j").alias("inc_i"))
            .agg(F.sum(F.expr("(pp * c) div rr")).alias("v"))
        )
        p = (
            states.join(
                F.broadcast(
                    p.select(
                        F.col("i").alias("pi"), F.col("p").alias("pp")
                    )
                ),
                F.col("i") == F.col("pi"),
            )
            .join(
                F.broadcast(
                    rowtot.select(
                        F.col("i").alias("ri"), F.col("r").alias("rr")
                    )
                ),
                F.col("i") == F.col("ri"),
                "left",
            )
            .join(F.broadcast(inc), F.col("i") == F.col("inc_i"), "left")
            .select(
                "i",
                (
                    F.coalesce("v", F.lit(0))
                    + F.when(
                        F.col("rr").isNull(), F.col("pp")
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("p"),
            )
        )
    return p.select(
        F.col("i").alias("event_type"), F.col("p").alias("pi_micro")
    )


@CAT.query(
    "orders_kaplan_meier",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS dmax FROM orders),
    per AS (
      SELECT o_custkey,
             MIN(CAST(o_orderdate AS DATE)) AS d1,
             CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS ev
      FROM orders GROUP BY o_custkey),
    second AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS d2
      FROM (
        SELECT o_custkey, o_orderdate,
               ROW_NUMBER() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders) x
      WHERE rn = 2),
    subj AS (
      SELECT per.o_custkey, per.ev,
             CASE WHEN per.ev = 1
                  THEN datediff('day', per.d1, second.d2)
                  ELSE datediff('day', per.d1, mx.dmax)
             END AS t
      FROM per LEFT JOIN second ON per.o_custkey = second.o_custkey, mx),
    km AS (
      SELECT t,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM subj GROUP BY t),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM subj),
    risk AS (
      SELECT km.t, km.d, km.c,
             tot.n - COALESCE(SUM(km.d + km.c) OVER (
               ORDER BY km.t ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS n_risk
      FROM km, tot),
    terms AS (
      SELECT t, d, c, n_risk,
             CASE WHEN d < n_risk THEN
               CAST(FLOOR(ln(1 - CAST(d AS DOUBLE) / n_risk) * 1000000)
                 AS BIGINT)
             ELSE NULL END AS term,
             CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS hits_zero
      FROM risk)
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           d AS n_events, c AS n_censored,
           CASE WHEN MAX(hits_zero) OVER (
                  ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) = 1 THEN NULL
                ELSE CAST(SUM(term) OVER (
                  ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                  AND CURRENT ROW) AS BIGINT)
           END AS cum_log_surv_micro
    FROM terms
    """,
)
def orders_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for repeat-purchase latency: time
    from a customer's first order to their second, with one-order
    customers RIGHT-CENSORED at the corpus horizon — the estimator
    behind retention/churn curves, where naively dropping censored
    users biases survival low.

    Cross-engine exactness: d_i, c_i, n_i are exact integers from one
    keyed window + one groupBy; each step's ln(1 - d/n) is a single
    IEEE expression micro-floored (the micro-nat pattern), and the
    curve is the INTEGER cumulative sum of step terms — so the usual
    float-product formulation (whose accumulated rounding differs by
    evaluation order) is replaced by an order-independent fixed-point
    log-survival. When a step absorbs everyone at risk (d = n), the
    survival hits exactly zero and the log is reported NULL from that
    step on — an explicit CASE, not an engine-dependent -inf.

    Scale: per-subject times come from one (custkey)-partitioned
    window over orders; the KM table is |distinct times| rows
    (bounded by the calendar, like the month grid), so the global
    ordered windows run on a domain-bounded frame; the horizon is a
    1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.to_date("o_orderdate")).alias("dmax"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ranked = o.select(
        "o_custkey",
        F.to_date("o_orderdate").alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    per = ranked.groupBy("o_custkey").agg(
        F.min("d").alias("d1"),
        F.max(F.when(F.col("rn") == 2, F.col("d"))).alias("d2"),
        F.when(F.count(F.lit(1)) >= 2, 1).otherwise(0).alias("ev"),
    )
    subj = per.crossJoin(F.broadcast(mx)).select(
        "ev",
        F.when(
            F.col("ev") == 1, F.datediff("d2", "d1")
        )
        .otherwise(F.datediff("dmax", "d1"))
        .alias("t"),
    )
    km = subj.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.sum(1 - F.col("ev")).cast("bigint").alias("c"),
    )
    tot = subj.agg(F.count(F.lit(1)).alias("n"))
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = km.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk",
        F.col("n")
        - F.coalesce(
            F.sum(F.col("d") + F.col("c")).over(wprev), F.lit(0)
        ),
    )
    terms = risk.withColumn(
        "term",
        F.when(
            F.col("d") < F.col("n_risk"),
            F.floor(
                F.log(1 - F.col("d").cast("double") / F.col("n_risk"))
                * 1000000
            ).cast("bigint"),
        ),
    ).withColumn(
        "hits_zero",
        F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0),
    )
    return terms.select(
        F.col("t").cast("bigint").alias("t_days"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        F.when(
            F.max("hits_zero").over(wcum) == 1, F.lit(None).cast("bigint")
        )
        .otherwise(F.sum("term").over(wcum).cast("bigint"))
        .alias("cum_log_surv_micro"),
    )


@CAT.query(
    "events_gapfill_linear",
    oracle="""
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
    j AS (SELECT sp.d, dr.y FROM sp LEFT JOIN dr USING (d)),
    w AS (
      SELECT d, y,
             last_value((CASE WHEN y IS NOT NULL THEN d END) IGNORE NULLS)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS d_prev,
             last_value(y IGNORE NULLS)
               OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS y_prev,
             first_value((CASE WHEN y IS NOT NULL THEN d END) IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS d_next,
             first_value(y IGNORE NULLS)
               OVER (ORDER BY d ROWS BETWEEN CURRENT ROW
                     AND UNBOUNDED FOLLOWING) AS y_next
      FROM j)
    SELECT d,
           CAST(y IS NULL AS BOOLEAN) AS interpolated,
           CAST(CASE WHEN y IS NOT NULL THEN y * 1000000
                     ELSE (y_prev * CAST(d_next - d AS BIGINT)
                           + y_next * CAST(d - d_prev AS BIGINT)) * 1000000
                          // CAST(d_next - d_prev AS BIGINT)
                END AS BIGINT) AS value_micro
    FROM w
    """,
)
def events_gapfill_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase counts with interior gaps filled by LINEAR
    interpolation (the numeric complement of the LOCF fill in
    ``events_gapfill_locf``): a missing day takes the distance-
    weighted blend of its nearest known neighbors.

    Exactness: the blend is the barycentric form
    ``(y0·(d1−d) + y1·(d−d0)) · 1e6 div (d1−d0)`` — the numerator is
    a sum of PRODUCTS OF NON-NEGATIVE integers, so the integer
    division cannot straddle the engines' different negative-division
    conventions (Spark div truncates; so does DuckDB's //, but
    neither is exercised). Spine endpoints are known days by
    construction (min/max come from the data), so every gap is
    interior and y_prev/y_next always exist.

    Scale shape: one corpus pass (date-keyed count), then windows
    over the calendar-bounded daily frame. The unpartitioned windows
    run on |days| rows — a few thousand for a decade — NOT the
    corpus; this is the documented exception to the no-global-window
    rule (same as the date-spine ops).
    """
    e = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    dr = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    bounds = e.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    j = spine.join(dr, "d", "left")
    w_back = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    w_fwd = Window.orderBy("d").rowsBetween(0, Window.unboundedFollowing)
    known_d = F.when(F.col("y").isNotNull(), F.col("d"))
    w = (
        j.withColumn("d_prev", F.last(known_d, ignorenulls=True).over(w_back))
        .withColumn("y_prev", F.last("y", ignorenulls=True).over(w_back))
        .withColumn("d_next", F.first(known_d, ignorenulls=True).over(w_fwd))
        .withColumn("y_next", F.first("y", ignorenulls=True).over(w_fwd))
    )
    return w.select(
        "d",
        F.col("y").isNull().alias("interpolated"),
        F.when(F.col("y").isNotNull(), F.col("y") * 1_000_000)
        .otherwise(
            F.expr(
                "(y_prev * CAST(datediff(d_next, d) AS BIGINT)"
                " + y_next * CAST(datediff(d, d_prev) AS BIGINT)) * 1000000"
                " div CAST(datediff(d_next, d_prev) AS BIGINT)"
            )
        )
        .cast("bigint")
        .alias("value_micro"),
    )


@CAT.query(
    "session_window_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts,
             ts + CASE WHEN event_type = 'purchase'
                       THEN INTERVAL 30 MINUTE
                       ELSE INTERVAL 10 MINUTE END AS e_end
      FROM events),
    m AS (
      SELECT user_id, ts, e_end,
             MAX(e_end) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS prev_max
      FROM e),
    s AS (
      SELECT user_id, ts, e_end,
             SUM(CASE WHEN prev_max IS NULL OR ts >= prev_max
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts
                     ROWS UNBOUNDED PRECEDING) AS sid
      FROM m)
    SELECT user_id,
           CAST(MIN(ts) AS TIMESTAMP) AS session_start,
           CAST(MAX(e_end) AS TIMESTAMP) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY user_id, sid
    """,
)
def session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-EVENT inactivity gap:
    ``session_window(ts, <gap expression>)`` — purchases hold the
    session open 30 minutes, everything else 10 (the
    engagement-weighted sessionization real funnels use; the static-
    gap variant is ``session_window_batch``).

    Semantics pinned by the oracle: each event contributes
    [ts, ts+gap); sessions are merged transitive overlaps, a new one
    starts iff ts >= the running max of prior interval ends (interval
    equality does NOT merge — verified to match Spark's merge rule).
    The lag-free DuckDB formulation is the islands pattern over that
    running max. Scale: Spark's native session_window aggregates
    map-side per partition and merges across — no per-user window
    sort of the raw corpus in the Spark plan; the oracle's windows
    are DuckDB-side only.
    """
    e = _events(spark, sf_dir)
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
    )


@CAT.query(
    "events_mutual_information",
    oracle=f"""
    WITH cells AS (
      SELECT event_type,
             ((datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 + 3)
              % 7) + 1 AS iso_dow,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2),
    m AS (
      SELECT event_type, iso_dow, c,
             CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS ct,
             CAST(SUM(c) OVER (PARTITION BY iso_dow) AS BIGINT) AS cw,
             CAST(SUM(c) OVER () AS BIGINT) AS n
      FROM cells)
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(c * CAST(FLOOR(ln((CAST(c AS DOUBLE) * n)
                                      / (CAST(ct AS DOUBLE) * cw))
                                   * {_ENT_SCALE}) AS BIGINT))
                // MAX(n) AS BIGINT) AS mi_micro,
           CAST(SUM(CASE WHEN iso_dow = 1 THEN
                  ct * CAST(FLOOR(ln(CAST(n AS DOUBLE) / ct)
                                  * {_ENT_SCALE}) AS BIGINT) END)
                // MAX(n) AS BIGINT) AS h_type_micro
    FROM m
    """,
)
def events_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and ISO weekday, in
    integer micro-nats — the dependence measure behind the chi-square
    test (``events_chisq_independence`` asks IF the two are dependent;
    MI says HOW MUCH, in bits/nats usable as a feature-selection
    score), alongside the type-marginal entropy H(T) for normalization
    (NMI = MI/H).

    Fixed-point discipline (same as the entropy/unigram-LM ops): the
    only doubles are the per-cell ln() arguments — products ≤ ~6e11,
    exactly representable — and every aggregation is an
    order-independent integer sum: MI = Σ c·⌊1e6·ln(c·N/(c_t·c_w))⌋
    div N. Weekday uses the epoch-arithmetic convention shared with
    the heatmap op (engine dayofweek numberings disagree). Plan: one
    corpus-keyed groupBy to the ≤35-cell grid; the marginals are
    windows OVER THE GRID (the documented tiny-frame exception), and
    H(T) folds into the same aggregate via the iso_dow=1 slice of the
    type marginal (each type's ct appears once per weekday).
    """
    e = _events(spark, sf_dir)
    d = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cells = (
        e.select(
            "event_type",
            ((d % 7 + 3) % 7 + 1).cast("int").alias("iso_dow"),
        )
        .groupBy("event_type", "iso_dow")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = (
        cells.withColumn(
            "ct", F.sum("c").over(Window.partitionBy("event_type"))
        )
        .withColumn("cw", F.sum("c").over(Window.partitionBy("iso_dow")))
        .withColumn(
            "n",
            F.sum("c").over(
                Window.partitionBy().rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    )
    return m.groupBy().agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.expr(
            f"CAST(SUM(c * CAST(FLOOR(ln((CAST(c AS DOUBLE) * n)"
            f" / (CAST(ct AS DOUBLE) * cw)) * {_ENT_SCALE}) AS BIGINT))"
            f" div MAX(n) AS BIGINT)"
        ).alias("mi_micro"),
        F.expr(
            f"CAST(SUM(CASE WHEN iso_dow = 1 THEN"
            f" ct * CAST(FLOOR(ln(CAST(n AS DOUBLE) / ct)"
            f" * {_ENT_SCALE}) AS BIGINT) END)"
            f" div MAX(n) AS BIGINT)"
        ).alias("h_type_micro"),
    )


#: Bucket width for the all-pairs interval-join prefilter (1 hour) and
#: the minimum co-presence worth reporting (10 minutes): pairs that
#: merely touch are noise, and the threshold keeps the all-pairs
#: output proportional to real co-presence, not to session density.
_COPRES_BUCKET_US = 3_600 * 1_000_000
_COPRES_MIN_US = 10 * 60 * 1_000_000


@CAT.query(
    "events_copresence_bucketed",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, epoch_us(ts) AS us FROM events),
    marked AS (
      SELECT user_id, us,
             CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us)
                    > {_SESS_GAP_US} OR
                  LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM ev),
    numbered AS (
      SELECT user_id, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS sid
      FROM marked),
    sess AS (
      SELECT user_id, sid, MIN(us) AS s0, MAX(us) AS s1
      FROM numbered GROUP BY user_id, sid),
    ov AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             LEAST(a.s1, b.s1) - GREATEST(a.s0, b.s0) AS ov_us
      FROM sess a JOIN sess b
        ON a.s0 <= b.s1 AND b.s0 <= a.s1 AND a.user_id < b.user_id
      WHERE LEAST(a.s1, b.s1) - GREATEST(a.s0, b.s0) >= {_COPRES_MIN_US})
    SELECT user_a, user_b,
           CAST(COUNT(*) AS BIGINT) AS n_overlaps,
           CAST(SUM(ov_us) AS BIGINT) AS total_overlap_us
    FROM ov GROUP BY 1, 2
    """,
)
def events_copresence_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL-PAIRS session co-presence — the unbounded variant
    ``events_copresence_topk``'s docstring defers to: every user pair
    whose sessions overlap by ≥ 10 minutes, with counts and exact
    total overlapping microseconds.

    Candidate scheme (lossless): each session explodes to the 1-hour
    time buckets it spans; two overlapping intervals both contain the
    overlap's first instant, hence share ITS bucket — so the bucket
    equi-join is a complete candidate generator, and the exact
    interval predicate + length threshold verify per candidate. The
    theta join the oracle runs directly would be O(|sessions|²) at
    scale; the bucketed form is Θ(Σ per-bucket pairs), the classic
    temporal-join binning, with the bucket width trading candidate
    fan-out (narrow) against per-interval replication (wide —
    replication is bounded by session span / width, here ≤ a few
    buckets for 30-min-gap sessions). Distinct-before-verify removes
    the multi-bucket duplicates of long co-presences.
    """
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = _events(spark, sf_dir).select("user_id", us.alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        ev.withColumn("prev", F.lag("us").over(w))
        .withColumn(
            "new_s",
            F.when(
                F.col("prev").isNull()
                | (F.col("us") - F.col("prev") > _SESS_GAP_US),
                1,
            ).otherwise(0),
        )
        .withColumn("sid", F.sum("new_s").over(wcum))
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s0"), F.max("us").alias("s1"))
    )
    sess = persist_tracked(sess)
    buckets = sess.select(
        "user_id",
        "sid",
        "s0",
        "s1",
        F.explode(
            F.sequence(
                F.expr(f"s0 div {_COPRES_BUCKET_US}"),
                F.expr(f"s1 div {_COPRES_BUCKET_US}"),
            )
        ).alias("bkt"),
    )
    a = buckets.select(
        F.col("user_id").alias("user_a"),
        F.col("sid").alias("sid_a"),
        F.col("s0").alias("a0"),
        F.col("s1").alias("a1"),
        "bkt",
    )
    b = buckets.select(
        F.col("user_id").alias("user_b"),
        F.col("sid").alias("sid_b"),
        F.col("s0").alias("b0"),
        F.col("s1").alias("b1"),
        "bkt",
    )
    ov = F.least("a1", "b1") - F.greatest("a0", "b0")
    cand = (
        a.join(
            b,
            (a.bkt == b.bkt) & (F.col("user_a") < F.col("user_b")),
        )
        .filter(ov >= _COPRES_MIN_US)
        .select("user_a", "sid_a", "user_b", "sid_b", "a0", "a1", "b0", "b1")
        .distinct()
    )
    return (
        cand.withColumn("ov_us", F.least("a1", "b1") - F.greatest("a0", "b0"))
        .groupBy("user_a", "user_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_overlaps"),
            F.sum("ov_us").cast("bigint").alias("total_overlap_us"),
        )
    )
