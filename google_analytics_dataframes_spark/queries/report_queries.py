"""Report-builder queries — the reference's end-user API exercised
end-to-end (SURVEY.md §3.2 E1): every GA request parameter (dimensions,
metrics, filters DSL, date range, sort, pagination) in one declarative plan.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.registry import register
from google_analytics_dataframes_spark.report import (
    cohort_report,
    compare_report,
    histogram_dim,
    histogram_ordinal,
    report,
)
from google_analytics_dataframes_spark.queries._util import T, dsum, dsum_sql


@register(
    "rb1_report_events",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS sessions, {dsum_sql('value')} AS total_value,
           COUNT(DISTINCT user_id) AS users
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
      AND (event_type = 'view' OR event_type = 'click') AND value > 10.0
    GROUP BY day, event_type
    ORDER BY sessions DESC, day, event_type
    LIMIT 50
    """,
)
def rb1_report_events(spark, sf_dir):
    """The canonical GA question through the report builder: sessions /
    value / users by (day, event_type), date-windowed, GA-filter-DSL
    filtered (`,`=OR binds inside `;`=AND), sorted, paginated."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=[
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        ],
        metrics={
            "sessions": "count",
            "total_value": "sum:value",
            "users": "users:user_id",
        },
        filters="event_type==view,event_type==click;value>10.0",
        date_range=("ts", "2024-01-05", "2024-01-20"),
        sort=["-sessions", "day", "event_type"],
        limit=50,
    )


@register(
    "rb2_report_orders",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS revenue,
           MAX(o_totalprice) AS top_order
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
      AND contains(o_orderpriority, 'URGENT') AND o_totalprice >= 1000.0
    GROUP BY o_orderstatus, o_orderpriority
    ORDER BY revenue DESC, o_orderstatus
    """,
)
def rb2_report_orders(spark, sf_dir):
    """Report over the star schema with the `=@` contains operator and a
    numeric `>=` filter — GA DSL against non-GA-shaped data."""
    o = T(spark, sf_dir, "orders")
    return report(
        o,
        dimensions=["o_orderstatus", "o_orderpriority"],
        metrics={
            "n_orders": "count",
            "revenue": "sum:o_totalprice",
            "top_order": "max:o_totalprice",
        },
        filters="o_orderpriority=@URGENT;o_totalprice>=1000.0",
        date_range=("o_orderdate", "1996-01-01", "1998-01-01"),
        sort=["-revenue", "o_orderstatus"],
    )


@register(
    "rb3_segment_users",
    oracle="""
    SELECT event_type, COUNT(*) AS sessions, COUNT(DISTINCT user_id) AS users
    FROM events
    WHERE user_id IN (SELECT user_id FROM events
                      WHERE event_type = 'purchase' AND value > 300.0)
    GROUP BY event_type
    """,
)
def rb3_segment_users(spark, sf_dir):
    """GA `segment` param [K] ("users::condition::..."): all activity of
    users who EVER made a purchase over 300 — a left-semi join against the
    broadcast distinct qualifying-user set (report.py `segment=`)."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "users": "users:user_id"},
        segment=("user_id", "event_type==purchase;value>300.0"),
    )


@register(
    "rb4_cohort_retention",
    oracle="""
    WITH first AS (SELECT user_id, MIN(ts) AS f FROM events GROUP BY user_id)
    SELECT strftime(date_trunc('week', f.f), '%Y-%m-%d') AS cohort_week,
           CAST(floor(date_diff('day', date_trunc('day', date_trunc('week', f.f)),
                                date_trunc('day', e.ts)) / 7) AS BIGINT)
             AS week_offset,
           COUNT(DISTINCT e.user_id) AS active_users
    FROM events e JOIN first f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def rb4_cohort_retention(spark, sf_dir):
    """GA v4 `cohortGroup` retention [K]: users cohorted by first-activity
    week; active-user count per (cohort_week, week_offset)
    (report.py cohort_report)."""
    return cohort_report(T(spark, sf_dir, "events"), "user_id", "ts")


@register(
    "rb5_daterange_delta",
    oracle="""
    SELECT event_type,
      COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
                 THEN 1 END) AS sessions_a,
      COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-29'
                 THEN 1 END) AS sessions_b,
      CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
                             THEN CAST(value AS DECIMAL(30,6)) END), 0) AS DOUBLE)
        AS total_value_a,
      CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-29'
                             THEN CAST(value AS DECIMAL(30,6)) END), 0) AS DOUBLE)
        AS total_value_b,
      COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
                 THEN 1 END)
        - COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-29'
                     THEN 1 END) AS sessions_delta,
      CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
                             THEN CAST(value AS DECIMAL(30,6)) END), 0) AS DOUBLE)
        - CAST(COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-29'
                               THEN CAST(value AS DECIMAL(30,6)) END), 0) AS DOUBLE)
        AS total_value_delta
    FROM events
    WHERE (ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15')
       OR (ts >= TIMESTAMP '2024-01-15' AND ts < TIMESTAMP '2024-01-29')
    GROUP BY event_type
    """,
)
def rb5_daterange_delta(spark, sf_dir):
    """GA v4 twin `dateRanges` + DELTA orderBy [K]: current vs comparison
    window per dimension in ONE conditional-aggregate pass — no self-join,
    no second scan (report.py compare_report)."""
    return compare_report(
        T(spark, sf_dir, "events"),
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        ts_col="ts",
        range_a=("2024-01-01", "2024-01-15"),
        range_b=("2024-01-15", "2024-01-29"),
    )


@register(
    "rb6_channel_having",
    oracle=f"""
    SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                WHEN event_type IN ('view', 'click') THEN 'engagement'
                ELSE 'diagnostic' END AS channel,
           COUNT(*) AS sessions, {dsum_sql('value')} AS total_value
    FROM events
    GROUP BY channel
    HAVING COUNT(*) > 2500
    ORDER BY sessions DESC
    """,
)
def rb6_channel_having(spark, sf_dir):
    """GA default channel grouping (CASE-rule computed dimension [K]) +
    GA v4 metricFilterClauses (post-agg `having=` in the GA filter DSL)."""
    ev = T(spark, sf_dir, "events")
    channel = (
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type").isin("view", "click"), "engagement")
        .otherwise("diagnostic")
        .alias("channel")
    )
    return report(
        ev,
        dimensions=[channel],
        metrics={"sessions": "count", "total_value": "sum:value"},
        having="sessions>2500",
        sort=["-sessions"],
    )


@register(
    "rb7_funnel",
    oracle="""
    WITH s1 AS (SELECT user_id, MIN(ts) AS t FROM events
                WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id),
    c AS (SELECT 1 AS step, 'view' AS step_name, COUNT(*) AS users FROM s1
          UNION ALL SELECT 2, 'click', COUNT(*) FROM s2
          UNION ALL SELECT 3, 'purchase', COUNT(*) FROM s3)
    SELECT step, step_name, users,
           CASE WHEN lag(users) OVER (ORDER BY step) IS NULL THEN 1.0
                ELSE round(CAST(users AS DOUBLE)
                           / nullif(lag(users) OVER (ORDER BY step), 0), 6)
           END AS conversion
    FROM c
    """,
)
def rb7_funnel(spark, sf_dir):
    """GA goal funnel [K]: users completing view -> click -> purchase in
    strict event-time order; per-step reach + step conversion rate
    (report.py funnel_report)."""
    from google_analytics_dataframes_spark.report import funnel_report

    return funnel_report(
        T(spark, sf_dir, "events"),
        entity_col="user_id",
        ts_col="ts",
        step_col="event_type",
        steps=["view", "click", "purchase"],
    )


def _rb8_oracle(sf_dir: str) -> str:
    """sf_dir-parameterized oracle (de-pinned from sf0.01, VERDICT r9
    item 4): the pivot's winning columns are data-dependent — static SQL
    cannot name them — so the oracle TEXT is generated per dataset by
    ranking event types exactly as report.py's ``pivot=`` does
    (count desc, value asc; report.py:358-366), via a metadata-sized
    DuckDB probe over the same parquet the views read."""
    import duckdb

    path = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(path):  # Spark-written table dir (10x synth)
        path = os.path.join(path, "*.parquet")
    winners = [
        r[0]
        for r in duckdb.sql(
            f"SELECT event_type FROM read_parquet('{path}') GROUP BY 1 "
            "ORDER BY COUNT(*) DESC, event_type ASC LIMIT 3"
        ).fetchall()
    ]
    cols = ",\n           ".join(
        f"COUNT(CASE WHEN event_type = '{w}' THEN 1 END) AS {w}_sessions"
        for w in winners
    )
    return f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           {cols}
    FROM events
    GROUP BY day
    """


@register("rb8_pivot_report", oracle=_rb8_oracle)
def rb8_pivot_report(spark, sf_dir):
    """GA v4 `pivots` [K]: sessions by day, pivoted over the top-3 event
    types by total sessions (GA maxGroupCount group ranking, value-asc
    tiebreak).  The Spark side ranks groups dynamically (report.py
    `pivot=`); the oracle is a CALLABLE that regenerates the winning
    column list per sf_dir (at sf0.01: signup/error/click, counts
    2017/2014/2006, no ties), so cross-sf sweeps compare it instead of
    skipping."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=[
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        ],
        metrics={"sessions": "count"},
        pivot=("event_type", 3),
    )


@register(
    "rb9_ratio_metric",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           ({dsum_sql("CASE WHEN event_type = 'purchase' THEN value ELSE 0 END")}
            / nullif({dsum_sql('value')}, 0)) AS purchase_value_share
    FROM events
    GROUP BY day
    """,
)
def rb9_ratio_metric(spark, sf_dir):
    """GA v4 expression metrics [K] (`ga:goal1Completions/ga:sessions`
    style): the `ratio:a/b` metric spec — sum(a)/sum(b) inside ONE
    aggregate pass, exact-decimal accumulation on both sides of the
    divide, NULL on a zero denominator (GA empty-cell convention)."""
    ev = T(spark, sf_dir, "events").withColumn(
        "purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0)),
    )
    return report(
        ev,
        dimensions=[
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        ],
        metrics={"purchase_value_share": "ratio:purchase_value/value"},
    )


@register(
    "rb10_sampled_report",
    oracle=f"""
    WITH s AS (
      SELECT * FROM events
      WHERE CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR) || ':ga-sample'), 1, 8))
                 AS BIGINT) % 100 < 50)
    SELECT event_type,
           COUNT(*) * 2 AS est_sessions,
           COUNT(*) AS sampled_sessions,
           0.5 AS sample_rate
    FROM s GROUP BY event_type
    """,
)
def rb10_sampled_report(spark, sf_dir):
    """GA sampling semantics [K] (`samplingLevel`, `containsSampledData`,
    `sampleSize`/`sampleSpace`): above a session threshold GA computes the
    report on a user-level sample and scales the estimates.  This is also
    THE interactive-query strategy at 100 TB — a deterministic hash sample
    of the USER population (not rows: sampling users keeps per-user
    structure intact for session metrics) is a pushed-down filter that
    prunes before any shuffle; estimates scale by the inverse rate.  The
    md5-bucket sample is the same re-shard-stable arithmetic as l22's
    split, so the sampled population never drifts across runs or
    partitionings."""
    ev = T(spark, sf_dir, "events")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":ga-sample"))), 1, 8),
            16,
            10,
        ).cast("long")
        % 100
    )
    sampled = ev.filter(bucket < 50)
    return sampled.groupBy("event_type").agg(
        (F.count("*") * 2).alias("est_sessions"),
        F.count("*").alias("sampled_sessions"),
        F.lit(0.5).alias("sample_rate"),
    )


@register(
    "rb11_rollup_reuse",
    oracle=f"""
    SELECT event_type,
           CAST(SUM(1) AS BIGINT) AS sessions,
           {dsum_sql('value')} AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY event_type
    """,
)
def rb11_rollup_reuse(spark, sf_dir):
    """Pre-aggregated rollup reuse — the materialized-view pattern every
    100 TB analytics store lives on: a day x event_type rollup (day-count
    sized, ~10^3 smaller than the event log) is materialized ONCE, and the
    month query re-aggregates the rollup instead of the raw events.
    Correctness requires the rollup metrics to be re-aggregable (counts and
    exact-decimal sums are; distincts are NOT — those need sketches, see
    w11).  The oracle computes the same answer from the raw table, so the
    driver check proves rollup == raw."""
    from google_analytics_dataframes_spark.io import staged_dir
    from google_analytics_dataframes_spark.queries._util import dsum

    # staged_dir keys the path by a content fingerprint of the source
    # table: a dataset regenerated in place under the same sf tag gets a
    # NEW rollup path, which is the materialized-view invalidation rule a
    # real metastore enforces via snapshot ids.
    def build(path):
        (
            T(spark, sf_dir, "events")
            .groupBy(F.date_trunc("day", F.col("ts")).alias("day"), "event_type")
            .agg(
                F.count("*").alias("sessions"),
                dsum("value").cast("decimal(30,6)").alias("total_value"),
            )
            .write.parquet(path)
        )

    out = staged_dir(sf_dir, "events", "rollup_day", build)
    roll = spark.read.parquet(out).filter(
        (F.col("day") >= F.lit("2024-01-01").cast("timestamp"))
        & (F.col("day") < F.lit("2024-02-01").cast("timestamp"))
    )
    return roll.groupBy("event_type").agg(
        F.sum("sessions").alias("sessions"),
        F.sum("total_value")
        .cast("decimal(30,6)")
        .cast("double")
        .alias("total_value"),
    )


@register(
    "rb12_report_totals",
    oracle=f"""
    SELECT COALESCE(event_type, 'RESERVED_TOTAL') AS event_type,
           COUNT(*) AS sessions, {dsum_sql('value')} AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY GROUPING SETS ((event_type), ())
    """,
)
def rb12_report_totals(spark, sf_dir):
    """GA v4 `metricAggregations`: the report's detail rows PLUS the
    grand-total row, dimension cells carrying GA's literal RESERVED_TOTAL
    marker — one Expand pass over the date-windowed events, not a second
    scan (report.py `totals=True`).  COALESCE works in the oracle because
    event_type is never null; the builder uses grouping_id, which stays
    correct for nullable dimensions too."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        date_range=("ts", "2024-01-01", "2024-02-01"),
        totals=True,
    )


@register(
    "rb13_new_vs_returning",
    oracle="""
    WITH fu AS (SELECT user_id, MIN(date_trunc('day', ts)) AS first_day
                FROM events GROUP BY user_id)
    SELECT strftime(date_trunc('day', e.ts), '%Y-%m-%d') AS day,
           CASE WHEN date_trunc('day', e.ts) = f.first_day
                THEN 'New Visitor' ELSE 'Returning Visitor' END AS user_type,
           COUNT(*) AS sessions,
           COUNT(DISTINCT e.user_id) AS users
    FROM events e JOIN fu f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def rb13_new_vs_returning(spark, sf_dir):
    """GA's `ga:userType` dimension (New Visitor / Returning Visitor):
    events on a user's first-ever active day are New, everything later is
    Returning — the acquisition-vs-retention cut every GA report offers.
    Physical shape: the first-day lookup is a per-user window min, so the
    classification costs ONE shuffle on user_id over a single scan (no
    self-join, no second scan of the fact table); the (day, user_type)
    rollup with its distinct-user count is the only other exchange."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    first_day = F.min(day).over(Window.partitionBy("user_id"))
    user_type = (
        F.when(day == first_day, "New Visitor")
        .otherwise("Returning Visitor")
        .alias("user_type")
    )
    return (
        ev.select(
            F.date_format(day, "yyyy-MM-dd").alias("day"), user_type, "user_id"
        )
        .groupBy("day", "user_type")
        .agg(
            F.count("*").alias("sessions"),
            F.countDistinct("user_id").alias("users"),
        )
    )


@register(
    "rb14_keep_empty_rows",
    oracle=f"""
    WITH f AS (SELECT date_trunc('day', ts) AS d, event_type, value FROM events
               WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-15'
                 AND value > 90.0),
    days AS (SELECT DISTINCT d FROM f),
    types AS (SELECT DISTINCT event_type FROM f),
    agg AS (SELECT d, event_type, COUNT(*) AS sessions,
                   {dsum_sql('value')} AS total_value
            FROM f GROUP BY 1, 2)
    SELECT strftime(days.d, '%Y-%m-%d') AS day, types.event_type,
           COALESCE(agg.sessions, 0) AS sessions,
           COALESCE(agg.total_value, 0) AS total_value
    FROM days CROSS JOIN types
    LEFT JOIN agg ON agg.d = days.d AND agg.event_type = types.event_type
    """,
)
def rb14_keep_empty_rows(spark, sf_dir):
    """GA v4 `keepEmptyRows` (report.py keep_empty_rows=True): every
    observed (day, event_type) combination appears even when the filtered
    slice has no rows for it, metrics zero-filled — the shape dashboards
    need to draw unbroken time axes.  The value>90 filter makes empty
    combinations actually occur; the dimension scaffold is a broadcast
    cross join of two metadata-sized distinct-value frames."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=[
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        ],
        metrics={"sessions": "count", "total_value": "sum:value"},
        filters="value>90.0",
        date_range=("ts", "2024-01-01", "2024-01-15"),
        keep_empty_rows=True,
    )


@register(
    "rb15_histogram_buckets",
    oracle=f"""
    SELECT CASE WHEN value < 0 THEN 0 WHEN value < 50 THEN 1
                WHEN value < 100 THEN 2 WHEN value < 200 THEN 3
                WHEN value < 300 THEN 4 ELSE 5 END AS bucket_ord,
           CASE WHEN value < 0 THEN '<0' WHEN value < 50 THEN '0-49'
                WHEN value < 100 THEN '50-99' WHEN value < 200 THEN '100-199'
                WHEN value < 300 THEN '200-299' ELSE '300+' END AS bucket,
           COUNT(*) AS sessions, {dsum_sql('value')} AS total_value,
           COUNT(DISTINCT user_id) AS users
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-02-01'
    GROUP BY 1, 2 ORDER BY bucket_ord
    """,
)
def rb15_histogram_buckets(spark, sf_dir):
    """GA v4 dimension `histogramBuckets` + orderBys HISTOGRAM_BUCKET [K]:
    event value bucketed into GA's serialized ranges ('<0', '0-49', ...,
    '300+'), rows ordered by bucket bound (not label text) via the ordinal
    companion dimension.  Both dimensions are one narrow CASE chain inside
    whole-stage codegen — the histogram costs exactly what the plain
    groupBy costs."""
    buckets = [0, 50, 100, 200, 300]
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=[
            histogram_ordinal("value", buckets),
            histogram_dim("value", buckets),
        ],
        metrics={
            "sessions": "count",
            "total_value": "sum:value",
            "users": "users:user_id",
        },
        date_range=("ts", "2024-01-01", "2024-02-01"),
        sort=["bucket_ord"],
    )


@register(
    "rb16_report_minmax",
    oracle=f"""
    WITH f AS (SELECT event_type, value FROM events
               WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-25'),
    detail AS (SELECT event_type, COUNT(*) AS sessions,
                      {dsum_sql('value')} AS total_value
               FROM f GROUP BY event_type)
    SELECT event_type, sessions, total_value FROM detail
    UNION ALL
    SELECT 'RESERVED_TOTAL', COUNT(*), {dsum_sql('value')} FROM f
    UNION ALL
    SELECT 'RESERVED_MIN', MIN(sessions), MIN(total_value) FROM detail
    UNION ALL
    SELECT 'RESERVED_MAX', MAX(sessions), MAX(total_value) FROM detail
    """,
)
def rb16_report_minmax(spark, sf_dir):
    """GA v4 `metricAggregations` MINIMUM / MAXIMUM [K] (completing rb12's
    TOTAL): the detail rows plus RESERVED_TOTAL / RESERVED_MIN /
    RESERVED_MAX marker rows.  The total re-aggregates the RAW rows in the
    same Expand pass as the detail (count-distinct-safe); min/max are GA's
    definition — extrema OVER THE DETAIL ROWS — computed from the eagerly
    checkpointed report-sized frame, so the fact table is scanned once no
    matter how many aggregation kinds are requested."""
    ev = T(spark, sf_dir, "events")
    return report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        date_range=("ts", "2024-01-10", "2024-01-25"),
        totals=("total", "minimum", "maximum"),
    )


@register(
    "rb17_filter_expression",
    oracle=f"""
    SELECT event_type, COUNT(*) AS n, {dsum_sql('value')} AS revenue
    FROM events
    WHERE (lower(event_type) LIKE 'vi%'
           OR lower(event_type) IN ('purchase', 'signup'))
      AND NOT event_type = 'signup'
      AND value >= 10.0 AND value <= 400.0
    GROUP BY event_type
    HAVING COUNT(*) > 10
    """,
)
def rb17_filter_expression(spark, sf_dir):
    """GA4 Data API v1 structured filters end-to-end [K: runReport
    dimensionFilter / metricFilter, FilterExpression message]: a nested
    andGroup( orGroup(BEGINS_WITH, inListFilter), notExpression(EXACT),
    betweenFilter ) dimension filter plus a numeric metricFilter over the
    aggregated count — the protobuf-JSON AST the v4 `filters` DSL (rb1,
    rb6) replaced.  The whole tree folds to one Catalyst predicate, so the
    dimension filter reaches the scan as pushed filters like any native
    WHERE (report.py filter_expression)."""
    ev = T(spark, sf_dir, "events")
    dim_filter = {
        "andGroup": {
            "expressions": [
                {
                    "orGroup": {
                        "expressions": [
                            {
                                "filter": {
                                    "fieldName": "event_type",
                                    "stringFilter": {
                                        "matchType": "BEGINS_WITH",
                                        "value": "VI",
                                    },
                                }
                            },
                            {
                                "filter": {
                                    "fieldName": "event_type",
                                    "inListFilter": {
                                        "values": ["Purchase", "SIGNUP"]
                                    },
                                }
                            },
                        ]
                    }
                },
                {
                    "notExpression": {
                        "filter": {
                            "fieldName": "event_type",
                            "stringFilter": {
                                "matchType": "EXACT",
                                "value": "signup",
                                "caseSensitive": True,
                            },
                        }
                    }
                },
                {
                    "filter": {
                        "fieldName": "value",
                        "betweenFilter": {
                            "fromValue": {"doubleValue": 10.0},
                            "toValue": {"doubleValue": 400.0},
                        },
                    }
                },
            ]
        }
    }
    met_filter = {
        "filter": {
            "fieldName": "n",
            "numericFilter": {
                "operation": "GREATER_THAN",
                "value": {"int64Value": "10"},
            },
        }
    }
    return report(
        ev,
        dimensions=["event_type"],
        metrics={"n": "count", "revenue": "sum:value"},
        dimension_filter=dim_filter,
        metric_filter=met_filter,
    )


# --------------------------------------------------------- GA sessions ----

# Determinism note (round 5): r04's driver sweep hash-failed rb18/rb19/rb20
# while st14 — which shares the seq/flagged/numbered CTEs verbatim — passed.
# The one construct unique to the failing trio was the struct-literal
# MIN({'u':…,'e':…,'et':…}) landing/exit aggregate, which no driver-passing
# oracle uses and whose cross-version DuckDB semantics we cannot pin from
# this sandbox (local DuckDB 1.0.0 matches bitwise; the driver's evidently
# newer build does not).  Landing/exit are therefore restated as
# row_number() + MAX(CASE WHEN rn = 1 …) — plain window + conditional
# aggregate, both r04-hash-proven (w1, l42) — and every integer SUM output
# is CAST(... AS BIGINT) so no HUGEINT ever reaches the compare (the l54
# pattern).  dg1_struct_min keeps the old construct alive as an isolated
# probe so the round-5 driver sweep could confirm or refute the diagnosis
# (its record: `git show 0dd433a:CORRECTNESS_r05.json`).
_SESS_ORACLE_BASE = """
    WITH seq AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged),
    ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts_us, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, session_id
                                ORDER BY ts_us DESC, event_id DESC) AS rn_d
      FROM numbered),
    sess AS (
      SELECT user_id, session_id,
             MIN(ts_us) AS start_us,
             COUNT(*) AS n_events,
             (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_sec,
             MAX(CASE WHEN rn_a = 1 THEN event_type END) AS landing,
             MAX(CASE WHEN rn_d = 1 THEN event_type END) AS exit_type,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS purchases
      FROM ranked GROUP BY user_id, session_id)
"""


def _sessions(ev):
    """Per-session frame under GA's 30-min-gap session model (st3's exact
    boundary semantics): one row per (user_id, session_id) with start,
    event count, duration, and the landing/exit event types.

    ONE exchange total: the sequencing window hashes on user_id, and the
    per-session groupBy's clustering keys (user_id, session_id) are
    satisfied by that same hashpartitioning(user_id) — Catalyst's
    ClusteredDistribution accepts a subset partitioning, so no second
    shuffle.  Landing/exit come from min/max over the (ts_us, event_id,
    event_type) struct — lexicographic struct ordering picks the
    first/last event without a second window pass.  (ts_us, event_id) is
    unique per event, so this equals the oracle's row_number()-based pick
    exactly; the oracle avoids DuckDB struct-MIN/MAX on purpose — see the
    determinism note above _SESS_ORACLE_BASE."""
    from pyspark.sql import Window

    ev = ev.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w_seq).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w_seq) >= 1_800_000_000),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(w_seq.rowsBetween(Window.unboundedPreceding, 0)),
    )
    key = F.struct("ts_us", "event_id", "event_type")
    return numbered.groupBy("user_id", "session_id").agg(
        F.min("ts_us").alias("start_us"),
        F.count("*").alias("n_events"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000))
        .cast("long")
        .alias("duration_sec"),
        F.min(key).getField("event_type").alias("landing"),
        F.max(key).getField("event_type").alias("exit_type"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "purchases"
        ),
    )


@register(
    "rb18_session_metrics",
    oracle=f"""
    {_SESS_ORACLE_BASE}
    SELECT strftime(TIMESTAMP '1970-01-01'
                      + (start_us // 1000000 // 86400 * 86400) * INTERVAL 1 SECOND,
                    '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS bounces,
           round(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS bounce_rate,
           round(CAST(SUM(duration_sec) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS avg_session_duration,
           round(CAST(SUM(n_events) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS events_per_session
    FROM sess GROUP BY day
    """,
)
def rb18_session_metrics(spark, sf_dir):
    """GA's session-scoped headline metrics [K — ga:sessions, ga:bounceRate,
    ga:avgSessionDuration, GA4 screenPageViewsPerSession]: per day (of
    session START, GA's attribution day), session count, bounces (single-
    event sessions), bounce rate, average session duration, events per
    session.  Two exchanges end-to-end: user_id (sessionize) then day
    (rollup).  Ratios are exact-integer sums divided as doubles — IEEE-
    deterministic in both engines — with terminal round(6)."""
    sess = _sessions(T(spark, sf_dir, "events"))
    day = F.date_format(
        F.timestamp_seconds(F.floor(F.col("start_us") / 1_000_000 / 86_400) * 86_400),
        "yyyy-MM-dd",
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    n = F.count("*")
    return sess.groupBy(day.alias("day")).agg(
        n.alias("sessions"),
        bounce.alias("bounces"),
        F.round(bounce / n.cast("double"), 6).alias("bounce_rate"),
        F.round(F.sum("duration_sec") / n.cast("double"), 6).alias(
            "avg_session_duration"
        ),
        F.round(F.sum("n_events") / n.cast("double"), 6).alias("events_per_session"),
    )


@register(
    "rb19_landing_exit",
    oracle=f"""
    {_SESS_ORACLE_BASE}
    SELECT landing, exit_type, CAST(COUNT(*) AS BIGINT) AS sessions,
           round(CAST(SUM(n_events) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS avg_events_per_session,
           CAST(SUM(CASE WHEN exit_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase_exits
    FROM sess GROUP BY landing, exit_type
    """,
)
def rb19_landing_exit(spark, sf_dir):
    """GA landing/exit-page analysis [K — ga:landingPagePath /
    ga:exitPagePath], on event_type as the page analog: for every
    (entrance, exit) pair, session count, mean session depth, and how many
    of those paths end in a purchase — the classic entrance->conversion
    path table.  Reuses the one-exchange session frame; the pair rollup is
    a second small shuffle on (landing, exit_type) — 25 groups."""
    sess = _sessions(T(spark, sf_dir, "events"))
    n = F.count("*")
    return sess.groupBy("landing", "exit_type").agg(
        n.alias("sessions"),
        F.round(F.sum("n_events") / n.cast("double"), 6).alias(
            "avg_events_per_session"
        ),
        F.sum(F.when(F.col("exit_type") == "purchase", 1).otherwise(0)).alias(
            "purchase_exits"
        ),
    )


@register(
    "rb20_engagement_rate",
    oracle=f"""
    {_SESS_ORACLE_BASE}
    , eng AS (
      SELECT *, CASE WHEN duration_sec >= 10 OR n_events >= 2
                       OR purchases >= 1 THEN 1 ELSE 0 END AS engaged
      FROM sess)
    SELECT strftime(TIMESTAMP '1970-01-01'
                      + (start_us // 1000000 // 86400 * 86400) * INTERVAL 1 SECOND,
                    '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS sessions,
           CAST(SUM(engaged) AS BIGINT) AS engaged_sessions,
           round(CAST(SUM(engaged) AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS engagement_rate,
           round(CAST(SUM(CASE WHEN engaged = 1 THEN duration_sec ELSE 0 END)
                      AS BIGINT)
                   / CAST(GREATEST(SUM(engaged), 1) AS DOUBLE), 6)
             AS avg_engagement_time
    FROM eng GROUP BY day
    """,
)
def rb20_engagement_rate(spark, sf_dir):
    """GA4's engagement metrics [K — engagementRate, engagedSessions,
    userEngagementDuration]: an engaged session lasted >= 10 s OR had >= 2
    events OR converted (purchase) — GA4's literal definition with
    event_type='purchase' as the conversion analog.  Per day of session
    start: sessions, engaged sessions, engagement rate, and mean engaged-
    session duration.  GA4 replaced bounce rate with exactly
    1 - engagementRate, so this pairs with rb18 as the old/new metric
    bridge.

    Scale shape: reuses rb18's one-exchange session frame (user_id
    partitioning satisfies the per-session groupBy), adds a doc-local
    engaged flag, and rolls up on day — integer sums divided as doubles,
    GREATEST(...,1) guarding the zero-engaged day identically in both
    engines."""
    sess = _sessions(T(spark, sf_dir, "events"))
    engaged = F.when(
        (F.col("duration_sec") >= 10)
        | (F.col("n_events") >= 2)
        | (F.col("purchases") >= 1),
        1,
    ).otherwise(0)
    day = F.date_format(
        F.timestamp_seconds(F.floor(F.col("start_us") / 1_000_000 / 86_400) * 86_400),
        "yyyy-MM-dd",
    )
    eng = sess.withColumn("engaged", engaged)
    e = F.sum("engaged")
    return eng.groupBy(day.alias("day")).agg(
        F.count("*").alias("sessions"),
        e.alias("engaged_sessions"),
        F.round(e / F.count("*").cast("double"), 6).alias("engagement_rate"),
        F.round(
            F.sum(F.when(F.col("engaged") == 1, F.col("duration_sec")).otherwise(0))
            / F.greatest(e, F.lit(1)).cast("double"),
            6,
        ).alias("avg_engagement_time"),
    )


@register(
    "rb21_active_users",
    oracle="""
    WITH pres AS (SELECT DISTINCT user_id,
                         epoch_us(ts) // 1000000 // 86400 AS day_num
                  FROM events),
    days AS (SELECT DISTINCT day_num FROM pres)
    SELECT strftime(TIMESTAMP '1970-01-01'
                      + d.day_num * 86400 * INTERVAL 1 SECOND,
                    '%Y-%m-%d') AS day,
           COUNT(DISTINCT CASE WHEN p.day_num = d.day_num
                               THEN p.user_id END) AS dau,
           COUNT(DISTINCT CASE WHEN p.day_num >= d.day_num - 6
                               THEN p.user_id END) AS wau,
           COUNT(DISTINCT p.user_id) AS mau,
           round(COUNT(DISTINCT CASE WHEN p.day_num = d.day_num
                                     THEN p.user_id END)
                   / CAST(COUNT(DISTINCT p.user_id) AS DOUBLE), 6)
             AS stickiness
    FROM days d
    JOIN pres p ON p.day_num BETWEEN d.day_num - 29 AND d.day_num
    GROUP BY d.day_num
    """,
)
def rb21_active_users(spark, sf_dir):
    """GA4's active-user rollups [K — activeUsers, active7DayUsers,
    active28DayUsers (GA4 uses 28; the classic DAU/WAU/MAU convention here
    is 1/7/30), plus DAU/MAU "stickiness"]: per calendar day, distinct
    users active that day, in the trailing 7 days, and in the trailing 30
    days.

    Scale shape: events first reduce to the DISTINCT (user, day) presence
    relation — the only corpus-sized shuffle, with partial-agg dedup
    map-side — then the trailing windows are a range join against the
    tiny distinct-days dimension (broadcast; |days| rows), NOT a 30x
    self-union or a per-user sliding window: each presence row lands in
    <= 30 day-groups and the three distinct-counts share one Expand.  The
    oracle is the identical join, so the range-join semantics (inclusive
    trailing windows, calendar-day attribution) are pinned cross-engine."""
    ev = T(spark, sf_dir, "events")
    pres = ev.select(
        "user_id",
        (F.floor(F.unix_micros("ts") / 1_000_000 / 86_400)).alias("day_num"),
    ).distinct()
    days = pres.select("day_num").distinct().withColumnRenamed("day_num", "d")
    joined = pres.join(
        F.broadcast(days),
        (F.col("day_num") >= F.col("d") - 29) & (F.col("day_num") <= F.col("d")),
    )
    dau = F.count_distinct(
        F.when(F.col("day_num") == F.col("d"), F.col("user_id"))
    )
    wau = F.count_distinct(
        F.when(F.col("day_num") >= F.col("d") - 6, F.col("user_id"))
    )
    mau = F.count_distinct("user_id")
    day = F.date_format(F.timestamp_seconds(F.col("d") * 86_400), "yyyy-MM-dd")
    return (
        joined.groupBy("d")
        .agg(
            dau.alias("dau"),
            wau.alias("wau"),
            mau.alias("mau"),
            F.round(dau / mau.cast("double"), 6).alias("stickiness"),
        )
        .select(day.alias("day"), "dau", "wau", "mau", "stickiness")
    )


@register(
    "rb22_ecommerce_overview",
    oracle=f"""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           COUNT(*) AS transactions,
           round({dsum_sql('o_totalprice')}, 2) AS revenue,
           COUNT(DISTINCT o_custkey) AS buyers,
           round({dsum_sql('o_totalprice')} / COUNT(*), 6) AS avg_order_value,
           round({dsum_sql('o_totalprice')} / COUNT(DISTINCT o_custkey), 6)
             AS revenue_per_buyer
    FROM orders GROUP BY month
    """,
)
def rb22_ecommerce_overview(spark, sf_dir):
    """GA ecommerce overview [K — ga:transactions, ga:transactionRevenue,
    ga:revenuePerTransaction; GA4 totalRevenue / averagePurchaseRevenue /
    totalPurchasers]: per month, transaction count, revenue,
    distinct buyers, average order value, and revenue per buyer — the
    standard commerce report the reference's metric surface serves, on
    `orders` as the transaction table.

    Scale shape: one hash aggregate on month (~tens of groups) with
    partial aggregation; the distinct-buyer count rides the same shuffle
    via Expand.  Revenue is an exact decimal(38,9) accumulation (the
    dsum/dsum_sql determinism contract), so all three ratios are
    identical doubles in both engines before terminal rounding."""
    from google_analytics_dataframes_spark.queries._util import dsum

    o = T(spark, sf_dir, "orders")
    month = F.date_format("o_orderdate", "yyyy-MM")
    rev = dsum("o_totalprice")
    return o.groupBy(month.alias("month")).agg(
        F.count("*").alias("transactions"),
        F.round(rev, 2).alias("revenue"),
        F.count_distinct("o_custkey").alias("buyers"),
        F.round(rev / F.count("*"), 6).alias("avg_order_value"),
        F.round(rev / F.count_distinct("o_custkey"), 6).alias("revenue_per_buyer"),
    )


@register(
    "rb23_incremental_rollup",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n, {dsum_sql('value')} AS sum_value
    FROM events GROUP BY day, event_type
    """,
)
def rb23_incremental_rollup(spark, sf_dir):
    """INCREMENTAL rollup maintenance — the materialized-view refresh a
    reporting warehouse runs every night instead of recomputing history:
    the (day, event_type) rollup is produced as MERGE(base, delta), where
    `base` is the rollup of all days before the cutoff (the standing
    materialization) and `delta` is the rollup of the new days only, and
    the two partials are combined by RE-AGGREGATING their mergeable
    states (counts add; exact-decimal sums add — the algebraic property
    that makes a metric incrementally maintainable at all; ratios/
    distincts must be derived post-merge or carried as sketches, which
    is exactly why the report layer computes them terminally).

    The oracle is the FULL recompute over raw events, so the driver hash
    proves MERGE(base, delta) == full — the refresh correctness condition
    itself, checked end to end.  Scale shape: each partial is one
    partial-aggregated shuffle over its slice (at 100 TB the base slice
    isn't even scanned — it's the stored rollup; here both sides derive
    from the same table to keep the query self-contained), and the merge
    re-aggregates |days| x |types| rows — metadata-sized."""
    ev = T(spark, sf_dir, "events").select(
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day"),
        "event_type",
        "value",
    )
    cutoff = "2024-01-25"  # last days are the 'new data' slice

    def rollup(df):
        return df.groupBy("day", "event_type").agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,6)")).alias("_sum_state"),
        )

    base = rollup(ev.filter(F.col("day") < cutoff))
    delta = rollup(ev.filter(F.col("day") >= cutoff))
    merged = (
        base.unionAll(delta)
        .groupBy("day", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n"),
            F.sum("_sum_state").alias("_sum_state"),
        )
    )
    return merged.select(
        "day",
        "event_type",
        "n",
        F.col("_sum_state").cast("double").alias("sum_value"),
    )


@register(
    "rb24_timebound_funnel",
    oracle="""
    WITH viewers AS (SELECT DISTINCT user_id FROM events
                     WHERE event_type = 'view'),
    converted AS (
      SELECT DISTINCT v.user_id
      FROM events v JOIN events p
        ON p.user_id = v.user_id
       AND v.event_type = 'view' AND p.event_type = 'purchase'
       AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR)
    SELECT CAST((SELECT COUNT(*) FROM viewers) AS BIGINT) AS n_viewers,
           CAST((SELECT COUNT(*) FROM converted) AS BIGINT) AS n_converted_1h,
           round(CAST((SELECT COUNT(*) FROM converted) AS DOUBLE)
                 / (SELECT COUNT(*) FROM viewers), 6) AS conv_rate_1h
    """,
)
def rb24_timebound_funnel(spark, sf_dir):
    """TIME-BOUND funnel conversion — GA's sequence segments with the
    `withinTimeframe` constraint rb7's ordered funnel lacks: a user
    converts only if a purchase lands WITHIN ONE HOUR of one of their
    views, the form product analytics actually asks ('did the view drive
    the purchase?') rather than ever-ordered steps.

    Scale shape: step-2 qualification is a SEMI join with an interval
    condition — views join purchases per user with the (0, 1h] bound and
    the distinct user set is counted, so no per-user event array and no
    window over the whole stream; the same candidate-bounding the
    interval join family (j10/j12/st9) uses.  Counts and the terminal
    ratio are exact integers divided once."""
    ev = T(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    viewers = views.select("user_id").distinct()
    converted = (
        views.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (
                F.col("p_ts")
                <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")
            ),
            "left_semi",
        )
        .select("user_id")
        .distinct()
    )
    nv = viewers.agg(F.count("*").cast("long").alias("n_viewers"))
    nc = converted.agg(F.count("*").cast("long").alias("n_converted_1h"))
    return nv.crossJoin(nc).select(
        "n_viewers",
        "n_converted_1h",
        F.round(
            F.col("n_converted_1h").cast("double") / F.col("n_viewers"), 6
        ).alias("conv_rate_1h"),
    )


@register(
    "rb25_nav_pagerank",
    oracle="""
    WITH pg AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract(props, '$.k') AS INTEGER) AS page
      FROM events
    ),
    tr AS (
      SELECT LAG(page) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS src,
             page AS dst
      FROM pg
    ),
    edges AS (
      SELECT src, dst, COUNT(*) AS cnt
      FROM tr WHERE src IS NOT NULL GROUP BY src, dst
    ),
    outdeg AS (SELECT src, SUM(cnt) AS out_n FROM edges GROUP BY src),
    pages AS (SELECT DISTINCT page FROM pg),
    nn AS (SELECT COUNT(*) AS n FROM pages),
    r0 AS (SELECT page, CAST(1.0 AS DOUBLE) AS r FROM pages),
    it1 AS (
      SELECT p.page,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(s.s,
               CAST(0.0 AS DOUBLE)) AS r
      FROM pages p
      LEFT JOIN (
        SELECT e.dst AS page,
               CAST(SUM(CAST((r0.r * e.cnt / o.out_n) AS DECIMAL(38,12)))
                    AS DOUBLE) AS s
        FROM edges e JOIN r0 ON r0.page = e.src
                     JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.page = p.page
    ),
    it2 AS (
      SELECT p.page,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(s.s,
               CAST(0.0 AS DOUBLE)) AS r
      FROM pages p
      LEFT JOIN (
        SELECT e.dst AS page,
               CAST(SUM(CAST((it1.r * e.cnt / o.out_n) AS DECIMAL(38,12)))
                    AS DOUBLE) AS s
        FROM edges e JOIN it1 ON it1.page = e.src
                     JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.page = p.page
    ),
    it3 AS (
      SELECT p.page,
             CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * COALESCE(s.s,
               CAST(0.0 AS DOUBLE)) AS r
      FROM pages p
      LEFT JOIN (
        SELECT e.dst AS page,
               CAST(SUM(CAST((it2.r * e.cnt / o.out_n) AS DECIMAL(38,12)))
                    AS DOUBLE) AS s
        FROM edges e JOIN it2 ON it2.page = e.src
                     JOIN outdeg o ON o.src = e.src
        GROUP BY e.dst
      ) s ON s.page = p.page
    )
    SELECT i.page, i.r / nn.n AS rank3,
           CAST(COALESCE(o.out_n, 0) AS BIGINT) AS out_transitions
    FROM it3 i CROSS JOIN nn LEFT JOIN outdeg o ON o.src = i.page
    """,
)
def rb25_nav_pagerank(spark, sf_dir):
    """Navigation-flow PageRank [GA 'page value' / behavior-flow analog]:
    the user clickstream as a directed page graph — consecutive events per
    user (ts, event_id order; the id tiebreak makes equal-timestamp order
    engine-independent) define src->dst transitions between the 100 `k`
    prop pages — ranked by 3 damped power iterations (d=0.85,
    teleport-only dangling treatment, mirrored in the oracle).

    The iterative-algorithm family member: l29's label propagation
    iterates to a fixpoint on SETS; this iterates on WEIGHTED float mass,
    which is where cross-engine determinism usually dies — double
    summation over in-edges is order-dependent.  The iteration runs on
    N-NORMALIZED mass R = N*r (teleport term a constant 0.15, R is O(1)
    at any page count, one terminal division by N), so the per-iteration
    in-mass sums accumulate in exact associative DECIMAL(38,12) — 12
    significant decimals whether the graph has 10^2 or 10^6 pages.  Both
    halves of that choice are measured, not aesthetic: un-normalized
    mass at 10^6 pages quantizes per-edge terms (~1e-12) to zero at
    money-scale precision, and widening the scale instead breaks the
    cross-engine cast contract (DECIMAL(38,18) measured 92/100 cells off
    by 1 ulp at the 18th digit: the scaled value outgrows the double's
    53-bit exactness and the engines' double->decimal paths round the
    last digit differently).  The scalar chain 0.15 + 0.85*s uses only
    correctly-rounded IEEE ops with the SAME parse tree on both sides
    (the oracle CASTs its literals — DuckDB would otherwise compute them
    in decimal arithmetic).

    Scale shape: corpus-scale work is ONE user-hash exchange (the lag
    window) + one small edge rollup; the graph itself is page-bounded
    (100 nodes here, ~10^6 for a real site — still a broadcast), so the 3
    iterations cost O(edges) each on localCheckpoint'd edge AND page
    frames, NOT more corpus scans (Catalyst re-expands the events
    lineage per unmaterialized reference — the grouped_rank/l76
    materialization posture; review r8 found pages/nn leaking ~8 scan
    copies into the plan).
    PageRank mass over navigation graphs is the classic page-importance
    signal (Brin-Page '98; the same shape ranks domains for crawl
    prioritization in training-data pipelines)."""
    ev = T(spark, sf_dir, "events")
    from pyspark.sql import Window

    page = F.get_json_object("props", "$.k").cast("int")
    pg = ev.select("user_id", "ts", "event_id", page.alias("page"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = pg.select(F.lag("page").over(w).alias("src"), F.col("page").alias("dst"))
    edges = (
        tr.filter(F.col("src").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)  # page-bounded; stops per-iteration
        # re-expansion of the events scan + window lineage
    )
    outdeg = edges.groupBy("src").agg(F.sum("cnt").alias("out_n"))
    # pages/nn are referenced by r0 AND every iteration — without their
    # own materialization Catalyst re-expands the events scan + json
    # parse + distinct lineage per reference (~8 corpus scans observed;
    # review r8).  The page list is graph-metadata-sized.
    pages = pg.select("page").distinct().localCheckpoint(eager=True)
    nn = pages.agg(F.count("*").alias("n"))
    # iterate on N-NORMALIZED mass R = N*r (review r8): R is O(1) at any
    # page count, so DECIMAL(38,12) accumulation keeps 12 significant
    # decimals whether the graph has 10^2 or 10^6 pages — un-normalized
    # mass at 10^6 pages quantizes to zero, and any wider scale breaks
    # the cross-engine cast contract (scale 18 measured: the scaled
    # value outgrows the double's 53-bit exactness and the engines'
    # double->decimal paths round the last digit differently)
    r = pages.select("page", F.lit(1.0).alias("r"))
    ew = edges.join(F.broadcast(outdeg), "src")
    for _ in range(3):
        contrib = (
            ew.join(
                F.broadcast(r.withColumnRenamed("page", "src")), "src"
            )
            .groupBy("dst")
            .agg(
                # dsum's DECIMAL(30,6) was sized for money sums; PageRank
                # mass needs 18 decimals or per-edge terms (~r/out_n,
                # down to ~1e-12 at 10^6 pages) quantize to zero
                # (review r8) — same exact-decimal contract, wider scale,
                # mirrored in the oracle
                F.sum(
                    (F.col("r") * F.col("cnt") / F.col("out_n")).cast(
                        "decimal(38,12)"
                    )
                )
                .cast("double")
                .alias("s")
            )
        )
        r = (
            pages.join(
                F.broadcast(contrib.withColumnRenamed("dst", "page")),
                "page",
                "left",
            )
            .select(
                "page",
                (
                    F.lit(0.15)
                    + F.lit(0.85) * F.coalesce(F.col("s"), F.lit(0.0))
                ).alias("r"),
            )
        )
    return r.crossJoin(F.broadcast(nn)).join(
        F.broadcast(outdeg.withColumnRenamed("src", "page")), "page", "left"
    ).select(
        "page",
        (F.col("r") / F.col("n")).alias("rank3"),
        F.coalesce(F.col("out_n"), F.lit(0)).cast("long").alias("out_transitions"),
    )


# ------------------------------------------------------------------ rb26 ---
@register(
    "rb26_flow_reachability",
    oracle="""
    WITH RECURSIVE
    pg AS (SELECT user_id, ts, event_id,
                  CAST(json_extract(props, '$.k') AS INTEGER) AS page
           FROM events),
    tr AS (SELECT LAG(page) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS src,
                  page AS dst FROM pg),
    ec AS (SELECT src, dst, COUNT(*) AS cnt FROM tr
           WHERE src IS NOT NULL AND src <> dst GROUP BY src, dst),
    edges AS (SELECT src, dst FROM (
                SELECT src, dst,
                       ROW_NUMBER() OVER (PARTITION BY src
                                          ORDER BY cnt DESC, dst) AS rk
                FROM ec) WHERE rk <= 3),
    reach(page, hop) AS (
      SELECT CAST(0 AS INTEGER) AS page, CAST(0 AS INTEGER) AS hop
      UNION ALL
      SELECT e.dst, r.hop + 1
      FROM reach r JOIN edges e ON e.src = r.page
      WHERE r.hop < 4
    )
    SELECT page, MIN(hop) AS min_hops, COUNT(*) AS n_paths
    FROM reach GROUP BY page
    """,
)
def rb26_flow_reachability(spark, sf_dir):
    """Behavior-flow reachability [GA behavior-flow / path-exploration
    analog] via WITH RECURSIVE — Spark 4's recursive CTE surface on the
    rb25 clickstream page graph.

    GA's path exploration shows, from an origin page, the top-N next
    pages at each step; this is that traversal as a relational fixpoint:
    the graph keeps only each page's top-3 transitions (ROW_NUMBER by
    count desc, dst-ascending tiebreak — deterministic and
    scale-invariant sparsity, unlike an absolute count threshold whose
    density shifts with sf), then a recursive CTE walks ≤4 hops from
    page 0.  min_hops is the BFS distance along top-3 edges; n_paths
    counts distinct bounded walks (multiplicity of (page,hop) rows) —
    both integer metrics, so cross-engine equality is exact with no
    float contract.

    Scale shape: the corpus-scale work is ONE user-hash exchange (the
    LAG window) + the edge rollup, identical to rb25; the recursion then
    runs on the page-bounded top-3 graph (≤3·|pages| edges — broadcast
    size for any real site), and the hop bound caps the walk table at
    O(3^4·|pages|) rows independent of corpus size.  The UNION ALL
    recursion is exactly Spark's iterative-union execution: each level
    is one join against the prior level, the same physical shape as
    rb25's unrolled power iterations, but declared through the SQL
    standard's fixpoint syntax (SPARK-24497, new in Spark 4.x) instead
    of a Python loop.

    Round 14 (guide §2.4 remove-repeated-work): UnionLoopExec re-executes
    the recursive step's WHOLE subtree each iteration, and with the edge
    derivation inlined into the CTE the before-plan showed the events
    scan + JSON parse + LAG window + rollup + top-3 INSIDE the loop —
    the corpus-scale work ran once per hop (~5x) instead of once.  The
    edge list is now built as a DataFrame (identical derivation, same
    WindowGroupLimit top-3 plan) and localCheckpoint'd — page-bounded,
    ≤3·|pages| rows, the rb25 materialization posture — so the recursion
    joins a tiny in-memory relation per hop and the corpus is scanned
    exactly once.  Plans: `git show
    0dd433a:plans/r14/rb26_flow_reachability_{before,after}.txt`."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events")
    page = F.get_json_object("props", "$.k").cast("int")
    pg = ev.select("user_id", "ts", "event_id", page.alias("page"))
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = pg.select(
        F.lag("page").over(w_seq).alias("src"), F.col("page").alias("dst")
    )
    ec = (
        tr.filter(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("cnt"))
    )
    w_rk = Window.partitionBy("src").orderBy(F.col("cnt").desc(), F.col("dst"))
    edges = (
        ec.select("src", "dst", F.row_number().over(w_rk).alias("rk"))
        .filter(F.col("rk") <= 3)
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    edges.createOrReplaceTempView("_rb26_edges")
    return spark.sql(
        """
        WITH RECURSIVE
        reach(page, hop) AS (
          SELECT CAST(0 AS INT) AS page, CAST(0 AS INT) AS hop
          UNION ALL
          SELECT e.dst, r.hop + 1
          FROM reach r JOIN _rb26_edges e ON e.src = r.page
          WHERE r.hop < 4
        )
        SELECT page, MIN(hop) AS min_hops, COUNT(*) AS n_paths
        FROM reach GROUP BY page
        """
    )


@register(
    "rb27_attribution",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
      FROM events),
    marked AS (
      SELECT *,
        first_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft,
        last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                   IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
      FROM seq),
    pur AS (SELECT COALESCE(ft, 'direct') AS ft, COALESCE(lt, 'direct') AS lt,
                   value
            FROM marked WHERE event_type = 'purchase')
    SELECT * FROM (
      SELECT 'first_touch' AS model, ft AS channel,
             CAST(COUNT(*) AS BIGINT) AS purchases,
             {dsum_sql('value')} AS revenue
      FROM pur GROUP BY ft
      UNION ALL
      SELECT 'last_touch' AS model, lt AS channel,
             CAST(COUNT(*) AS BIGINT) AS purchases,
             {dsum_sql('value')} AS revenue
      FROM pur GROUP BY lt)
    """,
)
def rb27_attribution(spark, sf_dir):
    """Conversion attribution, GA4's flagship reporting feature [K —
    attribution models / advertising workspace]: every purchase's revenue
    credited to a touch channel under two models at once — FIRST touch
    (the non-purchase event type that opened the user's history) and
    LAST touch (the most recent non-purchase event before the purchase).
    Purchases with no prior touch fall to the 'direct' channel, GA's
    (direct)/(none) bucket.

    Both accessors are the IGNORE-NULLS running idiom (w13's carry-
    forward) in ONE user-partitioned window pass — user_id is the
    high-cardinality key, so the single hash exchange is skew-free and
    both models ride the same sort.  The post-filter purchase set is a
    tiny fraction of the corpus, and both models come out of ONE
    aggregation: each purchase explodes to its two (model, channel)
    rows before a single groupBy, so the fact scan and window run once
    (the first form union'd two aggregations and re-ran the whole
    pipeline per model — review r8)."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    pur = (
        ev.select(
            "event_type",
            "value",
            F.first(touch, ignorenulls=True).over(w).alias("ft"),
            F.last(touch, ignorenulls=True).over(w).alias("lt"),
        )
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce("ft", F.lit("direct")).alias("ft"),
            F.coalesce("lt", F.lit("direct")).alias("lt"),
            "value",
        )
    )

    mc = F.explode(
        F.array(
            F.struct(
                F.lit("first_touch").alias("model"), F.col("ft").alias("channel")
            ),
            F.struct(
                F.lit("last_touch").alias("model"), F.col("lt").alias("channel")
            ),
        )
    )
    return (
        pur.select(mc.alias("mc"), "value")
        .groupBy(
            F.col("mc.model").alias("model"), F.col("mc.channel").alias("channel")
        )
        .agg(F.count("*").alias("purchases"), dsum("value").alias("revenue"))
    )


@register(
    "rb28_entry_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CAST(json_extract(props, '$.k') AS INTEGER) AS page,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END
                  AS is_new
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
      FROM flagged),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts_us, event_id) AS rn
      FROM numbered),
    paths AS (
      SELECT user_id, session_id,
             COALESCE(string_agg(CAST(page AS VARCHAR), '>'
                        ORDER BY ts_us, event_id), '(not set)') AS path
      FROM ranked WHERE rn <= 3 GROUP BY user_id, session_id)
    SELECT path, CAST(COUNT(*) AS BIGINT) AS sessions
    FROM paths GROUP BY path
    ORDER BY sessions DESC, path LIMIT 10
    """,
)
def rb28_entry_paths(spark, sf_dir):
    """Top session entry paths [K — GA4 path exploration]: the first three
    pages of every 30-min-gap session (rb18's exact boundary semantics,
    pages from props.k as in rb25), rendered '0>17>3', ranked by session
    count with a path tiebreak for a deterministic top-10.

    Scale: the sequencing window and the rank-3 cut share ONE user-hash
    exchange (the (user, session) window's clustering keys are satisfied
    by hashpartitioning(user_id)); row_number <= 3 executes as a
    map-side WindowGroupLimit, so path assembly sees at most 3 rows per
    session; the path census is output-bounded and TakeOrdered keeps the
    global top-10 without a full sort."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        F.get_json_object("props", "$.k").cast("int").alias("page"),
    )
    w_seq = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    numbered = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts_us").over(w_seq).isNull()
            | (F.col("ts_us") - F.lag("ts_us").over(w_seq) >= 1_800_000_000),
            1,
        ).otherwise(0),
    ).withColumn(
        "session_id",
        F.sum("is_new").over(w_seq.rowsBetween(Window.unboundedPreceding, 0)),
    )
    w_sess = Window.partitionBy("user_id", "session_id").orderBy(
        "ts_us", "event_id"
    )
    head3 = numbered.withColumn("rn", F.row_number().over(w_sess)).filter(
        F.col("rn") <= 3
    )
    # array_join drops null elements, so an all-null-page session
    # renders '' where the oracle's string_agg yields NULL — both sides
    # fall to GA's '(not set)' sentinel instead
    paths = head3.groupBy("user_id", "session_id").agg(
        F.coalesce(
            F.nullif(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("ts_us", "event_id", "page"))
                        ),
                        lambda x: x.getField("page").cast("string"),
                    ),
                    ">",
                ),
                F.lit(""),
            ),
            F.lit("(not set)"),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("sessions"))
        .orderBy(F.desc("sessions"), "path")
        .limit(10)
    )


@register(
    "rb29_conversion_lag",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value, epoch_us(ts) AS ts_us
      FROM events),
    marked AS (
      SELECT *,
        first_value(CASE WHEN event_type <> 'purchase' THEN ts_us END
                    IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ft_us
      FROM seq),
    pur AS (SELECT value, ts_us - ft_us AS lag_us
            FROM marked WHERE event_type = 'purchase'),
    banded AS (
      SELECT CASE WHEN lag_us IS NULL THEN 'no_touch'
                  WHEN lag_us < 3600000000 THEN '1_under_1h'
                  WHEN lag_us < 86400000000 THEN '2_1h_to_1d'
                  WHEN lag_us < 604800000000 THEN '3_1d_to_7d'
                  ELSE '4_over_7d' END AS band,
             value, lag_us
      FROM pur)
    SELECT band, CAST(COUNT(*) AS BIGINT) AS purchases,
           {dsum_sql('value')} AS revenue,
           round(CAST(SUM(lag_us) AS DOUBLE) / COUNT(lag_us) / 1000000.0, 6)
             AS avg_lag_sec
    FROM banded GROUP BY band
    """,
)
def rb29_conversion_lag(spark, sf_dir):
    """Time-to-convert report [K — GA4 conversion-paths 'days to
    conversion']: every purchase's lag since the user's FIRST touch
    (rb27's first-touch accessor, on the timestamp instead of the
    channel), banded into the standard GA latency buckets with purchase
    count, revenue, and mean lag per band.  Band keys carry a sort
    prefix so both engines order identically.

    Same scale shape as rb27: one user-hash window pass, purchase-sized
    post-filter, 5-row output.  The lag sum accumulates in decimal(38,0)
    (a week-plus band at ~1.5e7 purchases overflows BIGINT micros; the
    oracle's SUM widens to HUGEINT), so the mean is a deterministic
    double division of exact integers on both sides."""
    from pyspark.sql import Window

    ev = T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        F.unix_micros("ts").alias("ts_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ft = F.first(
        F.when(F.col("event_type") != "purchase", F.col("ts_us")),
        ignorenulls=True,
    ).over(w)
    pur = (
        ev.select("event_type", "value", "ts_us", ft.alias("ft_us"))
        .filter(F.col("event_type") == "purchase")
        .select("value", (F.col("ts_us") - F.col("ft_us")).alias("lag_us"))
    )
    band = (
        F.when(F.col("lag_us").isNull(), "no_touch")
        .when(F.col("lag_us") < 3_600_000_000, "1_under_1h")
        .when(F.col("lag_us") < 86_400_000_000, "2_1h_to_1d")
        .when(F.col("lag_us") < 604_800_000_000, "3_1d_to_7d")
        .otherwise("4_over_7d")
    )
    return pur.groupBy(band.alias("band")).agg(
        F.count("*").alias("purchases"),
        dsum("value").alias("revenue"),
        F.round(
            F.sum(F.col("lag_us").cast("decimal(38,0)")).cast("double")
            / F.count("lag_us")
            / 1_000_000.0,
            6,
        ).alias("avg_lag_sec"),
    )


@register(
    "rb30_scd2_pointintime",
    oracle=f"""
    WITH versions AS (
        SELECT user_id, event_type AS seg, ts AS eff_from,
               LEAD(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS eff_to
        FROM events WHERE event_type <> 'purchase'
    )
    SELECT v.seg, COUNT(*) AS n_purchases,
           {dsum_sql('p.value')} AS revenue
    FROM events p
    JOIN versions v
      ON p.user_id = v.user_id
     AND v.eff_from <= p.ts
     AND (v.eff_to IS NULL OR p.ts < v.eff_to)
    WHERE p.event_type = 'purchase'
    GROUP BY v.seg
    """,
)
def rb30_scd2_pointintime(spark, sf_dir):
    """SCD2 dimension build + point-in-time attribution — the GA4
    user-property semantic: a user's property changes over time and each
    event is attributed to the value IN EFFECT at the event's timestamp,
    not the latest one.  The versioned dimension is built with one
    window pass (LEAD over (user, ts, event_id) gives half-open
    [eff_from, eff_to) validity ranges — duplicate-timestamp-safe: a
    zero-width version matches nothing), then purchases point-in-time
    join on the user key with the range as a co-located post-join
    predicate — j11's as-of machinery applied to the warehouse SCD2
    shape.

    Scale: both sides hash-partition on user_id (one exchange each, and
    AQE coalesces the window and join exchanges onto the same key);
    per-user version chains are small, so the range predicate filters
    bounded candidate sets — never a time-cross-product.  Purchases
    before a user's first version row drop out of the inner join (no
    version was in effect), mirroring GA's "(not set)" exclusion."""
    ev = T(spark, sf_dir, "events")
    return (
        scd2_point_in_time(ev)
        .groupBy("seg")
        .agg(F.count("*").alias("n_purchases"), dsum("value").alias("revenue"))
    )


def scd2_point_in_time(ev):
    """rb30's core, pre-aggregation (shared with the property test in
    tests/test_property.py): every purchase row joined to the
    non-purchase version in effect at its timestamp.  Input needs
    columns (event_id, user_id, ts, event_type, value); output is the
    purchase rows plus the matched version's `seg`."""
    from pyspark.sql import Window

    w = Window.partitionBy("v_user").orderBy("eff_from", "event_id")
    ver = (
        ev.filter(F.col("event_type") != "purchase")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_type").alias("seg"),
            F.col("ts").alias("eff_from"),
            "event_id",
        )
        .withColumn("eff_to", F.lead("eff_from").over(w))
        .drop("event_id")
    )
    pur = ev.filter(F.col("event_type") == "purchase")
    return pur.join(
        ver,
        (pur.user_id == ver.v_user)
        & (ver.eff_from <= pur.ts)
        & (ver.eff_to.isNull() | (pur.ts < ver.eff_to)),
    )
