"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash).  Both dicts follow the registry's canonical registration order.

Implementation lives in ``google_analytics_dataframes_spark/``; every
SURVEY.md §2 operator registers itself into the query registry, which this
module re-exports in the driver's shape.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    GA's canonical question over the events table (SURVEY.md §7 step 1):
    "count and value by event_type by day, January window, busiest first" —
    scan -> pushed date filter -> groupBy(day, event_type) ->
    agg(count, exact-decimal sum) -> orderBy -> limit.
    """
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.queries._util import T, dsum
    from google_analytics_dataframes_spark.session import configure

    configure(spark)
    ev = T(spark, "/root/testdata/sf0.001", "events")
    return (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-02-01").cast("timestamp"))
        )
        .groupBy(
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), dsum("value").alias("sum_value"))
        .orderBy(F.col("n_events").desc(), "day", "event_type")
        .limit(100)
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from google_analytics_dataframes_spark.registry import query_fns

    return query_fns()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI twins for every O-tier query; R/D-tier keys are
    omitted so the driver records the weaker rows-only check."""
    from google_analytics_dataframes_spark.registry import oracle_sqls

    return oracle_sqls()
