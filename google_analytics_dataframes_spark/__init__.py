"""google_analytics_dataframes_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference ``coej/google-analytics-dataframes`` (a Google Analytics
Core-Reporting-API -> pandas DataFrame connector; see SURVEY.md §0-§3),
re-expressed Spark-first:

* The reference's universe is the **GA report**: ``GROUP BY dimensions ->
  aggregate metrics`` with filters / date-range / sort / limit / pagination
  executed server-side by Google (SURVEY.md §2, [K]-tagged semantics).  Here
  every one of those semantics is a declarative DataFrame plan optimized by
  Catalyst and executed by Tungsten over Parquet.
* Beyond the reference surface, the engine carries the LLM-data-pipeline
  operators (dedup, similarity search, multimodal columns, text analysis)
  required by the north star (BASELINE.json:6), designed for 100 TB scale.

Public surface:
    from google_analytics_dataframes_spark import session, io, report
    from google_analytics_dataframes_spark.registry import registry
    registry()  # query name -> Query, in canonical registration order
"""

from google_analytics_dataframes_spark.session import configure, get_spark
from google_analytics_dataframes_spark.io import load_table, TABLES

__all__ = ["configure", "get_spark", "load_table", "TABLES"]
__version__ = "0.1.0"
