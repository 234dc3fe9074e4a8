"""Query modules — importing this package registers every implemented query
from SURVEY.md §2 into the registry (google_analytics_dataframes_spark.registry).

Imports are DELIBERATELY unguarded: a broken query module must fail loudly at
import time, not silently drop its whole family from the registry (the driver
would then report those queries as unimplemented instead of surfacing the real
error).
"""

# Import order mirrors SURVEY.md §7 build order; each import registers its
# queries as a side effect.
from google_analytics_dataframes_spark.queries import scans  # noqa: F401
from google_analytics_dataframes_spark.queries import filters  # noqa: F401
from google_analytics_dataframes_spark.queries import aggregates  # noqa: F401
from google_analytics_dataframes_spark.queries import joins  # noqa: F401
from google_analytics_dataframes_spark.queries import windows  # noqa: F401
from google_analytics_dataframes_spark.queries import sorts  # noqa: F401
from google_analytics_dataframes_spark.queries import setops  # noqa: F401
from google_analytics_dataframes_spark.queries import scalar_fns  # noqa: F401
from google_analytics_dataframes_spark.queries import streaming_batch  # noqa: F401
from google_analytics_dataframes_spark.queries import udfs  # noqa: F401
from google_analytics_dataframes_spark.queries import llm_ops  # noqa: F401
from google_analytics_dataframes_spark.queries import corpus_ops  # noqa: F401
from google_analytics_dataframes_spark.queries import report_queries  # noqa: F401
from google_analytics_dataframes_spark.queries import analytic_suite  # noqa: F401
from google_analytics_dataframes_spark.queries import diagnostics  # noqa: F401
