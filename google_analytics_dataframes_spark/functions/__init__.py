"""Public scalar/aggregate function surface of the engine.

The reference's "functions" are its dtype coercions and derived-metric
arithmetic [K]; ours are the determinism-hardened builders every query and
external user shares: exact-decimal aggregates (order-independent float
sums), canonical date renderers, and JVM-side vector math.  All are thin
Column builders — they compile into whole-stage codegen, never Python.
"""

from google_analytics_dataframes_spark.determinism import (
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fmt_d,
    r6,
)
from google_analytics_dataframes_spark.operators.similarity import (
    as_double,
    cosine,
    dot,
)
from google_analytics_dataframes_spark.operators.dedup import (
    char_ngrams,
    tokens,
    word_shingles,
)

__all__ = [
    "davg",
    "davg_sql",
    "dsum",
    "dsum_sql",
    "fmt_d",
    "r6",
    "as_double",
    "cosine",
    "dot",
    "char_ngrams",
    "tokens",
    "word_shingles",
]
