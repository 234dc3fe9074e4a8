"""Determinism-hardened Column builders shared by queries, the report
layer and external users.  Import-cycle-free: depends only on pyspark.

Cross-engine float determinism (SURVEY.md §5.2/§7 "hard parts"):

Double summation is order-dependent; Spark's partial/final aggregation order
varies with partitioning, so ``sum(double)`` can drift by ~1e-5 at 600k rows —
enough to flip a rounded last digit and break the driver's value-hash.  The
fix is **exact decimal accumulation**: cast each row value to
``DECIMAL(18,6)`` (exact, associative addition), sum, then cast the total
back to double.  Both Spark and DuckDB round the *same binary double* when
casting to decimal, so results are bit-identical and order-independent.

Helpers come in mirrored pairs: a Spark Column builder and the equivalent
DuckDB SQL fragment, so queries and oracles can't diverge silently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Decimal wide enough for sums of 1e8-magnitude money values at sf100+.
_DEC = "decimal(30,6)"
_DEC_SQL = "DECIMAL(30,6)"


def dsum(c: Column | str) -> Column:
    """Order-independent sum of a double column: exact decimal accumulation."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(_DEC)).cast("double")


def dsum_sql(expr: str) -> str:
    """DuckDB twin of :func:`dsum`.

    The render goes DECIMAL -> STRING -> DOUBLE rather than a direct
    DECIMAL -> DOUBLE cast (round-9 finding): once the sum's unscaled
    int128 exceeds 2^53 (sums > ~9e9 at scale 6 — any money total at the
    10x synth), DuckDB's direct cast double-rounds (int128 -> double,
    then / 10^scale) and can land 1 ulp off the correctly-rounded value
    Spark's BigDecimal.doubleValue() produces.  Witness:
    DECIMAL '50777888124.420500' -> 50777888124.420494 direct vs
    ...4205 via the string route (= python float(str), correctly
    rounded), found by the 10x differential on h1's sum_charge.  The
    string parse is strtod — correctly rounded — and NULL-safe, so both
    engines render the identical exact decimal to the identical double
    at ANY scale.  STRING (not VARCHAR) because three h rows execute
    this same SQL on the Spark side too, and Spark's parser requires a
    length for VARCHAR; DuckDB accepts STRING as a VARCHAR alias, and
    Spark's own decimal->double is already correctly rounded so the
    extra hop is a semantic no-op there."""
    return f"CAST(CAST(SUM(CAST(({expr}) AS {_DEC_SQL})) AS STRING) AS DOUBLE)"


def davg(c: Column | str) -> Column:
    """Order-independent mean: exact decimal sum / exact count (double div)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.sum(c.cast(_DEC)).cast("double") / F.count(c)


def davg_sql(expr: str) -> str:
    """DuckDB twin of :func:`davg`; same VARCHAR-routed render as
    :func:`dsum_sql` so the numerator double is correctly rounded at any
    magnitude."""
    return (
        f"(CAST(CAST(SUM(CAST(({expr}) AS {_DEC_SQL})) AS STRING) AS DOUBLE)"
        f" / COUNT({expr}))"
    )


def r6(c: Column) -> Column:
    """Terminal rounding for float outputs that aren't exact-decimal sums
    (ratios, stddev, percentiles): 6 digits in both engines."""
    return F.round(c, 6)


def fmt_d(c: Column | str) -> Column:
    """Render a date/timestamp as 'yyyy-MM-dd' string — timezone/precision-
    proof output representation (Spark µs vs DuckDB ns)."""
    c = F.col(c) if isinstance(c, str) else c
    return F.date_format(c, "yyyy-MM-dd")


FMT_D_SQL = "strftime({expr}, '%Y-%m-%d')"
