"""Query registry — the bridge between SURVEY.md §2 rows and the driver
contract (``__spark_entry__.py``).

Each implemented operator registers one named query: a ``(spark, sf_dir) ->
DataFrame`` callable plus (for O-tier rows) the ANSI-SQL oracle string DuckDB
runs over the identical parquet.  The driver compares row-count + schema +
order-insensitive value-hash at sf0.01 (``__spark_entry__.py:3-7``).

Determinism hygiene enforced here by convention (SURVEY.md §5.2 item 4):
* every computed column aliased identically in DataFrame code and oracle SQL;
* float aggregates stabilized — exact decimal accumulation or terminal
  rounding — in BOTH formulations (see helpers in queries/_util.py);
* no reliance on row order (the driver hash is order-insensitive, but LIMIT
  queries pair with total ORDER BY so the selected rowset is deterministic).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from google_analytics_dataframes_spark.io import TESTDATA_DIR

QueryFn = Callable[[SparkSession, str], DataFrame]

#: The dataset the DRIVER's oracle gate runs at; sf_dir-parameterized
#: oracles resolve here for the driver-facing ``oracle_sqls()`` dict.
DRIVER_SF_DIR = os.path.join(TESTDATA_DIR, "sf0.01")


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    # DuckDB-runnable ANSI SQL; None => rows-only check.  A CALLABLE
    # oracle takes sf_dir and returns the SQL for THAT dataset — the
    # escape hatch for the two queries whose oracle text is data- or
    # path-dependent (rb8's pivot winners, s9's read_blob path), so
    # cross-sf sweeps no longer have to skip them (VERDICT r9 item 4).
    oracle: str | Callable[[str], str] | None
    tier: str  # "O" full oracle | "R" rows-only | "D" design/streaming
    doc: str = ""

    def oracle_for(self, sf_dir: str) -> str | None:
        return self.oracle(sf_dir) if callable(self.oracle) else self.oracle


_REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tier: str = "O", doc: str = ""):
    """Decorator: register ``fn`` as query ``name`` with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, tier=tier, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def registry() -> dict[str, Query]:
    """All registered queries in canonical registration order (importing the
    queries package populates it)."""
    import google_analytics_dataframes_spark.queries  # noqa: F401  (side-effect: registration)

    return dict(_REGISTRY)


def query_fns() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in registry().items()}


def oracle_sqls() -> dict[str, str]:
    """Driver-facing oracle dict: plain SQL strings, callables resolved at
    the driver's compare dataset (``DRIVER_SF_DIR``)."""
    return {
        name: q.oracle_for(DRIVER_SF_DIR)
        for name, q in registry().items()
        if q.oracle is not None
    }
