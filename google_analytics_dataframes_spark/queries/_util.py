"""Shared helpers for registered queries: table loading, session-conf
pinning + re-exported determinism builders (canonical home:
..determinism)."""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from google_analytics_dataframes_spark.determinism import (  # noqa: F401
    FMT_D_SQL,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    fmt_d,
    r6,
)
from google_analytics_dataframes_spark.io import load_table


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table (lazy)."""
    return load_table(spark, sf_dir, name)


@contextmanager
def pinned_confs(spark: SparkSession, confs: dict[str, str]):
    """Set the session confs ``confs`` for the block, then put each key
    back as it was: its old value, or unset when it had none."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
