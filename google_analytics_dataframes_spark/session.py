"""SparkSession factory + runtime-conf hygiene (SURVEY.md §4.2, §7 step 1).

Three entry points:

* :func:`get_spark` — build a session for our own tests/bench (local[N]);
  the driver JVM it launches starts from a Spark home without spark-mllib
  and, where the launch allows, maps a class-data-sharing archive of
  Spark's start-up classes
  (:mod:`google_analytics_dataframes_spark.jvm_archive`).
* :func:`configure` — idempotently apply the *runtime* confs any session
  needs for deterministic, DuckDB-hash-matching results.  The driver passes
  us its own SparkSession, so every query path calls ``configure(spark)``
  rather than assuming the session factory ran.
* :func:`state` — the one owner of session-scoped memos (one dict per
  session, forgotten when the application stops).

Determinism rules (SURVEY.md §5.2 item 4):
* session timezone UTC — `events.ts` / `o_orderdate` arithmetic must match
  DuckDB, which is timezone-naive over the same parquet.
* Arrow on — pandas_udf / toPandas paths are Arrow-batched, never row-ser.
* AQE on (Spark default) — runtime coalesce + skew-join handling; this is
  the 100-TB posture (BASELINE.json:6): plans must survive skew and
  small-partition fragmentation without hand-tuning.
"""

from __future__ import annotations

import importlib
import os
import threading
import weakref

from pyspark.sql import SparkSession

from google_analytics_dataframes_spark import jvm_archive

#: Runtime (session-level) confs — settable on a live session.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Parquet pushdown — free correctness-preserving scan reduction.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # `events.ts` is parquet TIMESTAMP(NANOS) (FIXTURES.md) which Spark's
    # reader rejects; read as raw nanos LONG, io.py converts to µs timestamp
    # (floor division — matches DuckDB's ns->µs truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


#: Session-scoped memos: SparkSession -> (applicationId, memo dict).  Every
#: cache whose values die with a session (lazy table reads, configured
#: flags, stored index frames, router stats) lives in the one
#: dict :func:`state` hands out, so a session's memos go away with it.
_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def state(spark: SparkSession) -> dict:
    """The plain memo dict owned by ``spark`` (one per session object, so
    ``spark.newSession()`` starts empty).  Only one SparkContext lives in a
    driver process, so the first lookup under a new applicationId drops
    every entry of any other application: a stop + restart leaves nothing
    of the dead context behind.  A memo that names a catalog table is
    re-validated before it is trusted (sources/bucketed.gram_index_table)."""
    entry = _STATE.get(spark)
    if entry is None:
        app_id = spark.sparkContext.applicationId
        for other, (other_app, _) in list(_STATE.items()):
            if other_app != app_id:
                del _STATE[other]
        entry = _STATE[spark] = (app_id, {})
    return entry[1]


def configure(spark: SparkSession) -> SparkSession:
    """Idempotently apply runtime confs to an existing session (once per
    session: configure() runs on every load_table, ~3 ms of py4j round
    trips each, and nothing mutates RUNTIME_CONFS keys mid-session)."""
    memo = state(spark)
    if ("configured",) in memo:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not runtime-settable on this build — skip
            pass
    memo[("configured",)] = True
    return spark


def _builder(
    app_name: str = "google-analytics-dataframes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """A fresh builder carrying the engine's static confs (see :func:`get_spark`)."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    return SparkSession.builder.config(
        map={
            "spark.app.name": app_name,
            "spark.master": master,
            "spark.sql.shuffle.partitions": str(shuffle_partitions),
            "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
            "spark.ui.enabled": "false",
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
            # Long-lived-session hygiene (round 13): ContextCleaner reclaims
            # unreferenced persisted blocks / broadcasts only after a JVM GC
            # processes their weak references, and a suite that never fills
            # the heap never triggers one — Spark's default periodicGC of
            # 30 min is longer than the whole bench.  Measured at the 10x
            # synth: accumulated probe persists from ~300 distinct plans ran
            # in-suite queries at 2-5x their fresh-session cost (l7 13.8 s
            # in-suite vs 4.0 s standalone).  A minutely System.gc on this
            # heap is a few hundred ms — noise next to the eviction churn it
            # prevents.  Same posture on a real cluster: long-lived drivers
            # issuing many distinct plans set this low.
            "spark.cleaner.periodicGC.interval": "1min",
        }
    )


def get_spark(
    app_name: str = "google-analytics-dataframes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's static confs.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    ``shuffle_partitions`` defaults to ``$SPARK_GRAFT_SHUFFLE`` or 32 — at
    sf<=0.1 AQE coalesces tiny post-shuffle partitions anyway; on a real
    cluster this is sized so a shuffle partition fits executor memory
    (SURVEY.md §4.2).

    When this call launches the driver JVM, the launch starts from the
    launch view: ``$SPARK_HOME`` without spark-mllib, whose
    session-extensions provider builds Scala's runtime-reflection universe
    at every SparkSession start.  When the launch also qualifies (a conf
    dir of templates only, no extra classpath), the JVM maps a
    class-data-sharing archive of Spark's start-up classes, built on the
    first such launch (:mod:`google_analytics_dataframes_spark.jvm_archive`).
    If the view cannot be published, the launch warns and starts from
    ``$SPARK_HOME`` itself, spark-mllib included, and its SparkSession
    start pays for that provider.

    A launching call first starts one daemon thread that imports
    ``pyspark.testing.utils``: py4j's input converters import it, and
    pandas with it, on the first call that has arguments, so the import
    overlaps the JVM launch instead of following it.  A call that reuses a
    live SparkContext starts no thread and does no view or archive work.
    """
    builder = _builder(app_name, master, shuffle_partitions)
    if jvm_archive.launches_jvm():
        threading.Thread(
            target=importlib.import_module, args=("pyspark.testing.utils",), daemon=True
        ).start()
    with jvm_archive.driver_java_options() as java_options:
        if java_options:
            # prepended to the caller's --driver-java-options, not replacing them
            builder.config("spark.driver.defaultJavaOptions", java_options)
        spark = builder.getOrCreate()
    return configure(spark)
