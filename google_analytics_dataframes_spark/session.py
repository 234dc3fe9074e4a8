"""SparkSession factory + runtime-conf hygiene (SURVEY.md §4.2, §7 step 1).

Three entry points:

* :func:`get_spark` — build a session for our own tests/bench (local[N]);
  the driver JVM it launches starts from a Spark home without spark-mllib
  and maps a class-data-sharing archive of Spark's start-up classes
  (:mod:`google_analytics_dataframes_spark.jvm_archive`), and a second
  thread warms the SQL layer's start-up while the SparkContext starts.
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

import os
import threading
import warnings
import weakref

from pyspark import SparkConf, SparkContext
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
#: flags, staged stream dirs, catalog index/stats names) lives in the one
#: dict :func:`state` hands out, so a session's memos go away with it.
_STATE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def state(spark: SparkSession) -> dict:
    """The plain memo dict owned by ``spark`` (one per session object, so
    ``spark.newSession()`` starts empty).  Only one SparkContext lives in a
    driver process, so the first lookup under a new applicationId drops
    every entry of any other application: a stop + restart leaves nothing
    of the dead context behind.  Callers still re-validate what a memo
    points at (catalog tables, directories) before trusting it."""
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


def _static_confs(
    app_name: str = "google-analytics-dataframes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> dict[str, str]:
    """The engine's static confs (see :func:`get_spark`), as SparkConf keys."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    return {
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


def _builder(
    app_name: str = "google-analytics-dataframes-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """A fresh builder carrying the engine's static confs (see :func:`get_spark`)."""
    return SparkSession.builder.config(map=_static_confs(app_name, master, shuffle_partitions))


#: Name of the thread that warms the SQL layer's start-up during a launch.
SQL_WARM_UP_THREAD = "spark-sql-warm-up"

#: A class body for Janino to compile during the warm-up: a few of the
#: constructs Spark's generated code uses (fields, loops, casts, arrays, an
#: inner class, a checked exception), and nothing from Spark.  A class-load
#: log of a start plus three ga queries left 9 Janino classes to load after
#: this compile, and 38 after a one-method body.
_WARM_UP_CLASS_BODY = """
private final long[] values = new long[8];
private int nulls;

public long fold(java.util.Iterator rows) throws java.io.IOException {
  long total = 0L;
  while (rows.hasNext()) {
    Object row = rows.next();
    if (row == null) {
      nulls++;
    } else if (row instanceof Long) {
      total += ((Long) row).longValue();
    } else {
      throw new java.io.IOException("unexpected row " + row);
    }
  }
  for (int i = 0; i < values.length; i++) {
    total += values[i] * i;
  }
  return total + new Scale().apply(nulls);
}

private final class Scale {
  long apply(int n) { return (long) (n * 2.0d); }
}
"""


def _warm_sql_start(jvm) -> None:
    """Do two jobs of the SparkSession start and the first action ahead of
    time, on the calling thread's JVM thread:

    1. load each ``SparkSessionExtensionsProvider`` on the classpath through
       ``java.util.ServiceLoader`` and apply it to a throwaway
       ``SparkSessionExtensions``, as the SparkSession constructor does, so
       the providers' static initialisers run here (the launch view leaves
       spark-mllib's out, so archived launches find none);
    2. compile one class with Janino (:func:`_compile_warm_up_class`),
       which loads and verifies the compiler the first action's codegen
       needs: Janino's jars are signed, and JDK 17 keeps classes of signed
       jars out of the class-data-sharing archive."""
    provider = jvm.org.apache.spark.sql.SparkSessionExtensionsProvider._java_lang_class
    providers = jvm.java.util.ServiceLoader.load(provider, provider.getClassLoader()).iterator()
    extensions = jvm.org.apache.spark.sql.SparkSessionExtensions()
    while providers.hasNext():
        providers.next().apply(extensions)
    _compile_warm_up_class(jvm)


def _compile_warm_up_class(jvm) -> None:
    """Compile :data:`_WARM_UP_CLASS_BODY` with Janino's
    ``ClassBodyEvaluator``.  The class is named outside every Spark package
    and has no Spark import or superclass, so the compile initialises no
    Spark class and cannot race the JavaSparkContext's static
    initialisers."""
    evaluator = jvm.org.codehaus.janino.ClassBodyEvaluator()
    evaluator.setClassName("google_analytics_dataframes_spark.JaninoWarmUp")
    evaluator.cook(_WARM_UP_CLASS_BODY)


def _start_context(confs: dict[str, str]) -> None:
    """Launch the driver JVM and start its SparkContext with ``confs``
    while a daemon thread runs :func:`_warm_sql_start` as soon as the
    gateway is up; return only after that thread has ended, also when the
    start raises.  A failed warm-up warns and is otherwise ignored."""
    stop = threading.Event()
    failed: list[Exception] = []

    def warm_up() -> None:
        try:
            # py4j's input converters import this module, and pandas with
            # it (~0.5 s), on the first call that has arguments; import it
            # while the JVM launches, not on both threads once it is up
            import pyspark.testing.utils  # noqa: F401

            while SparkContext._jvm is None and not stop.is_set():
                stop.wait(0.01)
            if not stop.is_set():  # else the start is over: it raised, or was quicker
                _warm_sql_start(SparkContext._jvm)
        except Exception as e:
            failed.append(e)

    thread = threading.Thread(target=warm_up, name=SQL_WARM_UP_THREAD, daemon=True)
    thread.start()
    try:
        SparkContext.getOrCreate(SparkConf().setAll(list(confs.items())))
    finally:
        stop.set()
        thread.join()
    if failed:
        warnings.warn(
            f"SQL start-up warm-up failed, the SparkSession start does it instead: {failed[0]}"
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

    When this call launches the driver JVM and the launch qualifies (a conf
    dir of templates only, no extra classpath), the JVM's classpath is the
    conf dir plus the launch view's jars: ``$SPARK_HOME/jars`` without
    spark-mllib, whose session-extensions provider builds Scala's
    runtime-reflection universe at every SparkSession start.  It maps a
    class-data-sharing archive of Spark's start-up classes, built on the
    first such launch (:mod:`google_analytics_dataframes_spark.jvm_archive`).
    Every launch, qualifying or not, is split in two so that serial steps
    overlap:

    1. While the main thread creates the SparkContext, a daemon thread
       imports what py4j's input converters import on their first call
       (pandas among it), waits for the py4j gateway and then, on its own
       JVM thread, initialises the session extensions the SparkSession
       constructor would otherwise initialise on the critical path, and
       compiles one class with Janino, which the first action would
       otherwise load and verify (:func:`_warm_sql_start`).
    2. The main thread joins that thread, and only then builds the
       SparkSession over the live context.  The join is what keeps this
       safe: the extensions initialise SQL-layer Scala objects whose static
       initialisers depend on each other (``StaticSQLConf$`` calls into
       ``SQLConf$``), and two JVM threads initialising such a cycle at once
       deadlock for good.  During the warm-up the main thread touches only
       core classes.

    A failed warm-up warns and the constructor does the work itself; the
    thread never outlives the call, also when the start raises.  A call
    that reuses a live SparkContext does no archive work and starts no
    thread.
    """
    confs = _static_confs(app_name, master, shuffle_partitions)
    with jvm_archive.driver_java_options() as java_options:
        if java_options:
            # prepended to the caller's --driver-java-options, not replacing them
            confs["spark.driver.defaultJavaOptions"] = java_options
        if jvm_archive.launches_jvm():
            _start_context(confs)
        spark = SparkSession.builder.config(map=confs).getOrCreate()
    return configure(spark)
