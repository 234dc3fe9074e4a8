"""§2.9 Streaming semantics, batch-first (SURVEY.md).

GA's server-side model is inherently streaming: sessions are
30-minutes-of-inactivity windows over a hit stream [K].  Each operator here
is the oracle-checkable *batch* formulation; `streaming/jobs.py` mirrors
st1/st3 (plus watermark/dedup/stateful st4-st7) on `readStream` with an
`availableNow` trigger, and tests assert stream == batch.

Window alignment: Spark's `window()` buckets align to the epoch, so the
DuckDB twin reconstructs starts from integer epoch-second arithmetic —
identical flooring on both engines.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from google_analytics_dataframes_spark.registry import register
from google_analytics_dataframes_spark.queries._util import T, dsum, dsum_sql

_DEC = "decimal(30,6)"


@register(
    "st1_tumbling",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def st1_tumbling(spark, sf_dir):
    """Tumbling 1-hour windows per event type — the groupBy(window(...))
    shape that runs unchanged under readStream."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "st2_sliding",
    oracle=f"""
    WITH slid AS (
      SELECT TIMESTAMP '1970-01-01'
               + ((epoch_us(ts) // 1000000) // 900 * 900 - g.i * 900) * INTERVAL 1 SECOND
               AS wstart,
             event_type, value
      FROM events CROSS JOIN generate_series(0, 3) AS g(i))
    SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
    FROM slid GROUP BY window_start, event_type
    """,
)
def st2_sliding(spark, sf_dir):
    """Sliding windows (1 h length, 15 min slide): every event lands in
    exactly 4 windows.  Oracle materializes the same 4 epoch-aligned starts
    per event via a 0..3 offsets cross join."""
    ev = T(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "st3_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           strftime(TIMESTAMP '1970-01-01' + (MIN(ts_us) // 1000000) * INTERVAL 1 SECOND,
                    '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS session_value,
           (MAX(ts_us) - MIN(ts_us)) // 1000000 AS duration_sec
    FROM numbered GROUP BY user_id, session_id
    """,
)
def st3_sessionize(spark, sf_dir):
    """Sessionization — GA's core session model [K]: a gap of 30+ minutes
    of inactivity starts a new session (gap >= 30 min, matching Spark's
    end-exclusive `session_window` [start, last+gap) so the streaming twin
    in streaming/jobs.py is boundary-identical).  Batch formulation:
    lag -> gap flag -> running sum as session id -> per-session metrics.
    One shuffle on user_id."""
    ev = T(spark, sf_dir, "events").select(
        "user_id", "event_id", "value", F.unix_micros("ts").alias("ts_us")
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
    return numbered.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.date_format(
            F.timestamp_seconds(F.floor(F.min("ts_us") / 1_000_000)),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("session_start"),
        F.count("*").alias("n_events"),
        dsum("value").alias("session_value"),
        ((F.max("ts_us") - F.min("ts_us")) / F.lit(1_000_000)).cast("long").alias(
            "duration_sec"
        ),
    )


# ---------------------------------------------------------------------------
# st9/st10 — REAL streaming execution, driver-visible.
#
# Unlike st1-st3 (batch formulations of streaming shapes), these two run the
# actual Structured Streaming jobs from streaming/jobs.py inside the query
# fn: stage events.parquet into a multi-file source directory, execute with
# Trigger.AvailableNow into a memory sink, and return the sink table.  The
# oracle is the equivalent batch join, so the driver's comparison IS the
# stream==batch equivalence proof (previously only asserted in pytest).
# The eager execution inside the fn is deliberate and documented: a stream
# has to run before its result exists.
# ---------------------------------------------------------------------------


# Staging-directory cache: the source directory a stream reads is FIXTURE
# scaffolding (a real deployment reads an existing bus/landing zone), so
# re-materializing it on every query invocation would charge the measured
# stream a parquet write it doesn't own.  Keyed like llm_ops._SRC5_CACHE —
# (variant, session, dataset, file fingerprint) — so a new session, a
# different sf, or regenerated testdata re-stages; the cached dir is
# re-validated on disk before reuse (the tmpfs sweeper only removes
# other-process orphans, but cheap paranoia).
_STAGE_CACHE: dict[tuple, str] = {}


def _stage_cached(spark, sf_dir: str, variant: str):
    import os

    from google_analytics_dataframes_spark.io import table_fingerprint

    key = (
        variant,
        spark.sparkContext.applicationId,
        sf_dir,
        table_fingerprint(sf_dir, "events"),
    )
    d = _STAGE_CACHE.get(key)
    return key, (d if d is not None and os.path.isdir(d) else None)


def _stage_stream_dir(spark, sf_dir: str, ordered: bool) -> str:
    """Copy events.parquet into a directory of 4 files (FileStreamSource
    wants a directory).  ``ordered=True`` range-partitions on ts and stamps
    ascending mtimes so the initial listing replays files in event-time
    order — required for watermarked stream-stream joins (a random split
    would evict state still needed by older rows arriving later)."""
    import os

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    tag = "ord" if ordered else "raw"
    key, cached = _stage_cached(spark, sf_dir, f"stream_{tag}")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"stream_{tag}_{sf_tag}")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * 1000  # back to raw ns LONG wire format
    )
    if ordered:
        ev.repartitionByRange(4, "ts").write.mode("overwrite").parquet(d)
        parts = sorted(f for f in os.listdir(d) if f.endswith(".parquet"))
        for i, fname in enumerate(parts):
            t = 1_700_000_000 + i * 60
            os.utime(os.path.join(d, fname), (t, t))
    else:
        # 2 files -> 2 microbatches: enough to prove per-batch replanning of
        # the static side without paying 4 batch fixed costs per sweep
        ev.repartition(2).write.mode("overwrite").parquet(d)
    _STAGE_CACHE[key] = d
    return d


def _stage_stream_dir_with_replays(spark, sf_dir: str) -> str:
    """Stage events as an AT-LEAST-ONCE stream: file 1 is the complete
    table, file 2 replays every 5th event (the redelivery a real bus
    produces on ack timeout / consumer restart).  Ascending mtimes make the
    initial listing deliver the full pass before the replays, so the replay
    batch exercises the dedup state rather than racing it."""
    import os
    import shutil

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    key, cached = _stage_cached(spark, sf_dir, "stream_dup")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"stream_dup_{sf_tag}")
    stage = d + "_stage"
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts", F.unix_micros("ts") * 1000  # raw ns LONG wire format
    )
    ev.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "full"))
    ev.filter(F.col("event_id") % 5 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(os.path.join(stage, "replay"))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i, sub in enumerate(("full", "replay")):
        [part] = [
            f for f in os.listdir(os.path.join(stage, sub)) if f.endswith(".parquet")
        ]
        dst = os.path.join(d, f"{i}_{sub}.parquet")
        shutil.copyfile(os.path.join(stage, sub, part), dst)
        t = 1_700_000_000 + i * 60
        os.utime(dst, (t, t))
    shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE[key] = d
    return d


def _stage_stream_dir_with_flush(
    spark, sf_dir: str, n_sentinels: int = 1, sentinel_hours: tuple = None
) -> str:
    """Ordered staging (see `_stage_stream_dir`) plus ``n_sentinels`` final
    SENTINEL files, each holding one event 2h/4h/... past max(ts) for
    pseudo-user -1.  Append-mode stateful queries only emit what the
    data-derived watermark has passed; the sentinel is the explicit
    end-of-stream clock advance that finalizes every real session/window
    (its own state stays beyond the watermark and never emits).  Real
    buses do the same with idle-time punctuations.

    Why anyone needs TWO: Spark applies the watermark with a one-batch
    delay — the watermark used while processing batch N derives from data
    seen through batch N-1 — and stream-stream OUTER joins emit their
    null-extended rows only on state eviction under the APPLIED
    watermark.  With a single sentinel, the sentinel's own batch is the
    last batch, so the watermark it advances is never applied and
    preserved rows from the final `lateness` window never get their null
    verdict (measured: st16 dropped exactly the last-2h unmatched
    purchases).  A second, later sentinel file forces one more batch in
    which the first sentinel's watermark is live.  Session windows (st14)
    don't need this: their eviction check runs against the batch-start
    watermark, which the single sentinel has already advanced by then."""
    import os
    import shutil

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    # default spacing 2h/4h/...: exactly `lateness` past max(ts), the
    # historical layout; callers that apply the sentinel watermark in a
    # batch where it must already CLEAR max(ts) (st16's single-data-batch
    # layout) pass explicit hours with margin above lateness.
    if sentinel_hours is None:
        sentinel_hours = tuple(2 * (s + 1) for s in range(n_sentinels))
    assert len(sentinel_hours) == n_sentinels
    hrs_tag = "_".join(str(h) for h in sentinel_hours)
    key, cached = _stage_cached(
        spark, sf_dir, f"stream_flush{n_sentinels}h{hrs_tag}"
    )
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"stream_flush{n_sentinels}h{hrs_tag}_{sf_tag}")
    base = _stage_stream_dir(spark, sf_dir, ordered=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    parts = sorted(f for f in os.listdir(base) if f.endswith(".parquet"))
    for i, fname in enumerate(parts):
        dst = os.path.join(d, f"{i}_{fname}")
        shutil.copyfile(os.path.join(base, fname), dst)
        t = 1_700_000_000 + i * 60
        os.utime(dst, (t, t))
    ev = load_table(spark, sf_dir, "events")
    max_ns = ev.agg(F.max(F.unix_micros("ts"))).first()[0] * 1000
    # sentinel files are written DIRECTLY with pyarrow — one 2-row file
    # per sentinel; spinning up a Spark write job per sentinel cost ~4 s
    # each (stream-probe measurement: 14 s staging for the 3-sentinel
    # variant), all of it scaffolding overhead
    import pyarrow as pa
    import pyarrow.parquet as pq

    for s in range(n_sentinels):
        # one sentinel row PER EVENT TYPE the downstream query splits on:
        # a multi-watermark query (stream-stream join: views side +
        # purchases side) takes the MIN across its watermark operators,
        # so a view-only sentinel leaves the purchase-side watermark — and
        # with it the global one — stuck `lateness` behind the last real
        # purchase (measured: st16's final-2h null verdicts never
        # flushed).  Sentinel rows all carry negative user ids; every
        # consumer filters them (or, for joins, they can never match a
        # real row).
        sent_ts = max_ns + int(sentinel_hours[s] * 3600) * 1_000_000_000
        table = pa.table(
            {
                "event_id": pa.array([-1 - 2 * s, -2 - 2 * s], pa.int64()),
                "ts": pa.array([sent_ts, sent_ts], pa.int64()),
                "user_id": pa.array([-1 - 2 * s, -2 - 2 * s], pa.int64()),
                "event_type": pa.array(["view", "purchase"], pa.string()),
                "value": pa.array([0.0, 0.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        )
        dst = os.path.join(d, f"{len(parts) + s}_sentinel{s}.parquet")
        pq.write_table(table, dst)
        t = 1_700_000_000 + (len(parts) + s) * 60
        os.utime(dst, (t, t))
    _STAGE_CACHE[key] = d
    return d


def _stage_doc_stream(spark, sf_dir: str) -> str:
    """Stage DOCUMENTS as a 2-file re-crawl stream: file 0 is the full
    corpus (doc_id, text); file 1 "re-crawls" every 7th document — same
    text, fresh doc_id offset past the id space (what a crawler emits
    when it refetches a URL or hits a mirror).  Ascending mtimes deliver
    the corpus before the re-crawls, so the replay batch exercises
    existing dedup state."""
    import os

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    key, cached = _stage_cached(spark, sf_dir, "stream_docs")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"stream_docs_{sf_tag}")
    import shutil

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    stage = d + "_stage"
    docs.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "full"))
    docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(n)).alias("doc_id"), "text"
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, "recrawl"))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i, sub in enumerate(("full", "recrawl")):
        [part] = [
            f for f in os.listdir(os.path.join(stage, sub)) if f.endswith(".parquet")
        ]
        dst = os.path.join(d, f"{i}_{sub}.parquet")
        shutil.copyfile(os.path.join(stage, sub, part), dst)
        t = 1_700_000_000 + i * 60
        os.utime(dst, (t, t))
    shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE[key] = d
    return d


@register(
    "st15_stream_content_dedup",
    oracle="""
    SELECT MIN(doc_id) AS keeper_id,
           CAST(COUNT(*) + COUNT(*) FILTER (WHERE doc_id % 7 = 0) AS BIGINT)
             AS n_seen
    FROM documents GROUP BY text
    """,
)
def st15_stream_content_dedup(spark, sf_dir):
    """Streaming CONTENT-level dedup, EXECUTED as a stream (round-6
    addition): documents arrive as a 2-batch re-crawl source (full corpus,
    then every-7th doc re-sent verbatim under a fresh id) and a stateful
    aggregate per content hash keeps (keeper_id = min doc_id, n_seen =
    arrivals) — the ingest-time counterpart of batch l1, and the shape a
    continuously-crawled 100 TB corpus actually needs (dedup ON ARRIVAL,
    not as a nightly batch).  streaming/jobs.st15_content_dedup.

    Oracle exactness: min() makes the keeper independent of within-batch
    arrival order; re-crawled ids are offset past the id space so the
    original always wins; n_seen per text = corpus occurrences + re-crawls
    (doc_id % 7 == 0), a closed form over the batch table.  The hash
    itself is not emitted (DuckDB's hash is a different function) — the
    (keeper, count) pair is the engine-portable contract.  Complete
    output mode + availableNow => the memory table is the final state;
    scale notes (RocksDB, update-mode changefeed, ingest-time watermark)
    in the operator docstring."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_doc_stream(spark, sf_dir)
    docs = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    with _few_state_partitions(spark):
        out = jobs.run_available_now(
            jobs.st15_content_dedup(docs),
            f"st15_mem_{uuid.uuid4().hex[:8]}",
            output_mode="complete",
        )
    return out.select("keeper_id", "n_seen")


from contextlib import contextmanager


@contextmanager
def _few_state_partitions(spark, n: int = 8):
    """Run a stateful streaming job with few shuffle (= state store)
    partitions, restoring the session conf after.  Stateful microbatches
    pay per-state-partition overhead (store open/commit/checkpoint) every
    batch and AQE is disabled for them, so 32 partitions x 4 batches of
    tiny state is pure fixed cost: 25s -> a few seconds at sf0.01.  At
    real scale the caller sizes this to state volume instead."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _sized_state_partitions(sf_dir: str) -> int:
    """State-partition count scaled to source volume (~128 KiB of source
    events per partition, clamped to [8, 32]).

    The TWS rows pay their cost per KEY in Python behind the state
    server — measured on st19: at the 10x point, 8 state partitions ran
    the two ~500k-row data batches at 55 s each vs ~17 s at 32
    (near-linear task-parallel scaling), while the tiny flush batches
    moved only ~1 s -> ~1.5 s; at sf0.1 (2.0 MB events), warm pairs were
    17.1/17.5 s at 8, 12.0/12.1 s at 16, and 11.9/12.4 s at 32 — so 16
    is the sf0.1 sweet spot and 32 buys nothing there (the ~12 s floor
    is fixed microbatch + store-commit cost).  The 128 KiB divisor
    lands on each measured optimum: sf0.01 -> 8 (per-partition store
    open/commit dominates tiny state), sf0.1 -> 16, 10x -> 32.  This is
    the "caller sizes this to state volume" note on
    _few_state_partitions made executable; on a real cluster the same
    rule maps state partitions to total executor cores."""
    import os

    from google_analytics_dataframes_spark.io import table_path

    p = table_path(sf_dir, "events")
    if os.path.isdir(p):
        b = sum(
            os.path.getsize(os.path.join(p, f))
            for f in os.listdir(p)
            if f.endswith(".parquet")
        )
    else:
        b = os.path.getsize(p)
    return max(8, min(32, b // (1 << 17)))


@contextmanager
def _rocksdb_state_provider(spark):
    """Switch the state-store provider to RocksDB for the block, restoring
    the previous conf (or unsetting an absent one) after.  TWS stores each
    typed state variable in its own column family, which only the RocksDB
    provider supports (HDFSBackedStateStore raises
    STATE_STORE_UNSUPPORTED_OPERATION: multipleColumnFamilies); the
    GroupState-tier streams keep the default provider.  One shared
    implementation (review r8): three hand-rolled copies of this
    save/restore dance had already drifted in their restore idiom."""
    key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        yield
    finally:
        if old is not None:
            spark.conf.set(key, old)
        else:
            spark.conf.unset(key)


@register(
    "st9_stream_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS view_id,
           b.event_id AS purchase_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts_s,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s,
           b.value AS purchase_value
    FROM events a JOIN events b
      ON a.event_type = 'view' AND b.event_type = 'purchase'
     AND a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def st9_stream_interval_join(spark, sf_dir):
    """Watermarked stream-stream interval join, EXECUTED as a stream:
    attribute purchases to same-user views in the preceding hour
    (streaming/jobs.py st9_attribution_join; j10's bounds).  Inner join +
    append mode + availableNow => the final sink table (a PARQUET file
    sink — the full join volume must never funnel through the driver's
    memory sink; round-8 stream-probe fix) is the complete join result,
    so the batch SQL twin is an exact oracle."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir(spark, sf_dir, ordered=True)
    # 2 files per trigger -> 2 stateful batches over the 4 ordered files:
    # same time-ordered arrival (batches take consecutive file groups),
    # half the per-batch state-store fixed cost.
    stream = jobs.read_event_stream(spark, src, files_per_trigger=2)
    with _few_state_partitions(spark):
        out = jobs.run_available_now_parquet(
            jobs.st9_attribution_join(stream),
            f"st9_pq_{uuid.uuid4().hex[:8]}",
        )
    return out.select(
        "user_id",
        "view_id",
        "purchase_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts_s"),
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts_s"),
        "purchase_value",
    )


@register(
    "st10_stream_static_enrich",
    oracle="""
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           e.event_type, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def st10_stream_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment, EXECUTED as a stream: the event
    stream joins a static customer dimension per microbatch
    (streaming/jobs.py st10_stream_static_enrich).  Stateless — no
    watermark, no join state; file order is irrelevant, so the staged
    source is a plain 4-way split."""
    import uuid

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir(spark, sf_dir, ordered=False)
    stream = jobs.read_event_stream(spark, src)
    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    out = jobs.run_available_now_parquet(
        jobs.st10_stream_static_enrich(stream, dim),
        f"st10_pq_{uuid.uuid4().hex[:8]}",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
        "c_mktsegment",
    )


@register(
    "st16_stream_outer_join",
    oracle="""
    SELECT b.user_id,
           b.event_id AS purchase_id,
           strftime(b.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts_s,
           b.value AS purchase_value,
           a.event_id AS view_id,
           strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS view_ts_s
    FROM (SELECT * FROM events WHERE event_type = 'purchase') b
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') a
      ON a.user_id = b.user_id
     AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    """,
)
def st16_stream_outer_join(spark, sf_dir):
    """Watermarked stream-stream LEFT OUTER interval join, EXECUTED as a
    stream (streaming/jobs.py st16_attribution_left_join): every purchase
    emits — matched against each same-user view in the preceding hour, or
    null-extended exactly once when the watermark proves no view can
    still arrive.  The outer emission is the semantics the inner form
    (st9) never exercises: null rows are produced on STATE EVICTION, one
    microbatch after the watermark moves, so the staged source ends with
    the far-future sentinel (st14's flush staging) as the end-of-stream
    clock advance.  Through the parquet file sink (full join volume never
    transits the driver), the final sink table must equal the batch LEFT
    JOIN exactly — matched multiplicities AND the unmatched-null set."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    # ONE sentinel with MARGIN, single data batch (round 11, VERDICT r10
    # item #2).  History: r8 measured "one sentinel leaves the final
    # lateness-window's unmatched purchases unflushed" and shipped three;
    # re-probed in r11, that shortfall does NOT reproduce — it predated
    # the two-rows-per-event-type sentinel fix (a view-only sentinel
    # stalls the purchase-side watermark, and the MIN across watermark
    # operators with it), which was the actual cause.  On this engine the
    # no-data batch DOES evict outer-join state: [f0..f3 s0] as one
    # fpt=5 batch, then the terminal no-data batch applies the
    # sentinel-advanced watermark and emits every remaining null verdict
    # (row parity vs the batch LEFT JOIN asserted at sf0.01/sf0.1/10x,
    # `git show 0dd433a:tools/stream_probe_r11.py`).  The sentinel sits at
    # max(ts)+3h — one hour of margin past `lateness` — so the applied
    # watermark strictly clears max(ts) and the boundary purchase can't
    # straddle the eviction predicate.  2 microbatches total (was 3), 5
    # staged files (was 7): same-window A/B medians 4.85 -> 2.65 s at sf0.1,
    # 4.93 -> 2.68 s at 10x, identical emitted rows (20084 / 200840).
    src = _stage_stream_dir_with_flush(
        spark, sf_dir, n_sentinels=1, sentinel_hours=(3,)
    )
    stream = jobs.read_event_stream(spark, src, files_per_trigger=5)
    with _few_state_partitions(spark):
        out = jobs.run_available_now_parquet(
            jobs.st16_attribution_left_join(stream),
            f"st16_pq_{uuid.uuid4().hex[:8]}",
        )
    # drop the sentinel purchases (negative pseudo-users) — they ride the
    # preserved side purely as the end-of-stream clock advance
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        "purchase_id",
        F.date_format("purchase_ts", "yyyy-MM-dd HH:mm:ss").alias(
            "purchase_ts_s"
        ),
        "purchase_value",
        "view_id",
        F.date_format("view_ts", "yyyy-MM-dd HH:mm:ss").alias("view_ts_s"),
    )


def _stage_restart_phases(spark, sf_dir: str) -> str:
    """Stage (cached) the two RESTART phases st17 replays: phase 1 = the
    first half of events by time (ts < 2024-01-16); phase 2 = the second
    half PLUS a replay of every 5th phase-1 event.  The replays landing
    AFTER the restart are the proof obligation: only dedup state that
    SURVIVED the checkpoint restore can drop them."""
    import os

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    key, cached = _stage_cached(spark, sf_dir, "restart_phases")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"restart_phases_{sf_tag}")
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_wire", F.unix_micros("ts") * 1000
    )
    cut = F.col("ts") < F.lit("2024-01-16").cast("timestamp")
    p1 = ev.filter(cut)
    p2 = ev.filter(~cut).unionAll(p1.filter(F.col("event_id") % 5 == 0))
    for name, df in (("p1", p1), ("p2", p2)):
        df.select(
            "event_id",
            F.col("ts_wire").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, name))
    _STAGE_CACHE[key] = d
    return d


@register(
    "st17_stream_restart_resume",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type, value
    FROM events
    """,
)
def st17_stream_restart_resume(spark, sf_dir):
    """Exactly-once ACROSS A RESTART — the recovery contract every other
    streaming row assumes, executed and driver-checked: the dedup stream
    (st11's dropDuplicatesWithinWatermark) runs to completion on phase 1
    (first half of events), the query STOPS, and a second query starts
    from the SAME checkpoint over the grown source directory (second
    half + replays of every 5th phase-1 event).  The replays arrive only
    after the restart, so they can be dropped ONLY if (a) the offset log
    prevented re-reading phase 1 and (b) the dedup state store was
    restored from the checkpoint — a fresh-state resume would re-emit
    phase-1 events via the replays and break the driver's exact row
    count.  Both runs append to one parquet sink; the final table must
    be every original event EXACTLY once, which is st11's plain-batch
    oracle.

    This is the availableNow/checkpoint lifecycle a production
    incremental ingest runs daily (process what's landed, stop, resume
    tomorrow), including the at-least-once redelivery straddling the
    restart boundary."""
    import os
    import shutil
    import uuid

    from google_analytics_dataframes_spark.io import scratch_dir
    from google_analytics_dataframes_spark.streaming import jobs

    phases = _stage_restart_phases(spark, sf_dir)
    run_id = uuid.uuid4().hex[:8]
    live = scratch_dir(f"st17_src_{run_id}")
    ckpt = scratch_dir(f"st17_ck_{run_id}")
    out = scratch_dir(f"st17_out_{run_id}")
    for dpath in (live, ckpt, out):
        shutil.rmtree(dpath, ignore_errors=True)
    os.makedirs(live)

    def add_phase(name: str, mtime: int) -> None:
        src = os.path.join(phases, name)
        for fn in os.listdir(src):
            if fn.endswith(".parquet"):
                dst = os.path.join(live, f"{name}_{fn}")
                shutil.copyfile(os.path.join(src, fn), dst)
                os.utime(dst, (mtime, mtime))

    def run_once() -> None:
        stream = jobs.read_event_stream(spark, live, files_per_trigger=1)
        with _few_state_partitions(spark):
            q = (
                jobs.st11_stream_dedup(stream)
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    add_phase("p1", 1_700_000_000)
    run_once()  # run 1: first half, then the query STOPS
    add_phase("p2", 1_700_000_060)
    run_once()  # run 2: resumes from the checkpoint; replays must dedup
    # the checkpoint and the per-invocation SOURCE copy are both done —
    # only `out` stays (the returned DataFrame reads it lazily)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(live, ignore_errors=True)
    return spark.read.parquet(out).select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    )


@register(
    "st12_stream_stateful_funnel",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
             AS views,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS purchases
    FROM events GROUP BY user_id
    """,
)
def st12_stream_stateful_funnel(spark, sf_dir):
    """Arbitrary per-key state EXECUTED as a stream (applyInPandasWithState,
    st6's funnel): each microbatch advances every user's running
    (views, purchases) counters and emits the update; the memory sink
    accumulates one row per (user, batch-it-changed-in), so the FINAL
    state per user is the max over its updates (counters are monotone).
    That final state must equal the plain batch aggregate — the oracle-
    checked proof that custom stateful streaming and batch agree, on the
    API tier (GroupState) that the driver never saw via the D-tier tests.
    1 file per trigger over the 2-file staging: two stateful batches, so
    batch 2 READS the state batch 1 wrote — the carry-over that is the
    whole point (pinned by tests/test_streaming.py's multi-update-user
    assertion after the review-r8 finding that 2 files/trigger collapsed
    the source into one vacuous batch)."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir(spark, sf_dir, ordered=False)
    # 1 file per trigger over the 2-file staging -> 2 stateful batches.
    # Review r8 finding: at 2 files/trigger the whole source was ONE
    # batch, so GroupState was written but never read back and the
    # cross-batch carry-over this row exists to prove was vacuous
    # (tests/test_streaming.py pins multi-update users now).
    stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
    with _few_state_partitions(spark):
        out = jobs.run_available_now(
            jobs.st6_stateful_funnel(stream),
            f"st12_mem_{uuid.uuid4().hex[:8]}",
            output_mode="update",
        )
    return out.groupBy("user_id").agg(
        F.max("views").alias("views"), F.max("purchases").alias("purchases")
    )


@register(
    "st18_stream_typed_state",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
             AS clicks,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
             AS errors,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS purchases,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT)
             AS signups,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
             AS views,
           CAST(COUNT(*) AS BIGINT) AS total
    FROM events GROUP BY user_id
    """,
)
def st18_stream_typed_state(spark, sf_dir):
    """Spark 4 arbitrary-state API (transformWithStateInPandas /
    StatefulProcessor) EXECUTED as a stream and driver-checked: per-user
    event-type census on TYPED state — a MapState keyed by event_type
    (point-writes touch only the types seen in the batch) plus a ValueState
    total, each in its own RocksDB column family (the provider this query
    switches to; HDFSBackedStateStore raises on multiple column families).
    st12 proved the maintenance-mode GroupState tier; this row proves its
    Spark-4 successor — the engine real deployments must migrate custom
    stateful operators to — against the same class of batch oracle.

    Runtime note: the TWS state-server protocol needs google.protobuf in
    every interpreter.  streaming/tws_runtime arms an ALREADY-RUNNING
    session by placing a sitecustomize shim on sc.environment's PYTHONPATH
    during plan construction — envVars are captured per-UDF at wrap time,
    so the driver harness needs no pre-JVM setup (and the TWS driver
    worker, which imports the gencode at interpreter start, is covered
    where sc.addPyFile cannot reach — measured, see tws_runtime).

    Emits one row per (user, batch-it-changed-in); counters are monotone,
    so max-per-user over the update stream is the final state, which must
    equal the batch GROUP BY pivot."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
    )

    src = _stage_stream_dir(spark, sf_dir, ordered=False)
    # 1 file per trigger -> 2 stateful batches (same review-r8 fix as
    # st12): the MapState/ValueState written in batch 1 must be READ BACK
    # in batch 2 or the typed-state carry-over proof is vacuous
    stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
    with _rocksdb_state_provider(spark):
        with armed_worker_env(spark):
            # plan construction must happen inside the armed block — this
            # is where the python function's envVars are captured
            tws = jobs.st18_typed_state_census(stream)
        with _few_state_partitions(spark, _sized_state_partitions(sf_dir)):
            out = jobs.run_available_now(
                tws, f"st18_mem_{uuid.uuid4().hex[:8]}", output_mode="update"
            )
    return out.groupBy("user_id").agg(
        F.max("clicks").alias("clicks"),
        F.max("errors").alias("errors"),
        F.max("purchases").alias("purchases"),
        F.max("signups").alias("signups"),
        F.max("views").alias("views"),
        F.max("total").alias("total"),
    )


@register(
    "st19_stream_timer_sessions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS session_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def st19_stream_timer_sessions(spark, sf_dir):
    """GA 30-min-gap sessionization on TWS EVENT-TIME TIMERS, executed as
    a stream and driver-checked against the SAME oracle as st14 — the
    native `session_window` engine and a custom StatefulProcessor with
    `registerTimer`/`handleExpiredTimer` (streaming/jobs.py
    st19_timer_sessionize) must produce identical session tables.  The
    timer is the piece st18's typed-state census never exercises, and the
    one real deployments need: a user's FINAL session has no later event
    to close it, so only the watermark's passage — delivered to the
    processor as an expired event-time timer — can emit it.  Gap-closes
    emit on the arrival path; either path yields the same row, so batch
    composition never shows through.

    Session values accumulate as exact micro-unit integers (the dsum
    contract applied per event — python Decimal HALF_UP at 6 decimals is
    bit-identical to both engines' DECIMAL(30,6) cast), so per-batch
    increments equal the one-shot oracle sum.

    ONE sentinel + the no-data flush batch (round 10; was three):
    timers fire under the APPLIED watermark, which lags a batch behind
    the data — but Spark's stateful engine runs a NO-DATA microbatch
    after the last data batch whenever the advanced watermark leaves
    state to finalize (the noDataMicroBatches machinery st14's
    session_window eviction already relies on), and event-time timers
    fire in it.  The 5 staged files (4 data + 1 sentinel, st14's exact
    staging — shared cache) at 3 files/trigger make [f0 f1 f2],
    [f3 s0], then the timer-flush no-data batch: two DATA batches, so
    cross-batch arrival extension and the stale-timer-ignore branch in
    handleExpiredTimer still both execute, one fewer sentinel batch.
    History: 2 files/trigger ran four data batches (r09 cut it to
    three, 12.2 → 7.7 s isolated at sf0.1, 40.7 → 18.2 s at 10x); the
    r10 sentinel cut measured 9.40 → 8.38 s at sf0.1 and 23.6 → 20.3 s
    at 10x, same-window interleaved A/B, identical emitted rows."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
    )

    src = _stage_stream_dir_with_flush(spark, sf_dir)
    stream = jobs.read_event_stream(spark, src, files_per_trigger=3)
    with _rocksdb_state_provider(spark):
        with armed_worker_env(spark):
            tws = jobs.st19_timer_sessionize(stream)
        with _few_state_partitions(spark, _sized_state_partitions(sf_dir)):
            out = jobs.run_available_now_parquet(
                tws, f"st19_pq_{uuid.uuid4().hex[:8]}"
            )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id",
        F.date_format(F.timestamp_micros("start_us"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        (F.col("acc_micro").cast("double") / F.lit(1000000.0)).alias(
            "session_value"
        ),
    )


@register(
    "st13_stream_windowed_agg",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
    FROM events GROUP BY window_start, event_type
    """,
)
def st13_stream_windowed_agg(spark, sf_dir):
    """Watermarked tumbling-window aggregation EXECUTED as a stream — st1's
    shape on the real engine (streaming/jobs.py st4_watermarked_counts):
    hourly (window, event_type) count+sum with a 1-hour watermark, update
    mode, availableNow over the time-ordered 4-file staging in 2 batches.

    The oracle is st1's batch SQL, and it is EXACT here because (a) the
    staged source is range-partitioned on ts with mtimes in range order, so
    each batch's rows are never behind the previous batch's watermark —
    nothing is late, nothing is dropped; (b) the sum accumulates in exact
    decimal, so per-batch incremental addition equals the one-shot batch
    sum; and (c) update mode emits a row each time a window changes and
    both metrics are monotone (counts grow, values are positive), so the
    final state per key is the max over its updates — same finalization
    contract as st12.  Windows spanning the batch-1/batch-2 time boundary
    are updated across batches, which is exactly the state carry-over this
    query exists to prove."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir(spark, sf_dir, ordered=True)
    stream = jobs.read_event_stream(spark, src, files_per_trigger=2)
    with _few_state_partitions(spark):
        out = jobs.run_available_now(
            jobs.st4_watermarked_counts(stream),
            f"st13_mem_{uuid.uuid4().hex[:8]}",
            output_mode="update",
        )
    return out.groupBy("window_start", "event_type").agg(
        F.max("n").alias("n"), F.max("sum_value").alias("sum_value")
    )


@register(
    "st11_stream_dedup",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type, value
    FROM events
    """,
)
def st11_stream_dedup(spark, sf_dir):
    """Streaming ingest dedup, EXECUTED as a stream: the staged source is
    AT-LEAST-ONCE (file 2 replays every 5th event — bus redelivery), and
    `dropDuplicatesWithinWatermark` on event_id must restore exactly-once
    (streaming/jobs.py st11_stream_dedup).  Append mode + availableNow
    through a parquet file sink (full stream volume never transits the
    driver; round-8 fix) => the sink table is the full deduped stream, so the plain batch table
    (event_id is unique there) is an exact oracle: every original event
    exactly once, every replay dropped."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir_with_replays(spark, sf_dir)
    stream = jobs.read_event_stream(spark, src)
    with _few_state_partitions(spark):
        out = jobs.run_available_now_parquet(
            jobs.st11_stream_dedup(stream),
            f"st11_pq_{uuid.uuid4().hex[:8]}",
        )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
    )


@register(
    "st14_stream_sessionize",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, value, ts, epoch_us(ts) AS ts_us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_us
      FROM events),
    flagged AS (
      SELECT *, CASE WHEN prev_us IS NULL
                       OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS is_new
      FROM seq),
    numbered AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           {dsum_sql('value')} AS session_value
    FROM numbered GROUP BY user_id, session_id
    """,
)
def st14_stream_sessionize(spark, sf_dir):
    """GA's 30-minute-gap sessionization EXECUTED as a stream — the
    session-window stateful aggregation (streaming/jobs.py
    st3_session_stream, `F.session_window(ts, '30 minutes')`) run with
    availableNow over the time-ordered staging, APPEND mode (the only
    output mode Spark supports for session-window aggregations: a session
    row is emitted exactly once, when the watermark proves it can no
    longer extend), 1-hour watermark.  This is the streaming half of the
    GA report builder's session layer (rb18-rb20 consume the batch twin):
    sessions OPEN in one batch and extended or closed by the next
    exercise merge-capable session state across batch boundaries.

    Append mode only emits sessions the watermark has passed, and the
    watermark is derived from data — so the staging appends a SENTINEL
    file holding one far-future event (user_id -1, max ts + 2 h, the
    stream equivalent of closing the books): it advances the global
    watermark past every real session's close + lateness, finalizing all
    of them; the sentinel's own session stays beyond the watermark and is
    additionally filtered out.  The oracle is the batch lag/cumsum
    session construction (rb18's CTE plus per-session value sums), EXACT
    because (a) Spark's session rule — new session iff gap >= 30 min —
    is literally the oracle's `ts_us - prev_us >= 1800000000` flag under
    in-order arrival, so no session is created or merged retroactively;
    (b) session value sums accumulate in exact decimal, so per-batch
    increments equal the one-shot batch sum; (c) append emits each
    finalized session exactly once — no finalization fold needed at all,
    the sharpest exactly-once evidence in the streaming family."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir_with_flush(spark, sf_dir)
    # 3 files/trigger over the 5-file staging (st19's microbatch-count
    # lesson, VERDICT r9 item #3): [f0 f1 f2][f3 s] — one fewer batch
    # than fpt=2's [f0 f1][f2 f3][s] with >=2 data batches kept, so
    # sessions still OPEN in batch 1 and extend/close in batch 2.  Batch
    # fixed cost (state-store lifecycle + sink commit) was the dominant
    # term: same-window A/B at sf0.1 measured 4.09 -> 2.95 s median
    # (`git show 0dd433a:tools/stream_probe_r10.py`), identical emitted
    # rows.
    stream = jobs.read_event_stream(spark, src, files_per_trigger=3)
    with _few_state_partitions(spark):
        out = jobs.run_available_now_parquet(
            jobs.st3_session_stream(stream),
            f"st14_pq_{uuid.uuid4().hex[:8]}",
        )
    return out.filter(F.col("user_id") >= 0).select(
        "user_id", "session_start", "n_events", "session_value"
    )


# ------------------------------------------------------------------ st20 ---
def _ck(col):
    """8-hex-digit md5-prefix content checksum as bigint — the l71/l50
    arithmetic both engines share (< 2^32 per row, census-sum safe)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def _stage_change_stream(spark, sf_dir: str) -> str:
    """Stage the CDC change feed as a 2-file stream (ascending mtimes):

    * wave 1 — deletes (doc_id%13==0) and v2 re-edits (doc_id%9==0,
      surviving);
    * wave 2 — inserts (doc_id%17==0 under max(doc_id)+1-offset ids) and
      SECOND re-edits to v3 for the EVEN half of wave 1's edit set.

    The v3-over-v2 overlap is the point: a sink that applies batches out
    of order, merges them as one set, or is not idempotent per version
    lands the wrong final checksum."""
    import os
    import shutil

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    key, cached = _stage_cached(spark, sf_dir, "change_stream")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"change_stream_{sf_tag}")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    did = F.col("doc_id")
    wave1 = (
        docs.filter(did % 13 == 0)
        .select(
            "doc_id",
            F.lit("delete").alias("op"),
            F.lit(None).cast("long").alias("ck"),
        )
        .unionAll(
            docs.filter((did % 9 == 0) & (did % 13 != 0)).select(
                "doc_id",
                F.lit("upsert").alias("op"),
                _ck(F.concat("text", F.lit(" v2"))).alias("ck"),
            )
        )
    )
    wave2 = (
        docs.filter(did % 17 == 0)
        .select(
            (did + F.lit(n)).alias("doc_id"),
            F.lit("upsert").alias("op"),
            _ck(F.reverse("text")).alias("ck"),
        )
        .unionAll(
            docs.filter((did % 9 == 0) & (did % 13 != 0) & (did % 2 == 0)).select(
                "doc_id",
                F.lit("upsert").alias("op"),
                _ck(F.concat("text", F.lit(" v3"))).alias("ck"),
            )
        )
    )
    stage = d + "_stage"
    for sub, df in (("wave1", wave1), ("wave2", wave2)):
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(stage, sub))
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    for i, sub in enumerate(("wave1", "wave2")):
        [part] = [
            f for f in os.listdir(os.path.join(stage, sub)) if f.endswith(".parquet")
        ]
        dst = os.path.join(d, f"{i}_{sub}.parquet")
        shutil.copyfile(os.path.join(stage, sub, part), dst)
        t = 1_700_000_000 + i * 60
        os.utime(dst, (t, t))
    shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE[key] = d
    return d


@register(
    "st20_stream_cdc_apply",
    oracle="""
    WITH offs AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
    final AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0 AND doc_id % 13 <> 0
                       AND doc_id % 2 = 0 THEN text || ' v3'
                  WHEN doc_id % 9 = 0 AND doc_id % 13 <> 0
                    THEN text || ' v2'
                  ELSE text END AS t
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + (SELECT o FROM offs), reverse(text)
      FROM documents WHERE doc_id % 17 = 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(SUM(try_cast(concat('0x', substr(md5(t), 1, 8)) AS BIGINT))
                AS BIGINT) AS content_checksum
    FROM final
    """,
)
def st20_stream_cdc_apply(spark, sf_dir):
    """Streaming CDC APPLY — the sink-side half of the merge story,
    EXECUTED as a stream: l71 proves the MERGE census in one batch
    full-outer join; this row consumes the same change feed as a 2-batch
    STREAM and maintains a materialized snapshot through foreachBatch
    snapshot VERSIONING (read version k, merge the microbatch, write
    version k+1) — the exactly-once idempotent-sink pattern Structured
    Streaming documents for arbitrary sinks: a replayed microbatch
    rewrites the same version directory instead of double-applying.

    Sequencing is load-bearing: wave 2 re-edits (v3) half of wave 1's
    edits (v2), so out-of-order application, a single merged apply, or a
    non-atomic version flips the final content checksum.  The emitted
    census (count, id range, md5-prefix checksum sum over FINAL content)
    is recomputed analytically by the oracle from the raw documents
    table.

    100-TB shape: the snapshot carries (doc_id, ck) — ~16 B/row, never
    text; each microbatch costs one key-join of snapshot x batch (on a
    real lake this is MERGE INTO on a clustered table, with file-level
    pruning limiting the rewrite to touched files — the s8/l69 bucketed
    layout); the availableNow trigger makes the same pipeline do batch
    CATCH-UP and continuous tailing with identical semantics."""
    import os
    import shutil
    import uuid

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    src = _stage_change_stream(spark, sf_dir)
    run = scratch_dir(f"cdc_apply_{uuid.uuid4().hex[:8]}")
    shutil.rmtree(run, ignore_errors=True)
    v0 = os.path.join(run, "v0")
    load_table(spark, sf_dir, "documents").select(
        "doc_id", _ck("text").alias("ck")
    ).write.mode("overwrite").parquet(v0)
    latest = [v0]

    def apply_batch(bdf, bid):
        cur = spark.read.parquet(latest[-1])
        b = bdf.withColumnRenamed("ck", "ck_new")
        merged = (
            cur.join(b, "doc_id", "full_outer")
            .filter((F.col("op") != "delete") | F.col("op").isNull())
            .select(
                "doc_id",
                F.coalesce(
                    F.when(F.col("op") == "upsert", F.col("ck_new")),
                    F.col("ck"),
                ).alias("ck"),
            )
        )
        nxt = os.path.join(run, f"v{bid + 1}")
        merged.write.mode("overwrite").parquet(nxt)
        latest.append(nxt)

    changes = (
        spark.readStream.schema("doc_id long, op string, ck long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = os.path.join(run, "ckpt")
    q = (
        changes.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    snap = spark.read.parquet(latest[-1])
    return snap.agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
        F.sum("ck").alias("content_checksum"),
    )


def _stage_stream_dir_with_late(spark, sf_dir: str) -> str:
    """Stage events as an OUT-OF-ORDER stream with an end-of-stream flush:
    file 0 carries everything except a deterministic 'late' subset
    (events in the timeline's first 6 hours with event_id % 7 == 0);
    file 1 is a single '__mid__' marker at max(ts) that APPLIES the
    bulk-derived watermark (finalizing the early windows); file 2
    delivers the late subset — now two batches behind the bulk, so the
    previous-batch late-event filter actually drops it; files 3-4 are
    the st16-style double flush sentinel ('__flush__' at max+2h/max+4h)
    that finalizes every remaining REAL window under an APPLIED
    watermark — the sentinels' own far-future windows are never passed,
    so they never emit.  Ascending mtimes pin the five-batch order.

    Why APPEND mode downstream (measured, sf0.01): in update mode the
    engine only *evicts* state by watermark at batch end — batch 1's
    weeks-late rows MERGED into the still-live hour-1 state and emitted
    updated counts (the Structured Streaming guide's 'data delayed past
    the watermark is not guaranteed to be dropped' caveat, observed:
    droppedByWatermark=0, counts +1).  Append mode is where the hard
    guarantee lives: each window emits exactly once when finalized, so
    the engine MUST filter late rows for already-final windows or emit a
    duplicate key the oracle would catch."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.io import load_table, scratch_dir

    key, cached = _stage_cached(spark, sf_dir, "stream_late")
    if cached is not None:
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    d = scratch_dir(f"stream_late_{sf_tag}")
    stage = d + "_stage"
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros("ts")
    )
    lo, hi = ev.agg(F.min("ts_us"), F.max("ts_us")).first()  # metadata-sized
    is_late = (F.col("ts_us") < lo + 6 * 3_600_000_000) & (
        F.col("event_id") % 7 == 0
    )
    wire = ev.withColumn("ts", F.col("ts_us") * 1000).drop("ts_us")
    wire.filter(~is_late).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "ontime")
    )
    wire.filter(is_late).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(stage, "late")
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    def _marker(fname_idx, name, ts_ns, etype):
        table = pa.table(
            {
                "event_id": pa.array([-1 - fname_idx], pa.int64()),
                "ts": pa.array([ts_ns], pa.int64()),
                "user_id": pa.array([-1 - fname_idx], pa.int64()),
                "event_type": pa.array([etype], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        dst = os.path.join(d, f"{fname_idx}_{name}.parquet")
        pq.write_table(table, dst)
        t = 1_700_000_000 + fname_idx * 60
        os.utime(dst, (t, t))

    # file order = batch order: bulk, MID (applies the bulk-derived
    # watermark so the early windows finalize and emit BEFORE the
    # stragglers arrive — Spark's late-event filter runs against the
    # PREVIOUS batch's watermark, so late rows only one batch behind the
    # bulk still merge; measured), then the late file, then the double
    # flush.  Marker rows carry '__'-prefixed event types the query
    # filters post-sink.
    for i, sub in ((0, "ontime"), (2, "late")):
        [part] = [
            f for f in os.listdir(os.path.join(stage, sub)) if f.endswith(".parquet")
        ]
        dst = os.path.join(d, f"{i}_{sub}.parquet")
        shutil.copyfile(os.path.join(stage, sub, part), dst)
        t = 1_700_000_000 + i * 60
        os.utime(dst, (t, t))
    _marker(1, "mid", hi * 1000, "__mid__")
    _marker(3, "sentinel0", (hi + 2 * 3600 * 1_000_000) * 1000, "__flush__")
    _marker(4, "sentinel1", (hi + 4 * 3600 * 1_000_000) * 1000, "__flush__")
    shutil.rmtree(stage, ignore_errors=True)
    _STAGE_CACHE[key] = d
    return d


@register(
    "st21_stream_late_drop",
    oracle=f"""
    WITH lo AS (SELECT MIN(epoch_us(ts)) AS min_us FROM events)
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, COUNT(*) AS n, {dsum_sql('value')} AS sum_value
    FROM events, lo
    WHERE NOT (epoch_us(ts) < lo.min_us + 6 * 3600000000
               AND event_id % 7 = 0)
    GROUP BY window_start, event_type
    """,
)
def st21_stream_late_drop(spark, sf_dir):
    """Watermark LATE-DATA DROP semantics, executed and proven: every
    other registered stream stages its source in event-time order, so
    the watermark only ever finalizes windows behind the data and
    nothing is dropped.  st21 is the missing half of the contract: a
    deterministic late subset (first-6-hours events with id % 7 == 0)
    arrives in batch 2, AFTER batch 1 advanced the watermark to
    max(ts) - 1h — weeks past those rows' hourly windows — so the engine
    must drop them all, and the oracle aggregates the source WITHOUT the
    late subset.  An engine that buffered, mis-scoped, or re-opened
    finalized windows produces different hour-1..6 rows and hash-fails;
    one that dropped too much fails row count.

    APPEND mode is the teeth (see _stage_stream_dir_with_late: update
    mode measurably merges the stragglers): every window emits exactly
    once when the applied watermark passes it, so a late row for a
    finalized window must be filtered — re-opened state would emit a
    duplicate (window, type) key and fail the compare.  No post-sink
    dedup is applied, making single-emission itself part of the pin.

    Scale: st13's watermarked tumbling aggregation shape; state is
    bounded by open windows x event types regardless of how late the
    stragglers are — which is the entire point of the watermark at
    100 TB/day ingest."""
    import uuid

    from google_analytics_dataframes_spark.streaming import jobs

    src = _stage_stream_dir_with_late(spark, sf_dir)
    stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
    with _few_state_partitions(spark):
        out = jobs.run_available_now(
            jobs.st4_watermarked_counts(stream),
            f"st21_mem_{uuid.uuid4().hex[:8]}",
            output_mode="append",
        )
    # null-safe: isin() is NULL for NULL event_type and a bare ~isin
    # would drop the NULL group the oracle keeps; markers are never null
    return out.filter(
        F.col("event_type").isNull()
        | ~F.col("event_type").isin("__mid__", "__flush__")
    )
