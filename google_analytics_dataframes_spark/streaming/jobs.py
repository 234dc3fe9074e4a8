"""Structured Streaming jobs over the events table (SURVEY.md §2.9, §3.2 E4).

Batch-first design: every streaming job here has an oracle-checked batch
twin in queries/streaming_batch.py; tests run these with
``Trigger.AvailableNow`` over the same parquet and assert stream == batch
(st1/st3) or the documented late-data behavior (st4).

The event source is parquet with TIMESTAMP(NANOS) `ts` — the stream reader
declares `ts` as LONG (nanosAsLong, session.py) and converts to a µs
timestamp exactly like the batch loader, so event-time semantics match.

Scale posture: state stores are keyed by (window/user) — bounded keys; the
watermark caps state size; `availableNow` is the batch-backfill trigger a
100 TB replay uses (processes all existing files in bounded sub-batches,
then stops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from google_analytics_dataframes_spark.session import configure

#: Wire schema of events.parquet under nanosAsLong (ts arrives as ns LONG).
EVENTS_WIRE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, events_dir: str, files_per_trigger: int = 1
) -> DataFrame:
    """readStream over an events parquet directory; ns->µs conversion
    mirrors io.load_table so stream and batch see identical instants.

    ``files_per_trigger`` sizes the microbatches: every stateful batch
    pays fixed state-store open/commit/checkpoint cost per partition, so
    a caller replaying a K-file staged source can trade batch count for
    per-batch volume (ordering guarantees are unaffected — the listing
    order is still mtime order, batches just take consecutive GROUPS of
    files)."""
    configure(spark)
    raw = (
        spark.readStream.schema(EVENTS_WIRE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(events_dir)
    )
    return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))


def st3_session_stream(
    events: DataFrame, gap: str = "30 minutes", lateness: str = "1 hour"
) -> DataFrame:
    """Streaming twin of batch sessionization (st3_sessionize): GA's 30-min
    inactivity sessions as a native `session_window` stateful aggregation.
    State per (user, open session) only; the watermark finalizes and evicts
    sessions once event-time passes their close + lateness."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # exact-decimal accumulation: same order-independent sum as the
            # batch twin's dsum, so stream == batch holds for values too
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias(
                "session_value"
            ),
        )
        .select(
            "user_id",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            "n_events",
            "session_value",
        )
    )


def st4_watermarked_counts(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """Tumbling hourly counts with a watermark: events later than
    `lateness` behind max(event-time) are dropped and their windows
    finalized — GA's late-hit handling made explicit."""
    return (
        events.withWatermark("ts", lateness)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            # exact-decimal accumulation (same contract as st3_session_stream):
            # incremental per-batch additions and the batch twin's one-shot sum
            # then agree exactly regardless of arrival order
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
            "sum_value",
        )
    )


def st6_stateful_funnel(events: DataFrame) -> DataFrame:
    """Custom per-key state via applyInPandasWithState: per user, a running
    (views, purchases) funnel counter emitted on every update."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    output_schema = "user_id bigint, views bigint, purchases bigint"
    state_schema = "views bigint, purchases bigint"

    def update(key, pdfs, state: GroupState):
        views, purchases = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            views += int((pdf["event_type"] == "view").sum())
            purchases += int((pdf["event_type"] == "purchase").sum())
        state.update((views, purchases))
        yield pd.DataFrame(
            {"user_id": [key[0]], "views": [views], "purchases": [purchases]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        output_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def st18_typed_state_census(events: DataFrame) -> DataFrame:
    """Per-user event-type census on TWS TYPED state: a MapState keyed by
    event_type (one dynamically-growing counter map per user) plus a
    ValueState running total — the state shapes the GroupState/
    applyInPandasWithState tier cannot express natively (it gives one
    opaque tuple per key; a map would need whole-value rewrite per update,
    where MapState writes only the touched event_type entries).  Each TWS
    state variable lives in its own RocksDB column family, so this is also
    the query that exercises the multi-column-family state store.

    Emits one row per (user, microbatch-it-changed-in) with the map
    flattened onto the five census columns; counters are monotone, so the
    final state per user is the max over its updates, and that must equal
    the batch GROUP BY pivot — the oracle.
    """
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    kinds = ["click", "error", "purchase", "signup", "view"]
    map_key_schema = StructType([StructField("event_type", StringType())])
    map_value_schema = StructType([StructField("n", LongType())])
    total_schema = StructType([StructField("total", LongType())])
    output_schema = (
        "user_id bigint, clicks bigint, errors bigint, purchases bigint, "
        "signups bigint, views bigint, total bigint"
    )

    class CensusProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._census = handle.getMapState("census", map_key_schema, map_value_schema)
            self._total = handle.getValueState("total", total_schema)

        def handleInputRows(self, key, rows, timerValues):
            batch_counts: dict = {}
            n_rows = 0
            for pdf in rows:
                n_rows += len(pdf)
                for et, n in pdf["event_type"].value_counts().items():
                    batch_counts[et] = batch_counts.get(et, 0) + int(n)
            # point-write only the event_types this batch touched; one
            # getValue doubles as the containsKey probe (None = absent),
            # the st19 r9 treatment — every saved call is a state-server
            # round trip, the row's unit cost
            for et, n in batch_counts.items():
                prev = self._census.getValue((et,))
                self._census.updateValue((et,), ((prev[0] if prev else 0) + n,))
            prev_total = self._total.get()
            total = (prev_total[0] if prev_total else 0) + n_rows
            self._total.update((total,))
            now = {k: v[0] for (k,), v in self._census.iterator()}
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    **{f"{k}s": [now.get(k, 0)] for k in kinds},
                    "total": [total],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CensusProcessor(),
        outputStructType=output_schema,
        outputMode="Update",
        timeMode="None",
    )


def micro_units(v: float) -> int:
    """One double -> exact integer micro-units under the dsum contract:
    python Decimal HALF_UP at 6 decimals is bit-identical to Spark's and
    DuckDB's CAST(v AS DECIMAL(30,6)) of the same binary double."""
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        Decimal(v).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)
        * 1_000_000
    )

def micro_units_vec(vals):
    """Vectorized :func:`micro_units`, exact vs the Decimal contract
    (property-tested in tests/test_streaming.py against the scalar path,
    adversarial ties included).

    m = v*1e6 in float carries relative error <= 2^-53, and
    r = m - floor(m) is exact (integer subtraction below 2^53), so
    |r - exact_frac| <= |m| * 2^-53 up to a whole-integer wrap — and a
    wrap across an integer boundary yields the SAME half-up result
    (frac 1-eps -> floor k-1, +1 = k; float frac eps -> floor k,
    +0 = k).  Only the .5 tie can flip the answer, so rows within
    eps = |m|*2.3e-15 (20x the error bound) of the tie — plus
    negatives (Decimal HALF_UP is away-from-zero, floor+carry is
    toward +inf), non-finite, and |m| >= 2^52 (float grid coarser
    than 1) — take the per-value Decimal path."""
    import numpy as np

    vals = np.asarray(vals, np.float64)
    m = vals * 1e6
    f = np.floor(m)
    r = m - f
    out = (f + (r >= 0.5)).astype("int64")
    eps = np.abs(m) * 2.3e-15 + 1e-9
    exact_path = (
        (np.abs(r - 0.5) <= eps)
        | (vals < 0)
        | ~np.isfinite(vals)
        | (np.abs(m) >= 2.0**52)
    )
    if exact_path.any():
        idx = np.flatnonzero(exact_path)
        out[idx] = [micro_units(float(vals[i])) for i in idx]
    return out


def segment_sessions_micro(ts_us, micro, gap_us):
    """Vectorized gap-split shared by st19's hot path and its unit tests:
    boundaries mark the first event of each batch-local session; reduceat
    segments give per-session (start_us, count, micro-sum) without a
    per-event loop.  `ts_us` must be sorted int64 µs, `micro` int64
    micro-units, both non-empty.

    int64 domain guard (ADVICE r9, planted-overflow test VERDICT r10
    item #5): np.add.reduceat wraps SILENTLY on int64 overflow, unlike
    the old scalar loop's arbitrary-precision Python ints.  max|micro| *
    n_rows bounds every segment sum, so when it clears int64 we fail
    loudly instead of emitting a wrapped acc_micro.  (micro_units_vec
    already raises OverflowError for any single value outside int64
    micro-units, i.e. |v| >= ~9.2e12.)"""
    import numpy as np

    new_sess = np.empty(len(ts_us), dtype=bool)
    new_sess[0] = True
    np.greater_equal(np.diff(ts_us), gap_us, out=new_sess[1:])
    bounds = np.flatnonzero(new_sess)
    seg_start = ts_us[bounds]
    seg_n = np.diff(np.append(bounds, len(ts_us)))
    if len(micro) and int(np.abs(micro).max()) * len(micro) > 2**63 - 1:
        raise OverflowError(
            "st19 session accumulator: per-session micro-unit sum "
            "may exceed int64 (max|value*1e6| * batch rows = "
            f"{int(np.abs(micro).max())} * {len(micro)}); the "
            "acc_micro output schema is bigint by contract"
        )
    seg_acc = np.add.reduceat(micro, bounds)
    return seg_start.tolist(), seg_n.tolist(), seg_acc.tolist()


def st19_timer_sessionize(events: DataFrame, lateness: str = "1 hour") -> DataFrame:
    """GA 30-min-gap sessionization rebuilt on TWS EVENT-TIME TIMERS — the
    `handleExpiredTimer` surface st18's census never touches, and the
    textbook use of it: a session with no further events can only be
    finalized by the passage of (watermark) time, which is exactly what a
    timer expresses.  Semantics are identical to `session_window` (st14)
    and the batch lag/cumsum oracle:

    * arrival path: per user, events processed in (ts, event_id) order —
      a gap >= 30 min closes the open session (emitted immediately) and
      opens a new one; the open session's timer is re-registered at
      last_ts + gap on every extension.
    * expiry path: when the event-time watermark passes last_ts + gap the
      timer fires and `handleExpiredTimer` emits the session — the ONLY
      way a user's final session ever closes.

    Determinism of the split between the two paths doesn't matter (the
    emitted row is the same either way), and the timer/input race is
    impossible by construction: under time-ordered staging any event that
    could still extend a session arrives while the watermark (which lags
    `lateness` = 1 h > gap behind max event time) is still short of the
    session's expiry.

    Session value accumulates in integer MICRO-UNITS, each double rounded
    HALF_UP at 6 decimals on arrival — bit-for-bit the dsum contract
    (Spark/DuckDB `CAST(v AS DECIMAL(30,6))` rounds the same binary
    double HALF_UP; python's Decimal(float) is the same exact binary
    value), so per-event integer adds equal the oracle's one-shot decimal
    sum regardless of batching.

    The per-batch work is fully vectorized (VERDICT r8 item #2): gap
    detection is one `np.diff >= GAP` over the sorted µs timestamps,
    session boundaries become `reduceat` segments (per-session count,
    start, micro-sum in three numpy calls), and only the open-session
    carry-in is handled scalar-side — the shape st18's `value_counts`
    census already uses.  The micro-unit contract survives
    vectorization because `_to_micro_vec` decides each row on the float
    grid ONLY where that decision is provably the Decimal decision (the
    exact frac and the float frac differ by < |v*1e6| * 2^-53, so any
    row farther than a 20x-margined eps from the .5 tie rounds
    identically), and routes tie-ambiguous / negative / non-finite /
    >=2^52 rows through the original per-value Decimal path — on real
    data that is ~0 rows, on adversarial data it is still exact."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    GAP_US = 30 * 60 * 1_000_000
    state_schema = StructType(
        [
            StructField("start_us", LongType()),
            StructField("last_us", LongType()),
            StructField("n", LongType()),
            StructField("acc", LongType()),  # micro-units, exact
        ]
    )
    output_schema = (
        "user_id bigint, start_us bigint, n_events bigint, acc_micro bigint"
    )
    _to_micro_vec = micro_units_vec

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState("sess", state_schema)

        def _row(self, key, start_us, n, acc):
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "start_us": [start_us],
                    "n_events": [n],
                    "acc_micro": [acc],
                }
            )

        def handleInputRows(self, key, rows, timerValues):
            pdf = pd.concat(list(rows), ignore_index=True)
            pdf = pdf.sort_values(["ts", "event_id"])
            ts = pdf["ts"]
            if getattr(ts.dt, "tz", None) is not None:
                ts = ts.dt.tz_convert("UTC").dt.tz_localize(None)
            # pin the unit before the int64 view: pandas hands us us- or
            # ns-resolution depending on the Arrow path
            ts_us = ts.astype("datetime64[us]").astype("int64").to_numpy()
            micro = _to_micro_vec(pdf["value"].to_numpy())
            # One get() doubles as the exists() probe (None = absent) —
            # the state server round trip is this row's unit cost, so the
            # hot path holds it to 3 RPCs per key-batch: get, update,
            # registerTimer.  The superseded timer is NOT deleted here
            # (a 4th RPC per extension); handleExpiredTimer instead
            # recomputes the open session's true expiry and ignores any
            # stale fire — same emitted rows, fewer round trips.
            prev = self._sess.get()
            if prev is not None:
                start, last, n, acc = prev
            else:
                start = last = None
                n = acc = 0
            # Vectorized gap-split + int64 domain guard: module-level
            # helper segment_sessions_micro so the guard's contract is
            # executable by a planted-overflow unit test (VERDICT r10
            # item #5), not only documentary.
            starts, counts, accs = segment_sessions_micro(ts_us, micro, GAP_US)
            # Scalar carry-in: the open session either absorbs the first
            # batch segment (no gap) or closes ahead of it (gap).
            if last is not None:
                if ts_us[0] - last < GAP_US:
                    starts[0] = start
                    counts[0] += n
                    accs[0] += acc
                else:
                    starts.insert(0, start)
                    counts.insert(0, n)
                    accs.insert(0, acc)
            if len(starts) > 1:
                yield pd.DataFrame(
                    {
                        "user_id": key[0],
                        "start_us": starts[:-1],
                        "n_events": counts[:-1],
                        "acc_micro": accs[:-1],
                    }
                )
            start, n, acc = starts[-1], counts[-1], accs[-1]
            last = int(ts_us[-1])
            self._sess.update((start, last, n, acc))
            # fire strictly after the last instant that could extend:
            # ceil to the next ms so expiry_ms >= (last + gap) in µs
            self._handle.registerTimer(-(-(last + GAP_US) // 1000))

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            state = self._sess.get()
            if state is None:
                # stale timer for a session already closed by the arrival
                # path (gap seen in-batch) — nothing to do
                return
            start, last, n, acc = state
            if expiredTimerInfo.getExpiryTimeInMs() != -(-(last + GAP_US) // 1000):
                # stale timer: the session was extended after this timer
                # was registered, so its true expiry lies further out (the
                # extension registered that later timer); superseded
                # expiries are strictly older, so equality identifies the
                # live one uniquely.  Ignoring the fire replaces the
                # hot-path deleteTimer RPC.
                return
            self._sess.clear()
            yield self._row(key, start, n, acc)

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", lateness)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=SessionProcessor(),
            outputStructType=output_schema,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def st9_attribution_join(
    events: DataFrame, lateness: str = "2 hours", horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with watermarks: attribute each purchase to
    the views by the same user in the preceding `horizon` (the streaming twin
    of the batch theta/range join j10, same `b.ts > a.ts` bound).

    Both sides carry a watermark and the join condition carries a two-sided
    event-time bound, so Spark can prove which buffered rows can never match
    again and evict them — per-side state is O(events within `lateness`),
    not O(stream).  Correct eviction needs `lateness` > `horizon` plus the
    max cross-file disorder of the source (time-ordered files => one file's
    span); the defaults leave 1 h of slack.

    Inner-join results are emitted as soon as both sides arrive (append
    mode); the watermark only governs state cleanup, so with ordered input
    the stream output equals the batch join exactly."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        views.withWatermark("view_ts", lateness)
        .join(
            purchases.withWatermark("purchase_ts", lateness),
            F.expr(
                f"""user_id = p_user_id
                AND purchase_ts > view_ts
                AND purchase_ts <= view_ts + INTERVAL {horizon}"""
            ),
        )
        .select(
            "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts",
            "purchase_value",
        )
    )


def st16_attribution_left_join(
    events: DataFrame, lateness: str = "2 hours", horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — st9's attribution with the
    unattributed purchases PRESERVED: every purchase emits, matched ones
    paired with each qualifying prior view, unmatched ones exactly once
    with null view columns.

    The outer side is where streaming joins earn their state semantics:
    an inner join can emit eagerly, but a null-extended row is only
    correct once the watermark PROVES no matching view can still arrive
    (view_ts would have to lie in (purchase_ts - horizon, purchase_ts),
    all of which the watermark has passed).  Spark therefore emits the
    null rows on state eviction, one microbatch after the watermark
    moves — which is why the staged source ends with the far-future
    SENTINEL event (see `_stage_stream_dir_with_flush`): it is the
    end-of-stream clock advance that flushes every real purchase's
    verdict.  Same eviction bounds as st9: per-side state is O(events
    within `lateness`), not O(stream)."""
    views = events.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        "user_id",
        F.col("ts").alias("view_ts"),
    )
    purchases = events.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return (
        purchases.withWatermark("purchase_ts", lateness)
        .join(
            views.withWatermark("view_ts", lateness),
            F.expr(
                f"""p_user_id = user_id
                AND purchase_ts > view_ts
                AND purchase_ts <= view_ts + INTERVAL {horizon}"""
            ),
            "left_outer",
        )
        .select(
            F.col("p_user_id").alias("user_id"),
            "purchase_id",
            "purchase_ts",
            "purchase_value",
            "view_id",
            "view_ts",
        )
    )


def st10_stream_static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a batch dimension
    table.  The static side needs no watermark and holds no join state — it
    is re-planned per microbatch and broadcast (dim tables are small by
    definition; at 100 TB the stream side still never shuffles)."""
    return events.join(
        F.broadcast(dim), events.user_id == dim.c_custkey, "inner"
    ).select("event_id", "user_id", "ts", "event_type", "value", "c_mktsegment")


def st11_stream_dedup(events: DataFrame, lateness: str = "90 days") -> DataFrame:
    """Streaming exactly-once restoration over an at-least-once source:
    drop replayed events by key with `dropDuplicatesWithinWatermark` — the
    ingest-dedup every streaming pipeline (and every streaming LLM-corpus
    ingest) runs in front of stateful consumers.

    State is one entry per event_id seen within `lateness` of the watermark;
    older entries are evicted because a replay further apart than `lateness`
    can no longer arrive (the at-least-once window of real buses — Kafka
    redelivery, file-source re-listing — is minutes, not days).  `lateness`
    here exceeds the test data's whole span so the batch DISTINCT is an
    exact oracle; at scale it is sized to the bus's redelivery horizon,
    keeping state O(events per horizon) independent of stream length."""
    return events.withWatermark("ts", lateness).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def st15_content_dedup(docs: DataFrame) -> DataFrame:
    """Streaming CONTENT-level dedup — the ingest-time counterpart of the
    batch l1 operator: an arriving document stream is collapsed per
    content hash (xxhash64 of the text) into (keeper_id = min doc_id seen,
    n_seen = arrivals), so re-sent or re-crawled payloads under fresh ids
    never enter the corpus twice and the keeper choice is DETERMINISTIC
    (min, not first-arrival — first-arrival within a microbatch depends on
    partition order, min does not).

    State is one (hash, len, min, count) row per DISTINCT content — the
    same cardinality a batch exact-dedup shuffles, held incrementally.  At
    100 TB: RocksDB state store, and the complete-output memory sink used
    by the availableNow harness becomes update-mode changefeed into a
    keyed sink (the standard complete->update swap); if re-crawl horizons
    are bounded, withWatermark on ingest time bounds state like st11's
    event dedup.

    Collision bound: a single 64-bit hash key silently merges two distinct
    texts on collision — at ~10^10 docs the expected birthday collisions
    are O(1), so the group key carries length(text) as an independent
    discriminator (collision now needs equal hash AND equal length:
    expected spurious merges ~collisions/|length distribution| << 1; for
    cryptographic certainty swap in sha2(text, 256) at ~2x key bytes)."""
    return docs.groupBy(
        F.xxhash64("text").alias("content_hash"),
        F.length("text").alias("content_len"),
    ).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").alias("n_seen"),
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, output_mode: str = "update"
) -> DataFrame:
    """Execute a streaming plan with the availableNow trigger into a memory
    sink (st7 output-mode surface); returns the sink table as a DataFrame.

    The checkpoint (offsets WAL + state store) goes to :func:`io.scratch_dir`
    — RAM-backed where available, because every microbatch commit fsyncs it
    and a memory-sink test run has nothing to recover (see scratch_dir's
    scale note)."""
    import shutil

    from google_analytics_dataframes_spark.io import scratch_dir

    # scratch_dir is per-process (PID-suffixed base) so concurrent runs of
    # the same query name can't delete each other's live checkpoint; the
    # pre-start rmtree only clears THIS process's previous run (a re-run
    # with availableNow + an old checkpoint would replay nothing).
    ckpt = scratch_dir(f"ckpt_{query_name}")
    shutil.rmtree(ckpt, ignore_errors=True)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        # return tmpfs immediately — a long sweep runs many streaming
        # queries and the checkpoint has no value once the query finished
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.table(query_name)


def run_available_now_parquet(stream_df: DataFrame, query_name: str) -> DataFrame:
    """Append-mode availableNow execution through a PARQUET file sink,
    returned as the sink directory read back.

    Round-8 scale fix (stream-probe finding): the memory sink materializes
    EVERY output row into the driver JVM — O(output volume) driver memory
    and a single-threaded collect path.  For the append-mode streams whose
    output is the full stream volume (enrichment, dedup pass-through,
    interval-join matches, per-session rows) that made the sink, not the
    stream, the measured cost: st10 at 10x data spent 20.5 s through the
    memory sink vs 3.5 s through parquet for identical rows (6x).  A real
    deployment lands these streams in files/Kafka anyway, so the file sink
    is both the honest shape and the fast one; bounded-output
    update/complete streams (counters, windowed aggs, keeper elections)
    keep the memory sink.

    The checkpoint is deleted after the run (nothing to recover, see
    :func:`run_available_now`); the data directory lives until process
    exit (io's scratch atexit sweep) because the returned DataFrame reads
    it lazily."""
    import shutil

    from google_analytics_dataframes_spark.io import scratch_dir

    ckpt = scratch_dir(f"ckpt_{query_name}")
    out = scratch_dir(f"sink_{query_name}")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return stream_df.sparkSession.read.parquet(out)
