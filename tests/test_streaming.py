"""Streaming D-tier validation (SURVEY.md §5.2 item 5): availableNow runs
over parquet, compared to the oracle-checked batch twins, plus late-data /
dedup / stateful behavior on a planted out-of-order fixture."""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pandas as pd
import pytest

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import load_table
from google_analytics_dataframes_spark.queries.streaming_batch import st1_tumbling
from google_analytics_dataframes_spark.streaming import jobs
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """events.parquet copied into a directory (file-stream source wants a
    dir), split into several files so availableNow runs multiple batches."""
    d = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, SF_DIR, "events")
    ev.withColumn("ts", F.unix_micros("ts") * 1000).repartition(4).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    return pdf[cols].sort_values(by=cols, kind="mergesort").reset_index(drop=True)


def test_stream_tumbling_equals_batch(spark, events_dir):
    stream = jobs.read_event_stream(spark, events_dir)
    agg = (
        stream.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )
    got = jobs.run_available_now(agg, "t_st1", output_mode="complete").toPandas()
    want = st1_tumbling(spark, SF_DIR).drop("sum_value").toPandas()
    assert _canon(got).equals(_canon(want))


def test_watermark_drops_late_rows(spark, tmp_path_factory):
    """Three files arriving in order: batch 0 advances the watermark to
    11:30, batch 1 is a fresh on-time event, batch 2 carries events >2 h
    behind the watermark -> their window must never appear.

    Why three batches, not two: Spark filters LATE events with the
    watermark of the *previous* microbatch (only state EVICTION uses the
    current one) — the two-watermark split that guarantees no on-time row
    is dropped by a watermark that advanced within its own trigger.  A late
    file exactly one batch behind the advancing file is therefore still
    admitted (verified empirically on 4.1: batch 1 ran with watermark
    11:30 in progress metadata yet aggregated 09:10 rows); one buffer
    batch in between makes the drop deterministic."""
    d = str(tmp_path_factory.mktemp("late"))
    on_time = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 11:30:00", "2024-01-01 12:30:00"]
            ),
            "user_id": [1, 1, 1],
            "event_type": ["view"] * 3,
            "value": [1.0] * 3,
            "props": ["{}"] * 3,
        }
    )
    buffer = on_time.iloc[:1].copy()
    buffer["event_id"] = [9]
    buffer.loc[:, "ts"] = pd.Timestamp("2024-01-01 12:45:00")  # on-time
    late = on_time.copy()
    late["event_id"] = [4, 5, 6]
    late.loc[:, "ts"] = pd.Timestamp("2024-01-01 09:10:00")  # >2h late
    os.makedirs(d, exist_ok=True)
    for i, pdf in enumerate([on_time, buffer, late]):
        out = pdf.copy()
        out["ts"] = out["ts"].astype("int64")  # epoch ns
        # coalesce(1): createDataFrame on local[32] otherwise splits 3 rows
        # over several part files, and a split on-time file processed
        # out of order lets the watermark drop an ON-TIME event (seen as a
        # rare missing-10:00-window flake)
        spark.createDataFrame(out).coalesce(1).write.mode("overwrite").parquet(
            f"{d}/f{i}"
        )
    # one directory with all files; maxFilesPerTrigger=1 => ordered batches
    merged = str(tmp_path_factory.mktemp("late_merged"))
    seq = 0
    for i in (0, 1, 2):
        for f in sorted(os.listdir(f"{d}/f{i}")):
            if f.endswith(".parquet"):
                dst = f"{merged}/b{i}_{f}"
                shutil.copy(f"{d}/f{i}/{f}", dst)
                # FileStreamSource orders the initial listing by modification
                # time; ties would make batch order (and thus which windows
                # finalize) nondeterministic -> strictly increasing mtimes.
                seq += 1
                os.utime(dst, (1700000000 + seq * 60, 1700000000 + seq * 60))
    stream = jobs.read_event_stream(spark, merged)
    # Update mode: rows are emitted in the data batch that changes them, so
    # the result does not depend on whether availableNow squeezes in a final
    # no-data "flush" microbatch after the last file (that flush is what
    # append mode needs to emit finalized windows, and it is racy against
    # availableNow termination — observed empty sinks ~1 in 3 runs).
    got = jobs.run_available_now(
        jobs.st4_watermarked_counts(stream), "t_st4", output_mode="update"
    ).toPandas()
    # Batch 0 emits the three 1-event windows and moves the watermark to
    # 12:30 - 1h = 11:30.  Batch 1 (12:45, on-time) updates the 12:00
    # window to n=2 and commits 11:30 as the late-event filter for batch 2.
    # Batch 2's rows (09:10) are behind it -> dropped: their [09:00,10:00)
    # window must never appear, and no window may receive a late update.
    assert "2024-01-01 09:00:00" not in set(got["window_start"])
    assert sorted(set(got["window_start"])) == [
        "2024-01-01 10:00:00",
        "2024-01-01 11:00:00",
        "2024-01-01 12:00:00",
    ]
    final = got.groupby("window_start")["n"].max()
    assert final.to_dict() == {
        "2024-01-01 10:00:00": 1,
        "2024-01-01 11:00:00": 1,
        "2024-01-01 12:00:00": 2,
    }


def test_stream_dedup_drops_replayed_file(spark):
    """st11 (registered query): the staged at-least-once source replays
    every 5th event in a second file; dropDuplicatesWithinWatermark must
    emit each event exactly once — count equals the batch table and
    event_id comes out unique."""
    from google_analytics_dataframes_spark.registry import registry

    got = registry()["st11_stream_dedup"].fn(spark, SF_DIR).toPandas()
    assert len(got) == load_table(spark, SF_DIR, "events").count()
    assert got["event_id"].is_unique


def test_stream_content_dedup_keeps_min_and_counts_recrawls(spark):
    """st15 (registered query): the staged re-crawl source re-sends every
    7th document verbatim under an offset id; the content-hash state must
    (a) emit one row per distinct text, (b) keep the ORIGINAL (minimum)
    id as keeper even though the re-crawl arrived later, and (c) count
    arrivals = corpus occurrences + re-crawls of that text."""
    from google_analytics_dataframes_spark.registry import registry

    got = registry()["st15_stream_content_dedup"].fn(spark, SF_DIR).toPandas()
    docs = load_table(spark, SF_DIR, "documents").toPandas()
    n_ids = docs["doc_id"].max() + 1
    assert len(got) == docs["text"].nunique()
    # no keeper is a re-crawl id, and every re-crawled text counted twice
    assert (got["keeper_id"] < n_ids).all()
    by_text = docs.groupby("text")["doc_id"].agg(
        ["min", "count", lambda s: (s % 7 == 0).sum()]
    )
    by_text.columns = ["mn", "cnt", "recrawled"]
    want = (
        by_text.assign(expect=lambda d: d["cnt"] + d["recrawled"])
        .set_index("mn")["expect"]
    )
    merged = got.set_index("keeper_id")["n_seen"].to_frame().join(
        want, how="inner"
    )
    assert len(merged) == len(got)
    assert (merged["n_seen"] == merged["expect"]).all()


def test_stateful_funnel_counts(spark, events_dir):
    stream = jobs.read_event_stream(spark, events_dir)
    out = jobs.run_available_now(
        jobs.st6_stateful_funnel(stream), "t_st6", output_mode="update"
    ).toPandas()
    # final state per user (last update) must equal the batch counts
    final = out.groupby("user_id").last()
    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("views"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "purchases"
            ),
        )
        .toPandas()
        .set_index("user_id")
    )
    joined = final.join(batch, lsuffix="_s")
    assert (joined["views_s"] == joined["views"]).all()
    assert (joined["purchases_s"] == joined["purchases"]).all()


def test_stream_stream_join_matches_batch(spark):
    """st9: watermarked stream-stream interval self-join == the batch
    theta-join with identical bounds (j10 semantics), over the
    time-ordered source: with randomly-split files the watermark from an
    early batch would evict state still needed by older rows arriving
    later, and stream == batch would not hold."""
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _stage_stream_dir,
    )

    src = _stage_stream_dir(spark, SF_DIR, ordered=True)
    stream = jobs.read_event_stream(spark, src)
    got = jobs.run_available_now(
        jobs.st9_attribution_join(stream), "t_st9", output_mode="append"
    ).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", F.col("ts").alias("view_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    want = (
        v.join(
            p,
            (v.user_id == p.p_user_id)
            & (p.purchase_ts > v.view_ts)
            & (p.purchase_ts <= F.col("view_ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .select(
            "user_id", "view_id", "purchase_id", "view_ts", "purchase_ts",
            "purchase_value",
        )
        .toPandas()
    )
    assert len(want) > 0  # fixture actually exercises the join
    assert _canon(got).equals(_canon(want))


def test_stream_static_enrich_matches_batch(spark, events_dir):
    """st10: stream-static broadcast enrichment == the same batch join."""
    stream = jobs.read_event_stream(spark, events_dir)
    dim = load_table(spark, SF_DIR, "customer").select("c_custkey", "c_mktsegment")
    got = jobs.run_available_now(
        jobs.st10_stream_static_enrich(stream, dim), "t_st10", output_mode="append"
    ).toPandas()
    ev = load_table(spark, SF_DIR, "events")
    want = (
        ev.join(F.broadcast(dim), ev.user_id == dim.c_custkey)
        .select("event_id", "user_id", "ts", "event_type", "value", "c_mktsegment")
        .toPandas()
    )
    assert len(want) > 0
    assert _canon(got).equals(_canon(want))


def test_stream_session_window_equals_batch(spark, events_dir):
    """st3 streaming twin: native session_window sessions == batch lag-gap
    sessionization (30-min inactivity).  Lateness is set beyond the data's
    span so no event drops regardless of file/batch arrival order."""
    from pyspark.sql import Window

    stream = jobs.read_event_stream(spark, events_dir)
    got = (
        jobs.run_available_now(
            jobs.st3_session_stream(stream, lateness="90 days"),
            "t_st3s",
            output_mode="complete",
        )
        .drop("session_value")
        .toPandas()
    )
    ev = load_table(spark, SF_DIR, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "is_new",
            (
                F.col("prev").isNull()
                | (F.unix_micros("ts") - F.unix_micros("prev") >= 1800 * 1_000_000)
            ).cast("long"),
        )
        .withColumn("sid", F.sum("is_new").over(w))
        .groupBy("user_id", "sid")
        .agg(F.min("ts").alias("start"), F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .toPandas()
    )
    assert _canon(got).equals(_canon(batch))


def test_realtime_report_equals_batch_report(spark, events_dir):
    """GA Real-Time analog: the streaming report (windowed dims/metrics,
    GA filter DSL) equals the equivalent batch aggregation after an
    availableNow replay."""
    from google_analytics_dataframes_spark.report import realtime_report

    stream = jobs.read_event_stream(spark, events_dir)
    rt = realtime_report(
        stream,
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        window="1 hour",
        lateness="90 days",
        filters="value>5.0",
    )
    got = jobs.run_available_now(rt, "t_rt", output_mode="complete").toPandas()
    ev = load_table(spark, SF_DIR, "events").filter(F.col("value") > 5.0)
    want = (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("sessions"),
            F.sum(F.col("value").cast("decimal(30,6)")).cast("double").alias(
                "total_value"
            ),
        )
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "sessions",
            "total_value",
        )
        .toPandas()
    )
    # float sums: compare rounded
    for df in (got, want):
        df["total_value"] = df["total_value"].round(6)
    assert _canon(got).equals(_canon(want))


def test_realtime_report_rejects_exact_distinct(spark, events_dir):
    from google_analytics_dataframes_spark.report import realtime_report

    stream = jobs.read_event_stream(spark, events_dir)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="approx_users"):
        realtime_report(
            stream, ["event_type"], {"users": "users:user_id"}
        )


def test_restart_resume_requires_checkpoint_state(spark):
    """Negative control for st17: the registered query proves exactly-once
    across a restart USING the shared checkpoint — this test proves the
    mechanism bites by breaking it.  Same two phases, but run 2 starts
    from a FRESH checkpoint (and its own sink — see below): with no
    offset log it re-reads phase 1, so phase-1 events are emitted by
    BOTH runs and the union holds more than one row per event — exactly
    the failure the checkpoint exists to prevent.

    Why run 2 also needs its own sink directory: a streaming parquet
    sink keeps a _spark_metadata transaction log keyed by BATCH ID.  A
    fresh checkpoint restarts batch ids at 0, which the old sink log
    already lists as committed — so the sink silently SKIPS the new
    batches (first observed here: 520 of 1000 rows).  That silent drop
    is itself part of the lesson: checkpoint and sink log form one
    consistency unit and must be replaced together."""
    import os
    import shutil
    import uuid

    from google_analytics_dataframes_spark.io import load_table, scratch_dir
    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _stage_restart_phases,
        _state_partitions,
    )
    from google_analytics_dataframes_spark.streaming import jobs
    from tests.conftest import SF_DIR

    phases = _stage_restart_phases(spark, SF_DIR)
    p1, p2 = sorted(f for f in os.listdir(phases) if f.endswith(".parquet"))
    rid = uuid.uuid4().hex[:8]
    live = scratch_dir(f"st17neg_src_{rid}")
    out = scratch_dir(f"st17neg_out_{rid}")
    shutil.rmtree(live, ignore_errors=True)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(live)

    def run_once(ckpt, sink):
        stream = jobs.read_event_stream(spark, live, files_per_trigger=1)
        with pinned_confs(spark, _state_partitions()):
            q = (
                jobs.st11_stream_dedup(stream)
                .writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    ck1 = scratch_dir(f"st17neg_ck1_{rid}")
    ck2 = scratch_dir(f"st17neg_ck2_{rid}")
    out2 = scratch_dir(f"st17neg_out2_{rid}")
    for d in (ck1, ck2, out2):
        shutil.rmtree(d, ignore_errors=True)
    shutil.copy2(os.path.join(phases, p1), live)  # keeps the staged mtime
    run_once(ck1, out)
    shutil.copy2(os.path.join(phases, p2), live)
    run_once(ck2, out2)  # FRESH checkpoint + sink: the broken resume
    n_exact = load_table(spark, SF_DIR, "events").count()
    n_got = (
        spark.read.parquet(out).count() + spark.read.parquet(out2).count()
    )
    assert n_got > n_exact, (n_got, n_exact)
    for d in (live, out, out2, ck1, ck2):
        shutil.rmtree(d, ignore_errors=True)


def test_document_streams_restage_when_documents_change(spark, tmp_path, monkeypatch):
    """The doc stream (st15) and the CDC stream (st20) are built from
    documents, so rewriting documents in place, events untouched, must
    re-stage both: a new directory whose rows follow the new table.
    Dropping doc 0 removes two rows from each source: the doc and its
    re-crawl, and the doc's delete (0 % 13 == 0) and its insert
    (0 % 17 == 0, re-keyed past the unchanged max id).  The stored
    indexes follow their tables the same way: the mask index (doc 0 is
    a corpus doc, source ``src0``) loses its mask, and rewriting
    embeddings without vector 0 re-stages the IVF centroids (every label
    keeps vectors) and cells."""
    import tempfile

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _stage_change_stream,
        _stage_doc_stream,
    )
    from google_analytics_dataframes_spark.sources.bucketed import (
        ivf_index,
        mask_index,
    )

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # staged_dir's root
    sf = tmp_path / "sfcopy"
    sf.mkdir()
    for name in ("documents", "events", "embeddings"):
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), sf)

    def rows(stage):
        out = stage(spark, str(sf))
        df = spark.read.parquet(out) if isinstance(out, str) else out
        return set(df.inputFiles()), df.count()

    # name -> (stager, rows that dropping row 0 removes)
    stagers = {
        "doc_stream": (_stage_doc_stream, 2),
        "change_stream": (_stage_change_stream, 2),
        "dedup_masks": (lambda s, d: mask_index(s, d)[1], 1),
        "ivf_centroids": (lambda s, d: ivf_index(s, d)[0], 0),
        "ivf_cells": (lambda s, d: ivf_index(s, d)[1], 1),
    }
    before = {name: rows(stage) for name, (stage, _) in stagers.items()}
    for table, key in (("documents", "doc_id"), ("embeddings", "vec_id")):
        path = str(sf / f"{table}.parquet")
        t = pq.read_table(path)
        assert 0 in t[key].to_pylist()
        pq.write_table(t.filter(pc.not_equal(t[key], 0)), path + ".new")
        os.replace(path + ".new", path)
    for name, (stage, dropped) in stagers.items():
        files0, n0 = before[name]
        files1, n1 = rows(stage)
        assert files1 and not files1 & files0, name
        assert n1 == n0 - dropped, (name, n0, n1)


def test_tws_armed_worker_env_restores(spark):
    """armed_worker_env must leave sc.environment exactly as it found it —
    envVars are captured per-UDF at wrap time, so a leaked PYTHONPATH entry
    would silently fork a second worker daemon for every later python-UDF
    query (changed envVars => new daemon)."""
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    env = spark.sparkContext.environment
    before = dict(env)
    with armed_worker_env(spark):
        assert "PYTHONPATH" in env
        assert "pbshim" in env["PYTHONPATH"]
    assert dict(env) == before


def test_st18_arms_tws_post_jvm(tmp_path):
    """The driver-harness scenario st18 must survive: a session created with
    NO $PYTHONPATH sitecustomize shim (a subprocess with PYTHONPATH
    stripped, so nothing the caller's environment carries arms the
    workers).  The TWS driver worker imports the protobuf gencode at
    interpreter start — before the python-includes machinery — so
    sc.addPyFile cannot arm it (measured:
    the pre-init runner crashes); only plan-construction-time
    sc.environment arming works.  Green here means st18 is
    session-creation-order independent."""
    import subprocess
    import sys
    import textwrap

    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    script = textwrap.dedent(
        """
        import os, sys
        assert "PYTHONPATH" not in os.environ
        SF_DIR = sys.argv[1]
        from pyspark.sql import SparkSession
        spark = (
            SparkSession.builder.master("local[4]")
            .config("spark.sql.shuffle.partitions", "4")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .getOrCreate()
        )
        from google_analytics_dataframes_spark.registry import registry
        fn = registry()["st18_stream_typed_state"].fn
        out = fn(spark, SF_DIR).toPandas()
        from pyspark.sql import functions as F
        from google_analytics_dataframes_spark.io import load_table
        exp = (
            load_table(spark, SF_DIR, "events")
            .groupBy("user_id").count().toPandas()
        )
        got = out.set_index("user_id")["total"].sort_index()
        want = exp.set_index("user_id")["count"].sort_index()
        assert (got == want).all(), (got, want)
        print("ST18-POST-JVM-OK", len(got))
        spark.stop()
        """
    )
    # scratch dirs are per-process (io.scratch_dir), so the subprocess
    # cannot collide with this suite's staging
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, "-c", script, SF_DIR],
        capture_output=True,
        text=True,
        timeout=300,
        env=env,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert "ST18-POST-JVM-OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])


def test_st19_final_sessions_require_timers(spark):
    """Timer-path control for st19: run the SAME TWS sessionizer over
    staging WITHOUT flush sentinels.  Three facts must hold:

    * something is stuck — sessions ending inside the final
      (lateness + gap) window have no later data to advance the
      watermark past their expiry, so the emitted table is strictly
      smaller than the batch census;
    * ONLY final sessions can be stuck — every non-final session closes
      on the arrival path (gap rule), so the deficit is bounded by the
      user count;
    * timers DID fire for the rest — the arrival path alone can close at
      most (sessions - users) rows (a user's final session has no later
      event), so emitting more than that is positive proof that
      handleExpiredTimer ran and emitted, across microbatch boundaries,
      under the data-derived watermark (measured here: all but the last
      ~1.5 h of final sessions).
    The registered row then shows the sentinels closing exactly this gap
    (driver-checked equality with the batch oracle)."""
    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _ROCKSDB_STATE,
        _stage_stream_dir,
        _state_partitions,
    )
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    src = _stage_stream_dir(spark, SF_DIR, ordered=True)  # NO sentinels
    stream = jobs.read_event_stream(spark, src, files_per_trigger=2)
    with pinned_confs(spark, _ROCKSDB_STATE):
        with armed_worker_env(spark):
            tws = jobs.st19_timer_sessionize(stream)
        with pinned_confs(spark, _state_partitions()):
            out = jobs.run_available_now_parquet(tws, "t_st19_neg")
    n_emitted = out.filter(F.col("user_id") >= 0).count()
    # batch census: lag/cumsum session count (the st14/st19 oracle shape)
    ev = load_table(spark, SF_DIR, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                >= 30 * 60 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    n_batch = gaps.agg(F.sum("is_new")).first()[0]
    n_users = ev.select("user_id").distinct().count()
    assert n_emitted < n_batch, (n_emitted, n_batch)
    # only per-user FINAL sessions can be stuck open
    assert n_batch - n_emitted <= n_users, (n_emitted, n_batch, n_users)
    # positive proof the timer path emitted: gap-closes alone can yield
    # at most (sessions - users) rows
    assert n_emitted > n_batch - n_users, (n_emitted, n_batch, n_users)


def test_stateful_streams_carry_state_across_batches(spark):
    """Review-r8 regression pin for st12/st18: the unordered 2-file staging
    read at 2 files/trigger collapsed into ONE microbatch, so per-key
    state was written but never read back — the cross-batch carry-over
    both rows exist to prove was vacuous (state.exists() always False).
    At 1 file/trigger the update-mode sink must contain MULTIPLE rows for
    many users (one per batch that changed them), which is only possible
    if batch 2 read and extended batch 1's state."""
    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _ROCKSDB_STATE,
        _stage_stream_dir,
        _state_partitions,
    )
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    src = _stage_stream_dir(spark, SF_DIR, ordered=False)
    stream = jobs.read_event_stream(spark, src, files_per_trigger=1)
    with pinned_confs(spark, _ROCKSDB_STATE):
        with armed_worker_env(spark):
            tws = jobs.st18_typed_state_census(stream)
        with pinned_confs(spark, _state_partitions()):
            out = jobs.run_available_now(
                tws, "t_carry", output_mode="update"
            ).toPandas()
    per_user = out.groupby("user_id").size()
    n_users = load_table(spark, SF_DIR, "events").select("user_id").distinct().count()
    assert len(per_user) == n_users
    # a random 2-way split of a user's ~130 events lands events in both
    # files with near-certainty; require it for a clear majority
    assert (per_user >= 2).sum() > n_users // 2, per_user.describe()
    # and the second update must EXTEND the first (monotone totals), not
    # restart it: max total per user == the user's full event count
    totals = out.groupby("user_id")["total"].max().sort_index()
    want = (
        load_table(spark, SF_DIR, "events")
        .groupBy("user_id")
        .count()
        .toPandas()
        .set_index("user_id")["count"]
        .sort_index()
    )
    assert (totals == want).all()


def test_tws_initial_state_bootstraps_from_batch(spark, tmp_path_factory):
    """TWS initial-state bootstrap — the migration path a deployment uses
    to START a stateful stream from a batch backfill instead of replaying
    history: events are split at the median ts; the first half is batch-
    aggregated into per-user (views, purchases) and handed to
    transformWithStateInPandas as initialState; ONLY the second half
    streams.  handleInitialState must seed each user's ValueState so the
    final census equals the full-table batch aggregate — proving seeded
    state and streamed increments compose exactly (a dropped seed or a
    double-applied one both break equality)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _ROCKSDB_STATE,
        _state_partitions,
    )
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    ev = load_table(spark, SF_DIR, "events")
    cut = ev.agg(F.expr("percentile_approx(unix_micros(ts), 0.5)")).first()[0]
    hist = ev.filter(F.unix_micros("ts") <= cut)
    live = ev.filter(F.unix_micros("ts") > cut)

    def census(df):
        return df.groupBy("user_id").agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias(
                "views"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("purchases"),
        )

    live_dir = str(tmp_path_factory.mktemp("tws_live"))
    live.withColumn("ts", F.unix_micros("ts") * 1000).repartition(2).write.mode(
        "overwrite"
    ).parquet(live_dir)

    state_schema = StructType(
        [StructField("views", LongType()), StructField("purchases", LongType())]
    )

    class BootstrappedFunnel(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._s = handle.getValueState("funnel", state_schema)

        def handleInitialState(self, key, initialState, timerValues):
            self._s.update(
                (
                    int(initialState["views"].iloc[0]),
                    int(initialState["purchases"].iloc[0]),
                )
            )

        def handleInputRows(self, key, rows, timerValues):
            v, p = self._s.get() if self._s.exists() else (0, 0)
            for pdf in rows:
                v += int((pdf["event_type"] == "view").sum())
                p += int((pdf["event_type"] == "purchase").sum())
            self._s.update((v, p))
            yield pd.DataFrame(
                {"user_id": [key[0]], "views": [v], "purchases": [p]}
            )

        def close(self) -> None:
            pass

    stream = jobs.read_event_stream(spark, live_dir, files_per_trigger=1)
    with pinned_confs(spark, _ROCKSDB_STATE):
        with armed_worker_env(spark):
            tws = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=BootstrappedFunnel(),
                outputStructType="user_id bigint, views bigint, purchases bigint",
                outputMode="Update",
                timeMode="None",
                initialState=census(hist).groupBy("user_id"),
            )
        with pinned_confs(spark, _state_partitions()):
            out = jobs.run_available_now(
                tws, "t_tws_boot", output_mode="update"
            ).toPandas()
    got = (
        out.groupby("user_id")[["views", "purchases"]].max().sort_index()
    )
    want = census(ev).toPandas().set_index("user_id").sort_index()
    # users with no live events emit nothing — restrict to emitted users,
    # then separately require every live user emitted
    live_users = {r.user_id for r in live.select("user_id").distinct().collect()}
    assert set(got.index) == live_users
    want = want.loc[sorted(got.index)]
    assert (got["views"] == want["views"]).all()
    assert (got["purchases"] == want["purchases"]).all()


def test_tws_list_state_keeps_bounded_recent_window(spark, tmp_path_factory):
    """TWS ListState — the third typed-state surface (st18 covers
    ValueState+MapState): a per-user last-3-event tracker, the bounded
    recent-activity window every personalization/abuse pipeline keeps.
    Appends each batch's event ids, re-puts only the trailing 3 —
    proving appendList/put/get round-trip through the state server AND
    that the bound holds across microbatch boundaries (a put that
    silently appended instead of replacing would leak unbounded state
    and fail the expected-list equality)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
    from pyspark.sql.types import LongType, StructField, StructType

    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _ROCKSDB_STATE,
        _state_partitions,
    )
    from google_analytics_dataframes_spark.streaming.tws_runtime import (
        armed_worker_env,
        ensure_protobuf,
    )

    if not ensure_protobuf():
        pytest.skip("no protobuf runtime on this host")
    d = str(tmp_path_factory.mktemp("tws_list"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    file_events = [
        {1: [101, 102, 103], 2: [111]},
        {1: [201, 202], 2: [211]},
    ]
    for i, per_user in enumerate(file_events):
        rows = [
            (eid, 1_700_000_000_000_000_000 + eid * 1_000_000_000, uid,
             "view", 1.0, "{}")
            for uid, eids in per_user.items()
            for eid in eids
        ]
        pdf = pd.DataFrame(
            rows,
            columns=["event_id", "ts", "user_id", "event_type", "value", "props"],
        )
        path = f"{d}/f{i}.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), path)
        os.utime(path, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))

    elem_schema = StructType([StructField("event_id", LongType())])

    class Recent3(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._recent = handle.getListState("recent", elem_schema)

        def handleInputRows(self, key, rows, timerValues):
            new = []
            for pdf in rows:
                new.extend(int(e) for e in pdf["event_id"])
            new.sort()  # batch-internal arrival order is not contractual
            self._recent.appendList([(e,) for e in new])
            tail3 = [t for t in self._recent.get()][-3:]
            self._recent.put(tail3)  # REPLACE with the bounded window
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "recent": [",".join(str(t[0]) for t in tail3)],
                }
            )

        def close(self) -> None:
            pass

    stream = jobs.read_event_stream(spark, d, files_per_trigger=1)
    with pinned_confs(spark, _ROCKSDB_STATE):
        with armed_worker_env(spark):
            tws = stream.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=Recent3(),
                outputStructType="user_id bigint, recent string",
                outputMode="Update",
                timeMode="None",
            )
        with pinned_confs(spark, _state_partitions()):
            out = jobs.run_available_now(
                tws, "t_tws_list", output_mode="update"
            ).toPandas()
    # batch 1: u1 -> 101,102,103 ; u2 -> 111
    # batch 2 appends to the KEPT tail: u1 -> 103,201,202 ; u2 -> 111,211
    per_user = out.groupby("user_id")["recent"].apply(set).to_dict()
    assert per_user[1] == {"101,102,103", "103,201,202"}, out
    assert per_user[2] == {"111", "111,211"}, out


def test_sized_state_partitions_tracks_source_volume(tmp_path):
    """State-partition sizing must scale with source bytes and stay inside
    [8, 32]: tiny SFs keep the fixed-cost-optimal 8, sf0.1 lands on its
    measured 16-partition sweet spot (17.1 s -> 12.0 s warm), and a
    10x-scale events table hits 32 (55 s/batch at 8 vs ~17 s at 32).
    Built on raw bytes (not row counts) so it needs no Spark session."""
    from google_analytics_dataframes_spark.queries.streaming_batch import (
        _sized_state_partitions,
    )

    def fake(n_bytes):
        d = tmp_path / f"d{n_bytes}" / "events.parquet"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"\0" * n_bytes)
        (d / "_SUCCESS").write_bytes(b"")  # non-parquet files don't count
        return str(d.parent)

    assert _sized_state_partitions(fake(1)) == 8  # floor
    assert _sized_state_partitions(fake(10 << 17)) == 10  # linear regime
    assert _sized_state_partitions(fake(1 << 30)) == 32  # ceiling
    # single-file layout (plain .parquet file, not a directory)
    f = tmp_path / "flat"
    f.mkdir()
    (f / "events.parquet").write_bytes(b"\0" * (20 << 17))
    assert _sized_state_partitions(str(f)) == 20
    # the tiny SFs stay in the fixed-cost regime; sf0.1 takes its
    # measured optimum.  Guard on existence: conftest's baseline fixture
    # is sf0.001 only, so these larger-SF checks must not hard-fail a
    # minimal checkout (the regime assertions above already cover the
    # function; these pin the SHIPPED datasets' placement).
    import os

    from google_analytics_dataframes_spark.io import TESTDATA_DIR

    for sf in ("sf0.001", "sf0.01"):
        d = os.path.join(TESTDATA_DIR, sf)
        if os.path.isdir(d):
            assert _sized_state_partitions(d) == 8
    # (the 12 s plateau is flat from ~15 to 32 partitions, so pin the
    # band, not the exact quotient of the parquet byte size)
    d = os.path.join(TESTDATA_DIR, "sf0.1")
    if os.path.isdir(d):
        assert 12 <= _sized_state_partitions(d) <= 32


def test_micro_units_vec_matches_decimal_contract():
    """st19's r9 vectorization claim, tested directly: the float-grid
    fast path of micro_units_vec must equal the per-value Decimal
    HALF_UP contract on (a) uniform randoms across magnitudes, (b)
    adversarial exact .5 ties at 6 decimals, (c) near-tie neighbors one
    ulp either side, (d) negatives (away-from-zero vs toward-+inf
    divergence route), and (e) huge values past the float grid."""
    import numpy as np

    from google_analytics_dataframes_spark.streaming.jobs import (
        micro_units,
        micro_units_vec,
    )

    rs = np.random.RandomState(7)
    cases = [
        rs.uniform(0, 1, 4000),
        rs.uniform(0, 1e6, 4000),
        rs.uniform(0, 1e12, 1000),
        np.float64([k + 0.5 for k in range(50)]) / 1e6,  # exact ties
        np.nextafter(np.float64([k + 0.5 for k in range(50)]) / 1e6, 0.0),
        np.nextafter(np.float64([k + 0.5 for k in range(50)]) / 1e6, 1.0),
        -rs.uniform(0, 100, 500),
        rs.uniform(2.0**51, 2.0**54, 200) / 1e6,
    ]
    vals = np.concatenate(cases)
    got = micro_units_vec(vals)
    want = np.array([micro_units(float(v)) for v in vals], np.int64)
    mism = np.flatnonzero(got != want)
    assert mism.size == 0, (
        f"{mism.size} mismatches, first: v={vals[mism[0]]!r} "
        f"vec={got[mism[0]]} decimal={want[mism[0]]}"
    )


def test_segment_sessions_micro_overflow_guard_fires():
    """Planted-overflow red-green for st19's int64 domain guard (VERDICT
    r10 item #5): a batch whose per-session micro-unit sum exceeds 2^63-1
    must raise OverflowError LOUDLY — np.add.reduceat would otherwise
    wrap silently and emit a garbage (negative) acc_micro under the
    bigint output contract.  Reverting the guard makes this test fail in
    the most damning way available: the helper returns a wrapped value
    instead of raising."""
    import numpy as np

    from google_analytics_dataframes_spark.streaming.jobs import (
        segment_sessions_micro,
    )

    gap_us = 30 * 60 * 1_000_000
    # One session (1-second spacing, far under the 30-min gap) of three
    # events, each at the largest micro-unit magnitude micro_units_vec
    # itself admits (~2^63 * 0.9 / 1): 3 * 0.4*2^63 > 2^63-1 overflows.
    ts_us = np.arange(3, dtype=np.int64) * 1_000_000
    big = int(0.4 * (2**63 - 1))
    micro = np.full(3, big, dtype=np.int64)
    with pytest.raises(OverflowError, match="acc_micro output schema is bigint"):
        segment_sessions_micro(ts_us, micro, gap_us)
    # Control: the same shape inside the int64 domain returns the exact
    # Python-int sum (no wrap) and one session.
    micro_ok = np.full(3, 10**15, dtype=np.int64)
    starts, counts, accs = segment_sessions_micro(ts_us, micro_ok, gap_us)
    assert starts == [0] and counts == [3] and accs == [3 * 10**15]
    # Two sessions split on the gap; guard indifferent to the split.
    ts_gap = np.array([0, 1_000_000, gap_us + 2_000_000], dtype=np.int64)
    starts, counts, accs = segment_sessions_micro(ts_gap, micro_ok, gap_us)
    assert counts == [2, 1] and accs == [2 * 10**15, 10**15]


def test_scratch_base_sweep_reaps_only_dead(tmp_path, monkeypatch):
    """The scratch root's first-use sweep is the one orphan reaper: it
    removes spark_graft_scratch_<pid> dirs whose process is gone, and must
    NOT touch this process's dir or other spark_graft_* names (the shared
    staged_dir fixtures live beside it)."""
    import subprocess
    import sys
    import tempfile

    from google_analytics_dataframes_spark import io as pio

    # a pid that is certainly dead: a child that has already exited
    child = subprocess.run([sys.executable, "-c", "import os; print(os.getpid())"],
                           capture_output=True, text=True, check=True)
    dead = tmp_path / f"spark_graft_scratch_{int(child.stdout)}"
    own = tmp_path / f"spark_graft_scratch_{os.getpid()}"
    other = tmp_path / "spark_graft_text_sf0.001_0123456789abcdef"
    for d in (dead, own, other):
        d.mkdir()
        (d / "f").write_text("x")
    # re-run first-use selection against tmp_path (no tmpfs) and restore
    # this suite's scratch root afterwards
    monkeypatch.setattr(pio, "_SCRATCH_BASE", None)
    monkeypatch.setattr(pio.os, "access", lambda path, mode: False)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    assert pio._scratch_base() == str(own)
    assert not dead.exists(), "dead-pid scratch dir not reaped"
    assert (own / "f").exists(), "this process's scratch dir was reaped"
    assert (other / "f").exists(), "non-scratch spark_graft_* dir was reaped"
