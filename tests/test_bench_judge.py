"""bench.py's row judge and its per-row layer profile.

The judge tests build rows in memory and need no Spark: a row is stamped
when it ran > 2.5x its reference and > 0.3 s above it, and the reference is
the previous BENCH_DETAIL.json only when that run banded quiet on the same
resolved dataset path, cpu count and master."""

from __future__ import annotations

import pytest

import bench
from conftest import SF_DIR
from google_analytics_dataframes_spark.registry import registry

HERE = {"cpus": 4, "master": "local[4]", "sf_dir": "/data/sf0.1"}

# 60 rows from 0.05 s to 1.95 s, in suite (sorted-name) order
ROWS = {f"r{i:03d}": round(0.05 + (i * 7 % 20) * 0.1, 3) for i in range(60)}


def artifact(times: dict[str, float], cls: str = "quiet", **over) -> dict:
    return {"queries": dict(times), "value": round(sum(times.values()), 3),
            "window": {"class": cls}, **HERE, **over}


def stamped(times: dict[str, float], prev: dict) -> list[str]:
    return [a["query"] for a in bench.judge_rows(times, prev, HERE)["row_anomalies"]]


def classify(rows: dict) -> str:
    return bench.window_class(0.1, HERE["cpus"], True, True, rows)


def test_self_replay_stamps_nothing():
    rows = bench.judge_rows(ROWS, artifact(ROWS), HERE)
    assert rows["row_anomalies"] == [] and rows["row_anomaly_block"] == 0
    assert rows["row_anomaly_reference"]["file"] == "BENCH_DETAIL.json"
    assert classify(rows) == "quiet"


def test_broad_mild_swell_stamps_nothing():
    swollen = {n: round(t * 1.3, 3) for n, t in ROWS.items()}
    assert stamped(swollen, artifact(ROWS)) == []


def test_one_row_at_three_times_is_stamped():
    name = next(n for n, t in ROWS.items() if t > 0.15)
    slow = {**ROWS, name: ROWS[name] * 3}
    rows = bench.judge_rows(slow, artifact(ROWS), HERE)
    assert [a["query"] for a in rows["row_anomalies"]] == [name]
    assert rows["row_anomalies"][0]["ratio"] == 3.0
    assert rows["row_anomaly_block"] == 1
    assert classify(rows) == "quiet"  # one stamp alone does not demote


def test_contiguous_block_of_three_demotes_the_window():
    names = sorted(ROWS)
    start = next(
        i for i in range(len(names) - 2)
        if all(ROWS[n] > 0.2 for n in names[i:i + 3])
    )
    block = names[start:start + 3]
    slow = {**ROWS, **{n: ROWS[n] * 2.6 for n in block}}
    rows = bench.judge_rows(slow, artifact(ROWS), HERE)
    assert [a["query"] for a in rows["row_anomalies"]] == block
    assert rows["row_anomaly_block"] == 3
    assert classify(rows) == "unstable"


@pytest.mark.parametrize(
    "prev",
    [
        artifact(ROWS, sf_dir="/data/synth_sf1"),  # a 10x run
        artifact(ROWS, cpus=8),
        artifact(ROWS, master="local[8]"),
        artifact(ROWS, cls="unstable"),
        artifact(ROWS, cls="loaded"),
        None,
    ],
    ids=["sf_dir", "cpus", "master", "unstable", "loaded", "missing"],
)
def test_foreign_or_noisy_reference_judges_nothing(prev):
    slow = {n: t * 10 for n, t in ROWS.items()}
    rows = bench.judge_rows(slow, prev, HERE)
    assert rows == {"row_anomalies": [], "row_anomaly_block": 0,
                    "row_anomaly_reference": None}


def test_ambient_load_and_missing_load_classes():
    rows = bench.judge_rows(ROWS, None, HERE)
    assert bench.window_class(1.0, 4, True, True, rows) == "quiet"
    assert bench.window_class(1.01, 4, True, True, rows) == "loaded"
    assert bench.window_class(None, 4, True, True, rows) == "unknown"
    assert bench.window_class(0.1, 4, False, True, rows) == "unstable"
    assert bench.window_class(0.1, 4, True, False, rows) == "unstable"


def test_row_profiler_records_batch_and_stream_profiles(spark):
    """One batch row and one stream row through bench's capture helper;
    also guards bench.py's import of perfbench/tracing.py."""
    reg = registry()

    def listeners():
        jspark = spark._jsparkSession
        return (len(jspark.listenerManager().listListeners()),
                len(jspark.streams().listListeners()))

    before = listeners()
    profiler = bench.RowProfiler(spark)
    try:
        profiles = {}
        for name in ("a1_groupby_sum", "st11_stream_dedup"):
            sec, profiles[name] = profiler.run(
                name, lambda name=name: reg[name].fn(spark, SF_DIR)
            )
            assert sec > 0
    finally:
        profiler.close()
    assert listeners() == before
    keys = {
        "build_s", "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "gc_s", "task_skew", "analysis_s", "optimization_s", "planning_s", "exchanges",
    }
    for p in profiles.values():
        assert keys <= set(p)
        assert p["jobs"] >= 1
    batch, stream = profiles["a1_groupby_sum"], profiles["st11_stream_dedup"]
    assert "streaming.batches" not in batch
    assert stream["streaming.batches"] >= 1
    for k in ("query_planning_s", "add_batch_s", "state_commit_s", "wal_commit_s"):
        assert f"streaming.{k}" in stream
