"""Tests of the benchmark itself, on sf0.001 with tiny samples.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

The pure tests run in milliseconds; the three benchmark runs (one untimed
and two traced, each a fresh Spark process) take a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing as tr  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s",
    "cold_query_p50_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
}
PER_LAYER = """
session.start_s session.configure_calls session.configure_s queries.build_s
queries.build_jobs io.load_table_calls io.load_table_hit_ratio io.load_table_s
io.staged_dir_builds io.staged_dir_s io.scratch_bytes_written report.calls report.s
sources.ga_api.s sources.bucketed.calls sources.bucketed.s
sources.bucketed.warehouse_bytes_written catalyst.analysis_s catalyst.optimization_s
catalyst.planning_s catalyst.exchanges exec.wall_s exec.jobs exec.stages exec.tasks
exec.idle_frac exec.executor_run_s exec.executor_cpu_s exec.input_bytes
exec.shuffle_read_bytes exec.shuffle_write_bytes exec.spill_bytes exec.task_skew
exec.gc_s exec.failed_tasks streaming.run_s streaming.batches streaming.no_data_batches
streaming.input_rows streaming.latest_offset_s streaming.query_planning_s
streaming.add_batch_s streaming.state_commit_s streaming.wal_commit_s
streaming.commit_offsets_s streaming.state_rows streaming.state_memory_bytes
trace.overhead_s trace.overhead_frac trace.unattributed_frac
""".split() + [
    f"operators.{m}.{k}" for m in ("dedup", "similarity", "text", "multimodal", "sampling")
    for k in ("calls", "s")
]


# -- pure parts ---------------------------------------------------------------

def test_same_seed_same_sample_and_order():
    a = run.sample("ga_reports", 7)
    assert a == run.sample("ga_reports", 7)
    assert sorted(a) == sorted(run.WORKLOADS["ga_reports"][0])
    others = [run.sample("ga_reports", s) for s in range(8, 12)]
    assert all(o != a for o in others)
    assert run.sample("ga_reports", 7, 3) == a[:3]
    assert any(run.sample("ga_reports", s, 3) != a[:3] for s in range(8, 12))


def test_workloads_name_registered_queries_of_their_families():
    sys.path.insert(0, ROOT)
    from google_analytics_dataframes_spark.registry import registry

    reg = registry()
    ga = {"rb", "h", "a", "f", "j", "w", "o", "u", "p", "sf", "dg", "ud"}
    for name, (queries, round_s, _) in run.WORKLOADS.items():
        assert set(queries) <= set(reg), name
        assert len(set(queries)) == len(queries) and round_s > 0
    assert {run.family(n) for n in run.WORKLOADS["ga_reports"][0]} <= ga
    assert {run.family(n) for n in run.WORKLOADS["llm_ingest"][0]} == {"l", "s", "st"}


def test_timed_rounds_fill_the_seconds_at_the_nominal_round_time():
    round_s = run.WORKLOADS["ga_reports"][1]
    assert run.timed_rounds("ga_reports", 3 * round_s) == 3
    assert run.timed_rounds("ga_reports", 0.1) == 1


def test_aqe_initial_plan_exchanges_are_not_counted():
    plan = """OverwriteByExpression NoopWrite
+- AdaptiveSparkPlan isFinalPlan=true
   +- == Final Plan ==
      ResultQueryStage 1
      +- ShuffleQueryStage 0
         +- Exchange hashpartitioning(k#1L, 200), ENSURE_REQUIREMENTS
   +- == Initial Plan ==
      HashAggregate(keys=[k#1L])
      +- Exchange hashpartitioning(k#1L, 200), ENSURE_REQUIREMENTS"""
    assert tr.count_exchanges(plan) == 1


def test_tail_is_highest_percentile_with_ten_beyond():
    v, pct, n = run.tail([float(i) for i in range(1, 41)])
    assert (v, pct, n) == (30.0, 75.0, 40)
    assert run.tail([1.0, 5.0, 2.0])[0] == 5.0


def test_perturbed_answer_raises_failed_frac():
    check = run.load_check_module()
    truth = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    q = SimpleNamespace(name="q1", oracle="SELECT 1")
    reg = {"q1": q, "r1": SimpleNamespace(name="r1", oracle=None)}
    answers = SimpleNamespace(get=lambda _q: truth)
    cold, warm = {"q1": 1.0, "r1": 1.0}, {"q1": [0.5, 0.5], "r1": [0.5]}

    ok = run.check_answers(reg, {"q1": truth.copy(), "r1": truth}, answers, check.compare)
    assert ok == {}
    m, attempted, failed = run.end_to_end(1.0, cold, warm, {}, ok, 100.0)
    assert (m["failed_frac"], attempted, failed) == (0.0, 5, 0)

    bad_frame = truth.assign(v=[0.5, 1.5000001])
    bad = run.check_answers(reg, {"q1": bad_frame, "r1": truth}, answers, check.compare)
    assert list(bad) == ["q1"]
    m, attempted, failed = run.end_to_end(1.0, cold, warm, {}, bad, 100.0)
    assert failed == 3 and m["failed_frac"] == pytest.approx(3 / 5)
    m, attempted, failed = run.end_to_end(1.0, cold, warm, {}, ok, 100.0, skipped=5)
    assert (attempted, failed) == (10, 5) and m["failed_frac"] == 0.5
    raised = run.check_answers(reg, {"q1": truth, "r1": "RuntimeError: boom"}, answers, check.compare)
    assert list(raised) == ["r1"]


def test_self_time_subtracts_child_union():
    spans = [
        [1, "action.q", 0.0, 10.0, None, 1],
        [2, "queries.build", 1.0, 4.0, 1, 1],
        [3, "io.load_table", 2.0, 3.0, 2, 1],
        [4, "exec.write", 3.5, 9.0, 1, 1],
    ]
    st = tr.self_times(spans)
    assert st == {1: pytest.approx(10 - 8.0), 2: pytest.approx(2.0), 3: 1.0, 4: pytest.approx(5.5)}


# -- benchmark runs on sf0.001 --------------------------------------------------

def _run(workload: str, seed: int, trace: int, sample: int | None) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
    if sample is not None:
        cmd += ["--sample", str(sample)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


@pytest.fixture(scope="module")
def untraced():
    return _run("ga_reports", 1, 0, 2)


@pytest.fixture(scope="module")
def traced_stream():
    return _run("llm_ingest", 1, 1, None)


@pytest.fixture(scope="module")
def traced_reports():
    seed = next(s for s in range(1000) if "rb6_channel_having" in run.sample("ga_reports", s, 2))
    return _run("ga_reports", seed, 1, 2)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_end_to_end_metric_prints_with_unit(untraced):
    summary, last = untraced
    assert {k: v["unit"] for k, v in summary["metrics"].items()} == END_TO_END_UNITS
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0 and last["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    for field in ("cpus", "master", "spark.sql.shuffle.partitions", "pyspark", "duckdb", "java",
                  "load1_before", "seed", "dataset_fingerprint"):
        assert field in summary
    setups = summary["setup_samples_s"]
    assert len(setups) == run.SETUPS
    assert summary["metrics"]["setup_s"]["value"] == sorted(setups)[len(setups) // 2]
    assert summary["deadline_hit"] is False


def test_traced_run_emits_every_layer_metric(traced_stream, traced_reports):
    for summary, last in (traced_stream, traced_reports):
        assert last["correct"] is True
        assert set(PER_LAYER) <= set(summary["layers"])
        want = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
        assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    stream = traced_stream[0]["layers"]
    assert stream["streaming.batches"] > 0 and stream["streaming.run_s"] > 0
    assert traced_stream[0]["metrics"]["microbatch_p50_s"]["unit"] == "s"
    reports = traced_reports[0]["layers"]
    assert reports["report.calls"] > 0
    assert reports["catalyst.optimization_s"] > 0 and reports["catalyst.planning_s"] > 0


def _detail(summary):
    with open(os.path.join(ROOT, summary["result_file"])) as f:
        return json.load(f)


def test_spans_nest_and_self_times_are_not_negative(traced_stream, traced_reports):
    for summary, _ in (traced_stream, traced_reports):
        d = _detail(summary)
        spans = [s for s in d["spans"] if s[tr.END] is not None]
        by_id = {s[tr.ID]: s for s in spans}
        for s in spans:
            if s[tr.PARENT] is None:
                continue
            p = by_id[s[tr.PARENT]]
            assert p[tr.START] <= s[tr.START] <= s[tr.END] <= p[tr.END], (p, s)
            assert p[tr.ACTION] == s[tr.ACTION]
        assert min(tr.self_times(spans).values()) >= 0
        assert 0 <= summary["layers"]["trace.unattributed_frac"] < 1


def test_build_plus_write_jobs_equal_group_jobs(traced_stream, traced_reports):
    for summary, _ in (traced_stream, traced_reports):
        execs = _detail(summary)["executions"]
        assert execs
        for e in execs:
            assert sorted(e["build_jobs"] + e["write_jobs"]) == sorted(e["group_jobs"])
            assert e["write_jobs"], e["query"]  # the noop write always runs a job
    assert any(e["build_jobs"] for e in _detail(traced_stream[0])["executions"])
