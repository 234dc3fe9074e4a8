#!/usr/bin/env python3
"""The repository benchmark: one seeded workload, measured end to end, or
traced layer by layer.

    python3 perfbench/run.py --workload ga_reports --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout.  One run is one fresh process with one
client that issues registered queries one after another (a closed loop) on
``local[<cpus>]``:

1. Data preparation, outside every measurement: the workload's tables are
   generated into ``perfbench/.state/data`` once per construction
   (:mod:`datagen`).
2. Set-up (``setup_s``): SparkSession start through the program's own
   factory, registry import and one global warm-up action.  It is done
   ``SETUPS`` times, twice in short-lived child processes and once in the
   run's own process, and the median is reported.
3. The workload is a fixed list of registered queries; the seed picks
   their order (:func:`sample`).  Each query gets one cold execution
   (``cold_query_p50_s``) and one answer-check collection, untimed.
4. The timed rounds: whole rounds in the same order, as many as fill
   ``--seconds`` at the workload's nominal round time, so every run of a
   workload does the same work.  The answer-check collection is each
   query's second, untimed execution; there is no time for a warm-up
   round.  A timed execution is ``fn(spark, dataset_dir)`` plus a ``noop``
   write.  Work not started because the run reached its deadline counts as
   failed, and the run as not correct.
5. Every answer is checked after the loop: O-tier queries must equal their
   DuckDB oracle exactly (``tools/check.py``'s comparison), R/D-tier ones
   must not raise.  Oracle answers are cached per (query, dataset
   fingerprint) under ``perfbench/.state/answers``.

With ``--trace 1`` the same seed runs with every layer module's public
functions wrapped (:mod:`tracing`), one job group per execution, and Spark's
status store read after each execution; the last line then carries the
per-layer metrics.  Per-run detail (latencies, spans, per-execution
counters) goes to ``perfbench/.state/results``.

Each run writes only under ``perfbench/.state``: scratch, temp, Spark local
dirs and the warehouse live in a per-process directory that is emptied at
start and removed at exit, so no run is sped up by files an earlier run
left.  The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is the full
result with its environment stamp.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from statistics import median

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import tracing as tr  # noqa: E402

#: name -> (queries, nominal seconds of one warm round over them, why).
#: Each list is fixed so that every run of a workload does the same work;
#: the seed only orders it.  A seeded draw from the whole families was
#: tried first: even with cost-balanced draws, throughput spread 0.27-0.31
#: over ten seeds; a fixed list takes the draw's share out of that.  The
#: lists keep a few rows whose cold execution is short:
#: with its three set-ups a run must fit about a minute.
WORKLOADS: dict[str, tuple[tuple[str, ...], float, str]] = {
    "ga_reports": (
        ("rb6_channel_having", "h6_forecast_revenue", "a14_percentiles", "f3_range_date",
         "w3_lag_lead"),
        1.5,
        "GA-report and relational rows at sf0.1: sub-second, so per-query fixed "
        "cost (plan build, report(), Catalyst, job scheduling, load_table memo) dominates",
    ),
    "llm_ingest": (
        ("l22_hash_split", "l81_ann_ivf_stored", "s22_catalog_ctas", "st15_stream_content_dedup"),
        3.5,
        "LLM-corpus operator, stream and source/sink rows at sf0.1: data work, "
        "eager checkpoints, microbatches, state and sink writes",
    ),
}

SF = 0.1
#: A run must end within 180 s; stop starting work after this many.
DEADLINE_S = 150.0
#: Set-ups per run; setup_s is their median.
SETUPS = 3
UNITS = {
    "setup_s": "s", "queries_per_s": "1/s", "query_p50_s": "s", "query_tail_s": "s",
    "cold_query_p50_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
    "microbatch_p50_s": "s", "microbatch_tail_s": "s",
}


def family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


def sample(workload: str, seed: int, size: int | None = None) -> list[str]:
    """The workload's queries in the seed's order; ``size`` keeps the first
    that many (the benchmark's own tests use it)."""
    names = list(WORKLOADS[workload][0])
    random.Random(f"{workload}:{seed}").shuffle(names)
    return names[:size] if size is not None else names


def timed_rounds(workload: str, seconds: float) -> int:
    """Timed rounds that fill ``seconds`` at the workload's nominal round
    time, at least one; the count does not depend on how fast a run goes."""
    return max(1, round(seconds / WORKLOADS[workload][1]))


def tail(values: list[float]) -> tuple[float, float | None, int]:
    """Value at the highest percentile with at least ten samples beyond it,
    that percentile, and the sample count (the maximum, with no percentile,
    when there are ten samples or fewer)."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return (v[-1] if v else 0.0), None, n
    rank = n - 10
    return v[rank - 1], 100.0 * rank / n, n


def end_to_end(setup_s: float, cold: dict, warm: dict, failures: dict, wrong: dict,
               peak_rss_mb: float, skipped: int = 0) -> tuple[dict, int, int]:
    """End-to-end metrics, executions attempted and executions failed.

    ``cold`` maps each query to its first execution's seconds, ``warm`` to
    its timed executions' seconds; ``failures`` holds one entry per
    execution that raised and ``wrong`` the queries whose answer is wrong,
    all of whose executions count as failed.  ``skipped`` executions were
    due but never started (the run reached its deadline); each counts as
    attempted and failed."""
    all_warm = [s for v in warm.values() for s in v]
    attempted = max(len(cold) + len(failures) + len(all_warm) + skipped, 1)
    failed = len(failures) + sum(1 + len(warm.get(n, [])) for n in wrong if n in cold) + skipped
    ok_warm = [s for n, v in warm.items() if n not in wrong for s in v]
    m = {
        "setup_s": setup_s,
        "queries_per_s": len(ok_warm) / sum(ok_warm) if ok_warm else 0.0,
        "query_p50_s": median(all_warm) if all_warm else 0.0,
        "query_tail_s": tail(all_warm)[0],
        "cold_query_p50_s": median(cold.values()) if cold else 0.0,
        "failed_frac": failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }
    return m, attempted, failed


def loadavg() -> float | None:
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError):
        return None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root``, from one /proc scan."""
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class TreeMemory:
    """Peak resident memory of the driver, the JVM and the Python workers:
    the driver's and the JVM's VmHWM plus the largest sum of the workers'
    VmRSS seen by a once-a-second sampler (workers come and go)."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        while not self._stop.wait(1.0):
            kb = sum(_status_kb(p, "VmRSS") for p in descendants(self.jvm_pid))
            self.workers_peak_kb = max(self.workers_peak_kb, kb)

    def peak_mb(self) -> float:
        self._stop.set()
        self._thread.join()
        kb = _status_kb(os.getpid(), "VmHWM") + _status_kb(self.jvm_pid, "VmHWM")
        return (kb + self.workers_peak_kb) / 1024.0


def load_check_module():
    """``tools/check.py`` of this checkout, for its ``compare``; the
    ``sys.path`` entry it adds at import is taken back out."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("_repo_check", os.path.join(ROOT, "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod


class Answers:
    """DuckDB oracle answers, cached on disk per (query, dataset
    fingerprint): they do not depend on the program."""

    def __init__(self, data_dir: str, fingerprint: str) -> None:
        self.data_dir = data_dir
        self.cache = os.path.join(STATE, "answers", fingerprint)
        self._con = None

    def _connect(self):
        import duckdb

        con = duckdb.connect()
        for t in datagen.TABLES:
            path = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.isdir(path):
                path += "/*.parquet"
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def get(self, q):
        import pandas as pd

        path = os.path.join(self.cache, f"{q.name}.pkl")
        if os.path.exists(path):
            return pd.read_pickle(path)  # written by this class only
        if self._con is None:
            self._con = self._connect()
        df = self._con.execute(q.oracle_for(self.data_dir)).fetchdf()
        os.makedirs(self.cache, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        df.to_pickle(tmp)
        os.replace(tmp, path)
        return df

    def close(self) -> None:
        if self._con is not None:
            self._con.close()


def check_answers(reg, results: dict, answers: Answers, compare) -> dict[str, list[str]]:
    """Query name -> problems, for every sampled query whose collected
    answer is wrong.  ``results`` maps names to pandas frames, or to the
    exception text when the collection raised."""
    bad: dict[str, list[str]] = {}
    for name, got in results.items():
        if isinstance(got, str):
            bad[name] = [f"raised: {got}"]
            continue
        q = reg[name]
        if q.oracle is None:  # R/D tier: counts as failed only if it raised
            continue
        try:
            problems = compare(name, got, answers.get(q))
        except Exception as e:  # the oracle itself failed: report, never pass
            problems = [f"oracle raised: {e!r}"]
        if problems:
            bad[name] = problems
    return bad


def prepare_run_dir() -> str:
    """A fresh per-process directory for scratch, temp, Spark local dirs and
    the warehouse; directories of dead earlier runs are removed."""
    base = os.path.join(STATE, "run")
    os.makedirs(base, exist_ok=True)
    for entry in os.listdir(base):
        if entry.isdigit() and entry != str(os.getpid()):
            try:
                os.kill(int(entry), 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
            except OSError:
                pass
    run_dir = os.path.join(base, str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("scratch", "tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


class Run:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.traced = bool(args.trace)
        self.tracer = tr.Tracer() if self.traced else None
        self.action: int | None = None
        self.seq = 0
        self.spark = None
        self.progress = None
        self.plans = None
        self.run_dir = None
        self.actions: list[dict] = []  # per traced execution counters

    # -- one execution -----------------------------------------------------
    def execute(self, name: str, phase: str, measure: bool):
        """fn(spark, dataset_dir) plus a noop write; returns (df, seconds)."""
        spark, t = self.spark, self.tracer
        self.seq += 1
        aid = self.seq
        self.action = aid
        traced = t is not None and t.enabled
        if traced:
            spark.sparkContext.setJobGroup(f"pb{aid}", name)
            root = t.begin_action(aid, name)
        fn = self.reg[name].fn
        t_epoch = time.time()
        try:
            t0 = time.perf_counter()
            if traced:
                with t.span("queries.build"):
                    df = fn(spark, self.data_dir)
                w_ms = time.time() * 1e3
                t1 = time.perf_counter()
                with t.span("exec.write"):
                    df.write.format("noop").mode("overwrite").save()
            else:
                df = fn(spark, self.data_dir)
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
        finally:
            if traced:
                t.end_action(root)
            self.action = None
        if traced and measure:
            self.record(aid, name, phase, df, t2 - t0, t1 - t0, w_ms, t_epoch, t_epoch - t0)
        return df, t2 - t0

    def shutdown(self) -> None:
        """Stop Spark and every process it started, once."""
        if self.spark is not None:
            spark, self.spark = self.spark, None
            stop_spark(spark)

    def record(self, aid, name, phase, df, wall, build, w_ms, t_epoch, epoch_minus_perf) -> None:
        spark = self.spark
        tr.drain(spark)
        groups = [f"pb{aid}"] + self.progress.run_ids(aid) if self.progress else [f"pb{aid}"]
        jobs = tr.group_jobs(spark, groups)
        rec = {"action": aid, "query": name, "phase": phase, "wall_s": wall, "build_s": build,
               "group_jobs": jobs, "epoch_minus_perf": epoch_minus_perf}
        rec.update(tr.job_stats(spark, jobs, w_ms))
        rec.update(tr.catalyst_stats(df, self.plans.last_write()))
        rec["scratch_bytes"] = sum(
            tr.tree_bytes_since(os.path.join(self.run_dir, d), t_epoch) for d in ("scratch", "tmp")
        )
        rec["warehouse_bytes"] = tr.tree_bytes_since(os.path.join(self.run_dir, "cwd"), t_epoch)
        self.actions.append(rec)

    # -- set-up --------------------------------------------------------------
    def prepare(self) -> None:
        """Data preparation and the process's environment, outside every
        measurement: the tables, a fresh run directory, and temp, scratch,
        Spark local dirs and the warehouse pointed into it."""
        args = self.args
        self.data_dir = os.path.join(STATE, "data", f"sf{args.sf}")
        self.marker = datagen.build(self.data_dir, args.sf)
        self.run_dir = run_dir = prepare_run_dir()
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"--driver-java-options '-Djava.io.tmpdir={run_dir}/tmp -XX:-UsePerfData' pyspark-shell"
        )
        tempfile.tempdir = os.path.join(run_dir, "tmp")
        os.chdir(os.path.join(run_dir, "cwd"))  # spark-warehouse lands here
        sys.path.insert(0, ROOT)

    def setup(self) -> float:
        """SparkSession start, registry import and one global warm-up
        action; returns its seconds."""
        t0 = time.perf_counter()
        from google_analytics_dataframes_spark import session

        if self.tracer:
            self.tracer.install(("session",))
        spark = self.spark = session.get_spark(app_name=f"perfbench-{self.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        from google_analytics_dataframes_spark import io as pio
        from google_analytics_dataframes_spark.registry import registry

        self.reg = registry()
        pio._SCRATCH_BASE = os.path.join(self.run_dir, "scratch")
        if self.tracer:
            self.tracer.install()
        spark.range(1).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # -- the whole run -----------------------------------------------------
    def main(self) -> dict:
        args = self.args
        t_start = time.perf_counter()
        load1 = loadavg()
        cpus = len(os.sched_getaffinity(0))
        setups = [child_setup(args) for _ in range(SETUPS - 1)]
        self.prepare()
        check = load_check_module()
        setups.append(self.setup())
        spark = self.spark

        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        memory = TreeMemory(jvm_pid)
        names = sample(self.workload, args.seed, args.sample)
        n_timed = timed_rounds(self.workload, args.seconds)
        if "st" in {family(n) for n in names} or self.traced:
            self.progress = tr.make_progress_log(lambda: self.action)
            spark.streams.addListener(self.progress)
        if self.traced:
            self.plans = tr.make_plan_log(spark)

        failures: dict[str, str] = {}
        cold: dict[str, float] = {}
        collected: dict = {}
        skipped = 0
        for i, name in enumerate(names):
            if time.perf_counter() - t_start > DEADLINE_S * 0.8:
                # each query not run would have had a cold and n_timed
                # timed executions
                skipped += (len(names) - i) * (1 + n_timed)
                break
            try:
                df, sec = self.execute(name, "cold", measure=True)
                cold[name] = sec
            except Exception as e:
                failures[name] = f"{type(e).__name__}: {str(e)[:300]}"
                continue
            if self.tracer:
                self.tracer.enabled = False
                spark.sparkContext.setJobGroup("pb-check", "answer check")
            try:
                collected[name] = df.toPandas()
            except Exception as e:
                collected[name] = f"{type(e).__name__}: {str(e)[:300]}"
            if self.tracer:
                self.tracer.enabled = True
            del df
        gc.collect()

        warm: dict[str, list[float]] = {n: [] for n in cold}
        # Traced runs trace the first timed round, which feeds the layer
        # metrics, and add two rounds that trace every other execution,
        # swapping which ones, to measure the tracing overhead.
        n_rounds = n_timed + (2 if self.tracer else 0)
        paired: dict[str, dict[bool, list[float]]] = {n: {True: [], False: []} for n in cold}
        warm_actions: set[int] = set()
        timed = 0.0
        live = list(cold)
        for rnd in range(n_rounds):
            is_timed = rnd < n_timed
            if time.perf_counter() - t_start > DEADLINE_S:
                skipped += max(0, n_timed - rnd) * len(live)
                break
            for i, name in enumerate(list(live)):
                if self.tracer:
                    self.tracer.enabled = rnd == 0 or (rnd >= n_timed and (i + rnd) % 2 == 1)
                try:
                    _, sec = self.execute(name, "warm", measure=rnd == 0)
                except Exception as e:
                    failures[name] = f"{type(e).__name__}: {str(e)[:300]}"
                    live.remove(name)
                    continue
                if is_timed:
                    warm[name].append(sec)
                    warm_actions.add(self.seq)
                    timed += sec
                else:
                    paired[name][self.tracer.enabled].append(sec)
            gc.collect()
        if self.tracer:
            self.tracer.enabled = False

        tr.drain(spark)
        peak_rss = memory.peak_mb()
        env = {
            "cpus": cpus,
            "master": spark.sparkContext.master,
            "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": __import__("pyspark").__version__,
            "duckdb": __import__("duckdb").__version__,
            "java": str(spark._jvm.java.lang.System.getProperty("java.version")),
            "load1_before": load1,
            "seed": args.seed,
            "dataset": os.path.relpath(self.data_dir, ROOT),
            "dataset_fingerprint": self.marker["fingerprint"],
        }
        measured = {a["action"] for a in self.actions}
        batches = self.progress.batches(measured) if self.progress else []
        warm_batches = self.progress.batches(warm_actions) if self.progress else []
        self.shutdown()

        answers = Answers(self.data_dir, self.marker["fingerprint"])
        try:
            wrong = check_answers(self.reg, collected, answers, check.compare)
        finally:
            answers.close()

        m, attempted, failed_exec = end_to_end(
            median(setups), cold, warm, failures, wrong, peak_rss, skipped
        )
        _, tail_pct, tail_n = tail([s for v in warm.values() for s in v])
        mb = [b["duration_ms"].get("triggerExecution", 0) / 1e3 for b in warm_batches]
        if mb:
            m["microbatch_p50_s"] = median(mb)
            m["microbatch_tail_s"] = tail(mb)[0]
        result = {
            "workload": self.workload,
            "trace": int(self.traced),
            **env,
            "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in m.items()},
            "setup_samples_s": setups,
            "query_tail_percentile": tail_pct,
            "query_tail_samples": tail_n,
            "microbatch_samples": len(mb),
            "microbatch_tail_percentile": tail(mb)[1] if mb else None,
            "sample": names,
            "timed_rounds": n_timed,
            "timed_s": timed,
            "deadline_hit": skipped > 0,
            "skipped_executions": skipped,
            "cold_s": cold,
            "warm_s": warm,
            "failures": failures,
            "wrong_answers": wrong,
            "attempted": attempted,
            "failed": failed_exec,
        }
        if self.tracer:
            result["layers"] = layer_metrics(self, cpus, batches)
            result["layers"].update(overhead(paired))
        return result


def child_setup(args) -> float:
    """One set-up in a fresh child process (``--setup-only``); its seconds."""
    cmd = [sys.executable, os.path.abspath(__file__), "--setup-only", "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", "0", "--sf", str(args.sf)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=120)
    if p.returncode != 0:
        raise RuntimeError(f"set-up in a child process failed: {p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])["setup_s"]


def layer_metrics(run: Run, cpus: int, batches: list[dict]) -> dict:
    """Per-layer metrics over set-up, the cold pass and the first timed
    round, which is the same work for the same seed."""
    t = run.tracer
    measured = {a["action"] for a in run.actions}
    spans = [s for s in t.spans if s[tr.END] is not None]
    # set-up (no action) plus the measured executions
    in_run = [s for s in spans if s[tr.ACTION] in measured or s[tr.ACTION] is None]
    st = tr.self_times(spans)
    ev = [k for a, k in t.events if a in measured]
    lt_calls = ev.count("load_table_hit") + ev.count("load_table_miss")

    def total(ss):
        return sum(s[tr.END] - s[tr.START] for s in ss)

    def named(ss, name):
        return [s for s in ss if s[tr.NAME] == name]

    acts = run.actions
    agg = {k: sum(a[k] for a in acts) for k in (
        "wall_s", "build_s", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
        "gc_s", "failed_tasks", "analysis_s", "optimization_s", "planning_s",
        "exchanges", "scratch_bytes", "warehouse_bytes")}
    skews = [x for a in acts for x in a["skews"]]
    out = {
        "session.start_s": total(named(in_run, "session.get_spark")),
        "session.configure_calls": len(named(in_run, "session.configure")),
        "session.configure_s": total(named(in_run, "session.configure")),
        "queries.build_s": agg["build_s"],
        "queries.build_jobs": sum(len(a["build_jobs"]) for a in acts),
        "io.load_table_calls": lt_calls,
        "io.load_table_hit_ratio": ev.count("load_table_hit") / lt_calls if lt_calls else 0.0,
        "io.load_table_s": total(named(in_run, "io.load_table")),
        "io.staged_dir_builds": ev.count("staged_dir_build"),
        "io.staged_dir_s": total(named(in_run, "io.staged_dir")),
        "io.scratch_bytes_written": agg["scratch_bytes"],
        "report.calls": len(tr.outermost(in_run, "report", tr.REPORT_FNS)),
        "report.s": total(tr.outermost(in_run, "report", tr.REPORT_FNS)),
        "sources.ga_api.s": total(tr.outermost(in_run, "sources.ga_api")),
        "sources.bucketed.calls": len(tr.outermost(in_run, "sources.bucketed")),
        "sources.bucketed.s": total(tr.outermost(in_run, "sources.bucketed")),
        "sources.bucketed.warehouse_bytes_written": agg["warehouse_bytes"],
        "streaming.run_s": total(tr.outermost(in_run, "streaming")),
    }
    for mod in ("dedup", "similarity", "text", "multimodal", "sampling"):
        ss = tr.outermost(in_run, f"operators.{mod}")
        out[f"operators.{mod}.calls"] = len(ss)
        out[f"operators.{mod}.s"] = total(ss)
    out.update({
        "catalyst.analysis_s": agg["analysis_s"],
        "catalyst.optimization_s": agg["optimization_s"],
        "catalyst.planning_s": agg["planning_s"],
        "catalyst.exchanges": agg["exchanges"],
        "exec.wall_s": agg["wall_s"],
        "exec.jobs": sum(len(a["group_jobs"]) for a in acts),
        "exec.write_jobs": sum(len(a["write_jobs"]) for a in acts),
        "exec.stages": agg["stages"],
        "exec.tasks": agg["tasks"],
        "exec.idle_frac": 1 - agg["executor_run_s"] / (agg["wall_s"] * cpus) if agg["wall_s"] else 0.0,
        "exec.executor_run_s": agg["executor_run_s"],
        "exec.executor_cpu_s": agg["executor_cpu_s"],
        "exec.input_bytes": agg["input_bytes"],
        "exec.shuffle_read_bytes": agg["shuffle_read_bytes"],
        "exec.shuffle_write_bytes": agg["shuffle_write_bytes"],
        "exec.spill_bytes": agg["spill_bytes"],
        "exec.task_skew": median(skews) if skews else 1.0,
        "exec.gc_s": agg["gc_s"],
        "exec.failed_tasks": agg["failed_tasks"],
    })
    out.update(tr.streaming_metrics(batches))
    # A query's wall time that neither a program-layer span nor a Spark job
    # of its group covers: the queries modules' own code outside the layer
    # modules, driver work in the write outside any job, and the Python and
    # Py4J overhead around them.
    roots = [s for s in in_run if s[tr.NAME].startswith("action.")]
    recs = {a["action"]: a for a in acts}
    covered: dict[int, list] = {}
    for s in in_run:
        if s[tr.ACTION] is not None and tr.layer_of(s[tr.NAME]) in tr.LAYER_MODULES:
            covered.setdefault(s[tr.ACTION], []).append((s[tr.START], s[tr.END]))
    gaps = {}
    for r in roots:
        rec = recs[r[tr.ACTION]]
        off = rec["epoch_minus_perf"]
        iv = covered.get(r[tr.ACTION], []) + [
            (a / 1e3 - off, b / 1e3 - off) for a, b in rec["job_spans_ms"]
        ]
        iv = [(max(a, r[tr.START]), min(b, r[tr.END])) for a, b in iv]
        gaps[r[tr.ID]] = (r[tr.END] - r[tr.START]) - tr.union_s([x for x in iv if x[1] > x[0]])
    wall = total(roots)
    out["trace.unattributed_frac"] = sum(gaps.values()) / wall if wall else 0.0
    run.unattributed_by_query = {}
    for r in roots:
        q = r[tr.NAME].removeprefix("action.")
        w, g = run.unattributed_by_query.get(q, (0.0, 0.0))
        run.unattributed_by_query[q] = (w + r[tr.END] - r[tr.START], g + gaps[r[tr.ID]])
    run.unattributed_by_query = {q: g / w for q, (w, g) in run.unattributed_by_query.items() if w}
    out["trace.spans"] = len(spans)
    out["trace.min_self_s"] = min(st.values()) if st else 0.0
    run.layer_self_s = {}
    for s in spans:
        layer = tr.layer_of(s[tr.NAME])
        run.layer_self_s[layer] = run.layer_self_s.get(layer, 0.0) + st[s[tr.ID]]
    return out


def overhead(paired: dict[str, dict[bool, list[float]]]) -> dict:
    """Tracing overhead from the two rounds after the timed ones, where each
    query ran once traced and once untraced, in alternating order across
    queries so the warm-up trend cancels: mean per-query difference."""
    pairs = [(v[True][0], v[False][0]) for v in paired.values() if v[True] and v[False]]
    if not pairs:
        return {"trace.overhead_s": 0.0, "trace.overhead_frac": 0.0}
    diff = sum(t - u for t, u in pairs)
    return {"trace.overhead_s": diff / len(pairs),
            "trace.overhead_frac": diff / sum(u for _, u in pairs)}


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until every process it started
    (Python workers included) has exited."""
    from pyspark import SparkContext

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(os.getpid())
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 20
    for pid in kids:
        while _alive(pid) and time.time() < deadline:
            time.sleep(0.1)
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def final_line(result: dict, metric_names: list[str]) -> dict:
    values = dict(result["metrics"])
    for k, v in result.get("layers", {}).items():
        values.setdefault(k, {"value": v, "unit": layer_unit(k)})
    return {
        "correct": not (result["wrong_answers"] or result["failures"] or result["deadline_hit"]),
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {k: values[k] for k in metric_names},
    }


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or name.endswith("bytes_written"):
        return "bytes"
    if name.endswith(("_frac", "_ratio", "skew")):
        return "ratio"
    return "count"


def benchmark_metrics(trace: bool) -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="timed time to measure")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=SF, choices=sorted(datagen.COUNTS),
                    help="dataset scale (0.001 only for the benchmark's own tests)")
    ap.add_argument("--sample", type=int, help="queries per run (default: the workload's)")
    ap.add_argument("--setup-only", action="store_true",
                    help="only set up, print its seconds and exit (one of a run's set-ups)")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "google_analytics_dataframes_spark")):
        print(f"program package not found under {ROOT}", file=sys.stderr)
        return 2
    run = Run(args)
    cwd = os.getcwd()
    if args.setup_only:
        try:
            run.prepare()
            print(json.dumps({"setup_s": run.setup()}))
        finally:
            run.shutdown()
            os.chdir(cwd)
            if run.run_dir:
                shutil.rmtree(run.run_dir, ignore_errors=True)
        return 0
    metric_names = benchmark_metrics(bool(args.trace))
    try:
        result = run.main()
    finally:
        run.shutdown()
        os.chdir(cwd)
        if run.run_dir:
            shutil.rmtree(run.run_dir, ignore_errors=True)
    results_dir = os.path.join(STATE, "results")
    os.makedirs(results_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}-{os.getpid()}"
    detail = dict(result)
    if run.tracer:
        detail["layer_self_s"] = run.layer_self_s
        detail["unattributed_frac_by_query"] = run.unattributed_by_query
        detail["executions"] = run.actions
        detail["spans"] = run.tracer.spans
    path = os.path.join(results_dir, stem + ".json")
    with open(path, "w") as f:
        json.dump(detail, f, default=str)
    for name, problems in result["wrong_answers"].items():
        print(f"WRONG ANSWER {name}: {'; '.join(problems)}", file=sys.stderr)
    for name, err in result["failures"].items():
        print(f"FAILED {name}: {err}", file=sys.stderr)
    if result["deadline_hit"]:
        print(f"DEADLINE: {result['skipped_executions']} executions not started, counted as failed",
              file=sys.stderr)
    summary = {k: v for k, v in result.items() if k not in ("cold_s", "warm_s")}
    summary["result_file"] = os.path.relpath(path, ROOT)
    print(json.dumps(summary, default=str))
    print(json.dumps(final_line(result, metric_names)))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
