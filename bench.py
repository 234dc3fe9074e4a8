#!/usr/bin/env python
"""Benchmark harness (BASELINE.md protocol): run every registered query at
$SPARK_GRAFT_SF_DIR (default: io.DEFAULT_SF_DIR, the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS], write BENCH_DETAIL.json and print ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {name: sec, ...}, "cpus": 4, "master": "local[4]",
     "sf_dir": "/path/to/sf0.1", ...}

Each row gets one untimed warm-up execution (its own codegen, parquet
footer reads and shared materialisations; kept as "cold_queries"), then one
timed execution: ``fn()`` plus a ``noop`` write, so the whole plan runs and
the rows are discarded JVM-side.

After each timed execution, outside the timing, the row's layer profile is
read from Spark's own counters through ``perfbench/tracing.py``'s readers:
the timed execution runs under its own job group, and the profile holds its
jobs, stages, tasks, executor run and CPU seconds, input, shuffle and spill
bytes, GC seconds, median task skew, the Catalyst phases and exchanges of
the write's QueryExecution, and for rows that run streams the microbatch
phases of their progress events.

The artifact classifies its own window (``window.class``):

* "quiet": the 1-min load average before the JVM starts is at most 25% of
  the cpus, a second timed pass over the swell-prone subset (every ``st*``
  row plus the 8 slowest other rows) reproduces that subset's total within
  25%, the fixed ``a1_groupby_sum`` canary re-timed every 30 rows has no
  excursion, and at most 3 rows, none 3 in a row, ran > 2.5x their
  reference and > 0.3 s above it;
* "loaded": the pre-JVM load is above that cap;
* "unstable": low ambient load, but one of the other tests failed;
* "unknown": /proc/loadavg is unreadable.

A row's reference is its time in the previous BENCH_DETAIL.json, used only
when that run banded quiet on the same resolved dataset path, cpu count and
master; otherwise no row is judged.
"""

from __future__ import annotations

import gc
import importlib.util
import json
import os
import re
import sys
import time
from statistics import median

REPO_DIR = os.path.dirname(os.path.abspath(__file__))
DETAIL_PATH = os.path.join(REPO_DIR, "BENCH_DETAIL.json")
sys.path.insert(0, REPO_DIR)


def _load_tracing():
    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(REPO_DIR, "perfbench", "tracing.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


tracing = _load_tracing()


class RowProfiler:
    """Times one execution and reads its layer profile afterwards.  The
    plan listener and the progress listener stay registered on ``spark``
    until :meth:`close`."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.group: str | None = None
        self.seq = 0
        self.read_s = 0.0  # wall time spent reading profiles, outside timing
        self.plans = tracing.make_plan_log(spark)
        listeners = spark._jsparkSession.listenerManager().listListeners()
        self._jplans = listeners[len(listeners) - 1]
        self.progress = tracing.make_progress_log(lambda: self.group)
        spark.streams.addListener(self.progress)

    def close(self) -> None:
        self.spark.streams.removeListener(self.progress)
        self.spark._jsparkSession.listenerManager().unregister(self._jplans)

    def run(self, name: str, build) -> tuple[float, dict]:
        """Time ``build()`` plus a noop write under a job group of its own;
        return the seconds and the profile."""
        sc = self.spark.sparkContext
        self.seq += 1
        self.group = group = f"bench{self.seq}"
        self.plans.writes.clear()
        sc.setJobGroup(group, name)
        try:
            t0 = time.time()
            df = build()
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            sec = time.time() - t0
        finally:
            sc._jsc.clearJobGroup()
            self.group = None
        r0 = time.time()
        try:
            profile = self._read(group, df, t1, t1 - t0, name.startswith("st"))
        except Exception as e:  # a missing profile must not fail the row
            profile = {"error": f"{type(e).__name__}: {str(e)[:300]}"}
        self.read_s += time.time() - r0
        return sec, profile

    def _read(self, group, df, write_start: float, build_s: float, st: bool) -> dict:
        spark = self.spark
        tracing.drain(spark)
        run_ids = self.progress.run_ids(group)
        jobs = tracing.group_jobs(spark, [group] + run_ids)
        stats = tracing.job_stats(spark, jobs, write_start * 1e3)
        skews = stats.pop("skews")
        for k in ("build_jobs", "write_jobs", "job_spans_ms"):
            stats.pop(k)
        profile = {"build_s": build_s, "jobs": len(jobs), **stats,
                   "task_skew": median(skews) if skews else 1.0}
        profile.update(tracing.catalyst_stats(df, self.plans.last_write()))
        if run_ids or st:  # st1-st3 are stream-shaped batch plans: 0 batches
            profile.update(tracing.streaming_metrics(self.progress.batches({group})))
        return {k: round(v, 4) if isinstance(v, float) else v for k, v in profile.items()}


def judge_rows(times: dict[str, float], prev: dict | None, here: dict) -> dict:
    """Row-level anomaly stamp: a row is anomalous when it ran > 2.5x its
    reference AND > 0.3 s above it (the absolute guard keeps scheduler
    jitter on sub-100-ms rows off the list).  Also stamps the longest
    CONTIGUOUS anomalous block in suite order, the signature of a roving
    interference wave that misses every canary slot.

    The reference is ``prev`` (the previous artifact) only when it banded
    quiet on the same ``sf_dir``, ``cpus`` and ``master`` as ``here``;
    otherwise no row is judged."""
    ref = prov = None
    if (
        prev
        and (prev.get("window") or {}).get("class") == "quiet"
        and all(prev.get(k) == here[k] for k in ("sf_dir", "cpus", "master"))
    ):
        ref = prev.get("queries") or {}
        prov = {"file": os.path.basename(DETAIL_PATH), "total_sec": prev.get("value")}
    ordered = [n for n in sorted(times) if times[n] >= 0]
    anomalies: list[dict] = []
    longest_block = block = 0
    for name in ordered:
        r = ref.get(name) if ref else None
        sec = times[name]
        if r is not None and r > 0 and sec > 2.5 * r and sec - r > 0.3:
            anomalies.append(
                {"query": name, "sec": sec, "ref_sec": r, "ratio": round(sec / r, 2)}
            )
            block += 1
        else:
            block = 0
        longest_block = max(longest_block, block)
    return {
        "row_anomalies": anomalies,
        "row_anomaly_block": longest_block,
        "row_anomaly_reference": prov,
    }


def window_class(
    load1: float | None, cpus: int, stable: bool, canary_clean: bool, rows: dict
) -> str:
    """The window class from the pre-JVM 1-min load average, the repeat-pass
    and canary tests, and :func:`judge_rows`' stamp.  An unreadable
    /proc/loadavg is a missing measurement, not evidence of load."""
    if load1 is None:
        return "unknown"
    if load1 > 0.25 * cpus:
        return "loaded"
    rows_clean = len(rows["row_anomalies"]) <= 3 and rows["row_anomaly_block"] < 3
    return "quiet" if stable and canary_clean and rows_clean else "unstable"


def _loadavg() -> list[float] | None:
    """Host load averages (1/5/15 min).  /proc/loadavg is host-wide, so the
    1-min figure taken BEFORE the JVM starts is the ambient-noise signal."""
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except Exception:
        return None


def main() -> None:
    from google_analytics_dataframes_spark.io import DEFAULT_SF_DIR

    sf_dir = DEFAULT_SF_DIR
    load_before = _loadavg()  # before any Spark/JVM work
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0
    try:
        with open(DETAIL_PATH) as f:
            prev = json.load(f)
    except Exception:
        prev = None

    from google_analytics_dataframes_spark.registry import registry
    from google_analytics_dataframes_spark.session import get_spark

    # Engine versions, so the artifact names the PySpark/DuckDB builds it ran.
    import platform

    import duckdb
    import pyspark

    env = {
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
    }

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    # session confs that change plans or hash-relevant semantics
    for k in (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.execution.arrow.pyspark.enabled",
    ):
        try:
            env[k] = spark.conf.get(k)
        except Exception:
            env[k] = None
    here = {
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "sf_dir": os.path.realpath(sf_dir),
    }
    reg = registry()

    def execute(name: str) -> float:
        t0 = time.time()
        df = reg[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # untimed global warm-up: JVM, noop sink classes, parquet footers
    execute("a1_groupby_sum")

    # Mid-run canary: the pre-JVM loadavg and the end-of-suite repeat pass
    # bracket the window but sample nothing in the middle.  Re-timing ONE
    # fixed sub-second query (warm since the global warm-up) every
    # CANARY_EVERY rows turns that blind spot into a stamped series.
    CANARY_EVERY = 30
    canary_name = "a1_groupby_sum"
    canary: list[dict] = []

    def time_canary(after_n: int) -> None:
        try:
            canary.append(
                {"after_n": after_n, "sec": round(execute(canary_name), 3)}
            )
        except Exception as e:
            print(f"# bench canary error: {e}", file=sys.stderr)
        gc.collect()

    # one extra untimed execution first, so the canary's anchor point never
    # carries a residual first-timed-run cost
    execute(canary_name)
    time_canary(0)

    profiler = RowProfiler(spark)
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    profile: dict[str, dict] = {}
    for i, name in enumerate(sorted(reg)):
        try:
            cold[name] = round(execute(name), 3)  # untimed per-query warm-up (codegen)
            sec, profile[name] = profiler.run(name, lambda: reg[name].fn(spark, sf_dir))
            times[name] = round(sec, 3)
        except Exception as e:  # a failing query must not hide the rest
            times[name] = -1.0
            print(f"# bench error {name}: {e}", file=sys.stderr)
        # Release the finished query's py4j handles OUTSIDE the timed
        # window: the JVM side of a dropped DataFrame only becomes
        # ContextCleaner-reclaimable once the Python proxy is collected.
        # Without this, ~300 plans' probe persists/broadcasts accumulate
        # and later queries run at 2-5x their fresh-session cost
        # (BASELINE.md).
        gc.collect()
        if (i + 1) % CANARY_EVERY == 0:
            time_canary(i + 1)
    profiler.close()

    total = round(sum(t for t in times.values() if t >= 0), 3)
    load_mid = _loadavg()  # after the main pass, before the repeat pass

    # --- repeat pass over the swell-prone subset (window evidence) -------
    # The whole st family plus the 8 slowest non-st rows of pass 1:
    # identical plans, same process, minutes apart.  A clean window
    # reproduces the subset total; ambient noise shows up as a divergent
    # pass ratio with unchanged code.
    st_names = sorted(n for n, t in times.items() if n.startswith("st") and t >= 0)
    slow_non_st = [
        n
        for n, t in sorted(times.items(), key=lambda kv: -kv[1])
        if not n.startswith("st") and t >= 0
    ][:8]
    repeat_names = st_names + sorted(slow_non_st)
    repeat: dict[str, float] = {}
    for name in repeat_names:
        try:
            repeat[name] = round(execute(name), 3)
        except Exception as e:
            repeat[name] = -1.0
            print(f"# bench repeat error {name}: {e}", file=sys.stderr)
        gc.collect()
    load_after = _loadavg()

    # Pass totals compare ONLY rows timed successfully in BOTH series: a
    # query that errors in exactly one pass would otherwise skew the ratio.
    def _both(subset: list[str]) -> list[str]:
        return [
            n
            for n in subset
            if times.get(n, -1) >= 0 and repeat.get(n, -1) >= 0
        ]

    def _subset_total(subset: list[str], series: dict[str, float]) -> float:
        return round(sum(series[n] for n in subset), 3)

    st_common = _both(st_names)
    rep_common = _both(repeat_names)
    st_p1 = _subset_total(st_common, times)
    st_p2 = _subset_total(st_common, repeat)
    rep_p1 = _subset_total(rep_common, times)
    rep_p2 = _subset_total(rep_common, repeat)
    # Only the pre-JVM load snapshot drives the class: the mid/after ones
    # include this bench's own executor threads and are context only.  A
    # canary excursion is > 2x the series median AND > 0.25 s above it.
    cpus = here["cpus"]
    stable = (
        min(rep_p1, rep_p2) > 0
        and max(rep_p1, rep_p2) / min(rep_p1, rep_p2) <= 1.25
    )
    canary_secs = [c["sec"] for c in canary]
    canary_median = round(median(canary_secs), 3) if canary_secs else None
    canary_excursions = [
        c
        for c in canary
        if canary_median is not None
        and c["sec"] > 2 * canary_median
        and c["sec"] - canary_median > 0.25
    ]
    rows = judge_rows(times, prev, here)
    cls = window_class(
        load_before[0] if load_before else None, cpus, stable, not canary_excursions, rows
    )
    window = {
        "class": cls,
        "criteria": (
            f"quiet iff pre-JVM load1 <= {0.25 * cpus:.2f} "
            f"(25% of {cpus} cpus), repeat-subset pass ratio <= 1.25 "
            f"over rows timed in both passes, no canary excursion "
            f"(a1 re-timed every {CANARY_EVERY} rows; excursion = "
            f"> 2x series median AND > 0.25 s above it), and rows clean "
            f"(<= 3 rows > 2.5x their reference by > 0.3 s, no contiguous "
            f"block of 3+; the reference is the previous BENCH_DETAIL.json "
            f"when it banded quiet on the same sf_dir, cpus and master, "
            f"else no row is judged); loaded iff pre-JVM load1 is above "
            f"that cap; unknown iff /proc/loadavg unreadable"
        ),
        **rows,
        "ambient_cap": round(0.25 * cpus, 2),
        "st_total_pass1": st_p1,
        "st_total_pass2": st_p2,
        "st_total_best": min(st_p1, st_p2),
        "repeat_total_pass1": rep_p1,
        "repeat_total_pass2": rep_p2,
        "repeat_n": len(rep_common),
        "canary": canary,
        "canary_median": canary_median,
        "canary_excursions": canary_excursions,
    }
    load = {
        "before": load_before,
        "after_main_pass": load_mid,
        "after_repeat_pass": load_after,
    }

    # Full per-query detail goes to the artifact; the stdout JSON line
    # stays compact: totals, per-family rollups, and the slowest tail.
    detail = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": times,
        "profile": profile,
        "profile_read_sec": round(profiler.read_s, 3),
        "cold_queries": cold,
        "cold_total_sec": round(sum(t for t in cold.values() if t >= 0), 3),
        "repeat_queries": repeat,
        "window": window,
        "load": load,
        "sf": sf,
        **here,
        "env": env,
    }
    with open(DETAIL_PATH, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    families: dict[str, list[float]] = {}
    for name, t in times.items():
        if t < 0:
            continue
        fam = re.match(r"[a-z]+", name).group(0)
        families.setdefault(fam, []).append(t)
    fam_stats = {
        f"{fam}_total": round(sum(ts), 2) for fam, ts in sorted(families.items())
    }
    fam_stats.update(
        {f"{fam}_median": round(median(ts), 3) for fam, ts in sorted(families.items())}
    )
    slowest = dict(
        sorted(
            ((n, t) for n, t in times.items() if t >= 0),
            key=lambda kv: -kv[1],
        )[:10]
    )
    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "n_queries": len(times),
                "n_errors": sum(1 for t in times.values() if t < 0),
                "families": fam_stats,
                "window": window,
                "load": load,
                "detail_file": os.path.basename(DETAIL_PATH),
                "sf": sf,
                **here,
                "env": env,
            }
        )
    )


if __name__ == "__main__":
    main()
