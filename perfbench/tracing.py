"""Outside-in tracing for the benchmark's traced runs.

Nothing here edits the program.  :class:`Tracer` wraps the public functions
of each layer module at run time, patches every binding of them in the
loaded package modules (``queries/_util.py`` imports ``load_table`` by
name, for instance), and keeps spans in memory.  :func:`group_jobs`,
:func:`job_stats` and :func:`catalyst_stats` read the counters Spark
already keeps: the status store by job group and the query-planning
tracker, the write's through the listener :func:`make_plan_log` registers.
:func:`make_progress_log` builds the listener that records streaming
progress events.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import os
import sys
import threading
import time

PKG = "google_analytics_dataframes_spark"

#: Layer name -> modules whose public functions are wrapped.
LAYER_MODULES: dict[str, tuple[str, ...]] = {
    "session": ("session",),
    "io": ("io",),
    "report": ("report",),
    "sources.ga_api": ("sources.ga_api",),
    "sources.bucketed": ("sources.bucketed",),
    "operators.dedup": ("operators.dedup",),
    "operators.similarity": ("operators.similarity",),
    "operators.text": ("operators.text",),
    "operators.multimodal": ("operators.multimodal",),
    "operators.sampling": ("operators.sampling",),
    "streaming": ("streaming.jobs", "streaming.tws_runtime"),
}

REPORT_FNS = ("report", "cohort_report", "funnel_report", "compare_report", "realtime_report")

# span tuple layout: [id, name, start, end, parent, action]
ID, NAME, START, END, PARENT, ACTION = range(6)


class Tracer:
    """Spans at each layer boundary, recorded while ``enabled`` is true."""

    def __init__(self) -> None:
        self.enabled = True
        self.spans: list[list] = []
        self.action: int | None = None  # id of the query execution running now
        self._action_root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 1
        self._wrapped: dict = {}  # original function -> wrapper
        self._tables_seen: dict = {}
        #: (action, kind) events: "load_table_hit", "load_table_miss",
        #: "staged_dir_build"
        self.events: list[tuple[int | None, str]] = []

    # -- spans ------------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> int:
        st = self._stack()
        parent = st[-1] if st else self._action_root
        with self._lock:
            sid = self._next
            self._next += 1
            self.spans.append([sid, name, time.perf_counter(), None, parent, self.action])
        st.append(sid)
        return sid

    def close(self, sid: int) -> None:
        end = time.perf_counter()
        st = self._stack()
        st.pop()
        # spans are appended in id order, so the open span is near the tail
        for s in reversed(self.spans):
            if s[ID] == sid:
                s[END] = end
                break

    def span(self, name: str):
        return _Span(self, name)

    def begin_action(self, action: int, name: str) -> int:
        """Open the root span of one query execution."""
        self.action = action
        sid = self.open(f"action.{name}")
        self._action_root = sid
        return sid

    def end_action(self, sid: int) -> None:
        self.close(sid)
        self._action_root = None
        self.action = None

    # -- wrapping ---------------------------------------------------------
    def _wrap(self, fn, name: str):
        tracer = self
        hook = {"io.load_table": self._load_table, "io.staged_dir": self._staged_dir}.get(name)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            sid = tracer.open(name)
            try:
                if hook is not None:
                    return hook(fn, args, kwargs)
                return fn(*args, **kwargs)
            finally:
                tracer.close(sid)

        return wrapper

    def _load_table(self, fn, args, kwargs):
        df = fn(*args, **kwargs)
        bound = inspect.signature(fn).bind(*args, **kwargs)
        spark, sf_dir, name = (bound.arguments[k] for k in ("spark", "sf_dir", "name"))
        key = (spark.sparkContext.applicationId, os.path.abspath(sf_dir), name)
        hit = self._tables_seen.get(key) is df
        self.events.append((self.action, "load_table_hit" if hit else "load_table_miss"))
        self._tables_seen[key] = df
        return df

    def _staged_dir(self, fn, args, kwargs):
        bound = inspect.signature(fn).bind(*args, **kwargs)
        build_fn = bound.arguments["build_fn"]

        def counted(path):
            self.events.append((self.action, "staged_dir_build"))
            return build_fn(path)

        bound.arguments["build_fn"] = counted
        return fn(*bound.args, **bound.kwargs)

    def install(self, layers: tuple[str, ...] | None = None) -> None:
        """Wrap the public functions of the given layers (all by default)
        and patch every binding of them in the loaded package modules."""
        for layer, mods in LAYER_MODULES.items():
            if layers is not None and layer not in layers:
                continue
            for m in mods:
                mod = importlib.import_module(f"{PKG}.{m}")
                for attr, val in list(vars(mod).items()):
                    if (
                        inspect.isfunction(val)
                        and val.__module__ == mod.__name__
                        and not attr.startswith("_")
                        and val not in self._wrapped
                    ):
                        self._wrapped[val] = self._wrap(val, f"{layer}.{attr}")
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == PKG or mname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in self._wrapped:
                    setattr(mod, attr, self._wrapped[val])


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.sid = tracer, name, None

    def __enter__(self):
        if self.tracer.enabled:
            self.sid = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tracer.close(self.sid)
        return False


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length the (start, end) intervals cover, overlaps counted once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[list]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s[PARENT] is not None and s[END] is not None:
            children.setdefault(s[PARENT], []).append((s[START], s[END]))
    out = {}
    for s in spans:
        if s[END] is None:
            continue
        kids = [(max(a, s[START]), min(b, s[END])) for a, b in children.get(s[ID], [])]
        out[s[ID]] = (s[END] - s[START]) - union_s([k for k in kids if k[1] > k[0]])
    return out


def layer_of(span_name: str) -> str:
    """'operators.dedup.minhash_lsh_pairs' -> 'operators.dedup'."""
    for layer in sorted(LAYER_MODULES, key=len, reverse=True):
        if span_name.startswith(layer + "."):
            return layer
    return span_name.split(".", 1)[0]


def outermost(spans: list[list], layer: str, fns: tuple[str, ...] | None = None) -> list[list]:
    """Spans of ``layer`` (restricted to function names ``fns``) that have
    no ancestor in the same layer, so nested calls are not counted twice."""
    by_id = {s[ID]: s for s in spans}

    def in_layer(s):
        if layer_of(s[NAME]) != layer:
            return False
        return fns is None or s[NAME].rsplit(".", 1)[1] in fns

    out = []
    for s in spans:
        if not in_layer(s) or s[END] is None:
            continue
        p = by_id.get(s[PARENT])
        while p is not None and not in_layer(p):
            p = by_id.get(p[PARENT])
        if p is None:
            out.append(s)
    return out


# -- Spark's own counters ----------------------------------------------------

def drain(spark) -> None:
    """Wait until the listener bus has delivered every posted event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


def group_jobs(spark, groups: list[str]) -> list[int]:
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    ids: set[int] = set()
    for g in groups:
        ids.update(int(j) for j in tracker.getJobIdsForGroup(g))
    return sorted(ids)


def job_stats(spark, job_ids: list[int], write_start_ms: float) -> dict:
    """Jobs split by phase (submitted before the write began = launched
    inside ``fn()``), plus the stage counters of every stage that ran."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = {
        "build_jobs": [], "write_jobs": [], "stages": 0, "tasks": 0,
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "input_bytes": 0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
        "gc_s": 0.0, "failed_tasks": 0, "skews": [], "job_spans_ms": [],
    }
    stage_ids: set[int] = set()
    for jid in job_ids:
        job = store.job(jid)
        sub, done = job.submissionTime(), job.completionTime()
        t = sub.get().getTime() if sub.isDefined() else 0
        (out["build_jobs"] if t < write_start_ms else out["write_jobs"]).append(jid)
        if sub.isDefined() and done.isDefined():
            out["job_spans_ms"].append((t, done.get().getTime()))
        stage_ids.update(int(s) for s in _seq(job.stageIds()))
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # stage never submitted (skipped before creation)
            continue
        if str(st.status().toString()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += int(st.numTasks())
        out["executor_run_s"] += st.executorRunTime() / 1e3
        out["executor_cpu_s"] += st.executorCpuTime() / 1e9
        out["input_bytes"] += int(st.inputBytes())
        out["shuffle_read_bytes"] += int(st.shuffleReadBytes())
        out["shuffle_write_bytes"] += int(st.shuffleWriteBytes())
        out["spill_bytes"] += int(st.diskBytesSpilled())
        out["gc_s"] += st.jvmGcTime() / 1e3
        out["failed_tasks"] += int(st.numFailedTasks())
        if st.numTasks() >= 2:
            dist = store.taskSummary(sid, st.attemptId(), q)
            if dist.isDefined():
                rt = dist.get().executorRunTime()
                med, mx = rt.apply(0), rt.apply(1)
                if med > 0:
                    out["skews"].append(mx / med)
    return out


def catalyst_stats(df, write: dict | None) -> dict:
    """Plan-phase times and exchange count of one timed execution.
    Analysis runs eagerly when ``fn()`` builds the DataFrame, so it is read
    from the DataFrame's own QueryExecution (reading does not plan it);
    the write analyses only its command node, then optimises and plans the
    whole query, so those phases and the exchanges come from the write's
    QueryExecution (``write``, from :func:`make_plan_log`)."""
    phases = df._jdf.queryExecution().tracker().phases()
    opt = phases.get("analysis")
    out = {"analysis_s": opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0,
           "optimization_s": 0.0, "planning_s": 0.0, "exchanges": 0}
    if write is not None:
        out["analysis_s"] += write["analysis_s"]
        out.update({k: write[k] for k in ("optimization_s", "planning_s", "exchanges")})
    return out


def count_exchanges(plan: str) -> int:
    """Exchanges in an executed plan's text; of an adaptive plan only the
    final plan counts, not the initial plan printed after it."""
    plan = plan.split("== Initial Plan ==", 1)[0]
    return sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-*").startswith(("Exchange ", "BroadcastExchange ", "ReusedExchange "))
    )


def make_plan_log(spark):
    """Register a QueryExecutionListener that keeps the plan-phase times and
    exchange count of every successful noop write (function name
    ``overwrite``), read from the QueryExecution the write ran."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)

    class PlanLog:
        def __init__(self) -> None:
            self.writes: list[dict] = []

        def onSuccess(self, func, qe, duration_ns) -> None:
            if func != "overwrite":
                return
            phases = qe.tracker().phases()
            rec = {}
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                rec[ph + "_s"] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
            rec["exchanges"] = count_exchanges(str(qe.executedPlan().toString()))
            self.writes.append(rec)

        def onFailure(self, func, qe, exception) -> None:
            pass

        def last_write(self) -> dict | None:
            """The latest write's record; call after :func:`drain`."""
            return self.writes[-1] if self.writes else None

        class Java:
            implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    log = PlanLog()
    spark._jsparkSession.listenerManager().register(log)
    return log


def make_progress_log(tracer_action):
    """A StreamingQueryListener that only records progress events.
    ``tracer_action()`` names the query execution running when a stream
    starts; start events are delivered synchronously with ``start()``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.run_action: dict[str, int | None] = {}
            self.progress: list[dict] = []

        def onQueryStarted(self, event) -> None:
            self.run_action[str(event.runId)] = tracer_action()

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append({
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
                "state": [
                    (s.commitTimeMs, s.numRowsTotal, s.memoryUsedBytes)
                    for s in p.stateOperators
                ],
            })

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def batches(self, actions: set[int]) -> list[dict]:
            return [p for p in self.progress if self.run_action.get(p["run_id"]) in actions]

        def run_ids(self, action: int) -> list[str]:
            return [r for r, a in self.run_action.items() if a == action]

    return ProgressLog()


def streaming_metrics(batches: list[dict]) -> dict:
    def dsum(key):
        return sum(b["duration_ms"].get(key, 0) for b in batches) / 1e3

    last_state: dict[str, list] = {}
    for b in batches:
        if b["state"]:
            last_state[b["run_id"]] = b["state"]
    return {
        "streaming.batches": len(batches),
        "streaming.no_data_batches": sum(1 for b in batches if b["input_rows"] == 0),
        "streaming.input_rows": sum(b["input_rows"] for b in batches),
        "streaming.latest_offset_s": dsum("latestOffset"),
        "streaming.query_planning_s": dsum("queryPlanning"),
        "streaming.add_batch_s": dsum("addBatch"),
        "streaming.state_commit_s": sum(s[0] for b in batches for s in b["state"]) / 1e3,
        "streaming.wal_commit_s": dsum("walCommit"),
        "streaming.commit_offsets_s": dsum("commitOffsets"),
        "streaming.state_rows": sum(s[1] for st in last_state.values() for s in st),
        "streaming.state_memory_bytes": sum(s[2] for st in last_state.values() for s in st),
    }


def tree_bytes_since(root: str, since: float) -> int:
    """Bytes of files under ``root`` modified at or after ``since``."""
    total = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                total += st.st_size
    return total
