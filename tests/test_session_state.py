"""The session factory's launch, session-scoped memos (session.state) and
scratch-path isolation.

A launching ``get_spark`` starts the SparkContext while a second thread
initialises the session extensions and compiles one class with Janino,
then builds the SparkSession.  These
tests pin that the split start configures the driver exactly as one
``getOrCreate`` does, that the warm-up never fails a start nor outlives
it, and that a reused context starts no thread.

The memo owner hands out one dict per SparkSession and forgets a stopped
application; staging paths are either fingerprint-keyed shared fixtures
published atomically (io.staged_dir) or per-process scratch
(io.scratch_dir).  These tests pin the three behaviours that follow:
sessions sharing a SparkContext do not share memos, a stop + restart
leaves nothing of the dead application behind, and two processes staging
at once do not clobber each other.
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

from google_analytics_dataframes_spark import session
from google_analytics_dataframes_spark.io import TABLES, load_table
from google_analytics_dataframes_spark.session import RUNTIME_CONFS
from tests.conftest import SF_DIR, small_env

REPO = Path(__file__).resolve().parent.parent


def _run_driver(script: str, **env: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", textwrap.dedent(script)],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=small_env(**env),
        cwd=REPO,
    )


def _last_line(p: subprocess.Popen) -> str:
    """The driver's last stdout line; fails unless it exited 0."""
    out, err = p.communicate(timeout=300)
    assert p.returncode == 0 and out.strip(), (out[-2000:], err[-3000:])
    return out.strip().splitlines()[-1]


def test_split_launch_configures_the_driver_as_one_getorcreate():
    """A launching get_spark runs the warm-up once, on a thread that is
    gone when it returns, and the warm-up's Janino compile runs once, on
    that thread, without a warning.  Its SparkContext and session confs equal
    those of the builder's single getOrCreate (started afterwards in the
    same process, over the same gateway).  The launched JVM's heap is
    the configured driver memory, so that conf reached the launch."""
    script = """
        import json, threading, warnings
        from google_analytics_dataframes_spark import session

        KEYS = ("spark.app.name", "spark.master", "spark.sql.shuffle.partitions",
                "spark.driver.memory", "spark.ui.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.cleaner.periodicGC.interval")
        calls, janino = [], []
        warm = session._warm_sql_start
        session._warm_sql_start = lambda jvm: (calls.append(1), warm(jvm))
        compile_class = session._compile_warm_up_class
        session._compile_warm_up_class = lambda jvm: (
            janino.append(threading.current_thread().name), compile_class(jvm))

        def confs(spark):
            sc = spark.sparkContext.getConf()
            return {k: [sc.get(k, None), spark.conf.get(k, None)] for k in KEYS}

        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            split = session.get_spark(app_name="split")
        out = {
            "calls": len(calls),
            "janino": janino,
            "warnings": [str(w.message) for w in caught if "warm-up" in str(w.message)],
            "alive": [t.name for t in threading.enumerate() if t.name == session.SQL_WARM_UP_THREAD],
            "heap": split._jvm.java.lang.Runtime.getRuntime().maxMemory(),
            "split": confs(split),
            "rows": split.range(5).count(),
        }
        split.stop()
        out["single"] = confs(session._builder(app_name="split").getOrCreate())
        print(json.dumps(out))
    """
    got = json.loads(_last_line(_run_driver(script)))
    assert got["calls"] == 1 and got["warnings"] == [] and got["alive"] == []
    assert got["janino"] == [session.SQL_WARM_UP_THREAD]
    assert got["split"] == got["single"], (got["split"], got["single"])
    assert got["split"]["spark.driver.memory"] == ["1g", "1g"]
    assert got["split"]["spark.app.name"] == ["split", "split"]
    assert 512 << 20 < got["heap"] <= 1 << 30
    assert got["rows"] == 5


def test_warm_up_never_fails_nor_outlives_a_launch():
    """Three launches that go wrong, in two driver processes run at once:

    * no java: the start raises before the gateway is up;
    * a warm-up that raises: it warns, and the session still answers;
    * a master the launcher accepts but the SparkContext cannot parse: the
      start raises after the gateway is up, while the warm-up runs.

    After each, no warm-up thread is alive."""
    prelude = """
        import os, threading, warnings
        from google_analytics_dataframes_spark import session

        def alive():
            return [t for t in threading.enumerate() if t.name == session.SQL_WARM_UP_THREAD]

        def raises(**kw):
            try:
                session.get_spark(**kw)
            except Exception as e:
                return str(e)
            raise SystemExit(f"get_spark({kw}) did not raise")
    """
    no_java_then_boom = prelude + """
        java_home = os.environ.get("JAVA_HOME")
        os.environ["JAVA_HOME"] = os.path.join(os.getcwd(), "no-such-jdk")
        raises(app_name="no-java")
        assert not alive()
        if java_home is None:
            del os.environ["JAVA_HOME"]
        else:
            os.environ["JAVA_HOME"] = java_home

        def boom(jvm):
            raise RuntimeError("warm-up boom")

        session._warm_sql_start = boom
        with warnings.catch_warnings(record=True) as caught:
            warnings.simplefilter("always")
            spark = session.get_spark(app_name="boom")
        assert not alive()
        assert any("warm-up boom" in str(w.message) for w in caught), caught
        assert spark.sql("SELECT sum(id) FROM range(5)").first()[0] == 10
        print("BOOM-OK")
    """
    bogus_master = prelude + """
        err = raises(app_name="bogus", master="local[bogus]")
        assert not alive()
        assert "Could not parse Master URL" in err, err
        print("BOGUS-OK")
    """
    procs = [_run_driver(no_java_then_boom), _run_driver(bogus_master)]
    try:
        lines = [_last_line(p) for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert lines == ["BOOM-OK", "BOGUS-OK"]


def test_reused_context_starts_no_warm_up_thread(spark, monkeypatch):
    """get_spark over a live SparkContext launches no JVM, so it must start
    no thread, look up no extension and compile nothing."""

    def boom(*a, **k):
        raise AssertionError("warm-up work on a reused context")

    monkeypatch.setattr(session.threading, "Thread", boom)
    monkeypatch.setattr(session, "_warm_sql_start", boom)
    monkeypatch.setattr(session, "_compile_warm_up_class", boom)
    assert session.get_spark(app_name="tests", master="local[4]", shuffle_partitions=4) is spark


def test_new_session_gets_its_own_confs_and_views(spark):
    """``spark.newSession()`` shares the SparkContext (same
    applicationId) but not the SQL conf or temp views, so its memos must
    be its own: configure() applies the runtime confs to it, and the
    views registered from its tables live in IT, not in the first
    session."""
    s2 = spark.newSession()
    tables = {name: load_table(s2, SF_DIR, name) for name in TABLES}
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    for k, v in RUNTIME_CONFS.items():
        assert s2.conf.get(k) == v, k
    assert all(df.sparkSession is s2 for df in tables.values())
    n = load_table(spark, SF_DIR, "events").count()
    assert s2.sql("SELECT count(*) FROM events").first()[0] == n


def test_memos_forget_a_stopped_application(tmp_path):
    """Stop + restart in one driver process (a subprocess, so this suite's
    session survives): the memo owner keeps no entry of the dead
    application, and load_table / the stored stats still answer."""
    script = textwrap.dedent(
        """
        import sys
        from google_analytics_dataframes_spark import session
        from google_analytics_dataframes_spark.io import load_table
        from google_analytics_dataframes_spark.sources.bucketed import (
            dedup_cross_stats,
        )

        sf = sys.argv[1]
        spark = session.get_spark(app_name="restart-1")
        ev = load_table(spark, sf, "events")
        n = ev.count()
        stats = dedup_cross_stats(spark, sf)
        spark.stop()

        spark2 = session.get_spark(app_name="restart-2")
        ev2 = load_table(spark2, sf, "events")
        assert ev2 is not ev and ev2.count() == n
        assert load_table(spark2, sf, "events") is ev2
        assert dedup_cross_stats(spark2, sf) == stats
        # the dead session object is still referenced here, so only the
        # eviction rule can have removed its entry
        assert list(session._STATE) == [spark2]
        print("RESTART-OK")
        spark2.stop()
        """
    )
    r = subprocess.run(
        [sys.executable, "-c", script, SF_DIR],
        capture_output=True,
        text=True,
        timeout=300,
        env=small_env(TMPDIR=str(tmp_path)),
        cwd=REPO,
    )
    assert "RESTART-OK" in r.stdout, (r.stdout[-2000:], r.stderr[-2000:])


def test_concurrent_staging_does_not_clobber(tmp_path):
    """Two driver processes run the staging rows at the same moment over
    one fresh temp dir, so both race every build: the sink round-trips
    (s4, s5, s7, s8) write per-process scratch, and s11's shared fixture
    and the st11/st15 stream sources are each published by one atomic
    rename.  Both must match their oracles."""
    barrier = tmp_path / "barrier"
    barrier.mkdir()
    script = textwrap.dedent(
        """
        import os, runpy, sys, time
        from google_analytics_dataframes_spark.session import get_spark

        barrier, sf = sys.argv[1], sys.argv[2]
        get_spark(app_name="check")  # JVM start-up before the barrier
        open(os.path.join(barrier, str(os.getpid())), "w").close()
        deadline = time.time() + 120
        while len(os.listdir(barrier)) < 2 and time.time() < deadline:
            time.sleep(0.05)
        sys.argv = ["check.py", "s4_", "s5_", "s7_", "s8_", "s11_", "st11_", "st15_",
                    "--sf", sf]
        runpy.run_path("tools/check.py", run_name="__main__")
        """
    )
    env = small_env(TMPDIR=str(tmp_path))
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, str(barrier), SF_DIR],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            env=env,
            cwd=REPO,
        )
        for _ in range(2)
    ]
    try:
        outs = [p.communicate(timeout=400) for p in procs]
    finally:
        for p in procs:
            p.kill()
    for p, (out, err) in zip(procs, outs):
        assert p.returncode == 0 and "7 passed, 0 failed" in out, (
            out[-2000:],
            err[-2000:],
        )
