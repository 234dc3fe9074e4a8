"""The session factory's launch, session-scoped memos (session.state) and
scratch-path isolation.

A launching ``get_spark`` starts a thread that imports what py4j's input
converters import, then runs the builder's one ``getOrCreate`` from the
launch view (jvm_archive).  These tests pin that the launch configures the
driver exactly as ``_builder().getOrCreate()`` does, that a launch that
goes wrong raises its own error, and that a reused context starts no
thread and does no launch work.

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


def test_launch_configures_the_driver_as_one_getorcreate():
    """A launching get_spark's SparkContext and session confs equal those
    of the builder's single getOrCreate (started afterwards in the same
    process, over the same gateway), so the launch options it adds replace
    none of them.  The launched JVM's heap is the configured driver
    memory, so that conf reached the launch."""
    script = """
        import json
        from google_analytics_dataframes_spark import session

        KEYS = ("spark.app.name", "spark.master", "spark.sql.shuffle.partitions",
                "spark.driver.memory", "spark.ui.enabled",
                "spark.sql.autoBroadcastJoinThreshold",
                "spark.cleaner.periodicGC.interval")

        def confs(spark):
            sc = spark.sparkContext.getConf()
            return {k: [sc.get(k, None), spark.conf.get(k, None)] for k in KEYS}

        launched = session.get_spark(app_name="launch")
        out = {
            "heap": launched._jvm.java.lang.Runtime.getRuntime().maxMemory(),
            "launched": confs(launched),
            "rows": launched.range(5).count(),
        }
        launched.stop()
        out["single"] = confs(session._builder(app_name="launch").getOrCreate())
        print(json.dumps(out))
    """
    got = json.loads(_last_line(_run_driver(script)))
    assert got["launched"] == got["single"], (got["launched"], got["single"])
    assert got["launched"]["spark.driver.memory"] == ["1g", "1g"]
    assert got["launched"]["spark.app.name"] == ["launch", "launch"]
    assert 512 << 20 < got["heap"] <= 1 << 30
    assert got["rows"] == 5


def test_failed_launches_raise_their_own_errors():
    """Three launches that go wrong, in three driver processes run at once:

    * no java: the start raises before the gateway is up, and a later
      launch with java restored answers;
    * a master the launcher accepts but the SparkContext cannot parse: the
      start raises after the gateway is up, with Spark's own message;
    * a direct launch whose JVM exits before its gateway is up (a heap
      size the JVM rejects): the start raises pyspark's gateway error and
      leaves no child process, and a later launch answers."""
    prelude = """
        import os
        from google_analytics_dataframes_spark import session

        def raises(**kw):
            try:
                session.get_spark(**kw)
            except Exception as e:
                return str(e)
            raise SystemExit(f"get_spark({kw}) did not raise")
    """
    no_java = prelude + """
        java_home = os.environ.get("JAVA_HOME")
        os.environ["JAVA_HOME"] = os.path.join(os.getcwd(), "no-such-jdk")
        err = raises(app_name="no-java")
        assert "Java gateway process exited" in err, err
        if java_home is None:
            del os.environ["JAVA_HOME"]
        else:
            os.environ["JAVA_HOME"] = java_home
        spark = session.get_spark(app_name="java")
        assert spark.sql("SELECT sum(id) FROM range(5)").first()[0] == 10
        print("NO-JAVA-OK")
    """
    bogus_master = prelude + """
        err = raises(app_name="bogus", master="local[bogus]")
        assert "Could not parse Master URL" in err, err
        print("BOGUS-OK")
    """
    jvm_exits = prelude + """
        from google_analytics_dataframes_spark import jvm_archive

        def children():
            found = []
            for d in filter(str.isdigit, os.listdir("/proc")):
                try:
                    with open(f"/proc/{d}/stat") as f:
                        if int(f.read().rsplit(")", 1)[1].split()[1]) == os.getpid():
                            found.append(int(d))
                except OSError:
                    pass
            return found

        with jvm_archive.driver_java_options():  # builds the archive on a miss
            pass
        direct, start = [], jvm_archive._start_gateway
        jvm_archive._start_gateway = lambda *a: direct.append(a) or start(*a)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1q"
        err = raises(app_name="no-heap")
        assert "Java gateway process exited" in err, err
        assert len(direct) == 1 and not children(), (direct, children())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
        spark = session.get_spark(app_name="heap")
        assert spark.sql("SELECT sum(id) FROM range(5)").first()[0] == 10
        command = spark._jvm.java.lang.System.getProperty("sun.java.command")
        assert command == jvm_archive.GATEWAY_CLASS, command
        print("JVM-EXIT-OK")
    """
    procs = [_run_driver(no_java), _run_driver(bogus_master), _run_driver(jvm_exits)]
    try:
        lines = [_last_line(p) for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert lines == ["NO-JAVA-OK", "BOGUS-OK", "JVM-EXIT-OK"]


def test_reused_context_starts_no_thread_and_no_launch_work(spark, monkeypatch):
    """get_spark over a live SparkContext launches no JVM, so it must start
    no thread and neither key, publish nor build a view or an archive."""

    def boom(*a, **k):
        raise AssertionError("launch work on a reused context")

    monkeypatch.setattr(session.threading, "Thread", boom)
    for name in ("_stem", "_publish_view", "_build"):
        monkeypatch.setattr(session.jvm_archive, name, boom)
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
