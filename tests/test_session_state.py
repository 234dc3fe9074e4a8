"""Session-scoped memos (session.state) and scratch-path isolation.

The memo owner hands out one dict per SparkSession and forgets a stopped
application; staging paths are either fingerprint-keyed shared fixtures
published atomically (io.staged_dir) or per-process scratch
(io.scratch_dir).  These tests pin the three behaviours that follow:
sessions sharing a SparkContext do not share memos, a stop + restart
leaves nothing of the dead application behind, and two processes staging
at once do not clobber each other.
"""

from __future__ import annotations

import subprocess
import sys
import textwrap
from pathlib import Path

from google_analytics_dataframes_spark.io import load_table, load_tables
from google_analytics_dataframes_spark.session import RUNTIME_CONFS
from tests.conftest import SF_DIR, small_env

REPO = Path(__file__).resolve().parent.parent


def test_new_session_gets_its_own_confs_and_views(spark):
    """``spark.newSession()`` shares the SparkContext (same
    applicationId) but not the SQL conf or temp views, so its memos must
    be its own: configure() applies the runtime confs to it, and
    load_tables registers the views in IT, not in the first session."""
    s2 = spark.newSession()
    tables = load_tables(s2, SF_DIR)
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
    is published by one atomic rename.  Both must match their oracles."""
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
        sys.argv = ["check.py", "s4_", "s5_", "s7_", "s8_", "s11_", "--sf", sf]
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
        assert p.returncode == 0 and "5 passed, 0 failed" in out, (
            out[-2000:],
            err[-2000:],
        )
