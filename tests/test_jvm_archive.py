"""The driver JVM's class-data-sharing archive (jvm_archive).

The archive is a cache: it may change how fast the driver starts, never
what the driver does.  These tests pin that.  The archive is built and
published atomically, and a build killed half way leaves nothing at the
final path.  A hit keeps the caller's own JVM options and the answers.  A
rejected archive falls back to a plain start, with the JVM's warning on
stderr, not stdout.  Every launch starts from the launch view, without
spark-mllib; a conf dir with real files is still read, and maps no
archive.  A session that reuses a live SparkContext never touches the
archive.
Subprocess drivers get ``XDG_CACHE_HOME`` under ``tmp_path``, so the user's
cache is never read or written.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap
import time
import zipfile
from pathlib import Path

import pytest

from google_analytics_dataframes_spark import jvm_archive, session
from tests.conftest import SF_DIR, small_env

REPO = Path(__file__).resolve().parent.parent

# One driver start; prints exactly one line: the JVM's input arguments and
# main class, the archives it has mapped, the spark-mllib jars on its
# classpath, the session-extensions providers it finds, an answer read
# through load_table and one Python UDF's answer.
_DRIVER = textwrap.dedent(
    """
    import fnmatch, json, os, sys
    from pyspark.sql.functions import udf
    from google_analytics_dataframes_spark import jvm_archive, session
    from google_analytics_dataframes_spark.io import load_table

    spark = session.get_spark(app_name="archive")
    lang = spark._jvm.java.lang
    pid = int(lang.ProcessHandle.current().pid())
    args = list(lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
    with open(f"/proc/{pid}/maps") as f:
        mapped = sorted({l.split()[-1] for l in f if "spark_graft" in l})
    classpath = lang.System.getProperty("java.class.path").split(os.pathsep)
    mllib = [c for c in classpath if fnmatch.fnmatchcase(os.path.basename(c), jvm_archive.LEFT_OUT_JAR)]
    provider = spark._jvm.org.apache.spark.sql.SparkSessionExtensionsProvider._java_lang_class
    found = spark._jvm.java.util.ServiceLoader.load(provider, provider.getClassLoader()).iterator()
    providers = 0
    while found.hasNext():
        found.next()
        providers += 1
    ev = load_table(spark, sys.argv[1], "events")
    answer = [list(r) for r in ev.groupBy("event_type").count().orderBy("event_type").collect()]
    tripled = udf(lambda x: 3 * x, "long")
    print(json.dumps({
        "args": args,
        "command": lang.System.getProperty("sun.java.command").split()[0],
        "mapped": mapped,
        "mllib": mllib,
        "providers": providers,
        "udf": [r[0] for r in spark.range(1, 4).select(tripled("id")).collect()],
        "answer": answer,
        "probe": spark.sparkContext.getConf().get("spark.graft.probe", None),
    }))
    """
)


def _driver(cache: Path, **env: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", _DRIVER, SF_DIR],
        stdout=subprocess.PIPE,
        stderr=subprocess.PIPE,
        text=True,
        env=small_env(XDG_CACHE_HOME=str(cache), **env),
        cwd=REPO,
    )


def _result(p: subprocess.Popen) -> tuple[dict, str]:
    """The driver's one stdout line, parsed, and its stderr; fails unless
    the driver exited 0 and printed nothing else on stdout."""
    out, err = p.communicate(timeout=300)
    lines = out.splitlines()
    assert p.returncode == 0 and len(lines) == 1, (out[-2000:], err[-3000:])
    return json.loads(lines[0]), err


def _pids(needle: bytes) -> list[int]:
    """Live processes whose NUL-separated command line contains ``needle``."""
    pids = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    if needle in f.read():
                        pids.append(int(d))
            except OSError:
                pass
    return pids


def _wait_for(pred, timeout: float, what: str):
    deadline = time.time() + timeout
    while time.time() < deadline:
        got = pred()
        if got:
            return got
        time.sleep(0.05)
    raise AssertionError(f"timed out waiting for {what}")


def _archives(root: Path) -> list[Path]:
    return sorted((root / "spark_graft").glob("driver-*.jsa"))


def test_archive_lifecycle(tmp_path):
    """Killed build, then build, hit, and a corrupted archive, on one cache.

    1. The first start's build child is killed while its JVM runs: nothing
       reaches the final path, no failure is remembered, and the start
       falls back to a plain JVM.
    2. The next start builds, publishes and maps the archive, and prints
       only its own line on stdout (the dump's JVM warnings go elsewhere).
    3. A hit keeps ``-Dgraft.probe=1`` from ``--driver-java-options``, the
       JVM really maps the file, and it was launched straight into
       ``PythonGatewayServer`` (the killed build's plain start went
       through SparkSubmit).
    4. A bit-flipped archive is rejected by VerifySharedSpaces: the start
       still works, and the JVM's warning lands on stderr, not stdout.
    All four answer the same, and their Python UDFs run.  All four launch
    from the view: no spark-mllib jar on the classpath and no
    session-extensions provider found."""
    cache = tmp_path / "cache"
    store = cache / "spark_graft"

    first = _driver(cache)
    try:
        dump_jvm = _wait_for(
            lambda: _pids(b"\0-XX:ArchiveClassesAtExit=" + str(store).encode()),
            120, "the build child's JVM",
        )[0]
        child = [p for p in _pids(b"_build_child") if p in _pids(str(store).encode())]
        assert len(child) == 1, child
        os.kill(child[0], 9)
        plain, err = _result(first)
    finally:
        first.kill()
    # the orphaned JVM exits on its stdin's EOF and may still write its part
    _wait_for(lambda: not os.path.exists(f"/proc/{dump_jvm}"), 120, "the orphaned JVM")
    assert "archive build failed" in err
    assert not any("SharedArchiveFile" in a for a in plain["args"])
    assert plain["command"] == "org.apache.spark.deploy.SparkSubmit"
    assert plain["mapped"] == []
    assert _archives(cache) == [] and not list(store.glob("*.failed"))
    assert plain["mllib"] == [] and plain["providers"] == 0
    assert plain["udf"] == [3, 6, 9]

    built, _ = _result(_driver(cache))
    [archive] = _archives(cache)
    assert f"-XX:SharedArchiveFile={archive}" in built["args"]
    assert built["mapped"] == [str(archive)]
    assert built["answer"] == plain["answer"]
    assert built["mllib"] == [] and built["providers"] == 0
    assert built["udf"] == [3, 6, 9]

    hit, _ = _result(
        _driver(
            cache,
            PYSPARK_SUBMIT_ARGS="--driver-java-options '-Dgraft.probe=1' pyspark-shell",
        )
    )
    assert "-Dgraft.probe=1" in hit["args"]
    assert hit["command"] == jvm_archive.GATEWAY_CLASS
    assert f"-XX:SharedArchiveFile={archive}" in hit["args"]
    assert hit["mapped"] == [str(archive)]
    assert hit["answer"] == plain["answer"]
    assert hit["mllib"] == [] and hit["providers"] == 0 and hit["udf"] == [3, 6, 9]

    archive.chmod(0o644)
    with open(archive, "r+b") as f:
        f.seek(archive.stat().st_size // 3)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    rejected, err = _result(_driver(cache))
    assert rejected["mapped"] == [] and "failed to load" in err
    assert rejected["answer"] == plain["answer"]
    assert rejected["mllib"] == [] and rejected["udf"] == [3, 6, 9]
    shutil.rmtree(cache)  # ~160 MB that pytest would keep with its temp dirs


# One driver start and one noop action, directly or (argv[1] ==
# "spark-submit") through spark-submit; prints one line: the JVM's spark
# system properties, SparkConf, input arguments, SPARK_* environment and
# PYTHONHASHSEED, main class and pid.
_LAUNCHED = textwrap.dedent(
    """
    import json, os, sys
    from google_analytics_dataframes_spark import jvm_archive, session

    if sys.argv[1] == "spark-submit":
        jvm_archive._start_gateway = lambda *a: None
    spark = session.get_spark(app_name="launched")
    spark.range(1).write.format("noop").mode("overwrite").save()
    lang = spark._jvm.java.lang
    props = lang.System.getProperties()
    env = dict(lang.System.getenv())
    print(json.dumps({
        "props": {k: props.getProperty(k) for k in props.stringPropertyNames()
                  if k.startswith("spark.") or k == "SPARK_SUBMIT"},
        "conf": dict(spark.sparkContext.getConf().getAll()),
        "args": list(lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_") or k == "PYTHONHASHSEED"},
        "command": props.getProperty("sun.java.command").split()[0],
        "pid": int(lang.ProcessHandle.current().pid()),
    }))
    """
)


def test_direct_launch_starts_the_driver_spark_submit_would(tmp_path):
    """A direct launch and a spark-submit launch of the same driver, same
    confs and driver java options, on one cache: the same spark system
    properties and SparkConf (but for the submit and start times, the app
    id and the driver port), the same JVM arguments but for the ``-D``
    confs, and the same SPARK_* environment and PYTHONHASHSEED.  The
    direct one runs ``PythonGatewayServer`` itself and loads every Janino
    class (``org.codehaus``) of its start and first action from the
    archive; each driver's JVM is gone once its Python process exits."""
    cache = tmp_path / "cache"
    log = tmp_path / "class-load.log"
    got = {}
    for how in ("spark-submit", "direct"):  # the first one builds the archive
        p = subprocess.Popen(
            [sys.executable, "-c", _LAUNCHED, how],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
            env=small_env(
                XDG_CACHE_HOME=str(cache),
                PYSPARK_SUBMIT_ARGS=(
                    f"--driver-java-options '-Dgraft.probe=1 -Xlog:class+load=info:file={log}'"
                    " pyspark-shell"
                ),
            ),
            cwd=REPO,
        )
        got[how], _ = _result(p)
        pid = got[how]["pid"]
        _wait_for(lambda: not os.path.exists(f"/proc/{pid}"), 60, f"the {how} driver's JVM to exit")
    submitted, direct = got["spark-submit"], got["direct"]
    assert submitted["command"] == "org.apache.spark.deploy.SparkSubmit"
    assert direct["command"] == jvm_archive.GATEWAY_CLASS
    varying = {"spark.app.submitTime", "spark.app.startTime", "spark.app.id", "spark.driver.host",
               "spark.driver.port"}
    for part in ("props", "conf"):
        a, b = ({k: v for k, v in d[part].items() if k not in varying} for d in (submitted, direct))
        assert a == b, (part, a, b)
    assert "-Dgraft.probe=1" in direct["args"]

    def jvm_args(d):
        return [a for a in d["args"] if not a.startswith(("-Dspark.", "-DSPARK_SUBMIT="))]

    assert jvm_args(submitted) == jvm_args(direct)
    assert any(f"-XX:SharedArchiveFile={cache}" in a for a in jvm_args(direct))
    assert submitted["env"] == direct["env"] and direct["env"]["PYTHONHASHSEED"] == "0"
    janino = [line for line in log.read_text().splitlines() if " org.codehaus." in line]
    assert len(janino) > 100
    assert all("source: shared objects file" in line for line in janino), janino[:5]
    shutil.rmtree(cache)  # ~120 MB that pytest would keep with its temp dirs


def test_spark_defaults_conf_is_honoured_without_archive(tmp_path):
    """A conf dir holding a real spark-defaults.conf is read as before, and
    the launch neither builds nor maps an archive.  It still starts from
    the launch view: no spark-mllib jar, no session-extensions provider."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe  from-defaults\n")
    cache = tmp_path / "cache"
    got, _ = _result(_driver(cache, SPARK_CONF_DIR=str(conf)))
    assert got["probe"] == "from-defaults"
    assert not any("SharedArchiveFile" in a for a in got["args"])
    assert got["mapped"] == [] and _archives(cache) == []
    assert len(list((cache / "spark_graft").glob("driver-*.home"))) == 1
    assert got["mllib"] == [] and got["providers"] == 0
    assert got["udf"] == [3, 6, 9]


def test_only_plain_classpath_launches_qualify(tmp_path, monkeypatch):
    """The archive is mapped only when the launch classpath is a
    templates-only conf dir plus $SPARK_HOME/jars; the key and its paths
    live in the cache either way."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-env.sh.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert jvm_archive._plain_classpath()
    assert jvm_archive._stem().startswith(str(tmp_path / "spark_graft" / "driver-"))
    (conf / "log4j2.properties").write_text("")
    assert not jvm_archive._plain_classpath()
    (conf / "log4j2.properties").unlink()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(tmp_path))
    assert not jvm_archive._plain_classpath()


def test_reused_context_does_no_archive_work(spark, monkeypatch):
    """getOrCreate on a live SparkContext launches no JVM, so the factory
    must not key, publish or build a view or an archive."""

    def boom(*a, **k):
        raise AssertionError("archive work on a reused context")

    for name in ("_stem", "_publish_view", "_build"):
        monkeypatch.setattr(jvm_archive, name, boom)
    assert session.get_spark(app_name="tests", master="local[4]", shuffle_partitions=4) is spark


def test_launch_options_scope_the_conf_dir_and_never_raise(tmp_path, monkeypatch):
    """On a hit the options name the archive, SPARK_CONF_DIR points at the
    empty conf dir and SPARK_HOME at the launch view, only inside the
    block; an unwritable cache warns and yields None instead of failing
    the launch."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a JVM exists
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    spark_home = os.environ.get("SPARK_HOME")
    archive = Path(jvm_archive._stem() + ".jsa")
    archive.parent.mkdir()
    archive.write_bytes(b"")
    with jvm_archive.driver_java_options() as opts:
        assert f"-XX:SharedArchiveFile={archive}" in opts
        assert os.environ["SPARK_CONF_DIR"] == str(archive.parent / "conf")
        assert os.environ["SPARK_HOME"] == str(archive.with_suffix(".home"))
        assert os.path.isfile(os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit"))
    assert "SPARK_CONF_DIR" not in os.environ
    assert os.environ.get("SPARK_HOME") == spark_home

    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    with pytest.warns(UserWarning, match="unavailable"):
        with jvm_archive.driver_java_options() as opts:
            assert opts is None and "SPARK_CONF_DIR" not in os.environ


def test_unpublishable_view_warns_and_keeps_spark_home(tmp_path, monkeypatch):
    """A launch with a real file in its conf dir maps no archive but still
    starts from the view, its conf dir untouched.  When the view cannot be
    published (the cache is not a directory), the launch warns and the
    options leave SPARK_HOME unchanged, so it starts from $SPARK_HOME."""
    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a JVM exists
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    spark_home = os.environ.get("SPARK_HOME")
    with jvm_archive.driver_java_options() as opts:
        assert opts is None and os.environ["SPARK_CONF_DIR"] == str(conf)
        view = Path(os.environ["SPARK_HOME"])
    assert view.parent == tmp_path / "cache" / "spark_graft" and view.suffix == ".home"
    assert view.is_dir() and _archives(tmp_path / "cache") == []
    assert os.environ.get("SPARK_HOME") == spark_home

    (tmp_path / "file").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    with pytest.warns(UserWarning, match="launch view unavailable"):
        with jvm_archive.driver_java_options() as opts:
            assert opts is None and os.environ.get("SPARK_HOME") == spark_home


def test_failed_build_is_remembered(tmp_path, monkeypatch):
    """A build the child reports as failed leaves no part, warns, and
    writes the marker that stops later starts from paying for it again."""
    store = tmp_path / "spark_graft"
    archive = str(store / "driver-k.jsa")
    store.mkdir()
    monkeypatch.setattr(jvm_archive, "_CHILD", "import sys; sys.exit('no archive here')")
    with pytest.warns(UserWarning, match="build failed"):
        assert not jvm_archive._build(archive, str(store / "conf"), str(store / "home"))
    assert sorted(p.name for p in store.iterdir()) == ["driver-k.failed"]
    assert "no archive here" in (store / "driver-k.failed").read_text()

    def boom(*a, **k):
        raise AssertionError("rebuilt after a remembered failure")

    monkeypatch.setattr(jvm_archive.subprocess, "run", boom)
    assert not jvm_archive._build(archive, str(store / "conf"), str(store / "home"))


def test_sweep_keeps_only_the_new_archive_and_live_parts(tmp_path):
    """Publishing a key removes other keys' archives, launch records,
    markers and launch views (directories of links, removed without
    touching their targets) and dead builders' parts; the key's own view
    and record, another process's in-flight parts and files that are not
    archives stay."""
    keep = tmp_path / "driver-new.jsa"
    names = [
        "driver-new.jsa",
        "driver-new.launch",
        "driver-old.jsa",
        "driver-old.launch",
        "driver-old.failed",
        "driver-new.jsa.aaa.part",  # in flight
        "driver-new.launch.aaa.part",  # in flight
        "driver-old.jsa.bbb.part",  # dead builder
        "notes.txt",
    ]
    for n in names:
        (tmp_path / n).write_text("x")
    (tmp_path / "conf").mkdir()
    for view in ("driver-new.home", "driver-old.home"):
        (tmp_path / view / "jars").mkdir(parents=True)
        (tmp_path / view / "jars" / "a.jar").symlink_to(tmp_path / "notes.txt")
    stale = time.time() - 2 * jvm_archive.BUILD_TIMEOUT_S
    os.utime(tmp_path / "driver-old.jsa.bbb.part", (stale, stale))
    jvm_archive._sweep(str(keep))
    assert sorted(p.name for p in tmp_path.iterdir()) == [
        "conf",
        "driver-new.home",
        "driver-new.jsa",
        "driver-new.jsa.aaa.part",
        "driver-new.launch",
        "driver-new.launch.aaa.part",
        "notes.txt",
    ]
    assert (tmp_path / "notes.txt").read_text() == "x"


def test_launch_view_leaves_out_spark_mllib(tmp_path, monkeypatch):
    """The view links every top-level entry of $SPARK_HOME but jars/, and
    every jar but spark-mllib's and the signed ones, which it holds as
    unsigned copies; adding a jar changes the key.  A publisher that loses
    the rename to a concurrent one uses the winner's view and leaves no
    part behind."""
    home = tmp_path / "spark"
    (home / "bin").mkdir(parents=True)
    (home / "RELEASE").write_text("Spark\n")
    (home / "jars").mkdir()
    for jar in ("spark-mllib_2.13-4.1.2.jar", "spark-core_2.13-4.1.2.jar", "janino-3.1.9.jar"):
        (home / "jars" / jar).write_bytes(b"PK")
    entries = {
        "META-INF/MANIFEST.MF": b"Manifest-Version: 1.0\n",
        "META-INF/DUMMY.SF": b"signature",
        "META-INF/dummy.dsa": b"signature block",
        "org/codehaus/Compiler.class": b"\xca\xfe\xba\xbe",
    }
    with zipfile.ZipFile(home / "jars" / "commons-compiler-3.1.9.jar", "w") as z:
        for name, data in entries.items():
            z.writestr(name, data)
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    stem = jvm_archive._stem()
    (tmp_path / "cache" / "spark_graft").mkdir(parents=True)
    view = Path(jvm_archive._publish_view(str(home), stem + ".home"))
    assert sorted(p.name for p in view.iterdir()) == ["RELEASE", "bin", "jars"]
    assert (view / "bin").resolve() == (home / "bin").resolve()
    assert sorted(p.name for p in (view / "jars").iterdir()) == [
        "commons-compiler-3.1.9.jar",
        "janino-3.1.9.jar",
        "spark-core_2.13-4.1.2.jar",
    ]
    assert (view / "jars" / "janino-3.1.9.jar").resolve() == (home / "jars" / "janino-3.1.9.jar").resolve()
    unsigned = view / "jars" / "commons-compiler-3.1.9.jar"
    assert not unsigned.is_symlink()
    with zipfile.ZipFile(unsigned) as z:
        assert {n: z.read(n) for n in z.namelist()} == {
            n: data for n, data in entries.items() if n.startswith(("META-INF/MAN", "org/"))
        }

    (home / "jars" / "extra.jar").write_bytes(b"PK")
    grown = jvm_archive._stem()
    assert grown != stem

    rename = os.rename

    def lose(part, dest):  # a concurrent publisher renames its view first
        shutil.copytree(view, dest, symlinks=True)
        rename(part, dest)

    monkeypatch.setattr(jvm_archive.os, "rename", lose)
    won = grown + ".home"
    assert jvm_archive._publish_view(str(home), won) == won
    assert sorted(os.listdir(Path(won) / "jars")) == [
        "commons-compiler-3.1.9.jar",
        "janino-3.1.9.jar",
        "spark-core_2.13-4.1.2.jar",
    ]
    assert not list(view.parent.glob("*.part"))
