"""Class-data-sharing archive for the driver JVM that :func:`session.get_spark`
launches.

About nine tenths of a cold driver start (gateway launch, SparkContext,
SparkSession, the first action) is the JVM loading, verifying and
interpreting Spark's classes, not this engine's code.  A JDK 17 dynamic
AppCDS archive stores those classes already parsed and verified, and a later
JVM maps it instead of redoing that work: it is a cache of JVM classes, as
``__pycache__`` is of Python bytecode.

The archive holds the classes a driver loads through start-up plus one noop
action.  It lives in the per-user cache
``${XDG_CACHE_HOME:-~/.cache}/spark_graft/`` (not the temp dir, which each
benchmark set-up gets fresh):

* ``driver-<key>.jsa`` — a published archive.  The key hashes ``java.home``,
  the JDK's module image and JVM library, and every jar the launch view
  links (path, size, mtime), so a JDK or Spark upgrade builds a new
  archive, and publishing it sweeps the old one.
* ``driver-<key>.home/`` — the launch view of ``$SPARK_HOME`` that every
  launch starts from: a symlink to every top-level entry but ``jars/``,
  and a ``jars/`` with a symlink to every entry of ``$SPARK_HOME/jars``
  except ``spark-mllib_*.jar``.  spark-mllib registers a session-extensions
  provider whose static initialiser builds Scala's runtime-reflection
  universe and ML encoders at every SparkSession start; no query of this
  engine uses ML.  A signed jar (one carrying ``META-INF/*.SF``, ``.RSA``,
  ``.DSA`` or ``.EC``: Janino's two jars) is an unsigned copy instead of a
  link, because JDK 17 archives no class of a signed jar and Janino's
  classes would otherwise load and verify from the jar in every driver's
  first action.  Dropping the signature is safe here: the copy holds the
  same local bytes the JVM reads today, and the JVM checks a jar's
  signature only to record signers, which nothing on the driver (no
  security manager, no policy) consults.  The view is published like an
  archive: built under ``driver-<key>.home.<uuid>.part``, then renamed
  into place, and a publisher that loses the rename uses the winner's
  view.
* ``driver-<key>.launch`` — what Spark's launcher puts into every driver
  command of this view (the java binary, the classpath, its fixed JVM
  options and the environment ``load-spark-env.sh`` exports), recorded
  from one run of ``org.apache.spark.launcher.Main`` by the build and
  published just before the archive.
* ``driver-<key>.jsa.<uuid>.part``, ``driver-<key>.launch.<uuid>.part`` —
  a build in flight.
* ``driver-<key>.failed`` — a build for this key failed (its stderr tail is
  inside); later starts skip the archive instead of paying for the build
  again.
* ``conf/`` — an empty directory, the SPARK_CONF_DIR of archived launches.

Delete the directory to start over.

Every launch starts with SPARK_HOME pointed at the view, so its classpath
is the conf dir plus the view's jars (plus whatever extra classpath the
caller set), and the JVM keeps the view in its environment (its Python
workers find ``python/lib/pyspark.zip`` through it).  With SPARK_CONF_DIR
unset, the conf dir is the view's ``conf`` link, so a real
``spark-defaults.conf`` is read as before.  Only launches whose classpath
would be the conf dir plus ``$SPARK_HOME/jars``, with a conf dir that holds
nothing but ``*.template`` files (which Spark never reads), also map the
archive.  JDK 17 refuses to dump or map an archive with a non-empty
directory on the classpath, so those point SPARK_CONF_DIR at the empty
``conf/``.  When the view cannot be published (an ``OSError``, such as an
unwritable cache), the launch warns and starts from ``$SPARK_HOME`` itself,
spark-mllib included, so its SparkSession start pays for spark-mllib's
session-extensions provider.

A launch that maps the archive, and whose ``PYSPARK_SUBMIT_ARGS`` hold
nothing but ``--driver-java-options … pyspark-shell``, starts the driver JVM
itself, straight into ``PythonGatewayServer`` (:func:`_start_gateway`): the
recorded java, classpath and fixed options, plus ``$SPARK_SUBMIT_OPTS``, the
heap, the driver java options and every conf as a ``-D`` system property
with what SparkSubmit adds for a pyspark-shell client.  That is the command
and the system properties spark-submit would give the same driver, without
bash, the launcher JVM and SparkSubmit's own start (its classes and its Ivy
settings).  The one difference is the gateway's context class loader:
SparkSubmit installs a ``MutableURLClassLoader`` holding the ``--jars``,
none for these launches, so it delegates every class to the application
class loader that a direct launch uses as is.  Every other launch goes
through pyspark's spark-submit launch.

On a miss a child Python process starts Spark from the view with
``-XX:ArchiveClassesAtExit`` on a unique ``.part`` path, runs the noop
action, stops, waits for its JVM to exit (the JVM writes the archive on its
way out), checks that a fresh JVM maps the part with ``-Xshare:on
-XX:+VerifySharedSpaces`` and records the launcher's command.  Only then
does the parent publish the record and the archive, each with one atomic
``os.replace`` (the pattern of ``io.staged_dir``): a truncated archive
with an intact header crashes the JVM with SIGBUS even under
VerifySharedSpaces, so a partial file must never sit at the final path.
Concurrent misses each build their own part and the last rename wins.
"""

from __future__ import annotations

import contextlib
import fnmatch
import hashlib
import json
import os
import re
import shlex
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid
import warnings
import zipfile

from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.serializers import UTF8Deserializer, read_int

#: JVM unified logging to stderr, warnings kept.  The archive dump warns once
#: per class it skips (signed jars, pre-JDK-6 class files) and a rejected
#: archive warns at start, by default on stdout, which callers such as the
#: benchmark's set-up child parse.
LOG_OPTIONS = "-Xlog:disable -Xlog:all=warning:stderr"

#: Environment the launcher turns into classpath entries beyond the conf dir
#: and ``$SPARK_HOME/jars``; a launch with any of them set starts as today.
_CLASSPATH_ENV = (
    "SPARK_DIST_CLASSPATH",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
)

#: The jar the launch view leaves out of ``$SPARK_HOME/jars``.
LEFT_OUT_JAR = "spark-mllib_*.jar"

#: The entries that make a jar signed (the JDK matches them case-blind).
_SIGNATURE = re.compile(r"META-INF/[^/]+\.(SF|RSA|DSA|EC)", re.IGNORECASE)

#: The main class spark-submit runs for a pyspark-shell client.
GATEWAY_CLASS = "org.apache.spark.api.python.PythonGatewayServer"

#: One run of Spark's launcher as ``bin/spark-class`` runs it: the
#: environment ``load-spark-env.sh`` leaves, an empty entry, then what the
#: launcher prints for a pyspark-shell client: messages, a ``\0\n`` line,
#: and the NUL-separated command.
_LAUNCHER = (
    '. "$SPARK_HOME/bin/load-spark-env.sh"; env -0; printf "\\0"; '
    'exec "${JAVA_HOME:+$JAVA_HOME/bin/}java" -Xmx128m -cp "$SPARK_HOME/jars/*" '
    "org.apache.spark.launcher.Main org.apache.spark.deploy.SparkSubmit pyspark-shell"
)

#: Seconds a build may take: a cold start, one action, the dump and the
#: check.  A ``.part`` file older than this belongs to no live builder.
BUILD_TIMEOUT_S = 90

_CHILD = (
    "import sys\n"
    "from google_analytics_dataframes_spark import jvm_archive\n"
    "jvm_archive._build_child(sys.argv[1], sys.argv[2])\n"
)


def _plain_classpath() -> bool:
    """True when the next launch's classpath is a templates-only conf dir
    plus ``$SPARK_HOME/jars``, the only classpath an archive can match:
    no extra classpath entries and no real file in the conf dir."""
    if any(os.environ.get(v) for v in _CLASSPATH_ENV):
        return False
    submit = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if "--driver-class-path" in submit or "extraClassPath" in submit:
        return False
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        return all(n.endswith(".template") for n in os.listdir(conf))
    except FileNotFoundError:
        return True


def _stem() -> str | None:
    """``<cache>/spark_graft/driver-<key>``, the path of the next launch's
    view and archive without their suffixes, or None when there is no JDK
    or Spark jars to key on."""
    # the launcher runs $JAVA_HOME/bin/java, else the java on PATH
    java = os.environ.get("JAVA_HOME")
    java = os.path.join(java, "bin", "java") if java else shutil.which("java")
    if not java:
        return None
    java_home = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    key = hashlib.sha256(java_home.encode())
    try:
        files = [
            os.path.join(java_home, "lib", "modules"),
            os.path.join(java_home, "lib", "server", "libjvm.so"),
        ]
        files += _view_jars(_find_spark_home())
        for f in files:
            st = os.stat(f)
            key.update(f"{f}\0{st.st_size}\0{st.st_mtime_ns}\0".encode())
    except OSError:
        return None
    # an archive dumped from $SPARK_HOME/jars itself never matches the
    # view's classpath, even where no jar is left out; an archive of a view
    # with signed jars has no launch record and none of their classes
    key.update(b"view\0unsigned\0launch\0")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(cache, "spark_graft", f"driver-{key.hexdigest()[:20]}")


def _view_jars(spark_home: str) -> list[str]:
    """The entries of ``$SPARK_HOME/jars`` the launch view links, sorted."""
    jars = os.path.join(os.path.abspath(spark_home), "jars")
    return sorted(e.path for e in os.scandir(jars) if not fnmatch.fnmatchcase(e.name, LEFT_OUT_JAR))


def _publish_view(spark_home: str, view: str) -> str:
    """Return ``view``, the launch view of ``spark_home``, building and
    publishing it first if it does not exist (see the module docstring).
    Raises OSError when it can be neither built nor found."""
    if os.path.isdir(view):
        return view
    part = f"{view}.{uuid.uuid4().hex}.part"
    home = os.path.abspath(spark_home)
    try:
        os.mkdir(part)
        for e in os.scandir(home):
            if e.name != "jars":
                os.symlink(e.path, os.path.join(part, e.name))
        os.mkdir(os.path.join(part, "jars"))
        for jar in _view_jars(home):
            dest = os.path.join(part, "jars", os.path.basename(jar))
            if not _unsigned_copy(jar, dest):
                os.symlink(jar, dest)
        os.rename(part, view)
    except OSError:
        shutil.rmtree(part, ignore_errors=True)
        if not os.path.isdir(view):  # else a concurrent publisher won the rename
            raise
    return view


def _unsigned_copy(jar: str, dest: str) -> bool:
    """Write ``jar`` to ``dest`` without its signature entries and return
    True; False, writing nothing, when ``jar`` is not a signed jar."""
    try:
        with zipfile.ZipFile(jar) as src:
            entries = src.infolist()
            if not any(_SIGNATURE.fullmatch(e.filename) for e in entries):
                return False
            with zipfile.ZipFile(dest, "w") as out:
                for e in entries:
                    if not _SIGNATURE.fullmatch(e.filename):
                        out.writestr(e, src.read(e))
    except (IsADirectoryError, zipfile.BadZipFile):  # not a jar: linked as is
        return False
    return True


def launches_jvm() -> bool:
    """True when the next SparkContext start launches the driver JVM: no
    live gateway, and no driver that spark-submit started."""
    from pyspark import SparkContext

    return SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ


@contextlib.contextmanager
def _environ(values: dict[str, str]):
    """Set ``values`` in ``os.environ`` until the block exits."""
    saved = {v: os.environ.get(v) for v in values}
    os.environ.update(values)
    try:
        yield
    finally:
        for v, value in saved.items():
            if value is None:
                del os.environ[v]
            else:
                os.environ[v] = value


@contextlib.contextmanager
def driver_java_options(builder=None):
    """Wrap the launch of the driver JVM (the builder's ``getOrCreate``).

    Publishes the launch view and points SPARK_HOME at it until the block
    exits.  When the launch qualifies for the archive (:func:`_plain_classpath`)
    it also builds and publishes the archive on a miss, points
    SPARK_CONF_DIR at the empty conf dir, and yields the JVM options that
    map the archive; otherwise it yields None.  Given the ``builder`` that
    will launch, it sets those options as the builder's
    ``spark.driver.defaultJavaOptions`` and, before yielding, starts the
    driver JVM directly where :func:`_start_gateway` can.  Changes nothing
    and yields None when no JVM will be launched (a live gateway, or a
    driver that spark-submit started).  A failure of the cache never fails
    the launch: an ``OSError`` (an unwritable cache) warns, and a view that
    cannot be published leaves the launch to start from ``$SPARK_HOME``,
    spark-mllib included.  A driver JVM that exits before its gateway is up
    raises pyspark's ``JAVA_GATEWAY_EXITED``, as a spark-submit launch does."""
    launch_env, options = {}, None
    if launches_jvm():
        try:
            stem = _stem()
            if stem is not None:
                os.makedirs(os.path.dirname(stem), exist_ok=True)
                home = launch_env["SPARK_HOME"] = _publish_view(_find_spark_home(), stem + ".home")
                if _plain_classpath():
                    archive = stem + ".jsa"
                    conf = os.path.join(os.path.dirname(stem), "conf")
                    os.makedirs(conf, exist_ok=True)
                    if os.path.exists(archive) or _build(archive, conf, home):
                        launch_env["SPARK_CONF_DIR"] = conf
                        options = f"{LOG_OPTIONS} -XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces"
        except OSError as e:  # an unreadable conf dir, an unwritable cache
            lost = "class archive" if launch_env else "launch view"
            warnings.warn(f"JVM {lost} unavailable, starting without it: {e}")
    with _environ(launch_env):
        if options and builder is not None:
            # prepended to the caller's --driver-java-options, not replacing them
            builder.config("spark.driver.defaultJavaOptions", options)
            _start_gateway(stem + ".launch", builder._options)
        yield options


def _start_gateway(record: str, confs: dict[str, str]) -> None:
    """Start the driver JVM straight into its py4j gateway, with the
    command and system properties spark-submit would give it, and hand the
    gateway to pyspark.  ``record`` is the view's launch record and
    ``confs`` the builder's confs.  Starts nothing, leaving the launch to
    spark-submit, when there is no record or ``PYSPARK_SUBMIT_ARGS`` holds
    more than ``--driver-java-options … pyspark-shell``, or when java
    options set a heap size, which spark-submit rejects with its own
    error.  As in pyspark's launch, the JVM ignores SIGINT and exits when
    its stdin, a pipe from this process, closes: ``gateway.proc`` is the
    JVM."""
    from pyspark import SparkContext, java_gateway

    try:
        with open(record) as f:
            launcher = json.load(f)
    except FileNotFoundError:
        return
    match shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")):
        case ["pyspark-shell"]:
            extra = {}
        case ["--driver-java-options", options, "pyspark-shell"]:
            extra = {"spark.driver.extraJavaOptions": options}
        case _:
            return
    java_options = [confs["spark.driver.defaultJavaOptions"], *extra.values()]
    if any("Xmx" in o for o in java_options):
        return
    # what SparkSubmit sets for a pyspark-shell client besides the confs
    props = {
        **confs,
        **extra,
        "SPARK_SUBMIT": "true",
        "spark.submit.deployMode": "client",
        "spark.submit.pyFiles": "",
        "spark.ui.showConsoleProgress": "true",
        "spark.app.submitTime": str(time.time_ns() // 1_000_000),
    }
    command = [
        launcher["java"], "-cp", launcher["classpath"],
        *shlex.split(os.environ.get("SPARK_SUBMIT_OPTS", "")),
        f"-Xmx{confs['spark.driver.memory']}",
        *(a for o in java_options for a in shlex.split(o)),
        *launcher["options"],
        *(f"-D{k}={v}" for k, v in props.items()),
        GATEWAY_CLASS,
    ]
    conn_dir = tempfile.mkdtemp()
    conn = os.path.join(conn_dir, "gateway")
    # bin/spark-submit exports PYTHONHASHSEED for the driver's Python workers
    env = dict(os.environ, **launcher["env"], PYTHONHASHSEED="0", SPARK_CONNECT_MODE="0")
    env["_PYSPARK_DRIVER_CONN_INFO_PATH"] = conn
    try:
        jvm = subprocess.Popen(
            command,
            stdin=subprocess.PIPE,
            env=env,
            preexec_fn=lambda: signal.signal(signal.SIGINT, signal.SIG_IGN),
        )
        # pyspark polls every 100 ms; the JVM renames the file into place
        while jvm.poll() is None and not os.path.isfile(conn):
            time.sleep(0.005)
        if not os.path.isfile(conn):
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        with open(conn, "rb") as f:
            port, secret = read_int(f), UTF8Deserializer().loads(f)
    finally:
        shutil.rmtree(conn_dir)
    # pyspark's launch connects to a running gateway the same way
    with _environ({"PYSPARK_GATEWAY_PORT": str(port), "PYSPARK_GATEWAY_SECRET": secret}):
        gateway = java_gateway.launch_gateway()
    gateway.proc = jvm
    SparkContext._ensure_initialized(gateway=gateway)


def _build(archive: str, conf: str, home: str) -> bool:
    """Build ``archive`` and its launch record in a child process that
    launches from the view ``home``, and publish both; False, with a
    warning, when the build fails.  A failure the child reports leaves the
    ``.failed`` marker; a killed or timed-out child leaves nothing and the
    next start tries again."""
    failed = archive[: -len(".jsa")] + ".failed"
    if os.path.exists(failed):
        return False
    record = archive[: -len(".jsa")] + ".launch"
    build = uuid.uuid4().hex
    archive_part, record_part = (f"{p}.{build}.part" for p in (archive, record))
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_CONF_DIR=conf, SPARK_HOME=home)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p)
    # the child's stderr goes to a file, not a pipe: a JVM orphaned by a
    # killed child would hold a pipe open until it exits
    with tempfile.TemporaryFile("w+", errors="replace") as log:
        try:
            child = subprocess.run(
                [sys.executable, "-c", _CHILD, archive_part, record_part],
                env=env,
                stdin=subprocess.DEVNULL,
                stdout=subprocess.DEVNULL,
                stderr=log,
                timeout=BUILD_TIMEOUT_S,
            )
        except subprocess.TimeoutExpired:
            child = None
        if child is not None and child.returncode == 0:
            os.replace(record_part, record)  # first: a published archive has its record
            os.replace(archive_part, archive)
            _sweep(archive)
            return True
        if child is None:
            reason = f"timed out after {BUILD_TIMEOUT_S} s"
        elif child.returncode < 0:
            reason = f"killed by signal {-child.returncode}"
        else:
            log.seek(0)
            with open(failed, "w") as f:
                f.write(log.read()[-4000:])
            reason = f"exit status {child.returncode}, see {failed}"
    for part in (archive_part, record_part):
        with contextlib.suppress(FileNotFoundError):
            os.unlink(part)
    warnings.warn(f"JVM class archive build failed ({reason}); starting without it")
    return False


def _sweep(keep: str) -> None:
    """Remove other keys' archives, records, markers and views, and parts
    no live builder owns.  Another process's in-flight part (an archive, a
    record or a view) is younger than the build timeout and stays.  A JVM
    that has an old archive mapped keeps its mapping after the unlink."""
    now = time.time()
    stem = keep[: -len(".jsa")]
    for e in os.scandir(os.path.dirname(keep)):
        if not e.name.startswith("driver-") or e.path in (keep, stem + ".home", stem + ".launch"):
            continue
        with contextlib.suppress(OSError):
            if e.name.endswith(".part") and now - e.stat().st_mtime < BUILD_TIMEOUT_S:
                continue
            if e.is_dir(follow_symlinks=False):
                shutil.rmtree(e.path)  # removes a view's links, never their targets
            else:
                os.unlink(e.path)


def _build_child(part: str, record: str) -> None:
    """Entry point of the build child: one driver start with the dump
    armed, one noop action, stop, then wait for the JVM to exit.  Exits 0
    only when the JVM exited cleanly, a fresh JVM maps the part and the
    launch ``record`` is written."""
    from pyspark import SparkContext

    from google_analytics_dataframes_spark import session

    spark = (
        session._builder()
        .config(
            "spark.driver.defaultJavaOptions",
            f"{LOG_OPTIONS} -XX:ArchiveClassesAtExit={part}",
        )
        .getOrCreate()
    )
    session.configure(spark)
    spark.range(1).write.format("noop").mode("overwrite").save()
    system = spark._jvm.java.lang.System
    java = os.path.join(system.getProperty("java.home"), "bin", "java")
    classpath = system.getProperty("java.class.path")
    spark.stop()
    jvm = SparkContext._gateway.proc
    jvm.stdin.close()  # the gateway exits on EOF
    status = jvm.wait(BUILD_TIMEOUT_S)
    if status < 0:  # killed: die of the same signal, so the next start retries
        os.kill(os.getpid(), -status)
    if status != 0:
        sys.exit(f"driver JVM exited with status {status} while writing {part}")
    check = subprocess.run(
        [java, "-Xshare:on", f"-XX:SharedArchiveFile={part}",
         "-XX:+VerifySharedSpaces", f"-XX:ErrorFile={part}.crash.log",
         "-cp", classpath, "-version"],
        capture_output=True,
        text=True,
        errors="replace",
        timeout=BUILD_TIMEOUT_S,
    )
    if check.returncode != 0:
        sys.exit(f"a fresh JVM rejects {part}: {check.stdout[-2000:]}{check.stderr[-2000:]}")
    with open(record, "w") as f:
        json.dump(_launcher_command(), f)


def _launcher_command() -> dict:
    """What Spark's launcher puts into every driver command from this
    process's SPARK_HOME and SPARK_CONF_DIR: the java binary, the
    classpath, the JVM options it always adds (module options and the
    like), and the ``SPARK_*`` variables ``load-spark-env.sh`` exports.
    The run sees no other environment, so nothing a caller sets per launch
    (SPARK_SUBMIT_OPTS, the driver memory) lands in the record."""
    given = {v: os.environ[v] for v in ("PATH", "JAVA_HOME", "SPARK_HOME", "SPARK_CONF_DIR") if v in os.environ}
    # stdin is a pipe, as in every launch (load-spark-env.sh looks at it)
    out = subprocess.run(
        ["bash", "-c", _LAUNCHER], env=given, input=b"", capture_output=True, check=True, timeout=BUILD_TIMEOUT_S
    ).stdout.decode()
    exported, _, printed = out.partition("\0\0")
    command = printed.partition("\0\n")[2]  # what precedes it, spark-class echoes
    java, cp, classpath, heap, *options, main, resource = command.split("\0")[:-1]
    if (cp, heap[:4], main, resource) != ("-cp", "-Xmx", "org.apache.spark.deploy.SparkSubmit", "pyspark-shell"):
        raise ValueError(f"unexpected launcher command: {command!r}")
    env = dict(e.split("=", 1) for e in exported.split("\0"))
    return {
        "java": java,
        "classpath": classpath,
        "options": options,
        "env": {k: v for k, v in env.items() if k.startswith("SPARK_") and given.get(k) != v},
    }
