"""protobuf runtime arming for ``transformWithStateInPandas``.

The TWS Python state-server protocol needs the ``google.protobuf`` runtime
(``pyspark/sql/streaming/proto/StateMessage_pb2.py`` imports it at module
import).  This container has no wheel and no pip, but hosts commonly carry a
PURE-PYTHON protobuf runtime vendored by other tooling (e.g. Google Cloud
SDK's bundled App Engine platform ships one under
``platform/google_appengine/google/protobuf`` — runtime_version.py,
internal/builder.py, no C extension).  This module finds such a runtime and
makes it importable in every interpreter a TWS query touches:

* the DRIVER process — :func:`ensure_protobuf` (sys.path append + no-op of
  the gencode minor-version gate);
* fresh WORKER interpreters (the TWS driver-side pre-init worker AND the
  executor task workers) — :func:`armed_worker_env`, which works on an
  ALREADY-RUNNING session: PySpark captures ``sc.environment`` into every
  serialized python function's ``envVars`` at PLAN-CONSTRUCTION time
  (``core/rdd.py::_prepare_for_python_RDD``), and the JVM launches python
  workers/daemons with exactly those envVars — so a ``sitecustomize`` shim
  dir placed on ``sc.environment['PYTHONPATH']`` while the TWS plan is being
  built reaches every interpreter the runners spawn, with no pre-JVM
  ``$PYTHONPATH`` requirement.

Three wrinkles, found the hard way:

1. Spark jars on worker ``sys.path`` contain ``google/protobuf/*.proto``
   RESOURCES, so ``import google.protobuf`` can succeed as an EMPTY
   namespace package (``__file__ is None``) that shadows nothing useful —
   presence must be tested as "imported AND has a ``__file__``".
2. pyspark 4.1's gencode is 6.33; a 6.32 runtime fails
   ``ValidateProtobufRuntimeVersion`` on a minor-version gap even though the
   wire format and builder API are identical — the shim no-ops the check.
3. The TWS *driver worker* (``transform_with_state_driver_worker``) imports
   the gencode at interpreter start, BEFORE the python-includes machinery
   runs — so ``sc.addPyFile`` cannot arm it (measured: the pre-init runner
   crashes); only an env-var visible at interpreter start can, hence the
   sitecustomize route.
"""

from __future__ import annotations

import os
import sys
from contextlib import contextmanager
from typing import Iterator

FALLBACK_RUNTIME_DIRS = [
    # dirs whose google/protobuf/ holds a pure-python runtime (>=5.27: has
    # runtime_version.py); first hit wins.  Extend via env var below.
    "/usr/lib/google-cloud-sdk/platform/google_appengine",
]
ENV_VAR = "SPARK_GRAFT_PROTOBUF_DIR"

SITECUSTOMIZE_SRC = '''\
"""Auto-generated by google_analytics_dataframes_spark.streaming.tws_runtime:
makes a vendored pure-python google.protobuf importable in Spark Python
workers when the real wheel is absent.  Safe no-op otherwise."""
import os, sys

def _ensure_protobuf():
    try:
        import google.protobuf
        if getattr(google.protobuf, "__file__", None):
            return  # real runtime present
    except ImportError:
        pass
    # either absent, or a jar/zip on sys.path exposed google/protobuf/*.proto
    # resources as an EMPTY namespace package (__file__ None)
    for p in {dirs!r}:
        if os.path.isdir(os.path.join(p, "google", "protobuf")):
            break
    else:
        return
    if p not in sys.path:
        sys.path.append(p)
    for k in list(sys.modules):
        if k == "google" or k.startswith("google."):
            del sys.modules[k]
    try:
        from google.protobuf import runtime_version as _rv
        _rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
    except Exception:
        pass

_ensure_protobuf()
'''


def _candidate_dirs() -> list[str]:
    dirs = list(FALLBACK_RUNTIME_DIRS)
    env = os.environ.get(ENV_VAR)
    if env:
        dirs.insert(0, env)
    return [
        d
        for d in dirs
        if os.path.isfile(os.path.join(d, "google", "protobuf", "runtime_version.py"))
    ]


def ensure_protobuf() -> bool:
    """Make ``google.protobuf`` importable in the CURRENT process.

    Returns True when a real (non-namespace) runtime is importable, via the
    wheel or a vendored fallback; False when neither exists (callers skip)."""
    try:
        import google.protobuf

        if getattr(google.protobuf, "__file__", None):
            return True
    except ImportError:
        pass
    dirs = _candidate_dirs()
    if not dirs:
        return False
    if dirs[0] not in sys.path:
        sys.path.append(dirs[0])
    for k in list(sys.modules):
        if k == "google" or k.startswith("google."):
            del sys.modules[k]
    try:
        from google.protobuf import runtime_version as _rv

        _rv.ValidateProtobufRuntimeVersion = lambda *a, **k: None
        import google.protobuf  # noqa: F401

        return True
    except Exception:
        return False


def _write_shim_dir() -> str:
    """Write the sitecustomize shim into a per-process temp dir; idempotent."""
    import tempfile

    shim_dir = os.path.join(tempfile.gettempdir(), f"spark_graft_pbshim_{os.getpid()}")
    os.makedirs(shim_dir, exist_ok=True)
    with open(os.path.join(shim_dir, "sitecustomize.py"), "w") as f:
        f.write(SITECUSTOMIZE_SRC.format(dirs=_candidate_dirs()))
    return shim_dir


@contextmanager
def armed_worker_env(spark) -> Iterator[None]:
    """Post-JVM route: while the context is open, ``sc.environment`` carries
    ``PYTHONPATH=<shim dir>`` so every python function WRAPPED inside the
    block bakes the shim into its envVars.  Restores on exit — envVars are
    captured per-UDF at wrap time, so later non-TWS queries keep their
    original env (and their already-warm worker daemons: a changed envVars
    dict would otherwise spawn a fresh daemon per query)."""
    if not ensure_protobuf():
        raise RuntimeError(
            "transformWithStateInPandas needs a google.protobuf runtime for "
            "its state-server protocol; neither the wheel nor a vendored "
            f"pure-python fallback is present (searched {FALLBACK_RUNTIME_DIRS}"
            f" + ${ENV_VAR})"
        )
    env = spark.sparkContext.environment
    shim_dir = _write_shim_dir()
    prev = env.get("PYTHONPATH")
    joined = shim_dir if not prev else shim_dir + os.pathsep + prev
    env["PYTHONPATH"] = joined
    try:
        yield
    finally:
        if prev is None:
            env.pop("PYTHONPATH", None)
        else:
            env["PYTHONPATH"] = prev
