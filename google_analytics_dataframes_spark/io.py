"""Table catalog + loaders (SURVEY.md §1.3, FIXTURES.md).

The reference's "source" is a GA profile id (``ids="ga:XXXX"``) resolved over
HTTPS; ours is a directory of Parquet tables (BASELINE.json:7 "DataFrame ops
over Parquet").  Parquet self-describes its schema, so unlike the reference we
need no string->dtype coercion layer (SURVEY.md §1.2): the vectorized Parquet
reader hands Catalyst typed columnar batches, and column pruning / predicate
pushdown reach the scan for free.

Scale posture: loaders never collect; they return lazy DataFrames.  At 100 TB
the same code reads a partitioned table directory — partition pruning applies
because we filter on typed columns, not pre-collected python values.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from google_analytics_dataframes_spark.session import configure, state

#: Every driver-supplied table (TESTDATA.md:13-15 + documents/embeddings).
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Root of the driver-supplied scale-factor directories (TESTDATA.md); every
#: default dataset path in the repo is derived from it.
TESTDATA_DIR = "/root/testdata"

DEFAULT_SF_DIR = os.environ.get(
    "SPARK_GRAFT_SF_DIR", os.path.join(TESTDATA_DIR, "sf0.1")
)


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


_SCRATCH_BASE: str | None = None


def _pid_alive(pid: int) -> bool:
    """Portable liveness probe for the orphan scratch-dir sweep, via signal-0
    rather than /proc (ADVICE r9): on hosts without procfs (macOS, some
    containers) an ``exists('/proc/<pid>')`` test calls EVERY other live
    process dead and rmtree's its staging — reintroducing the concurrent
    bench-vs-sweep clobbering the pid suffix exists to prevent.
    ``kill(pid, 0)`` is POSIX-portable; PermissionError means the pid is
    alive under another uid, so unknown/odd outcomes fail SAFE (alive)."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except OSError:  # pragma: no cover - EPERM et al: treat as alive
        return True
    return True


def _scratch_base() -> str:
    """Per-process scratch root, chosen once and removed at interpreter exit.

    The PID suffix isolates concurrent processes (parallel pytest sessions,
    a sweep racing a bench) — without it two runs sharing a query name would
    rmtree each other's live checkpoints.  The atexit rmtree is what keeps a
    tmpfs-backed base from accumulating sink output + state stores across
    a long sweep; /dev/shm is typically capped at 50% RAM.  If tmpfs
    free space is already low at first use, fall back to the disk tempdir
    rather than risk exhausting it mid-run."""
    global _SCRATCH_BASE
    if _SCRATCH_BASE is None:
        import atexit
        import shutil
        import tempfile

        base = None
        if os.access("/dev/shm", os.W_OK):
            if shutil.disk_usage("/dev/shm").free >= 4 * 1024**3:
                base = "/dev/shm"
        if base is None:
            base = tempfile.gettempdir()
        # Sweep orphans: a crashed/killed process never runs its atexit
        # rmtree, and on tmpfs those bytes are RAM held until reboot.  Any
        # sibling scratch dir whose PID is no longer alive is fair game
        # (the PID suffix exists precisely to make liveness checkable).
        for entry in os.listdir(base):
            if not entry.startswith("spark_graft_scratch"):
                continue
            suffix = entry.removeprefix("spark_graft_scratch").lstrip("_")
            alive = suffix.isdigit() and _pid_alive(int(suffix))
            if not alive:  # also reaps the pre-PID-suffix legacy dir
                shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
        _SCRATCH_BASE = os.path.join(base, f"spark_graft_scratch_{os.getpid()}")
        os.makedirs(_SCRATCH_BASE, exist_ok=True)
        atexit.register(shutil.rmtree, _SCRATCH_BASE, ignore_errors=True)
    return _SCRATCH_BASE


def scratch_dir(name: str) -> str:
    """Ephemeral scratch directory for staging/checkpoint artifacts,
    RAM-backed when the host offers tmpfs (with headroom).

    The one home for per-call or mutable output (sink round-trips,
    checkpoints, per-run copies of a stream source, dirs a query
    overwrites): it sits under the per-process scratch root, so
    concurrent processes never share a path, and orphans of dead
    processes are reaped by the root's sweep.  Read-only fixtures shared
    across processes, stream sources included, use :func:`staged_dir`.

    Streaming state stores and checkpoint WALs fsync every microbatch
    commit; on a disk-backed /tmp that fsync IS the fixed cost (and the
    run-to-run variance) of the availableNow streaming queries.  On a
    single-node bench the durable artifact has no recovery value — the
    stream source is re-stageable — so we place it on /dev/shm when
    present.  On a real cluster this maps to the standard posture:
    executor-local SSD for state store working dirs, durable object
    storage ONLY for the checkpoints a restart must survive."""
    d = os.path.join(_scratch_base(), name)
    os.makedirs(d, exist_ok=True)
    return d


def table_fingerprint(sf_dir: str, name: str) -> str:
    """Short stable fingerprint of a table's source bytes (relative paths +
    sizes + mtimes, hashed).  Cache keys derived from a dataset MUST include
    this: a path-only key (e.g. the sf tag) silently serves stale results
    when the dataset is regenerated in place under the same directory."""
    import hashlib

    path = table_path(sf_dir, name)
    parts: list[str] = []
    if os.path.isdir(path):
        for root, _dirs, files in os.walk(path):
            for fn in sorted(files):
                p = os.path.join(root, fn)
                st = os.stat(p)
                parts.append(f"{os.path.relpath(p, path)}:{st.st_size}:{st.st_mtime_ns}")
    elif os.path.exists(path):
        st = os.stat(path)
        parts.append(f".:{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("\n".join(parts).encode()).hexdigest()[:16]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table as a lazy DataFrame (schema from Parquet footer).

    Timestamp normalization — the generator has shipped `events.ts` in two
    physical forms across rounds, and downstream code (`unix_micros`,
    watermarks, window ranges) requires a plain TIMESTAMP:

    * TIMESTAMP(NANOS,false): Spark's vectorized reader refuses it; with
      `nanosAsLong` (session.py) it arrives as a LONG of epoch-nanos.  We
      floor-divide to µs and rebuild a timestamp — the same truncation
      DuckDB applies reading ns parquet, so both engines see identical
      µs instants.
    * TIMESTAMP(MICROS,isAdjustedToUTC=false): Spark ≥3.4 infers
      TIMESTAMP_NTZ.  The session timezone is pinned to UTC (session.py),
      so casting NTZ→TIMESTAMP is value-preserving and matches DuckDB,
      which reads the same column as a naive timestamp treated as UTC."""
    # Lazy-PLAN memo in the session's state: this caches METADATA ONLY —
    # the analyzed read plan (file listing + footer schema), never rows:
    # every action on the returned frame still scans the parquet.  Each
    # ``spark.read.parquet`` costs ~107 ms of schema inference and listing
    # at sf0.1, paid per table reference per execution without the memo.
    # The byte fingerprint in the key (size+mtime hash, ~10 µs) means a
    # dataset regenerated in place mints a fresh entry instead of serving
    # a stale file listing — same contract as staged_dir.  At 100 TB this
    # is Spark's own ``filesourcePartitionFileCacheSize`` posture: list
    # once per session, not once per query.
    configure(spark)
    memo = state(spark)
    key = ("load_table", os.path.abspath(sf_dir), name, table_fingerprint(sf_dir, name))
    cached = memo.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(table_path(sf_dir, name))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    memo[key] = df
    return df


def fanout(
    df: DataFrame,
    min_partitions: int | None = None,
    by: tuple[str, ...] | None = None,
) -> DataFrame:
    """Guarantee at least ``min_partitions`` partitions ahead of compute-dense
    per-row work (hashing every shingle, 64 simhash bit-votes, Arrow UDF
    batches).

    Why: Spark splits files by byte range but a range only yields rows when a
    row-group midpoint falls inside it, so a single-row-group file — exactly
    what the sf<=0.1 microbench tables are — scans as ONE partition and a
    compute-bound projection runs on one core of local[32].  At 100 TB the
    scan arrives in thousands of row-group-backed splits and this helper is an
    explicit no-op (it never *reduces* partitioning, so it is safe to leave in
    the operator path); on tiny inputs it round-robins a few MB once to engage
    every core.  Cost model: one narrow shuffle of the projected columns vs an
    N-core speedup of the dominant stage.

    ``by`` (round 14, guide §2.5): when the caller knows a well-spread
    high-cardinality column, hash-partition on it instead of round-robin.
    Keyless ``repartition(n)`` first pays a local sort of its input
    (``spark.sql.execution.sortBeforeRepartition``, on by default since
    SPARK-23207, so retried map tasks reproduce their row-to-partition
    assignment); hash partitioning on a deterministic key needs no such
    sort and is retry-safe for free.  Measured on h1 at sf0.1: plain
    1.57 s, round-robin fanout 0.95 s, ``by=("l_orderkey",)`` 0.62 s.
    Same no-op-at-scale property as the keyless form.
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    n = _narrow_partition_count(df)
    if n is None or n >= min_partitions:
        return df
    if by:
        return df.repartition(min_partitions, *[F.col(c) for c in by])
    return df.repartition(min_partitions)


def _narrow_partition_count(df: DataFrame) -> int | None:
    """Partition count of ``df`` when probing it is free, else ``None``.

    ``df.rdd.getNumPartitions()`` is only safe on shuffle-free plans: under
    AQE, converting a post-shuffle DataFrame to an RDD forces
    ``getFinalPhysicalPlan()`` which EXECUTES the upstream query stages — a
    plan-build-time probe would silently run real jobs.  A plan that already
    contains a SHUFFLE exchange has ~``spark.sql.shuffle.partitions``
    partitions (or AQE-coalesced better), so the fanout floor is moot there:
    return None and let callers treat the input as already-wide.

    A *broadcast* exchange does NOT widen the probe side — a broadcast-join
    plan over a single-row-group scan still runs on one core — so only
    shuffle markers (``Exchange hashpartitioning`` / ``rangepartitioning`` /
    ``roundrobin`` / ``AQEShuffleRead``) disable the probe, not the bare
    substring ``Exchange`` (which would also match ``BroadcastExchange`` and
    silently turn fanout() into a no-op on narrow broadcast-join inputs).
    BroadcastExchange itself is driver-materialized lazily at execution, not
    by ``.rdd`` conversion of the probe side, so the probe stays free."""
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:  # pragma: no cover - py4j surface drift
        return None
    shuffle_markers = (
        "Exchange hashpartitioning",
        "Exchange rangepartitioning",
        "Exchange RoundRobinPartitioning",
        "Exchange SinglePartition",
        "AQEShuffleRead",
    )
    if any(m in plan for m in shuffle_markers):
        return None
    return df.rdd.getNumPartitions()


def fanout_by(df: DataFrame, *cols: str, min_partitions: int | None = None) -> DataFrame:
    """Like :func:`fanout`, but hash-partitions on ``cols`` instead of
    round-robin, so every downstream ``groupBy``/``Window.partitionBy`` whose
    keys contain ``cols`` is satisfied by this one exchange (Spark's
    ClusteredDistribution accepts hash partitioning on a *subset* of the
    grouping keys).

    Use when an operator explodes rows (tokens, shingles, n-grams) and then
    re-aggregates per source row: repartitioning the *compact* pre-explode
    side replaces a shuffle of the much larger exploded stream.  At 100 TB the
    exploded token stream is ~50x the document stream, so moving the exchange
    before the explode is a ~50x shuffle-volume cut, not a micro-optimisation.
    Never reduces the partition count (same safety property as ``fanout``).
    """
    if min_partitions is None:
        min_partitions = df.sparkSession.sparkContext.defaultParallelism
    cur = _narrow_partition_count(df)
    if cur is None:
        # post-exchange input: partition count is governed by
        # spark.sql.shuffle.partitions already; keep at least that.
        cur = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200"))
    n = max(min_partitions, cur)
    return df.repartition(n, *[F.col(c) for c in cols])


def write_clustered(
    df: DataFrame, path: str, cluster_by: list[str], num_files: int
) -> None:
    """Write parquet clustered on `cluster_by`: range-repartition on the
    cluster keys, sort within partitions, then write.  Each output file /
    row group then covers a narrow, near-disjoint range of the cluster
    keys, so parquet min/max statistics let later scans with predicates on
    those keys skip whole row groups (the poor-man's Z-order a 100 TB
    table needs before anyone queries it).

    Range repartition (vs hash) is what makes files key-DISJOINT: hash
    scatters every key range across all files and the stats cover
    everything -> no skipping.  `num_files` pins the range-partition count
    (size output files to ~128-1024 MB); a pinned count is never coalesced
    by AQE, which would otherwise collapse a small write into one file."""
    df.repartitionByRange(num_files, *cluster_by).sortWithinPartitions(
        *cluster_by
    ).write.mode("overwrite").parquet(path)


def morton_code(col_a, col_b, bits: int = 16):
    """Interleave the low ``bits`` bits of two non-negative integer columns
    into a Z-order (Morton) code — a space-filling-curve key whose RANGE
    locality approximates 2-D box locality: rows close in (a, b) space get
    close Morton codes, so range-partitioning on the code gives every
    output file a bounded extent in BOTH dimensions at once.

    Pure JVM-side bit arithmetic (shiftright/shiftleft/bitwise AND folded
    into one expression tree — whole-stage-codegen friendly, no UDF);
    callers pre-scale their keys into [0, 2^bits)."""
    from pyspark.sql import functions as F

    a = col_a.cast("long")
    b = col_b.cast("long")
    terms = []
    for j in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(a, j).bitwiseAND(F.lit(1)), 2 * j + 1)
        )
        terms.append(
            F.shiftleft(F.shiftright(b, j).bitwiseAND(F.lit(1)), 2 * j)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    num_files: int,
    bits: int = 16,
) -> None:
    """Write parquet Z-ORDERED on two keys: scale both keys to [0, 2^bits)
    ranks (min/max from a 1-row aggregate broadcast onto the scan — no
    driver round-trip), range-partition + sort on the interleaved Morton
    code, and write.  The 2-D generalization of :func:`write_clustered`:
    1-D range clustering gives tight row-group stats on ONE key while the
    other key spans everything in every file; the Z-order layout bounds
    BOTH keys' per-file extents, so predicates on EITHER key (or a 2-D
    box) prune files/row groups via footer stats —
    tests/test_plans.py::test_zorder_layout_prunes_both_dims asserts the
    property from the parquet footers.  This is the layout a 100 TB
    events table wants when queries filter sometimes by user, sometimes
    by day, usually by both."""
    from pyspark.sql import functions as F

    stats = df.agg(
        F.min(col_a).alias("_a_min"),
        F.max(col_a).alias("_a_max"),
        F.min(col_b).alias("_b_min"),
        F.max(col_b).alias("_b_max"),
    )
    top = F.lit((1 << bits) - 1)

    def scaled(c, lo, hi):
        # rank FULLY in double arithmetic — operands cast BEFORE any
        # subtraction: both (col-lo)*top and (hi-lo) overflow int64 for
        # near-full-range long keys (ANSI mode fails the job; non-ANSI
        # silently scrambles the Morton layout — code-review findings,
        # round 8).  Doubles lose integer exactness past 2^53, which only
        # blurs rank boundaries — the layout is approximate by
        # construction.
        span = F.greatest(
            F.col(hi).cast("double") - F.col(lo).cast("double"), F.lit(1.0)
        )
        return (
            (F.col(c).cast("double") - F.col(lo).cast("double")) * top / span
        ).cast("long")

    coded = df.join(F.broadcast(stats)).withColumn(
        "_morton",
        morton_code(
            scaled(col_a, "_a_min", "_a_max"),
            scaled(col_b, "_b_min", "_b_max"),
            bits,
        ),
    )
    out = coded.repartitionByRange(num_files, "_morton").sortWithinPartitions(
        "_morton"
    )
    out.drop("_morton", "_a_min", "_a_max", "_b_min", "_b_max").write.mode(
        "overwrite"
    ).parquet(path)


def staged_dir(sf_dir: str, table: str, name: str, build_fn) -> str:
    """Fingerprint-keyed, marker-cached fixture staging (the scan rows'
    layout copies, the rollup, every stream source): the cache path
    carries the sf tag AND the source table's byte fingerprint, so a regenerated
    dataset under the same sf tag re-materializes instead of serving a
    stale copy, and a `_SUCCESS` marker gates reuse so plan-only callers
    (plan audits, repeated query invocations) never pay the staging write
    twice.  ``build_fn(path)`` must produce the directory contents
    including the marker (Spark's parquet writer emits `_SUCCESS`
    itself).  ``name`` must be unique, and no ``{name}_{sf_tag}_`` may
    begin another fixture's path: the sweep below globs on it.

    The one home for read-only fixtures shared across processes; no
    caller writes into a published directory (per-call or mutable output
    goes to :func:`scratch_dir`).
    Cross-process safety (review r8): the path is SHARED /tmp, so the
    build goes into a unique scratch dir and publishes via one atomic
    rename — two racing processes each build their own copy and exactly
    one rename wins (the loser discards its build and reuses the
    winner's).  Building in place would let process B rmtree process A's
    in-flight output and interleave two writers into one directory.
    Stale fingerprints (a regenerated dataset mints a new cache key) are
    swept when a new build publishes, so repeated regenerations don't
    accumulate full staged copies in /tmp; in-flight ".build-" dirs of
    OTHER processes are never touched."""
    import glob
    import shutil
    import tempfile
    import uuid

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    fp = table_fingerprint(sf_dir, table)
    prefix = os.path.join(tempfile.gettempdir(), f"spark_graft_{name}_{sf_tag}_")
    out = prefix + fp
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    tmp = f"{out}.build-{uuid.uuid4().hex}"
    build_fn(tmp)
    # a markerless leftover at `out` (crashed builder) blocks the rename;
    # move it aside under a unique name before publishing
    if os.path.exists(out) and not os.path.exists(os.path.join(out, "_SUCCESS")):
        try:
            os.rename(out, f"{out}.stale-{uuid.uuid4().hex}")
        except OSError:
            pass
    try:
        os.rename(tmp, out)
    except OSError:
        # lost the publish race — the winner's copy is complete; use it
        shutil.rmtree(tmp, ignore_errors=True)
    # sweep other fingerprints and set-aside debris for this fixture
    for d in glob.glob(prefix + "*"):
        if d != out and ".build-" not in d:
            shutil.rmtree(d, ignore_errors=True)
    return out
