"""§2.1 Scans, sources, sinks (SURVEY.md).

The reference's "scan" is an HTTPS GET against the GA Core Reporting API with
``ids`` naming the profile; the server applies `dimensions`/`metrics` column
selection [K].  Spark-first equivalents: Parquet scans where Catalyst pushes
projection + predicates into the vectorized reader (observable via
``PushedFilters`` / ``ReadSchema`` in ``.explain``).

Scale notes: s2's filter+projection reach the parquet footer (row-group
min/max skip) — at 100 TB this is the difference between reading 11 columns
of 600B rows and 2 columns of a pruned subset.  s4 writes partitioned output
(partition pruning for downstream readers).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from google_analytics_dataframes_spark.io import (
    fanout,
    scratch_dir,
    staged_dir,
    table_fingerprint,
)
from google_analytics_dataframes_spark.registry import register
from google_analytics_dataframes_spark.queries._util import (
    T,
    dsum,
    dsum_sql,
    pinned_confs,
)


@register(
    "s1_scan_parquet",
    oracle="SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer",
)
def s1_scan_parquet(spark, sf_dir):
    """Full-projection parquet scan (GA: profile `ids` names the source)."""
    return T(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )


@register(
    "s2_scan_pruned",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_quantity > 45.0
    """,
)
def s2_scan_pruned(spark, sf_dir):
    """Column pruning + predicate pushdown: ReadSchema carries 3 of 11 cols,
    PushedFilters carries the shipdate range + quantity bound."""
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45.0)
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@register(
    "s3_json_props",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    """,
)
def s3_json_props(spark, sf_dir):
    """JSON-string column -> typed field (`events.props`, FIXTURES.md)."""
    # JSON parse is compute-dense: engage all cores (io.fanout doc)
    ev = fanout(T(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        F.from_json(F.col("props"), "k INT").getField("k").alias("k"),
    )


@register(
    "s4_sink_parquet",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_returnflag AS VARCHAR) AS l_returnflag, l_quantity
    FROM lineitem
    """,
)
def s4_sink_parquet(spark, sf_dir):
    """Partitioned parquet sink + re-read round-trip (side-effecting).

    Partitioning by `l_returnflag` gives downstream partition pruning; at
    scale the same write would also bucket by join key (SURVEY.md §4.2).
    O-tier: the oracle is the SOURCE slice, so the driver hash proves the
    write+read round-trip is value-exact (parquet is lossless for these
    types), including the partition column recovered from directory names.
    """
    out = scratch_dir("sink_parquet")
    shutil.rmtree(out, ignore_errors=True)
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    li.write.partitionBy("l_returnflag").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    # partition column comes back as the partition directory value (string);
    # normalize types/order to match the written frame.
    return back.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        "l_quantity",
    )


@register(
    "s5_csv_json_io",
    oracle="""
    WITH slice AS (SELECT event_id, user_id, event_type, value
                   FROM events ORDER BY event_id LIMIT 1000)
    SELECT * FROM slice UNION ALL SELECT * FROM slice
    """,
)
def s5_csv_json_io(spark, sf_dir):
    """CSV + JSON read with explicit schema (GA wire format is JSON [K]).

    Round-trips a 1000-row slice of `events` through both formats and unions
    them — checks schema-declared reads, not inference.  O-tier: the oracle
    is the source slice twice over, so the driver hash proves BOTH text
    round-trips are value-exact (doubles survive because Spark writes
    shortest-round-trip decimal forms; event_id order is total, so the
    LIMIT rowset is deterministic).
    """
    base = scratch_dir("io")
    shutil.rmtree(base, ignore_errors=True)
    ev = (
        T(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(1000)
        .select("event_id", "user_id", "event_type", "value")
    )
    ev.write.mode("overwrite").json(os.path.join(base, "json"))
    ev.write.mode("overwrite").option("header", "true").csv(os.path.join(base, "csv"))
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    j = spark.read.schema(schema).json(os.path.join(base, "json"))
    c = spark.read.schema(schema).option("header", "true").csv(os.path.join(base, "csv"))
    return j.unionByName(c)


@register(
    "s7_orc_roundtrip",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderstatus = 'F'
    """,
)
def s7_orc_roundtrip(spark, sf_dir):
    """ORC sink + re-read round-trip (the other built-in columnar format;
    side-effecting).  Same predicate-pushdown/column-pruning contract
    as parquet: the re-read applies a filter that ORC serves from stripe
    statistics.  O-tier: the oracle filters the SOURCE table, so the hash
    proves the ORC round-trip value-exact.  Avro is deliberately absent:
    spark-avro is an external jar, and this engine gates optional formats
    at import time rather than assuming cluster jars."""
    out = scratch_dir("sink_orc")
    shutil.rmtree(out, ignore_errors=True)
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    o.write.mode("overwrite").orc(out)
    return spark.read.orc(out).filter(F.col("o_orderstatus") == "F")


@register(
    "s8_clustered_write",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events WHERE user_id >= 100 AND user_id < 200
    """,
)
def s8_clustered_write(spark, sf_dir):
    """Cluster-on-write + pruned re-read (side-effecting): events
    range-clustered on user_id (io.write_clustered), then scanned with a
    user_id range predicate — the predicate reaches parquet (PushedFilters)
    and the clustered layout's tight row-group stats let the scan skip
    every non-overlapping row group.  O-tier: the oracle filters the SOURCE
    table, so the hash proves the clustered copy loses/duplicates nothing.
    Layout disjointness is asserted from parquet footers in
    tests/test_invariants.py (test_write_clustered_gives_prunable_row_groups)."""
    from google_analytics_dataframes_spark.io import write_clustered

    out = scratch_dir("clustered")
    shutil.rmtree(out, ignore_errors=True)
    ev = T(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    write_clustered(ev, out, cluster_by=["user_id"], num_files=8)
    back = spark.read.parquet(out)
    return back.filter((F.col("user_id") >= 100) & (F.col("user_id") < 200))


def _s9_oracle(sf_dir: str) -> str:
    """sf_dir-parameterized oracle (de-pinned from the literal sf0.01
    path, VERDICT r9 item 4): read_blob's glob is generated from the
    sf_dir under check so every sweep compares the same directory the
    Spark side lists.  Single-quote escaping is not needed — sf_dir is
    a filesystem path we control — but assert it anyway so a quoted
    path fails loudly rather than injecting."""
    assert "'" not in sf_dir, sf_dir
    glob = sf_dir.rstrip("/") + "/*.parquet"
    import glob as _glob

    # Expand PER ENTRY (ADVICE r10): a Spark-written table DIR named
    # *.parquet becomes dir/*.parquet (its part files — what binaryFile
    # lists), a flat file stays as-is.  Appending /*.parquet to the whole
    # glob would silently drop flat files in a mixed layout and produce a
    # spurious diff instead of comparing what Spark actually listed.
    patterns = []
    for p in sorted(_glob.glob(glob)):
        patterns.append(p.rstrip("/") + "/*.parquet" if os.path.isdir(p) else p)
    if not patterns:
        patterns = [glob]  # empty dir: keep a valid (0-row) read_blob arg
    blob_list = ", ".join(f"'{p}'" for p in patterns)
    return f"""
    SELECT regexp_extract(filename, '([^/]+)$', 1) AS fname,
           CAST(octet_length(content) AS BIGINT) AS n_bytes
    FROM read_blob([{blob_list}])
    """


@register("s9_binaryfile_source", oracle=_s9_oracle)
def s9_binaryfile_source(spark, sf_dir):
    """`binaryFile` source — the ingestion path for opaque multimodal blobs
    (images/audio/video land as whole-file rows before l19/l25/l26 decode
    plumbing).  Column pruning matters here: selecting only path+length
    reads FILE METADATA, not the bytes — at 100 TB of media that is the
    difference between an ls and a full scan.  Oracle reads the same files
    via DuckDB's read_blob; the oracle is a CALLABLE that formats the
    glob from the sf_dir under check, so cross-sf sweeps compare it
    instead of skipping (previously the literal path pinned sf0.01)."""
    # recursiveFileLookup (round 11): a Spark-WRITTEN dataset is a
    # directory of part files per table — without it the non-recursive
    # listing returns 0 rows on such layouts (the 10x synth), silently
    # diverging from the oracle's per-entry dir expansion.  On flat
    # layouts (the sf* test dirs) recursive and plain listings are
    # identical, and pathGlobFilter keeps _SUCCESS markers out.
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(sf_dir)
    )
    return files.select(
        F.regexp_extract(F.col("path"), "([^/]+)$", 1).alias("fname"),
        F.col("length").alias("n_bytes"),
    )


@register(
    "s11_text_source",
    oracle="SELECT text AS value FROM documents",
)
def s11_text_source(spark, sf_dir):
    """Plain-text corpus source (`spark.read.text`) — the rawest LLM-corpus
    ingestion format: one document per line, no schema, no metadata.  The
    corpus is staged from the documents table (its text contains no
    newlines, so line = document exactly), read back as the single `value`
    column, and the oracle is the source column itself — the driver hash
    proves the text round-trip byte-exact.  At 100 TB this is the
    `text/` + `wholeTextFiles`-free path: line-splittable, so every file
    chunks into parallel read tasks."""

    def build(path):
        T(spark, sf_dir, "documents").select("text").write.text(path)

    return spark.read.text(staged_dir(sf_dir, "documents", "text", build))


def _partitioned_events_dir(spark, sf_dir) -> str:
    """Stage (once per dataset fingerprint) the day-partitioned copy of
    events — the layout a 100 TB event table actually ships in.  Shared by
    s10 (static partition pruning) and s12 (dynamic partition pruning)."""

    def build(path):
        ev = T(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
        )
        # one file per day-partition: repartition on the partition column so
        # each task writes one directory, not |tasks| x |days| small files
        ev.repartition(F.col("day")).write.partitionBy("day").parquet(path)

    return staged_dir(sf_dir, "events", "partitioned_events", build)


@register(
    "s10_partitioned_read",
    oracle="""
    SELECT event_id, user_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
           event_type, value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events
    WHERE date_trunc('day', ts) = TIMESTAMP '2024-01-15'
    """,
)
def s10_partitioned_read(spark, sf_dir):
    """Hive-style partitioned table round-trip with PARTITION PRUNING: write
    events partitioned by day, read back one day — the scan must touch one
    directory, not the table (the plan's PartitionFilters line, asserted in
    tests/test_plans.py).  This is the layout a 100 TB event table actually
    ships in: day partitions + pruning turn a full scan into a 1/365 scan
    before any I/O happens."""
    out = _partitioned_events_dir(spark, sf_dir)
    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-15")
    return back.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
        "event_type",
        "value",
        F.col("day").cast("string").alias("day"),
    )


def _day_dim_dir(spark, sf_dir) -> str:
    """Stage (once per dataset fingerprint) the tiny day-dimension table
    s12 joins against: one row per distinct event day, classified
    'target' for days-of-month congruent to 1 mod 7.  A real warehouse
    has exactly this shape — a small calendar/dimension table whose
    FILTER decides which partitions of the fact table a query touches."""

    def build(path):
        dim = (
            T(spark, sf_dir, "events")
            .select(F.to_date(F.date_trunc("day", "ts")).alias("day"))
            .distinct()
            .withColumn(
                "day_kind",
                F.when(F.dayofmonth("day") % 7 == 1, "target").otherwise(
                    "other"
                ),
            )
        )
        dim.coalesce(1).write.parquet(path)

    return staged_dir(sf_dir, "events", "day_dim", build)


@register(
    "s12_dpp_join",
    oracle=f"""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n, {dsum_sql('value')} AS sum_value
    FROM events
    WHERE CAST(strftime(ts, '%d') AS INTEGER) % 7 = 1
    GROUP BY day, event_type
    """,
)
def s12_dpp_join(spark, sf_dir):
    """DYNAMIC partition pruning — the flagship Catalyst scale feature s10's
    static form doesn't exercise: the fact side is the day-partitioned
    events table, the probe side is a small day-dimension table with a
    selective NON-partition filter (day_kind = 'target'), and the join key
    is the fact's partition column.  Catalyst turns the dim's filter
    result into a runtime IN-subquery partition filter on the fact scan —
    `PartitionFilters: [... dynamicpruningexpression(day IN ...)]`,
    pinned by tests/test_plans.py::test_s12_dynamic_partition_pruning —
    so the fact table reads ~1/7 of its partitions even though NO literal
    date predicate exists in the query.  At 100 TB this is the difference
    between scanning a year and scanning the dim-selected days, decided
    at runtime from the dimension's contents.

    The oracle recomputes the same answer from the raw events table with
    the day-of-month rule inlined — different mechanism (no partitioned
    copy, no dim join), so staging bugs (mis-partitioned days, dim
    misclassification) hash-fail."""
    fact = spark.read.parquet(_partitioned_events_dir(spark, sf_dir))
    dim = (
        spark.read.parquet(_day_dim_dir(spark, sf_dir))
        .filter(F.col("day_kind") == "target")
        .select("day")
    )
    return (
        fact.join(dim, "day")
        .groupBy("day", "event_type")
        .agg(F.count("*").alias("n"), dsum("value").alias("sum_value"))
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def _zordered_events_dir(spark, sf_dir) -> str:
    """Stage (once per dataset fingerprint) the Z-ORDERED copy of events —
    Morton-interleaved (user_id, epoch-day) layout (io.write_zordered), 16
    files.  Shared by s13 and the footer-evidence test."""
    from google_analytics_dataframes_spark.io import write_zordered

    def build(path):
        ev = T(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.floor(F.unix_micros("ts") / 86_400_000_000).alias("day_num"),
        )
        write_zordered(ev, path, "user_id", "day_num", num_files=16)

    return staged_dir(sf_dir, "events", "zorder_events", build)


@register(
    "s13_zorder_scan",
    oracle=f"""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           {dsum_sql('value')} AS sum_value
    FROM events
    WHERE user_id BETWEEN 100 AND 300
      AND epoch_us(ts) // 86400000000 BETWEEN 19730 AND 19736
    GROUP BY event_type
    """,
)
def s13_zorder_scan(spark, sf_dir):
    """Z-ORDER layout + 2-D box scan: events rewritten Morton-clustered on
    (user_id, epoch-day) — io.write_zordered interleaves the two scaled
    keys' bits and range-partitions on the space-filling-curve code — then
    scanned with a box predicate (a user range x a week).  1-D range
    clustering (s8) makes ONE key's footer stats tight and leaves the
    other spanning every file; the Z-order layout bounds BOTH keys'
    per-file extents, so this box scan (and single-key scans on either
    dimension) skip most files/row groups on min/max stats alone —
    asserted from parquet footers by
    tests/test_plans.py::test_zorder_layout_prunes_both_dims.  At 100 TB
    this is the standard answer to 'we filter by user OR by day OR both'
    without writing the table twice.

    O-tier: the oracle applies the identical box to the RAW events table
    (different mechanism — no rewrite), so a Z-order bug that loses,
    duplicates, or mis-places any row hash-fails the census."""
    back = spark.read.parquet(_zordered_events_dir(spark, sf_dir))
    box = back.filter(
        F.col("user_id").between(100, 300)
        & F.col("day_num").between(19730, 19736)
    )
    return box.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        dsum("value").alias("sum_value"),
    )


@register(
    "s14_python_datasource",
    oracle="""
    WITH pages AS (SELECT unnest(range(0, 32)) AS p),
    rws AS (SELECT p, unnest(range(0, 100)) AS r FROM pages)
    SELECT CAST(p AS INTEGER) AS page_idx, CAST(r AS INTEGER) AS row_idx,
           CAST((131 * p + 17 * r) % 1000 AS BIGINT) AS visits,
           CAST((131 * p + 17 * r) % 1000 + (p + r) % 50 AS BIGINT)
             AS pageviews,
           strftime(DATE '2024-01-01' + ((p + r) % 30) * INTERVAL 1 DAY,
                    '%Y-%m-%d') AS date_s
    FROM rws
    """,
)
def s14_python_datasource(spark, sf_dir):
    """PySpark 4 custom Python DataSource (V2 API): the GA pagination model
    as a REAL registered Spark source — `spark.read.format(
    "ga_report_fixture")` plans ONE InputPartition per API result page,
    so the page-fetch loop the reference runs serially on the client
    becomes cluster parallelism (32 pages -> 32 partitions; verified:
    df.rdd.getNumPartitions() == n_pages).  The fixture generator stands
    in for the HTTP call (the same no-network seam as
    sources/ga_api.fetch_report); registration, schema declaration,
    partition planning, and per-partition iteration are the genuine
    DataSource API surface a production connector implements
    (sources/ga_api.GaReportFixtureDataSource).

    Rows are closed-form in (page, row), so the DuckDB oracle recomputes
    the entire table — the driver hash proves the custom source delivers
    exactly the declared relation across all partitions.  ``sf_dir`` is
    unused: this source GENERATES its data, which is the point."""
    from google_analytics_dataframes_spark.sources.ga_api import (
        register_fixture_datasource,
    )

    register_fixture_datasource(spark)
    return (
        spark.read.format("ga_report_fixture")
        .option("n_pages", 32)
        .option("page_size", 100)
        .load()
    )


# ------------------------------------------------------------------- s15 ---
def _evolved_orders_dir(spark, sf_dir) -> str:
    """Stage (once per dataset fingerprint) a two-generation parquet
    directory: generation v1 (even order keys) predates the
    o_orderpriority column; generation v2 (odd keys) carries it.  This is
    the layout every long-lived lake table actually has — files written
    before a column existed sit next to files written after."""

    def build(path):
        o = T(spark, sf_dir, "orders")
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(f"{path}/gen=v1")
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(f"{path}/gen=v2")
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return staged_dir(sf_dir, "orders", "evolved_orders", build)


@register(
    "s15_schema_evolution",
    oracle=f"""
    SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
           ELSE o_orderpriority END AS o_orderpriority,
           COUNT(*) AS n,
           {dsum_sql('o_totalprice')} AS sum_price
    FROM orders
    GROUP BY 1
    """,
)
def s15_schema_evolution(spark, sf_dir):
    """Schema-evolution read (§2.1's long-lived-table surface): a table
    whose older files PREDATE a column must still read as one relation —
    ``mergeSchema`` unions the per-file footers and fills the missing
    column with NULL, exactly the add-a-nullable-column contract
    warehouse formats promise.

    The staged fixture has generation v1 (even keys, no
    o_orderpriority) beside generation v2 (odd keys, with it); the
    grouped census proves every v1 row surfaces with a NULL priority and
    every v2 row keeps its value — the oracle recomputes the same census
    ANALYTICALLY from the original orders table, so a reader that
    dropped v1 rows, defaulted the column to anything but NULL, or
    failed to union the schemas hash-fails.

    Scale note: mergeSchema footer-merge is a METADATA operation (one
    footer read per file at planning time, distributed in Spark via a
    spark.read job over footers only); the data path stays the
    vectorized reader with per-file column mapping — no rewrite of old
    files is ever needed to add a column at 100 TB."""
    d = _evolved_orders_dir(spark, sf_dir)
    back = spark.read.option("mergeSchema", "true").parquet(d)
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        dsum("o_totalprice").alias("sum_price"),
    )


# ------------------------------------------------------------------- s16 ---
def _corrupt_jsonl_dir(spark, sf_dir) -> str:
    """Stage (once per dataset fingerprint) a JSONL file set where every
    7th document's line is TRUNCATED mid-object — the malformed-input
    reality of any crawl-scale ingest (connection cuts, partial flushes,
    non-JSON garbage in a .jsonl drop)."""

    def build(path):
        line = F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(', "n_chars":')),
        ).otherwise(F.to_json(F.struct("doc_id", "n_chars")))
        T(spark, sf_dir, "documents").select(line.alias("value")).write.text(
            f"{path}/data"
        )
        open(os.path.join(path, "_SUCCESS"), "w").close()

    return staged_dir(sf_dir, "documents", "corrupt_jsonl", build)


@register(
    "s16_corrupt_records",
    oracle="""
    SELECT CASE WHEN doc_id % 7 = 0 THEN NULL ELSE doc_id END AS doc_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL ELSE n_chars END AS n_chars,
           doc_id % 7 = 0 AS is_corrupt
    FROM documents
    """,
)
def s16_corrupt_records(spark, sf_dir):
    """Malformed-record containment (§2.1's dirty-ingest surface):
    PERMISSIVE JSON reading with an explicit schema and a
    ``_corrupt_record`` column — every truncated line must surface as one
    all-NULL row with the raw text quarantined, and every well-formed
    line must parse untouched.  The planted fixture corrupts exactly the
    doc_id%7==0 lines, so the oracle rebuilds the expected relation
    analytically from the documents table; a reader that silently
    DROPPED bad lines (the FAILFAST/DROPMALFORMED trap applied by
    default) loses rows and hash-fails.

    The explicit schema is load-bearing twice at scale: inference would
    cost a pre-pass over 100 TB, and the corrupt-record column only
    exists when named in the schema.  Per-task parsing with in-row
    quarantine means error handling adds zero shuffles and no job
    restarts — the 1-in-7 garbage never touches the happy path."""
    d = _corrupt_jsonl_dir(spark, sf_dir)
    back = (
        spark.read.schema(
            "doc_id long, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(f"{d}/data")
    )
    return back.select(
        "doc_id",
        "n_chars",
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


@register(
    "s17_footer_stats",
    oracle="""
    SELECT event_type,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events GROUP BY event_type
    """,
)
def s17_footer_stats(spark, sf_dir):
    """Data-skipping manifest built from parquet FOOTERS only — the
    lakehouse stats-collection step (Delta/Iceberg's add-file stats,
    Hive's column statistics) as a distributed operator: stage events
    hash-clustered one file per event_type partition, then read every
    file's metadata (row count + per-column min/max from the row-group
    statistics) WITHOUT scanning a single data page, via pyarrow in
    mapInPandas over the file list.

    The oracle recomputes the same stats from the DATA — footer min/max
    for numeric columns is exact (parquet only truncates string stats),
    so the metadata-only manifest must equal the full-scan answer, which
    is exactly the property query planners rely on when they prune on
    these stats.  n_files == 1 per type additionally proves the
    clustered-write contract (hash(type) lands each type in one task).

    Scale: the file list is metadata-sized by contract (one row per
    file, like every table-format manifest); the footer reads distribute
    across the cluster and each costs O(footer bytes), independent of
    file size — at 100 TB this is the operator that makes the OTHER
    queries fast."""
    import urllib.parse

    import pandas as pd

    def _build(path):
        ev = T(spark, sf_dir, "events").select("event_id", "event_type", "value")
        ev.repartition("event_type").write.partitionBy("event_type").mode(
            "overwrite"
        ).parquet(path)

    out = staged_dir(sf_dir, "events", "footer_stats", _build)

    files = []
    for root, _dirs, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                # Hive partition dirs percent-escape special chars and
                # write NULL as __HIVE_DEFAULT_PARTITION__ — undo both so
                # the manifest's group key equals the raw column value
                raw = os.path.basename(root).split("=", 1)[1]
                etype = (
                    None
                    if raw == "__HIVE_DEFAULT_PARTITION__"
                    else urllib.parse.unquote(raw)
                )
                files.append((os.path.join(root, n), etype))

    schema = (
        "event_type string, n_files long, n_rows long, "
        "min_value double, max_value double"
    )

    def footer_stats(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            rows = []
            for path, etype in zip(pdf["path"], pdf["event_type"]):
                md = pq.ParquetFile(path).metadata
                idx = next(
                    i
                    for i in range(len(md.schema))
                    if md.schema.column(i).name == "value"
                )
                mins, maxs = [], []
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(idx).statistics
                    if st is None or not st.has_min_max:
                        raise ValueError(
                            f"footer_stats: no min/max statistics for "
                            f"'value' in {path} row group {rg} — the "
                            "manifest contract requires stats-bearing "
                            "writers"
                        )
                    mins.append(st.min)
                    maxs.append(st.max)
                rows.append((etype, 1, md.num_rows, min(mins), max(maxs)))
            yield pd.DataFrame(
                rows,
                columns=["event_type", "n_files", "n_rows", "min_value", "max_value"],
            )

    flist = spark.createDataFrame(files, "path string, event_type string")
    per_file = flist.repartition(8, "path").mapInPandas(footer_stats, schema)
    return per_file.groupBy("event_type").agg(
        F.sum("n_files").alias("n_files"),
        F.sum("n_rows").alias("n_rows"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


@register(
    "s18_manifest_pruned_read",
    oracle="""
    SELECT event_id, user_id, value
    FROM events WHERE value >= 120.0 AND value < 180.0
    """,
)
def s18_manifest_pruned_read(spark, sf_dir):
    """The data-skipping APPLICATION of s17's manifest: stage events
    value-clustered (io.write_clustered, 8 near-disjoint files), collect
    each file's footer min/max for `value`, select only the files whose
    stats range INTERSECTS the predicate, and scan just those (plus the
    residual filter — stats pruning is conservative, never exact).  The
    oracle filters the source table, so a manifest that skips a covering
    file loses rows and hash-fails; a manifest that fails to skip is
    caught by the inputFiles assertion in tests/test_plans.py.

    The manifest pass here is DRIVER-side pyarrow over the 8-file list —
    metadata-sized by contract (this is what a table format's pruning
    planner does with its manifest); the distributed form of the same
    read is s17.  At 100 TB: the planner reads the manifest table, not
    the footers, and the selected-file fraction IS the query's cost."""
    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.io import write_clustered

    def _build(path):
        ev = T(spark, sf_dir, "events").select("event_id", "user_id", "value")
        write_clustered(ev, path, cluster_by=["value"], num_files=8)

    out = staged_dir(sf_dir, "events", "value_clustered", _build)

    lo, hi = 120.0, 180.0
    picked = []
    for n in sorted(os.listdir(out)):
        if not n.endswith(".parquet"):
            continue
        path = os.path.join(out, n)
        md = pq.ParquetFile(path).metadata
        idx = next(
            i for i in range(len(md.schema)) if md.schema.column(i).name == "value"
        )
        stats = [
            md.row_group(r).column(idx).statistics
            for r in range(md.num_row_groups)
        ]
        if any(st is None or not st.has_min_max for st in stats):
            # stats-less row group (e.g. an all-NaN chunk): pruning must
            # be CONSERVATIVE — a file we can't bound, we must read
            picked.append(path)
        elif (
            max(st.max for st in stats) >= lo
            and min(st.min for st in stats) < hi
        ):  # stats range intersects [lo, hi)
            picked.append(path)

    src = (
        spark.read.parquet(*picked)
        if picked
        # no file intersects the band: a zero-row plan over the staged
        # schema (lists footers only, reads no data pages)
        else spark.read.parquet(out).filter(F.lit(False))
    )
    return src.filter((F.col("value") >= lo) & (F.col("value") < hi)).select(
        "event_id", "user_id", "value"
    )


@register(
    "s19_python_datasource_writer",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events ORDER BY event_id LIMIT 2000
    """,
)
def s19_python_datasource_writer(spark, sf_dir):
    """The WRITER half of the Python DataSource API (s14 is the reader):
    a 2000-row events slice written through the custom `ga_upload_sink`
    (GA Data-Import direction) — partition-parallel JSON-lines part
    files, a driver-side two-phase commit that publishes a
    `_MANIFEST.json`, and a read-back that trusts ONLY the manifest (the
    table-format visibility rule: orphan files from failed tasks never
    leak into readers).  O-tier: the oracle is the source slice, so the
    hash proves the custom sink's serialize -> commit -> manifest-read
    round trip value-exact (Python's json emits shortest-round-trip
    doubles, the s5 lesson).

    Scale: part files write in parallel, one per partition; commit cost
    is one manifest rename — O(tasks) metadata, zero data movement."""
    import json as _json

    from google_analytics_dataframes_spark.sources.ga_api import (
        register_upload_sink,
    )

    register_upload_sink(spark)
    d = scratch_dir("s19_upload_sink")
    for f in os.listdir(d):
        os.remove(os.path.join(d, f))
    ev = (
        T(spark, sf_dir, "events")
        .orderBy("event_id")
        .limit(2000)
        .select("event_id", "user_id", "event_type", "value")
    )
    ev.repartition(4).write.format("ga_upload_sink").option("path", d).mode(
        "append"
    ).save()
    with open(os.path.join(d, "_MANIFEST.json")) as f:
        manifest = _json.load(f)
    schema = (
        "event_id long, user_id long, event_type string, value double"
    )
    return spark.read.schema(schema).json(
        [os.path.join(d, fname) for fname in manifest["files"]]
    )


# --------------------------------------------------------------------------
# s20 — runtime Bloom-filter join pruning
# --------------------------------------------------------------------------

#: Confs that let Spark's runtime Bloom-filter injection engage at test
#: scale.  At 100 TB the defaults do the same job by themselves: the
#: filtered build side exceeds autoBroadcastJoinThreshold (so the join is
#: not broadcast) and the probe-side scan exceeds the 10 GB application
#: threshold; here both must be forced because sf0.1 is megabytes.
_BLOOM_CONFS = {
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}


def bloom_join_frame(spark, sf_dir):
    """The un-staged join s20 executes (shared with the plan-pin test):
    fact-side lineitem joined to the selective urgent-orders slice."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_items"),
            dsum(rev).alias("revenue"),
        )
    )


@register(
    "s20_bloom_pruned_join",
    oracle=f"""
    SELECT l.l_linestatus, COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderpriority = '1-URGENT'
    GROUP BY l.l_linestatus
    """,
)
def s20_bloom_pruned_join(spark, sf_dir):
    """Runtime Bloom-filter join pruning (SPARK-32268): Catalyst injects a
    `bloom_filter_agg` over the selective build side and a `might_contain`
    predicate on the probe side, so fact rows that cannot join are dropped
    AT THE SCAN — before the shuffle — cutting probe-side exchange volume
    by ~the build side's selectivity (here 1/5 priorities).  At 100 TB
    this is the difference between shuffling 100 TB and shuffling 20 TB
    into a sort-merge join.

    The optimization is planning-time, so (like the streaming rows) this
    query EXECUTES inside the fn with the enabling confs pinned and
    restored, staging the result through parquet; the oracle hash-checks
    the staged result, and tests/test_plans.py pins `bloom_filter_agg` +
    `might_contain` in the physical plan.  The conf overrides exist only
    because sf0.1 sits under the feature's size thresholds — production
    defaults engage it exactly where it pays (see _BLOOM_CONFS).

    The result is REGENERATED on every call (it is the measured
    operation), so unlike the fingerprint-cached fixtures it is staged in
    io.scratch_dir: per-process isolation, not cache keying — two
    concurrent driver processes must not rmtree each other's in-flight
    result."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = scratch_dir(f"bloom_join_{sf_tag}")
    with pinned_confs(spark, _BLOOM_CONFS):
        shutil.rmtree(out, ignore_errors=True)
        bloom_join_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _dpo_dir(sf_dir) -> str:
    """s21's staged day-partitioned table path (shared with its pytest).

    Unlike the read-only fixtures (io.staged_dir), this directory is
    MUTATED by the query under test (the dynamic overwrite), so a shared
    fingerprint-keyed cache would let two processes overwrite the same
    partition concurrently; io.scratch_dir gives each process its own
    mutable copy while the fingerprint in the name still invalidates on
    dataset regeneration.  Stale fingerprints are swept on the way in,
    so repeated regenerations don't accumulate copies."""
    import glob

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = scratch_dir(f"dpo_{sf_tag}_{table_fingerprint(sf_dir, 'events')}")
    for stale in glob.glob(os.path.join(os.path.dirname(out), f"dpo_{sf_tag}_*")):
        if stale != out:
            shutil.rmtree(stale, ignore_errors=True)
    return out


@register(
    "s21_dynamic_partition_overwrite",
    oracle="""
    SELECT event_id, user_id, event_type,
           CASE WHEN strftime(date_trunc('day', ts), '%Y-%m-%d') = '2024-01-07'
                THEN value * 2 ELSE value END AS value,
           strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
    FROM events
    """,
)
def s21_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (`partitionOverwriteMode=dynamic`): an
    `INSERT OVERWRITE` that replaces ONLY the partitions present in the
    incoming data — the warehouse restatement primitive (backfill one day
    of a 100 TB day-partitioned table without touching the other 364).

    Static overwrite mode would TRUNCATE the whole table first; dynamic
    mode deletes exactly the directories the write produces.  Here the
    2024-01-07 partition is restated with doubled values into a staged
    day-partitioned copy; the oracle recomputes the expected post-restate
    table from the source, so the driver hash proves both halves — the
    restated partition changed, every other partition survived byte-exact.
    tests/test_plans.py additionally pins the selectivity mechanically:
    untouched partitions keep their file mtimes across the overwrite.

    Scale: the overwrite's cost is O(restated partition), not O(table) —
    the only rows that move are the day being restated."""
    out = _dpo_dir(sf_dir)
    marker = os.path.join(out, "_SUCCESS")
    ev = T(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"),
    )
    if not os.path.exists(marker):
        shutil.rmtree(out, ignore_errors=True)
        ev.repartition(F.col("day")).write.partitionBy("day").mode(
            "overwrite"
        ).parquet(out)

    restated = (
        ev.filter(F.col("day") == "2024-01-07")
        .withColumn("value", F.col("value") * 2)
        .repartition(F.col("day"))
    )
    with pinned_confs(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        restated.write.partitionBy("day").mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    # idempotent across runs: the restated partition is rebuilt from the
    # SOURCE each time, so a cached staging dir that was already restated
    # converges to the same content.
    return back.select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.col("day").cast("string").alias("day"),
    )


@register(
    "s22_catalog_ctas",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
    FROM orders
    WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    """,
)
def s22_catalog_ctas(spark, sf_dir):
    """Catalog DDL surface: CREATE TABLE AS SELECT into an explicit
    LOCATION, then INSERT INTO the catalog table, then read it back BY
    NAME through the session catalog — the `spark.sql("... FROM t")`
    path every SQL user takes, distinct from all the path-based reads in
    this family.  CTAS writes the urgent slice, INSERT appends the HIGH
    slice; the oracle recomputes both slices from the source, so the
    driver hash proves DDL + DML + catalog resolution end to end.

    The vanilla session uses the in-memory catalog (no Hive metastore),
    so table metadata is session-scoped and the only on-disk artifact is
    the explicit scratch LOCATION — re-created idempotently per call.

    Scale: CTAS/INSERT are ordinary distributed writes; the catalog adds
    name resolution, statistics storage, and (at 100 TB) the place where
    partitioning/bucketing metadata lives so Catalyst can prune and
    co-locate without listing files."""
    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = scratch_dir(f"ctas_orders_{sf_tag}")
    spark.sql("DROP TABLE IF EXISTS s22_orders_slice")
    shutil.rmtree(out, ignore_errors=True)
    T(spark, sf_dir, "orders").createOrReplaceTempView("s22_src_orders")
    spark.sql(
        f"""
        CREATE TABLE s22_orders_slice
        USING parquet LOCATION '{out.replace("'", "''")}'
        AS SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
           FROM s22_src_orders WHERE o_orderpriority = '1-URGENT'
        """
    )
    spark.sql(
        """
        INSERT INTO s22_orders_slice
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM s22_src_orders WHERE o_orderpriority = '2-HIGH'
        """
    )
    return spark.sql("SELECT * FROM s22_orders_slice")
