"""Cross-engine determinism probes (dg1-dg8) — instrumentation, NOT
SURVEY.md §2 operator rows.

Round-4 context: six queries (rb18/rb19/rb20, l48, l53, l59) failed the
driver's value-hash while passing bitwise against local DuckDB 1.0.0 — the
driver evidently runs a different DuckDB build whose version we cannot see
from this sandbox (no network).  Round 5 restates those six in
driver-proven constructs; each dg query here isolates ONE construct the
failing six used (and swept passing queries did not), over a few hundred
rows, so the round-5 driver sweep localized any remaining engine skew to a
named construct instead of a whole query.  bench.py additionally records
the pyspark/duckdb versions in its output.  The round-5 records are in git
history: `git show 0dd433a:CORRECTNESS_r05.json` and
`git show 0dd433a:BENCH_r05.json`.

Interpretation table (construct -> consumer it certifies):

* dg1 struct-literal MIN/MAX aggregate ......... old rb19 landing/exit
* dg2 LATERAL generate_series shingling ........ old l53 oracle form
* dg3 raw-double list_dot_product output ....... old l59 norm path
* dg4 SQL ntile() vs integer closed form ....... old l48 oracle form
* dg5 round(double, 6) on a dense value grid ... every ratio output
* dg6 epoch-µs integer day bucketing ........... rb18/rb20 day column
* dg7 un-cast integer SUM (DuckDB HUGEINT) ..... every count-ish output
* dg8 raw timestamp µs extraction .............. events.ts ns/µs reads

Each probe is O(hundreds of rows), adds <0.5 s to a sweep, and is
deliberately hash-SENSITIVE (dg3/dg8 emit raw doubles/µs integers with no
terminal rounding: if the engines diverge at an ulp, the probe must fail
so the divergence is attributed here and not in a real operator).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.queries._util import T
from google_analytics_dataframes_spark.registry import register


@register(
    "dg1_struct_min",
    tier="O",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
               FROM events WHERE user_id % 7 = 0)
    SELECT user_id,
           (MIN({'u': ts_us, 'e': event_id, 'et': event_type})).et AS first_type,
           (MAX({'u': ts_us, 'e': event_id, 'et': event_type})).et AS last_type
    FROM e GROUP BY user_id
    """,
)
def dg1_struct_min(spark, sf_dir):
    """Probe: DuckDB struct-literal MIN/MAX vs Spark struct min/max —
    the exact construct rb19's r04 oracle used for landing/exit."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    key = F.struct(F.unix_micros("ts").alias("u"), "event_id", "event_type")
    return ev.groupBy("user_id").agg(
        F.min(key).getField("event_type").alias("first_type"),
        F.max(key).getField("event_type").alias("last_type"),
    )


@register(
    "dg2_lateral_series",
    tier="O",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a
               FROM documents WHERE doc_id % 11 = 0),
    sh AS (SELECT doc_id, array_to_string(a[i:i+4], ' ') AS s
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(a) - 4)) AS i) u)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           MIN(s) AS first_shingle
    FROM sh GROUP BY doc_id
    """,
)
def dg2_lateral_series(spark, sf_dir):
    """Probe: LATERAL (SELECT unnest(generate_series(...))) shingling —
    the r04 l53 oracle form — vs Spark's slice/transform shingles."""
    docs = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 11 == 0)
    sh = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(split(text, ' ')) >= 5 THEN "
                "transform(sequence(1, size(split(text, ' ')) - 4), "
                "i -> array_join(slice(split(text, ' '), i, 5), ' ')) "
                "ELSE array() END"
            )
        ).alias("s"),
    )
    return sh.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"), F.min("s").alias("first_shingle")
    )


@register(
    "dg3_dot_raw",
    tier="O",
    oracle="""
    SELECT vec_id,
           list_dot_product(CAST(embedding AS DOUBLE[]),
                            CAST(embedding AS DOUBLE[])) AS norm2
    FROM embeddings WHERE vec_id % 53 = 0
    """,
)
def dg3_dot_raw(spark, sf_dir):
    """Probe: RAW (unrounded) squared norm — DuckDB list_dot_product's
    summation order vs Spark's sequential fold.  An ulp-level kernel
    difference in the driver's DuckDB fails THIS probe, pinning r04's
    l59 failure mode."""
    from google_analytics_dataframes_spark.operators.similarity import as_double, dot

    emb = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 53 == 0)
    v = as_double("embedding")
    return emb.select("vec_id", dot(v, v).alias("norm2"))


@register(
    "dg4_ntile",
    tier="O",
    oracle="""
    WITH d AS (SELECT doc_id, lang FROM documents WHERE doc_id % 7 = 0),
    t AS (SELECT lang, doc_id,
                 ntile(3) OVER (PARTITION BY lang ORDER BY doc_id) AS tile
          FROM d)
    SELECT lang, tile, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(doc_id) AS lo, MAX(doc_id) AS hi
    FROM t GROUP BY lang, tile
    """,
)
def dg4_ntile(spark, sf_dir):
    """Probe: SQL ntile(3) vs the integer closed form l48 uses (first
    N%3 tiles take one extra row; ceil(a/b) = (a+b-1) div b)."""
    from pyspark.sql import Window

    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", "lang"
    )
    w = Window.partitionBy("lang").orderBy("doc_id")
    ranked = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "gn", F.count("*").over(Window.partitionBy("lang"))
    )

    def idiv(a, b):
        return ((a - a % b) / b).cast("long")

    q = F.floor(F.col("gn") / 3).cast("long")
    rem = (F.col("gn") % 3).cast("long")
    cut = rem * (q + 1)
    qq = F.greatest(q, F.lit(1).cast("long"))
    rn = F.col("rn")
    tile = F.when(rn <= cut, idiv(rn + q, q + 1)).otherwise(
        rem + idiv(rn - cut + qq - 1, qq)
    )
    return (
        ranked.withColumn("tile", tile.cast("int"))
        .groupBy("lang", "tile")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("lo"),
            F.max("doc_id").alias("hi"),
        )
    )


@register(
    "dg5_round_grid",
    tier="O",
    oracle="""
    SELECT i, round(i / 7919.0, 6) AS r7919, round(i / 4096.0, 6) AS r4096,
           round(i * 1.0000005, 6) AS rhalf
    FROM (SELECT unnest(range(1, 2001)) AS i)
    """,
)
def dg5_round_grid(spark, sf_dir):
    """Probe: round(double, 6) agreement on a dense grid including
    half-way-ish points (i*1.0000005 puts the 7th digit at 5 for small
    i) — certifies every round(ratio, 6) output column."""
    rng = spark.range(1, 2001).select(F.col("id").alias("i"))
    return rng.select(
        "i",
        F.round(F.col("i") / 7919.0, 6).alias("r7919"),
        F.round(F.col("i") / 4096.0, 6).alias("r4096"),
        F.round(F.col("i") * 1.0000005, 6).alias("rhalf"),
    )


@register(
    "dg6_day_bucket",
    tier="O",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us
               FROM events WHERE user_id % 7 = 0)
    SELECT user_id,
           strftime(TIMESTAMP '1970-01-01'
                      + (MIN(ts_us) // 1000000 // 86400 * 86400)
                        * INTERVAL 1 SECOND,
                    '%Y-%m-%d') AS first_day,
           CAST(MIN(ts_us) // 1000000 // 86400 AS BIGINT) AS first_day_num
    FROM e GROUP BY user_id
    """,
)
def dg6_day_bucket(spark, sf_dir):
    """Probe: integer epoch-µs -> day bucketing + strftime rendering —
    rb18/rb20's day column in isolation."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    start = F.min(F.unix_micros("ts"))
    day_num = F.floor(start / 1_000_000 / 86_400).cast("long")
    return ev.groupBy("user_id").agg(
        F.date_format(F.timestamp_seconds(day_num * 86_400), "yyyy-MM-dd").alias(
            "first_day"
        ),
        day_num.alias("first_day_num"),
    )


#: dg7's UN-cast form — kept as a named constant because the pytest witness
#: (tests/test_invariants.py::test_hugeint_witness_uncast_dg7) runs it in
#: DuckDB and asserts the output columns are HUGEINT/int128, preserving the
#: evidence the three-round standing driver red used to carry.
DG7_UNCAST_ORACLE = """
    SELECT event_type,
           SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS n_big,
           SUM(user_id % 10) AS digit_sum
    FROM events GROUP BY event_type
    """


@register(
    "dg7_hugeint_sum",
    tier="O",
    oracle="""
    SELECT event_type,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_big,
           CAST(SUM(user_id % 10) AS BIGINT) AS digit_sum
    FROM events GROUP BY event_type
    """,
)
def dg7_hugeint_sum(spark, sf_dir):
    """Probe: integer SUM outputs under DuckDB's HUGEINT widening.

    HISTORY (VERDICT r7 item #1): rounds 5-7 deliberately registered the
    UN-cast form so the driver compare would hash-fail on DuckDB's int128
    bytes vs Spark's int64 — proving the driver does NOT normalize
    integer widths.  Three rounds of a by-design red row became standing
    noise (training every reader to skim past FAIL), so the probe is
    retired to a pytest: the registered twins now both CAST to 64-bit
    (green), while ``DG7_UNCAST_ORACLE`` above stays under test —
    tests/test_invariants.py::test_hugeint_witness_uncast_dg7 asserts the
    un-cast DuckDB output is still HUGEINT, so the normalization witness
    survives with zero driver-report noise."""
    ev = T(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0))
        .cast("long")
        .alias("n_big"),
        F.sum(F.col("user_id") % 10).cast("long").alias("digit_sum"),
    )


@register(
    "dg8_ts_micros",
    tier="O",
    oracle="""
    SELECT user_id, MIN(epoch_us(ts)) AS first_us, MAX(epoch_us(ts)) AS last_us,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id % 7 = 0 GROUP BY user_id
    """,
)
def dg8_ts_micros(spark, sf_dir):
    """Probe: raw epoch-microsecond extraction from events.ts — certifies
    that both engines truncate the parquet TIMESTAMP(NANOS) column to the
    SAME µs instants (Spark reads nanos-as-long and floor-divides; DuckDB
    1.0 truncates on read, newer builds read ns natively and truncate in
    epoch_us)."""
    ev = T(spark, sf_dir, "events").filter(F.col("user_id") % 7 == 0)
    return ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.count("*").alias("n"),
    )
