"""§2.8 Scalar functions (SURVEY.md) — string / date / math / array / map /
JSON / null / hash.

These reproduce the reference's client-side coercions (string->number,
`"20140101"`->date [K]) and GA's derived dimensions (`ga:dayOfWeek`,
`ga:hour`, channel-grouping CASE rules [K]).  All JVM-side built-ins inside
whole-stage codegen — no Python in the hot path.

Cross-engine traps handled here (each noted inline):
* Spark `dayofweek` is 1=Sunday; DuckDB's is 0=Sunday (+1 in oracle).
* Spark CAST(double AS int) truncates; DuckDB rounds (oracle uses trunc()).
* DuckDB `regexp_replace` is first-match unless the 'g' flag is passed.
* transcendentals (ln/pow/exp) are libm-dependent -> terminal round(4-6)
  keeping |ulp|/rounding-step tiny for the operand magnitudes used.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import fanout
from google_analytics_dataframes_spark.registry import register
from google_analytics_dataframes_spark.queries._util import T, pinned_confs


@register(
    "sf1_date_parse",
    oracle="""
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y%m%d') AS ga_date,
           strftime(CAST(strptime(strftime(o_orderdate, '%Y%m%d'), '%Y%m%d') AS DATE),
                    '%Y-%m-%d') AS parsed
    FROM orders
    """,
)
def sf1_date_parse(spark, sf_dir):
    """GA's `yyyyMMdd` string wire format [K]: format out, parse back."""
    o = T(spark, sf_dir, "orders")
    ga_date = F.date_format("o_orderdate", "yyyyMMdd")
    return o.select(
        "o_orderkey",
        ga_date.alias("ga_date"),
        F.date_format(F.to_date(ga_date, "yyyyMMdd"), "yyyy-MM-dd").alias("parsed"),
    )


@register(
    "sf2_date_extract",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS BIGINT) AS y,
           CAST(month(ts) AS BIGINT) AS m,
           CAST(day(ts) AS BIGINT) AS d,
           CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           CAST(hour(ts) AS BIGINT) AS h,
           CAST(quarter(ts) AS BIGINT) AS q,
           strftime(date_trunc('month', ts), '%Y-%m-%d') AS month_start
    FROM events
    """,
)
def sf2_date_extract(spark, sf_dir):
    """GA time dimensions ga:year/month/day/dayOfWeek/hour [K].
    Spark dayofweek: 1=Sunday; DuckDB: 0=Sunday -> oracle adds 1."""
    ev = T(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        F.dayofmonth("ts").cast("long").alias("d"),
        F.dayofweek("ts").cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("h"),
        F.quarter("ts").cast("long").alias("q"),
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM-dd").alias("month_start"),
    )


@register(
    "sf3_date_arith",
    oracle="""
    SELECT o_orderkey,
           strftime(CAST(o_orderdate + INTERVAL 7 DAY AS DATE), '%Y-%m-%d') AS plus7,
           strftime(CAST(o_orderdate - INTERVAL 30 DAY AS DATE), '%Y-%m-%d') AS minus30,
           strftime(CAST(o_orderdate + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS plus1m,
           CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS BIGINT)
             AS days_to_y2k
    FROM orders
    """,
)
def sf3_date_arith(spark, sf_dir):
    """Date arithmetic (GA relative dates `7daysAgo`/`today` [K]).
    add_months and +INTERVAL 1 MONTH both clamp to month end."""
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_add(F.col("o_orderdate"), 7), "yyyy-MM-dd").alias("plus7"),
        F.date_format(F.date_sub(F.col("o_orderdate"), 30), "yyyy-MM-dd").alias(
            "minus30"
        ),
        F.date_format(F.add_months(F.col("o_orderdate"), 1), "yyyy-MM-dd").alias(
            "plus1m"
        ),
        F.datediff(F.lit("2000-01-01").cast("date"), F.col("o_orderdate"))
        .cast("long")
        .alias("days_to_y2k"),
    )


@register(
    "sf4_string_basic",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS up, lower(c_mktsegment) AS lo,
           trim(concat('  ', c_name, '  ')) AS trimmed,
           substring(c_name, 1, 8) AS sub8,
           concat_ws('|', c_name, c_mktsegment) AS joined,
           CAST(length(c_name) AS BIGINT) AS name_len,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded
    FROM customer
    """,
)
def sf4_string_basic(spark, sf_dir):
    """upper/lower/trim/substring/concat/length/lpad — the reference's
    string-shaping layer [K]."""
    c = T(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias("trimmed"),
        F.substring("c_name", 1, 8).alias("sub8"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.length("c_name").cast("long").alias("name_len"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
    )


@register(
    "sf5_regex_fn",
    oracle=r"""
    SELECT p_partkey,
           regexp_extract(p_name, '([a-z]+)$', 1) AS last_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^(cold|small)') AS is_cold_small
    FROM part
    """,
)
def sf5_regex_fn(spark, sf_dir):
    """regexp_extract / regexp_replace / match (GA regex filters [K]).
    DuckDB regexp_replace needs 'g' to match Spark's replace-all."""
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_name", r"([a-z]+)$", 1).alias("last_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devoweled"),
        F.col("p_name").rlike("^(cold|small)").alias("is_cold_small"),
    )


@register(
    "sf6_split_array",
    oracle="""
    SELECT p_partkey,
           split_part(p_name, ' ', 1) AS word1,
           split_part(p_name, ' ', 2) AS word2,
           CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_words
    FROM part
    """,
)
def sf6_split_array(spark, sf_dir):
    """split -> array + element access (p_name is two space-separated
    words, FIXTURES.md)."""
    p = T(spark, sf_dir, "part")
    toks = F.split("p_name", " ")
    return p.select(
        "p_partkey",
        toks.getItem(0).alias("word1"),
        toks.getItem(1).alias("word2"),
        F.size(toks).cast("long").alias("n_words"),
    )


@register(
    "sf7_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 1) AS r1,
           abs(l_discount - 0.05) AS adiff,
           CAST(ceil(l_quantity) AS BIGINT) AS cq,
           CAST(floor(l_quantity) AS BIGINT) AS fq,
           round(ln(l_extendedprice), 4) AS ln_price,
           round(pow(1 + l_discount, 3), 6) AS pow3,
           sqrt(l_quantity) AS sq,
           l_partkey % 7 AS m7
    FROM lineitem
    """,
)
def sf7_math(spark, sf_dir):
    """round/abs/ceil/floor/ln/pow/sqrt/mod.  sqrt is IEEE-correctly-rounded
    (no rounding needed); ln/pow are libm-dependent -> round(4)/round(6)
    with small-magnitude operands."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 1).alias("r1"),
        F.abs(F.col("l_discount") - 0.05).alias("adiff"),
        F.ceil("l_quantity").cast("long").alias("cq"),
        F.floor("l_quantity").cast("long").alias("fq"),
        F.round(F.log("l_extendedprice"), 4).alias("ln_price"),
        F.round(F.pow(F.lit(1) + F.col("l_discount"), 3), 6).alias("pow3"),
        F.sqrt("l_quantity").alias("sq"),
        (F.col("l_partkey") % 7).alias("m7"),
    )


@register(
    "sf8_case_when",
    oracle="""
    SELECT CASE WHEN event_type IN ('purchase', 'signup') THEN 'conversion'
                WHEN event_type = 'error' THEN 'problem'
                ELSE 'engagement' END AS channel,
           COUNT(*) AS n
    FROM events GROUP BY channel
    """,
)
def sf8_case_when(spark, sf_dir):
    """CASE WHEN — GA channel-grouping rules [K]."""
    ev = T(spark, sf_dir, "events")
    channel = (
        F.when(F.col("event_type").isin("purchase", "signup"), "conversion")
        .when(F.col("event_type") == "error", "problem")
        .otherwise("engagement")
    )
    return ev.groupBy(channel.alias("channel")).agg(F.count("*").alias("n"))


@register(
    "sf9_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber AS VARCHAR) AS ln_str,
           CAST(CAST(l_linenumber AS VARCHAR) AS BIGINT) AS ln_back,
           CAST(trunc(l_quantity) AS BIGINT) AS qty_int,
           CAST(l_quantity AS VARCHAR) AS qty_str,
           TRY_CAST('not-a-number' AS BIGINT) AS bad_int,
           CAST('3.5' AS DOUBLE) AS lit_d,
           CAST('true' AS BOOLEAN) AS lit_b
    FROM lineitem
    """,
)
def sf9_cast(spark, sf_dir):
    """Explicit casts + try_cast — the reference's dtype-coercion layer [K].
    double->int goes through trunc() in the oracle (DuckDB CAST rounds,
    Spark truncates)."""
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("string").alias("ln_str"),
        F.col("l_linenumber").cast("string").cast("long").alias("ln_back"),
        F.col("l_quantity").cast("long").alias("qty_int"),
        F.col("l_quantity").cast("string").alias("qty_str"),
        F.lit("not-a-number").try_cast("long").alias("bad_int"),
        F.lit("3.5").cast("double").alias("lit_d"),
        F.lit("true").cast("boolean").alias("lit_b"),
    )


@register(
    "sf10_array_fns",
    oracle="""
    SELECT doc_id,
           unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
           unnest(string_split(text, ' ')) AS token,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           list_contains(string_split(text, ' '), 'spark') AS has_spark
    FROM documents WHERE lang = 'en' AND source = 'src0'
    """,
)
def sf10_array_fns(spark, sf_dir):
    """Array surface: split/posexplode/size/array_distinct/array_contains
    over `documents` (restricted to one (lang,source) slice to bound the
    exploded row count; oracle indexes with a lateral generate_series)."""
    d = T(spark, sf_dir, "documents").filter(
        (F.col("lang") == "en") & (F.col("source") == "src0")
    )
    toks = F.split("text", " ")
    d = d.select(
        "doc_id",
        F.posexplode(toks).alias("pos0", "token"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("long").alias("n_distinct"),
        F.array_contains(toks, "spark").alias("has_spark"),
    )
    return d.select(
        "doc_id",
        (F.col("pos0") + 1).cast("long").alias("pos"),
        "token",
        "n_tokens",
        "n_distinct",
        "has_spark",
    )


@register(
    "sf11_map_fns",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           CAST(len(json_keys(props)) AS BIGINT) AS n_keys,
           json_keys(props)[1] AS first_key
    FROM events
    """,
)
def sf11_map_fns(spark, sf_dir):
    """Map functions over JSON-parsed props: element_at / map_keys / size.

    Parse-once: naively referencing ``from_json(props)`` from all three
    derived expressions lets CollapseProject inline the parse into each —
    3 ``from_json`` evaluations per row in the executed plan (measured
    71.2x cost at 10x data).  ``explode(array(m))`` is a Generate node:
    projections do not collapse through Generate, so the parsed map is a
    bound attribute evaluated exactly once and the derivations reference
    it, not the parse.  A 1-element array preserves row count (a null map
    explodes to one null-map row).  Pinned to <=1 ``from_json`` occurrence
    in tests/test_plans.py."""
    # JSON parse is compute-dense: engage all cores (io.fanout doc)
    ev = fanout(T(spark, sf_dir, "events"))
    m = F.from_json(F.col("props"), "map<string,bigint>")
    parsed = ev.select("event_id", F.explode(F.array(m)).alias("m"))
    return parsed.select(
        "event_id",
        F.element_at("m", F.lit("k")).alias("k_val"),
        F.size(F.map_keys("m")).cast("long").alias("n_keys"),
        F.map_keys("m").getItem(0).alias("first_key"),
    )


@register(
    "sf12_json_path",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           json_extract_string(props, '$.missing') AS missing
    FROM events
    """,
)
def sf12_json_path(spark, sf_dir):
    """get_json_object path extraction (string out, NULL on missing path)."""
    # JSON parse is compute-dense: engage all cores (io.fanout doc)
    ev = fanout(T(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("long").alias("k_num"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@register(
    "sf13_null_fns",
    oracle="""
    SELECT o_orderkey,
           coalesce(nullif(o_orderstatus, 'P'), 'NONE') AS st,
           nullif(o_totalprice, 0.0) AS price_nz,
           CASE WHEN isnan(CASE WHEN o_totalprice > 300000.0 THEN 'NaN'::DOUBLE
                                ELSE o_totalprice END)
                THEN -1.0
                ELSE CASE WHEN o_totalprice > 300000.0 THEN 'NaN'::DOUBLE
                          ELSE o_totalprice END END AS nan_guarded
    FROM orders
    """,
)
def sf13_null_fns(spark, sf_dir):
    """coalesce/nullif/nanvl — NaN introduced deterministically, then
    guarded (pandas-NaN semantics of the reference client [K])."""
    o = T(spark, sf_dir, "orders")
    with_nan = F.when(
        F.col("o_totalprice") > 300000.0, F.lit(float("nan"))
    ).otherwise(F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("NONE")).alias("st"),
        F.nullif("o_totalprice", F.lit(0.0)).alias("price_nz"),
        F.nanvl(with_nan, F.lit(-1.0)).alias("nan_guarded"),
    )


@register(
    "sf14_hash_fns",
    oracle="""
    SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256
    FROM documents
    """,
)
def sf14_hash_fns(spark, sf_dir):
    """md5/sha2 content keys (dedup north star, BASELINE.json:6) — ANSI
    twins exist in DuckDB; xxhash64 is sf14b (R-tier, no DuckDB twin)."""
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
    )


@register(
    "sf14b_xxhash",
    oracle="""
    WITH probes(probe, h_xx) AS (VALUES
        ('spark',    CAST(-1960931134668248110 AS BIGINT)),
        ('',         CAST(-7444071767201028348 AS BIGINT)),
        ('xxhash64', CAST(-5669603901411035060 AS BIGINT))),
    agg AS (SELECT COUNT(*) AS n_rows, COUNT(DISTINCT text) AS n_distinct_hashes
            FROM documents)
    SELECT p.probe, p.h_xx, a.n_rows, a.n_distinct_hashes
    FROM probes p CROSS JOIN agg a
    """,
)
def sf14b_xxhash(spark, sf_dir):
    """xxhash64 — Spark's cheap 64-bit content key (the workhorse for
    MinHash perms in l2).  DuckDB has no xxhash64, but the function IS
    fully pinned by two oracle-checkable facts (upgraded from rows-only in
    round 5): (1) KNOWN-ANSWER probes — xxhash64 (seed 42) of three fixed
    literals, whose 64-bit values the oracle states as constants (the
    XXH64 algorithm is standardized and Spark's implementation is stable
    across versions); (2) an INJECTIVITY audit — the corpus-wide distinct
    hash count must equal the distinct text count (a 64-bit collision on
    ~1e5 docs has probability ~1e-10; confirmed across sf0.001/0.01/0.1).
    A changed seed, truncation, or byte-order bug breaks (1); any
    collision-introducing regression breaks (2)."""
    d = T(spark, sf_dir, "documents")
    agg = d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.xxhash64("text")).alias("n_distinct_hashes"),
    )
    probes = spark.createDataFrame(
        [("spark",), ("",), ("xxhash64",)], "probe string"
    )
    return probes.select("probe", F.xxhash64("probe").alias("h_xx")).crossJoin(
        F.broadcast(agg)
    )


@register(
    "sf15_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.missing') AS BIGINT) AS absent,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                AS BIGINT) AS k_mod
    FROM events
    """,
)
def sf15_variant(spark, sf_dir):
    """Spark 4 VARIANT — the engine's native semi-structured type (the
    successor to string-JSON + get_json_object): ``parse_json`` builds a
    binary variant ONCE per row, and typed ``variant_get`` /
    ``try_variant_get`` path extractions read it without re-parsing —
    the s3/sf12 JSON surface upgraded to the typed encoding a 100 TB
    semi-structured column should use (parse once at ingest, store the
    variant, extract many times for free).  ``try_variant_get`` on a
    missing path returns NULL instead of raising — the lenient form an
    exploratory query needs.  The Generate barrier holds the parsed
    variant as a bound attribute (the sf11 lesson), pinned by
    tests/test_plans.py::test_sf15_parses_variant_exactly_once."""
    ev = fanout(T(spark, sf_dir, "events").select("event_id", "props"))
    v = ev.select(
        "event_id", F.explode(F.array(F.parse_json("props"))).alias("v")
    )
    k = F.variant_get("v", "$.k", "bigint")
    return v.select(
        "event_id",
        k.alias("k"),
        F.try_variant_get("v", "$.missing", "bigint").alias("absent"),
        (k % 10).alias("k_mod"),
    )


@register(
    "sf16_collation",
    oracle="""
    WITH mixed AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS lang_m
      FROM documents)
    SELECT CAST(COUNT(CASE WHEN lower(lang_m) = 'en' THEN 1 END) AS BIGINT)
             AS n_en_lcase,
           CAST(COUNT(CASE WHEN lang_m = 'en' THEN 1 END) AS BIGINT)
             AS n_en_sensitive,
           CAST(COUNT(DISTINCT lang_m) AS BIGINT) AS n_distinct_sensitive,
           CAST(COUNT(DISTINCT lower(lang_m)) AS BIGINT) AS n_distinct_lcase
    FROM mixed
    """,
)
def sf16_collation(spark, sf_dir):
    """Spark 4 string COLLATIONS: comparisons, equality, and distinctness
    under a named collation instead of hand-strewn lower() calls — here
    UTF8_LCASE over a deterministically case-mixed language column (every
    even doc_id upper-cased).  The collated filter matches 'en' AND 'EN';
    collated COUNT(DISTINCT) merges the case pair per language while the
    binary-collation count sees both — the census a migration to collated
    columns runs to prove the semantics changed where (and only where)
    intended.  The oracle states the same facts with explicit lower():
    collation is exactly the engine taking over that normalization, so
    both formulations must agree cell for cell."""
    mixed = T(spark, sf_dir, "documents").select(
        F.when(
            F.col("doc_id") % 2 == 0, F.upper("lang")
        ).otherwise(F.col("lang")).alias("lang_m")
    )
    lcase = F.collate("lang_m", "UTF8_LCASE")
    return mixed.agg(
        F.count(F.when(lcase == F.lit("en"), 1)).cast("long").alias(
            "n_en_lcase"
        ),
        F.count(F.when(F.col("lang_m") == "en", 1)).cast("long").alias(
            "n_en_sensitive"
        ),
        F.countDistinct("lang_m").cast("long").alias("n_distinct_sensitive"),
        F.countDistinct(lcase).cast("long").alias("n_distinct_lcase"),
    )


# ------------------------------------------------------------------ sf17 ---
@register(
    "sf17_unpivot",
    oracle="""
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE)
               AS sum_price,
             CAST(MAX(o_totalprice) AS DOUBLE) AS max_price,
             CAST(COUNT(*) AS DOUBLE) AS n_orders
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, metric, val FROM agg
    UNPIVOT (val FOR metric IN (sum_price, max_price, n_orders))
    """,
)
def sf17_unpivot(spark, sf_dir):
    """UNPIVOT / melt — wide-to-long reshaping (SURVEY §2.8's reshaping
    surface; GA exports are wide per-metric tables and every BI layer
    melts them for charting).

    Spark's DataFrame.unpivot (3.4+) against DuckDB's UNPIVOT clause —
    the same relational operator through both engines' native syntax.
    The three metrics are pre-cast to one type (unpivot requires a
    common value type) and the sum uses exact decimal accumulation
    (dsum) so the melted doubles are partition-order independent.

    Scale shape: unpivot is a zero-shuffle Expand (each input row emits
    k typed rows map-side), so the only exchange is the groupBy before
    it — the melt itself costs no network at any corpus size."""
    from google_analytics_dataframes_spark.queries._util import dsum

    o = T(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        dsum("o_totalprice").alias("sum_price"),
        F.max("o_totalprice").cast("double").alias("max_price"),
        F.count("*").cast("double").alias("n_orders"),
    )
    return agg.unpivot(
        ["o_orderpriority"],
        ["sum_price", "max_price", "n_orders"],
        "metric",
        "val",
    )


# ------------------------------------------------------------------ sf18 ---
@register(
    "sf18_bitwise",
    oracle="""
    SELECT event_type,
           bit_and(user_id) AS and_all,
           bit_or(user_id) AS or_all,
           bit_xor(user_id) AS xor_all,
           CAST(SUM(bit_count(event_id)) AS BIGINT) AS popcount_sum,
           CAST(SUM(user_id & 255) AS BIGINT) AS low_byte_sum,
           CAST(SUM(xor(user_id, event_id) % 65536) AS BIGINT) AS mix_sum,
           CAST(SUM((user_id % 1024) << 3) AS BIGINT) AS shl_sum,
           CAST(SUM(event_id >> 2) AS BIGINT) AS shr_sum
    FROM events GROUP BY event_type
    """,
)
def sf18_bitwise(spark, sf_dir):
    """Bitwise expression + aggregate surface (§2.8's integer-kernel
    tier): &, |, xor, shifts and popcount as row expressions, and the
    bit_and/bit_or/bit_xor AGGREGATES — the primitives every bitmap/
    bloom/signature layer builds on (operators/dedup.py's packed-mask
    kernels and l50's bloom positions are exactly these ops composed).

    Engine traps pinned: Spark spells bitwise-xor ``^`` but DuckDB's
    ``^`` is exponentiation — the shared spelling is ``xor(a,b)`` in the
    oracle vs ``bitwiseXOR`` on the Spark side; shifts and popcount are
    plain integer kernels with identical semantics on int64 in both.

    All-integer results — no float contract at all; one partial+final
    aggregate exchange (bit_and/or/xor fold map-side like sum)."""
    ev = T(spark, sf_dir, "events")
    u, e = F.col("user_id"), F.col("event_id")
    return ev.groupBy("event_type").agg(
        F.bit_and(u).alias("and_all"),
        F.bit_or(u).alias("or_all"),
        F.bit_xor(u).alias("xor_all"),
        F.sum(F.bit_count(e)).cast("long").alias("popcount_sum"),
        F.sum(u.bitwiseAND(F.lit(255))).cast("long").alias("low_byte_sum"),
        F.sum(u.bitwiseXOR(e) % 65536).cast("long").alias("mix_sum"),
        F.sum(F.shiftleft(u % 1024, 3)).cast("long").alias("shl_sum"),
        F.sum(F.shiftright(e, 2)).cast("long").alias("shr_sum"),
    )


@register(
    "sf19_timezone_render",
    oracle="""
    SELECT event_id,
           strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'America/New_York',
                    '%Y-%m-%d %H:%M:%S') AS ts_nyc,
           strftime(ts AT TIME ZONE 'UTC' AT TIME ZONE 'Asia/Tokyo',
                    '%Y-%m-%d %H:%M:%S') AS ts_tokyo,
           CAST(EXTRACT(hour FROM ts AT TIME ZONE 'UTC'
                           AT TIME ZONE 'America/New_York') AS BIGINT)
             AS hour_nyc
    FROM events
    """,
)
def sf19_timezone_render(spark, sf_dir):
    """Property-timezone rendering [K — every GA4 property reports in its
    configured timezone, not UTC]: the stored UTC event timestamps
    rendered in two IANA zones plus the local-hour dimension reports
    group by.  New York exercises DST transitions (the synthetic range
    crosses the March switch), Tokyo a constant offset — both engines
    resolve the same IANA tzdata, and the output is a string, so any
    resolution skew hash-fails.

    Scale: pure scan-side expressions, no shuffle at all."""
    ev = T(spark, sf_dir, "events")
    nyc = F.from_utc_timestamp("ts", "America/New_York")
    tokyo = F.from_utc_timestamp("ts", "Asia/Tokyo")
    return ev.select(
        "event_id",
        F.date_format(nyc, "yyyy-MM-dd HH:mm:ss").alias("ts_nyc"),
        F.date_format(tokyo, "yyyy-MM-dd HH:mm:ss").alias("ts_tokyo"),
        F.hour(nyc).cast("long").alias("hour_nyc"),
    )


@register(
    "sf20_nested_arrays",
    oracle="""
    WITH f AS (
        SELECT user_id, event_id, event_type, value
        FROM events WHERE value > 100.0
    ),
    numbered AS (
        SELECT user_id,
               CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY event_id) - 1 AS INT) AS pos,
               event_id, event_type, value
        FROM f
    )
    SELECT user_id, pos, event_id, event_type, value FROM numbered
    UNION ALL
    SELECT DISTINCT e.user_id,
           CAST(NULL AS INT) AS pos,
           CAST(NULL AS BIGINT) AS event_id,
           CAST(NULL AS VARCHAR) AS event_type,
           CAST(NULL AS DOUBLE) AS value
    FROM events e
    WHERE NOT EXISTS (SELECT 1 FROM f WHERE f.user_id = e.user_id)
    """,
)
def sf20_nested_arrays(spark, sf_dir):
    """Nested array-of-struct construction and NULL-preserving
    deconstruction — the document-model surface: per-user events are
    nested into a sorted `array<struct>` (sort_array on the collected
    structs orders by the leading unique event_id, making collect_list's
    arrival order irrelevant), pruned with a higher-order `filter`
    lambda, then flattened back with `posexplode_outer`, which keeps
    users whose array filtered to empty as a NULL row — GA's
    keep-empty-rows semantic at the nested-column level.

    The oracle reconstructs the same rows relationally (ROW_NUMBER for
    the position, NOT EXISTS for the emptied users), so the hash proves
    nest -> filter -> outer-unnest is exactly the relational filter +
    left-preserved census.

    Scale: one exchange (the groupBy); the lambda and both explodes are
    narrow.  Per-user arrays are event-count bounded — the nested form
    never concentrates a hot key's corpus on one executor beyond what
    the raw group already does."""
    ev = T(spark, sf_dir, "events")
    nested = ev.groupBy("user_id").agg(
        F.sort_array(
            F.collect_list(F.struct("event_id", "event_type", "value"))
        ).alias("items")
    )
    pruned = nested.withColumn(
        "items", F.filter("items", lambda x: x["value"] > 100.0)
    )
    return pruned.select(
        "user_id", F.posexplode_outer("items").alias("pos", "item")
    ).select(
        "user_id",
        "pos",
        F.col("item.event_id").alias("event_id"),
        F.col("item.event_type").alias("event_type"),
        F.col("item.value").alias("value"),
    )


@register(
    "sf21_sql_scripting",
    oracle="""
    WITH s AS (
        SELECT CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
               / COUNT(value) AS thr
        FROM events
    )
    SELECT e.event_type, COUNT(*) AS n,
           CASE WHEN s.thr > 50.0 THEN 'high' ELSE 'low' END AS band
    FROM events e, s
    WHERE e.value > s.thr
    GROUP BY e.event_type, CASE WHEN s.thr > 50.0 THEN 'high' ELSE 'low' END
    """,
)
def sf21_sql_scripting(spark, sf_dir):
    """Spark 4 SQL scripting (`BEGIN ... END` compound statements,
    SQL/PSM): a script DECLAREs local variables, SETs one from a
    data-dependent scalar subquery (the exact-decimal mean of `value`),
    branches on it with IF/ELSE, and the script's value is its final
    SELECT — the migration surface for stored-procedure-shaped warehouse
    code.  The oracle restates the same computation relationally (the
    variable becomes a CTE scalar), so the hash proves the scripted
    control flow computed exactly the declarative answer.

    Scale: the script's imperative layer runs on the DRIVER over scalar
    variables only; both heavy statements (the mean, the report) are
    ordinary distributed plans — scripting adds sequencing, never a
    per-row loop."""
    T(spark, sf_dir, "events").createOrReplaceTempView("sf21_events")
    with pinned_confs(spark, {"spark.sql.scripting.enabled": "true"}):
        return spark.sql(
            """
            BEGIN
              DECLARE thr DOUBLE DEFAULT 0.0;
              DECLARE lbl STRING DEFAULT '';
              SET thr = (SELECT CAST(SUM(CAST(value AS DECIMAL(30,6)))
                                     AS DOUBLE) / COUNT(value)
                         FROM sf21_events);
              IF thr > 50.0 THEN
                SET lbl = 'high';
              ELSE
                SET lbl = 'low';
              END IF;
              SELECT event_type, COUNT(*) AS n, lbl AS band
              FROM sf21_events WHERE value > thr GROUP BY event_type;
            END
            """
        )


@register(
    "sf22_parameterized_sql",
    oracle="""
    SELECT event_type, COUNT(*) AS n, 'q3-2024' AS tag
    FROM events
    WHERE value > 150.0
    GROUP BY event_type
    """,
)
def sf22_parameterized_sql(spark, sf_dir):
    """Parameterized SQL with named parameter markers plus the IDENTIFIER
    clause: the table name and the filter threshold both arrive as BOUND
    PARAMETERS (`spark.sql(query, args=...)`), never string-spliced —
    the injection-safe templating surface every multi-tenant report
    runner needs, and IDENTIFIER() is how a parameter can name a table
    without dynamic SQL.  The oracle states the same query with the
    parameters inlined as literals, so the hash proves binding semantics
    equal literal semantics.

    Scale: parameters bind at parse time; the plan is identical to the
    literal query's (same pushdown, same aggregate)."""
    T(spark, sf_dir, "events").createOrReplaceTempView("sf22_events")
    return spark.sql(
        """
        SELECT event_type, COUNT(*) AS n, :tag AS tag
        FROM IDENTIFIER(:tbl)
        WHERE value > :thr
        GROUP BY event_type
        """,
        args={"tbl": "sf22_events", "thr": 150.0, "tag": "q3-2024"},
    )
