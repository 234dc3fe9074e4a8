"""§2.3 Joins (SURVEY.md).

The reference performs no client-side joins [K] — each GA report arrives
pre-joined from Google.  Joins enter the contract because reproducing GA
metrics from the raw `events`/star-schema tables requires them
(TESTDATA.md:13-14).  All equi-joins are built-in Spark; the physical
algorithm is Catalyst/AQE's choice, steered with hints:

* j2 pins BROADCAST for the small dim side — at 100 TB a 200k-row `part`
  dim is megabytes; broadcasting avoids shuffling the 600B-row fact table.
* j1 pins SHUFFLE_HASH, j3 pins MERGE — exercising both large-join paths.
* j10-j12 are theta/range shapes: equi on the user key plus a time-range
  predicate, so they still hash-partition by user (no nested-loop blowup);
  the range is a post-join filter on co-located rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.registry import register
from google_analytics_dataframes_spark.queries._util import (
    T,
    dsum,
    dsum_sql,
    pinned_confs,
)


@register(
    "j1_inner_hash",
    oracle="""
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_mktsegment
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def j1_inner_hash(spark, sf_dir):
    """Inner equi-join, shuffled-hash path pinned via hint."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").hint("SHUFFLE_HASH")
    return o.join(c, o.o_custkey == c.c_custkey).select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


@register(
    "j2_broadcast",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, p.p_brand,
           l.l_extendedprice * (1 - l.l_discount) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type = 'PROMO'
    """,
)
def j2_broadcast(spark, sf_dir):
    """Broadcast hash join: small dim ships to every executor — no shuffle
    of the fact side (TPC-H Q14 shape)."""
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    return li.join(F.broadcast(p), li.l_partkey == p.p_partkey).select(
        "l_orderkey",
        "l_linenumber",
        "p_brand",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )


@register(
    "j3_sort_merge",
    oracle=f"""
    SELECT o.o_orderstatus, COUNT(*) AS n_lines, {dsum_sql('l.l_quantity')} AS sum_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderstatus
    """,
)
def j3_sort_merge(spark, sf_dir):
    """Sort-merge join of the two large tables (MERGE hint): both sides
    shuffle-sort on the key; at scale this spills gracefully where hash
    builds cannot."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").hint("MERGE")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n_lines"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "j4_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def j4_left_outer(spark, sf_dir):
    """Left outer join — customers with zero orders survive with count 0."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, o.o_custkey == c.c_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "j5_right_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
    FROM orders o RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def j5_right_outer(spark, sf_dir):
    """Right outer join (mirror of j4 with preserved side on the right)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@register(
    "j6_full_outer",
    oracle="""
    SELECT c.c_custkey, c.c_mktsegment, o.o_orderkey
    FROM (SELECT * FROM customer WHERE c_mktsegment = 'BUILDING') c
    FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 200000.0) o
      ON o.o_custkey = c.c_custkey
    """,
)
def j6_full_outer(spark, sf_dir):
    """Full outer join with nulls on both sides (filtered inputs so each
    side has unmatched rows)."""
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000.0)
    return o.join(c, o.o_custkey == c.c_custkey, "full").select(
        "c_custkey", "c_mktsegment", "o_orderkey"
    )


@register(
    "j7_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
    """,
)
def j7_semi(spark, sf_dir):
    """Left semi join (EXISTS): customers with >=1 urgent order; emits each
    customer once regardless of match count."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, o.o_custkey == c.c_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "j8_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def j8_anti(spark, sf_dir):
    """Left anti join (NOT EXISTS): customers with no pending ('P') order
    (unfiltered orders give every customer a match at sf>=0.01 — a 0-row
    degenerate test)."""
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return c.join(o, o.o_custkey == c.c_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "j9_cross",
    oracle="""
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def j9_cross(spark, sf_dir):
    """Cross join (small x small -> BroadcastNestedLoopJoin physically)."""
    r = T(spark, sf_dir, "region")
    s = T(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s).select("r_name", "o_orderstatus")


@register(
    "j10_theta_range",
    oracle="""
    SELECT a.user_id, COUNT(*) AS pairs
    FROM events a JOIN events b
      ON a.user_id = b.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
    GROUP BY a.user_id
    """,
)
def j10_theta_range(spark, sf_dir):
    """Theta join: event pairs of the same user within one hour.  Equi on
    user_id keeps it hash-partitioned (the range is a co-located filter) —
    the 100-TB-safe shape for time-proximity joins."""
    ev = T(spark, sf_dir, "events")
    a = ev.alias("a")
    b = ev.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") > F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 1 HOUR")),
        )
        .groupBy(F.col("a.user_id").alias("user_id"))
        .agg(F.count("*").alias("pairs"))
    )


@register(
    "j11_asof",
    oracle="""
    SELECT p.event_id, p.user_id,
           strftime(MAX(v.ts), '%Y-%m-%d %H:%M:%S') AS last_view_ts,
           COUNT(v.ts) AS n_prior_views
    FROM events p
    LEFT JOIN events v
      ON v.user_id = p.user_id AND v.event_type = 'view' AND v.ts <= p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def j11_asof(spark, sf_dir):
    """As-of join: for every purchase, the latest view event of the same
    user at-or-before it (DuckDB ASOF JOIN semantics, expressed as
    join+max so both engines share one ANSI formulation).  Equi on user +
    max-aggregation — shuffles once on user_id."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user_id"), F.col("ts").alias("v_ts")
    )
    joined = p.join(
        v, (F.col("v_user_id") == F.col("user_id")) & (F.col("v_ts") <= F.col("ts")), "left"
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.date_format(F.max("v_ts"), "yyyy-MM-dd HH:mm:ss").alias("last_view_ts"),
        F.count("v_ts").alias("n_prior_views"),
    )


@register(
    "j12_interval",
    oracle="""
    SELECT p.event_id, p.user_id, COUNT(e.event_id) AS errors_within_2h
    FROM events p
    LEFT JOIN events e
      ON e.user_id = p.user_id AND e.event_type = 'error'
     AND e.ts >= p.ts AND e.ts < p.ts + INTERVAL 2 HOUR
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id, p.user_id
    """,
)
def j12_interval(spark, sf_dir):
    """Interval-overlap join: error events falling inside each purchase's
    2-hour window, per user (j10 machinery, interval-table query shape)."""
    ev = T(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
        F.col("event_id").alias("e_event_id"),
    )
    joined = p.join(
        e,
        (F.col("e_user_id") == F.col("user_id"))
        & (F.col("e_ts") >= F.col("ts"))
        & (F.col("e_ts") < F.col("ts") + F.expr("INTERVAL 2 HOUR")),
        "left",
    )
    return joined.groupBy("event_id", "user_id").agg(
        F.count("e_event_id").alias("errors_within_2h")
    )


@register(
    "j13_multikey",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, r.l_returnflag
    FROM lineitem l
    JOIN (SELECT l_orderkey, l_linenumber, l_returnflag
          FROM lineitem WHERE l_returnflag = 'R') r
      ON l.l_orderkey = r.l_orderkey AND l.l_linenumber = r.l_linenumber
    """,
)
def j13_multikey(spark, sf_dir):
    """Multi-column equi-join on the composite line key."""
    li = T(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("r_orderkey"),
        F.col("l_linenumber").alias("r_linenumber"),
        F.col("l_returnflag").alias("r_returnflag"),
    )
    return li.join(
        r,
        (li.l_orderkey == r.r_orderkey) & (li.l_linenumber == r.r_linenumber),
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.col("r_returnflag").alias("l_returnflag"),
    )


@register(
    "j14_skew_salted",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j14_skew_salted(spark, sf_dir):
    """Hot-key-resilient equi-join via salting (operators/skew.py
    salted_join): the fact side gets a deterministic per-row salt, the dim
    side is replicated `salt` times, and the join key becomes (user_id,
    _salt) — a key owning 30% of the fact table spreads over 8 reducers
    instead of melting one.  MERGE-hinted so the plan is the sort-merge
    join salting exists for (a broadcast would sidestep the skew anyway —
    that case is j2); the oracle is the plain unsalted join, which the
    salted plan must match row-for-row.  tests/test_plans.py pins the
    physical shape (SMJ, no BroadcastExchange, salt in the join keys)."""
    from google_analytics_dataframes_spark.operators.skew import salted_join

    ev = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    dim = (
        T(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .hint("MERGE")
    )
    return salted_join(ev, dim, "user_id", salt=8).select(
        "event_id", "user_id", "event_type", "value", "c_mktsegment"
    )


@register(
    "j15_nullsafe_join",
    oracle="""
    WITH c AS (SELECT c_custkey,
                      CASE WHEN c_nationkey % 5 = 0 THEN NULL
                           ELSE c_nationkey END AS nk
               FROM customer),
    s AS (SELECT s_suppkey,
                 CASE WHEN s_nationkey % 5 = 0 THEN NULL
                      ELSE s_nationkey END AS nk
          FROM supplier)
    SELECT c.nk, CAST(COUNT(*) AS BIGINT) AS pairs,
           CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS customers,
           CAST(COUNT(DISTINCT s.s_suppkey) AS BIGINT) AS suppliers
    FROM c JOIN s ON c.nk IS NOT DISTINCT FROM s.nk
    GROUP BY c.nk
    """,
)
def j15_nullsafe_join(spark, sf_dir):
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) — the join
    surface's last predicate form: under plain `=`, NULL keys silently
    drop from an inner join; null-safe equality makes NULL a VALUE that
    matches NULL, the semantics dimension-coded GA exports need where
    'unknown region' rows must still pair up.  A fifth of each side's
    nation keys is nulled (nationkey % 5 == 0), so the NULL group is a
    real, populated join key whose pair count the oracle checks.

    Scale: Catalyst plans `<=>` as an ordinary hash-partitioned equi-join
    (EqualNullSafe is a hashable key, not a theta condition), so this
    costs exactly j1's shuffle — no BroadcastNestedLoop fallback.  Skew
    note: coalescing many dirty keys to ONE null makes NULL the hot key
    at scale; j14's salting applies unchanged."""
    c = T(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(F.col("c_nationkey") % 5 == 0, None)
        .otherwise(F.col("c_nationkey"))
        .alias("nk"),
    )
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey",
        F.when(F.col("s_nationkey") % 5 == 0, None)
        .otherwise(F.col("s_nationkey"))
        .alias("nk"),
    )
    return (
        c.join(s, c["nk"].eqNullSafe(s["nk"]))
        .groupBy(c["nk"].alias("nk"))
        .agg(
            F.count("*").alias("pairs"),
            F.countDistinct("c_custkey").alias("customers"),
            F.countDistinct("s_suppkey").alias("suppliers"),
        )
    )


# --------------------------------------------------------------------------
# j16 — AQE skew-join (the built-in counterpart of j14's manual salting)
# --------------------------------------------------------------------------

#: Confs that let AQE's OptimizeSkewedJoin engage at test scale.  At 100 TB
#: the DEFAULTS (256 MB threshold, 5x median factor) do the same job; here
#: every partition is kilobytes so the thresholds must shrink, broadcast
#: must be disabled (the right side is megabytes and a broadcast join would
#: make skew moot), and force= lifts the extra-shuffle cost veto that the
#: post-join aggregation's exchange otherwise triggers.
_SKEW_CONFS = {
    "spark.sql.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.5",
    "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
}


def skew_join_frame(spark, sf_dir):
    """The un-staged skewed join j16 executes (shared with the plan-pin
    test): 90% of left rows share one hot key, carrying an incompressible
    sha2 payload so the hot partition's COMPRESSED shuffle size (what
    MapStatus reports and skew detection reads) reflects the row count.

    fanout(32) is load-bearing, not cosmetic: OptimizeSkewedJoin splits a
    skewed reduce partition at MAPPER granularity, so a left side read as
    one map task (one small parquet file) is unsplittable no matter how
    skewed — measured: identical query, 0 skew splits at 1 mapper, split
    at 32.  At 100 TB the map side has thousands of tasks and this is
    automatic; locally the rebalance models it."""
    from google_analytics_dataframes_spark.io import fanout

    ev = T(spark, sf_dir, "events")
    left = fanout(ev, 32).select(
        F.when(F.col("event_id") % 10 < 9, F.lit(0))
        .otherwise(F.col("event_id"))
        .alias("k"),
        F.sha2(F.col("event_id").cast("string"), 256).alias("payload"),
        "value",
    )
    right = ev.select(F.col("event_id").alias("rk"), "user_id")
    return left.join(right, F.col("k") == F.col("rk")).agg(
        F.count("*").alias("n"),
        dsum("value").alias("sum_v"),
    )


@register(
    "j16_aqe_skew_join",
    oracle=f"""
    SELECT COUNT(*) AS n, {dsum_sql('l.value')} AS sum_v
    FROM (SELECT CASE WHEN event_id % 10 < 9 THEN 0 ELSE event_id END AS k,
                 value
          FROM events) l
    JOIN events r ON l.k = r.event_id
    """,
)
def j16_aqe_skew_join(spark, sf_dir):
    """AQE runtime skew-join handling — the BUILT-IN counterpart of j14's
    manual salting: a planted 90%-hot-key join where AQE splits the
    skewed reduce partition into mapper-range slices and replicates the
    matching build rows (`SortMergeJoin(skew=true)` +
    `AQEShuffleRead skewed`, pinned in tests/test_plans.py), so one
    straggler task becomes ~balanced parallel tasks with no key rewrite.

    Skew handling is a runtime re-plan, so (s20's pattern) the query
    executes inside the fn with the enabling confs pinned and restored,
    staging the single-row result through parquet; the oracle recomputes
    the join relationally.  See _SKEW_CONFS for why each override exists
    only at test scale, and skew_join_frame for the mapper-granularity
    constraint this row documents."""
    import os
    import shutil

    from google_analytics_dataframes_spark.io import scratch_dir

    sf_tag = os.path.basename(sf_dir.rstrip("/"))
    out = scratch_dir(f"skewjoin_{sf_tag}")
    with pinned_confs(spark, _SKEW_CONFS):
        shutil.rmtree(out, ignore_errors=True)
        skew_join_frame(spark, sf_dir).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


@register(
    "j17_binned_interval_join",
    oracle=f"""
    SELECT o.o_orderkey, COUNT(*) AS n_overlap,
           {dsum_sql('l.l_quantity')} AS sum_qty
    FROM orders o
    JOIN lineitem l
      ON date_trunc('day', o.o_orderdate)
           < date_trunc('day', l.l_shipdate) + INTERVAL 7 DAY
     AND date_trunc('day', l.l_shipdate)
           < date_trunc('day', o.o_orderdate) + INTERVAL 30 DAY
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-02-01'
      AND o.o_orderpriority = '1-URGENT'
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R' AND l.l_quantity >= 45
    GROUP BY o.o_orderkey
    """,
)
def j17_binned_interval_join(spark, sf_dir):
    """PURE interval-overlap join — no equi key at all, the shape j10/j12
    dodge by hashing on user_id.  Naively this is a quadratic
    BroadcastNestedLoopJoin; the 100-TB answer is BINNING: explode each
    interval into the fixed-width time bins it covers (7-day bins here:
    order activity windows cover <=6, ship windows <=2), equi-join on
    the bin, re-check the exact overlap predicate on co-located rows,
    and keep each true pair exactly once WITHOUT a distinct — only in
    the bin containing max(start_a, start_b) (every overlapping pair
    covers that bin by construction, and covers it once).  Join volume
    becomes |bins| x per-bin density instead of |A| x |B|, the bin
    width trading candidate fan-out against per-bin skew.

    The oracle is the naive theta join stated directly — the driver hash
    proves the binned plan computes exactly the quadratic join's answer.
    Both formulations work at DAY granularity: the DataFrame side bins on
    datediff-from-epoch (whole days), and the oracle truncates both
    timestamps with date_trunc('day', ...) in the overlap arithmetic
    (ADVICE r8), so intra-day components can never make the two sides
    diverge — on the synth data all values are midnight-aligned and the
    truncation is a no-op.
    Plan pin (tests/test_plans.py): the join is an EQUI join on the bin
    column; no BroadcastNestedLoopJoin/CartesianProduct anywhere.

    Like j15, this shape is ANSWER-bounded quadratic: with both interval
    sets growing 10x, true overlap pairs grow 100x no matter the plan
    (binning fixes the JOIN strategy, not the output) — an unsliced
    month x quarter at the 10x synth is ~150M pairs.  The registered
    slices (urgent orders x returned high-quantity items) keep the pair
    count in the answer's intended regime; production users pick bin
    width and slices the same way."""
    epoch = F.lit("1970-01-01").cast("date")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-02-01").cast("timestamp"))
        & (F.col("o_orderpriority") == "1-URGENT")
    ).select("o_orderkey", F.datediff(F.col("o_orderdate"), epoch).alias("a0"))
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        & (F.col("l_returnflag") == "R")
        & (F.col("l_quantity") >= 45)
    ).select("l_quantity", F.datediff(F.col("l_shipdate"), epoch).alias("b0"))
    return (
        binned_overlap_join(o, li, a_len=30, b_len=7, width=7)
        .groupBy("o_orderkey")
        .agg(F.count("*").alias("n_overlap"), dsum("l_quantity").alias("sum_qty"))
    )


def binned_overlap_join(a, b, a_len: int, b_len: int, width: int):
    """j17's core, pre-aggregation (shared with the property test in
    tests/test_property.py): join every A interval [a0, a0+a_len) to
    every B interval [b0, b0+b_len) that overlaps it, via bin explosion
    on fixed `width`-day bins, an exact overlap re-check, and the
    anchor-bin dedup (keep the pair only in the bin containing
    max(a0, b0) — every overlapping pair covers that bin exactly once,
    so no distinct is needed).  Inputs need integer day columns `a0` /
    `b0`; other columns pass through."""
    ab = a.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("a0") / width).cast("int"),
                F.floor((F.col("a0") + a_len - 1) / width).cast("int"),
            )
        ),
    )
    bb = b.withColumn(
        "bin",
        F.explode(
            F.sequence(
                F.floor(F.col("b0") / width).cast("int"),
                F.floor((F.col("b0") + b_len - 1) / width).cast("int"),
            )
        ),
    )
    overlap = (F.col("a0") < F.col("b0") + b_len) & (
        F.col("b0") < F.col("a0") + a_len
    )
    anchor_bin = F.floor(F.greatest("a0", "b0") / width).cast("int")
    return ab.join(bb, "bin").filter(overlap & (F.col("bin") == anchor_bin))
