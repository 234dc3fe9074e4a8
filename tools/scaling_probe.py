#!/usr/bin/env python
"""Scaling probe: measure the five headline LLM-pipeline operators across
scale factors, including a synthetic 10x point ABOVE the largest shipped SF
(sf0.1), and print a sec-vs-sf table for BASELINE.md.

The synthetic "synth-sf1" documents table is 10 copies of sf0.1's documents
(50,000 docs): copy 0 verbatim, copies 1-9 with the alphabet Caesar-shifted
by the copy index (translate a-z -> rotated a-z).  Rotation keeps every
copy's token/shingle/char-gram FREQUENCY SHAPE exactly isomorphic to the
original while making the sub-corpora (near-)disjoint, so candidate-pair
and cluster counts scale linearly with corpus size and the probe measures
ENGINE scaling, not a construction artifact.  Two earlier variants were
rejected for creating exactly such artifacts: word PERMUTATION keeps
identical token multisets (every copy-group became a 10-way near-dup
cluster, pair counts ~45x), and per-token COPY SUFFIXES ("spark"->
"spark_3") inject "_3 "-style char-3-gram STOP-GRAMS into every token
boundary (one gram shared by ~every doc of a copy => a quadratic
candidate-join blowup that took l60 from 8.7 s to >300 s — by
construction, not by engine fault).  Length is translate-invariant so
n_chars stays valid.  A MEASUREMENT artifact for scaling only —
correctness runs use the driver's own tables.

Protocol: per (sf, query) one untimed warm-up (codegen + any session-shared
materialization, matching BASELINE.md's warm protocol), then median of 3
timed runs through the noop sink.

Usage: python tools/scaling_probe.py [--skip-synth]
         [--queries prefix,prefix,...] [--points sf0.01,synth-sf1,...]
"""

from __future__ import annotations

import json
import os
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    "l2_near_dedup_minhash",
    "l7_string_simjoin",
    "l29_dedup_clusters",
    "l44_clean_corpus",
    "l45_corpus_shuffle",
    # round-4 token-pipeline representatives
    "l53_decontam_multi_n",
    "l56_bigram_logprob",
    "l60_incremental_neardup",
    # round-5: exact rolling-distinct vs its HLL sketch path — the pair
    # whose relative cost is the sketch path's whole argument (w11's
    # rolling merge touches |days| x 7 sketch rows regardless of user
    # count; w10's exact shape re-shuffles every (day, user) pair)
    "w10_rolling_distinct",
    "w11_rolling_hll",
    # round-5: ExactSubstr span join — window stream ~30x text bytes; on
    # the Caesar synth the rotated copies share no cross-copy 30-char
    # runs, so output (and join collisions) scale linearly with corpus
    "l61_exact_substr_spans",
    # round-6: the hashed-window twin — same output, 8-byte shuffle keys;
    # probes that the re-verify joins stay linear too
    "l61b_exact_substr_hashed",
    # round-6 (VERDICT r5 item #5): extend probe coverage beyond the
    # l-family — session/report layer over 10x-users events, sketch
    # aggregates over 10x lineitem/events, and one real stream at 10x
    "rb18_session_metrics",
    "rb21_active_users",
    "a4_approx_distinct",
    "a14_percentiles",
    "a17_approx_percentile",
    "st14_stream_sessionize",
    # round-7 (VERDICT r6 item #7): the other two real streams at 10x —
    # the stream-stream interval join (state = two watermark-bounded
    # sides) and ingest-time content dedup (state = distinct contents)
    "st9_stream_interval_join",
    "st15_stream_content_dedup",
    # round-8 batch 6: the TWS typed-state stream (state = users x
    # event-types in RocksDB column families), fixed-budget priority
    # sampling (map-side WindowGroupLimit keeps <= k+1 rows/group), and
    # navigation PageRank (edge extraction scales; iterations are
    # page-bounded)
    "st18_stream_typed_state",
    "l76_priority_sample",
    "rb25_nav_pagerank",
    # round-8 batch 7: recursive-CTE reachability (corpus-scale work is
    # the edge window; the UnionLoop runs on the page-bounded top-3
    # graph), the zero-shuffle unpivot, and the five-moment statistics
    # frame (one partial+final aggregate)
    "rb26_flow_reachability",
    "sf17_unpivot",
    "a19_moment_stats",
    # round-8 batch 8: BPE encode (per-doc Python apply, sample-trained),
    # the two dirty-lake source surfaces (staging charged to warm-up),
    # and the timer-driven TWS sessionization stream (registered after
    # the BENCH_SF1 refresh)
    "l77_bpe_encode_roundtrip",
    "s15_schema_evolution",
    "s16_corrupt_records",
    "st19_stream_timer_sessions",
    # round-8 batch 9: the streaming CDC apply (2 foreachBatch snapshot
    # versions; state is the fingerprint snapshot, linear in changed
    # rows), the nth_value/ignore-nulls window pair (one user-window
    # sort), and the bitwise expression+aggregate surface (scan-bound)
    "st20_stream_cdc_apply",
    "w13_nth_value",
    "sf18_bitwise",
    # round-8 batch 10: attribution + entry paths (one user-hash window
    # each), the footer-stats manifest (metadata-sized by contract), and
    # the source-overlap matrix (source-set explode, shingle-linear)
    "rb27_attribution",
    "rb28_entry_paths",
    "s17_footer_stats",
    "l78_source_overlap",
    # round-8 batch 11: conversion-lag banding (rb27's window, timestamp
    # accessor), two-iteration Lloyd k-means (per-iteration corpus scan +
    # 640-cell update), and cluster keeper election (struct-max, no
    # corpus window)
    "rb29_conversion_lag",
    "l79_kmeans_lloyd",
    "l80_keeper_election",
    # round-8 batch 12: cume_dist + trailing-hour density (one user
    # window), property-timezone rendering (scan-bound), and the boolean/
    # conditional aggregate surface (exact median is the sort-bound one)
    "w14_cume_dist",
    "sf19_timezone_render",
    "a20_bool_aggs",
    # round-8 batch 13: manifest-driven file pruning (driver-side footer
    # manifest over the 8-file clustered staging; staging charged to
    # warm-up, read cost tracks the selected-file fraction)
    "s18_manifest_pruned_read",
    # round-8 batch 14: watermark late-drop proof — 5 microbatches
    # (bulk, watermark-advancing mid, the straggler file, double flush);
    # state bounded by open windows regardless of straggler lateness
    "st21_stream_late_drop",
    # round-8 batch 15: the Python DataSource WRITER half — 4 parallel
    # part writes + one manifest rename; cost tracks the written slice
    # (fixed 2000 rows), not the corpus
    "s19_python_datasource_writer",
    # round-8 batch 16: null-safe equi-join (ordinary hash-partitioned
    # join; NULL is the potential hot key — j14's salting applies)
    "j15_nullsafe_join",
]

SYNTH_DIR = "/tmp/spark_graft_synth_sf1"


def build_synth(spark, base_dir: str) -> str:
    """10x documents from ``base_dir``: copy 0 verbatim, copies 1-9 with a
    per-copy Caesar-shifted alphabet (disjoint isomorphic sub-corpora)."""
    import pyspark.sql.functions as F

    out = os.path.join(SYNTH_DIR, "documents.parquet")
    if os.path.exists(os.path.join(SYNTH_DIR, "_BUILT5")):
        return SYNTH_DIR
    docs = spark.read.parquet(os.path.join(base_dir, "documents.parquet"))
    n = docs.agg(F.max("doc_id")).first()[0] + 1
    rep = docs.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("copy"), "*"
    )
    alpha = "abcdefghijklmnopqrstuvwxyz"
    text2 = F.col("text")
    for i in range(9, 0, -1):
        rot = alpha[i:] + alpha[:i]
        text2 = F.when(
            F.col("copy") == i, F.translate("text", alpha, rot)
        ).otherwise(text2)
    synth = rep.select(
        (F.col("doc_id") + F.col("copy") * F.lit(n)).alias("doc_id"),
        text2.alias("text"),
        "lang",
        "source",
        "n_chars",  # translate is length-preserving
    )
    synth.repartition(8).write.mode("overwrite").parquet(out)

    # 10x events: copy 0 verbatim, copies 1-9 with user_id/event_id offset
    # into disjoint ranges (same calendar days — the realistic axis: a
    # 10x-traffic property has more users per day, not more days).  The
    # distinct (day, user) pair stream w10 shuffles grows 10x; w11's
    # post-aggregate sketch stream stays |days| rows.
    ev_out = os.path.join(SYNTH_DIR, "events.parquet")
    ev = spark.read.parquet(os.path.join(base_dir, "events.parquet"))
    if dict(ev.dtypes).get("ts") == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    nu = ev.agg(F.max("user_id")).first()[0] + 1
    ne = ev.agg(F.max("event_id")).first()[0] + 1
    ev_synth = ev.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("copy"), "*"
    ).select(
        (F.col("event_id") + F.col("copy") * F.lit(ne)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.col("copy") * F.lit(nu)).alias("user_id"),
        "event_type",
        "value",
        "props",
    )
    ev_synth.repartition(8).write.mode("overwrite").parquet(ev_out)

    # 10x lineitem: copies 1-9 offset l_orderkey into disjoint ranges,
    # every value column verbatim — the per-copy value DISTRIBUTION is
    # identical, so percentile/sketch answers are unchanged while the row
    # stream is 10x (the right shape for probing sketch aggregates: cost
    # should scale with rows, answers should not move).
    li_out = os.path.join(SYNTH_DIR, "lineitem.parquet")
    li = spark.read.parquet(os.path.join(base_dir, "lineitem.parquet"))
    nk = li.agg(F.max("l_orderkey")).first()[0] + 1
    li_synth = li.select(
        F.explode(F.sequence(F.lit(0), F.lit(9))).alias("copy"), "*"
    ).select(
        *[
            (F.col("l_orderkey") + F.col("copy") * F.lit(nk)).alias("l_orderkey")
            if c == "l_orderkey"
            else F.col(c)
            for c in li.columns
        ]
    )
    li_synth.repartition(8).write.mode("overwrite").parquet(li_out)
    open(os.path.join(SYNTH_DIR, "_BUILT5"), "w").close()
    return SYNTH_DIR


def build_synth_full(spark, base_dir: str) -> str:
    """FULL 10x dataset (VERDICT r5 item #8): every table scaled so the
    ENTIRE registry can bench at synth-sf1, with foreign keys kept
    consistent across copies — copy k's orders reference copy k's
    customers, lineitem copy k references copy k's orders/parts/suppliers
    — so join selectivities match the real-growth shape instead of
    degenerating to empty or cross-copy joins.  Dimensions (region,
    nation) stay verbatim: a 10x-business property has more facts, not
    more nations.  Embeddings decorrelate copies by a per-copy cyclic
    PERMUTATION of the 64 dims (orthogonal: within-copy cosines exact,
    cross-copy essentially random) — the embedding-space analogue of the
    Caesar shift; scaling copies instead would plant cos-1.0 duplicates
    and blow up every LSH/kNN candidate count 45x by construction.
    Documents/events/lineitem reuse build_synth's forms."""
    import pyspark.sql.functions as F

    build_synth(spark, base_dir)  # documents, events, lineitem
    if os.path.exists(os.path.join(SYNTH_DIR, "_BUILT_FULL1")):
        return SYNTH_DIR

    def rd(t):
        return spark.read.parquet(os.path.join(base_dir, f"{t}.parquet"))

    def wr(df, t):
        df.repartition(8).write.mode("overwrite").parquet(
            os.path.join(SYNTH_DIR, f"{t}.parquet")
        )

    for t in ("region", "nation"):
        wr(rd(t), t)

    nmax = {
        t: rd(t).agg(F.max(k)).first()[0] + 1
        for t, k in (
            ("customer", "c_custkey"),
            ("supplier", "s_suppkey"),
            ("part", "p_partkey"),
            ("orders", "o_orderkey"),
            ("embeddings", "vec_id"),
        )
    }

    def fan10(df):
        return df.select(
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("copy"), "*"
        )

    def offset(df, cols: dict):
        return df.select(
            *[
                (F.col(c) + F.col("copy") * F.lit(cols[c])).alias(c)
                if c in cols
                else F.col(c)
                for c in df.columns
                if c != "copy"
            ]
        )

    wr(offset(fan10(rd("customer")), {"c_custkey": nmax["customer"]}), "customer")
    wr(offset(fan10(rd("supplier")), {"s_suppkey": nmax["supplier"]}), "supplier")
    wr(offset(fan10(rd("part")), {"p_partkey": nmax["part"]}), "part")
    wr(
        offset(
            fan10(rd("orders")),
            {"o_orderkey": nmax["orders"], "o_custkey": nmax["customer"]},
        ),
        "orders",
    )
    # lineitem: rebuild with the FULL key set (build_synth's form only
    # offsets l_orderkey, enough for the sketch probes but not for joins)
    li = fan10(rd("lineitem"))
    li_cols = {
        "l_orderkey": nmax["orders"],
        "l_partkey": nmax["part"],
        "l_suppkey": nmax["supplier"],
    }
    wr(offset(li, {k: v for k, v in li_cols.items() if k in rd("lineitem").columns}), "lineitem")

    emb = rd("embeddings")
    dim = len(emb.select("embedding").first()[0])
    rot = fan10(emb).select(
        (F.col("vec_id") + F.col("copy") * F.lit(nmax["embeddings"])).alias(
            "vec_id"
        ),
        F.expr(
            f"transform(sequence(0, {dim - 1}), "
            f"i -> element_at(embedding, CAST((i + copy * 7) % {dim} AS INT) + 1))"
        ).alias("embedding"),
        "label",
    )
    wr(rot, "embeddings")
    open(os.path.join(SYNTH_DIR, "_BUILT_FULL1"), "w").close()
    return SYNTH_DIR


def _flag(name: str) -> str | None:
    if name in sys.argv:
        idx = sys.argv.index(name)
        if idx + 1 >= len(sys.argv):
            sys.exit(f"usage: {name} requires a value (e.g. {name} l2,l7)")
        return sys.argv[idx + 1]
    return None


def main() -> None:
    skip_synth = "--skip-synth" in sys.argv
    q_filter = _flag("--queries")
    p_filter = _flag("--points")

    from google_analytics_dataframes_spark.io import TESTDATA_DIR
    from google_analytics_dataframes_spark.registry import registry
    from google_analytics_dataframes_spark.session import get_spark

    spark = get_spark(app_name="scaling_probe")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    points: list[tuple[str, float, str]] = [
        (tag, sf, os.path.join(TESTDATA_DIR, tag))
        for tag, sf in (("sf0.001", 0.001), ("sf0.01", 0.01), ("sf0.1", 0.1))
    ]
    if not skip_synth:
        points.append(
            ("synth-sf1", 1.0, build_synth(spark, os.path.join(TESTDATA_DIR, "sf0.1")))
        )
    if p_filter:
        keep = p_filter.split(",")
        points = [p for p in points if p[0] in keep]
    queries = QUERIES
    if q_filter:
        prefixes = tuple(q_filter.split(","))
        queries = [q for q in QUERIES if q.startswith(prefixes)]

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    results: dict[str, dict[str, float]] = {q: {} for q in queries}
    for label, _sf, d in points:
        for q in queries:
            run(q, d)  # untimed warm-up
            results[q][label] = round(median(run(q, d) for _ in range(3)), 3)
            print(f"# {label} {q}: {results[q][label]}s", file=sys.stderr)

    print(json.dumps({"queries": results, "points": [p[0] for p in points]}))
    labels = [p[0] for p in points]
    print("\n| query | " + " | ".join(labels) + " |")
    print("|" + "---|" * (len(labels) + 1))
    for q in queries:
        print(
            f"| {q} | "
            + " | ".join(f"{results[q].get(l, float('nan')):.2f}" for l in labels)
            + " |"
        )


if __name__ == "__main__":
    main()
