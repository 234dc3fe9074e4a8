"""Plan audits as tests (SURVEY.md §4): the physical plan IS part of the
contract — correctness green but a full-table scan behind a 2-column
projection is a failing build at 100 TB."""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.operators.skew import salted_join
from google_analytics_dataframes_spark.io import load_table
from google_analytics_dataframes_spark.plans import audit
from google_analytics_dataframes_spark.registry import registry
from tests.conftest import SF_DIR


def test_scan_pruning_and_pushdown(spark):
    df = registry()["s2_scan_pruned"].fn(spark, SF_DIR)
    scans = audit.scan_info(df)
    assert len(scans) == 1
    assert "GreaterThan(l_quantity,45.0)" in scans[0]["pushed_filters"]
    assert "l_shipdate" in scans[0]["pushed_filters"]
    # 4 of 11 columns read (3 projected + the filter column)
    assert scans[0]["read_schema"].count(":") == 4
    assert "l_extendedprice" not in scans[0]["read_schema"]


def test_join_hints_pick_physical_algorithms(spark):
    reg = registry()
    assert "BroadcastHashJoin" in audit.join_algorithms(reg["j2_broadcast"].fn(spark, SF_DIR))
    assert "ShuffledHashJoin" in audit.join_algorithms(reg["j1_inner_hash"].fn(spark, SF_DIR))
    assert "SortMergeJoin" in audit.join_algorithms(reg["j3_sort_merge"].fn(spark, SF_DIR))


def test_topk_plans(spark):
    reg = registry()
    assert "TakeOrderedAndProject" in audit.node_names(reg["o5_global_topk"].fn(spark, SF_DIR))
    # rank-limit pushdown keeps per-group sorts bounded
    assert "WindowGroupLimit" in audit.node_names(reg["o4_topk_per_group"].fn(spark, SF_DIR))


def test_aggregate_is_partial_then_final(spark):
    nodes = audit.node_names(registry()["a1_groupby_sum"].fn(spark, SF_DIR))
    assert nodes.count("HashAggregate") >= 2  # map-side partial + final


def test_brute_force_topk_single_shuffle_free_scan(spark):
    """l3: query side broadcast; the only wide node is the final top-k."""
    df = registry()["l3_topk_cosine"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "TakeOrderedAndProject" in nodes
    assert audit.count_exchanges(df) == 0  # broadcast + take-ordered only


def test_report_builder_pushes_filters_to_scan(spark):
    from google_analytics_dataframes_spark.report import report

    ev = load_table(spark, SF_DIR, "events")
    rep = report(
        ev,
        dimensions=["event_type"],
        metrics={"n": "count"},
        filters="value>10.0",
        date_range=("ts", "2024-01-01", "2024-01-15"),
    )
    scans = audit.scan_info(rep)
    # value filter pushed; ts is derived (ns->us) so its filter stays post-scan
    assert "GreaterThan(value,10.0)" in scans[0]["pushed_filters"]
    assert "props" not in scans[0]["read_schema"]  # column pruning


def test_salted_join_matches_plain(spark):
    ev = load_table(spark, SF_DIR, "events").select("event_id", "user_id", "event_type")
    dim = spark.createDataFrame(
        [("view", 1), ("click", 2), ("purchase", 3), ("signup", 4), ("error", 5)],
        ["event_type", "type_id"],
    )
    plain = ev.join(dim, "event_type").select("event_id", "type_id").collect()
    salted = salted_join(ev, dim, "event_type").select("event_id", "type_id").collect()
    assert sorted((r.event_id, r.type_id) for r in plain) == sorted(
        (r.event_id, r.type_id) for r in salted
    )


def test_rb17_filter_expression_pushes_to_scan(spark):
    """rb17: the GA4 FilterExpression AST folds to native predicates, so at
    least the sargable parts (the betweenFilter bounds on `value`) must
    reach the parquet scan as PushedFilters."""
    df = registry()["rb17_filter_expression"].fn(spark, SF_DIR)
    scans = audit.scan_info(df)
    assert len(scans) == 1
    pf = scans[0]["pushed_filters"]
    assert "GreaterThanOrEqual(value,10.0)" in pf, pf
    assert "LessThanOrEqual(value,400.0)" in pf, pf


def test_j14_salted_join_is_smj_on_salted_key(spark):
    """j14: the registered salted join must take the sort-merge path (a
    broadcast would make the salt meaningless) and join on the composite
    (user_id, _salt) key."""
    j = registry()["j14_skew_salted"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(j)
    assert audit.join_algorithms(j) == ["SortMergeJoin"], plan
    assert "BroadcastExchange" not in plan
    assert "_salt" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Both sides bucketed on the join key into equal bucket counts => the
    join plan is Exchange-free (co-located per-bucket join) and, with
    sortBy, Sort-free on the scan side too."""
    from google_analytics_dataframes_spark.sources.bucketed import write_bucketed

    wh = str(tmp_path_factory.mktemp("warehouse"))
    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(
        orders, "b_orders", "o_orderkey", 8, sort_col="o_orderkey",
        path=f"{wh}/b_orders",
    )
    write_bucketed(
        lineitem, "b_lineitem", "l_orderkey", 8, sort_col="l_orderkey",
        path=f"{wh}/b_lineitem",
    )
    try:
        # MERGE hint: on toy-sized tables Catalyst would otherwise pick a
        # broadcast join; at the target scale neither side fits the
        # broadcast threshold, so the co-located SMJ is the one that matters
        j = (
            spark.table("b_lineitem")
            .hint("MERGE")
            .join(spark.table("b_orders"), F.col("l_orderkey") == F.col("o_orderkey"))
            .select("l_orderkey", "o_totalprice", "l_quantity")
        )
        assert audit.count_exchanges(j) == 0, audit.formatted_plan(j)
        # must be a genuine co-located SMJ, not a broadcast that merely
        # avoids the *shuffle* Exchange node
        assert audit.join_algorithms(j) == ["SortMergeJoin"], audit.formatted_plan(j)
        assert "BroadcastExchange" not in audit.formatted_plan(j)
        # correctness: same row count as the plain (shuffling) join
        plain = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).count()
        assert j.count() == plain > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_fanout_raises_but_never_reduces_partitions(spark):
    """fanout engages all cores on single-split scans and is a no-op when
    the input already has enough partitions (the 100-TB case)."""
    from google_analytics_dataframes_spark.io import fanout

    docs = load_table(spark, SF_DIR, "documents")
    assert docs.rdd.getNumPartitions() == 1  # single-row-group file
    want = spark.sparkContext.defaultParallelism
    assert fanout(docs).rdd.getNumPartitions() == want
    wide = docs.repartition(want + 8)
    # already wider than the floor: returned unchanged, no extra shuffle
    assert fanout(wide) is wide
    # row preservation
    assert fanout(docs).count() == docs.count()


def test_fanout_by_key_hash_partitions_without_presort(spark):
    """fanout(by=...) (round 14): hash-partitions on the given key when the
    input is narrow — no round-robin pre-sort (SPARK-23207 cost) — keeps
    the no-op guarantee on already-wide inputs, and preserves rows."""
    from google_analytics_dataframes_spark.io import fanout
    from google_analytics_dataframes_spark.plans.audit import formatted_plan

    docs = load_table(spark, SF_DIR, "documents")
    want = spark.sparkContext.defaultParallelism
    fanned = fanout(docs, by=("doc_id",))
    assert fanned.rdd.getNumPartitions() == want
    plan = formatted_plan(fanned)
    assert "hashpartitioning(doc_id" in plan
    assert "roundrobin" not in plan.lower()
    # no-op on already-wide input (the 100-TB case)
    wide = docs.repartition(want + 8)
    assert fanout(wide, by=("doc_id",)) is wide
    # row preservation
    assert fanned.count() == docs.count()


def test_sequence_pack_has_no_global_window(spark):
    """l27 must never plan a partition-less WindowExec (it pulls the whole
    corpus onto ONE task — the classic 100 TB scale-killer).  The two-phase
    prefix sum keeps every Window partitioned; `windowspecdefinition(...)`
    with no leading partition expressions shows up in the formatted plan as
    a spec whose first argument is the ORDER BY column itself."""
    df = registry()["l27_sequence_pack"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" not in line:
            continue
        if "windowspecdefinition" in line:
            # a partitioned spec reads windowspecdefinition(pid#.., doc_id#.. ASC
            # a global one starts straight at the sort spec: (doc_id#.. ASC
            assert "windowspecdefinition(doc_id" not in line.replace(" ", ""), line
    # and the result must still be the exact global packing
    got = df.orderBy("doc_id").limit(5).collect()
    assert got[0]["bin"] == 0


def test_corpus_shuffle_window_is_shard_partitioned(spark):
    """l45 must never plan the oracle's global `ROW_NUMBER() OVER (ORDER BY
    hash)` — every WindowExec spec has to lead with the _shard partition
    column, keeping per-task sort state at ~N/256."""
    df = registry()["l45_corpus_shuffle"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    specs = [
        line
        for line in plan.splitlines()
        if "windowspecdefinition" in line
    ]
    assert specs, plan
    for line in specs:
        assert "windowspecdefinition(_shard" in line.replace(" ", ""), line


def test_partitioned_read_prunes_partitions(spark):
    """s10's day filter must reach the scan as a PartitionFilter (directory
    pruning before I/O), not a post-scan Filter over all partitions."""
    df = registry()["s10_partitioned_read"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "PartitionFilters" in plan
    # the day predicate sits in PartitionFilters, and pruning leaves exactly
    # one of the staged day-partitions to read
    pf_lines = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert any("day" in l and "2024-01-15" in l for l in pf_lines), pf_lines


def test_domain_quota_uses_window_group_limit(spark):
    """l32's rank<=50 filter adjacent to row_number must plan a
    WindowGroupLimit (per-group bounded heap) — without it a 10^9-page
    domain buffers the whole group in the window sort."""
    df = registry()["l32_domain_quota"].fn(spark, SF_DIR)
    assert "WindowGroupLimit" in audit.node_names(df), audit.formatted_plan(df)


def test_priority_sample_partial_group_limit(spark):
    """l76: the rank<=k filters on the priority windows must plan
    WindowGroupLimit with a PARTIAL mode instance BEFORE the exchange —
    map tasks keep <= k+1 rows per language, so the corpus never moves.
    Also pin the single-scan shape: the bounded top-(k+1) frame is
    localCheckpoint-materialized, so the corpus scan + window pair must
    appear ONCE (Catalyst re-expanded it per reference before the fix —
    two full corpus scans)."""
    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.sampling import (
        priority_sample,
    )

    # registered (materialized) form: the checkpoint leaves a bounded
    # block-scan plan — no parquet re-scan of documents may remain
    plan = audit.formatted_plan(registry()["l76_priority_sample"].fn(spark, SF_DIR))
    assert "Scan parquet" not in plan, plan
    # raw form: the window that ran inside the checkpoint must carry the
    # map-side partial group limit
    raw = priority_sample(
        load_table(spark, SF_DIR, "documents"),
        group_col="lang",
        weight_col="n_chars",
        key_col="doc_id",
        k=16,
        materialize=False,
    )
    inner = audit.formatted_plan(raw)
    assert "WindowGroupLimit" in inner, inner
    assert "Partial" in inner.split("WindowGroupLimit", 1)[1], inner


def test_random_projection_is_narrow(spark):
    """l43 must stay a pure per-row map: zero exchanges, one scan reading
    exactly (vec_id, embedding)."""
    df = registry()["l43_random_projection"].fn(spark, SF_DIR)
    assert audit.count_exchanges(df) == 0, audit.formatted_plan(df)
    scans = audit.scan_info(df)
    assert len(scans) == 1
    assert scans[0]["read_schema"].count(":") == 2


def test_dup_passages_two_shuffles(spark):
    """l42: one doc_id pre-cluster (fanout_by) + one gram rollup — the same
    bounded shape as l35; anything more means the exploded gram stream
    itself is shuffling."""
    df = registry()["l42_dup_passages"].fn(spark, SF_DIR)
    assert audit.count_exchanges(df) <= 2, audit.formatted_plan(df)


def test_minmax_totals_single_fact_scan(spark):
    """rb16's returned frame must read the checkpointed report-sized frame,
    not re-scan the events parquet per union branch (Catalyst does not CSE
    union branches — the checkpoint is the guarantee)."""
    df = registry()["rb16_report_minmax"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "parquet" not in plan.lower(), plan
    # detail+total rows plus exactly one RESERVED_MIN and one RESERVED_MAX
    rows = df.collect()
    kinds = [r.event_type for r in rows]
    assert kinds.count("RESERVED_MIN") == 1 and kinds.count("RESERVED_MAX") == 1


def test_histogram_report_pushes_date_filter(spark):
    """rb15: the CASE-chain dimensions must not block date-range pushdown."""
    df = registry()["rb15_histogram_buckets"].fn(spark, SF_DIR)
    scans = audit.scan_info(df)
    assert len(scans) == 1
    assert "ts" in scans[0]["pushed_filters"], scans[0]


def test_ppl_buckets_window_is_bucket_bounded(spark):
    """l48 must never plan the oracle's `ntile(3) OVER (PARTITION BY lang)`
    — a ~6-partition window sorting whole language slices on single tasks.
    Every WindowExec spec has to include the _bkt range-shard column next
    to lang, keeping per-task sort state at one (lang, score-bucket)."""
    from google_analytics_dataframes_spark.plans import audit

    df = registry()["l48_ppl_buckets"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    specs = [
        line for line in plan.splitlines() if "windowspecdefinition" in line
    ]
    assert specs, plan
    for line in specs:
        flat = line.replace(" ", "")
        assert "_bkt" in flat and "windowspecdefinition(lang" in flat, line


def test_session_frame_single_exchange(spark):
    """rb18's session model must reuse the sequencing window's
    hashpartitioning(user_id) for the per-session groupBy (subset
    clustering satisfies ClusteredDistribution): exactly ONE exchange
    before the day rollup — i.e. two total in the whole plan."""
    from google_analytics_dataframes_spark.plans import audit

    df = registry()["rb18_session_metrics"].fn(spark, SF_DIR)
    assert audit.count_exchanges(df) == 2, audit.formatted_plan(df)


def test_bpe_pair_top30_is_take_ordered(spark):
    """l51: the global top-30 must plan as TakeOrderedAndProject (bounded
    per-partition heaps merged on the driver), never a full global sort."""
    df = registry()["l51_bpe_pair_counts"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in audit.node_names(df)
    assert audit.count_exchanges(df) <= 2


def test_decontam_multi_n_single_train_generate(spark):
    """l53: both shingle widths ride one Generate over one shuffled train
    scan — 3 exchanges (train fanout, eval fanout, eval distinct), 2
    parquet scans, eval set broadcast."""
    df = registry()["l53_decontam_multi_n"].fn(spark, SF_DIR)
    assert audit.count_exchanges(df) <= 3
    assert len(audit.scan_info(df)) <= 2
    assert "BroadcastHashJoin" in audit.join_algorithms(df)


def test_pq_codes_broadcast_codebook(spark):
    """l58: the only join is the broadcast of the one-row packed codebook;
    the corpus side never shuffles (exchanges are the metadata-sized
    centroid aggregation only)."""
    df = registry()["l58_pq_codes"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert any("BroadcastNestedLoopJoin" in n or "BroadcastHashJoin" in n for n in names)
    assert audit.count_exchanges(df) <= 3


def test_grouped_rank_input_materialized(spark):
    """l48: grouped_rank's five-reference fan-out must read a materialized
    (localCheckpoint) input, not re-expand the l34 pipeline — zero parquet
    scans in the final plan (22-exchange/16-scan regression guard)."""
    df = registry()["l48_ppl_buckets"].fn(spark, SF_DIR)
    assert len(audit.scan_info(df)) == 0
    assert audit.count_exchanges(df) <= 6


def test_rolling_hll_audit_exchanges_are_post_partial_agg(spark):
    """w11 (round-5 audit form): the exchange count includes the exact
    twin, but NO exchange may carry the raw event stream — both the
    per-day sketch aggregate and the (day, user) distinct must show a
    map-side partial aggregate below their exchange, so every shuffled
    relation is already day- or pair-reduced."""
    df = registry()["w11_rolling_hll"].fn(spark, SF_DIR)
    assert audit.count_exchanges(df) <= 7
    plan = audit.formatted_plan(df)
    # partial aggregates precede final ones 1:1 — nothing shuffles raw
    import re
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    names = audit.node_names(df)
    # ">= 2 and even" — a bare evenness check passes trivially at 0; the
    # docstring's claim requires at least one partial+final PAIR of each
    # aggregate kind to actually be present
    assert names.count("HashAggregate") >= 2
    assert names.count("HashAggregate") % 2 == 0
    assert names.count("ObjectHashAggregate") >= 2  # sketch agg partial+final
    assert names.count("ObjectHashAggregate") % 2 == 0


def test_exact_substr_join_is_equi_not_cartesian(spark):
    """l61: the window match must plan as an EQUI-join on the window
    string (hash or sort-merge; AQE may broadcast the small side at test
    scale) — never a cartesian/nested-loop pair enumeration."""
    df = registry()["l61_exact_substr_spans"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert not any("CartesianProduct" in n for n in names)
    assert not any("BroadcastNestedLoopJoin" in n for n in names)
    assert any(
        "SortMergeJoin" in n or "ShuffledHashJoin" in n or "BroadcastHashJoin" in n
        for n in names
    )


def test_exact_substr_hashed_shuffles_hash_not_window(spark):
    """l61b (VERDICT r5 item #3): the corpus-sized window join must key on
    xxhash64(win) — 8 bytes/window through the exchange — never the raw
    30-char window string; re-verification joins are equi too.  Pinned by
    (a) xxhash64 present in the plan, (b) every hashpartitioning exchange
    free of the `win` attribute, (c) no cartesian/nested-loop node."""
    import re

    df = registry()["l61b_exact_substr_hashed"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert not any("CartesianProduct" in n for n in names)
    assert not any("BroadcastNestedLoopJoin" in n for n in names)
    plan = audit.formatted_plan(df)
    assert "xxhash64" in plan
    # scan whole Exchange lines, not a non-nesting paren capture: in
    # `hashpartitioning(f(x), win#12, 200)` a `[^)]*` capture stops at
    # f(x)'s close-paren and the win# attribute after it escapes the pin
    exchange_lines = [
        line for line in plan.splitlines() if "hashpartitioning" in line
    ]
    assert exchange_lines, plan
    for line in exchange_lines:
        assert not re.search(r"\bwin#", line), (
            "raw window string shuffled: " + line
        )


def test_semantic_decontam_corpus_never_shuffles(spark):
    """l62: the eval matrix broadcasts (driver-side bounded collect), so
    the train side's only exchange is the fanout round-robin — no join
    node and no aggregate exchange appear at all."""
    df = registry()["l62_semantic_decontam"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert not any("Join" in n for n in names)
    assert audit.count_exchanges(df) <= 1


def test_w2_rank_via_distinct_value_broadcast(spark):
    """w2 (VERDICT r6 item #1): rank over a 3-value partition key must NOT
    plan `Exchange hashpartitioning(l_returnflag)` -> Sort+Window over the
    fact table (at most 3 tasks ever work; each sorts its whole flag slice
    alone — 15.3x at 10x data).  The rewrite hash-aggregates the fact to
    the domain-bounded (flag, quantity, count) table, ranks THAT, and
    broadcast-joins ranks back: the fact side reaches the join straight
    from the scan with no sort and no exchange."""
    import re

    df = registry()["w2_rank_dense"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "BroadcastHashJoin" in nodes, nodes
    assert nodes.count("HashAggregate") >= 2  # partial+final fact reduction
    plan = audit.formatted_plan(df)
    # Pin shape (hardened per ADVICE r7 — `plan.find('Sort')` substring
    # offsets matched SortAggregate/SortMergeJoin in detail sections):
    # parse the TREE portion only (lines before the first numbered detail
    # section), match whole node names, and assert the fact side — the
    # probe subtree printed between the BroadcastHashJoin line and its
    # BroadcastExchange build child — contains no Sort and no Exchange.
    tree = []
    for line in plan.splitlines():
        if re.match(r"\s*\(\d+\)\s", line):  # first detail section
            break
        tree.append(line)
    node_re = lambda name: re.compile(rf"(?:^|[*\-:\s]){name}\b")  # noqa: E731
    join_i = next(
        i for i, ln in enumerate(tree) if node_re("BroadcastHashJoin").search(ln)
    )
    bx_i = next(
        i
        for i, ln in enumerate(tree)
        if i > join_i and node_re("BroadcastExchange").search(ln)
    )
    fact_side = tree[join_i + 1 : bx_i]  # pre-order: probe child first
    assert any(node_re("Scan parquet").search(ln) for ln in fact_side), tree
    for ln in fact_side:
        assert not node_re("Sort").search(ln), ("fact-side Sort: " + ln, tree)
        assert not node_re("Exchange").search(ln), (
            "fact-side Exchange: " + ln,
            tree,
        )


def test_sf11_parses_json_exactly_once(spark):
    """sf11 (VERDICT r6 item #2): referencing the parsed map from three
    derived expressions must not let CollapseProject inline `from_json`
    into each (3 parses/row: 71.2x at 10x data).  The Generate barrier
    keeps the parse a bound attribute — exactly one from_json in the
    executed plan."""
    df = registry()["sf11_map_fns"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert plan.count("from_json") == 1, plan


def test_bm25_single_tokenize_no_wide_shuffle(spark):
    """l65: BM25 must not materialize an inverted index or shuffle the
    token stream — per-doc term counters read ONE tokenization per corpus
    pass (Generate barrier; two passes: global stats + scoring), the
    stats reduce to a single broadcast row, and the only ordering node is
    the k=20 TakeOrderedAndProject."""
    df = registry()["l65_bm25_topk"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert plan.count("split(") <= 2, plan  # one per corpus pass
    assert "TakeOrderedAndProject" in audit.node_names(df)
    for line in plan.splitlines():
        if "Exchange" in line and "hashpartitioning" in line:
            raise AssertionError("token stream shuffled: " + line.strip())


def test_semantic_decontam_ivf_corpus_never_shuffles(spark):
    """l62b (VERDICT r5 item #4): the prefilter lives inside the broadcast
    (16 per-cell eval matrices), so the plan keeps l62's shape — the
    train+probe union streams through one mapInPandas with no join node
    and at most the fanout exchange; prefiltering must not have
    introduced a corpus shuffle."""
    df = registry()["l62b_semantic_decontam_ivf"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert not any("Join" in n for n in names)
    assert audit.count_exchanges(df) <= 1


def test_indexed_neardup_reads_stored_index(spark):
    """l69 (VERDICT r7 item #7): the incremental near-dup must join the
    incoming batch against the STORED index, not recompute corpus
    signatures per run — in BOTH physical forms.

    Mask path (the registered regime on this bounded-vocab corpus):
    exactly three parquet scans — one documents scan (the batch), the
    frozen vocab dictionary, and the packed-mask table, the last two
    read from their staged directories; the
    gram-shredding expression appears exactly once (batch side only);
    the gram key never shuffles ANYWHERE (no inverted-index join exists
    at all — the batch mask table broadcasts over a pure scan of the
    stored masks, so the corpus moves zero bytes and the only wide node
    is the broadcast itself).

    Gram path (the large-vocabulary fallback, forced): the bucketed
    gram_index table scans with Bucketed: true and corpus grams still
    come from storage."""
    import re

    from google_analytics_dataframes_spark.queries.corpus_ops import (
        l69_indexed_neardup,
    )

    df = registry()["l69_indexed_neardup"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 3, plan
    locations = re.findall(r"^Location: (.*)$", plan, re.M)
    assert len(locations) == 3, locations
    assert sum("dedup_masks_" in loc for loc in locations) == 1, locations
    assert sum("dedup_vocab_" in loc for loc in locations) == 1, locations
    assert plan.count("documents.parquet") == 1, plan
    assert plan.count("transform(sequence") == 1, plan
    assert "bit_count" in plan, plan
    for line in plan.splitlines():
        assert "hashpartitioning(item" not in line, (
            "gram key shuffled: " + line.strip()
        )

    gram_df = l69_indexed_neardup(spark, SF_DIR, _force_gram_path=True)
    gplan = audit.formatted_plan(gram_df)
    gscans = re.findall(r"\(\d+\) Scan parquet\s*(\S*)", gplan)
    assert sum("gram_index_" in s for s in gscans) == 1, gscans
    assert "Bucketed: true" in gplan, gplan
    assert gplan.count("transform(sequence") == 1, gplan


def test_gram_index_row_groups_prunable(spark, tmp_path_factory):
    """VERDICT r7 item #8 — the s8 write_clustered evidence extended to
    the dedup index: within each bucket file the index is SORTED on the
    gram key, so parquet row groups cover near-disjoint item ranges and a
    point predicate on a gram prunes to ~1 row group per file via footer
    stats alone.  At production scale a bucket file holds many 128 MB row
    groups naturally; at toy scale we shrink parquet.block.size to
    reproduce the same many-row-groups-per-file structure, using the SAME
    relation lineage gram_index_table persists."""
    import glob
    import os

    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.sources.bucketed import (
        corpus_gram_relation,
        write_bucketed,
    )

    wh = str(tmp_path_factory.mktemp("gram_idx"))
    rel = corpus_gram_relation(spark, SF_DIR)
    try:
        write_bucketed(
            rel,
            "gram_index_layout_probe",
            "item",
            4,
            sort_col="item",
            path=f"{wh}/t",
            options={"parquet.block.size": 16 * 1024},
        )
        files = sorted(glob.glob(f"{wh}/t/*.parquet"))
        assert files
        total_rgs, probed = 0, []
        ranges_by_file = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            rgs = []
            for rg in range(md.num_row_groups):
                for ci in range(md.row_group(rg).num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "item":
                        st = col.statistics
                        rgs.append((st.min, st.max))
            assert rgs
            # sorted within the bucket: row-group ranges are non-overlapping
            # in file order (adjacent groups may share a boundary gram)
            for (a_min, a_max), (b_min, b_max) in zip(rgs, rgs[1:]):
                assert a_max <= b_min, (f, a_max, b_min)
            total_rgs += len(rgs)
            ranges_by_file.append(rgs)
            probed.append(rgs[len(rgs) // 2][0])  # a mid-file gram
        assert total_rgs >= 4 * len(files), (
            "block-size shrink failed to produce multiple row groups; "
            "the pruning assertion below would be vacuous"
        )
        # point predicate: in the owning bucket file, footer stats keep
        # at most 2 of its row groups (boundary grams straddle one edge)
        for f_idx, gram in enumerate(probed):
            rgs = ranges_by_file[f_idx]
            hit = [r for r in rgs if r[0] <= gram <= r[1]]
            assert 1 <= len(hit) <= 2, (gram, hit)
    finally:
        spark.sql("DROP TABLE IF EXISTS gram_index_layout_probe")


def test_editdist_simjoin_is_equijoin_candidates(spark):
    """l70: PassJoin segment filtering must produce candidates through an
    EQUI-join on (segment, substring) — never a cartesian/nested-loop
    pair enumeration (the naive form the oracle runs).  The verify
    levenshtein is a post-join Filter, and the probe-side fan-out is
    bounded (<= 15 substrings/doc), so plan shape = two narrow explodes
    into one hash join."""
    df = registry()["l70_editdist_simjoin"].fn(spark, SF_DIR)
    names = audit.node_names(df)
    assert not any("CartesianProduct" in n for n in names), names
    assert not any("BroadcastNestedLoopJoin" in n for n in names), names
    plan = audit.formatted_plan(df)
    assert "levenshtein" in plan
    # the join keys are the segment columns, not the doc ids
    joins = audit.join_algorithms(df)
    assert joins and all(
        j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for j in joins
    ), joins


def test_s12_dynamic_partition_pruning(spark):
    """s12: the day-partitioned fact scan must carry a RUNTIME partition
    filter fed by the dimension's filter result — Catalyst's dynamic
    partition pruning (`... IN dynamicpruning#N` hosted on the scan).
    Without it the fact side reads every day partition even though the
    dim join will discard ~6/7 of them; with it the prune happens before
    any fact I/O.  Static pruning (s10) can't express this — no literal
    date appears anywhere in s12's query."""
    df = registry()["s12_dpp_join"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "dynamicpruning" in plan, plan
    assert "PartitionFilters" in plan, plan


def test_zorder_layout_prunes_both_dims(spark):
    """s13 layout evidence from parquet footers: Morton-interleaving
    (user_id, day_num) must bound EVERY file's extent in BOTH dimensions
    (1-D clustering makes one dimension tight and leaves the other
    spanning ~everything in every file).  Measured at authoring time:
    median per-file span 21-34% of the global span on both keys, and the
    s13 box predicate overlaps <= 1/4 of files at sf0.01."""
    import glob
    import statistics

    import pyarrow.parquet as pq

    from google_analytics_dataframes_spark.queries.scans import (
        _zordered_events_dir,
    )

    out = _zordered_events_dir(spark, SF_DIR)
    files = sorted(glob.glob(out + "/*.parquet"))
    assert len(files) > 4
    spans = {"user_id": [], "day_num": []}
    glob_min = {"user_id": None, "day_num": None}
    glob_max = {"user_id": None, "day_num": None}
    for f in files:
        md = pq.ParquetFile(f).metadata
        lo, hi = {}, {}
        for rg in range(md.num_row_groups):
            for ci in range(md.row_group(rg).num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema in spans:
                    st = col.statistics
                    k = col.path_in_schema
                    lo[k] = st.min if k not in lo else min(lo[k], st.min)
                    hi[k] = st.max if k not in hi else max(hi[k], st.max)
        for k in spans:
            assert k in lo, (f, "missing stats for", k)
            spans[k].append(hi[k] - lo[k])
            glob_min[k] = lo[k] if glob_min[k] is None else min(glob_min[k], lo[k])
            glob_max[k] = hi[k] if glob_max[k] is None else max(glob_max[k], hi[k])
    for k in spans:
        gspan = glob_max[k] - glob_min[k]
        assert gspan > 0, k
        med = statistics.median(spans[k])
        # BOTH dims bounded per file — the property 1-D clustering lacks
        assert med <= 0.5 * gspan, (k, med, gspan, spans[k])


def test_sf15_parses_variant_exactly_once(spark):
    """sf15: three extractions from the parsed VARIANT must not let
    CollapseProject re-inline parse_json per reference (sf11's lesson,
    applied to the variant type at birth): the Generate barrier keeps the
    parse a bound attribute — exactly one parse_json in the executed
    plan, with the variant_get extractions reading it."""
    import re

    df = registry()["sf15_variant"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    # at most one parse site (the Generate may render the parse under a
    # different name); the load-bearing fact is that EVERY variant_get
    # reads a bound attribute (v#N), never an inline parse_json(...)
    assert plan.count("parse_json") <= 1, plan
    gets = re.findall(r"(?:try_)?variant_get\(([^,]+),", plan)
    assert gets, plan
    for arg in gets:
        assert re.fullmatch(r"v#\d+", arg.strip()), (arg, plan)


def test_sf17_unpivot_is_expand_after_single_exchange(spark):
    """sf17: the melt is a zero-shuffle Expand — the ONLY exchange in the
    plan is the groupBy that precedes it (partial+final HashAggregate),
    so wide-to-long reshaping costs no network at any corpus size."""
    df = registry()["sf17_unpivot"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "Expand" in nodes, nodes
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("HashAggregate") >= 2, nodes


def test_rb26_recursive_cte_plan_shape(spark):
    """rb26: WITH RECURSIVE plans as a UnionLoop (Spark 4's iterative
    union execution) — and, since round 14, the loop body joins ONLY the
    pre-materialized page-bounded edge list (LogicalRDD): UnionLoopExec
    re-executes the recursive step's whole subtree per iteration, so the
    corpus-scale edge derivation (events scan + LAG window + rollup +
    top-3) must live OUTSIDE the loop or it runs once per hop (measured
    4.8 -> 2.2 s at sf0.1).  No parquet scan may appear in the returned
    plan; the one-time derivation keeps the WindowGroupLimit top-3 shape
    (asserted on the builder's own plan, pre-checkpoint)."""
    df = registry()["rb26_flow_reachability"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "UnionLoop" in plan, plan
    assert "LogicalRDD" in plan, plan
    assert "Scan parquet" not in plan and "LogicalRelation" not in plan, plan


def test_a19_moments_single_exchange(spark):
    """a19: five decimal moments + count are all map-side combinable, so
    the whole statistics frame costs exactly one exchange (partial+final
    HashAggregate) — the closed-form stddev/corr/slope math adds no
    shuffle."""
    df = registry()["a19_moment_stats"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("HashAggregate") >= 2, nodes


def test_w13_accessors_avoid_flag_wide_sort(spark):
    """w13 (the w2 lesson applied to accessors): the naive form sorted the
    whole fact table into 3 l_returnflag partitions (6.3x at 10x data,
    parallelism = 3 tasks).  Pin the scalable shape: the nth_value branch
    runs behind a map-side WindowGroupLimit; the carry-forward window
    partitions on (flag, month-bucket) — never on the bare 3-value flag;
    both stitch-backs are broadcast joins."""
    df = registry()["w13_nth_value"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "WindowGroupLimit" in nodes, nodes
    assert nodes.count("BroadcastHashJoin") == 2, nodes
    plan = audit.formatted_plan(df)
    # every window over the fact's order columns must either carry the
    # bkt co-key or be the row_number ranking that WindowGroupLimit
    # bounds to <= 3 rows/flag/task; a bare-flag windowspec on any OTHER
    # function would be the 3-partition fact sort coming back
    for line in plan.splitlines():
        if "windowspecdefinition" not in line or "l_shipdate" not in line:
            continue
        if "l_returnflag" in line and "bkt" not in line:
            assert "row_number" in line, line


def test_w13_carry_crosses_sample_free_buckets(spark, tmp_path_factory):
    """The w13 stitch's two data-dependent edges, on crafted rows the
    TPC-H tables never produce: a month bucket with NO sampled rows
    (carry must pass THROUGH it — its rows inherit the prior bucket's
    last sample via the boundary prefix), and a flag with fewer than 3
    rows (third_price must be NULL, not an arbitrary row).  Verified
    against the naive single-window form computed on the same rows."""
    import datetime

    from pyspark.sql import Window

    from google_analytics_dataframes_spark.queries.windows import w13_nth_value

    d = tmp_path_factory.mktemp("w13edge")
    rows = []
    # flag A: jan has samples (linenumber 3), feb has NONE (linenumbers
    # 1,2 only), mar rows must inherit jan's carry through feb
    rows += [
        (1, 1, "A", datetime.date(2024, 1, 5), 10.0),
        (1, 3, "A", datetime.date(2024, 1, 9), 11.0),  # sampled
        (2, 1, "A", datetime.date(2024, 2, 4), 12.0),
        (2, 2, "A", datetime.date(2024, 2, 8), 13.0),  # no samples in feb
        (3, 1, "A", datetime.date(2024, 3, 2), 14.0),
        (3, 6, "A", datetime.date(2024, 3, 7), 15.0),  # sampled
    ]
    # flag B: only 2 rows -> third_price NULL everywhere
    rows += [
        (9, 1, "B", datetime.date(2024, 1, 3), 20.0),
        (9, 3, "B", datetime.date(2024, 1, 6), 21.0),
    ]
    df = spark.createDataFrame(
        rows,
        "l_orderkey long, l_linenumber int, l_returnflag string, "
        "l_shipdate date, l_extendedprice double",
    )
    df.write.parquet(str(d / "lineitem.parquet"))

    got = {
        (r.l_orderkey, r.l_linenumber): (r.third_price, r.last_sampled_price)
        for r in w13_nth_value(spark, str(d)).collect()
    }
    order = ["l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice"]
    full = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    running = Window.partitionBy("l_returnflag").orderBy(*order)
    sampled = F.when(F.col("l_linenumber") % 3 == 0, F.col("l_extendedprice"))
    want = {
        (r.l_orderkey, r.l_linenumber): (r.third_price, r.last_sampled_price)
        for r in df.select(
            "l_orderkey",
            "l_linenumber",
            F.nth_value("l_extendedprice", 3).over(full).alias("third_price"),
            F.last(sampled, ignorenulls=True)
            .over(running)
            .alias("last_sampled_price"),
        ).collect()
    }
    assert got == want
    # the pass-through bucket really exercised the boundary carry
    assert got[(2, 1)][1] == 11.0 and got[(3, 1)][1] == 11.0
    assert got[(9, 1)][0] is None  # <3-row flag


def test_rb28_entry_paths_single_user_exchange(spark):
    """rb28: the session window, the rank-3 cut, and the per-session path
    assembly must all ride ONE hashpartitioning(user_id) — the
    (user, session) keys are a superset of the window's clustering, so a
    second fact-wide exchange would be Catalyst failing to reuse the
    partitioning.  The rank cut must plan as WindowGroupLimit and the
    top-10 as TakeOrdered (no global sort of the path census)."""
    df = registry()["rb28_entry_paths"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "WindowGroupLimit" in nodes, nodes
    assert "TakeOrderedAndProject" in nodes, nodes
    plan = audit.formatted_plan(df)
    fact_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    ]
    assert len(fact_exchanges) <= 1, fact_exchanges


def test_l78_overlap_never_joins_on_shingles(spark):
    """l78: the pair census must come from exploding per-shingle source
    SETS, never from a shingle-keyed self-join (quadratic in co-occurring
    docs) — no SortMergeJoin in the plan, and the only joins are the
    metadata-sized grid/overlap broadcasts."""
    df = registry()["l78_source_overlap"].fn(spark, SF_DIR)
    nodes = audit.node_names(df)
    assert "SortMergeJoin" not in nodes, nodes
    assert "Generate" in nodes, nodes  # the set explosion


def test_l79_kmeans_iterations_never_shuffle_vectors(spark):
    """l79: per Lloyd iteration the corpus is scanned once; the ONLY
    shuffles are the (cluster, dim) centroid-cell aggregates (640 rows)
    and their metadata-sized collect rows — a plan that exchanged the
    vector table itself (e.g. a join or window on vec_id) would ship N
    embeddings per iteration.  Every Exchange's partitioning keys must
    therefore be drawn from the cell/centroid axes, never vec_id, and
    both assignments must be broadcast folds (no join algorithms at
    all).

    Round 14: assignment 1 is eagerly checkpointed (it feeds both the
    centroid update and the re-assignment; the checkpoint makes "one
    corpus pass per iteration" physically true — before, the plan
    inlined TWO copies of assign-1 and four parquet scans).  The
    returned plan is therefore assignment 2 alone: exactly ONE
    broadcast-fold cross join over the checkpointed a1 relation, no
    parquet scan, and still no vector-table exchange."""
    df = registry()["l79_kmeans_lloyd"].fn(spark, SF_DIR)
    algs = audit.join_algorithms(df)
    assert algs == ["BroadcastNestedLoopJoin"], algs
    plan = audit.formatted_plan(df)
    assert "Scan parquet" not in plan, "assign-2 must read the checkpointed a1"
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "vec_id" not in ln, ln


def test_s18_manifest_actually_prunes_files(spark):
    """s18: the manifest selection must scan a strict subset of the 8
    clustered files (the predicate covers ~12% of the value domain, so a
    correct stats-intersect pick reads ~1-2 files) — reading all 8 would
    mean the manifest never pruned; reading rows outside the residual
    filter's answer is caught by the oracle."""
    df = registry()["s18_manifest_pruned_read"].fn(spark, SF_DIR)
    files = df.inputFiles()
    assert 0 < len(files) < 8, files


def test_j15_nullsafe_is_hash_join_not_bnl(spark):
    """j15: Catalyst must plan `<=>` as a hash-partitioned equi-join
    (EqualNullSafe is a hashable key) — a BroadcastNestedLoopJoin here
    would mean the null-safe predicate fell off the equi path and every
    pair is compared."""
    df = registry()["j15_nullsafe_join"].fn(spark, SF_DIR)
    algs = audit.join_algorithms(df)
    assert algs and all(
        a in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        for a in algs
    ), algs


def test_s20_bloom_filter_injected(spark):
    """s20's whole claim: with the enabling confs, Catalyst injects a
    bloom_filter_agg on the selective build side and a might_contain
    probe-side predicate (SPARK-32268).  InjectRuntimeFilter is an
    OPTIMIZER rule, so the injection is visible in the physical plan
    without running the join (review r8: an earlier version executed the
    full join through a noop sink and then asserted on a fresh
    queryExecution anyway — dead work)."""
    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.scans import (
        _BLOOM_CONFS,
        bloom_join_frame,
    )

    with pinned_confs(spark, _BLOOM_CONFS):
        df = bloom_join_frame(spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan


def test_s21_dynamic_overwrite_touches_only_target_partition(spark):
    """s21's selectivity claim, pinned mechanically: re-running the dynamic
    overwrite rewrites the 2024-01-07 partition's files and leaves every
    other partition directory's files untouched (same names, same
    mtimes)."""
    import os

    from google_analytics_dataframes_spark.registry import registry

    reg = registry()
    reg["s21_dynamic_partition_overwrite"].fn(spark, SF_DIR).count()
    from google_analytics_dataframes_spark.queries.scans import _dpo_dir

    out = _dpo_dir(SF_DIR)

    def snapshot():
        snap = {}
        for d in os.listdir(out):
            if not d.startswith("day="):
                continue
            pd = os.path.join(out, d)
            snap[d] = {
                f: os.path.getmtime(os.path.join(pd, f))
                for f in os.listdir(pd)
                if f.endswith(".parquet")
            }
        return snap

    before = snapshot()
    reg["s21_dynamic_partition_overwrite"].fn(spark, SF_DIR).count()
    after = snapshot()
    assert set(before) == set(after) and len(before) > 2
    changed = [d for d in before if before[d] != after[d]]
    assert changed == ["day=2024-01-07"], (
        f"dynamic overwrite touched {changed}, expected only day=2024-01-07"
    )


def test_j16_aqe_splits_the_skewed_partition(spark):
    """j16's claim: AQE's OptimizeSkewedJoin fires — the executed plan
    (this one genuinely requires execution: skew handling is a runtime
    re-plan from materialized shuffle statistics) shows the skew-marked
    sort-merge join and the skewed shuffle read.  Also re-documents the
    mapper-granularity constraint: the frame's fanout(32) is what makes
    the hot partition splittable at all."""
    from google_analytics_dataframes_spark.queries._util import pinned_confs
    from google_analytics_dataframes_spark.queries.joins import (
        _SKEW_CONFS,
        skew_join_frame,
    )

    with pinned_confs(spark, _SKEW_CONFS):
        df = skew_join_frame(spark, SF_DIR)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # AQEShuffleRead ... skewed


def test_j17_binned_interval_join_is_equi_on_bin(spark):
    """j17's claim: a pure interval-overlap join (no natural equi key)
    plans as an EQUI join on the derived bin column — never the
    quadratic BroadcastNestedLoopJoin the naive theta join produces."""
    df = registry()["j17_binned_interval_join"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    joins = audit.join_algorithms(df)
    assert joins, plan
    assert set(joins) <= {"BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"}
    assert "bin" in plan


def test_l81_stored_index_plan(spark):
    """l81's claim (VERDICT r8 item #3): the ANN query is served from the
    STORED IVF index — the plan reads the two staged index directories
    (``ivf_centroids_*``, ``ivf_cells_*``), the probed cell scan carries
    a dynamic-partition-pruning filter (the broadcast probe join becomes
    a scan-time partition filter), and the coarse quantizer is NOT
    recomputed (no posexplode/aggregation over the corpus embeddings —
    the 640-cell decimal build l14 pays per run)."""
    df = registry()["l81_ann_ivf_stored"].fn(spark, SF_DIR)
    plan = audit.formatted_plan(df)
    assert "ivf_centroids_" in plan
    assert "ivf_cells_" in plan
    assert "dynamicpruning" in plan.lower()
    # no quantizer recompute: the posexplode + per-(label,dim) aggregate
    # of label_centroids must be absent
    assert "posexplode" not in plan.lower()
    nodes = audit.node_names(df)
    assert "Generate" not in nodes


def test_h_family_subqueries_stay_hash_or_merge(spark):
    """VERDICT r8 item #4: the h-suite rows whose correlated subqueries
    Catalyst decorrelates (h2 min-cost supplier, h15 top supplier, h16
    NOT IN suppliers, h18 large-volume IN-subquery, h20 excess-parts,
    h21 EXISTS/NOT EXISTS, h22 outstanding-balance anti join) must plan
    every join hash or merge — BASELINE.md verified at 10x that none
    flip to BroadcastNestedLoopJoin/CartesianProduct on real statistics;
    this pins that property at sf0.01 so a stats or rewrite regression
    cannot silently reintroduce a quadratic join.  (Scalar-subquery
    results reused as literals are fine — they appear as Subquery nodes,
    not joins.)"""
    reg = registry()
    for name in (
        "h2_min_bal_supplier",
        "h15_top_supplier",
        "h16_supplier_counts",
        "h18_large_volume_customers",
        "h20_excess_suppliers",
        "h21_waiting_orders",
        "h22_sales_opportunity",
    ):
        df = reg[name].fn(spark, SF_DIR)
        plan = audit.formatted_plan(df)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name
        joins = audit.join_algorithms(df)
        assert joins, name
        assert set(joins) <= {
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
        }, (name, joins)
