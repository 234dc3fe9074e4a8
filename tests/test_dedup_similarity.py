"""Planted-fixture checks for the R-tier dedup/similarity operators
(FIXTURES.md 'Planted fixtures'): the driver's rows-only gate can't see
recall, so these assert it with known ground truth."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import load_table
from google_analytics_dataframes_spark.operators import dedup as D
from google_analytics_dataframes_spark.operators import similarity as S
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def planted_docs(spark):
    """documents + 5 near-dup copies (2 leading words edited) + 1 exact dup."""
    base = load_table(spark, SF_DIR, "documents").toPandas()
    near = base.head(5).copy()
    near["doc_id"] += 100000
    near["text"] = near["text"].map(
        lambda t: " ".join(["zed1", "zed2"] + t.split(" ")[2:])
    )
    exact = base.iloc[[7]].copy()
    exact["doc_id"] += 200000
    out = pd.concat([base, near, exact], ignore_index=True)
    return spark.createDataFrame(out)


def test_exact_dedup_finds_planted_copy(spark, planted_docs):
    groups = D.exact_dedup_groups(planted_docs).filter(F.col("n_copies") > 1).collect()
    assert any(g.keep_id == 7 and g.n_copies == 2 for g in groups)


def test_minhash_lsh_recalls_planted_neardups(spark, planted_docs):
    pairs = D.minhash_lsh_pairs(planted_docs).toPandas()
    found = set(zip(pairs["doc_a"], pairs["doc_b"]))
    for doc_id in range(5):
        assert (doc_id, doc_id + 100000) in found
    # verification step bounds jaccard to [threshold, 1]
    assert (pairs["jaccard"] >= 0.3).all() and (pairs["jaccard"] <= 1.0).all()


def test_minhash_rejects_unrelated_short_overlap(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": ["alpha beta gamma delta epsilon", "zeta eta theta iota kappa"],
            }
        )
    )
    assert D.minhash_lsh_pairs(df).count() == 0


def test_jaccard_pairs_exact_math(spark):
    items = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 1, 1, 2, 2, 2, 3],
                "item": ["a", "b", "c", "b", "c", "d", "zzz"],
            }
        )
    )
    rows = {(r.doc_a, r.doc_b): r for r in D.jaccard_pairs(items, 40).collect()}
    assert rows[(1, 2)].inter == 2 and rows[(1, 2)].uni == 4
    assert rows[(1, 2)].jaccard == pytest.approx(0.5)
    assert (1, 3) not in rows and (2, 3) not in rows


def test_jaccard_strategies_agree_and_bitmask_gates_on_corpus_size(spark):
    """The three physical strategies (bitmask / prefix / index) must produce
    identical pairs, and the bitmask path must REFUSE oversized corpora —
    its broadcast side grows O(n_docs) and would stop fitting in executor
    memory long before 100 TB, so `max_bitmask_items` forces the fallback
    even when the vocabulary is tiny."""
    items = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 1, 1, 2, 2, 2, 3, 3, 4],
                "item": ["a", "b", "c", "b", "c", "d", "a", "b", "e"],
            }
        )
    )

    def pairset(df):
        return {
            (r.doc_a, r.doc_b, r.inter, r.uni) for r in df.collect()
        }

    bitmask = pairset(D.jaccard_pairs(items, 40))  # vocab 5 <= 512 -> bitmask
    gated = D.jaccard_pairs(items, 40, max_bitmask_items=1)  # forced fallback
    index_path = pairset(gated)
    prefix = pairset(
        D.jaccard_pairs(items, 40, max_bitmask_items=1, prefix_min_items=1)
    )
    assert bitmask == index_path == prefix and bitmask
    # the gated plan must not contain the broadcast nested-loop of masks
    from google_analytics_dataframes_spark.plans import audit

    assert "BroadcastNestedLoopJoin" not in audit.formatted_plan(gated)


def test_simhash_identical_docs_zero_hamming(spark):
    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spark join filter window table",
                    "spark join filter window table",
                    "completely different words entirely here",
                ],
            }
        )
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in D.simhash_pairs(df).collect()}
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.fixture(scope="module")
def planted_vectors(spark):
    """embeddings + perturbed copies of vec 3 and 11 (known nearest)."""
    base = load_table(spark, SF_DIR, "embeddings").toPandas()
    rng = np.random.RandomState(7)
    copies = []
    for vid in (3, 11):
        row = base[base.vec_id == vid].iloc[0]
        v = np.asarray(row.embedding, dtype="float32")
        v = v + rng.standard_normal(64).astype("float32") * 0.01
        copies.append(
            {"vec_id": int(vid) + 100000, "embedding": v.tolist(), "label": int(row.label)}
        )
    out = pd.concat([base, pd.DataFrame(copies)], ignore_index=True)
    return spark.createDataFrame(out)


def test_brute_force_topk_finds_planted_nearest(spark, planted_vectors):
    top = S.brute_force_topk(planted_vectors, query_vec_id=100003, k=2).collect()
    assert top[0].vec_id == 100003  # self
    assert top[1].vec_id == 3  # the perturbed source


def test_ivf_matches_brute_force_top1(spark, planted_vectors):
    brute = S.brute_force_topk(planted_vectors, query_vec_id=100011, k=2).collect()
    ivf = S.ivf_topk(planted_vectors, query_vec_id=100011, k=2, nprobe=2).collect()
    assert [r.vec_id for r in ivf][:2] == [r.vec_id for r in brute][:2]


def test_hyperplane_lsh_recalls_planted_pair(spark, planted_vectors):
    pairs = S.hyperplane_lsh_pairs(planted_vectors, min_cos=0.9).collect()
    found = {(r.vec_a, r.vec_b) for r in pairs}
    assert (3, 100003) in found and (11, 100011) in found


def test_hyperplane_lsh_multi_table_superset_and_deduped(spark, planted_vectors):
    """n_tables recall knob: 3-table candidates include table 0's (seeds
    42..44 include seed 42), so verified pairs are a superset of the
    1-table result, with no duplicate (vec_a, vec_b) rows across tables."""
    one = {(r.vec_a, r.vec_b) for r in S.hyperplane_lsh_pairs(planted_vectors).collect()}
    rows = S.hyperplane_lsh_pairs(planted_vectors, n_tables=3).collect()
    multi = [(r.vec_a, r.vec_b) for r in rows]
    assert len(multi) == len(set(multi))  # deduped
    assert one <= set(multi)
    assert (3, 100003) in set(multi) and (11, 100011) in set(multi)


def test_hyperplane_checkpoint_is_pre_explode_and_gated(spark, planted_vectors):
    """Round 15 (VERDICT r14 item #6 + ADVICE r14): the eager checkpoint
    must materialize the PRE-explode (vec_id, embedding, sigs) relation —
    embedding stored once regardless of n_tables, not once per LSH table
    (the l61d anti-pattern) — so every consumer's plan re-explodes the
    checkpointed RDD (Generate above Scan ExistingRDD, zero Python-eval
    nodes).  ``materialize=False`` must return the fully lazy plan (the
    Arrow signature UDF visible in-plan), same pair set."""
    from google_analytics_dataframes_spark.plans import audit

    df = S.hyperplane_lsh_pairs(planted_vectors, n_tables=3)
    plan = audit.formatted_plan(df)
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Generate" in plan and "Scan ExistingRDD" in plan
    lazy = S.hyperplane_lsh_pairs(planted_vectors, n_tables=3, materialize=False)
    assert "ArrowEvalPython" in audit.formatted_plan(lazy)
    assert {(r.vec_a, r.vec_b) for r in df.collect()} == {
        (r.vec_a, r.vec_b) for r in lazy.collect()
    }


def test_l13_query_emits_planted_probe_pairs(spark):
    """The registered l13 query plants 4 scaled clones (negative ids) and
    (since the round-5 full-oracle upgrade) emits exactly the intended
    (probe, source) pairs as (vec_orig, cos): all 4 sources recalled at
    cos exactly 1.0 — the literal table the DuckDB oracle states."""
    from google_analytics_dataframes_spark.registry import registry

    rows = registry()["l13_embed_neardup"].fn(spark, SF_DIR).collect()
    got = {r.vec_orig: r.cos for r in rows}
    assert set(got) == {0, 1, 2, 3}
    assert all(c == 1.0 for c in got.values())


def test_knn_join_neighbors_within_label(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    knn = S.knn_join_blocked(emb, k=3)
    pdf = knn.toPandas()
    labels = emb.select("vec_id", "label").toPandas().set_index("vec_id")["label"]
    assert (pdf["rank"] <= 3).all()
    assert (pdf["vec_id"] != pdf["neighbor_id"]).all()
    assert (
        pdf["neighbor_id"].map(labels).to_numpy() == pdf["label"].to_numpy()
    ).all()
    per_vec = pdf.groupby("vec_id").size()
    assert (per_vec <= 3).all()


def test_hash_split_stable_and_proportional(spark):
    from google_analytics_dataframes_spark.operators.text import hash_split
    from google_analytics_dataframes_spark.io import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    s1 = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    # deterministic: identical assignment on recompute and under re-sharding
    s2 = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7)).collect()
    }
    assert s1 == s2
    n = len(s1)
    frac_train = sum(v == "train" for v in s1.values()) / n
    assert 0.7 < frac_train < 0.9  # 80% +- hash noise at small n
    assert set(s1.values()) <= {"train", "val", "test"}


def test_repetition_bounds_and_planted_dup(spark):
    from google_analytics_dataframes_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "x y z w v u"), (3, "q r")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    # doc 1: 7 shingles, distinct = {abc,bca,cab} = 3 -> ratio 4/7
    assert got[1]["n_shingles"] == 7 and got[1]["n_distinct"] == 3
    assert abs(got[1]["dup_ratio"] - 4 / 7) < 1e-6
    # doc 2: all distinct -> 0; doc 3 short-doc collapse -> 1 shingle, 0
    assert got[2]["dup_ratio"] == 0.0
    assert got[3]["n_shingles"] == 1 and got[3]["dup_ratio"] == 0.0


def test_connected_components_path_and_singleton(spark):
    """A 6-node path (worst case for label propagation: diameter 5), a
    2-clique, and an isolated pair-less node via the l29-style left join."""
    from google_analytics_dataframes_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (10, 11)],
        ["doc_a", "doc_b"],
    )
    cc = connected_components(edges).toPandas().set_index("doc_id")["cluster_id"]
    assert cc.loc[[1, 2, 3, 4, 5, 6]].tolist() == [1] * 6
    assert cc.loc[[10, 11]].tolist() == [10, 10]
    assert 99 not in cc.index  # only nodes that appear in edges


def test_jaccard_incomplete_supplied_vocab_raises(spark, tmp_path):
    """ADVICE r4: a caller-supplied stats['vocab'] missing any item must
    raise, not dictionary-encode to vid -1 (whose shiftleft silently sets
    bit 63 of word 0 — phantom intersections)."""
    items = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 1, 2, 2], "item": ["a", "b", "b", "c"]})
    )
    # round 15: the within form's guard moved IN-PLAN too (shared
    # _guarded_masks) once l7 started serving stats from the catalog —
    # same contract as the cross form below: the uncovered vocab raises
    # a Spark runtime error at first EXECUTION, not ValueError at build
    bad = D.jaccard_pairs(items, 40, stats={"n_items": 4, "vocab": ["a", "b"]})
    with pytest.raises(Exception, match="vocab"):
        bad.collect()
    # cross form (round 14): the guard moved IN-PLAN (left dictionary
    # join + coalesce(vid, raise_error)) so the stats path no longer pays
    # a full validation shred per run — the uncovered vocab now fails
    # loudly at first EXECUTION, before any pair can be emitted
    cross_bad = D.jaccard_pairs_cross(
        items.filter(F.col("doc_id") == 1),
        items.filter(F.col("doc_id") == 2),
        40,
        stats={"n_items": 4, "vocab": ["a", "b"]},
    )
    with pytest.raises(Exception, match="vocab"):
        cross_bad.collect()
    # a write is an action too: neither form may finish a noop or parquet
    # write silently with the uncovered vocab
    for name, df in (("within", bad), ("cross", cross_bad)):
        with pytest.raises(Exception, match="vocab"):
            df.write.format("noop").mode("overwrite").save()
        with pytest.raises(Exception, match="vocab"):
            df.write.mode("overwrite").parquet(str(tmp_path / name))
    # complete vocab still works and matches the probe-driven result
    full = {
        (r.doc_a, r.doc_b, r.inter, r.uni)
        for r in D.jaccard_pairs(
            items, 40, stats={"n_items": 4, "vocab": ["a", "b", "c"]}
        ).collect()
    }
    probed = {
        (r.doc_a, r.doc_b, r.inter, r.uni)
        for r in D.jaccard_pairs(items, 40).collect()
    }
    assert full == probed


def test_cross_dense_vocab_routes_to_bitmask(spark):
    """l60's adversarial regime (VERDICT r4 #5, corrected r6): a
    word-salad corpus whose grams all come from one tiny alphabet makes
    every pair a candidate.  The stat probe must detect the dense
    vocabulary and route to the broadcast-bitmask strategy, the emitted
    pair set must equal the naive join's, and — the round-6 regression
    pin — the popcount expression must appear a BOUNDED number of times
    in the plan: CollapseProject used to re-inline the aliased inter
    expression into uni/jaccard/filter (~6 evaluations per enumerated
    pair, 687 s vs 48 s at the 625M-pair synth corner)."""
    import itertools

    alpha = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = []
    for d in range(12):  # every doc shares >=60% of the 6-gram alphabet
        for it in alpha[: 4 + d % 3]:
            rows.append({"doc_id": d, "item": it})
    pdf = pd.DataFrame(rows)
    inc = spark.createDataFrame(pdf[pdf.doc_id < 4])
    ex = spark.createDataFrame(pdf[pdf.doc_id >= 4].assign(doc_id=lambda d: d.doc_id))
    # explicit stats keep the plan lazy (no probe persist/localCheckpoint),
    # so the strategy choice is visible in the physical plan
    stats = {"n_items": len(pdf), "vocab": sorted(alpha), "n_in_docs": 4}
    out = D.jaccard_pairs_cross(inc, ex, threshold_pct=60, stats=stats)
    from google_analytics_dataframes_spark.plans import audit

    plan = audit.formatted_plan(out)
    assert "BroadcastNestedLoopJoin" in plan
    # single-occurrence filter + survivor-only derivation: with a 1-word
    # mask, bit_count may appear in the filter once and in the survivor
    # projection a couple of times — never the ~6x full re-inlining.
    # Pin per plan NODE (line), not a global count: a Spark upgrade that
    # changes alias inlining or EXPLAIN layout can shift the total without
    # any real re-evaluation regression; the regression signature is many
    # bit_counts fused into ONE projection/filter node.
    assert plan.count("bit_count") >= 1
    for line in plan.splitlines():
        n = line.count("bit_count")
        assert n <= 3, f"{n} bit_count evals in one node: {line.strip()}"
    got = {(r.doc_in, r.doc_ex, r.inter, r.uni) for r in out.collect()}
    sets = pdf.groupby("doc_id")["item"].agg(set)
    want = set()
    for a, b in itertools.product(range(4), range(4, 12)):
        inter = len(sets[a] & sets[b])
        uni = len(sets[a] | sets[b])
        if 100 * inter >= 60 * uni:
            want.add((a, b, inter, uni))
    assert got == want and want  # nonempty: the regime really is dense


def test_cross_pre_clustered_equals_default_and_skips_item_exchange(spark):
    """Round 14: ``pre_clustered=True`` (caller clustered the compact doc
    side before exploding) must emit the identical pair set as the
    default path AND must not repartition the exploded item stream — the
    whole point is that the only exchange is the caller's compact one."""
    alpha = ["aa", "bb", "cc", "dd", "ee", "ff"]
    rows = []
    for d in range(12):
        for it in alpha[: 4 + d % 3]:
            rows.append({"doc_id": d, "item": it})
    pdf = pd.DataFrame(rows)
    stats = {"n_items": len(pdf), "vocab": sorted(alpha), "n_in_docs": 4}
    inc = spark.createDataFrame(pdf[pdf.doc_id < 4])
    ex = spark.createDataFrame(pdf[pdf.doc_id >= 4])
    default = D.jaccard_pairs_cross(inc, ex, threshold_pct=60, stats=stats)
    # caller-clustered form: repartition the inputs on doc_id (stand-in
    # for fanout(docs, by=("doc_id",)) before the explode)
    pre = D.jaccard_pairs_cross(
        inc.repartition(4, "doc_id"),
        ex.repartition(4, "doc_id"),
        threshold_pct=60,
        stats=stats,
        pre_clustered=True,
    )
    from google_analytics_dataframes_spark.plans import audit

    # default path: the operator's own fanout_by repartitions the item
    # stream; pre_clustered: exactly the two caller exchanges, none
    # added.  (Plan read BEFORE execution — after collect, AQE renders
    # executed exchanges as reused query stages.)
    assert audit.count_exchanges(pre) == 2, audit.formatted_plan(pre)
    assert audit.formatted_plan(pre).count("hashpartitioning(doc_id") == 2
    key = lambda r: (r.doc_in, r.doc_ex, r.inter, r.uni)
    assert {key(r) for r in default.collect()} == {key(r) for r in pre.collect()}


def test_cross_bitmask_broadcast_guard_falls_back(spark):
    """Round-5 guard: even with a bitmask-eligible vocabulary, an incoming
    side whose mask table would exceed the broadcast cap must NOT be
    broadcast — the router falls back to a candidate-generation strategy
    (and still emits the identical pair set on a small example)."""
    items = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 1, 2, 2, 3, 3],
                "item": ["a", "b", "b", "c", "a", "b"],
            }
        )
    )
    inc = items.filter(F.col("doc_id") == 1)
    ex = items.filter(F.col("doc_id") > 1)
    stats = {"n_items": 6, "vocab": ["a", "b", "c"], "n_in_docs": 1}
    from google_analytics_dataframes_spark.plans import audit

    fast = D.jaccard_pairs_cross(inc, ex, 40, stats=stats)
    assert "BroadcastNestedLoopJoin" in audit.formatted_plan(fast)
    # an (asserted) enormous incoming side trips the guard -> no BNLJ
    slow = D.jaccard_pairs_cross(
        inc, ex, 40, stats={**stats, "n_in_docs": 10_000_000_000}
    )
    assert "BroadcastNestedLoopJoin" not in audit.formatted_plan(slow)
    want = {(r.doc_in, r.doc_ex, r.inter, r.uni) for r in fast.collect()}
    got = {(r.doc_in, r.doc_ex, r.inter, r.uni) for r in slow.collect()}
    assert got == want and want


@pytest.mark.parametrize(
    "prefix_min_items,fallback", [(0, "_cross_prefix"), (2_000_000, "_cross_index")]
)
def test_cross_mid_regime_fallback_matches_bitmask(
    spark, monkeypatch, prefix_min_items, fallback
):
    """l7b's between-regimes corner on the probe path (no stats): the
    vocabulary fits the bitmask regime (<= 4096 grams) but the incoming
    mask table exceeds the broadcast cap, so the router must fall back to
    candidate generation, which runs without the probe's persists.  With
    the cap lowered until a small corpus crosses it, each fallback must
    emit exactly the pair set of the bitmask path (and of a direct
    computation)."""
    import itertools

    rng = np.random.default_rng(11)
    pool = [f"g{i}" for i in range(150)]
    docs = {d: set(rng.choice(pool, size=rng.integers(6, 16), replace=False)) for d in range(20)}
    for d in range(20, 50):  # near-copies of incoming docs, 1-4 grams swapped
        src = sorted(docs[int(rng.integers(0, 20))])
        drop = set(rng.choice(src, size=rng.integers(1, 5), replace=False))
        docs[d] = (set(src) - drop) | set(rng.choice(pool, size=len(drop), replace=False))
    pdf = pd.DataFrame([(d, it) for d, s in docs.items() for it in sorted(s)], columns=["doc_id", "item"])
    inc = spark.createDataFrame(pdf[pdf.doc_id < 20])
    ex = spark.createDataFrame(pdf[pdf.doc_id >= 20])

    called = []
    for name in ("_cross_bitmask", "_cross_prefix", "_cross_index"):
        fn = getattr(D, name)
        monkeypatch.setattr(
            D, name, lambda *a, _fn=fn, _name=name: called.append(_name) or _fn(*a)
        )
    key = lambda r: (r.doc_in, r.doc_ex, r.inter, r.uni)
    bitmask = {key(r) for r in D.jaccard_pairs_cross(inc, ex, 50, prefix_min_items=prefix_min_items).collect()}
    assert called == ["_cross_bitmask"]

    # 20 incoming docs x (3 mask words x 8 B + 48 B) = 1440 B of mask table
    monkeypatch.setattr(D, "_BITMASK_BROADCAST_CAP", 1000)
    got = {key(r) for r in D.jaccard_pairs_cross(inc, ex, 50, prefix_min_items=prefix_min_items).collect()}
    assert called == ["_cross_bitmask", fallback]

    want = set()
    for a, b in itertools.product(range(20), range(20, 50)):
        inter, uni = len(docs[a] & docs[b]), len(docs[a] | docs[b])
        if 100 * inter >= 50 * uni:
            want.add((a, b, inter, uni))
    assert got == bitmask == want and len(want) >= 10


def test_exact_substr_spans_finds_planted_passage(spark):
    """l61 (ExactSubstr, Lee et al. 2022): two otherwise-unrelated docs
    sharing one verbatim 60-char passage must pair with max_run == 60 and
    shared_windows == 31 (60 - 30 + 1 window positions); docs with no
    30-char overlap must not pair."""
    import hashlib

    passage = "the quick brown fox jumps over the lazy dog again and again".ljust(60, "x")[:60]

    def filler(seed):
        return " ".join(
            hashlib.sha256(f"{seed}{i}".encode()).hexdigest() for i in range(6)
        )

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    filler("a") + " " + passage,
                    passage + " " + filler("b"),
                    filler("c"),
                ],
            }
        )
    )
    rows = {
        (x.doc_a, x.doc_b): (x.shared_windows, x.max_run)
        for x in D.exact_substr_spans(df, min_len=30).collect()
    }
    assert rows == {(1, 2): (31, 60)}
    # the hashed-key path (l61b) is output-identical by construction —
    # verification is exact, so even a hash collision cannot change the
    # result; pin it on the planted fixture too
    hashed = {
        (x.doc_a, x.doc_b): (x.shared_windows, x.max_run)
        for x in D.exact_substr_spans(df, min_len=30, hashed=True).collect()
    }
    assert hashed == rows


def test_exact_substr_hashed_matches_raw_on_corpus(spark):
    """l61 vs l61b on the real sf0.001 documents table: the raw-key and
    hashed-key (xxhash64 + raw-span re-verify) strategies must emit the
    IDENTICAL pair set and identical (shared_windows, max_run) values —
    the l61b contract that lets one oracle check both physical plans."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    raw = {
        (x.doc_a, x.doc_b): (x.shared_windows, x.max_run)
        for x in D.exact_substr_spans(docs, min_len=30).collect()
    }
    hashed = {
        (x.doc_a, x.doc_b): (x.shared_windows, x.max_run)
        for x in D.exact_substr_spans(docs, min_len=30, hashed=True).collect()
    }
    assert hashed == raw and len(raw) > 0


def test_indexed_neardup_paths_agree(spark):
    """l69's two stored-index forms — the packed-mask table (bounded
    vocabulary) and the bucketed gram table (large-vocabulary fallback,
    forced here) — must emit the IDENTICAL (pair, inter, uni, jaccard)
    set: one oracle certifies both physical plans, so the regime dispatch
    can never silently change answers."""
    from google_analytics_dataframes_spark.queries.corpus_ops import (
        l69_indexed_neardup,
    )

    mask = {
        (x.doc_in, x.doc_ex): (x.inter, x.uni, x.jaccard)
        for x in l69_indexed_neardup(spark, SF_DIR).collect()
    }
    gram = {
        (x.doc_in, x.doc_ex): (x.inter, x.uni, x.jaccard)
        for x in l69_indexed_neardup(
            spark, SF_DIR, _force_gram_path=True
        ).collect()
    }
    assert mask == gram and len(mask) > 0


# ------------------------------------------------------------------ BPE ---


def test_bpe_known_answer_merges_and_encoding():
    """Hand-computed BPE fixture (l77's token-level coverage — the
    registered query verifies round-trips; this pins the actual merge
    order and apply semantics).  Corpus {ab:2, abc:1}:
      iter1: (a,b) freq 3 wins              -> 'ab'
      iter2: (ab,EOW) freq 2 wins           -> 'ab EOW'
      iter3: (ab,c) ties (c,EOW) at 1; lexicographically smallest pair
             wins deterministically          -> 'abc'
    """
    from google_analytics_dataframes_spark.operators.text import (
        _BPE_EOW as W,
        bpe_decode,
        bpe_encode_word,
        train_bpe_merges,
    )

    merges = train_bpe_merges({"ab": 2, "abc": 1}, 3)
    assert merges == [("a", "b"), ("ab", W), ("ab", "c")]
    ranks = {p: i for i, p in enumerate(merges)}
    assert bpe_encode_word("ab", ranks) == ["ab" + W]
    assert bpe_encode_word("abc", ranks) == ["abc", W]
    # unseen suffix falls back to learned prefixes + raw chars
    assert bpe_encode_word("abcd", ranks) == ["abc", "d", W]
    toks = []
    for w in "ab abc abcd".split():
        toks.extend(bpe_encode_word(w, ranks))
    assert bpe_decode(toks) == "ab abc abcd"
    assert bpe_decode([]) == ""


def test_bpe_trainer_is_deterministic_under_tie_storms():
    """All-distinct single-occurrence words: every pair ties at 1, so the
    whole merge list is decided by the lexicographic tiebreak — two runs
    (reversed dict insertion order) must produce identical merges."""
    from google_analytics_dataframes_spark.operators.text import (
        train_bpe_merges,
    )

    words = ["cb", "ba", "ac"]
    f1 = {w: 1 for w in words}
    f2 = {w: 1 for w in reversed(words)}
    assert train_bpe_merges(f1, 8) == train_bpe_merges(f2, 8)


def test_stored_cross_stats_round_trip_includes_n_in_docs(spark):
    """VERDICT r11 item #4: the stored stats must carry n_in_docs so
    jaccard_pairs_cross(stats=...) can never silently fall back to
    re-scanning the unpersisted incoming lineage (the
    probe-skip-defeating path warns; with the stored dict the warning
    must be unreachable).  Also pins that the stats-driven plan emits
    the exact pair set the adaptive (probe-everything) path does."""
    import warnings

    from google_analytics_dataframes_spark.sources import bucketed as B

    stats = B.dedup_cross_stats(spark, SF_DIR)
    assert {"n_items", "vocab", "n_in_docs"} <= set(stats)
    assert stats["n_in_docs"] > 0 and stats["n_items"] > 0
    # second call serves the session memo (and must return the same
    # dict, n_in_docs included)
    again = B.dedup_cross_stats(spark, SF_DIR)
    assert again == stats

    docs = load_table(spark, SF_DIR, "documents")
    grams = F.explode(D.char_ngrams(F.col("text"), 3)).alias("item")
    inc = docs.filter(F.length("source") == 5).select("doc_id", grams)
    ex = docs.filter(F.length("source") == 4).select("doc_id", grams)
    with warnings.catch_warnings():
        # escalate ONLY the targeted fallback warning — a blanket
        # simplefilter("error") also trips on unrelated PySpark
        # deprecation warnings emitted during plan build / collect
        # (ADVICE r12)
        warnings.filterwarnings(
            "error", message=r"jaccard_pairs_cross: stats supplied.*"
        )
        fast = D.jaccard_pairs_cross(inc, ex, threshold_pct=60, stats=stats)
        got = {(r.doc_in, r.doc_ex, r.inter, r.uni) for r in fast.collect()}
    slow = D.jaccard_pairs_cross(inc, ex, threshold_pct=60)
    want = {(r.doc_in, r.doc_ex, r.inter, r.uni) for r in slow.collect()}
    assert got == want and want


def test_shipped_prefix_crossover_threshold(spark):
    """VERDICT r12 item #7: the planted-skew probe's index-path safety
    argument rests on the SHIPPED crossover — "past prefix_min_items
    index rows the router runs prefix, below it index".  The older
    routing tests force strategies with parameters; this pins the
    DEFAULT threshold itself: identical inputs, stats straddling the
    shipped 2M default, no parameter overrides.  Plan signatures:
    ppjoin prefix carries the array_intersect verify stage, the plain
    inverted-index join never does.  The companion MEASUREMENT (real
    >2M-row corpus through the no-stats probe path, walls + task
    histograms) is `git show 0dd433a:tools/router_threshold_probe_r13.py`
    and its section of `git show 0dd433a:BASELINE.md`."""
    import inspect

    # the shipped default this test exists to pin
    sig = inspect.signature(D.jaccard_pairs)
    shipped = sig.parameters["prefix_min_items"].default
    assert shipped == 2_000_000

    from google_analytics_dataframes_spark.plans import audit

    items = spark.range(6).select(
        F.col("id").alias("doc_id"),
        F.explode(F.array(*[F.lit(f"t{i}") for i in range(3)])).alias("item"),
    )
    # vocab None disables the bitmask regime; n_items is the router input
    over = D.jaccard_pairs(
        items, 60, stats={"n_items": shipped, "vocab": None}
    )
    under = D.jaccard_pairs(
        items, 60, stats={"n_items": shipped - 1, "vocab": None}
    )
    assert "array_intersect" in audit.formatted_plan(over)
    assert "array_intersect" not in audit.formatted_plan(under)
    # the cross-relation twin ships the same crossover
    sig_x = inspect.signature(D.jaccard_pairs_cross)
    assert sig_x.parameters["prefix_min_items"].default == shipped
    over_x = D.jaccard_pairs_cross(
        items, items, 60, stats={"n_items": shipped, "vocab": None}
    )
    under_x = D.jaccard_pairs_cross(
        items, items, 60, stats={"n_items": shipped - 1, "vocab": None}
    )
    assert "array_intersect" in audit.formatted_plan(over_x)
    assert "array_intersect" not in audit.formatted_plan(under_x)


def _forget_memos(spark, kind):
    """Drop one kind of entry from the session's memo owner, so the next
    call rebuilds instead of serving the memo."""
    from google_analytics_dataframes_spark.session import state

    memo = state(spark)
    for k in [k for k in memo if k[0] == kind]:
        del memo[k]


def test_mask_index_over_max_vocab_is_a_memoized_none(spark, tmp_path, monkeypatch):
    """Past ``max_vocab`` the mask index is None: the vocabulary probe
    runs once, the second call is served the None from the session memo,
    and no index directory is published."""
    import tempfile

    from google_analytics_dataframes_spark.sources import bucketed as B

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))  # staged_dir's root
    probes = []
    real = B._bounded_vocab
    monkeypatch.setattr(
        B, "_bounded_vocab", lambda *a: probes.append(a) or real(*a)
    )
    assert B.mask_index(spark, SF_DIR, max_vocab=8) is None
    assert B.mask_index(spark, SF_DIR, max_vocab=8) is None
    assert len(probes) == 1
    assert not list(tmp_path.glob("spark_graft_dedup_*"))


def test_simjoin_token_stats_match_direct_probe(spark):
    """Round 15 (VERDICT r14 item #4): the persisted l7-family router
    stats must equal what the per-run probe jobs would have computed —
    same tokenizer, same counts — and serving them must not change the
    emitted pair set (the whole point is skipping the probes, not
    re-deriving different routing inputs)."""
    from google_analytics_dataframes_spark.sources import bucketed as B

    mod, res = 20, 5
    _forget_memos(spark, "simjoin_stats")
    stats = B.simjoin_token_stats(spark, SF_DIR, mod, res)
    toks = (
        load_table(spark, SF_DIR, "documents")
        .filter(F.col("lang") == "en")
        .select(
            "doc_id", F.explode(F.array_distinct(D.tokens("text"))).alias("item")
        )
    )
    assert stats["n_items"] == toks.count()
    sl = toks.filter(F.col("doc_id") % mod == res)
    assert stats["n_slice_items"] == sl.count()
    assert stats["n_slice_docs"] == sl.select("doc_id").distinct().count()
    direct_vocab = sorted(
        r["item"] for r in toks.select("item").distinct().collect()
    )
    if len(direct_vocab) <= 4096:
        assert stats["vocab"] == direct_vocab
    else:
        assert stats["vocab"] is None
    # pair-set equality: stats-served vs probe-served within-corpus router
    if stats["vocab"] is not None and len(stats["vocab"]) <= 512:
        served = {
            (r.doc_a, r.doc_b, r.inter)
            for r in D.jaccard_pairs(
                toks,
                40,
                stats={"n_items": stats["n_items"], "vocab": stats["vocab"]},
            ).collect()
        }
        probed = {
            (r.doc_a, r.doc_b, r.inter)
            for r in D.jaccard_pairs(toks, 40).collect()
        }
        assert served == probed
