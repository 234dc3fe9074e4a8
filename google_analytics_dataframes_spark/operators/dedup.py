"""Dedup operator family over `documents` (SURVEY.md §2.11 l1/l2 +
extensions; north star BASELINE.json:6).

Four tiers, cheapest-first — exactly the cascade a 100 TB training-data
pipeline runs:

1. exact     — content hash groupBy (one shuffle on the hash).
2. MinHash   — shingle -> P permutation mins -> LSH bands -> equi-join on
               (band, sig) -> exact-Jaccard verify.  Candidate generation is
               a join on small keys, never O(N²).
3. SimHash   — 64 bit-vote aggregates -> one 64-bit signature per doc ->
               16-bit band join -> hamming verify via bit_count(xor).
4. n-gram    — character-shingle Jaccard via inverted-index join (shared
               machinery with token Jaccard, operators/text normalization).

Everything is built-in expressions (xxhash64, explode, groupBy, join) inside
whole-stage codegen; no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import fanout, fanout_by

# Upper bound on the incoming-side packed-mask table a bitmask cross join
# may broadcast (bytes).  128 MB ~ Spark's own practical broadcast comfort
# zone on a 100-executor cluster; past it jaccard_pairs_cross falls back to
# the prefix/index strategies even when the vocabulary is bounded.
_BITMASK_BROADCAST_CAP = 128 << 20


def tokens(text: Column | str) -> Column:
    text = F.col(text) if isinstance(text, str) else text
    return F.split(text, " ")


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """k-word shingles; docs shorter than k words collapse to one whole-text
    shingle.

    Built as ``arrays_zip`` of k shifted ``slice``s of the token array, so the
    split/ slice run O(k) times per ROW; a lambda that re-captured the token
    array would be re-evaluated per ELEMENT inside the interpreted
    higher-order function (O(tokens^2) per doc — measured 2.5x slower on the
    fingerprint op at sf0.1)."""
    toks = tokens(text)
    n = F.size(toks)
    shifted = [F.slice(toks, j + 1, n - (k - 1)) for j in range(k)]
    zipped = F.arrays_zip(*[s.alias(f"t{j}") for j, s in enumerate(shifted)])
    joined = F.transform(
        zipped,
        lambda s: F.concat_ws(" ", *[s.getField(f"t{j}") for j in range(k)]),
    )
    return F.when(n >= k, joined).otherwise(F.array(F.concat_ws(" ", toks)))


def char_ngrams(text: Column | str, n: int = 3) -> Column:
    """Distinct character n-grams."""
    text = F.col(text) if isinstance(text, str) else text
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - (n - 1), F.lit(1))),
            lambda i: F.substring(text, i, n),
        )
    )


def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """Exact dedup by md5 content key: canonical survivor = min doc_id."""
    return (
        docs.select(F.md5("text").alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def minhash_signatures(docs: DataFrame, num_perm: int = 32) -> DataFrame:
    """P permutation-min signatures per doc.  'Permutation' p is the
    xxhash64 family member seeded by p — one exploded-shingle pass computes
    all P mins (P aggregate expressions).  The only exchange is hash(doc_id)
    on the compact pre-explode documents, which satisfies the aggregate's
    clustering — the exploded shingle stream itself never shuffles."""
    sh = fanout_by(docs, "doc_id").select(
        "doc_id", F.explode(F.array_distinct(word_shingles("text"))).alias("sh")
    )
    mins = [
        F.min(F.xxhash64(F.col("sh"), F.lit(p))).alias(f"mh{p}")
        for p in range(num_perm)
    ]
    return sh.groupBy("doc_id").agg(*mins)


def minhash_lsh_pairs(
    docs: DataFrame,
    num_perm: int = 32,
    bands: int = 8,
    jaccard_threshold_pct: int = 30,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs: LSH band join for candidates, exact token-set
    Jaccard (integer-threshold compare) to verify.

    threshold is integer percent so the filter `100*|I| >= pct*|U|` is exact
    arithmetic — no float boundary flakiness.

    ``materialize`` (default True, ADVICE r14): eagerly localCheckpoint the
    double-referenced signature/token relations — building the DataFrame
    then launches jobs and severs lineage (executor loss is not recomputed,
    and the plan cannot run on a streaming input).  Pass False for a fully
    lazy plan that recomputes the signature pass per consumer — the
    pre-round-14 behavior; same emitted pairs either way.
    """
    rows = num_perm // bands
    sig = minhash_signatures(docs, num_perm)
    band_cols = F.array(
        *[
            F.xxhash64(*[F.col(f"mh{b * rows + j}") for j in range(rows)], F.lit(b))
            for b in range(bands)
        ]
    )
    # Round 14 (guide §1/§4): the band self-join references ``banded``
    # twice, so the whole signature pass (shingle explode + 32 xxhash
    # mins — the dominant cost) ran once PER JOIN SIDE; the verify stage
    # then re-tokenized the corpus once per pair side.  Materialize both
    # once: ``banded`` is 3 longs x ``bands`` rows per doc, ``tok_sets``
    # one distinct-token array per doc — each strictly smaller than the
    # text it replaces, so at any scale the checkpoint write is cheaper
    # than the second full recompute it removes.  Same ContextCleaner
    # cleanup contract as l11's checkpoint note.  Measured on l2 at
    # sf0.1 (back-to-back 5-rep A/B, before side in the slightly busier
    # half): warm median 1.62 -> 1.18 s, first execution 4.69 -> 2.32 s
    # (`git show 0dd433a:plans/r14/l2_near_dedup_minhash_{before,after}.txt`:
    # 8 parquet scans -> 0 in the returned plan, one scan per checkpoint
    # build).
    banded = sig.select(
        "doc_id", F.posexplode(band_cols).alias("band", "bsig")
    )
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    tok_sets = docs.select(
        "doc_id", F.array_distinct(tokens("text")).alias("toks")
    )
    if materialize:
        tok_sets = tok_sets.localCheckpoint(eager=True)
    ta = tok_sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = tok_sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    verified = (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("toks_a", "toks_b")).alias("inter"),
            F.size(F.array_union("toks_a", "toks_b")).alias("uni"),
        )
        .filter(100 * F.col("inter") >= jaccard_threshold_pct * F.col("uni"))
    )
    return verified.select(
        "doc_a", "doc_b", (F.col("inter") / F.col("uni")).alias("jaccard")
    )


def _guarded_masks(items: DataFrame, vocab: list, caller: str) -> DataFrame:
    """Per-doc packed-long bitmask frame ``(doc_id, sz, m0..mN)`` with the
    item -> bit-position lookup as a broadcast LEFT dictionary join whose
    vid is ``coalesce(vid, raise_error(...))`` — the in-plan coverage
    guard shared by BOTH bitmask strategies (round 15; the cross form
    adopted it in round 14, the within form still paid an eager
    ``_validate_vocab_covers`` scan per run once callers started passing
    stats).  An uncovered item can never dictionary-encode to a phantom
    bit: the query refuses to evaluate it, at first execution.  The hash
    join is also O(1) per item vs ``array_position``'s O(|vocab|) linear
    scan over the literal array."""
    n_words = (len(vocab) + 63) // 64
    vdf = items.sparkSession.createDataFrame(
        [(v, i) for i, v in enumerate(vocab)], ["item", "vid"]
    )
    guarded_vid = F.coalesce(
        F.col("vid"),
        F.raise_error(
            F.concat(
                F.lit(f"{caller}: stats['vocab'] does not cover item '"),
                F.coalesce(F.col("item"), F.lit("<null>")),
                F.lit(
                    "'; pass the full vocabulary or vocab=None to use "
                    "the index/prefix strategies"
                ),
            )
        ).cast("long"),
    )
    return (
        items.join(F.broadcast(vdf), "item", "left")
        .withColumn("vid", guarded_vid)
        .groupBy("doc_id")
        .agg(F.count("*").alias("sz"), *packed_mask_aggs(n_words))
    )


def jaccard_pairs(
    items: DataFrame,
    threshold_pct: int,
    max_bitmask_vocab: int = 512,
    prefix_min_items: int = 2_000_000,
    max_bitmask_items: int = 1_000_000,
    stats: dict | None = None,
    materialize: bool = False,
) -> DataFrame:
    """Set-similarity join (PAPERS.md:6): `items` is (doc_id, item) with
    DISTINCT items per doc; emits pairs with |I|/|U| >= threshold_pct/100.
    The integer-percent threshold keeps the filter exact arithmetic.

    Adaptive physical strategy (AQE-style, driven by a cheap stat):

    * **small vocabulary AND bounded corpus** (distinct items <=
      max_bitmask_vocab and item rows <= max_bitmask_items): dictionary-
      encode items and pack each doc's set into ceil(V/64) longs; candidate
      pairs come from a broadcast nested-loop self-join and |I| is
      ``bit_count(a & b)`` per word — O(V/64) per pair.  When the vocabulary
      is bounded, the inverted-index join's output is Theta(sum n_item^2) =
      Theta(n^2) rows ANYWAY (every frequent item pairs most docs), so the
      bitmask form does the same asymptotic pair work at ~100x smaller
      constant and with no 10^7-row shuffle/aggregate (measured 9.5s -> <1s
      on the 31-token sf0.1 corpus).  The item-count gate bounds the
      BROADCAST side — the (doc_id, sz, masks) table grows O(n_docs) and
      must fit in executor memory, so past ~1M item rows the strategy falls
      through to the shuffle-based paths below regardless of vocabulary.
    * **large vocabulary, large input**: prefix-filtered index join
      (:func:`_jaccard_pairs_prefix`, ppjoin-style) — each doc indexes only
      its ``sz - ceil(t*sz) + 1`` globally-rarest items, which provably
      cannot miss a >=t pair, so frequent items stop dominating the
      candidate blowup; candidates verify exactly against full sets.
    * **large vocabulary, small input** (< ``prefix_min_items`` index rows)
      or **threshold 0** (prefixes can't prune when every co-item pair must
      be emitted): classic full inverted-index join
      (:func:`_jaccard_pairs_index`) — at small scale the prefix machinery
      (frequency join, per-doc ranking, candidate distinct, verify join)
      costs more than the pruning saves; the crossover is measured in
      index-entry count, the same stat a cost-based optimizer would use.

    `items` is hash-partitioned on doc_id up front: per-doc sizes, the
    collect_list token sets, the prefix-ranking window, and the bitmask
    encode all cluster on doc_id, so they share this single exchange.

    Stat probes: strategy choice needs (n_items, vocab) — two bounded Spark
    jobs at plan-build time.  `items` is persisted first so the probes AND
    the multi-pass pair pipeline (sizes / index sides / verify sets all
    re-read it) share one materialization instead of re-running the upstream
    explode per pass.  Callers that need a fully LAZY plan pass
    ``stats={"n_items": ..., "vocab": [...] | None}`` (e.g. from catalog
    metadata or a prior pass) and no job runs here.

    Persist lifecycle: with ``materialize=True`` the pair pipeline executes
    eagerly (``localCheckpoint``), the probe persist is released before
    returning, and the caller gets a lineage-free frame it can re-join or
    cache without re-running anything — the right mode when the pairs feed
    several downstream consumers (clustering, keeper election).  With the
    default lazy mode the probe persist stays alive for the eventual
    execution (unpersisting here would re-run the upstream explode for each
    of the pipeline's multi-pass reads); a long-lived session issuing many
    distinct lazy pair plans should prefer ``materialize=True`` to avoid
    accumulating cached probe blocks.
    """
    persisted = None
    items = fanout_by(items, "doc_id")
    if stats is None:
        persisted = items = items.persist()
        n_items = items.count()
        vocab_rows = (
            items.select("item").distinct().limit(max_bitmask_vocab + 1).collect()
        )
        vocab = (
            sorted(r["item"] for r in vocab_rows)
            if len(vocab_rows) <= max_bitmask_vocab
            else None
        )
    else:
        n_items = stats["n_items"]
        vocab = stats.get("vocab")
        if vocab is not None and len(vocab) > max_bitmask_vocab:
            vocab = None
        # Round 15: coverage of a caller-supplied vocab is enforced
        # IN-PLAN by _guarded_masks (the r14 cross-form treatment) — the
        # eager _validate_vocab_covers pre-pass was a full extra shred of
        # the item stream per run, the dominant build cost once l7
        # started serving stats from the catalog.  Same contract shift
        # as the cross form: an uncovered vocab now raises a Spark
        # runtime error at first EXECUTION, not ValueError at build.
    if vocab is not None and n_items <= max_bitmask_items:
        out = _jaccard_pairs_bitmask(
            items, threshold_pct, vocab, materialize=materialize
        )
    elif threshold_pct > 0 and n_items >= prefix_min_items:
        out = _jaccard_pairs_prefix(items, threshold_pct)
    else:
        out = _jaccard_pairs_index(items, threshold_pct)
    if materialize:
        out = out.localCheckpoint(eager=True)
        if persisted is not None:
            persisted.unpersist()
    return out


def _jaccard_pairs_index(items: DataFrame, threshold_pct: int) -> DataFrame:
    """Full inverted-index join on `item`: pairs sharing >=1 item get |I|
    from the index join, |U| from per-doc sizes."""
    sizes = items.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a, b = items.alias("a"), items.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "inter",
            (F.col("sz_a") + F.col("sz_b") - F.col("inter")).alias("uni"),
        )
        .filter(100 * F.col("inter") >= threshold_pct * F.col("uni"))
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )


def _jaccard_pairs_prefix(items: DataFrame, threshold_pct: int) -> DataFrame:
    """Prefix-filtered exact Jaccard join (Chaudhuri et al. SSJoin / Xiao et
    al. ppjoin): under one global item order (frequency ascending, item as
    tiebreak), two sets with Jaccard >= t MUST share an item inside both of
    their prefixes of length ``sz - ceil(t*sz) + 1`` — if all shared items
    sat in A's suffix of length ``ceil(t*sz_a) - 1``, then
    |I| <= ceil(t*sz_a) - 1 < t*max(sz) <= |I|, a contradiction.  So the
    index join runs on prefixes only (the globally-frequent items drop out
    of candidate generation), and survivors verify exactly against the full
    sorted token arrays.

    Scale shape: one broadcastable frequency table (|vocab| rows), one
    window bounded by per-doc set size (never a hot-key partition), an
    index join whose key distribution is by construction rare-item-heavy,
    and a verify join against doc-count-sized set rows."""
    from pyspark.sql import Window

    freq = items.groupBy("item").agg(F.count("*").alias("_freq"))
    ordered = items.join(F.broadcast(freq), "item")
    w_doc = Window.partitionBy("doc_id").orderBy(F.col("_freq").asc(), F.col("item").asc())
    ranked = ordered.select(
        "doc_id",
        "item",
        F.row_number().over(w_doc).alias("_rn"),
        F.count("*").over(Window.partitionBy("doc_id")).alias("_sz"),
    )
    prefix_len = F.col("_sz") - F.ceil(F.col("_sz") * threshold_pct / 100) + 1
    prefix = ranked.filter(F.col("_rn") <= prefix_len).select("doc_id", "item")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.item") == F.col("b.item"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    tok_sets = items.groupBy("doc_id").agg(F.collect_list("item").alias("toks"))
    ta = tok_sets.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = tok_sets.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    uni = (F.size("toks_a") + F.size("toks_b") - inter).alias("uni")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select("doc_a", "doc_b", inter.cast("long").alias("inter"), uni.cast("long").alias("uni"))
        .filter(
            (F.col("inter") >= 1)
            & (100 * F.col("inter") >= threshold_pct * F.col("uni"))
        )
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )


def packed_mask_aggs(n_words: int) -> list:
    """The bit_or aggregation expressions that pack a ``vid`` column
    (0-based vocabulary position, null for out-of-vocabulary items —
    nulls contribute nothing) into ``n_words`` 64-bit mask longs
    ``m0..m{n-1}``.  Shared by the in-session bitmask strategies here and
    the STORED mask index (sources/bucketed.mask_index) so the
    stored layout is bit-identical to the computed one."""
    return [
        F.bit_or(
            F.when(
                (F.col("vid") / 64).cast("int") == j,
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(vid % 64 AS INT))"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"m{j}")
        for j in range(n_words)
    ]


def _jaccard_pairs_bitmask(
    items: DataFrame, threshold_pct: int, vocab: list, materialize: bool = False
) -> DataFrame:
    """Bitmask-encoded exact Jaccard join for bounded vocabularies: each
    doc's item set becomes ceil(V/64) longs (bit v set <=> vocab[v] in set);
    |I| = sum of per-word bit_count(a&b).  Pair enumeration is a broadcast
    nested-loop self-join — one side is (doc_id, sz, masks) which is tiny
    relative to the raw text at any corpus size.

    Encoding is the shared :func:`_guarded_masks` broadcast-dictionary
    join (round 15) — O(1)/item instead of ``array_position``'s linear
    literal scan, with vocab coverage enforced in-plan.  ``materialize``
    eagerly checkpoints the mask table: the self-join references it on
    BOTH sides, and without a probe persist (the stats path) each side
    would re-run the whole tokenize+encode+aggregate subtree; the mask
    row is (1 + n_words) longs per doc — strictly smaller than its
    generation at any scale."""
    masks = _guarded_masks(items, vocab, "jaccard_pairs")
    if materialize:
        masks = masks.localCheckpoint(eager=True)
    n_words = (len(vocab) + 63) // 64
    a, b = masks.alias("a"), masks.alias("b")
    inter = sum(
        (
            F.bit_count(F.col(f"a.m{j}").bitwiseAND(F.col(f"b.m{j}"))).cast("long")
            for j in range(n_words)
        ),
        start=F.lit(0).cast("long"),
    )
    # FILTER FIRST, with `inter` occurring exactly ONCE (round-6 fix):
    # CollapseProject inlines an aliased expression into every downstream
    # reference, so the old select(inter)/withColumn(uni)/filter chain
    # evaluated the full n_words-term popcount ~6x PER ENUMERATED PAIR —
    # measured 687 s vs 101 s on the 625M-pair synth corner.  Algebra
    # removes the second occurrence: 100*I >= t*(S - I) <=> (100+t)*I >=
    # t*S, and for t >= 1 that already implies I >= 1 (S >= 2).  The
    # survivor-only select below still re-inlines `inter`, but only over
    # the emitted pairs — noise next to the enumeration.
    sz_sum = F.col("a.sz") + F.col("b.sz")
    keep = (
        ((100 + threshold_pct) * inter >= threshold_pct * sz_sum)
        if threshold_pct >= 1
        # t = 0: every co-item pair qualifies; mirror the index path's
        # inter >= 1 (still a single `inter` occurrence)
        else (inter >= 1)
    )
    pairs = (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(keep)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            inter.alias("inter"),
            (sz_sum - inter).alias("uni"),
        )
    )
    return pairs.select(
        "doc_a", "doc_b", "inter", "uni", (F.col("inter") / F.col("uni")).alias("jaccard")
    )


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """64-bit SimHash per doc: per-token xxhash64, 64 bit-vote counts, bits
    voted by >half the tokens set.

    The 64 per-bit counters are PACKED 4-per-long (16-bit lanes) so the
    aggregation is 17 codegen-friendly ``sum``s instead of 64 — a 64-buffer
    hash-agg overflows whole-stage codegen's method budget and drops to the
    interpreted path (measured ~5x slower).  A 16-bit lane is exact while a
    doc has < 65,536 distinct tokens; docs beyond that are rejected by the
    explicit guard below rather than silently corrupting adjacent lanes."""
    h = F.xxhash64("tok")
    packed = [
        F.sum(
            sum(
                (
                    F.shiftrightunsigned(h, 4 * j + m)
                    .bitwiseAND(1)
                    .cast("long")
                    * F.lit(1 << (16 * m)).cast("long")
                    for m in range(4)
                ),
                start=F.lit(0).cast("long"),
            )
        ).alias(f"p{j}")
        for j in range(16)
    ]
    votes = (
        # hash(doc_id) on the pre-explode side: the vote aggregate reuses it,
        # so the exploded token stream stays pipeline-local (no shuffle).
        fanout_by(docs, "doc_id")
        .select("doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tok"), *packed)
    )
    # Decode: a flat 64-element array of lane counters (literal shifts —
    # shallow codegen) folded by ONE interpreted higher-order aggregate.  A
    # chain of 64 nested CASE-adds is a deep codegen tree that takes seconds
    # to janino-compile per query; this shape plans in O(1).  Element order is
    # bit order: bit i lives in lane (i mod 4) of long (i div 4).
    lane_counts = F.array(
        *[
            F.shiftrightunsigned(F.col(f"p{j}"), 16 * m).bitwiseAND(0xFFFF)
            for j in range(16)
            for m in range(4)
        ]
    )
    # bit 63's power is long-min in two's complement (1 << 63 overflows)
    powers = F.array(
        *[F.lit((1 << k) if k < 63 else -(1 << 63)).cast("long") for k in range(64)]
    )
    bits = F.zip_with(
        lane_counts,
        powers,
        lambda b, p: F.when(2 * b > F.col("n_tok"), p).otherwise(
            F.lit(0).cast("long")
        ),
    )
    simhash = F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)
    guarded = F.when(F.col("n_tok") < 65536, simhash).otherwise(
        F.raise_error(
            F.lit("simhash_signatures: doc exceeds 65535 distinct tokens")
        ).cast("long")
    )
    return votes.select("doc_id", guarded.alias("simhash"))


def simhash_pairs(
    docs: DataFrame | None = None,
    max_hamming: int = 8,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Near-dup candidates by SimHash: 4x16-bit band equi-join (any pair
    within hamming<=3 shares a band; wider radii trade recall), verified by
    bit_count(xor) <= max_hamming.

    Pass ``sig`` (a (doc_id, simhash) frame, e.g. a materialized
    :func:`simhash_signatures`) to skip signature computation — the band
    self-join references its input TWICE, so a caller that materializes
    the signatures first halves the signature passes (l11 does)."""
    if sig is None:
        if docs is None:
            raise ValueError("simhash_pairs: pass docs or sig")
        sig = simhash_signatures(docs)
    bands = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned("simhash", 16 * b).bitwiseAND(0xFFFF)
                    for b in range(4)
                ]
            )
        ).alias("band", "bsig"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bsig") == F.col("b.bsig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)  # before distinct: shrink the
        .distinct()  # band-multiplicity dedup's shuffle to surviving pairs only
    )


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 50
) -> DataFrame:
    """Connected components over an undirected edge list -> (doc_id,
    cluster_id) with cluster_id = min node id reachable — the step that
    turns near-dup PAIRS (minhash/simhash/LSH output) into dedup CLUSTERS
    a pipeline can pick canonical documents from.

    Iterative min-label propagation: every round each node takes the min
    of its own label and its neighbors'; a round that changes nothing
    terminates the loop.  Each round is one shuffle-join of the label
    table (|V| rows of 2 longs — only docs that appear in some pair, a
    small fraction of the corpus) against the symmetrized edge list plus a
    min-aggregate; the driver sees only a 1-row changed-count.  Each round
    applies TWO propagation steps before its checkpoint/convergence check,
    so rounds = ceil(diameter/2)+1: dup clusters are near-cliques
    (diameter 2-3), so 2 rounds in practice (the large-star/small-star
    variant wins only on long-chain graphs).
    `localCheckpoint` truncates the per-round lineage so the plan does not
    double every iteration.

    ``max_iter`` counts ROUNDS, each applying two propagation steps, so the
    reachable diameter is ``2 * max_iter`` (callers tuning for a known
    diameter d should pass ``ceil(d / 2)``).  Must be >= 1.

    Raises ``RuntimeError`` if labels are still changing after ``max_iter``
    rounds — returning silently would hand the caller partially-converged
    (wrong) cluster ids.  A diameter > 100 means the input is a long chain,
    not a dup cluster; raise, don't guess."""
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # materialize the (small) edge list once: it is re-joined every round,
    # and without this the whole upstream pair-generation pipeline would
    # re-execute per iteration (and again for each changed-count action)
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    def _propagate(lbl):
        neigh = sym.join(lbl, sym["a"] == lbl["node"]).select(
            F.col("b").alias("node"), F.col("label")
        )
        return (
            lbl.unionByName(neigh).groupBy("node").agg(F.min("label").alias("label"))
        )

    for _ in range(max_iter):
        # TWO propagation steps per checkpoint/convergence check: min-label
        # propagation is monotone, so extra steps are always safe, and each
        # localCheckpoint + changed-count is a fixed-cost driver round trip
        # — doubling the reach per round halves the dominant per-iteration
        # overhead (rounds needed = ceil(diameter/2), not diameter).
        new = _propagate(_propagate(labels)).localCheckpoint()
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"(2 steps each; {changed} labels still changing); the graph "
            f"diameter exceeds {2 * max_iter} — raise max_iter or "
            "pre-contract the chains"
        )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def jaccard_pairs_cross(
    items_in: DataFrame,
    items_ex: DataFrame,
    threshold_pct: int,
    max_bitmask_vocab: int = 4096,
    prefix_min_items: int = 2_000_000,
    stats: dict | None = None,
    pre_clustered: bool = False,
) -> DataFrame:
    """Exact Jaccard join ACROSS two relations — the incremental-dedup
    shape (incoming batch vs existing corpus): emits (doc_in, doc_ex,
    inter, uni, jaccard) for cross pairs with |I|/|U| >= threshold_pct/100.
    Existing x existing pairs are never formed in ANY strategy — per-batch
    work scales with the batch, which is what makes continuous dedup of a
    growing corpus affordable.

    Adaptive physical strategy, the cross-side twin of
    :func:`jaccard_pairs` (same stat, same crossover logic):

    * **bounded vocabulary** (union vocab <= max_bitmask_vocab, incoming
      mask table <= _BITMASK_BROADCAST_CAP): encode both sides as
      packed-long bitmasks and BROADCAST the incoming (batch) side's mask
      table over the corpus side — |I| is bit_count(a&b) per word, no
      shuffle of the corpus, no candidate explosion.  On low-diversity
      corpora every frequent item co-occurs in nearly every cross pair,
      so candidate-generation strategies do Theta(|in| x |ex|) pair work
      ANYWAY — the bitmask form does it at a ~100x smaller constant
      (measured: the prefix path was 5x SLOWER than even the naive index
      join on the 377-gram bench corpus; on the 1891-gram Caesar-synth
      word-salad corpus the verify-by-array_intersect paths exceeded the
      probe cap while bitmask enumerates the same output-bounded pair set
      in packed-word compares).
    * **large vocabulary, large input** (>= prefix_min_items index rows):
      prefix-filtered cross index join (SSJoin/ppjoin, one GLOBAL
      frequency order over the union): each doc indexes only its
      ``sz - ceil(t*sz) + 1`` globally-rarest items — provably lossless
      for >= t pairs — so on realistic high-diversity corpora frequent
      items never generate candidates; survivors verify exactly.
    * **otherwise**: plain cross inverted-index join — at small scale the
      prefix machinery costs more than it prunes.

    ``stats`` (optional): {"n_items": int, "vocab": list | None,
    "n_in_docs": int | None} skips the probe jobs, e.g. from catalog
    metadata.  A supplied vocab is GUARDED IN-PLAN before it may drive
    the bitmask math: an uncovered item would otherwise dictionary-encode
    to a phantom bit (silent false intersections), so the mask build's
    dictionary join is a LEFT join whose vid is
    ``coalesce(vid, raise_error(...))`` — a covered corpus pays one null
    check per item, an uncovered vocab fails the query loudly at first
    evaluation (round 14; replaces the eager full-shred
    ``_validate_vocab_covers`` pre-pass, which was the dominant build
    cost of the l60 family).  Exception-contract note (ADVICE r14): the
    failure surfaces as a Spark runtime error (``SparkRuntimeException``
    from ``raise_error``, wrapped in the action's Py4J error) when the
    result is first EXECUTED — not as a ``ValueError`` at build time as
    in rounds <=13.  Callers that caught ValueError around construction
    must move that handling to the action, and a write action may emit
    partial output before a later task hits the raise.  The
    within-corpus :func:`jaccard_pairs` adopted the same in-plan guard in
    round 15 (shared :func:`_guarded_masks`).

    The bitmask regime is bounded on TWO axes: vocabulary (<=
    max_bitmask_vocab, 4096 -> at most 64 packed longs = 512 B/doc) and
    broadcast size (incoming-side mask table must fit
    ``_BITMASK_BROADCAST_CAP``; past it the strategy falls back even on a
    tiny vocabulary — a giant batch must not be broadcast).

    ``pre_clustered`` (round 14, guide §2.3): the default fanout_by here
    repartitions the ALREADY-EXPLODED (doc_id, item) stream — ~L bytes +
    row overhead per corpus character through the exchange.  A caller
    that builds both item relations over ``fanout(docs, by=("doc_id",))``
    on the COMPACT doc relation passes ``pre_clustered=True`` to skip
    the exploded-stream exchange entirely.  Regime behavior (all three
    desired): on narrow microbench scans the fanout fires, explode and
    broadcast joins preserve the clustering, and every per-doc aggregate
    runs exchange-free; at real scale the fanout no-ops and the per-doc
    aggregates insert their own exchanges of MAP-SIDE PARTIALS (one
    ~48 B mask row per doc per partition) — tiny next to either the
    exploded stream or the compact text; nothing ever repartitions the
    full corpus.  Measured on l60/l60b at sf0.1: 2.96 -> 1.73 and
    2.70 -> 1.44 s median, back-to-back 5-rep A/B
    (`git show 0dd433a:plans/r14/l60{,b}_*_{before,after}.txt`: the
    post-Generate Exchange is gone from both branches); at the 10x synth
    (8-file scans) l60 stays ahead (14.0-14.7 vs 15.2-16.3 s across two
    alternating windows)."""
    if not pre_clustered:
        items_in = fanout_by(items_in, "doc_id")
        items_ex = fanout_by(items_ex, "doc_id")
    persisted = []
    if stats is None:
        items_in = items_in.persist()
        items_ex = items_ex.persist()
        persisted = [items_in, items_ex]
        n_items = items_in.count() + items_ex.count()
        vocab_rows = (
            items_in.select("item")
            .unionAll(items_ex.select("item"))
            .distinct()
            .limit(max_bitmask_vocab + 1)
            .collect()
        )
        vocab = (
            sorted(r["item"] for r in vocab_rows)
            if len(vocab_rows) <= max_bitmask_vocab
            else None
        )
        n_in_docs = None
    else:
        n_items = stats["n_items"]
        vocab = stats.get("vocab")
        n_in_docs = stats.get("n_in_docs")
        if vocab is not None and len(vocab) > max_bitmask_vocab:
            vocab = None
        # Round 14 (guide §1): coverage of a caller-supplied vocab is now
        # enforced IN-PLAN by _cross_bitmask's guarded dictionary join
        # (coalesce(vid, raise_error)) instead of an eager
        # _validate_vocab_covers pre-pass.  The pre-pass was a FULL extra
        # shred of both gram streams per run — measured as the dominant
        # build cost of l60/l60b (~1.2 s of l60's ~2.3 s total at sf0.1);
        # the in-plan guard gives the identical guarantee (an uncovered
        # item can never silently phantom-intersect — the query REFUSES
        # to evaluate it, now at first execution instead of at build)
        # for the cost of a per-row null check.

    if vocab is not None:
        # broadcast guard: the incoming mask table (one row per batch doc,
        # ~8 B/word + row overhead) must be broadcastable
        n_words = (len(vocab) + 63) // 64
        if n_in_docs is None:
            if stats is not None:
                # stats callers exist to SKIP probe jobs; this fallback
                # re-scans the (unpersisted) incoming lineage — pass
                # "n_in_docs" in stats to avoid it
                import warnings

                warnings.warn(
                    "jaccard_pairs_cross: stats supplied without 'n_in_docs'; "
                    "counting incoming docs with a full scan of the "
                    "unpersisted input lineage (the probe-skip you paid for "
                    "stats to avoid)",
                    stacklevel=2,
                )
            n_in_docs = items_in.select("doc_id").distinct().count()
        if n_in_docs * (n_words * 8 + 48) > _BITMASK_BROADCAST_CAP:
            vocab = None

    if vocab is not None:
        out = _cross_bitmask(items_in, items_ex, threshold_pct, vocab)
    elif threshold_pct > 0 and n_items >= prefix_min_items:
        out = _cross_prefix(items_in, items_ex, threshold_pct)
    else:
        out = _cross_index(items_in, items_ex, threshold_pct)
    if persisted:
        out = out.localCheckpoint(eager=True)
        for p in persisted:
            p.unpersist()
    return out


def _cross_bitmask(
    items_in: DataFrame, items_ex: DataFrame, threshold_pct: int, vocab: list
) -> DataFrame:
    """Bounded-vocab strategy: packed-long masks, broadcast incoming side.

    Item -> bit-position lookup is a broadcast hash join against the
    |vocab|-row dictionary, NOT ``array_position`` over a literal array —
    the literal form is a linear scan per item (O(|vocab|) string
    compares), which at the 4096-gram ceiling would cost more than the
    mask compare it feeds; the hash join is O(1) per item at any vocab
    size within the regime."""
    n_words = (len(vocab) + 63) // 64
    # LEFT join + guarded vid (shared _guarded_masks, round 15 — the
    # round-14 in-plan guard factored out once the within form adopted
    # it): an item missing from the dictionary must never encode to a
    # phantom bit, and needs no separate validation pass; an uncovered
    # vocab fails loudly at first evaluation, a NULL item is named
    # "<null>" in the raise (ADVICE r14).
    a = _guarded_masks(items_in, vocab, "jaccard_pairs_cross").alias(
        "a"
    )  # incoming: the broadcast side
    b = _guarded_masks(items_ex, vocab, "jaccard_pairs_cross").alias("b")
    inter = sum(
        (
            F.bit_count(F.col(f"a.m{j}").bitwiseAND(F.col(f"b.m{j}"))).cast("long")
            for j in range(n_words)
        ),
        start=F.lit(0).cast("long"),
    )
    # Single-occurrence filter-first form — see _jaccard_pairs_bitmask for
    # the CollapseProject re-inlining analysis (the round-6 687 s -> ~100 s
    # fix on the 625M-pair synth corner applies identically here).
    sz_sum = F.col("a.sz") + F.col("b.sz")
    keep = (
        ((100 + threshold_pct) * inter >= threshold_pct * sz_sum)
        if threshold_pct >= 1
        else (inter >= 1)
    )
    return (
        b.join(F.broadcast(a), F.lit(True))
        .filter(keep)
        .select(
            F.col("a.doc_id").alias("doc_in"),
            F.col("b.doc_id").alias("doc_ex"),
            inter.alias("inter"),
            (sz_sum - inter).alias("uni"),
        )
        .select(
            "doc_in", "doc_ex", "inter", "uni",
            (F.col("inter") / F.col("uni")).alias("jaccard"),
        )
    )


def _cross_index(
    items_in: DataFrame, items_ex: DataFrame, threshold_pct: int
) -> DataFrame:
    """Plain cross inverted-index join: |I| from the item join, |U| from
    per-side sizes (broadcast — doc-count-sized)."""
    si = items_in.groupBy("doc_id").agg(F.count("*").alias("sz_in"))
    sx = items_ex.groupBy("doc_id").agg(F.count("*").alias("sz_ex"))
    inter = (
        items_in.withColumnRenamed("doc_id", "doc_in")
        .join(items_ex.withColumnRenamed("doc_id", "doc_ex"), "item")
        .groupBy("doc_in", "doc_ex")
        .agg(F.count("*").alias("inter"))
    )
    uni = F.col("sz_in") + F.col("sz_ex") - F.col("inter")
    return (
        inter.join(F.broadcast(si.withColumnRenamed("doc_id", "doc_in")), "doc_in")
        .join(F.broadcast(sx.withColumnRenamed("doc_id", "doc_ex")), "doc_ex")
        .filter(100 * F.col("inter") >= threshold_pct * uni)
        .select(
            "doc_in",
            "doc_ex",
            "inter",
            uni.cast("long").alias("uni"),
            (F.col("inter") / uni).alias("jaccard"),
        )
    )


def _cross_prefix(
    items_in: DataFrame, items_ex: DataFrame, threshold_pct: int
) -> DataFrame:
    """Prefix-filtered cross join (SSJoin/ppjoin theorem under one global
    union-frequency order); lossless for >= t pairs, survivors verify
    against full item arrays."""
    from pyspark.sql import Window

    freq = (
        items_in.select("item")
        .unionAll(items_ex.select("item"))
        .groupBy("item")
        .agg(F.count("*").alias("_freq"))
    )

    def prefix_of(items):
        w_doc = Window.partitionBy("doc_id").orderBy(
            F.col("_freq").asc(), F.col("item").asc()
        )
        ranked = items.join(F.broadcast(freq), "item").select(
            "doc_id",
            "item",
            F.row_number().over(w_doc).alias("_rn"),
            F.count("*").over(Window.partitionBy("doc_id")).alias("_sz"),
        )
        plen = F.col("_sz") - F.ceil(F.col("_sz") * threshold_pct / 100) + 1
        return ranked.filter(F.col("_rn") <= plen).select("doc_id", "item")

    cand = (
        prefix_of(items_in)
        .withColumnRenamed("doc_id", "doc_in")
        .join(prefix_of(items_ex).withColumnRenamed("doc_id", "doc_ex"), "item")
        .select("doc_in", "doc_ex")
        .distinct()
    )
    sets_in = items_in.groupBy("doc_id").agg(F.collect_list("item").alias("toks_in"))
    sets_ex = items_ex.groupBy("doc_id").agg(F.collect_list("item").alias("toks_ex"))
    inter = F.size(F.array_intersect("toks_in", "toks_ex"))
    uni = F.size("toks_in") + F.size("toks_ex") - inter
    return (
        cand.join(sets_in.withColumnRenamed("doc_id", "doc_in"), "doc_in")
        .join(sets_ex.withColumnRenamed("doc_id", "doc_ex"), "doc_ex")
        .select(
            "doc_in",
            "doc_ex",
            inter.cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
        )
        .filter(
            (F.col("inter") >= 1)
            & (100 * F.col("inter") >= threshold_pct * F.col("uni"))
        )
        .withColumn("jaccard", F.col("inter") / F.col("uni"))
    )


def exact_substr_spans(
    docs: DataFrame,
    min_len: int = 30,
    hashed: bool = False,
    a_residue: tuple[int, int] | None = None,
) -> DataFrame:
    """Cross-document exact-substring spans (the ExactSubstr protocol of
    Lee et al. 2022): (doc_a, doc_b, shared_windows, max_run) for every
    pair sharing a verbatim run of >= ``min_len`` chars.

    Sliding ``min_len``-char windows are a doc-local array transform; one
    equi-join on the window finds cross-doc matches; matches on one
    (pair, pa-pb) diagonal with consecutive pa are one verbatim run
    (islands trick: ``pa - row_number()`` constant per run).

    ``hashed=False`` (l61): the join key is the raw L-char window —
    exactly SQL-twinnable, right at bench scale, but the shuffle carries
    ~L bytes per corpus character.

    ``hashed=True`` (l61b, the 100-TB path): the window stream shuffles
    only ``xxhash64(win)`` — an 8-byte key regardless of L, shrinking the
    uncompressed shuffle/sort row ~(L+20)/20x (~2.5x at L=30; on-wire
    1.36x after lz4, which compresses overlapping window text far better
    than hashes — measured at sf0.1, BASELINE.md) and turning the join
    comparator into a single long compare — then candidate pairs
    re-verify on the RAW span by
    equi-joining (doc_id -> text) on each side and comparing
    ``substring(text, p, L)``.  Candidates are bounded by true matches
    plus ~|corpus windows|^2 / 2^64 hash collisions (~0 below exabyte
    scale), so the re-verify joins probe a tiny build side against the
    doc scan (AQE broadcasts it); output is IDENTICAL to the raw-key
    path on any input, collisions included, because verification is
    exact.

    ``a_residue=(mod, res)`` restricts the LOWER-id side of each pair
    (the join's ``a`` stream) to ``doc_id % mod == res`` — the 10x
    slice-audit hook (VERDICT r11 item #3, the l60b recipe applied to
    this family): the b side — full-corpus candidate generation, the
    scale risk — stays whole, while the naive SQL oracle's window
    self-join intermediate divides by ``mod``.

    Round-15 measured REJECTION (VERDICT r14 item #5, guide §3.2): a
    broadcast LEFT-SEMI pre-filter of the b stream against the a-slice's
    distinct keys (prune ~(mod-1)/mod of b before its exchange) was
    A/B'd on both slice twins at sf0.1 AND the 10x synth and LOST both:
    l61d 1.00 -> 1.38/1.52 s at sf0.1, 1.91 -> 2.70/2.62 s at 10x; l61c
    1.05 -> 1.48/1.80 and 3.23 -> 3.69/3.72 (ABA-bracketed 5/3-rep
    medians).  The distinct+broadcast build plus a per-row probe over
    the full b stream costs more than the pruned exchange saves — the
    hashed variant's exchange rows are already only ~24 B, and the
    Spark 4 automatic runtime Bloom filter correctly declines to fire
    here (no selective scan-side filter on the creation side).  Keep
    the plain join."""
    from pyspark.sql import Window

    L = min_len
    eligible = docs.filter(F.length("text") >= L)

    def a_side(stream):
        if a_residue is None:
            return stream
        mod, res = a_residue
        return stream.filter(F.col("doc_id") % mod == res)
    win_struct = F.explode(
        F.expr(
            f"transform(sequence(1, length(text) - {L - 1}), "
            f"p -> struct(p AS p, substring(text, p, {L}) AS win))"
        )
    ).alias("e")
    w = fanout(eligible).select("doc_id", win_struct).select(
        "doc_id", F.col("e.p").alias("p"), F.col("e.win").alias("win")
    )
    if hashed:
        # shuffle only the 8-byte hash; the raw window never leaves its
        # map task
        # Round-14 measured non-change: eagerly checkpointing ``wh`` (so
        # the self-join's two references share one generation pass) was
        # A/B'd at sf0.1 and REJECTED — the window stream is ~L x corpus
        # bytes, and materializing it costs more than regenerating it
        # (substring + xxhash64 are cheap per row): l61b 1.94 -> 1.74 s
        # but the sliced twin l61d 0.88 -> 1.46 s, because the slice
        # only ever generates 1/mod of the a side while a checkpoint
        # pays for ALL of it.  The double generation is the cheaper arm
        # at every scale that matters.
        wh = w.select("doc_id", "p", F.xxhash64("win").alias("h"))
        a, b = a_side(wh).alias("a"), wh.alias("b")
        cand = a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            F.col("b.p").alias("pb"),
        )
        ta = eligible.select(
            F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta")
        )
        tb = eligible.select(
            F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb")
        )
        m = (
            cand.join(ta, "doc_a")
            .join(tb, "doc_b")
            .filter(
                F.expr(f"substring(_ta, pa, {L}) = substring(_tb, pb, {L})")
            )
            .select(
                "doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag")
            )
        )
    else:
        a, b = a_side(w).alias("a"), w.alias("b")
        m = a.join(
            b,
            (F.col("a.win") == F.col("b.win"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.p").alias("pa"),
            (F.col("a.p") - F.col("b.p")).alias("diag"),
        )
    wnd = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    return (
        m.withColumn("isl", F.col("pa") - F.row_number().over(wnd))
        .groupBy("doc_a", "doc_b", "diag", "isl")
        .agg(
            F.count("*").alias("n_win"),
            (F.max("pa") - F.min("pa") + L).alias("run_len"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum("n_win").cast("long").alias("shared_windows"),
            F.max("run_len").cast("long").alias("max_run"),
        )
    )
