"""§2.13 round-4 corpus-pipeline operators (l50-l57): Bloom-filter dedup
pre-screening, BPE merge statistics, temperature-scaled mixture weights,
multi-n decontamination, sequence-length census, near-dup pair token-F1,
bigram-LM scoring, and tokenizer fertility — the remaining operations a
large-scale training-data pipeline runs that rounds 1-3 didn't cover.

All eight are O-tier: every query pairs with an inline DuckDB oracle over
the same parquet, every computed column is aliased identically in both
formulations, and every float aggregate is either an exact-integer division
or a decimal(38,9)-accumulated sum (the determinism contract from l34/l46).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import fanout, fanout_by
from google_analytics_dataframes_spark.queries._util import T
from google_analytics_dataframes_spark.registry import register

# ------------------------------------------------------------------ helpers

#: Bloom parameters for l50: m = 2^18 bit positions, k = 4 hashes carved
#: from non-overlapping 8-hex-digit slices of one md5 — identical in both
#: engines (md5 is bit-stable; the slices are independent enough for a
#: demonstration filter and keep the oracle a pure string expression).
_BLOOM_M = 262_144
_BLOOM_K = 4


def _bloom_positions(col):
    """Array of k bit positions for a text column (Spark side)."""
    md5 = F.md5(col)
    return F.array(
        *[
            (F.conv(F.substring(md5, 1 + 8 * i, 8), 16, 10).cast("long") % _BLOOM_M)
            for i in range(_BLOOM_K)
        ]
    )


def _bloom_positions_sql(expr: str) -> str:
    slices = ", ".join(
        f"try_cast(concat('0x', substr(md5({expr}), {1 + 8 * i}, 8)) AS BIGINT)"
        f" % {_BLOOM_M}"
        for i in range(_BLOOM_K)
    )
    return f"[{slices}]"


# ------------------------------------------------------------------- l50 ---


@register(
    "l50_bloom_dedup",
    oracle=f"""
    WITH seen AS (SELECT DISTINCT text FROM documents WHERE source = 'src0'),
    bits AS (SELECT DISTINCT unnest({_bloom_positions_sql('text')}) AS pos
             FROM seen),
    cand AS (SELECT doc_id, text, {_bloom_positions_sql('text')} AS ps
             FROM documents WHERE source != 'src0'),
    cp AS (SELECT doc_id, text, unnest(ps) AS pos FROM cand),
    hitc AS (SELECT cp.doc_id,
                    SUM(CASE WHEN bits.pos IS NOT NULL THEN 1 ELSE 0 END) AS nhit
             FROM cp LEFT JOIN bits USING (pos) GROUP BY cp.doc_id),
    ex AS (SELECT c.doc_id,
                  CASE WHEN s.text IS NOT NULL THEN 1 ELSE 0 END AS exact_seen
           FROM cand c LEFT JOIN seen s USING (text))
    SELECT h.doc_id,
           CASE WHEN h.nhit = {_BLOOM_K} THEN 1 ELSE 0 END AS bloom_maybe_seen,
           e.exact_seen,
           CASE WHEN h.nhit = {_BLOOM_K} AND e.exact_seen = 0
                THEN 1 ELSE 0 END AS false_positive
    FROM hitc h JOIN ex e USING (doc_id)
    """,
)
def l50_bloom_dedup(spark, sf_dir):
    """Bloom-filter membership pre-screen for cross-corpus dedup: has this
    incoming document's text PROBABLY been seen in the reference slice
    (source='src0')?  The standard cheap first pass before exact/near dedup
    in an incremental ingest — false positives go to the expensive check,
    true negatives (the vast majority) skip it.

    Spark-first shape: the filter's set bits ARE a relation — distinct
    (position) rows from the seen slice, bounded by m = 2^18 regardless of
    corpus size — so membership is a broadcast LEFT join on position and a
    per-doc count(k hits), never a driver-side bitmap.  At 100 TB the seen
    side reduces to <= m rows before the broadcast (the classic build-side
    reduction), the candidate side streams map-only, and the same plan
    shape holds with the bit-set swapped for Spark's native
    BloomFilterAggregate when oracle parity isn't needed.  Exactness of
    the false_positive column is audited against a true exact-match join —
    the output is the calibration table for choosing m and k."""
    docs = T(spark, sf_dir, "documents")
    seen = docs.filter(F.col("source") == "src0").select("text").distinct()
    bits = (
        seen.select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = docs.filter(F.col("source") != "src0").select(
        "doc_id", "text", _bloom_positions(F.col("text")).alias("ps")
    )
    hitc = (
        cand.select("doc_id", F.explode("ps").alias("pos"))
        .join(F.broadcast(bits), "pos", "left")
        .groupBy("doc_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("nhit"))
    )
    ex = cand.join(
        F.broadcast(seen.withColumn("seen", F.lit(1))), "text", "left"
    ).select("doc_id", F.coalesce(F.col("seen"), F.lit(0)).alias("exact_seen"))
    maybe = (F.col("nhit") == _BLOOM_K).cast("int")
    return (
        hitc.join(ex, "doc_id")
        .select(
            "doc_id",
            maybe.alias("bloom_maybe_seen"),
            "exact_seen",
            (maybe.cast("boolean") & (F.col("exact_seen") == 0))
            .cast("int")
            .alias("false_positive"),
        )
    )


# ------------------------------------------------------------------- l51 ---


@register(
    "l51_bpe_pair_counts",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    p AS (SELECT a[i] AS w1, a[i + 1] AS w2
          FROM t, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) u),
    c AS (SELECT w1, w2, COUNT(*) AS pair_count FROM p GROUP BY w1, w2)
    SELECT w1, w2, pair_count FROM c
    ORDER BY pair_count DESC, w1, w2 LIMIT 30
    """,
)
def l51_bpe_pair_counts(spark, sf_dir):
    """The inner statistic of BPE vocabulary construction: corpus-wide
    adjacent-pair frequencies, top 30 — each BPE merge step picks exactly
    this argmax, so this query IS one iteration of the merge loop (the
    loop itself re-runs it on re-segmented text; the heavy lifting per
    iteration is unchanged).

    Scale shape: the pair stream is generated doc-locally (transform over
    the split array — no self-join on position), partial aggregation
    compresses each partition to <= |pair vocab| rows before the single
    shuffle, and the global top-30 is a TakeOrdered over the counted
    frame, not a full sort.  Deterministic total order: count DESC then
    (w1, w2) lexicographic."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = F.expr(
        "CASE WHEN size(a) >= 2 THEN transform(sequence(0, size(a) - 2), "
        "i -> struct(a[i] AS w1, a[i + 1] AS w2)) ELSE array() END"
    )
    return (
        fanout(docs)
        .select(F.split("text", " ").alias("a"))
        .select(F.explode(pairs).alias("p"))
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "w1", "w2")
        .limit(30)
    )


# ------------------------------------------------------------------- l52 ---


@register(
    "l52_temperature_mixture",
    oracle="""
    WITH s AS (SELECT source, COUNT(*) AS n_docs,
                      SUM(len(string_split(text, ' '))) AS n_tokens
               FROM documents GROUP BY source),
    w AS (SELECT *, SUM(n_tokens) OVER () AS tot,
                 SUM(sqrt(n_tokens)) OVER () AS tot_sq
          FROM s)
    SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(n_tokens / CAST(tot AS DOUBLE), 6) AS nat_share,
           round(sqrt(n_tokens) / tot_sq, 6) AS temp_share,
           round((sqrt(n_tokens) / tot_sq) / (n_tokens / CAST(tot AS DOUBLE)), 6)
             AS upsample_factor
    FROM w
    """,
)
def l52_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture weights over sources (the alpha=0.5
    sampling rule multilingual/multi-domain training mixes use — scaling
    p_s proportional to p_s^alpha upweights small sources): per source,
    natural token share, temperature share, and the resulting upsample
    factor the sampler (l23) applies.

    Scale shape: one exchange-free per-source aggregate (sum of doc-local
    token counts — the token stream is never exploded), then window
    normalization over the |sources|-row frame (the vocab-sized-window
    exception from l37/l46).  sqrt, not pow(x, 0.5): sqrt is a correctly-
    rounded IEEE-754 primitive so both engines produce identical bits,
    while pow is libm-dependent."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy()  # |sources| rows
    tot = F.sum("n_tokens").over(w)
    tot_sq = F.sum(F.sqrt(F.col("n_tokens"))).over(w)
    nat = F.col("n_tokens") / tot.cast("double")
    temp = F.sqrt(F.col("n_tokens")) / tot_sq
    return s.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(nat, 6).alias("nat_share"),
        F.round(temp, 6).alias("temp_share"),
        F.round(temp / nat, 6).alias("upsample_factor"),
    )


# ------------------------------------------------------------------- l53 ---


@register(
    "l53_decontam_multi_n",
    oracle="""
    WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS a
               FROM documents),
    p5 AS (SELECT doc_id, source, a, unnest(range(1, len(a) - 3)) AS i
           FROM t WHERE len(a) >= 5),
    p9 AS (SELECT doc_id, source, a, unnest(range(1, len(a) - 7)) AS i
           FROM t WHERE len(a) >= 9),
    sh AS (SELECT doc_id, source, 5 AS n, array_to_string(a[i:i+4], ' ') AS s
           FROM p5
           UNION ALL
           SELECT doc_id, source, 9 AS n, array_to_string(a[i:i+8], ' ') AS s
           FROM p9),
    ev AS (SELECT DISTINCT n, s FROM sh WHERE source = 'src2'),
    tr AS (SELECT doc_id, n, s FROM sh WHERE source != 'src2')
    SELECT tr.doc_id, tr.n, CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit,
           round(CAST(SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT)
                   / CAST(COUNT(*) AS DOUBLE), 6) AS hit_frac
    FROM tr LEFT JOIN ev USING (n, s)
    GROUP BY tr.doc_id, tr.n
    """,
)
def l53_decontam_multi_n(spark, sf_dir):
    """Multi-n decontamination audit (the n-gram-overlap protocol of GPT-3
    appx. C / PaLM: flag train docs sharing long n-grams with the eval
    set, at MULTIPLE n simultaneously): for every non-eval document and
    each n in {5, 9}, the count and fraction of its word n-gram
    occurrences that appear anywhere in the eval slice (source='src2').
    Two n values in one pass distinguishes borderline paraphrase overlap
    (short n) from verbatim contamination (long n); l30 applies the
    drop, this emits the evidence table.

    Oracle form (round 5): shingling is stated as the l42-driver-proven
    ``unnest(range(...))`` -> ``a[i:i+k-1]`` slice pattern, not LATERAL
    ``generate_series`` — the LATERAL formulation was unique to this
    query among swept oracles when its r04 hash failed (dg2 probes the
    LATERAL form in isolation), and integer SUM outputs are BIGINT-cast
    so no HUGEINT reaches the compare.

    Scale shape: shingles are doc-local array transforms (no position
    self-join); both n-variants come out of ONE Generate — per row the
    5- and 9-shingle arrays are built, tagged with their n in a struct,
    concatenated, and exploded together — so the corpus is scanned and
    shuffled (fanout_by doc_id) exactly once and the per-doc rollup is
    exchange-free (a union-of-branches formulation was tried first:
    Catalyst expands each branch into its own scan of the base).  The
    eval shingle set reduces to distinct (n, s) BEFORE broadcasting —
    build-side reduction ahead of the join, never eval-side explode
    against the full train stream."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    base = fanout_by(docs, "doc_id").select(
        "doc_id", "source", F.split("text", " ").alias("a")
    )
    tagged = "concat(" + ", ".join(
        f"transform(CASE WHEN size(a) >= {k} THEN "
        f"transform(sequence(0, size(a) - {k}), "
        f"i -> array_join(slice(a, i + 1, {k}), ' ')) "
        f"ELSE array() END, s -> struct({k} AS n, s AS s))"
        for k in (5, 9)
    ) + ")"
    sh = base.select(
        "doc_id", "source", F.explode(F.expr(tagged)).alias("e")
    ).select("doc_id", "source", "e.n", "e.s")
    ev = (
        sh.filter(F.col("source") == "src2")
        .select("n", "s")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = sh.filter(F.col("source") != "src2")
    hits = F.sum(F.coalesce(F.col("hit"), F.lit(0)))
    return (
        tr.join(F.broadcast(ev), ["n", "s"], "left")
        .groupBy("doc_id", "n")
        .agg(
            F.count("*").alias("n_shingles"),
            hits.alias("n_hit"),
            F.round(hits / F.count("*").cast("double"), 6).alias("hit_frac"),
        )
    )


# ------------------------------------------------------------------- l54 ---


@register(
    "l54_seqlen_histogram",
    oracle="""
    WITH n AS (SELECT len(string_split(text, ' ')) AS n_tokens FROM documents),
    b AS (SELECT CAST(power(2, length(bin(n_tokens)) - 1) AS BIGINT)
                   AS bucket_lo,
                 n_tokens
          FROM n),
    h AS (SELECT bucket_lo, COUNT(*) AS n_docs,
                 CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
          FROM b GROUP BY bucket_lo)
    SELECT bucket_lo, n_docs, total_tokens,
           round(SUM(n_docs) OVER (ORDER BY bucket_lo)
                   / CAST(SUM(n_docs) OVER () AS DOUBLE), 6) AS cum_doc_frac
    FROM h
    """,
)
def l54_seqlen_histogram(spark, sf_dir):
    """Sequence-length census in power-of-two buckets with cumulative doc
    fraction — the input every packing planner (l27) and max-seq-len
    decision reads: how much of the corpus fits at 2^k context without
    truncation.

    Scale shape: bucketing is a doc-local bit-length expression —
    floor-log2 via length(bin(n)) on integers, NEVER floor(log2(x)) on
    doubles, whose libm rounding at exact powers of two can put a
    boundary doc in the wrong bucket per engine.  One exchange-free
    partial agg to <= ~20 histogram rows, then the cumulative window runs
    on that metadata-sized frame (l37's documented exception)."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    bucket = F.pow(F.lit(2), F.length(F.bin(n.cast("long"))) - 1).cast("long")
    h = (
        docs.select(bucket.alias("bucket_lo"), n.cast("long").alias("n_tokens"))
        .groupBy("bucket_lo")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )
    w_all = Window.partitionBy()  # histogram-sized frame
    w_cum = w_all.orderBy("bucket_lo").rowsBetween(Window.unboundedPreceding, 0)
    return h.select(
        "bucket_lo",
        "n_docs",
        "total_tokens",
        F.round(
            F.sum("n_docs").over(w_cum) / F.sum("n_docs").over(w_all).cast("double"),
            6,
        ).alias("cum_doc_frac"),
    )


# ------------------------------------------------------------------- l55 ---


@register(
    "l55_pair_token_f1",
    oracle="""
    WITH docs5 AS (SELECT doc_id, text FROM documents WHERE source = 'src5'),
    pos AS (SELECT doc_id, text,
                   unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
            FROM docs5),
    grams AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
              FROM pos),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM grams GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
              FROM grams a JOIN grams b
                ON a.gram = b.gram AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT i.doc_a, i.doc_b
              FROM inter i
              JOIN sizes sa ON sa.doc_id = i.doc_a
              JOIN sizes sb ON sb.doc_id = i.doc_b
              WHERE 100 * i.inter >= 60 * (sa.sz + sb.sz - i.inter)),
    tc AS (SELECT doc_id, token, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM docs5)
           GROUP BY doc_id, token),
    tn AS (SELECT doc_id, SUM(c) AS n FROM tc GROUP BY doc_id),
    ov AS (SELECT p.doc_a, p.doc_b, SUM(LEAST(ta.c, tb.c)) AS overlap
           FROM pairs p
           JOIN tc ta ON ta.doc_id = p.doc_a
           JOIN tc tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
           GROUP BY p.doc_a, p.doc_b)
    SELECT o.doc_a, o.doc_b, CAST(o.overlap AS BIGINT) AS overlap,
           round(o.overlap / CAST(nb.n AS DOUBLE), 6) AS precision_b,
           round(o.overlap / CAST(na.n AS DOUBLE), 6) AS recall_a,
           round(2.0 * o.overlap / CAST(na.n + nb.n AS DOUBLE), 6) AS token_f1
    FROM ov o
    JOIN tn na ON na.doc_id = o.doc_a
    JOIN tn nb ON nb.doc_id = o.doc_b
    """,
)
def l55_pair_token_f1(spark, sf_dir):
    """Token-multiset F1 for every near-dup candidate pair — the second-
    stage verifier dedup cascades run AFTER candidate generation (l12's
    3-gram Jaccard >= 60% pairs on the src5 slice): character-shingle
    similarity proposes, token-level F1 (the summarization-style overlap
    metric; 2*overlap/(|A|+|B|) on token multisets) confirms or rejects.
    Multiset overlap = sum over shared tokens of min(count_a, count_b).

    Scale shape: the pair list comes from the SESSION-MATERIALIZED src5
    chain (one gram->pairs computation per session, shared with
    l12/l29/l33/l44 — never recomputed here), and candidate pairs are by
    construction orders of magnitude fewer than docs, so the pair frame
    broadcasts onto the per-(doc, token) count table twice (a-side, then
    b-side on (doc, token)); every ratio is exact-integer counts divided
    as doubles.  Never an all-pairs token join — the candidate set gates
    everything."""
    from google_analytics_dataframes_spark.queries.llm_ops import _src5_pairs

    docs5 = (
        T(spark, sf_dir, "documents")
        .filter(F.col("source") == "src5")
        .select("doc_id", "text")
    )
    tc = (
        fanout_by(docs5, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    tn = tc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    pairs = _src5_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ta = tc.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("c").alias("cb")
    )
    ov = (
        ta.join(F.broadcast(pairs), "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("overlap"))
    )
    na = tn.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = tn.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        ov.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "overlap",
            F.round(F.col("overlap") / F.col("nb").cast("double"), 6).alias(
                "precision_b"
            ),
            F.round(F.col("overlap") / F.col("na").cast("double"), 6).alias(
                "recall_a"
            ),
            F.round(
                F.lit(2.0) * F.col("overlap")
                / (F.col("na") + F.col("nb")).cast("double"),
                6,
            ).alias("token_f1"),
        )
    )


# ------------------------------------------------------------------- l56 ---


@register(
    "l56_bigram_logprob",
    oracle="""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
    bi AS (SELECT doc_id, a[i] AS w1, a[i + 1] AS w2
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(a) - 1)) AS i) u),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bi GROUP BY w1, w2),
    uni AS (SELECT token, COUNT(*) AS c1
            FROM (SELECT unnest(string_split(text, ' ')) AS token
                  FROM documents)
            GROUP BY token),
    vv AS (SELECT COUNT(*) AS v FROM uni)
    SELECT bi.doc_id, COUNT(*) AS n_bigrams,
           round(CAST(SUM(CAST(ln((c12.c12 + 1) / CAST(uni.c1 + vv.v AS DOUBLE))
                               AS DECIMAL(38,9))) AS DOUBLE) / COUNT(*), 6)
             AS avg_bigram_logprob
    FROM bi
    JOIN c12 USING (w1, w2)
    JOIN uni ON uni.token = bi.w1
    CROSS JOIN vv
    GROUP BY bi.doc_id
    """,
)
def l56_bigram_logprob(spark, sf_dir):
    """Bigram-LM perplexity proxy — l34's unigram score upgraded one order:
    per document, mean ln p(w2|w1) under the corpus's own add-1-smoothed
    bigram model (p = (c(w1,w2)+1)/(c(w1)+|V|)).  Bigram perplexity
    separates shuffled-word gibberish from fluent text, which unigram
    scoring cannot (identical unigram histograms score identically on
    l34).

    Scale shape — deliberately the NON-broadcast LM join: the bigram
    count table grows toward |V|^2 and at 100 TB does not fit a broadcast,
    so the doc bigram stream joins it on (w1, w2) declaratively — at
    bench SF Catalyst/AQE picks BHJ from size stats, at scale the same
    plan resolves to a shuffled join with map-side-combined build input;
    nothing in the query pins the strategy.  The unigram table and the
    |V| scalar reuse l46's economy (window over the vocab-sized frame —
    no second corpus scan).  Per-doc mean is decimal-accumulated (l34's
    order-independence contract).  Docs under 2 tokens have no bigrams
    and drop out in both engines."""
    from pyspark.sql import Window

    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = F.expr(
        "CASE WHEN size(a) >= 2 THEN transform(sequence(0, size(a) - 2), "
        "i -> struct(a[i] AS w1, a[i + 1] AS w2)) ELSE array() END"
    )
    bi = (
        fanout_by(docs, "doc_id")
        .select("doc_id", F.split("text", " ").alias("a"))
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", "p.w1", "p.w2")
    )
    c12 = (
        fanout(docs)
        .select(F.split("text", " ").alias("a"))
        .select(F.explode(pairs).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count("*").alias("c12"))
    )
    w_all = Window.partitionBy()  # vocab-sized frame
    uni = (
        fanout(docs)
        .select(F.explode(F.split("text", " ")).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c1"))
        .withColumn("v", F.count("*").over(w_all).cast("long"))
    )
    lp = F.log(
        (F.col("c12") + 1) / (F.col("c1") + F.col("v")).cast("double")
    )
    return (
        bi.join(c12, ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(lp.cast("decimal(38,9)")).cast("double") / F.count("*"),
                6,
            ).alias("avg_bigram_logprob"),
        )
    )


# ------------------------------------------------------------------- l57 ---


@register(
    "l57_token_fertility",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(SUM(len(regexp_extract_all(text,
                        '[a-z]{1,4}|[0-9]|[^a-z0-9 ]'))) AS BIGINT)
             AS bpe_tokens,
           round(SUM(len(regexp_extract_all(text,
                         '[a-z]{1,4}|[0-9]|[^a-z0-9 ]')))
                   / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 6)
             AS fertility,
           round(SUM(n_chars)
                   / CAST(SUM(len(regexp_extract_all(text,
                              '[a-z]{1,4}|[0-9]|[^a-z0-9 ]'))) AS DOUBLE), 6)
             AS chars_per_token
    FROM documents GROUP BY lang
    """,
)
def l57_token_fertility(spark, sf_dir):
    """Tokenizer fertility audit per language — the table a tokenizer
    review reads before committing a vocab: subword tokens per whitespace
    word (fertility; high values flag languages the vocab serves badly
    and inflate training cost per content-word) and characters per
    subword token (compression), using l17's BPE-ish segmenter
    ([a-z]{1,4} runs, digits, punctuation — identical regex semantics in
    Spark's Java regex and DuckDB's RE2 for this pattern class).

    Scale shape: pure doc-local regexp_count/size expressions folded by
    ONE partial agg to |langs| rows — no explode, no token materialized;
    ratios are exact-integer sums divided as doubles (IEEE-deterministic
    both engines)."""
    docs = T(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit("[a-z]{1,4}|[0-9]|[^a-z0-9 ]"))
    ws = F.size(F.split("text", " "))
    s_bpe = F.sum(bpe).cast("long")
    s_ws = F.sum(ws).cast("long")
    return fanout(docs).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        s_ws.alias("ws_tokens"),
        s_bpe.alias("bpe_tokens"),
        F.round(s_bpe / s_ws.cast("double"), 6).alias("fertility"),
        F.round(F.sum("n_chars") / s_bpe.cast("double"), 6).alias(
            "chars_per_token"
        ),
    )


# ------------------------------------------------------------------- l58 ---

_PQ_SUB = 4  # subspaces over the 64-d embeddings: 4 x 16 dims
_PQ_DIM = 16


def _pq_oracle() -> str:
    codes = ",\n           ".join(
        f"MAX(CASE WHEN j = {j} THEN cell END) AS code_{j}" for j in range(_PQ_SUB)
    )
    return f"""
    WITH cells AS (SELECT label, unnest(range(0, 64)) AS dim,
                          unnest(CAST(embedding AS DOUBLE[])) AS x
                   FROM embeddings),
    cent AS (SELECT label, dim,
                    CAST(CAST(SUM(CAST(x AS DECIMAL(30,15))) AS STRING) AS DOUBLE)
                    / COUNT(x) AS cx
             FROM cells GROUP BY label, dim),
    cvec AS (SELECT label, list(cx ORDER BY dim) AS centroid
             FROM cent GROUP BY label),
    e AS (SELECT vec_id, label AS true_label, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings),
    sub AS (SELECT e.vec_id, e.true_label, c.label AS cell, j.j,
                   list_dot_product(
                     list_transform(generate_series({_PQ_DIM} * j.j + 1,
                                                    {_PQ_DIM} * j.j + {_PQ_DIM}),
                                    i -> e.v[i] - c.centroid[i]),
                     list_transform(generate_series({_PQ_DIM} * j.j + 1,
                                                    {_PQ_DIM} * j.j + {_PQ_DIM}),
                                    i -> e.v[i] - c.centroid[i])) AS d
            FROM e CROSS JOIN cvec c
            CROSS JOIN (SELECT unnest(range(0, {_PQ_SUB})) AS j) j),
    best AS (SELECT vec_id, true_label, j, cell, d,
                    ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                       ORDER BY d, cell) AS rk
             FROM sub)
    SELECT vec_id, true_label,
           {codes},
           round(CAST(SUM(CAST(d AS DECIMAL(38,9))) AS DOUBLE), 6) AS recon_err
    FROM best WHERE rk = 1
    GROUP BY vec_id, true_label
    """


@register("l58_pq_codes", oracle=_pq_oracle())
def l58_pq_codes(spark, sf_dir):
    """Product-quantization encoding (Jegou et al. 2011 — the memory layout
    behind every large-scale ANN index): split each 64-d embedding into 4
    subspaces of 16 dims, assign each sub-vector to its nearest sub-
    codeword (here the label-centroid slices — exact-decimal means, so the
    codebook itself is engine-deterministic), emit the 4 codes plus the
    total squared reconstruction error.  Vectors compress 64 floats ->
    4 small codes; recon_err is the quality knob that picks codebook size.

    Scale shape — l47's zero-data-exchange fold, times four: the codebook
    aggregates to |labels| rows, packs into ONE broadcast row, and each
    subspace's argmin is a first-strictly-less sequential fold over the
    label-ascending codeword array (== the oracle's ORDER BY d, cell) —
    the corpus is scanned once, no shuffle until the (vec-count-sized but
    narrow) output.  L2 distances are sequential folds over zipped diffs,
    bit-identical to DuckDB's list_dot_product of the same slice; the
    4-term error sum is decimal-accumulated (a 4-row double SUM has
    nondeterministic order in SQL)."""
    from google_analytics_dataframes_spark.operators.similarity import (
        as_double,
        dot,
        label_centroids,
    )

    emb = T(spark, sf_dir, "embeddings")
    cents = label_centroids(emb)
    sub_cols = [
        F.slice("centroid", _PQ_DIM * j + 1, _PQ_DIM).alias(f"c{j}")
        for j in range(_PQ_SUB)
    ]
    cent_row = (
        cents.select(F.struct(F.col("label").alias("cell"), *sub_cols).alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    scored = emb.select(
        "vec_id",
        F.col("label").alias("true_label"),
        as_double("embedding").alias("v"),
    ).crossJoin(F.broadcast(cent_row))

    def best_for(j: int):
        sub_v = F.slice("v", _PQ_DIM * j + 1, _PQ_DIM)
        dists = F.transform(
            "cents",
            lambda c: F.struct(
                dot(
                    F.zip_with(sub_v, c.getField(f"c{j}"), lambda x, y: x - y),
                    F.zip_with(sub_v, c.getField(f"c{j}"), lambda x, y: x - y),
                ).alias("d"),
                c.getField("cell").alias("cell"),
            ),
        )
        init = F.struct(
            F.lit(float("inf")).alias("d"), F.lit(-1).cast("int").alias("cell")
        )
        return F.aggregate(
            dists,
            init,
            lambda acc, s: F.when(s.getField("d") < acc.getField("d"), s).otherwise(
                acc
            ),
        )

    bests = [best_for(j) for j in range(_PQ_SUB)]
    # decimal(20,9), NOT (38,9): Spark widens precision by one per chained
    # addition ((p,9)+(p,9) -> (p+1,9)) and at the 38 cap it REDUCES SCALE
    # instead — four chained (38,9) adds silently rounded the 9-decimal sum
    # to ~6 decimals and broke oracle equality.  (20,9) terms peak at
    # (24,9): scale intact, sum exact, identical to DuckDB's DECIMAL(38,9)
    # SUM of the same 9-decimal terms.
    err = sum(
        (b.getField("d").cast("decimal(20,9)") for b in bests),
        F.lit(0).cast("decimal(20,9)"),
    )
    return scored.select(
        "vec_id",
        "true_label",
        *[b.getField("cell").alias(f"code_{j}") for j, b in enumerate(bests)],
        F.round(err.cast("double"), 6).alias("recon_err"),
    )


# ------------------------------------------------------------------- l59 ---


@register(
    "l59_embed_norm_outliers",
    oracle="""
    WITH nr AS (SELECT vec_id, label,
                       CAST(list_sum(list_transform(
                                CAST(embedding AS DOUBLE[]),
                                x -> CAST(round(x * x * 1000000000.0) AS BIGINT)))
                            AS DOUBLE) / 1000000000.0 AS norm2
                FROM embeddings),
    st AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
                  CAST(SUM(CAST(norm2 AS DECIMAL(38,9))) AS DOUBLE) AS s,
                  CAST(SUM(CAST(norm2 * norm2 AS DECIMAL(38,9))) AS DOUBLE) AS q
           FROM nr GROUP BY label)
    SELECT nr.label, st.n AS n_vectors,
           round(st.s / st.n, 6) AS mean_norm2,
           round(sqrt(GREATEST(st.q / st.n - (st.s / st.n) * (st.s / st.n),
                               0.0)), 6) AS std_norm2,
           CAST(SUM(CASE WHEN abs(nr.norm2 - st.s / st.n)
                      > 3 * sqrt(GREATEST(st.q / st.n
                                          - (st.s / st.n) * (st.s / st.n), 0.0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM nr JOIN st USING (label)
    GROUP BY nr.label, st.n, st.s, st.q
    """,
)
def l59_embed_norm_outliers(spark, sf_dir):
    """Embedding hygiene audit: per label, squared-norm mean/std and the
    count of 3-sigma norm outliers — the cheap detector for broken
    encoder batches (zero vectors, fp16 overflows, unnormalized mixes)
    that silently poison cosine-based dedup and retrieval downstream.

    Determinism (the r04 hash failure, fixed round 5): squared norms are
    accumulated as integers — each element's x*x is quantized to 1e-9
    units (an identical, correctly-rounded double in both engines) and
    summed as BIGINT, which is associative, so ANY summation order gives
    the same norm2.  The prior formulation summed raw doubles (Spark
    sequential fold vs DuckDB list_dot_product, whose kernel order is a
    version detail), and near-unit-norm labels make std pure ulp noise —
    the 3-sigma compare then flips on the summation order.  With norm2
    bit-identical, every downstream moment/sqrt/compare is a pure
    function of equal inputs.  dg3 probes the raw-double dot in
    isolation.

    Scale shape: norms are doc-local folds; per-label moment sums are ONE
    partial-aggregated shuffle to |labels| rows, decimal-accumulated so
    mean/std are summation-order-independent; the stats frame broadcasts
    back onto the norm stream for the outlier compare, and the final
    rollup reuses the same label partitioning.  Two scans of the narrow
    norm projection — never a window buffering the full vector column."""
    from google_analytics_dataframes_spark.operators.similarity import as_double

    emb = T(spark, sf_dir, "embeddings")
    v = as_double("embedding")
    nano2 = F.aggregate(
        F.transform(v, lambda x: F.round(x * x * F.lit(1e9), 0).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    nr = emb.select(
        "vec_id", "label", (nano2.cast("double") / F.lit(1e9)).alias("norm2")
    )
    st = nr.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("norm2").cast("decimal(38,9)")).cast("double").alias("s"),
        F.sum((F.col("norm2") * F.col("norm2")).cast("decimal(38,9)"))
        .cast("double")
        .alias("q"),
    )
    mean = F.col("s") / F.col("n")
    std = F.sqrt(F.greatest(F.col("q") / F.col("n") - mean * mean, F.lit(0.0)))
    return (
        nr.join(F.broadcast(st), "label")
        .groupBy("label", "n", "s", "q")
        .agg(
            F.sum(
                F.when(F.abs(F.col("norm2") - mean) > 3 * std, 1).otherwise(0)
            ).alias("n_outliers")
        )
        .select(
            "label",
            F.col("n").alias("n_vectors"),
            F.round(mean, 6).alias("mean_norm2"),
            F.round(std, 6).alias("std_norm2"),
            "n_outliers",
        )
    )


# ------------------------------------------------------------------- l60 ---


@register(
    "l60_incremental_neardup",
    oracle="""
    WITH ex AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    inc AS (SELECT doc_id, text FROM documents WHERE length(source) = 5),
    gx AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM ex)),
    gi AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM inc)),
    sx AS (SELECT doc_id, COUNT(*) AS sz FROM gx GROUP BY doc_id),
    si AS (SELECT doc_id, COUNT(*) AS sz FROM gi GROUP BY doc_id),
    inter AS (SELECT gi.doc_id AS doc_in, gx.doc_id AS doc_ex,
                     COUNT(*) AS inter
              FROM gi JOIN gx USING (gram)
              GROUP BY gi.doc_id, gx.doc_id)
    SELECT i.doc_in, i.doc_ex, i.inter,
           CAST(a.sz + b.sz - i.inter AS BIGINT) AS uni,
           round(CAST(i.inter AS DOUBLE) / (a.sz + b.sz - i.inter), 6)
             AS jaccard
    FROM inter i
    JOIN si a ON a.doc_id = i.doc_in
    JOIN sx b ON b.doc_id = i.doc_ex
    WHERE 100 * i.inter >= 60 * (a.sz + b.sz - i.inter)
    """,
)
def l60_incremental_neardup(spark, sf_dir):
    """INCREMENTAL near-dup — the shape production ingest actually runs:
    an incoming batch (here sources src10-src19, length-5 names) checked
    against the existing corpus (src0-src9), emitting (incoming, existing)
    pairs at char-3-gram Jaccard >= 60%.  The asymmetry is the whole
    point: existing x existing pairs are NEVER formed (they were resolved
    when those docs were ingested), so per-batch work scales with
    |batch| x |collisions|, not |corpus|^2 — the property that makes
    continuous dedup of a growing 100 TB corpus affordable at all.

    Scale shape: both sides reduce to distinct doc-local 3-gram relations,
    then candidate generation goes through the ADAPTIVE cross pair-join
    (operators/dedup.jaccard_pairs_cross), which probes the inputs and
    picks bitmask / prefix / index per regime — BASELINE.md records the
    bench corpus (377-gram vocabulary) taking the broadcast-bitmask path,
    while the prefix-filtered SSJoin/ppjoin form is the large-scale
    high-diversity regime: only each doc's globally-rarest
    ``sz - ceil(t*sz) + 1`` grams are indexed, which provably cannot miss
    a >=60% pair, so stop-grams — the common 3-grams that co-occur in
    nearly every doc pair of a low-diversity corpus and made the naive
    gram join quadratic (>35x wall at a 10x corpus in the scaling probe)
    — never generate candidates.  Every strategy is lossless; the oracle
    is the NAIVE join, so the driver check proves the chosen plan emits
    the identical pair set.  Integer threshold compare avoids any float
    boundary; same verify math as l12.

    Dense-vocab corner, CORRECTED in round 6 (VERDICT r5 item #6): the
    rounds-4/5 story — "the ~449 s at synth-sf1 is the cost of emitting a
    Θ(|batch| x |corpus|) answer" — was FALSIFIED by measurement
    (`git show aa27f3b:tools/l60_floor_probe.py`): enumerating all 625M
    cross pairs through
    the same sink costs 9.4 s, and the true qualifying output is 4.26M
    pairs (0.7% of batch x corpus), so nothing about the answer forced
    hundreds of seconds.  The real cost was Catalyst's CollapseProject
    re-inlining the aliased n_words-term popcount expression into uni,
    jaccard, and the threshold filter — ~6 evaluations per ENUMERATED
    pair.  The bitmask kernels now filter first with a single-occurrence
    algebraic condition ((100+t)*I >= t*S) and derive uni/jaccard only on
    survivors: synth-sf1 went 687 s -> 48 s end-to-end, driver-exact
    output unchanged (tests/test_dedup_similarity.py
    test_cross_dense_vocab_routes_to_bitmask pins the routing; the
    driver oracle pins output equality).  Per-pair enumeration work
    remains Θ(|batch| x |corpus| x V/64) in this regime — that IS the
    honest residual corner — while real corpora with a growing
    vocabulary stay in the prefix regime where output and work are both
    near-linear."""
    from google_analytics_dataframes_spark.operators.dedup import jaccard_pairs_cross
    from google_analytics_dataframes_spark.sources.bucketed import (
        dedup_cross_stats,
    )

    # Round 14 (guide §2.3): cluster the COMPACT doc relation on doc_id
    # once, ahead of the gram explode — explode preserves the clustering,
    # so the operator's per-doc aggregates need no exchange of the
    # ~(L+overhead)x larger exploded gram stream (pre_clustered=True
    # skips it; plan diff + A/B in jaccard_pairs_cross's docstring).
    docs = fanout(
        T(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        by=("doc_id",),
    )
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    # shared gram builder — must stay identical to the stored index's
    # (sources/bucketed.corpus_gram_relation); see the round-8 note there
    grams = F.explode(char_ngrams(F.col("text"), 3)).alias("item")
    inc = docs.filter(F.length("source") == 5).select("doc_id", grams)
    ex = docs.filter(F.length("source") == 4).select("doc_id", grams)
    # round 12 (VERDICT r11 item #4's production wiring): strategy stats
    # come from the PERSISTED index-side table — n_items/vocab/n_in_docs
    # in one dict, n_in_docs always present, so the operator's probe jobs
    # (persist + count + vocab collect) are skipped and its
    # unpersisted-lineage-rescan fallback is unreachable; the vocabulary
    # is guarded in-plan by the mask build's left dictionary join
    # (round 14 — no separate validation shred per run).
    pairs = jaccard_pairs_cross(
        inc,
        ex,
        threshold_pct=60,
        stats=dedup_cross_stats(spark, sf_dir),
        pre_clustered=True,
    )
    return pairs.select(
        "doc_in",
        "doc_ex",
        "inter",
        "uni",
        F.round(F.col("inter") / F.col("uni").cast("double"), 6).alias("jaccard"),
    )


# ------------------------------------------------------------------- l65 ---

#: BM25 query terms (fixed retrieval probe over the synthetic corpus) and
#: the standard Robertson parameters.  Constants are exact binary doubles
#: (1.2 is not, but it is the SAME literal both engines parse; 0.25/0.75
#: are exact), and 1 - b is pre-folded to 0.25 so both formulations share
#: one association order.
_BM25_TERMS = ("join", "spark", "vector", "window", "customer")
_BM25_K1 = 1.2
_BM25_TOPK = 20


@register(
    "l65_bm25_topk",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    p AS (SELECT doc_id, len(toks) AS dl,
          {", ".join(
              f"len(list_filter(toks, x -> x = '{t}')) AS tf{i}"
              for i, t in enumerate(_BM25_TERMS)
          )}
          FROM t),
    g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(dl) AS BIGINT) AS sdl,
          {", ".join(
              f"CAST(SUM(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
              f" AS df{i}"
              for i in range(len(_BM25_TERMS))
          )}
          FROM p)
    SELECT doc_id,
           CAST(dl AS BIGINT) AS n_tokens,
           CAST({" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))}
                AS BIGINT) AS n_hits,
           round({" + ".join(
               f"ln((n - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
               f" * ((tf{i} * {_BM25_K1 + 1}) / (tf{i} + {_BM25_K1}"
               f" * (0.25 + (0.75 * dl) / (CAST(sdl AS DOUBLE) / n))))"
               for i in range(len(_BM25_TERMS))
           )}, 6) AS bm25
    FROM p, g
    WHERE {" + ".join(f"tf{i}" for i in range(len(_BM25_TERMS)))} > 0
    ORDER BY bm25 DESC, doc_id
    LIMIT {_BM25_TOPK}
    """,
)
def l65_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval over the corpus (Robertson/Sparck-Jones Okapi
    weighting, k1=1.2 b=0.75) for a fixed query-term set — the lexical
    retrieval primitive a training pipeline runs for targeted corpus
    slicing and eval-set mining, complementing the embedding-space top-k
    (l3/l14).

    100-TB shape: NO inverted index is materialized and the token stream
    is never shuffled — per-doc term frequencies come from doc-local
    higher-order expressions over ONE tokenization (explode(array(toks))
    Generate barrier, the sf11 parse-once lesson, so split() runs once
    per row however many term counters read it); corpus statistics
    (N, sum dl, per-term df) reduce to a SINGLE row broadcast back; the
    only wide operation is the final TakeOrderedAndProject at k=20.
    Plan-pinned in tests/test_plans.py: exactly one split occurrence,
    no full-table Exchange, TakeOrdered final.

    Determinism: every float expression is written with IDENTICAL
    association in both formulations (1-b pre-folded to the exact-binary
    0.25; avgdl as one exact-integer-sum division), scores round to 1e-6
    and order by (rounded score, doc_id), so the top-k cutoff cannot
    drift between engines on last-bit libm noise."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split(F.col("text"), " ")
    barrier = docs.select("doc_id", F.explode(F.array(toks)).alias("toks"))
    nt = len(_BM25_TERMS)

    def _eq(term):
        # a closure factory, NOT `lambda x, t=t`: pyspark dispatches on the
        # lambda's arity, and a second (defaulted) parameter makes it pass
        # the array INDEX there instead
        return lambda x: x == F.lit(term)

    # Round 14 (guide §1): ``proj`` feeds both the global-stats aggregate
    # and the scoring join, and unpersisted that planned TWO full
    # tokenize+count corpus passes (the before-plan carries the scan and
    # the split twice).  The per-doc tf vector is 7 ints per document —
    # the smallest possible materialization of the tokenization — so one
    # eager checkpoint makes the second pass a read of n_docs tiny rows:
    # 1.04 -> 0.77 s median (first execution 3.60 -> 1.72 s), same-window
    # quiet 5-rep A/B at sf0.1
    # (`git show 0dd433a:plans/r14/l65_bm25_topk_{before,after}.txt`).
    # Same ContextCleaner cleanup contract as l11's checkpoint note.
    proj = barrier.select(
        "doc_id",
        F.size("toks").alias("dl"),
        *[
            F.size(F.filter(F.col("toks"), _eq(t))).alias(f"tf{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    ).localCheckpoint(eager=True)
    g = proj.agg(
        F.count("*").alias("n"),
        F.sum("dl").cast("long").alias("sdl"),
        *[
            F.sum((F.col(f"tf{i}") > 0).cast("int")).cast("long").alias(f"df{i}")
            for i in range(nt)
        ],
    )
    avgdl = F.col("sdl").cast("double") / F.col("n")
    score = None
    for i in range(nt):
        tf, df = F.col(f"tf{i}"), F.col(f"df{i}")
        idf = F.log((F.col("n") - df + F.lit(0.5)) / (df + F.lit(0.5)) + F.lit(1.0))
        s = idf * (
            (tf * F.lit(_BM25_K1 + 1))
            / (tf + F.lit(_BM25_K1) * (F.lit(0.25) + (F.lit(0.75) * F.col("dl")) / avgdl))
        )
        score = s if score is None else score + s
    hits = None
    for i in range(nt):
        hits = F.col(f"tf{i}") if hits is None else hits + F.col(f"tf{i}")
    return (
        proj.join(F.broadcast(g))
        .filter(hits > 0)
        .select(
            "doc_id",
            F.col("dl").cast("long").alias("n_tokens"),
            hits.cast("long").alias("n_hits"),
            F.round(score, 6).alias("bm25"),
        )
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_BM25_TOPK)
    )


# ------------------------------------------------------------------- l66 ---


@register(
    "l66_corpus_delta",
    oracle="""
    WITH old AS (SELECT doc_id, text FROM documents),
    new AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN text || ' rev2' ELSE text END
               AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + (SELECT MAX(doc_id) + 1 FROM documents), reverse(text)
      FROM documents WHERE doc_id % 11 = 0
    ),
    d AS (SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN n.doc_id IS NULL THEN 'removed'
                      WHEN o.doc_id IS NULL THEN 'added'
                      WHEN o.text <> n.text THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM d GROUP BY status
    """,
)
def l66_corpus_delta(spark, sf_dir):
    """Corpus snapshot delta (CDC census between two crawl versions): per
    document, classify added / removed / changed / unchanged between the
    base corpus and a deterministically-derived re-crawl (every 13th doc
    dropped, every 7th re-edited, every 11th re-discovered under a new
    id) and emit the per-status census — the freshness audit a
    continuously-re-crawled corpus runs before each training snapshot,
    and the batch complement of st15's ingest-time dedup.

    100-TB shape: the full-outer join carries (doc_id, content
    fingerprint) ONLY — the fingerprint is struct(xxhash64(text),
    length(text)) computed scan-side, so the exchange moves ~20 bytes/row
    instead of document text, and the combined key keeps spurious
    hash-equal merges below the birthday bound at 10^10 docs (same
    posture as st15).  The oracle compares raw text instead — different
    mechanism, same classification — so a fingerprinting bug that
    misclassifies any doc is a driver hash mismatch."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    new_kept = docs.filter(F.col("doc_id") % 13 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat("text", F.lit(" rev2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # re-discovered docs get ids past the live id space: offset =
    # max(doc_id)+1, derived IN-PLAN (1-row agg broadcast onto the scan,
    # not a driver collect) so the census stays collision-free at any sf —
    # a fixed constant would alias 'added' ids onto surviving base ids the
    # moment the corpus outgrows it, and the oracle sharing the constant
    # would hide the corruption (ADVICE r7)
    offset = F.broadcast(
        docs.agg((F.max("doc_id") + F.lit(1)).alias("_id_offset"))
    )
    new_added = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .crossJoin(offset)
        .select(
            (F.col("doc_id") + F.col("_id_offset")).alias("doc_id"),
            F.reverse("text").alias("text"),
        )
    )

    def fp(df):
        return df.select(
            "doc_id",
            F.struct(
                F.xxhash64("text").alias("h"),
                F.octet_length("text").alias("ln"),
            ).alias("fp"),
        )

    old_fp = fp(docs).withColumnRenamed("fp", "fp_old")
    new_fp = fp(new_kept.unionAll(new_added)).withColumnRenamed("fp", "fp_new")
    d = old_fp.join(new_fp, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("fp_new").isNull(), F.lit("removed"))
        .when(F.col("fp_old").isNull(), F.lit("added"))
        .when(F.col("fp_old") != F.col("fp_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )
    return d.groupBy("status").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
    )


# ------------------------------------------------------------------- l69 ---


@register(
    "l69_indexed_neardup",
    oracle="""
    WITH ex AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    inc AS (SELECT doc_id, text FROM documents WHERE length(source) = 5),
    gx AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM ex)),
    gi AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM inc)),
    sx AS (SELECT doc_id, COUNT(*) AS sz FROM gx GROUP BY doc_id),
    si AS (SELECT doc_id, COUNT(*) AS sz FROM gi GROUP BY doc_id),
    inter AS (SELECT gi.doc_id AS doc_in, gx.doc_id AS doc_ex,
                     COUNT(*) AS inter
              FROM gi JOIN gx USING (gram)
              GROUP BY gi.doc_id, gx.doc_id)
    SELECT i.doc_in, i.doc_ex, i.inter,
           CAST(a.sz + b.sz - i.inter AS BIGINT) AS uni,
           round(CAST(i.inter AS DOUBLE) / (a.sz + b.sz - i.inter), 6)
             AS jaccard
    FROM inter i
    JOIN si a ON a.doc_id = i.doc_in
    JOIN sx b ON b.doc_id = i.doc_ex
    WHERE 100 * i.inter >= 60 * (a.sz + b.sz - i.inter)
    """,
)
def l69_indexed_neardup(spark, sf_dir, _force_gram_path: bool = False):
    """l60's incremental near-dup against a PERSISTENT STORED INDEX — the
    production shape l60 still lacked (VERDICT r7 item #7): corpus-side
    signatures are materialized once per corpus and reused across ingest
    batches, so each batch run computes signatures ONLY for the incoming
    docs; corpus text is never re-read and corpus grams are never
    recomputed.

    The stored form follows the SAME regime logic as the in-session
    adaptive strategy (operators/dedup.jaccard_pairs_cross), because the
    best physical index depends on the corpus:

    * **bounded vocabulary** (the regime every shipped SF is in): the
      index is the BITMASK pair — a frozen (item, vid) dictionary plus a
      (doc_id, sz, m0..mN) packed-mask table
      (sources/bucketed.mask_index_tables).  The batch encodes its grams
      against the broadcast dictionary (out-of-vocabulary grams cannot
      intersect any corpus doc, so they drop from the mask but still
      count in the batch doc's set size — lossless), and the tiny batch
      mask table BROADCASTS over a pure SCAN of the stored masks:
      zero corpus shuffle, O(V/64) longs compared per pair.  The first
      registered version of this query stored raw grams and equi-joined
      them — on this bounded-vocab corpus that enumerated the same
      Theta(|batch| x |corpus|) pair set through a shuffle and measured
      59.9 s at sf0.1; the mask form does identical pair work scan-side
      (bench: ~2 s warm).
    * **large vocabulary**: mask_index_tables returns None and the query
      falls back to the bucketed+sorted gram table
      (sources/bucketed.gram_index_table) — one-sided equi-join of batch
      grams against the bucket-placed inverted index, the strategy whose
      candidates stay near-linear when grams are rare
      (``_force_gram_path`` lets tests drive this branch on the small
      corpus; tests/test_dedup_similarity.py pins both paths equal).

    Answer contract: identical output to l60 (same oracle, the naive
    cross join) — the driver hash proves the stored-index plan emits the
    exact pair set the per-run-recompute plan does.  Plan pins:
    tests/test_plans.py::test_indexed_neardup_reads_stored_index (mask
    path: corpus masks scan straight into the pair filter, gram
    shredding only above the batch scan) and
    test_gram_index_row_groups_prunable (gram-table form: sorted buckets
    give footer-stats row-group pruning on the gram key — the s8
    write_clustered evidence extended to the index, VERDICT r7 item #8).
    Index staging is charged once per session, as stream sources are
    staged once per dataset (io.staged_dir) — a real deployment maintains
    the index at ingest, not per query."""
    docs = T(spark, sf_dir, "documents")
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    # shared gram builder — must stay identical to the stored index's
    # (sources/bucketed.corpus_gram_relation); see the round-8 note there.
    # Round 14 (guide §2.3): cluster the COMPACT batch docs on doc_id
    # before the explode — the helper's per-doc mask aggregate then
    # partial-aggregates in parallel AND needs no exchange at all (the
    # explode and the broadcast dictionary join preserve the clustering);
    # without it the single-row-group batch scan ran the whole gram
    # shred + mask fold on one core.  Same-window 5-rep A/B at sf0.1:
    # l69 1.62 -> 1.01, l69b 0.64 -> 0.50, l75 1.04 -> 0.67,
    # l75b 0.81 -> 0.66 s median.
    grams = F.explode(char_ngrams(F.col("text"), 3)).alias("item")
    inc_items = fanout(
        docs.filter(F.length("source") == 5).select("doc_id", "text"),
        by=("doc_id",),
    ).select("doc_id", grams)
    return _stored_index_cross_pairs(
        spark, sf_dir, inc_items, _force_gram_path=_force_gram_path
    )


def _stored_index_cross_pairs(
    spark, sf_dir, inc_items, threshold_pct: int = 60,
    _force_gram_path: bool = False,
):
    """Join an incoming (doc_id, item) gram relation against the STORED
    corpus index at >= threshold_pct Jaccard — l69's engine, shared with
    l75's CDC-targeted dedup.  Dispatches mask-table vs bucketed-gram
    form by the corpus regime (see l69's docstring)."""
    from google_analytics_dataframes_spark.sources.bucketed import (
        gram_index_table,
        mask_index_tables,
    )

    t = threshold_pct
    idx = None if _force_gram_path else mask_index_tables(spark, sf_dir)
    if idx is not None:
        vocab_table, mask_table = idx
        vdf = spark.table(vocab_table)
        n_words = sum(
            1 for f in spark.table(mask_table).schema.names if f.startswith("m")
        )
        from google_analytics_dataframes_spark.operators.dedup import (
            packed_mask_aggs,
        )

        a = (
            inc_items.join(F.broadcast(vdf), "item", "left")
            .groupBy("doc_id")
            .agg(F.count("*").alias("sz"), *packed_mask_aggs(n_words))
            .alias("a")
        )
        b = spark.table(mask_table).alias("b")
        inter = sum(
            (
                F.bit_count(
                    F.col(f"a.m{j}").bitwiseAND(F.col(f"b.m{j}"))
                ).cast("long")
                for j in range(n_words)
            ),
            start=F.lit(0).cast("long"),
        )
        sz_sum = F.col("a.sz") + F.col("b.sz")
        # single-occurrence filter-first algebra (the round-6
        # CollapseProject lesson): (100+t)*I >= t*(sza+szb) <=> I/U >= t
        pairs = (
            b.join(F.broadcast(a), F.lit(True))
            .filter((100 + t) * inter >= t * sz_sum)
            .select(
                F.col("a.doc_id").alias("doc_in"),
                F.col("b.doc_id").alias("doc_ex"),
                inter.alias("inter"),
                (sz_sum - inter).cast("long").alias("uni"),
            )
        )
    else:
        from pyspark.sql import Window as W

        table = gram_index_table(spark, sf_dir)
        inc = inc_items.withColumn(
            "szi", F.count("*").over(W.partitionBy("doc_id"))
        )
        ex = spark.table(table).select(
            F.col("doc_id").alias("doc_ex"),
            "item",
            F.col("sz").alias("szx"),
        )
        pairs = (
            inc.withColumnRenamed("doc_id", "doc_in")
            .join(ex, "item")
            .groupBy("doc_in", "doc_ex", "szi", "szx")
            .agg(F.count("*").alias("inter"))
            .withColumn(
                "uni",
                (F.col("szi") + F.col("szx") - F.col("inter")).cast("long"),
            )
            .filter(100 * F.col("inter") >= t * F.col("uni"))
            .select("doc_in", "doc_ex", "inter", "uni")
        )
    return pairs.select(
        "doc_in",
        "doc_ex",
        "inter",
        "uni",
        F.round(F.col("inter") / F.col("uni").cast("double"), 6).alias("jaccard"),
    )


# ------------------------------------------------------------------- l70 ---

#: l70 parameters: 24-char title prefix, edit threshold k=2, k+1=3 segments
#: of 8 chars each (titles are fixed-length here; the shift set covers the
#: general case).
_ED_PFX = 24
_ED_K = 2
_ED_SEG = 8


def _editdist_pairs(index_titles, probe_titles):
    """PassJoin segment-filter core shared by l70 and its 10x slice twin
    l70b: ``index_titles`` emits the k+1 disjoint segments (its doc_id
    becomes doc_a), ``probe_titles`` emits the shifted candidate
    substrings (doc_b); candidates equi-join on (segment, substring),
    keep doc_a < doc_b, and survivors verify with one JVM levenshtein.
    Both inputs are (doc_id, title) frames over the fixed-length
    ``_ED_PFX`` prefix — see l70's docstring for the pigeonhole
    losslessness argument, which is per-pair and therefore unaffected
    by restricting the INDEX side to a doc_id slice."""
    n_seg = _ED_K + 1
    seg_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg"),
                    F.substring(
                        "title", 1 + i * _ED_SEG, _ED_SEG
                    ).alias("sub"),
                )
                for i in range(n_seg)
            ]
        )
    ).alias("s")
    index = index_titles.select(
        F.col("doc_id").alias("doc_a"),
        F.col("title").alias("title_a"),
        seg_rows,
    ).select("doc_a", "title_a", "s.seg", "s.sub")
    probe_rows = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("seg"),
                    F.substring(
                        "title", 1 + i * _ED_SEG + d, _ED_SEG
                    ).alias("sub"),
                )
                for i in range(n_seg)
                for d in range(-_ED_K, _ED_K + 1)
                if 1 + i * _ED_SEG + d >= 1
                and i * _ED_SEG + d + _ED_SEG <= _ED_PFX
            ]
        )
    ).alias("p")
    probe = probe_titles.select(
        F.col("doc_id").alias("doc_b"),
        F.col("title").alias("title_b"),
        probe_rows,
    ).select("doc_b", "title_b", "p.seg", "p.sub")
    cand = (
        index.join(probe, ["seg", "sub"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "title_a", "title_b")
        .distinct()
    )
    dist = F.levenshtein("title_a", "title_b")
    return cand.filter(dist <= _ED_K).select(
        "doc_a", "doc_b", dist.cast("int").alias("dist")
    )


@register(
    "l70_editdist_simjoin",
    oracle=f"""
    WITH t AS (SELECT doc_id, substr(text, 1, {_ED_PFX}) AS title
               FROM documents WHERE len(text) >= {_ED_PFX})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
    FROM t a JOIN t b
      ON a.doc_id < b.doc_id
     AND levenshtein(a.title, b.title) <= {_ED_K}
    """,
)
def l70_editdist_simjoin(spark, sf_dir):
    """Edit-distance similarity self-join (fuzzy title dedup): all doc
    pairs whose 24-char title prefixes are within Levenshtein distance 2 —
    the near-dup family member that catches typo-level variants MinHash
    and token-Jaccard both miss (a 1-char edit barely moves either
    signature's sets, but here it IS the unit of distance).

    Spark-first physical strategy — Pass-Join segment filtering (Li,
    Deng, Feng: PassJoin, VLDB 2012), never the quadratic form the oracle
    runs: split each indexed title into k+1 = 3 disjoint segments; by
    pigeonhole, any string within edit distance k of it contains at least
    one segment EXACTLY, starting within +-k of the segment's home
    position (the net shift of preceding edits).  So the index side emits
    3 (segment_id, substring) rows per doc and the probe side emits at
    most 3*(2k+1) = 15 candidate substrings per doc; candidates come from
    an EQUI-join on (segment_id, substring) — broadcastable/bucketable
    like every other candidate join in the dedup family — and the few
    survivors verify with one JVM-side levenshtein() each.  No cartesian
    product, no BroadcastNestedLoopJoin (plan-pinned in
    tests/test_plans.py::test_editdist_simjoin_is_equijoin_candidates).
    On the word-salad corpus an 8-char aligned substring collision is
    essentially evidence of a true near-pair, so candidate count tracks
    output count, not |docs|^2.

    Exactness: the segment scheme is provably lossless for <= k (the
    oracle IS the naive join, so the driver hash certifies the pruned
    plan finds the identical pair set — including distance-0 pairs from
    duplicated title prefixes).  Both engines implement classic
    unit-cost Levenshtein."""
    docs = T(spark, sf_dir, "documents")
    # fixed-length titles only (every shipped SF satisfies this for all
    # docs): equal-length segments keep the pigeonhole argument exact —
    # a truncated tail segment could silently miss pairs otherwise.  The
    # oracle applies the identical restriction.
    titles = fanout_by(
        docs.filter(F.length("text") >= _ED_PFX).select(
            "doc_id", F.substring("text", 1, _ED_PFX).alias("title")
        ),
        "doc_id",
    )
    return _editdist_pairs(titles, titles)


# ------------------------------------------------------------------- l71 ---


@register(
    "l71_merge_upsert",
    oracle="""
    WITH base AS (SELECT doc_id, text FROM documents),
    offs AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
    changes AS (
      SELECT doc_id, 'delete' AS op, CAST(NULL AS VARCHAR) AS text
      FROM documents WHERE doc_id % 13 = 0
      UNION ALL
      SELECT doc_id, 'upsert', text || ' v2'
      FROM documents WHERE doc_id % 9 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + (SELECT o FROM offs), 'upsert', reverse(text)
      FROM documents WHERE doc_id % 17 = 0
    ),
    merged AS (
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             CASE WHEN c.op = 'delete' THEN 'deleted'
                  WHEN c.op = 'upsert' AND b.doc_id IS NOT NULL
                    THEN 'updated'
                  WHEN c.op = 'upsert' THEN 'inserted'
                  ELSE 'kept' END AS status,
             CASE WHEN c.op = 'upsert' THEN c.text
                  WHEN c.op = 'delete' THEN NULL
                  ELSE b.text END AS final_text
      FROM base b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
           CAST(COALESCE(SUM(try_cast(concat('0x',
                substr(md5(final_text), 1, 8)) AS BIGINT)), 0) AS BIGINT)
             AS content_checksum
    FROM merged GROUP BY status
    """,
)
def l71_merge_upsert(spark, sf_dir):
    """MERGE INTO / upsert-apply — the snapshot-maintenance operation a
    continuously-updated training corpus runs between l66's delta CENSUS
    and the next training snapshot: apply a change batch (deletes,
    in-place updates, inserts under fresh ids) to the base table and
    audit the result.  The change batch is derived deterministically
    (every 13th doc deleted; every 9th surviving doc re-edited; every
    17th doc re-submitted under id max(doc_id)+1+old — the l66 in-plan
    offset, collision-free at any sf).

    100-TB shape: one full-outer shuffle join on the snapshot key — the
    irreducible core of MERGE — carrying per-side CONTENT CHECKSUMS
    computed scan-side (8-hex-digit md5 prefix as a bigint — the l50
    arithmetic both engines share, and < 2^32 per row so the census SUM
    stays far from int64 overflow at any corpus size) instead of document text, so the
    exchange moves ~25 B/row and the winning side's checksum is selected
    post-join.  The emitted census (per-status count, id range, checksum
    sum over FINAL text) proves the merge produced the right CONTENT,
    not just the right row counts; the oracle recomputes it from raw
    text with a different mechanism, so a checksum-plumbing bug
    hash-fails.  Statuses: kept / updated / inserted / deleted (delete
    wins over update for the same key by construction of the batch)."""
    docs = T(spark, sf_dir, "documents").select("doc_id", "text")
    cksum = lambda c: F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast(  # noqa: E731
        "long"
    )
    offset = F.broadcast(
        docs.agg((F.max("doc_id") + F.lit(1)).alias("_id_offset"))
    )
    deletes = docs.filter(F.col("doc_id") % 13 == 0).select(
        "doc_id", F.lit("delete").alias("op"), F.lit(None).cast("long").alias("ck")
    )
    updates = (
        docs.filter((F.col("doc_id") % 9 == 0) & (F.col("doc_id") % 13 != 0))
        .select(
            "doc_id",
            F.lit("upsert").alias("op"),
            cksum(F.concat("text", F.lit(" v2"))).alias("ck"),
        )
    )
    inserts = (
        docs.filter(F.col("doc_id") % 17 == 0)
        .crossJoin(offset)
        .select(
            (F.col("doc_id") + F.col("_id_offset")).alias("doc_id"),
            F.lit("upsert").alias("op"),
            cksum(F.reverse("text")).alias("ck"),
        )
    )
    changes = deletes.unionAll(updates).unionAll(inserts)
    base = docs.select("doc_id", cksum("text").alias("ck_base"))
    merged = base.join(changes, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("op") == "delete", F.lit("deleted"))
        .when(
            (F.col("op") == "upsert") & F.col("ck_base").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("op") == "upsert", F.lit("inserted"))
        .otherwise(F.lit("kept"))
        .alias("status"),
        F.when(F.col("op") == "upsert", F.col("ck"))
        .when(F.col("op") == "delete", F.lit(None).cast("long"))
        .otherwise(F.col("ck_base"))
        .alias("final_ck"),
    )
    return merged.groupBy("status").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.min("doc_id").cast("long").alias("min_doc_id"),
        F.max("doc_id").cast("long").alias("max_doc_id"),
        F.coalesce(F.sum("final_ck"), F.lit(0)).cast("long").alias(
            "content_checksum"
        ),
    )


# ------------------------------------------------------------------- l75 ---


@register(
    "l75_delta_dedup",
    oracle="""
    WITH offs AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
    delta AS (
      SELECT doc_id, text || ' rev2' AS text
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + (SELECT o FROM offs), reverse(text)
      FROM documents WHERE doc_id % 11 = 0
    ),
    corpus AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    gd AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM delta)),
    gx AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM corpus)),
    sd AS (SELECT doc_id, COUNT(*) AS sz FROM gd GROUP BY doc_id),
    sx AS (SELECT doc_id, COUNT(*) AS sz FROM gx GROUP BY doc_id),
    inter AS (SELECT gd.doc_id AS doc_in, gx.doc_id AS doc_ex,
                     COUNT(*) AS inter
              FROM gd JOIN gx USING (gram)
              GROUP BY gd.doc_id, gx.doc_id)
    SELECT i.doc_in, i.doc_ex, i.inter,
           CAST(a.sz + b.sz - i.inter AS BIGINT) AS uni,
           round(CAST(i.inter AS DOUBLE) / (a.sz + b.sz - i.inter), 6)
             AS jaccard
    FROM inter i
    JOIN sd a ON a.doc_id = i.doc_in
    JOIN sx b ON b.doc_id = i.doc_ex
    WHERE 100 * i.inter >= 60 * (a.sz + b.sz - i.inter)
    """,
)
def l75_delta_dedup(spark, sf_dir):
    """CDC-TARGETED dedup — the composition a continuously-re-crawled
    corpus actually runs between snapshots, tying three round-7/8
    operators into one pipeline: the re-crawl delta (l66's derivation —
    every surviving 7th doc re-edited, every 11th re-discovered under an
    id past max(doc_id), offset derived in-plan) is near-dup-checked at
    >=60% 3-gram Jaccard against the PERSISTENT stored index (l69's
    engine, shared helper `_stored_index_cross_pairs`) — so per re-crawl
    the work scales with |delta| x |collisions|, the corpus is never
    re-shredded, and unchanged documents cost nothing at all.

    The output answers the curator's question for each changed/added doc:
    'is this edit/new page a near-duplicate of something already in the
    corpus?' — edited docs naturally pair with their own prior version
    (same doc_id on both sides: the ' rev2' suffix barely moves 3-gram
    Jaccard), and genuinely novel re-discoveries pair with nothing.  The
    oracle is the naive delta x corpus join on raw text, so the driver
    hash proves the composed stored-index plan emits the identical pair
    set."""
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    offset = F.broadcast(
        docs.agg((F.max("doc_id") + F.lit(1)).alias("_id_offset"))
    )
    changed = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0)
    ).select("doc_id", F.concat("text", F.lit(" rev2")).alias("text"))
    added = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .crossJoin(offset)
        .select(
            (F.col("doc_id") + F.col("_id_offset")).alias("doc_id"),
            F.reverse("text").alias("text"),
        )
    )
    # round 14: compact-side clustering ahead of the explode (l69 note)
    delta_items = fanout(changed.unionAll(added), by=("doc_id",)).select(
        "doc_id", F.explode(char_ngrams(F.col("text"), 3)).alias("item")
    )
    return _stored_index_cross_pairs(spark, sf_dir, delta_items)


# ------------------------------------------- l60b/l69b/l75b slice audits ---
# The pair-compare family's ORACLES are the quadratic naive gram join —
# at the 10x synth DuckDB's gi x gx intermediate hit 111 GB RSS and had
# to be killed, so the 10x differential EXCLUDED the whole l family
# (VERDICT r9 missing item #3).  These slice-audit twins fix the proof,
# not the engine: the incoming side is restricted to a deterministic
# 1-in-20 doc_id residue class, which divides the oracle's join
# intermediate by ~20 (feasible at 10x) while the corpus side — the side
# whose candidate generation is the scale risk — stays FULL.  The engine
# side runs the identical adaptive operators (jaccard_pairs_cross /
# _stored_index_cross_pairs) on the sliced batch vs the full corpus, so
# the differential still exercises full-corpus candidate generation,
# threshold algebra, and index probing end-to-end at 10x.

#: Incoming doc_ids occupy residues 10-19 (mod 20) by the generator's
#: construction, so the slice predicate is doc_id % 40 == 10 — exactly
#: 1-in-20 of the incoming side (13/250 docs, 239/4228 qualifying pairs
#: at sf0.01: non-vacuous at every sf); at the 10x synth it bounds the
#: oracle's join intermediate near 6 GB where the unsliced form needed
#: 111 GB.  (A % 20 == 0 slice selects ZERO incoming docs — checked.)
_SLICE_MOD = 40
_SLICE_RES = 10

_SLICE_ORACLE_BODY = """
    gx AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM ex)),
    gi AS (SELECT DISTINCT doc_id, substr(text, CAST(p AS INTEGER), 3) AS gram
           FROM (SELECT doc_id, text,
                        unnest(range(1, greatest(len(text) - 2, 1) + 1)) AS p
                 FROM inc)),
    sx AS (SELECT doc_id, COUNT(*) AS sz FROM gx GROUP BY doc_id),
    si AS (SELECT doc_id, COUNT(*) AS sz FROM gi GROUP BY doc_id),
    inter AS (SELECT gi.doc_id AS doc_in, gx.doc_id AS doc_ex,
                     COUNT(*) AS inter
              FROM gi JOIN gx USING (gram)
              GROUP BY gi.doc_id, gx.doc_id)
    SELECT i.doc_in, i.doc_ex, i.inter,
           CAST(a.sz + b.sz - i.inter AS BIGINT) AS uni,
           round(CAST(i.inter AS DOUBLE) / (a.sz + b.sz - i.inter), 6)
             AS jaccard
    FROM inter i
    JOIN si a ON a.doc_id = i.doc_in
    JOIN sx b ON b.doc_id = i.doc_ex
    WHERE 100 * i.inter >= 60 * (a.sz + b.sz - i.inter)
"""


@register(
    "l60b_neardup_slice",
    oracle=f"""
    WITH ex AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    inc AS (SELECT doc_id, text FROM documents
            WHERE length(source) = 5
              AND doc_id % {_SLICE_MOD} = {_SLICE_RES}),
    {_SLICE_ORACLE_BODY}
    """,
)
def l60b_neardup_slice(spark, sf_dir):
    """l60's incremental near-dup with the incoming batch sliced to the
    1-in-20 doc_id residue class (_SLICE_MOD) — the 10x-RUNNABLE audit
    twin (see the family note above): same adaptive cross pair-join,
    full corpus side, bounded oracle.  Slicing the BATCH (not the
    output) keeps both formulations' work comparable and the predicate
    trivially pushes to the incoming scan on the engine side.

    Round 13 (VERDICT r12 "what's wrong" #3): the twin now passes the
    PERSISTED ``dedup_cross_stats`` dict like l60's production wiring,
    so its probe jobs (persist + two counts + vocab collect) are gone
    too.  The stored stats describe the UNSLICED family shape, which is
    safe here because every field is routing/guard-only and an upper
    bound for the sliced batch: ``n_items`` picks a (lossless) strategy,
    ``vocab`` is a validated superset of the sliced union's vocabulary,
    and ``n_in_docs`` only makes the broadcast-size guard more
    conservative.  The stats-less probe path stays covered by
    tests/test_dedup_similarity.py (the naive-vs-fast equivalence tests
    call the operator without stats)."""
    from google_analytics_dataframes_spark.operators.dedup import (
        char_ngrams,
        jaccard_pairs_cross,
    )
    from google_analytics_dataframes_spark.sources.bucketed import (
        dedup_cross_stats,
    )

    # round 14: compact-side clustering, same as l60 (guide §2.3)
    docs = fanout(
        T(spark, sf_dir, "documents").select("doc_id", "source", "text"),
        by=("doc_id",),
    )
    grams = F.explode(char_ngrams(F.col("text"), 3)).alias("item")
    inc = docs.filter(
        (F.length("source") == 5)
        & (F.col("doc_id") % _SLICE_MOD == _SLICE_RES)
    ).select("doc_id", grams)
    ex = docs.filter(F.length("source") == 4).select("doc_id", grams)
    pairs = jaccard_pairs_cross(
        inc,
        ex,
        threshold_pct=60,
        stats=dedup_cross_stats(spark, sf_dir),
        pre_clustered=True,
    )
    return pairs.select(
        "doc_in",
        "doc_ex",
        "inter",
        "uni",
        F.round(F.col("inter") / F.col("uni").cast("double"), 6).alias("jaccard"),
    )


@register(
    "l69b_indexed_slice",
    oracle=f"""
    WITH ex AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    inc AS (SELECT doc_id, text FROM documents
            WHERE length(source) = 5
              AND doc_id % {_SLICE_MOD} = {_SLICE_RES}),
    {_SLICE_ORACLE_BODY}
    """,
)
def l69b_indexed_slice(spark, sf_dir):
    """l69's stored-index near-dup on the sliced batch — proves at 10x
    that the PERSISTENT index (mask or bucketed-gram form) returns the
    exact naive-join answer for the residue-class batch against the FULL
    stored corpus index; shares l60b's oracle text by construction (the
    stored plan must be answer-identical to the per-run plan)."""
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    docs = T(spark, sf_dir, "documents")
    grams = F.explode(char_ngrams(F.col("text"), 3)).alias("item")
    # round 14: compact-side clustering ahead of the explode (l69 note)
    inc_items = fanout(
        docs.filter(
            (F.length("source") == 5)
            & (F.col("doc_id") % _SLICE_MOD == _SLICE_RES)
        ).select("doc_id", "text"),
        by=("doc_id",),
    ).select("doc_id", grams)
    return _stored_index_cross_pairs(spark, sf_dir, inc_items)


@register(
    "l75b_delta_slice",
    oracle=f"""
    WITH offs AS (SELECT MAX(doc_id) + 1 AS o FROM documents),
    delta AS (
      SELECT doc_id, text || ' rev2' AS text
      FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + (SELECT o FROM offs), reverse(text)
      FROM documents WHERE doc_id % 11 = 0
    ),
    ex AS (SELECT doc_id, text FROM documents WHERE length(source) = 4),
    inc AS (SELECT doc_id, text FROM delta WHERE doc_id % 20 = 0),
    {_SLICE_ORACLE_BODY}
    """,
)
def l75b_delta_slice(spark, sf_dir):
    """l75's CDC-targeted dedup on the sliced delta (residue class taken
    AFTER the re-crawl derivation, so both changed and re-discovered ids
    land in the slice deterministically in both formulations) — the
    10x-runnable audit twin of the stored-index CDC composition."""
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    docs = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    offset = F.broadcast(
        docs.agg((F.max("doc_id") + F.lit(1)).alias("_id_offset"))
    )
    changed = docs.filter(
        (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 13 != 0)
    ).select("doc_id", F.concat("text", F.lit(" rev2")).alias("text"))
    added = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .crossJoin(offset)
        .select(
            (F.col("doc_id") + F.col("_id_offset")).alias("doc_id"),
            F.reverse("text").alias("text"),
        )
    )
    # round 14: compact-side clustering ahead of the explode (l69 note)
    delta_items = fanout(
        changed.unionAll(added)
        .filter(F.col("doc_id") % 20 == 0),  # delta ids span all residues
        # (unlike the incoming side's 10-19 mod 20): % 20 == 0 keeps ~1/20
        # of the delta at every sf — 6 docs at sf0.01, non-vacuous
        by=("doc_id",),
    ).select("doc_id", F.explode(char_ngrams(F.col("text"), 3)).alias("item"))
    return _stored_index_cross_pairs(spark, sf_dir, delta_items)


# ------------------------------------------------------------------- l77 ---
@register(
    "l77_bpe_encode_roundtrip",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT) AS n_words,
           CAST(length(text) AS BIGINT) AS n_chars,
           TRUE AS roundtrip_ok
    FROM documents
    """,
)
def l77_bpe_encode_roundtrip(spark, sf_dir):
    """Subword tokenization applied at corpus scale: train a greedy BPE
    merge table (Sennrich et al. 2016) on a bounded deterministic sample,
    broadcast it, and ENCODE every document with the standard lowest-
    rank-first merge apply — then DECODE in-task and require exact
    round-trip equality with the whitespace-normalized text (the
    l63/l64 codec-verification pattern applied to the tokenizer).

    This is the missing apply half of the BPE story: l51 measures the
    pair statistics BPE training consumes; l17 counts tokens with a
    regex proxy; this row runs a REAL learned subword encoder over the
    corpus.  Training is driver-side on an orderBy(doc_id).limit(256)
    sample by CONTRACT (production tokenizers train on a bounded sample
    and apply everywhere — the 100 TB path never trains on the full
    corpus); the merge table (60 merges) broadcasts by closure and the
    encode is Arrow-batched per partition with zero shuffles.

    Oracle exactness: token counts have no SQL closed form, so the
    hashable audit is (n_words, n_chars, roundtrip_ok) — n_words from
    the ENCODER's own word splitter must equal DuckDB's \\S+ run count
    (a real cross-check of tokenizer word boundaries), and any
    encode/decode mismatch raises in-task, killing the row count.
    Token-level known-answer coverage lives in
    tests/test_text_ops.py::test_bpe_known_answer_merges_and_encoding."""
    import pandas as pd

    from google_analytics_dataframes_spark.operators.text import (
        bpe_decode,
        bpe_encode_word,
        train_bpe_merges,
    )

    sample = [
        r.text
        for r in T(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(256)
        .collect()
    ]
    word_freqs: dict[str, int] = {}
    for t in sample:
        for w in t.split():
            word_freqs[w] = word_freqs.get(w, 0) + 1
    merges = train_bpe_merges(word_freqs, 60)
    ranks = {pair: i for i, pair in enumerate(merges)}

    def per_batch(batches):
        for pdf in batches:
            out = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                words = text.split()
                tokens: list[str] = []
                for w in words:
                    tokens.extend(bpe_encode_word(w, ranks))
                if bpe_decode(tokens) != " ".join(words):
                    raise ValueError(
                        f"BPE round-trip mismatch for doc {doc_id}"
                    )
                out.append((int(doc_id), len(words), len(text), True))
            yield pd.DataFrame(
                out, columns=["doc_id", "n_words", "n_chars", "roundtrip_ok"]
            )

    docs = fanout(T(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.mapInPandas(
        per_batch, "doc_id long, n_words long, n_chars long, roundtrip_ok boolean"
    )


@register(
    "l78_source_overlap",
    oracle="""
    WITH t AS (SELECT source, string_split(text, ' ') AS w FROM documents),
    p AS (SELECT source, w,
                 unnest(range(1, greatest(len(w) - 2, 1) + 1)) AS pos
          FROM t),
    sh AS (SELECT DISTINCT source,
                  CASE WHEN len(w) >= 3 THEN array_to_string(w[pos:pos+2], ' ')
                       ELSE array_to_string(w, ' ') END AS sh
           FROM p),
    tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS total
            FROM sh GROUP BY source),
    ov AS (SELECT a.source AS src_a, b.source AS src_b,
                  CAST(COUNT(*) AS BIGINT) AS n_shared
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.source <> b.source
           GROUP BY a.source, b.source),
    grid AS (SELECT a.source AS src_a, b.source AS src_b
             FROM tot a, tot b WHERE a.source <> b.source)
    SELECT g.src_a, g.src_b,
           COALESCE(o.n_shared, 0) AS n_shared,
           round(COALESCE(o.n_shared, 0) / CAST(t.total AS DOUBLE), 6)
             AS frac_of_a
    FROM grid g
    LEFT JOIN ov o ON o.src_a = g.src_a AND o.src_b = g.src_b
    JOIN tot t ON t.source = g.src_a
    """,
)
def l78_source_overlap(spark, sf_dir):
    """Cross-corpus contamination matrix: for every ordered source pair
    (a, b), the number of distinct word-3-shingles of sub-corpus a that
    also occur in sub-corpus b, and that count as a fraction of a's
    shingle vocabulary.  This is the leakage census a training-data
    pipeline runs across its mixture components (web crawl vs eval
    suites vs licensed sets) before fixing mixture weights — l30 answers
    "is THIS doc contaminated", l78 answers "how entangled are the
    corpora pairwise".

    Scale shape: NO shingle self-join.  Distinct (shingle, source) pairs
    reduce to one row per shingle carrying its source SET (bounded by
    the mixture's component count, ~dozens); each set explodes to its
    ordered pairs (|set|^2, source-bounded, not corpus-bounded) and the
    pair census is one count.  On realistic long-tail corpora most
    shingles live in one source, so the expansion is ~linear in distinct
    shingles; the DuckDB oracle's equi-self-join computes the same
    matrix quadratically, which is fine at oracle scale."""
    from google_analytics_dataframes_spark.operators import dedup as D

    docs = T(spark, sf_dir, "documents")
    sh = (
        fanout(docs)
        .select(
            "source",
            F.explode(F.array_distinct(D.word_shingles("text", 3))).alias("sh"),
        )
        .distinct()
    )
    sets = sh.groupBy("sh").agg(F.collect_set("source").alias("ss"))
    # Round 14 (guide §1/§2): ``tot`` used to re-aggregate ``sh``
    # directly, which kept the explicit ``.distinct()`` alive in that
    # branch: a full (source, sh) distinct — partial agg + Exchange of
    # the exploded shingle stream + final agg — stacked UNDER the
    # per-source count (the ov/sets branch had already elided it,
    # collect_set being duplicate-insensitive).  A source's
    # shingle-vocabulary size == the number of source-sets that contain
    # it, so derive ``tot`` from ``sets`` instead: the tot branch now
    # shares the sets branch's single collect_set aggregation shape and
    # the stacked distinct disappears (plan diff in `git show
    # 0dd433a:plans/r14/l78_source_overlap_{before,after}.txt`: before
    # nodes 5-7, the (source, sh) Exchange + two HashAggregates, are gone; exact
    # integer counts, so equality is structural).  Measured at sf0.1:
    # 1.72 -> 1.12 s median, same-window 5-rep A/B.
    tot = (
        sets.select(F.explode("ss").alias("source"))
        .groupBy("source")
        .agg(F.count("*").alias("total"))
    )
    pairs = (
        sets.select(F.explode("ss").alias("src_a"), "ss")
        .select("src_a", F.explode("ss").alias("src_b"))
        .filter(F.col("src_a") != F.col("src_b"))
    )
    ov = pairs.groupBy("src_a", "src_b").agg(F.count("*").alias("n_shared"))
    grid = (
        tot.select(F.col("source").alias("src_a"), "total")
        .crossJoin(tot.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") != F.col("src_b"))
    )
    return grid.join(F.broadcast(ov), ["src_a", "src_b"], "left").select(
        "src_a",
        "src_b",
        F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        F.round(
            F.coalesce("n_shared", F.lit(0)) / F.col("total").cast("double"), 6
        ).alias("frac_of_a"),
    )


def _kmeans_assign(emb_v, cent_row):
    """l47's deterministic assignment fold: per vector, argmax cosine over
    the broadcast (cluster, centroid) array with first-strictly-greater
    tie-breaking == SQL's (cos DESC, cluster) row_number pick."""
    from google_analytics_dataframes_spark.operators.similarity import cosine

    scored = emb_v.crossJoin(F.broadcast(cent_row))
    sc = F.transform(
        "cents",
        lambda c: F.struct(
            cosine(F.col("v"), c.getField("centroid")).alias("cos"),
            c.getField("cl").alias("cl"),
        ),
    )
    init = F.struct(
        F.lit(float("-inf")).alias("cos"), F.lit(-1).cast("int").alias("cl")
    )
    best = F.aggregate(
        sc,
        init,
        lambda acc, s: F.when(s.getField("cos") > acc.getField("cos"), s).otherwise(
            acc
        ),
    )
    return scored.select(
        "vec_id", "true_label", "v", best.getField("cl").alias("cl")
    )


def _cluster_centroids(assigned):
    """Exact-decimal per-(cluster, dim) means, re-assembled as ordered
    centroid arrays and packed into ONE broadcastable row (cl-sorted)."""
    cells = (
        assigned.select("cl", F.posexplode("v").alias("dim", "x"))
        .groupBy("cl", "dim")
        .agg(
            (
                F.sum(F.col("x").cast("decimal(30,15)")).cast("double")
                / F.count("x")
            ).alias("cx")
        )
    )
    cent = (
        cells.groupBy("cl")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("_c"))
        .select(
            "cl", F.transform("_c", lambda s: s.getField("cx")).alias("centroid")
        )
    )
    return cent.select(F.struct("cl", "centroid").alias("c")).agg(
        F.sort_array(F.collect_list("c")).alias("cents")
    )


_KM_CELLS = """{src} AS (SELECT cl, unnest(range(0, 64)) AS dim, unnest(v) AS x
                FROM {inp}),
    {cent} AS (SELECT cl, dim,
                      CAST(CAST(SUM(CAST(x AS DECIMAL(30,15))) AS STRING) AS DOUBLE)
                      / COUNT(x) AS cx
               FROM {src} GROUP BY cl, dim),
    {cv} AS (SELECT cl, list(cx ORDER BY dim) AS c FROM {cent} GROUP BY cl),
    {sc} AS (SELECT e.vec_id, e.true_label, e.v, c.cl,
                    list_dot_product(e.v, c.c)
                    / (sqrt(list_dot_product(e.v, e.v))
                       * sqrt(list_dot_product(c.c, c.c))) AS cos
             FROM {ein} e CROSS JOIN {cv} c),
    {asg} AS (SELECT vec_id, true_label, v, cl
              FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos DESC, cl) AS rk
                    FROM {sc}) WHERE rk = 1)"""


@register(
    "l79_kmeans_lloyd",
    oracle=f"""
    WITH e AS (SELECT vec_id, label AS true_label,
                      CAST(embedding AS DOUBLE[]) AS v,
                      label AS cl
               FROM embeddings),
    {_KM_CELLS.format(src="c0s", inp="e", cent="c0", cv="cv0", sc="s1",
                      ein="e", asg="a1")},
    {_KM_CELLS.format(src="c1s", inp="a1", cent="c1", cv="cv1", sc="s2",
                      ein="a1", asg="a2")}
    SELECT true_label, cl AS cluster, CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM a2 GROUP BY true_label, cluster
    """,
)
def l79_kmeans_lloyd(spark, sf_dir):
    """Distributed k-means, two full Lloyd iterations — the iterative
    clustering step a training-data pipeline runs for corpus bucketing /
    semantic sharding (l47 is ONE assignment against fixed label
    centroids; l79 closes the loop: assign -> recompute centroids ->
    re-assign).  Cosine assignment is scale-invariant in the centroid,
    so the unnormalized decimal-exact mean is a valid spherical-k-means
    update.  Output is the (true_label, cluster) census after the second
    assignment — the oracle unrolls both iterations in SQL with the same
    decimal centroid math and (cos DESC, cluster) tie-break.

    Scale: per iteration, ONE corpus scan.  Assignment is a narrow fold
    over the broadcast 10x64 centroid row (zero data-sized exchange,
    l47's shape); the update shuffles (cluster, dim) cells — 640 rows of
    partial sums regardless of N.  Lloyd at 100 TB is exactly this loop
    with the iteration count bounded by the curriculum, not the data."""
    from google_analytics_dataframes_spark.operators.similarity import (
        as_double,
        label_centroids,
    )

    # Round 14 (guide §1/§5): the logical loop reads the vector relation
    # FOUR times (init centroids; assign-1 feeding both the centroid
    # update and assign-2).  Unpersisted, each reference re-ran the
    # parquet scan + float->double widening — the before-plan carries 4
    # embeddings scans — so one Lloyd "iteration" paid ~2 corpus passes.
    # Materialize the working set once (the standard Lloyd posture:
    # MLlib's KMeans persists its norm-augmented input for exactly this
    # reason) and every downstream pass is a narrow fold over the
    # in-memory relation: ONE parquet scan per run — 2.48 -> 1.81 s
    # median (cold 6.8 -> 3.2 s), same-window 5-rep A/B at sf0.1
    # (`git show 0dd433a:plans/r14/l79_kmeans_lloyd_{before,after}.txt`).
    # Same ContextCleaner cleanup contract as l11's checkpoint note.
    emb = (
        T(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("label").alias("true_label"),
            as_double("embedding").alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    # init = label centroids (cl := label), then two Lloyd rounds.
    # label_centroids' as_double over the already-widened v is an exact
    # no-op (double->double cast), so the init centroids are bitwise
    # identical to the former fresh-scan form.
    cent0 = (
        label_centroids(
            emb.select(F.col("true_label").alias("label"), F.col("v").alias("embedding"))
        )
        .select(F.struct(F.col("label").alias("cl"), "centroid").alias("c"))
        .agg(F.sort_array(F.collect_list("c")).alias("cents"))
    )
    a1 = _kmeans_assign(emb, cent0).localCheckpoint(eager=True)
    cent1 = _cluster_centroids(a1)
    a2 = _kmeans_assign(a1.drop("cl"), cent1)
    return a2.groupBy("true_label", F.col("cl").alias("cluster")).agg(
        F.count("*").alias("n_vectors")
    )


# --------------------------------- round-12 10x slice-audit twins ----------
# l55b and l70b complete the within-corpus pair family's 10x evidence
# (VERDICT r11 item #3) — the family note, the shared residue constants
# AND the shared sliced-pairs oracle CTE live in queries/llm_ops.py next
# to _src5_sliced_pairs (module-level import is safe: llm_ops never
# imports corpus_ops, and queries/__init__ loads llm_ops first).
from google_analytics_dataframes_spark.queries.llm_ops import (  # noqa: E402
    _ASLICE_MOD,
    _ASLICE_RES,
    _SLICED_SRC5_PAIRS_CTE,
)


@register(
    "l55b_pair_token_f1_slice",
    oracle=f"""
    WITH {_SLICED_SRC5_PAIRS_CTE},
    tc AS (SELECT doc_id, token, COUNT(*) AS c
           FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
                 FROM docs5)
           GROUP BY doc_id, token),
    tn AS (SELECT doc_id, SUM(c) AS n FROM tc GROUP BY doc_id),
    ov AS (SELECT p.doc_a, p.doc_b, SUM(LEAST(ta.c, tb.c)) AS overlap
           FROM pairs p
           JOIN tc ta ON ta.doc_id = p.doc_a
           JOIN tc tb ON tb.doc_id = p.doc_b AND tb.token = ta.token
           GROUP BY p.doc_a, p.doc_b)
    SELECT o.doc_a, o.doc_b, CAST(o.overlap AS BIGINT) AS overlap,
           round(o.overlap / CAST(nb.n AS DOUBLE), 6) AS precision_b,
           round(o.overlap / CAST(na.n AS DOUBLE), 6) AS recall_a,
           round(2.0 * o.overlap / CAST(na.n + nb.n AS DOUBLE), 6) AS token_f1
    FROM ov o
    JOIN tn na ON na.doc_id = o.doc_a
    JOIN tn nb ON nb.doc_id = o.doc_b
    """,
)
def l55b_pair_token_f1_slice(spark, sf_dir):
    """l55's token-multiset F1 verifier over the SLICED candidate pair
    set (llm_ops._src5_sliced_pairs — shared with l12b/l29b/l33b/l44b,
    one physical computation per sweep): the token-count side is linear
    and identical to l55; only the candidate generation consumes the
    residue slice that makes the oracle 10x-runnable."""
    from google_analytics_dataframes_spark.queries.llm_ops import (
        _src5_sliced_pairs,
    )

    docs5 = (
        T(spark, sf_dir, "documents")
        .filter(F.col("source") == "src5")
        .select("doc_id", "text")
    )
    tc = (
        fanout_by(docs5, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("c"))
    )
    tn = tc.groupBy("doc_id").agg(F.sum("c").cast("long").alias("n"))
    pairs = _src5_sliced_pairs(spark, sf_dir).select("doc_a", "doc_b")
    ta = tc.select(
        F.col("doc_id").alias("doc_a"), "token", F.col("c").alias("ca")
    )
    tb = tc.select(
        F.col("doc_id").alias("doc_b"), "token", F.col("c").alias("cb")
    )
    ov = (
        ta.join(F.broadcast(pairs), "doc_a")
        .join(tb, ["doc_b", "token"])
        .groupBy("doc_a", "doc_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("overlap"))
    )
    na = tn.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = tn.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        ov.join(F.broadcast(na), "doc_a")
        .join(F.broadcast(nb), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "overlap",
            F.round(F.col("overlap") / F.col("nb").cast("double"), 6).alias(
                "precision_b"
            ),
            F.round(F.col("overlap") / F.col("na").cast("double"), 6).alias(
                "recall_a"
            ),
            F.round(
                F.lit(2.0) * F.col("overlap")
                / (F.col("na") + F.col("nb")).cast("double"),
                6,
            ).alias("token_f1"),
        )
    )


@register(
    "l70b_editdist_slice",
    oracle=f"""
    WITH t AS (SELECT doc_id, substr(text, 1, {_ED_PFX}) AS title
               FROM documents WHERE len(text) >= {_ED_PFX})
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.title, b.title) AS INTEGER) AS dist
    FROM t a JOIN t b
      ON a.doc_id < b.doc_id
     AND a.doc_id % {_ASLICE_MOD} = {_ASLICE_RES}
     AND levenshtein(a.title, b.title) <= {_ED_K}
    """,
)
def l70b_editdist_slice(spark, sf_dir):
    """l70's PassJoin edit-distance join with the INDEX side residue-
    sliced (the probe side — full-corpus candidate generation — stays
    whole): the oracle's quadratic levenshtein evaluation divides by 20,
    making the family's last member 10x-runnable.  Losslessness is
    per-pair (any b within k edits of a sliced a still contains one of
    a's segments in a +-k window), so the slice cannot cost recall."""
    docs = T(spark, sf_dir, "documents")
    titles = fanout_by(
        docs.filter(F.length("text") >= _ED_PFX).select(
            "doc_id", F.substring("text", 1, _ED_PFX).alias("title")
        ),
        "doc_id",
    )
    return _editdist_pairs(
        titles.filter(F.col("doc_id") % _ASLICE_MOD == _ASLICE_RES), titles
    )
