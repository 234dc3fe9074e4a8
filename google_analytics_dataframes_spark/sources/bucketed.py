"""Bucketed-table layout for co-located, shuffle-free joins (SURVEY.md §4.2
"Partitioning & shuffle"; 100-TB posture BASELINE.json:6).

At 100 TB the dominant cost of the star-schema joins (orders x lineitem,
events x users) is the shuffle of both fact tables on the join key.  Writing
both sides bucketed BY THE SAME key into the SAME number of buckets makes the
join a per-bucket zip: Catalyst sees compatible `HashPartitioning` output from
both scans and plans a SortMergeJoin with ZERO Exchange operators — verified
by `tests/test_plans.py::test_bucketed_join_has_no_exchange`.

Bucket-count sizing: buckets are fixed at write time, so size them for the
TARGET scale — `rows_at_scale / rows_per_task` (e.g. 100 TB of lineitem at
~128 MB per bucket file per partition ≈ tens of thousands of buckets), not for
the toy factor.  Too few buckets at scale = giant tasks; AQE cannot re-split a
bucketed scan.

Requires a persistent metastore table (:func:`write_bucketed`) — bucket
metadata lives in the catalog, not the parquet footers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from google_analytics_dataframes_spark.session import state


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    path: str | None = None,
    options: dict | None = None,
) -> None:
    """Persist ``df`` bucketed (and optionally sorted) by ``bucket_col``.

    Sorting within buckets lets the later SortMergeJoin skip its sort too
    (plans collapse to scan -> join).  ``options`` forwards writer options
    (e.g. ``parquet.block.size`` — tests shrink it to reproduce, at toy
    scale, the many-row-groups-per-file structure a production-sized
    bucket file has naturally)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    if path is not None:
        w = w.option("path", path)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.format("parquet").saveAsTable(table)


# Stored dedup and ANN indexes: the corpus side of the incremental near-dup
# join (and the IVF quantizer) materialized ONCE, so every subsequent ingest
# batch or probe reads the STORED index — no per-run recomputation of corpus
# signatures, no corpus-side shuffle.  The gram index is a bucketed catalog
# table (bucket metadata lives only in the catalog); the mask and IVF
# indexes are io.staged_dir fixtures.  Every index and stats result below is
# memoized in the session's state (session.state) under (kind, dataset,
# fingerprint, ...), so a new session, another sf, or regenerated testdata
# rebuilds.


def gram_index_table(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8
) -> str:
    """Materialize (or reuse) the corpus-side char-3-gram signature index
    as a bucketed catalog table and return its name.

    Schema ``(doc_id, item, sz)``: one row per (corpus doc, distinct
    3-gram), with ``sz`` the doc's distinct-gram count denormalized onto
    every row so the verify step never joins back to a per-doc table.
    Bucketed AND sorted by ``item`` — the candidate-join key — so (a) an
    incoming batch joins with a ONE-SIDED exchange (only the batch
    moves; the 100-TB corpus index is already hash-placed), and (b)
    within each bucket file the sorted order gives parquet row groups
    narrow, disjoint ``item`` min/max ranges, so point/range predicates
    on the gram key prune row groups via footer stats alone
    (tests/test_plans.py::test_gram_index_row_groups_prunable).

    Bucket-count note (same as :func:`write_bucketed`): 8 suits the toy
    SFs; at the 100 TB target the index would be written with
    thousands of buckets sized ~128 MB each — the count is a caller
    decision fixed at write time."""
    from google_analytics_dataframes_spark.io import (
        scratch_dir,
        table_fingerprint,
    )

    fp = table_fingerprint(sf_dir, "documents")
    memo = state(spark)
    key = ("gram_index", os.path.abspath(sf_dir), fp)
    cached = memo.get(key)
    if cached is not None and spark.catalog.tableExists(cached):
        return cached
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    table = f"gram_index_{sf_tag}_{fp}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    write_bucketed(
        corpus_gram_relation(spark, sf_dir),
        table,
        "item",
        n_buckets,
        sort_col="item",
        path=os.path.join(scratch_dir("gram_index"), table),
    )
    memo[key] = table
    return table


def _session_memo(spark: SparkSession, sf_dir: str, table: str, key: tuple, build):
    """Serve ``build()`` at most once per session for ``sf_dir`` as it is
    now: the memo key is ``key`` (kind first, then the caller's
    parameters) plus the dataset's absolute path and ``table``'s byte
    fingerprint, so another sf or a table rewritten in place misses.  A
    ``None`` result is memoized like any other."""
    from google_analytics_dataframes_spark.io import table_fingerprint

    memo = state(spark)
    full = (key[0], os.path.abspath(sf_dir), table_fingerprint(sf_dir, table), *key[1:])
    if full not in memo:
        memo[full] = build()
    return memo[full]


def _bounded_vocab(items: DataFrame, max_vocab: int) -> list | None:
    """The sorted distinct ``item`` values, or None past ``max_vocab``.
    The probe never holds more than ``max_vocab + 1`` rows on the driver,
    whatever the corpus."""
    rows = items.select("item").distinct().limit(max_vocab + 1).collect()
    if len(rows) > max_vocab:
        return None
    return sorted(r["item"] for r in rows)


def mask_index(
    spark: SparkSession, sf_dir: str, max_vocab: int = 4096
) -> tuple[DataFrame, DataFrame] | None:
    """The corpus dedup index in its BITMASK form — the physical strategy
    that wins on bounded-vocabulary corpora (see
    operators/dedup.jaccard_pairs_cross: in that regime every frequent
    gram co-occurs in nearly every cross pair, so an inverted-index join
    enumerates Theta(|batch| x |corpus|) candidate rows through a shuffle
    ANYWAY; packed-mask compares do the same pair work at a ~100x smaller
    constant with ZERO corpus shuffle).  Returns ``(vocab, masks)``
    DataFrames, or None when the corpus gram vocabulary exceeds
    ``max_vocab`` — the caller then falls back to the bucketed gram-table
    index (:func:`gram_index_table`), whose prefix/index joins are the
    large-vocabulary regime's strategy.

    * ``vocab`` — (item, vid): the frozen dictionary.  Incremental
      batches encode THEIR grams against it; a batch gram absent from the
      corpus vocabulary cannot intersect any corpus doc, so it is dropped
      from the mask but still counted in the batch doc's set size —
      lossless for cross-pair Jaccard.
    * ``masks`` — (doc_id, sz, m0..mN): each corpus doc's distinct gram
      set packed into ceil(V/64) longs via the SAME aggregation the
      in-session strategy uses (operators/dedup.packed_mask_aggs), plus
      its distinct-gram count.  ~8V/64 bytes per doc regardless of text
      size; the whole 100 TB corpus reduces to a scan-only table that
      never shuffles and never re-reads text.

    Both are published once per documents fingerprint through
    :func:`io.staged_dir` (``dedup_vocab``, ``dedup_masks``) and read
    back as parquet scans; the session memo holds the read frames, or the
    over-``max_vocab`` None.  The vocabulary probe runs once per session:
    it decides the regime before anything is published."""
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import staged_dir
    from google_analytics_dataframes_spark.operators.dedup import (
        packed_mask_aggs,
    )

    def build():
        grams = corpus_gram_relation(spark, sf_dir)
        vocab = _bounded_vocab(grams, max_vocab)
        if vocab is None:
            return None
        vdf = spark.createDataFrame(
            [(v, i) for i, v in enumerate(vocab)], ["item", "vid"]
        )
        masks = (
            grams.join(F.broadcast(vdf), "item")
            .groupBy("doc_id", "sz")
            .agg(*packed_mask_aggs((len(vocab) + 63) // 64))
        )
        return tuple(
            spark.read.parquet(staged_dir(sf_dir, "documents", name, write))
            for name, write in (
                ("dedup_vocab", vdf.coalesce(1).write.parquet),
                ("dedup_masks", masks.write.parquet),
            )
        )

    return _session_memo(spark, sf_dir, "documents", ("mask_index", max_vocab), build)


def ivf_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The embedding-side IVF index, stored, as ``(centroids, cells)``
    DataFrames — the l69 treatment applied to vectors: l14-class queries
    recompute the coarse quantizer (a posexplode + 640-cell decimal
    aggregation over the whole corpus) on EVERY query, which at 100 TB is
    the expensive half of ANN; here it is paid once at index-build time.

    * ``centroids`` — (label, centroid double[64]): the coarse quantizer,
      byte-identical to :func:`operators.similarity.label_centroids`
      output (same exact-decimal mean, so a stored-index probe returns
      the SAME answer as l14's per-run build; doubles round-trip parquet
      losslessly).  |cells| rows — broadcastable at any corpus size.
    * ``cells`` — the vector assignments written ``partitionBy(cell)``:
      probing nprobe cells is a PARTITION-PRUNED read (Catalyst's dynamic
      partition pruning turns the broadcast probe-side join into a
      scan-time partition filter — asserted in tests/test_plans.py), so
      query cost is O(probed cells), never a corpus scan.  Cell = label
      here, matching l14's quantizer; a trained quantizer would assign
      argmin-distance cells in the same layout.

    Both are published once per embeddings fingerprint through
    :func:`io.staged_dir` (``ivf_centroids``, ``ivf_cells``); the session
    memo holds the read frames.  At the 100 TB target each cell
    partition would itself be written as multiple ~128 MB files (the
    writer's maxRecordsPerFile lever); the layout — quantizer small and
    broadcastable, vectors hash-placed by cell — is the scale contract."""
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table, staged_dir
    from google_analytics_dataframes_spark.operators.similarity import (
        label_centroids,
    )

    def build():
        emb = load_table(spark, sf_dir, "embeddings")
        cells = emb.select("vec_id", "embedding", F.col("label").alias("cell"))
        return tuple(
            spark.read.parquet(staged_dir(sf_dir, "embeddings", name, write))
            for name, write in (
                ("ivf_centroids", label_centroids(emb).coalesce(1).write.parquet),
                ("ivf_cells", cells.write.partitionBy("cell").parquet),
            )
        )

    return _session_memo(spark, sf_dir, "embeddings", ("ivf_index",), build)


def dedup_cross_stats(
    spark: SparkSession, sf_dir: str, max_vocab: int = 4096
) -> dict:
    """The dedup index's CROSS-JOIN statistics, computed once per session
    and documents fingerprint: a COMPLETE ``stats`` dict for
    :func:`operators.dedup.jaccard_pairs_cross` — ``{"n_items", "vocab",
    "n_in_docs"}`` with ``n_in_docs`` always present: a stats dict
    missing ``n_in_docs`` forces the operator to count the incoming
    side's docs with a full scan of the unpersisted input lineage —
    exactly the probe job the stats exist to skip.

    * ``n_items`` — the incoming slice's (doc, distinct-gram) rows
      (``length(source) == 5``, the batch side of the l60/l69/l75
      family) plus the corpus side's (``length(source) == 4``, the side
      :func:`corpus_gram_relation` indexes).
    * ``n_in_docs`` — the incoming slice's doc count.
    * ``vocab`` — the UNION vocabulary over both sides (the operator
      validates coverage before the bitmask path may run; a corpus-only
      vocabulary would spuriously fail that check on any batch gram the
      corpus lacks), or None past ``max_vocab`` — the operator then
      routes to a candidate-generation strategy, same regime logic as
      :func:`mask_index`."""
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    def build():
        docs = load_table(spark, sf_dir, "documents")
        grams = docs.filter(F.length("source").isin(4, 5)).select(
            "doc_id",
            F.length("source").alias("_side"),
            F.explode(char_ngrams(F.col("text"), 3)).alias("item"),
        )
        grams = grams.persist()
        counts = grams.groupBy().agg(
            F.count_distinct(
                F.when(F.col("_side") == 5, F.col("doc_id"))
            ).alias("n_in_docs"),
            # coalesce: SUM over zero rows is NULL, and a corpus with no
            # length-4/5 sources must yield zeros, not a TypeError at the
            # int() below
            F.coalesce(
                F.sum((F.col("_side") == 5).cast("long")), F.lit(0)
            ).alias("n_in_items"),
            F.coalesce(
                F.sum((F.col("_side") == 4).cast("long")), F.lit(0)
            ).alias("n_ex_items"),
        ).head()
        vocab = _bounded_vocab(grams, max_vocab)
        grams.unpersist()
        return {
            "n_items": int(counts["n_in_items"]) + int(counts["n_ex_items"]),
            "vocab": vocab,
            "n_in_docs": int(counts["n_in_docs"]),
        }

    return dict(
        _session_memo(
            spark, sf_dir, "documents", ("dedup_cross_stats", max_vocab), build
        )
    )


def simjoin_token_stats(
    spark: SparkSession,
    sf_dir: str,
    mod: int,
    res: int,
    max_vocab: int = 4096,
) -> dict:
    """The l7-family WORD-TOKEN statistics, computed once per session and
    documents fingerprint — the within/cross Jaccard routers' strategy
    inputs, served from the session memo instead of per-run probe jobs
    (l7's corpus IS the fingerprinted documents table, so its router
    stats are table metadata, not per-query discovery).

    One dict per (slice, max_vocab) over the ENGLISH slice's
    distinct-word-token relation — the exact items streams l7 (within:
    all en docs) and l7b (cross: ``doc_id % mod == res`` incoming vs all
    en existing) build:

    * ``n_items``       — (doc, distinct token) rows over all en docs
    * ``n_slice_items`` — same, restricted to the residue slice
    * ``n_slice_docs``  — distinct doc_id in the slice (the cross form's
      ``n_in_docs`` broadcast-cap input)
    * ``vocab``         — the full token vocabulary when <= max_vocab,
      else None (the routers then take candidate-generation strategies)

    Tokenization is operators/dedup.tokens — byte-identical to the query
    side, and the union vocabulary of slice+corpus equals the corpus
    vocabulary because the slice is a subset.  Coverage of a served
    vocab is still enforced IN-PLAN by the operators' _guarded_masks, so
    a stale-but-wrong value can never silently mis-pair (it fails the
    query loudly)."""
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.dedup import tokens

    def build():
        toks = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("lang") == "en")
            .select(
                "doc_id",
                F.explode(F.array_distinct(tokens("text"))).alias("item"),
            )
            .persist()
        )
        counts = toks.groupBy().agg(
            F.coalesce(F.count("*"), F.lit(0)).alias("n_items"),
            F.coalesce(
                F.sum((F.col("doc_id") % mod == res).cast("long")), F.lit(0)
            ).alias("n_slice_items"),
            F.coalesce(
                F.count_distinct(
                    F.when(F.col("doc_id") % mod == res, F.col("doc_id"))
                ),
                F.lit(0),
            ).alias("n_slice_docs"),
        ).head()
        vocab = _bounded_vocab(toks, max_vocab)
        toks.unpersist()
        return {
            "n_items": int(counts["n_items"]),
            "n_slice_items": int(counts["n_slice_items"]),
            "n_slice_docs": int(counts["n_slice_docs"]),
            "vocab": vocab,
        }

    return dict(
        _session_memo(
            spark, sf_dir, "documents", ("simjoin_stats", mod, res, max_vocab), build
        )
    )


def corpus_gram_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-side signature relation the gram index stores: one row
    per (existing-corpus doc, distinct char-3-gram) with the per-doc
    distinct-gram count denormalized on.  Shared by
    :func:`gram_index_table` and the row-group-layout evidence test
    (tests/test_plans.py::test_gram_index_row_groups_prunable) so the
    tested bytes are built by the same lineage the query reads."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.dedup import char_ngrams

    # ONE shared gram builder (operators/dedup.char_ngrams) for the stored
    # index AND every query that joins against it — the tokenizers must
    # stay byte-identical or the stored pair set silently diverges from
    # the per-run one (code-review finding, round 8)
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(F.length("source") == 4)
        .select("doc_id", F.explode(char_ngrams(F.col("text"), 3)).alias("item"))
        .withColumn("sz", F.count("*").over(W.partitionBy("doc_id")))
    )
