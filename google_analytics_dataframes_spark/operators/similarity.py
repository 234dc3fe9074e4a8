"""Vector similarity operators over `embeddings(vec_id, embedding float[64],
label)` (SURVEY.md §2.11 l3/l4, extensions l13/l14; PAPERS.md:7-8 top-k
similarity search).

Design for 100 TB:
* Brute-force cosine is the *correctness baseline* (O(N) per query, scan-
  parallel, no shuffle: the query vector is a broadcast literal).
* The scale paths cut candidates before the expensive math: random-
  hyperplane LSH buckets (`signature`) turn near-dup detection into an
  equi-join, and IVF (coarse quantizer = per-label centroids here) probes
  only `nprobe` partitions — both are shuffle-on-small-keys plans.
* All dot products run as JVM-side `aggregate(zip_with(...))` fold —
  sequential over the array, bit-reproducible, no Python in the loop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import fanout


def as_double(vec: Column | str) -> Column:
    """float[] -> double[] (exact widening) so accumulation is f64 on both
    engines."""
    vec = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB list_dot_product order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


def brute_force_topk(emb: DataFrame, query_vec_id: int, k: int) -> DataFrame:
    """Exact top-k cosine against one stored vector.  The 1-row query side
    is broadcast — the big side is scanned once, no shuffle until the final
    TakeOrderedAndProject."""
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        as_double("embedding").alias("qv")
    )
    a = as_double(F.col("embedding"))
    b = F.col("qv")
    return (
        emb.crossJoin(F.broadcast(q))
        .select("vec_id", F.round(cosine(a, b), 4).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid vectors: posexplode to (label, dim, x), exact
    decimal mean per cell, re-assemble ordered arrays.  One shuffle on
    (label, dim) — 640 cells regardless of N."""
    cells = emb.select(
        "label", F.posexplode(as_double("embedding")).alias("dim", "x")
    ).groupBy("label", "dim").agg(
        (F.sum(F.col("x").cast("decimal(30,15)")).cast("double") / F.count("x")).alias(
            "cx"
        )
    )
    return cells.groupBy("label").agg(
        F.array_sort(F.collect_list(F.struct("dim", "cx"))).alias("_cells")
    ).select(
        "label", F.transform("_cells", lambda s: s.getField("cx")).alias("centroid")
    )


def ivf_topk(emb: DataFrame, query_vec_id: int, k: int, nprobe: int = 2) -> DataFrame:
    """IVF-style ANN: coarse quantizer = label centroids; probe the nprobe
    nearest cells; brute-force only inside them.  At 100 TB the per-cell
    scan is a partition-pruned read (data written partitionBy(cell))."""
    cents = label_centroids(emb)
    q = emb.filter(F.col("vec_id") == query_vec_id).select(
        as_double("embedding").alias("qv")
    )
    probe = (
        cents.crossJoin(F.broadcast(q))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("ccos"))
        .orderBy(F.col("ccos").desc(), "label")
        .limit(nprobe)
        .select("label")
    )
    cand = emb.join(F.broadcast(probe), "label")
    a = as_double(F.col("embedding"))
    return (
        cand.crossJoin(F.broadcast(q))
        .select("vec_id", "label", F.round(cosine(a, F.col("qv")), 4).alias("cos"))
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def ivf_topk_stored(
    centroids: DataFrame,
    cells: DataFrame,
    query_vec: DataFrame,
    k: int,
    nprobe: int = 2,
) -> DataFrame:
    """:func:`ivf_topk` against a STORED index (the ``centroids`` and
    ``cells`` frames of sources/bucketed.ivf_index) instead of a per-run
    quantizer build: the coarse step reads the stored centroids (|cells|
    rows, broadcastable) and the fine step joins the probed cell ids
    against the cell-PARTITIONED vectors, so Catalyst's dynamic partition pruning narrows the scan
    to the nprobe probed directories — no centroid recompute, no corpus
    scan, which at 100 TB is the difference between a query and an index
    build.  ``query_vec`` is a 1-row (qv double[]) frame from the caller
    (in a serving system the request body, not the index).

    Same answer as :func:`ivf_topk` by construction: the stored centroids
    are the same exact-decimal means round-tripped losslessly through
    parquet, and probe ordering / rerank / tiebreaks are identical."""
    probe = (
        centroids.crossJoin(F.broadcast(query_vec))
        .select("label", cosine(F.col("centroid"), F.col("qv")).alias("ccos"))
        .orderBy(F.col("ccos").desc(), "label")
        .limit(nprobe)
        .select(F.col("label").alias("cell"))
    )
    cand = cells.join(F.broadcast(probe), "cell")
    a = as_double(F.col("embedding"))
    return (
        cand.crossJoin(F.broadcast(query_vec))
        .select(
            "vec_id",
            F.col("cell").cast("int").alias("label"),
            F.round(cosine(a, F.col("qv")), 4).alias("cos"),
        )
        .orderBy(F.col("cos").desc(), "vec_id")
        .limit(k)
    )


def knn_join_blocked(emb: DataFrame, k: int = 3) -> DataFrame:
    """k-NN self-join blocked by label: pairwise cosine within each label
    block via an Arrow-batched grouped-map (numpy matmul per block), top-k
    neighbors per vector.  Blocking bounds the pair count (N²/L per block);
    the LSH/IVF prefilter replaces `label` as the blocking key at scale."""

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        # Fully-vectorized block kernel (round 11, VERDICT r10 item #3):
        # the previous form ran a PYTHON loop with one np.lexsort PER ROW
        # — O(n) interpreter-side sorts per block, which scaled with
        # block size and drove l4's 11.9 s outlier at the 10x point.
        # Sorting the block by vec_id first makes column order ==
        # ascending neighbor_id, so ONE stable argsort on -sims per block
        # reproduces the (-cos, neighbor_id) tie-break exactly.
        pdf = pdf.sort_values("vec_id")
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        ids = pdf["vec_id"].to_numpy()
        n = len(ids)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = (m @ m.T) / np.outer(norms, norms)
        np.fill_diagonal(sims, -np.inf)
        kk = min(k, n - 1)
        # Rank at EMITTED precision (round 11): ordering on the raw
        # float64 cosine let a 1-ulp summation-order skew between
        # numpy's pairwise matmul and DuckDB's sequential fold flip
        # near-tied neighbors at the 10x synth (6/60 000 cells).  The
        # rank key is the 4dp-rounded cosine — the value the row
        # emits — with the neighbor_id tie-break, so rank is a pure
        # function of emitted values and both engines agree at any
        # scale.  l3/l14/l39 already order on their rounded cos; this
        # aligns l4 with the family contract.
        order = np.argsort(-np.round(sims, 4), axis=1, kind="stable")[:, :kk]
        cos_flat = sims[np.arange(n)[:, None], order].ravel()
        return pd.DataFrame(
            {
                "label": np.full(n * kk, int(pdf["label"].iloc[0]), dtype="int64"),
                "vec_id": np.repeat(ids, kk),
                "neighbor_id": ids[order].ravel(),
                # emitted-value parity with the scalar kernel: Python
                # round (same correctly-rounded path the old per-pair
                # loop used), applied only to the 3N selected pairs
                "cos": [round(float(c), 4) for c in cos_flat],
                "rank": np.tile(np.arange(1, kk + 1), n),
            }
        )

    return emb.groupBy("label").applyInPandas(
        per_block,
        "label int, vec_id bigint, neighbor_id bigint, cos double, rank int",
    )


def hyperplane_lsh_pairs(
    emb: DataFrame,
    n_planes: int = 16,
    min_cos: float = 0.9,
    n_tables: int = 1,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate embedding pairs via random-hyperplane LSH: a fixed
    seeded hyperplane matrix signs each vector into an n_planes-bit bucket;
    only same-bucket pairs are verified with exact cosine.  Turns the O(N²)
    pair space into a partition-by-signature problem.

    Physical shape: signatures are one Arrow pass; a |buckets|-sized count
    aggregate finds signatures with >= 2 members and broadcast-semi-joins
    them back, so singleton-bucket vectors (the vast majority of a
    non-degenerate corpus) never enter the shuffle at all; the surviving
    candidates shuffle ONCE on sig and a per-bucket numpy matmul verifies
    all pairs (`applyInPandas`).  The earlier self-join formulation
    shuffled the full vector stream twice and re-ran the signature UDF per
    join side; this shape prunes before the shuffle and replaces per-pair
    HOF cosine arithmetic with a vectorized GEMM.  The hot-bucket list is
    bounded by 2^n_planes rows — broadcastable at any corpus size.  Skew
    note: a bucket of b near-identical vectors costs O(b²) inside one
    task — exactly the pair count ANY exact formulation must emit for that
    bucket; if a degenerate corpus makes one bucket dominate, raise
    n_planes (more, smaller buckets) rather than salting, which would lose
    cross-shard pairs.

    ``n_tables`` is the standard LSH recall knob: each table hashes with an
    independently seeded plane matrix, a pair is a candidate if it collides
    in ANY table (P[recall] = 1-(1-p^planes)^tables), and duplicate
    verified pairs from multiple tables collapse in a final per-pair
    aggregate.  All tables' signatures come out of ONE Arrow pass (stacked
    plane matrix, one matmul), so extra tables cost candidate volume, not
    extra corpus scans."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.vstack(
        [
            np.random.RandomState(42 + t).standard_normal((n_planes, 64))
            for t in range(n_tables)
        ]
    )

    @pandas_udf(ArrayType(LongType()))
    def signatures(col: pd.Series) -> pd.Series:
        m = np.stack(col.to_numpy()).astype("float64")
        bits = (m @ planes.T) > 0  # (rows, n_tables*n_planes)
        weights = 1 << np.arange(n_planes)
        sigs = [
            bits[:, t * n_planes : (t + 1) * n_planes].dot(weights).astype("int64")
            for t in range(n_tables)
        ]
        return pd.Series(np.stack(sigs, axis=1).tolist())

    # Round 14 (guide §4): ``sig`` feeds BOTH the hot-bucket census and
    # the candidate semi-join, and nothing materialized it — the
    # before-plan carries the ArrowEvalPython signature pass (and the
    # parquet scan under it) THREE times (hot side, candidate side, and
    # l13's probe-union branch doubles the scans again).  One eager
    # checkpoint runs the Python boundary exactly once per corpus pass;
    # every downstream reference is a JVM-side read of the checkpointed
    # relation.  Same ContextCleaner cleanup contract as l11's
    # checkpoint note (blocks reclaimed once the result frame is
    # unreachable).  Measured on l13 at sf0.1 (two A/B windows, ambient
    # waves noted): first-execution 6.6-7.9 s -> 2.6-3.2 s both windows;
    # warm median 2.71 -> 1.93 s in the cleaner pairing
    # (`git show 0dd433a:plans/r14/l13_embed_neardup_{before,after}.txt`:
    # 6 ArrowEvalPython -> 1, run once at checkpoint-build time).
    #
    # Round 15 (VERDICT r14 item #6): checkpoint BEFORE the posexplode —
    # the materialized row is (vec_id, embedding, sigs[n_tables]) so the
    # embedding vector is stored ONCE per corpus row regardless of
    # n_tables; the r14 post-explode checkpoint duplicated the full
    # vector n_tables times (the l61d anti-pattern: materialization
    # bigger than its generation) for any caller using the recall knob.
    # The explode itself is a cheap JVM Generate re-run per consumer.
    # ``materialize`` (ADVICE r14): False skips the eager checkpoint —
    # lazy lineage, UDF re-runs per consumer (pre-r14 behavior), same
    # emitted pairs.
    sig = fanout(emb).select(
        "vec_id", "embedding", signatures("embedding").alias("sigs")
    )
    if materialize:
        sig = sig.localCheckpoint(eager=True)
    sig = sig.select(
        "vec_id", "embedding", F.posexplode("sigs").alias("tbl", "sig")
    )
    hot = (
        sig.groupBy("tbl", "sig").count().filter(F.col("count") >= 2)
        .select("tbl", "sig")
    )
    candidates = sig.join(F.broadcast(hot), ["tbl", "sig"], "left_semi")

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "vec_a": np.array([], dtype="int64"),
                "vec_b": np.array([], dtype="int64"),
                "cos": np.array([], dtype="float64"),
            }
        )
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values("vec_id")
        m = np.stack(pdf["embedding"].to_numpy()).astype("float64")
        norms = np.linalg.norm(m, axis=1)
        cosm = (m @ m.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(pdf), k=1)
        cos = np.round(cosm[ia, ib], 4)
        keep = cos >= min_cos
        if not keep.any():
            return empty
        ids = pdf["vec_id"].to_numpy()
        return pd.DataFrame(
            {"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]], "cos": cos[keep]}
        )

    verified = candidates.groupBy("tbl", "sig").applyInPandas(
        verify, "vec_a bigint, vec_b bigint, cos double"
    )
    if n_tables == 1:
        return verified
    # the same pair verifies in every table it collides in; keep one row
    # (cos is identical — computed from the same two vectors)
    return verified.groupBy("vec_a", "vec_b").agg(F.max("cos").alias("cos"))


def quantize_int8(emb: DataFrame) -> DataFrame:
    """Per-dimension affine int8 quantization of the embedding column — the
    4x storage cut a 100-TB vector corpus takes before ANN indexing.
    Dimension stats (min/max) are one tiny aggregate (64 rows) broadcast
    back; codes are round((x-min)/scale) in [0,255]; the emitted per-vector
    max |reconstruction error| is bounded by scale/2 per dim.

    All exact JVM arithmetic: stats use exact decimal extrema (no float-sum
    order dependence), codes are integer rounds — the same numbers on any
    partitioning/engine."""
    cells = fanout(emb).select(
        "vec_id", F.posexplode(as_double("embedding")).alias("dim", "x")
    )
    stats = cells.groupBy("dim").agg(
        F.min("x").alias("dmin"), F.max("x").alias("dmax")
    )
    # constant dimension (dmax == dmin): scale would be 0 and every code
    # NULL via divide-by-zero; force scale 1 so code = 0 and error = 0
    scale = (
        F.when(F.col("dmax") == F.col("dmin"), F.lit(1.0))
        .otherwise((F.col("dmax") - F.col("dmin")) / 255)
        .alias("scale")
    )
    withs = cells.join(F.broadcast(stats.select("dim", "dmin", scale)), "dim")
    code = F.round((F.col("x") - F.col("dmin")) / F.col("scale")).cast("int")
    recon = F.col("dmin") + code * F.col("scale")
    return (
        withs.select(
            "vec_id",
            "dim",
            code.alias("code"),
            F.abs(F.col("x") - recon).alias("err"),
        )
        .groupBy("vec_id")
        .agg(
            F.count("*").alias("n_dims"),
            F.min("code").alias("min_code"),
            F.max("code").alias("max_code"),
            F.round(F.max("err"), 9).alias("max_abs_err"),
        )
    )
