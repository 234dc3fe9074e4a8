#!/usr/bin/env python
"""l62b eval-set scaling probe (VERDICT r5 item #4 "probe at 10x eval rows").

Semantic decontamination's cost axis is the EVAL set (the train side is a
streaming scan either way), so the probe scales eval 10x and holds train
fixed: each label-0 vector is replicated 10x under fresh ids, copy k scaled
by 2^k — power-of-two scaling preserves every sign bit (same LSH cell) and
normalizes away, so the inflated set is geometrically identical per copy
and the measurement isolates ROW-COUNT scaling from distribution shift.

Three measurements at sf0.1, warm, median of 3:
  l62_exact      — full GEMM against all eval rows (the l62 shape)
  l62b_audit     — registered l62b: prefiltered GEMM + full audit GEMM
                   (upper bound: strictly more work than l62)
  l62b_prefonly  — prefiltered GEMM alone (the production shape once the
                   audit is sampled instead of exhaustive)

Expected: l62_exact and the audit's exact half scale ~linearly with eval
rows; l62b_prefonly scales with the PROBED subset (~5/16 of eval).

Usage: python tools/l62b_eval_probe.py [--mult 10]
"""

from __future__ import annotations

import argparse
import os
import sys
import time
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import DEFAULT_SF_DIR

SF = DEFAULT_SF_DIR
POW = np.array([1, 2, 4, 8])


def build_eval(spark, mult: int) -> np.ndarray:
    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.operators.similarity import as_double

    emb = load_table(spark, SF, "embeddings")
    rows = (
        emb.filter(F.col("label") == 0)
        .select(as_double("embedding").alias("e"))
        .collect()
    )
    E = np.stack([r.e for r in rows]).astype("float64")
    return np.vstack([E * float(2**k) for k in range(mult)])


def run(spark, tr, E: np.ndarray, prefiltered: bool, audit: bool) -> float:
    En = E / np.linalg.norm(E, axis=1, keepdims=True)
    if prefiltered:
        ev_cell = (E[:, :4] >= 0).astype(int) @ POW
        mats = [
            En[np.isin(ev_cell, [c, c ^ 1, c ^ 2, c ^ 4, c ^ 8])]
            for c in range(16)
        ]
    else:
        mats = None
    bc = spark.sparkContext.broadcast((En, mats))

    def sweep(batches):
        Efull, pm = bc.value
        for pdf in batches:
            tm = np.stack(pdf["t"].to_numpy()).astype("float64")
            tcell = (tm[:, :4] >= 0).astype(int) @ POW
            tm = tm / np.linalg.norm(tm, axis=1, keepdims=True)
            if pm is None:
                mc = (tm @ Efull.T).max(axis=1)
            else:
                mc = np.full(len(tm), -2.0)
                for c in np.unique(tcell):
                    P = pm[c]
                    if P.size:
                        rows = tcell == c
                        mc[rows] = (tm[rows] @ P.T).max(axis=1)
                if audit:
                    _ = (tm @ Efull.T).max(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"], "mc": mc})

    t0 = time.time()
    tr.mapInPandas(sweep, "vec_id long, mc double").write.format("noop").mode(
        "overwrite"
    ).save()
    el = time.time() - t0
    bc.destroy()
    return el


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mult", type=int, default=10)
    ap.add_argument(
        "--train-mult",
        type=int,
        default=20,
        help="replicate the train side (2^k-scaled copies, fresh ids) so "
        "the GEMM leaves the scheduling-noise floor at sandbox SF",
    )
    args = ap.parse_args()

    from google_analytics_dataframes_spark.io import fanout, load_table
    from google_analytics_dataframes_spark.operators.similarity import as_double
    from google_analytics_dataframes_spark.session import get_spark

    spark = get_spark(app_name="l62b-eval-probe")
    base = load_table(spark, SF, "embeddings").filter(F.col("label") != 0)
    n0 = base.count()
    copies = [
        base.select(
            (F.col("vec_id") + F.lit(k * n0 * 10)).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x * F.lit(float(2 ** (k % 8))).cast("float")
            ).alias("embedding"),
        )
        for k in range(args.train_mult)
    ]
    big = copies[0]
    for c in copies[1:]:
        big = big.unionByName(c)
    tr = (
        fanout(big)
        .select("vec_id", as_double("embedding").alias("t"))
        .persist()
    )
    n_tr = tr.count()

    results = {}
    for mult in (1, args.mult):
        E = build_eval(spark, mult)
        for name, pref, audit in (
            ("l62_exact", False, False),
            ("l62b_audit", True, True),
            ("l62b_prefonly", True, False),
        ):
            run(spark, tr, E, pref, audit)  # warm
            t = median(run(spark, tr, E, pref, audit) for _ in range(3))
            results[f"{name}@{mult}x"] = round(t, 3)
            print(
                f"# eval x{mult} ({len(E)} rows, train {n_tr}): "
                f"{name} = {t:.3f}s",
                flush=True,
            )
    import json

    print(json.dumps(results))
    return 0


if __name__ == "__main__":
    sys.exit(main())
