#!/usr/bin/env python
"""Local differential harness — mirrors the driver's t2 oracle gate.

Runs each registered query's Spark DataFrame AND its DuckDB oracle SQL over
the same parquet, then compares row count, column-name set, dtypes, and
(order-insensitively) every value — exact equality, which is stricter than
any reasonable value-hash.  Mismatches print the offending columns and max
deltas so the query/oracle pair can be fixed before the driver sees it.

Usage:
    python tools/check.py                 # all O-tier queries at sf0.01
    python tools/check.py a1 a2 f3        # name prefixes
    python tools/check.py --sf /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import numpy as np
import pandas as pd


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, rows by all columns; normalize dtypes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype("bool") if not df[c].isna().any() else df[c]
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def compare(name: str, sdf: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = []
    if sorted(sdf.columns) != sorted(odf.columns):
        return [f"columns differ: spark={sorted(sdf.columns)} oracle={sorted(odf.columns)}"]
    if len(sdf) != len(odf):
        problems.append(f"row count: spark={len(sdf)} oracle={len(odf)}")
        return problems
    s, o = canon(sdf), canon(odf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sv2 = sv.astype("float64").to_numpy()
            ov2 = ov.astype("float64").to_numpy()
            both_nan = np.isnan(sv2) & np.isnan(ov2)
            eq = (sv2 == ov2) | both_nan
            if not eq.all():
                bad = ~eq
                delta = np.nanmax(np.abs(sv2[bad] - ov2[bad])) if bad.any() else 0
                problems.append(
                    f"col {c}: {bad.sum()}/{len(sv2)} float cells differ (max delta {delta:.3e}; "
                    f"e.g. {sv2[bad][:3]} vs {ov2[bad][:3]})"
                )
        else:
            eq = (sv == ov) | (sv.isna() & ov.isna())
            if not eq.all():
                bad = ~eq
                ex = list(zip(sv[bad].head(3), ov[bad].head(3)))
                problems.append(f"col {c}: {bad.sum()}/{len(sv)} cells differ (e.g. {ex})")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("patterns", nargs="*", help="query name prefixes (default: all)")
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--include-r", action="store_true", help="also run R-tier (rows-only)")
    ap.add_argument(
        "--exclude",
        nargs="*",
        default=[],
        help="EXACT query names to skip (the 10x sweep drops the twelve "
        "pair-family rows whose naive oracles exceed DuckDB's memory at "
        "the synth — each is covered by its registered slice twin)",
    )
    args = ap.parse_args()

    from google_analytics_dataframes_spark.registry import registry
    from google_analytics_dataframes_spark.session import get_spark

    reg = registry()
    excluded = set(args.exclude)
    unknown = excluded - set(reg)
    if unknown:
        # a typo'd/renamed exclude silently runs the row it meant to skip
        # (and at 10x that row's oracle kills the sweep) — fail loudly
        print(f"--exclude names not in the registry: {sorted(unknown)}")
        return 2
    names = [
        n
        for n in sorted(reg)
        if (not args.patterns or any(n.startswith(p) for p in args.patterns))
        and n not in excluded
    ]
    spark = get_spark(app_name="check")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings".split()
    ):
        path = f"{args.sf}/{t}.parquet"
        if os.path.isdir(path):  # Spark-written table dir (10x synth)
            path += "/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )

    n_pass = n_fail = n_skip = 0
    for name in names:
        q = reg[name]
        if q.oracle is None and not args.include_r:
            n_skip += 1
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, args.sf).toPandas()
        except Exception:
            print(f"FAIL {name}: spark raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        if q.oracle is None:
            ok = len(sdf) >= 0
            print(f"rows {name}: {len(sdf)} rows [{time.time()-t0:.1f}s] (R-tier)")
            n_pass += 1
            continue
        try:
            # callable oracles (rb8, s9) format their SQL for THIS sf_dir
            odf = con.execute(q.oracle_for(args.sf)).fetchdf()
        except Exception:
            print(f"FAIL {name}: duckdb raised\n{traceback.format_exc()}")
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            print(f"FAIL {name} [{time.time()-t0:.1f}s]")
            for p in problems:
                print(f"   {p}")
            n_fail += 1
        else:
            print(f"ok   {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1
    print(f"\n{n_pass} passed, {n_fail} failed, {n_skip} skipped (R/D)")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
