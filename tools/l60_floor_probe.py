#!/usr/bin/env python
"""l60 dense-vocab corner: measure the ENUMERATION FLOOR (VERDICT r5 item
#6, carried from r4).

l60's adversarial regime (the Caesar-synth word-salad corpus) qualifies
essentially every (incoming, existing) pair, so the ANSWER is
Theta(|batch| x |corpus|) rows (~625M at synth-sf1) and the operator's
~449 s there has been documented as "the cost of emitting the answer, not
finding it".  This probe makes that claim falsifiable: it times a plan
that does NOTHING but enumerate the same output cardinality — a cross
join of the two distinct doc-id sets with constant metric columns,
through the same noop sink — i.e. the cheapest conceivable "algorithm"
that still produces the required rows.  If l60's measured time is within
a small factor of this floor, the 449 s is the answer's cost; if the
floor is far below, the routing/verify path owes the difference.

Usage: python tools/l60_floor_probe.py [--synth]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import (
        DEFAULT_SF_DIR,
        TESTDATA_DIR,
        load_table,
    )
    from google_analytics_dataframes_spark.registry import registry
    from google_analytics_dataframes_spark.session import get_spark

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import scaling_probe as SPm

    spark = get_spark(app_name="l60_floor")
    spark.sparkContext.setLogLevel("ERROR")
    if "--synth" in sys.argv:
        sf_dir = SPm.build_synth(spark, os.path.join(TESTDATA_DIR, "sf0.1"))
    else:
        sf_dir = DEFAULT_SF_DIR

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    inc = docs.filter(F.length("source") == 5).select(
        F.col("doc_id").alias("doc_in")
    )
    ex = docs.filter(F.length("source") == 4).select(
        F.col("doc_id").alias("doc_ex")
    )
    n_in, n_ex = inc.count(), ex.count()

    # The floor plan: enumerate |batch| x |corpus| rows with the same
    # 5-column shape l60 emits, zero per-pair math.  (The true answer is a
    # subset of this; on the word-salad corpus it is almost all of it.)
    floor_df = inc.crossJoin(ex).select(
        "doc_in",
        "doc_ex",
        F.lit(1).cast("long").alias("inter"),
        F.lit(1).cast("long").alias("uni"),
        F.lit(1.0).alias("jaccard"),
    )

    def t(df) -> float:
        t0 = time.time()
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    t(inc.crossJoin(ex).select("doc_in"))  # warm the cross-join codegen
    floor = t(floor_df)

    t0 = time.time()
    l60 = registry()["l60_incremental_neardup"].fn(spark, sf_dir)
    l60.write.format("noop").mode("overwrite").save()
    real = time.time() - t0

    out = {
        "sf_dir": sf_dir,
        "n_incoming": n_in,
        "n_existing": n_ex,
        "pairs_enumerated": n_in * n_ex,
        "floor_sec": round(floor, 1),
        "l60_sec": round(real, 1),
        "ratio": round(real / floor, 2) if floor else None,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
