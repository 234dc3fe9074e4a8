"""Skew-mitigation operators (SURVEY.md §4.2 "Skew & small-partition
handling"; the 100-TB posture of the task brief).

AQE's OptimizeSkewedJoin splits oversized *post-shuffle* partitions
automatically — that is the first line of defense and is on by default
(session.py).  Salting is the explicit fallback for a hot join key where
the other side is small enough to replicate per salt (salted
replicate-join, j14) — a pure DataFrame composition, deterministic
results, no RDDs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame, small: DataFrame, key: str, salt: int = 16
) -> DataFrame:
    """Equi-join resilient to a hot key on the big side: the big side gets a
    random-ish but *deterministic* per-row salt (crc32 of a unique expr mod
    salt); the small side is replicated `salt` times.  The join key becomes
    (key, salt) so the hot key's rows land on `salt` different reducers.

    Cost: |small| x salt — only worth it when AQE's skew split can't help
    (e.g. the skew is in a bucketed/bucket-pruned join AQE won't touch).
    Result == plain `big.join(small, key)` row-for-row."""
    salts = F.explode(F.sequence(F.lit(0), F.lit(salt - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn(
        "_salt",
        F.pmod(F.crc32(F.concat_ws("\x00", *[F.col(c) for c in big.columns])), F.lit(salt)),
    )
    return (
        big_salted.join(small_rep, [key, "_salt"])
        .drop("_salt")
    )
