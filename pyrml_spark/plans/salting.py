"""Skew-key salting for hot join keys (north_rule: "salted sort-merge joins
keyed on join-condition references", "skew-key salting on hot subjects").

AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on by default
in our sessions) handles most skew at runtime; explicit salting is for the
pathological celebrity-key case where one key exceeds a single task even
after AQE splits — the left (large/skewed) side gets a random-ish salt from
a hash of its full row, the right side is replicated ``salt`` times.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted_join(left: DataFrame, right: DataFrame, on: Column, salt: int,
                how: str = "inner") -> DataFrame:
    """``left.join(right, on, how)``, with the right side replicated over
    ``salt`` buckets when ``salt > 1``.

    ``on`` may be any join condition over the two sides' column names
    (the RML compiler passes its null-safe multi-key condition). The
    bucket columns are ``__salt_l`` and ``__salt_r``, so the two sides'
    own columns must not use those names. The join strategy is Spark's:
    a salted side small enough under ``spark.sql.autoBroadcastJoinThreshold``
    is still broadcast.

    Deterministic: the left salt comes from xxhash64 over all left columns
    (not a RNG), so retries/recomputation produce identical partitions —
    required for checkpoint resumability."""
    if salt <= 1:
        return left.join(right, on, how)
    l = left.withColumn(
        "__salt_l",
        F.pmod(F.xxhash64(*[F.col("`" + c.replace("`", "``") + "`")
                            for c in left.columns]),
               F.lit(salt)).cast("int"),
    )
    r = right.withColumn(
        "__salt_r", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    out = l.join(r, on & (F.col("__salt_l") == F.col("__salt_r")), how)
    return out.drop("__salt_l", "__salt_r")
