"""Skew-key salting for hot join keys (north_rule: "salted sort-merge joins
keyed on join-condition references", "skew-key salting on hot subjects").

AQE's skew-join split (`spark.sql.adaptive.skewJoin.enabled`, on by default
in our sessions) handles most skew at runtime; explicit salting is for the
pathological celebrity-key case where one key exceeds a single task even
after AQE splits — the left (large/skewed) side gets a random-ish salt from
a hash of its full row, the right side is replicated ``salt`` times.
"""

from __future__ import annotations

from typing import List

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


def top_heavy_keys(df: DataFrame, key: str, threshold_rows: int) -> List:
    """Diagnostic: keys whose row count exceeds a per-task threshold —
    candidates for salting. Driver-side list; run on SAMPLES at scale:
    the groupBy's key space is the column's full cardinality, so at
    100 TB sample first and scale the threshold by the sampled
    fraction — a heavy key is heavy in any uniform sample::

        frac = 0.001
        hot = top_heavy_keys(df.sample(frac, seed=7), "domain",
                             threshold_rows=int(5_000_000 * frac))
        out = salted_join(df, dims, df.domain == dims.d_domain,
                          salt=32 if hot else 1)

    (AQE's skew-join handles most cases without this; use it for the
    write-side exchanges AQE does not rebalance.)"""
    return [
        r[key]
        for r in df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > threshold_rows)
        .collect()
    ]
