"""One banded candidate join for the LSH operators: MinHash
(``dedup_minhash_lsh``), SimHash (``dedup_simhash``) and random-hyperplane
cosine (``lsh_cosine_neardup``).

Each caller turns a row into an id plus an array of band keys; two rows
are candidates when they hold the same key in the same band. The join is
an equi-join on ``(band, key)``, so candidates only meet inside one bucket
and there is no all-pairs blowup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def band_join(rows: DataFrame, id_col: str, n_bands: int,
              on: Column | None = None) -> DataFrame:
    """Candidate pairs of ``rows`` that share a band key, each pair once.

    ``rows`` holds ``id_col``, a ``keys`` array of ``n_bands`` band keys and
    any payload. A row's keys are all null (it pairs with nothing) or none
    is. The result is the join of two aliases, ``a`` and ``b``, with
    ``a.<id_col> < b.<id_col>``; callers select from ``a.*`` and ``b.*``.
    ``on`` is an extra pair predicate over the two aliases (SimHash's
    Hamming bound), evaluated inside the join.

    One emission per pair: a pair sharing k bands would meet k times. The
    join condition also requires every band below the current one to hold
    different keys, so a pair is emitted only at its lowest shared band
    and no caller needs a dedup exchange (SimHash at 50k docs keeps ~10⁸
    pair rows after its Hamming bound). The earlier-band test is unrolled
    into ``n_bands - 1`` element comparisons, not a higher-order function,
    so it stays inside the join's generated code.

    One materialization: both sides of the self-join read the banded rows.
    With one side broadcast there is no pair of identical exchanges for
    ReusedExchange to share, so without a cut each side re-runs the
    caller's corpus-wide signature aggregation (or its signature matmul).
    The cut is a lazy ``localCheckpoint``. Against
    ``persist(MEMORY_AND_DISK)`` at sf0.1 on 4 cores (``bench_extra.py
    --reps 3``, three interleaved runs, range of the best-of-3 figures):

    ========  ==========  ==========
    leaf      checkpoint  persist
    ========  ==========  ==========
    MinHash   4.3-5.3 s   1.1-1.8 s
    SimHash   2.6-3.3 s   1.9-2.2 s
    cosine    5.1-5.9 s   3.3-4.5 s
    ========  ==========  ==========

    The persist figures are not a cheaper join. A persisted plan stays in
    the session's cache manager after its result is dropped, so the
    second and third call of a run re-read the first call's rows; the
    first call of each run was no faster (MinHash 12.2-14.1 s checkpoint,
    14.1-15.2 s persist). That entry is a leak, while checkpointed blocks
    are freed with the frame. The cost of the checkpoint: blocks lost with
    an executor are not recomputed, so the query fails instead.
    """
    banded = rows.select("*", F.posexplode("keys").alias("band", "key"))
    banded = banded.localCheckpoint(eager=False)
    a, b = banded.alias("a"), banded.alias("b")
    cond = ((F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
    if on is not None:
        cond = cond & on
    for i in range(n_bands - 1):
        cond = cond & ((F.col("a.band") <= i)
                       | (F.col("a.keys")[i] != F.col("b.keys")[i]))
    return a.join(b, cond)
