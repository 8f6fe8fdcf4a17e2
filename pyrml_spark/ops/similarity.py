"""Similarity search over the `embeddings` table (array<float> column).

Baseline: brute-force cosine top-k — broadcast the (small) query set against
the corpus; the dot product runs JVM-side via zip_with/aggregate (no Python
in the row path). Scale path: LSH-bucketed ANN via random-hyperplane signs —
candidates meet only inside a hash bucket, turning the all-pairs cross join
into a bucket-local join (the 100 TB design; brute force stays as the
verifier/oracle at small scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..scan import read_parquet_parallel
from .banding import band_join

N_QUERIES = 8       # vec_id < N_QUERIES are the query vectors
TOP_K = 5
SIM_DECIMALS = 6
HYPERPLANES = 12    # LSH bits


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0),
                    lambda acc, v: acc + v.cast("double") * v.cast("double"))
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def ann_cosine_topk(spark: SparkSession, sf_dir: str,
                    n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Brute-force cosine top-k: query rows (vec_id < n_queries) × corpus.

    The query side is broadcast (tiny); ranking is a per-query window.
    Deterministic tie-break on neighbor_id."""
    emb = read_parquet_parallel(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    corpus = emb.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("c_emb"))
    scored = (
        corpus.join(F.broadcast(queries),
                    F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("sim_raw"),
        )
    )
    return _two_phase_topk(scored, k)


def _two_phase_topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact distributed top-k per query over (query_id, neighbor_id,
    sim_raw) rows.

    A single window over query_id ranks the WHOLE corpus
    in n_queries reduce tasks — an 8-task bottleneck stage at any scale.
    Phase 1 pre-reduces per input partition: grouping on
    (spark_partition_id, sub_bucket, query_id) puts every row of a group
    in one map partition, so the hash aggregate completes map-side and
    only k structs per group cross the shuffle. The sub_bucket split
    (VERDICT r3 #5) bounds the collect_list buffer: without it the
    aggregate gathered a whole partition's rows per query before slicing
    (peak memory = partition rows × n_queries structs); with G sub-buckets
    the buffer is partition_rows/G — and partition rows are themselves
    capped by spark.sql.files.maxPartitionBytes, so the peak is a fixed
    config-derived constant. Phase-2 input grows to parts·G·k rows per
    query, still trivial for the window. The struct sorts as
    (-sim, neighbor_id) ascending = sim desc with neighbor_id tie-break —
    the same total order as the final window, so the global top-k is exact.
    """
    sub_buckets = 32
    local_top = (
        scored
        .groupBy(F.spark_partition_id().alias("part"),
                 F.pmod(F.xxhash64("neighbor_id"),
                        F.lit(sub_buckets)).alias("sub"),
                 "query_id")
        .agg(F.slice(
            F.sort_array(F.collect_list(F.struct(
                (-F.col("sim_raw")).alias("neg_sim"),
                F.col("neighbor_id"),
                F.col("sim_raw"),
            ))), 1, k).alias("top"))
        .select("query_id", F.explode("top").alias("t"))
        .select("query_id", F.col("t.neighbor_id").alias("neighbor_id"),
                F.col("t.sim_raw").alias("sim_raw"))
    )
    # Phase 2: global rank over ≤ n_parts·k survivors per query — trivial.
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_raw").desc(), F.col("neighbor_id").asc()
    )
    return (
        local_top.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank",
                F.round("sim_raw", SIM_DECIMALS).alias("sim"))
    )


ORACLE_ANN_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS q_emb
  FROM embeddings WHERE vec_id < {N_QUERIES}
),
c AS (
  SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS c_emb
  FROM embeddings
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q_emb, c_emb)
           / (sqrt(list_dot_product(q_emb, q_emb))
              * sqrt(list_dot_product(c_emb, c_emb))) AS sim_raw
  FROM q JOIN c ON neighbor_id != query_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(sim_raw, {SIM_DECIMALS}) AS sim
FROM ranked WHERE rank <= {TOP_K}
"""


NEARDUP_THRESHOLD = 0.4
BLOCK_ROWS = 512            # target vectors per block (test scale; at 100 TB
                            # size so a block pair's two matrices fit a task)


def embedding_cosine_neardup(spark: SparkSession, sf_dir: str,
                             threshold: float = NEARDUP_THRESHOLD,
                             block_rows: int = BLOCK_ROWS) -> DataFrame:
    """EXACT all-pairs cosine near-duplicates above a threshold, as a
    block-partitioned distributed matrix product — no BroadcastNestedLoopJoin.

    Round 1 used a non-equi self-join (``vec_a < vec_b``) which compiles to a
    cartesian BNLJ with a per-pair ``zip_with/aggregate`` dot product — the
    bench's 381 s scale-killer. Why not LSH candidates instead? At θ=0.4 the
    sign-LSH collision probability is 1-arccos(0.4)/π ≈ 0.631 per bit vs 0.5
    for unrelated pairs (Goemans–Williamson), so no (bands, bits) choice gives
    near-exact recall with sub-quadratic candidate volume — exactness at a
    *low* threshold fundamentally requires examining all pairs. The scalable
    exact design is the classic block nested-loop done right:

      * each vector → deterministic block ``pmod(xxhash64(vec_id), B)``
      * tiny (blk_a ≤ blk_b) pair table broadcast-joined against both sides
        (replication factor B per side — O(n·B) shuffled bytes, not O(n²))
      * cogrouped ``applyInPandas`` computes each block-pair's sims as ONE
        numpy/BLAS matmul (Arrow-batched, no per-pair expression overhead)
      * pandas-side pre-filter at threshold−ε keeps the UDF output linear in
        the result size; the exact round+filter runs JVM-side to mirror the
        oracle bit-for-bit.

    O(n²/P) work spread over B(B+1)/2 independent tasks; for true *near-dup*
    thresholds (≥0.8) use :func:`lsh_cosine_neardup`, which prunes.
    """
    import numpy as np
    import pandas as pd

    def _blocked(n_blocks: int) -> DataFrame:
        # fresh scan per side: the cogroup's two inputs must not share a
        # dataset lineage or Spark's ambiguous-self-join check rejects the
        # plan. The vectors travel as float32 (their storage type — every
        # value is float32-exact, so the float64 upcast inside the UDF
        # reproduces the double math bit-for-bit) which halves the bytes
        # through the B-way replicated shuffle and the Arrow boundary.
        return read_parquet_parallel(spark, f"{sf_dir}/embeddings.parquet").select(
            F.col("vec_id"),
            F.col("embedding").cast("array<float>").alias("embedding"),
            F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).cast("int")
            .alias("blk"),
        )

    # plain read for the row count: parquet answers count(*) from footer
    # metadata — routing it through the parallelism floor's round-robin
    # exchange would shuffle every row to count them
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    n_blocks = max(1, -(-n // block_rows))
    pair_rows = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    left = (
        _blocked(n_blocks)
        .join(F.broadcast(spark.createDataFrame(pair_rows,
                                                "blk_a int, blk_b int")),
              F.col("blk") == F.col("blk_a"))
        .select("blk_a", "blk_b", "vec_id", "embedding")
    )
    right = (
        _blocked(n_blocks)
        .join(F.broadcast(spark.createDataFrame(pair_rows,
                                                "blk_a int, blk_b int")),
              F.col("blk") == F.col("blk_b"))
        .select("blk_a", "blk_b", "vec_id", "embedding")
    )

    # margin below which rounding to SIM_DECIMALS could still reach threshold
    eps = 0.5 * 10 ** (-SIM_DECIMALS) + 1e-9

    def block_sims(key, lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if lpdf.empty or rpdf.empty:
            return pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                 "vec_b": pd.Series(dtype="int64"),
                                 "sim_raw": pd.Series(dtype="float64")})
        A = np.stack(lpdf["embedding"].to_numpy()).astype(np.float64)
        B = np.stack(rpdf["embedding"].to_numpy()).astype(np.float64)
        na = np.sqrt((A * A).sum(axis=1))
        nb = np.sqrt((B * B).sum(axis=1))
        sims = (A @ B.T) / np.outer(na, nb)
        ida = lpdf["vec_id"].to_numpy()
        idb = rpdf["vec_id"].to_numpy()
        keep = sims >= threshold - eps
        if key[0] == key[1]:
            # diagonal block: both sides are the same set — upper triangle
            keep &= ida[:, None] < idb[None, :]
        ai, bi = np.nonzero(keep)
        va, vb = ida[ai], idb[bi]
        # unordered pair appears in exactly one (blk_a ≤ blk_b) group, but on
        # off-diagonal groups the smaller id may sit on either side — normalize
        return pd.DataFrame({"vec_a": np.minimum(va, vb),
                             "vec_b": np.maximum(va, vb),
                             "sim_raw": sims[ai, bi]})

    out = (
        left.groupBy("blk_a", "blk_b")
        .cogroup(right.groupBy("blk_a", "blk_b"))
        .applyInPandas(block_sims,
                       "vec_a long, vec_b long, sim_raw double")
    )
    return (
        out.select("vec_a", "vec_b",
                   F.round("sim_raw", SIM_DECIMALS).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


ORACLE_COSINE_NEARDUP = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb))
            * sqrt(list_dot_product(b.emb, b.emb))), {SIM_DECIMALS}) AS sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb))
            * sqrt(list_dot_product(b.emb, b.emb))), {SIM_DECIMALS}) >= {NEARDUP_THRESHOLD}
"""


def _hyperplane(dim: int, h: int) -> list:
    """Deterministic pseudo-random hyperplane from a hash recurrence (no RNG
    at build time — reproducible across runs and engines)."""
    import hashlib
    vals = []
    for i in range(dim):
        digest = hashlib.sha256(f"hp:{h}:{i}".encode()).digest()
        x = int.from_bytes(digest[:8], "big")
        vals.append((x / 2**63) - 1.0)  # uniform-ish in [-1, 1)
    return vals


def _signature_bits(emb_col: Column, dim: int, n_bits: int,
                    first_bit: int = 0) -> Column:
    """n_bits-bit random-hyperplane sign signature as a long."""
    bucket = F.lit(0).cast("long")
    for h in range(n_bits):
        plane = _hyperplane(dim, first_bit + h)
        lit_plane = F.array(*[F.lit(v) for v in plane])
        dp = _dot(emb_col, lit_plane)
        bucket = bucket.bitwiseOR(
            F.when(dp >= 0, F.lit(1 << h).cast("long"))
            .otherwise(F.lit(0).cast("long")))
    return bucket


def ann_lsh_buckets(spark: SparkSession, sf_dir: str,
                    dim: int = 64) -> DataFrame:
    """Scale path: random-hyperplane LSH bucketing. Each vector gets a
    HYPERPLANES-bit signature; ANN joins happen within buckets. Output:
    (vec_id, bucket) — candidates = equal buckets. Oracle: the hash-derived
    hyperplanes are constants, inlined into the SQL below — both engines
    evaluate the dot product as a sequential float64 fold, so the sign bits
    agree exactly (verified bit-for-bit at sf0.001/0.01/0.1)."""
    emb = read_parquet_parallel(spark, f"{sf_dir}/embeddings.parquet")
    return emb.select(
        "vec_id",
        _signature_bits(F.col("embedding"), dim, HYPERPLANES).alias("bucket"),
    )


def _lsh_buckets_oracle(dim: int = 64) -> str:
    terms = []
    for h in range(HYPERPLANES):
        arr = "[" + ",".join(repr(v) for v in _hyperplane(dim, h)) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), {arr})"
            f" >= 0 THEN {1 << h} ELSE 0 END"
        )
    return ("SELECT vec_id, CAST(" + " + ".join(terms)
            + " AS BIGINT) AS bucket FROM embeddings")


ORACLE_ANN_LSH_BUCKETS = _lsh_buckets_oracle()


LSH_NEARDUP_THRESHOLD = 0.9
LSH_NEARDUP_BANDS = 16
LSH_NEARDUP_BITS = 10
# largest embedding matrix (rows × dim float32 elements, ≈ 256 MB) that
# lsh_cosine_neardup pulls to the driver and ships inside its prune closure
CAPTURED_MATRIX_MAX_ELEMENTS = 64_000_000


def _captured_rows(ids_sorted, ids):
    """Row of each id in a captured matrix whose ids are ``ids_sorted``
    (ascending). An id the matrix lacks raises: ``searchsorted`` alone would
    score it against a neighbour's vector, or index past the end."""
    import numpy as np

    rows = np.minimum(np.searchsorted(ids_sorted, ids), len(ids_sorted) - 1)
    missing = ids_sorted[rows] != ids
    if missing.any():
        raise ValueError(f"candidate vec_id {ids[missing][0]} is not in the "
                         "captured embedding matrix (did the embedding input "
                         "change between its collect and the candidate join?)")
    return rows


def lsh_cosine_neardup(emb: DataFrame,
                       threshold: float = LSH_NEARDUP_THRESHOLD,
                       n_bands: int = LSH_NEARDUP_BANDS,
                       bits_per_band: int = LSH_NEARDUP_BITS,
                       dim: int = 64) -> DataFrame:
    """The 100 TB near-dup operator: LSH-bucket candidate generation + exact
    cosine verify — :func:`ann_lsh_buckets`' signature scheme wired in as the
    candidate stage. ``emb`` is any (vec_id, embedding) DataFrame.

    Banding (OR of ``n_bands`` AND-compositions of ``bits_per_band``
    hyperplane signs): a pair collides in one band with probability
    ``(1-θ/π)^bits``; across bands, miss = ``(1-p)^bands``. At the default
    (16 bands × 10 bits, threshold 0.9): a sim-0.98 pair has p_bit≈0.936,
    per-band p≈0.52, miss ≈ 0.48^16 ≈ 8.5e-6 — effectively exact recall —
    while unrelated pairs (sim≈0, p_bit=0.5) collide per band with prob
    2^-10, so expected candidate volume is 16·n²/2¹¹ = n²/128, not n²/2.
    Candidates meet in :func:`~pyrml_spark.ops.banding.band_join` on
    (band, signature) — bounded buckets, no all-pairs, each pair once at
    its lowest shared band — then the exact JVM-side dot product verifies
    (candidates are id-pairs only; vectors re-join after the band join, so
    the band shuffle never carries embeddings). Recall vs exact brute force
    is asserted in tests/test_oracle_parity.py at test scale.

    For EXACT low-threshold joins (θ=0.4, where LSH cannot prune — see
    :func:`embedding_cosine_neardup`) use the block-matmul operator instead.
    """
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # band signatures via one Arrow-batched numpy matmul per partition —
    # n_bands·bits hyperplane dots per row as nested JVM aggregates fell out
    # of codegen (measured ~10 ms/row); the narrow pandas map is the scale
    # shape too (no shuffle, payloads never hit the driver). The verify
    # stage below recomputes exact sims JVM-side, so candidate recall is the
    # only thing that depends on these signs.
    import numpy as np
    import pandas as pd

    planes = np.array(
        [_hyperplane(dim, h) for h in range(n_bands * bits_per_band)]
    )  # (n_bands*bits, dim), row b*bits+h ↔ bit h of band b
    weights = (1 << np.arange(bits_per_band)).astype(np.int64)

    def banded_sigs(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            E = np.stack(pdf["embedding"].to_numpy())
            signs = (E @ planes.T) >= 0            # (n, n_bands*bits)
            sigs = signs.reshape(len(pdf), n_bands, bits_per_band) @ weights
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(),
                                "keys": list(sigs)})

    pairs = band_join(
        emb.mapInPandas(banded_sigs, "vec_id long, keys array<long>"),
        "vec_id", n_bands)
    cand = pairs.select(F.col("a.vec_id").alias("vec_a"),
                        F.col("b.vec_id").alias("vec_b"))
    # Two-stage verify (r9, guide §4.2): the exact per-pair JVM fold
    # (F.aggregate — interpreted, outside codegen) dominated the whole
    # operator at ~1 µs × |candidates|. Stage 1 PRUNES with one vectorized
    # numpy pass per Arrow batch: look up both embeddings (see below),
    # score sim vectorized, keep pairs within the margin of the
    # threshold. The float32 cast + einsum reordering bound the score error
    # at ~4e-6 relative (n·eps32 for a 64-dim normalized dot); the margin
    # is ~250× wider, so the prune can never drop a pair the exact float64
    # filter would keep. Stage 2 re-scores the surviving pairs
    # (≈ the true near-dup set) with the SAME sequential JVM fold as
    # before, so every emitted sim is bit-identical to the oracle's.
    # float32 copies for the prune: halves the Arrow bytes per candidate
    # row. float32 round-off on a 64-dim cosine is bounded well under 1e-5;
    # the prune margin is 100× wider, so no pair the exact float64 filter
    # would keep can be pruned.
    # the gate below needs the row count only up to the matrix ceiling: a
    # bounded probe counts one row past it, never the whole table
    max_rows = CAPTURED_MATRIX_MAX_ELEMENTS // dim
    n_emb_hint = emb.limit(max_rows + 1).count()
    prune_margin = 1e-3

    # Candidate rows are (vec_a, vec_b) — 16 bytes. Attaching both float32
    # embeddings before the Python boundary inflates every candidate to
    # ~0.5 KB of Arrow payload (dominant cost of the operator at 50k-doc
    # bench scale: ~2 GB crossing for ~4M candidates). When the embedding
    # matrix itself is small, ship IT once per task inside the prune
    # closure instead and keep the candidate stream id-only — guide §8:
    # move decisions over a lightweight proxy, attach payloads exactly
    # once. Ceiling: CAPTURED_MATRIX_MAX_ELEMENTS; above it the attach
    # joins are the scale-safe fallback, and Spark's planner picks their
    # strategy (at ≥ 1 M rows a broadcast per side would ship the matrix
    # twice, so expect AQE shuffle joins).
    # an empty table has no matrix to capture (np.stack needs a row): it
    # takes the attach-join path, which returns the empty result
    if 0 < n_emb_hint * dim <= CAPTURED_MATRIX_MAX_ELEMENTS:
        epdf = emb.select(
            "vec_id",
            F.col("embedding").cast("array<float>").alias("e")).toPandas()
        ids = epdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids_sorted = ids[order]
        M = np.stack(epdf["e"].to_numpy()).astype(np.float32)[order]
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))

        def score(pdf):
            ia = _captured_rows(ids_sorted, pdf["vec_a"].to_numpy())
            ib = _captured_rows(ids_sorted, pdf["vec_b"].to_numpy())
            return np.einsum("ij,ij->i", M[ia], M[ib]) / (nrm[ia] * nrm[ib])
    else:
        eat = emb.select(F.col("vec_id").alias("vec_a"),
                         F.col("embedding").cast("array<float>").alias("e_a"))
        ebt = emb.select(F.col("vec_id").alias("vec_b"),
                         F.col("embedding").cast("array<float>").alias("e_b"))
        cand = cand.join(eat, "vec_a").join(ebt, "vec_b")

        def score(pdf):
            A = np.stack(pdf["e_a"].to_numpy())
            B = np.stack(pdf["e_b"].to_numpy())
            return np.einsum("ij,ij->i", A, B) / (
                np.sqrt(np.einsum("ij,ij->i", A, A))
                * np.sqrt(np.einsum("ij,ij->i", B, B)))

    def prune(batches):
        for pdf in batches:
            keep = np.zeros(len(pdf), dtype=bool)
            if len(pdf):
                keep = score(pdf) >= threshold - prune_margin
            yield pd.DataFrame({"vec_a": pdf["vec_a"].to_numpy()[keep],
                                "vec_b": pdf["vec_b"].to_numpy()[keep]})

    survivors = cand.mapInPandas(prune, "vec_a long, vec_b long")
    # exact verify on the survivor set only: norms folded once per side,
    # the same sequential float64 fold order as the DuckDB oracle
    withnorm = emb.select("vec_id", "embedding",
                          _norm(F.col("embedding")).alias("nrm"))
    ea = withnorm.select(F.col("vec_id").alias("vec_a"),
                         F.col("embedding").alias("e_a"),
                         F.col("nrm").alias("n_a"))
    eb = withnorm.select(F.col("vec_id").alias("vec_b"),
                         F.col("embedding").alias("e_b"),
                         F.col("nrm").alias("n_b"))
    sim_raw = _dot(F.col("e_a"), F.col("e_b")) / (F.col("n_a") * F.col("n_b"))
    return (
        survivors.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b",
                F.round(sim_raw, SIM_DECIMALS).alias("sim"))
        .filter(F.col("sim") >= threshold)
        .select("vec_a", "vec_b", "sim")
    )


# ---------------------------------------------------------------------------
# driver entry for the LSH path: the synthetic embeddings' mutual sims cap at
# ~0.6 (no true near-dups), so the query plants deterministic near-duplicates
# (last element offset by +0.2 ⇒ sim ≥ 0.979 to the original, while
# planted↔planted sims stay at background ≤ 0.6 — verified gap) and runs the
# full LSH-candidates + exact-verify operator over the union. The oracle is
# the exact brute-force pair set in DuckDB; the LSH parameters give per-pair
# miss ≈ 6e-7 at the planted sims and recall is deterministically 1.0 on this
# data (hyperplanes are hash-derived constants; asserted at sf0.001/0.01 in
# tests/test_oracle_parity.py).
# ---------------------------------------------------------------------------

PLANT_OFFSET = 1_000_000
PLANT_MOD = 10
PLANT_DELTA = 0.2


def planted_neardup_corpus(emb: DataFrame) -> DataFrame:
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    planted = base.filter(F.col("vec_id") % PLANT_MOD == 0).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.concat(
            F.slice("embedding", 1, 63),
            F.array(F.element_at("embedding", 64) + F.lit(PLANT_DELTA)),
        ).alias("embedding"),
    )
    return base.unionByName(planted)


def ann_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_parquet_parallel(spark, f"{sf_dir}/embeddings.parquet")
    return lsh_cosine_neardup(planted_neardup_corpus(emb))


ORACLE_LSH_NEARDUP = f"""
WITH base AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
),
planted AS (
  SELECT vec_id + {PLANT_OFFSET} AS vec_id,
         emb[1:63] || [emb[64] + {PLANT_DELTA}] AS emb
  FROM base WHERE vec_id % {PLANT_MOD} = 0
),
corpus AS (SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       round(list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb))
            * sqrt(list_dot_product(b.emb, b.emb))), {SIM_DECIMALS}) AS sim
FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.emb, b.emb)
         / (sqrt(list_dot_product(a.emb, a.emb))
            * sqrt(list_dot_product(b.emb, b.emb))), {SIM_DECIMALS})
      >= {LSH_NEARDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the task brief's "IVF or LSH-bucketed variant";
# LSH exists above, this is the centroid-partitioned alternative.
# ---------------------------------------------------------------------------

IVF_CENTROID_BASE = 50   # vec_id in [BASE, BASE+N_CENTROIDS) are centroids
IVF_CENTROIDS = 8
IVF_NPROBE = 2


def _centroid_norm(vec) -> float:
    """sqrt of the sequential float64 sum of squares — the SAME fold order
    as DuckDB's list_dot_product and Spark's F.aggregate, so the constant is
    bit-identical across the three engines."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    import math

    return math.sqrt(acc)


def ann_ivf_topk(spark: SparkSession, sf_dir: str,
                 n_queries: int = N_QUERIES, k: int = TOP_K,
                 n_centroids: int = IVF_CENTROIDS,
                 nprobe: int = IVF_NPROBE) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into Voronoi cells
    around fixed centroids, then search only the query's ``nprobe`` nearest
    cells (Jégou et al. 2011's IVF-Flat, minus the product quantizer).

    Centroids here are ``n_centroids`` deterministic sample vectors
    (``vec_id`` in a fixed range) rather than k-means output: a Lloyd step
    recomputes means with an order-dependent float sum, which would break
    the bit-exact DuckDB oracle — sampled centroids keep the index structure
    (the part that matters for the plan) fully verifiable. Collecting them
    is an 8-row driver action (like the 16-row prefix table), after which:

    * assignment is a NARROW MAP — every centroid similarity is an inlined
      literal-array fold, no join, no shuffle; cell ranking drops the
      query-norm factor (positive per-row constant, order-preserving) so
      each row pays ``n_centroids`` dot products, not cosines;
    * candidate generation is an equi-join on cluster_id against the tiny
      broadcast (query × probe) table — at 100 TB each query scans
      ~nprobe/n_centroids of the corpus instead of all of it;
    * ranking reuses the bounded two-phase top-k (no single-window
      bottleneck stage).
    """
    emb = read_parquet_parallel(spark, f"{sf_dir}/embeddings.parquet")
    cents = (
        emb.filter((F.col("vec_id") >= IVF_CENTROID_BASE)
                   & (F.col("vec_id") < IVF_CENTROID_BASE + n_centroids))
        .select("vec_id", "embedding")
        .collect()
    )
    cells = []
    for row in cents:
        lit_vec = F.array(*[F.lit(float(x)) for x in row.embedding])
        score = _dot(F.col("embedding"), lit_vec) / F.lit(
            _centroid_norm(row.embedding))
        cells.append(F.struct(
            (-score).alias("neg_sim"),
            F.lit(int(row.vec_id)).alias("cid"),
        ))
    ranked_cells = F.sort_array(F.array(*cells))
    assigned = emb.select(
        "vec_id", "embedding",
        F.element_at(ranked_cells, 1)["cid"].alias("cluster_id"),
        F.slice(ranked_cells, 1, nprobe).alias("probe_cells"),
    )
    # lazy localCheckpoint (r9): `assigned` feeds both the probe table and
    # the candidate scan — without the cut each branch re-evaluates the
    # n_centroids interpreted literal-array folds over every row (the
    # dominant per-row cost of this operator; guide §1.2)
    assigned = assigned.localCheckpoint(eager=False)
    probes = (
        assigned.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(F.col("probe_cells")["cid"]).alias("probe"),
        )
    )
    scored = (
        assigned.select(F.col("vec_id").alias("neighbor_id"),
                        F.col("embedding").alias("c_emb"), "cluster_id")
        .join(F.broadcast(probes),
              (F.col("cluster_id") == F.col("probe"))
              & (F.col("neighbor_id") != F.col("query_id")))
        .select("query_id", "neighbor_id",
                cosine(F.col("q_emb"), F.col("c_emb")).alias("sim_raw"))
    )
    return _two_phase_topk(scored, k)


ORACLE_ANN_IVF = f"""
WITH c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS c_emb
  FROM embeddings
  WHERE vec_id >= {IVF_CENTROID_BASE}
    AND vec_id < {IVF_CENTROID_BASE + IVF_CENTROIDS}
),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
cell_scores AS (
  SELECT v.vec_id, c.cid,
         list_dot_product(emb, c_emb)
           / sqrt(list_dot_product(c_emb, c_emb)) AS s
  FROM v CROSS JOIN c
),
cell_rank AS (
  SELECT vec_id, cid,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY s DESC, cid ASC) AS rnk
  FROM cell_scores
),
assign AS (SELECT vec_id, cid AS cluster_id FROM cell_rank WHERE rnk = 1),
probes AS (
  SELECT vec_id AS query_id, cid AS probe
  FROM cell_rank WHERE rnk <= {IVF_NPROBE} AND vec_id < {N_QUERIES}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probes p
  JOIN assign a ON a.cluster_id = p.probe AND a.vec_id != p.query_id
),
scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(q.emb, n.emb)
           / (sqrt(list_dot_product(q.emb, q.emb))
              * sqrt(list_dot_product(n.emb, n.emb))) AS sim_raw
  FROM cand
  JOIN v q ON q.vec_id = query_id
  JOIN v n ON n.vec_id = neighbor_id
),
ranked AS (
  SELECT query_id, neighbor_id, sim_raw,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sim_raw DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, round(sim_raw, {SIM_DECIMALS}) AS sim
FROM ranked WHERE rank <= {TOP_K}
"""
