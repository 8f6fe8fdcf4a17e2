"""Deduplication operators over the `documents` table — the training-data
pipeline ops a 100 TB corpus needs (task brief: exact, MinHash+LSH, SimHash,
n-gram Jaccard). All scale paths are shuffle-on-key designs:

* exact: hash-groupBy on md5(text) — one shuffle, map-side combine
* minhash-lsh: shingle→minhash(k seeded md5)→band→bucket-join —
  candidate pairs only meet inside a band bucket (no all-pairs blowup)
* simhash: 60-bit sign-sum of token hashes; near-dups share banded chunks
* n-gram jaccard: exact verification over candidate pairs from a shared-
  shingle inverted index (explode + self-join on shingle key)

MinHash and SimHash meet their candidates in ``banding.band_join``, which
emits each pair once, at its lowest shared band.

No Python in the row path: shingling/hashing use native F.* expressions
(md5, transform, explode) end to end. The hash family is md5 (not
xxhash64): engine-portable, so every dedup operator's exact pair set is
verified against a DuckDB oracle rather than a rows-only check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scan import read_parquet_parallel
from .banding import band_join

N_MINHASH = 16           # minhash permutations
LSH_BANDS = 4            # bands of 4 rows each
SHINGLE_N = 3            # word 3-grams


def _tokens(col):
    return F.split(F.lower(col), r"\s+")


def _word_shingles(col, n: int = SHINGLE_N):
    """Distinct word n-grams as strings, JVM-side. A text of fewer than
    ``n`` words has none (``sequence`` would count down and slice at 0)."""
    toks = _tokens(col)
    idx = F.sequence(F.lit(0), F.size(toks) - n)
    return F.when(F.size(toks) >= n, F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, n), " "))
    )).otherwise(F.array().cast("array<string>"))


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: per distinct text, the surviving doc_id (min) and the
    group size. Map-side-combinable aggregation — one shuffle on text hash.

    Plain read, NOT the scan-parallelism floor: the only pre-shuffle work
    is one md5 per row and the groupBy partial-aggregates on the scan
    partitions anyway — the floor's round-robin rebalance would shuffle
    the full document text once more for no parallel win (measured
    ~+0.5 s at 50k docs; the ops that keep the floor do heavy narrow
    work — shingle explodes, regex batteries — before any exchange)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


MAX_SHINGLE_DF = 100  # document-frequency cap on join-key shingles


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str,
                        threshold: float = 0.8,
                        max_df: int = MAX_SHINGLE_DF) -> DataFrame:
    """n-gram Jaccard near-dup pairs over rare shingles.

    Inverted-index join: explode distinct shingles, self-join on the shingle
    (co-occurrence count = |A∩B|), then J = |∩|/(|A|+|B|-|∩|). Shingles with
    document frequency > ``max_df`` are dropped on BOTH the candidate and the
    denominator side (standard stopword-shingle filtering): a hot shingle key
    turns the self-join into an O(df²) blowup — the cap bounds every join
    bucket, and the oracle applies the identical cap."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    # materialized once: FOUR consumers (the df counts, the sizes and both
    # self-join sides) would each re-run the scan + explode otherwise. A
    # lazy localCheckpoint, as in ops/banding.band_join: its blocks are
    # freed with the frame, while a persist stays in the session's cache
    # manager after the call and serves later calls cached rows. The cut
    # sits below the anti-join, a broadcast probe that is cheap to repeat
    # and stays visible in the plan. Warm reps at sf0.1 on 4 cores, cache
    # cleared before each: this cut 3.6-4.6 s; the same cut after the
    # anti-join 4.5-5.6 s; persist after it 5.5-6.4 s; no cut 7.4-9.5 s.
    sh_all = docs.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
    ).localCheckpoint(eager=False)
    df_counts = sh_all.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"))
    # broadcast the HOT set (df > cap), not the rare set: at corpus scale the
    # rare side ≈ all distinct shingles (billions — broadcasting it OOMs every
    # executor), while the hot set is small by construction (few shingles can
    # exceed a df cap). Keep-everything-not-hot is a broadcast anti-join.
    hot = df_counts.filter(F.col("df") > max_df).select("shingle")
    sh = sh_all.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    # attach each doc's shingle count BEFORE the self-join (broadcast join
    # against the doc-cardinality sizes table) so (1) the size-compatibility
    # predicate can run INSIDE the join condition and (2) the sizes ride the
    # pair aggregate as grouping keys — no post-aggregate sizes joins.
    #
    # Size filter (exact, guide §3/§2.3): c ≤ min(na, nb) ⇒
    # J = c/(na+nb−c) ≤ min/max, so J ≥ t implies min ≥ t·max. Candidate
    # rows failing that can never reach the threshold and are dropped inside
    # the join's codegen'd condition instead of being materialized and
    # shuffled into the pair aggregate (measured ~5× fewer join output rows
    # on the flat-df synthetic corpus). The 1e-6 slack keeps the boundary
    # pair (min = t·max exactly, J = t) on the correct side of IEEE rounding.
    sh_n = sh.join(F.broadcast(sizes), "doc_id")
    a = sh_n.alias("a")
    b = sh_n.alias("b")
    size_compat = (
        F.least(F.col("a.n_shingles"), F.col("b.n_shingles"))
        >= threshold * F.greatest(F.col("a.n_shingles"),
                                  F.col("b.n_shingles")) - F.lit(1e-6)
    )
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               & size_compat)
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"),
                 F.col("a.n_shingles").alias("n_a"),
                 F.col("b.n_shingles").alias("n_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    out = (
        pairs.select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


ORACLE_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh_all AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
),
rare AS (
  SELECT shingle FROM sh_all GROUP BY shingle
  HAVING count(*) <= {MAX_SHINGLE_DF}
),
sh AS (SELECT sh_all.* FROM sh_all JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(n_common / (sa.n_shingles + sb.n_shingles - n_common), 6) >= 0.8
"""


def dedup_neardup_clusters(spark: SparkSession, sf_dir: str,
                           threshold: float = 0.8) -> DataFrame:
    """Fuzzy-dedup decision table: near-dup pairs → connected components →
    one keeper per cluster (the RefinedWeb/CCNet shape — near-duplicate
    GROUPS, not just pairs, so transitive chains a-b, b-c dedup to one doc).

    Composition of two already-scale-proven pieces: the df-capped n-gram
    Jaccard pair join (every join bucket bounded) and the pointer-doubling
    connected-components loop (O(log diameter) rounds). Doc ids travel
    through CC as zero-padded strings so the lexicographic min label IS the
    numeric min. The final joins key on `labels` (near-dup docs only — a
    small fraction of any real corpus), which AQE broadcasts.

    Output: (doc_id, cluster_id = min doc in component, cluster_size,
    keep = doc_id == cluster_id); singletons keep themselves."""
    from ..kg.canonicalize import connected_components_auto

    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup_ngram_jaccard(spark, sf_dir, threshold) \
        .select("doc_a", "doc_b")

    def pad(c):
        return F.lpad(F.col(c).cast("string"), 12, "0")

    edges = pairs.select(pad("doc_a").alias("src"), pad("doc_b").alias("dst"))
    # near-dup pair sets are a small fraction of any corpus: the auto
    # crossover solves the components on the driver below the edge gate
    # (one checkpoint + count, no per-round job latency) and falls back to
    # the identical-output distributed loop above it (r9, guide §1.2)
    components, _ = connected_components_auto(edges)
    labels = components.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("cluster_id"),
    )
    sizes = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"))
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .withColumn("cluster_id", F.coalesce("cluster_id", "doc_id"))
        .join(sizes, "cluster_id", "left")
        .withColumn("cluster_size",
                    F.coalesce("cluster_size", F.lit(1).cast("bigint")))
        .select(
            "doc_id", "cluster_id", "cluster_size",
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
    )


# the recursive CTE enumerates every (node, reachable-node) pair and takes
# the min — exact CC by a method disjoint from the Spark side's label
# propagation, viable because oracle scale is small
ORACLE_NEARDUP_CLUSTERS = f"""
WITH RECURSIVE pairs AS (
  SELECT doc_a, doc_b FROM ({ORACLE_NGRAM_JACCARD})
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
walk(id, reach) AS (
  SELECT src, src FROM edges
  UNION
  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
),
cc AS (SELECT id, min(reach) AS cluster_id FROM walk GROUP BY id),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM cc GROUP BY cluster_id
)
SELECT d.doc_id,
       coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       coalesce(s.cluster_size, 1) AS cluster_size,
       coalesce(c.cluster_id, d.doc_id) = d.doc_id AS keep
FROM documents d
LEFT JOIN cc c ON c.id = d.doc_id
LEFT JOIN sizes s ON s.cluster_id = coalesce(c.cluster_id, d.doc_id)
"""


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """doc_id + array of N_MINHASH min-hashes (seeded md5-hex over distinct
    shingles; the seed is a suffix). Entirely native expressions — one narrow
    pass, no shuffle.

    Hash family: md5 rather than xxhash64 — identical uniformity for minhash
    purposes, but portable across engines, which makes the whole banding
    pipeline DuckDB-expressible (the driver oracle verifies the exact pair
    set instead of a rows-only check). Hex strings compare lexicographically
    = numerically for fixed width, so array_min is a valid min-hash."""
    # explode + grouped min, NOT 16 array_min(transform(...)) projections:
    # collapsed projections would inline the shingle-array build (distinct +
    # slice + join per n-gram) 16×, and the nested higher-order expression
    # falls out of whole-stage codegen — measured 240 s vs ~4 s at sf0.1.
    # This shape is also the 100 TB one: the 16 mins partial-aggregate
    # map-side, so the one shuffle on doc_id carries 16 hashes per doc.
    sh = docs.select(
        "doc_id", F.explode(_word_shingles(F.col("text"))).alias("shingle")
    )
    mins = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f"#{i}"))))
            .alias(f"_h{i}")
            for i in range(N_MINHASH)
        ]
    )
    return mins.select(
        "doc_id",
        F.array(*[F.col(f"_h{i}") for i in range(N_MINHASH)]).alias("sig"),
    )


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str,
                      threshold: float = 0.5) -> DataFrame:
    """MinHash+LSH candidate pairs with estimated Jaccard.

    Banding: signature split into LSH_BANDS bands; docs sharing any band
    bucket become candidates (``band_join`` on (band, md5 of the band's
    minhashes), each pair once). Estimated J = fraction of matching
    minhashes. md5 hash family throughout ⇒ the DuckDB oracle reproduces
    the exact pair set (ORACLE_MINHASH_LSH)."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    sigs = minhash_signatures(docs)
    rows_per_band = N_MINHASH // LSH_BANDS
    keys = F.array(*[
        F.md5(F.concat_ws("|", *[F.col("sig")[b * rows_per_band + r]
                                 for r in range(rows_per_band)]))
        for b in range(LSH_BANDS)
    ])
    pairs = band_join(sigs.select("doc_id", "sig", keys.alias("keys")),
                      "doc_id", LSH_BANDS)
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("a.sig"), F.col("b.sig"),
                           lambda x, y: x == y),
                lambda m: m,
            )
        )
        / N_MINHASH
    )
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(est, 6).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= threshold)
    )


N_SIMHASH_BITS = 60   # 15 hex chars of md5 — fits BIGINT in every engine
SIMHASH_CHUNKS = 4    # 15-bit band keys


def simhash64(docs: DataFrame) -> DataFrame:
    """60-bit SimHash over whitespace tokens, fully native: per bit position,
    sign-sum of token-hash bits. Token hash = first 15 hex chars of md5
    (portable across engines — the driver oracle recomputes the identical
    simhash in DuckDB; xxhash64 would be Spark-only).

    Shape: explode distinct tokens → one groupBy(doc_id) with 60 conditional
    sums — the same partial-aggregating plan as minhash_signatures, for the
    same reason: the earlier nested transform/zip_with/aggregate chain over
    60-element arrays falls out of whole-stage codegen (measured 11.6 s vs
    ~2 s for this shape at 50k docs). The 60 sums combine map-side, so the
    one shuffle carries 60 ints per doc. Null text yields a null simhash
    (never a fake all-zeros hash that could collide), exactly as before."""
    n_bits = N_SIMHASH_BITS
    toks = F.array_distinct(_tokens(F.col("text")))
    ex = docs.select("doc_id", F.col("text").isNull().alias("_nulltext"),
                     F.explode_outer(toks).alias("tok"))
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    sums = ex.groupBy("doc_id").agg(
        F.max("_nulltext").alias("_nulltext"),
        *[
            F.sum(
                F.when(h.bitwiseAND(F.lit(1 << i).cast("long")) != 0, 1)
                .otherwise(-1)
            ).alias(f"_b{i}")
            for i in range(n_bits)
        ],
    )
    sim = F.lit(0).cast("long")
    for i in range(n_bits):
        sim = sim.bitwiseOR(
            F.when(F.col(f"_b{i}") > 0, F.lit(1 << i).cast("long"))
            .otherwise(F.lit(0).cast("long"))
        )
    return sums.select(
        "doc_id",
        F.when(F.col("_nulltext"), F.lit(None).cast("long"))
        .otherwise(sim).alias("simhash"),
    )


def dedup_simhash(spark: SparkSession, sf_dir: str,
                  max_hamming: int = 8) -> DataFrame:
    """SimHash near-dup pairs: candidates via 15-bit chunk equality (any of 4
    chunks shared ⇒ candidate — pigeonhole for hamming ≤ 3 per 60/15 split;
    wider hamming budgets accepted for recall), verified by exact popcount.
    md5 hash family ⇒ the exact pair set is oracle-checked in DuckDB
    (ORACLE_SIMHASH)."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    sh = simhash64(docs)
    keys = F.array(*[
        F.shiftright(F.col("simhash"), c * 15).bitwiseAND(F.lit(0x7FFF))
        for c in range(SIMHASH_CHUNKS)
    ])
    # the hamming predicate lives INSIDE the join condition: 15-bit chunk
    # values collide heavily on templated corpora (measured at 50k docs:
    # one (chunk,val) bucket of 15,678 docs, 294M intra-bucket pairs), so
    # the d² comparisons happen in the join's codegen'd condition and only
    # true near-dup pairs ever leave the join
    hamming_ab = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    pairs = band_join(sh.select("doc_id", "simhash", keys.alias("keys")),
                      "doc_id", SIMHASH_CHUNKS, on=hamming_ab <= max_hamming)
    return pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        hamming_ab.alias("hamming"),
    )


ORACLE_MINHASH_LSH = f"""
WITH toks AS (
  SELECT doc_id, string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - 2)) AS g(i)
),
seeds AS (SELECT unnest(generate_series(0, {N_MINHASH - 1})) AS seed),
sigs AS (
  SELECT doc_id, seed,
         min(md5(shingle || '#' || CAST(seed AS VARCHAR))) AS h
  FROM sh CROSS JOIN seeds GROUP BY doc_id, seed
),
bands AS (
  SELECT doc_id, seed // {N_MINHASH // LSH_BANDS} AS band,
         md5(string_agg(h, '|' ORDER BY seed)) AS bucket
  FROM sigs GROUP BY doc_id, seed // {N_MINHASH // LSH_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
est AS (
  SELECT doc_a, doc_b,
         sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END) / {N_MINHASH}.0 AS e
  FROM cand
  JOIN sigs sa ON sa.doc_id = doc_a
  JOIN sigs sb ON sb.doc_id = doc_b AND sb.seed = sa.seed
  GROUP BY doc_a, doc_b
)
SELECT doc_a, doc_b, round(e, 6) AS jaccard_est
FROM est WHERE round(e, 6) >= 0.5
"""


ORACLE_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(
           string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')
         )) AS tok
  FROM documents
),
th AS (
  SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
  FROM toks
),
bits AS (
  SELECT doc_id, i,
         sum(CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END) AS s
  FROM th CROSS JOIN (SELECT unnest(generate_series(0, {N_SIMHASH_BITS - 1})) AS i) g
  GROUP BY doc_id, i
),
sh AS (
  SELECT doc_id,
         sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS simhash
  FROM bits GROUP BY doc_id
),
chunks AS (
  SELECT doc_id, simhash, c, (simhash >> (c * 15)) & 32767 AS val
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS c) t
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS h_a, b.simhash AS h_b
  FROM chunks a JOIN chunks b
    ON a.c = b.c AND a.val = b.val AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(h_a, h_b)) AS hamming
FROM cand WHERE bit_count(xor(h_a, h_b)) <= 8
"""


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

DECON_SHINGLE_N = 5      # word 5-grams, the usual decontamination unit
DECON_BENCH_MOD = 97     # doc_id % 97 == 0 plays the held-out benchmark set


def text_decontaminate(spark: SparkSession, sf_dir: str,
                       n: int = DECON_SHINGLE_N,
                       bench_mod: int = DECON_BENCH_MOD) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any word
    n-gram with a held-out benchmark set (the GPT-3/PaLM-style 13-gram
    filter shape, published in Brown et al. 2020 §C — here 5-grams so the
    synthetic corpus produces hits).

    The benchmark side of a decontamination pass is always SMALL (eval sets,
    not corpora) — so its distinct shingle set is broadcast and the training
    side never shuffles its text: explode (narrow) → broadcast semi-style
    join → one groupBy(doc_id) whose payload is doc_id + a count. At 100 TB
    the only exchange carries (doc_id, n_hits) for contaminated docs.

    Output: every non-benchmark doc with the number of benchmark shingles it
    shares, its own shingle count, the contamination ratio, and the drop
    flag."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    is_bench = F.col("doc_id") % bench_mod == 0
    # bench shingles from the (tiny) benchmark slice only — the filter sits
    # below the explode so the big training side is not shingled here
    bench_sh = (
        docs.filter(is_bench)
        .select(F.explode(_word_shingles(F.col("text"), n)).alias("shingle"))
        .distinct()
    )
    # ONE pass over the training side: left-join the broadcast benchmark
    # shingle set with a hit marker and take both counts from the same
    # groupBy — the old shape ran the scan+explode subtree twice (once for
    # hits, once for sizes) and then joined the two aggregates (guide §1.2:
    # don't compute things twice; measured ~2× on this query at 50k docs).
    marked = F.broadcast(bench_sh.withColumn("_hit", F.lit(1)))
    train_sh = (
        docs.filter(~is_bench)
        .select("doc_id",
                F.explode(_word_shingles(F.col("text"), n)).alias("shingle"))
    )
    agg = (
        train_sh.join(marked, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    return agg.select(
        "doc_id",
        F.col("n_contaminated"),
        "n_shingles",
        F.round(F.col("n_contaminated") / F.col("n_shingles"), 6)
        .alias("contamination_ratio"),
        (F.col("n_contaminated") > 0).alias("contaminated"),
    )


ORACLE_DECONTAMINATE = f"""
WITH toks AS (
  SELECT doc_id, doc_id % {DECON_BENCH_MOD} = 0 AS is_bench,
         string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, is_bench,
         array_to_string(t[i:i+{DECON_SHINGLE_N - 1}], ' ') AS shingle
  FROM toks, unnest(generate_series(1, len(t) - {DECON_SHINGLE_N - 1})) AS g(i)
),
bench_sh AS (SELECT DISTINCT shingle FROM sh WHERE is_bench),
train_sh AS (SELECT doc_id, shingle FROM sh WHERE NOT is_bench),
hits AS (
  SELECT doc_id, count(*) AS n_contaminated
  FROM train_sh JOIN bench_sh USING (shingle)
  GROUP BY doc_id
),
sizes AS (SELECT doc_id, count(*) AS n_shingles FROM train_sh GROUP BY doc_id)
SELECT s.doc_id,
       coalesce(h.n_contaminated, 0) AS n_contaminated,
       s.n_shingles,
       round(coalesce(h.n_contaminated, 0) * 1.0 / s.n_shingles, 6)
         AS contamination_ratio,
       coalesce(h.n_contaminated, 0) > 0 AS contaminated
FROM sizes s LEFT JOIN hits h USING (doc_id)
"""
