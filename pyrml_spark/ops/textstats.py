"""Text analysis over the `documents` table: language-ID (stopword n-gram
heuristic), quality scoring, token counting (whitespace + BPE-ish regex),
document fingerprinting. All native column expressions — each doc processed
in one narrow map pass, no shuffle until the (optional) aggregation."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..scan import read_parquet_parallel

# tiny deterministic stopword lists per language (heuristic lang-id)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "with"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por"],
    "de": ["der", "die", "und", "das", "ist", "mit", "ein", "von"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "est"],
}

BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _hits(lang: str):
    words = "|".join(STOPWORDS[lang])
    return F.size(
        F.regexp_extract_all(
            F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" ")),
            F.lit(f" ({words}) "), 1,
        )
    )


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language guess with deterministic tie-break order
    en > es > de > fr (the synthetic corpus is English-ish word soup — the
    heuristic is the operator under test, not a model)."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    hit_cols = {lang: _hits(lang) for lang in STOPWORDS}
    best = F.lit("und")
    best_hits = F.lit(0)
    for lang in ["fr", "de", "es", "en"]:  # later wins ties → en preferred
        h = hit_cols[lang]
        cond = h >= best_hits
        best = F.when(h > 0, F.when(cond, F.lit(lang)).otherwise(best)).otherwise(best)
        best_hits = F.greatest(best_hits, h)
    return docs.select(
        "doc_id",
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in sorted(STOPWORDS)],
        best.alias("lang_pred"),
    )


def _oracle_hits(lang: str) -> str:
    words = "|".join(STOPWORDS[lang])
    return (
        "len(regexp_extract_all(' ' || lower(text) || ' ', "
        f"' ({words}) ', 1))"
    )


ORACLE_LANG_ID = f"""
WITH h AS (
  SELECT doc_id,
         {_oracle_hits("de")} AS hits_de,
         {_oracle_hits("en")} AS hits_en,
         {_oracle_hits("es")} AS hits_es,
         {_oracle_hits("fr")} AS hits_fr
  FROM documents
)
SELECT doc_id, hits_de, hits_en, hits_es, hits_fr,
  CASE
    WHEN greatest(hits_en, hits_es, hits_de, hits_fr) = 0 THEN 'und'
    WHEN hits_en >= hits_es AND hits_en >= hits_de AND hits_en >= hits_fr THEN 'en'
    WHEN hits_es >= hits_de AND hits_es >= hits_fr THEN 'es'
    WHEN hits_de >= hits_fr THEN 'de'
    ELSE 'fr'
  END AS lang_pred
FROM h
"""


def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + bucket."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    n_chars = F.length("text")
    toks = F.split(F.col("text"), r"\s+")
    n_tokens = F.size(toks)
    n_punct = F.size(F.regexp_extract_all(F.col("text"),
                                          F.lit(r"([^A-Za-z0-9\s])"), 1))
    en_hits = _hits("en")
    stop_ratio = F.round(en_hits / n_tokens, 6)
    punct_ratio = F.round(n_punct / n_chars, 6)
    avg_tok = F.round(n_chars / n_tokens, 6)
    quality = (
        F.when((n_tokens >= 10) & (stop_ratio > 0.05), F.lit("high"))
        .when(n_tokens >= 10, F.lit("medium"))
        .otherwise(F.lit("low"))
    )
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        avg_tok.alias("avg_token_len"),
        punct_ratio.alias("punct_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


ORACLE_QUALITY = f"""
WITH f AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ')) AS n_tokens,
         len(regexp_extract_all(text, '([^A-Za-z0-9\\s])', 1)) AS n_punct,
         {_oracle_hits("en")} AS en_hits
  FROM documents
)
SELECT doc_id, n_tokens,
       round(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_token_len,
       round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
       round(CAST(en_hits AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
       CASE WHEN n_tokens >= 10 AND round(CAST(en_hits AS DOUBLE) / n_tokens, 6) > 0.05
              THEN 'high'
            WHEN n_tokens >= 10 THEN 'medium'
            ELSE 'low' END AS quality
FROM f
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens (letters runs / digit runs /
    single punctuation — the standard pre-tokenizer shape)."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    ws = F.size(F.split(F.col("text"), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col("text"), F.lit(f"({BPE_ISH_RE})"), 1))
    return docs.select(
        "doc_id", ws.alias("ws_tokens"), bpe.alias("bpe_tokens")
    )


ORACLE_TOKEN_COUNT = f"""
SELECT doc_id,
       len(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ')) AS ws_tokens,
       len(regexp_extract_all(text, '({BPE_ISH_RE})', 1)) AS bpe_tokens
FROM documents
"""


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (Rae et al. 2021, published quality
    rules): per document, the fraction of word 2-grams occupied by the most
    frequent 2-gram (`top_2gram_frac`) and by repeated 2-grams
    (`dup_2gram_frac`), plus a `repetitive` flag.

    Shuffle-FREE at any scale: instead of explode + groupBy(doc_id, gram)
    (two shuffles, gram rows ≈ token count through the exchange), the
    2-gram array is sorted per-doc (`array_sort`) and both statistics fall
    out of one run-length pass with `F.aggregate` — the longest run of a
    sorted array IS the top frequency, and (n − runs) IS the duplicate
    count. A pure narrow map: 100 TB of documents never shuffles a byte."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    toks = F.split(F.col("text"), r"\s+")
    n = F.size(toks)
    grams = F.zip_with(
        F.slice(toks, F.lit(1), n - 1),
        F.slice(toks, F.lit(2), n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )

    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"),
        F.lit(0).alias("maxrun"), F.lit(0).alias("dups"),
    )

    def step(acc, x):
        same = acc["prev"] == x
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"), run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            (acc["dups"] + F.when(same, 1).otherwise(0)).alias("dups"),
        )

    # staged selects on purpose: CollapseProject keeps a Project boundary
    # when collapsing would duplicate an expensive expression, so the
    # 2-gram build and the run-length aggregate each evaluate ONCE per row
    # (a single collapsed Project inlines them per output column — and
    # lambda-bearing Projects fall outside whole-stage codegen's runtime
    # subexpression elimination)
    mid = docs.select("doc_id", grams.alias("__g__"))
    st = F.aggregate(F.array_sort("__g__"), init, step)
    mid = mid.select(
        "doc_id", F.size("__g__").alias("n_2grams"), st.alias("__st__"))
    n_g = F.col("n_2grams")
    top = F.when(n_g > 0, F.round(F.col("__st__.maxrun") / n_g, 6)) \
        .otherwise(F.lit(0.0))
    dup = F.when(n_g > 0, F.round(F.col("__st__.dups") / n_g, 6)) \
        .otherwise(F.lit(0.0))
    return mid.select(
        "doc_id",
        "n_2grams",
        top.alias("top_2gram_frac"),
        dup.alias("dup_2gram_frac"),
        (dup > 0.05).alias("repetitive"),
    )


# independent method on purpose: the oracle counts via GROUP BY where the
# Spark side run-length-encodes a sorted array — agreement checks the math,
# not a shared implementation
ORACLE_REPETITION = """
WITH toks AS (
  SELECT doc_id,
         string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' ') AS t
  FROM documents
), grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS gram
  FROM toks, unnest(range(1, len(t))) AS g(i)
), per AS (
  SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY doc_id, gram
), agg AS (
  SELECT doc_id,
         CAST(sum(c) AS INT) AS n_2grams,
         round(max(c) * 1.0 / sum(c), 6) AS top_2gram_frac,
         round(sum(c - 1) * 1.0 / sum(c), 6) AS dup_2gram_frac
  FROM per GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(a.n_2grams, 0) AS n_2grams,
       coalesce(a.top_2gram_frac, 0.0) AS top_2gram_frac,
       coalesce(a.dup_2gram_frac, 0.0) AS dup_2gram_frac,
       coalesce(a.dup_2gram_frac, 0.0) > 0.05 AS repetitive
FROM documents d LEFT JOIN agg a USING (doc_id)
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic document fingerprint: md5 over the normalized text
    (lowercase, collapsed whitespace) + a 16-bit shard bucket — the
    partition-routing key a 100 TB dedup/shard pipeline would use."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    fp = F.md5(norm)
    bucket = F.conv(F.substring(fp, 1, 4), 16, 10).cast("int")
    return docs.select(
        "doc_id", fp.alias("fingerprint"), bucket.alias("shard_bucket")
    )


ORACLE_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       CAST(('0x' || substr(md5(regexp_replace(lower(text), '\\s+', ' ', 'g')), 1, 4))::BIGINT AS INT) AS shard_bucket
FROM documents
"""


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------

# Patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB oracle): no
# lookarounds, no backrefs, ASCII \b word boundaries only.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\b\d{3}-\d{4}\b"


def _with_synthetic_pii(docs: DataFrame) -> DataFrame:
    """Deterministically inject PII into the synthetic corpus (which has
    none) so the detector has real positives: email on doc_id%2==0, IPv4 on
    doc_id%3==0, phone on doc_id%5==0. The oracle performs the identical
    injection, so detection AND redaction are value-verified end to end."""
    did = F.col("doc_id")
    email = F.when(
        did % 2 == 0,
        F.concat(F.lit(" reach user"), did.cast("string"),
                 F.lit("@example.com")),
    ).otherwise(F.lit(""))
    ip = F.when(
        did % 3 == 0,
        F.concat(F.lit(" from 10.2."), (did % 256).cast("string"),
                 F.lit("."), ((did * 7) % 256).cast("string")),
    ).otherwise(F.lit(""))
    phone = F.when(
        did % 5 == 0,
        F.concat(F.lit(" tel 555-"),
                 F.lpad((did % 10000).cast("string"), 4, "0")),
    ).otherwise(F.lit(""))
    return docs.select(
        "doc_id", F.concat(F.col("text"), email, ip, phone).alias("text"))


def pii_counts(t: F.Column) -> dict:
    """Per-kind PII match counts over a text column (narrow, JVM-side)."""
    return {
        "n_emails": F.size(
            F.regexp_extract_all(t, F.lit(f"({PII_EMAIL_RE})"), 1)),
        "n_ips": F.size(
            F.regexp_extract_all(t, F.lit(f"({PII_IPV4_RE})"), 1)),
        "n_phones": F.size(
            F.regexp_extract_all(t, F.lit(f"({PII_PHONE_RE})"), 1)),
    }


def pii_redacted(t: F.Column) -> F.Column:
    """Text with every PII match replaced by its typed placeholder
    (email → IPv4 → phone; later patterns never match earlier
    placeholders)."""
    redacted = F.regexp_replace(t, PII_EMAIL_RE, "[EMAIL]")
    redacted = F.regexp_replace(redacted, PII_IPV4_RE, "[IP]")
    return F.regexp_replace(redacted, PII_PHONE_RE, "[PHONE]")


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: per-document counts of emails / IPv4
    addresses / phone-like numbers, and the text with each replaced by a
    typed placeholder — the standard pre-training scrub pass (C4/CCNet do
    exactly this shape with regex families).

    A pure narrow map (regexp_extract_all + regexp_replace, all JVM-side):
    100 TB of documents streams through without a shuffle. Redaction order
    is email → IPv4 → phone; the patterns are mutually non-overlapping on
    the placeholder text they leave behind."""
    docs = _with_synthetic_pii(
        read_parquet_parallel(spark, f"{sf_dir}/documents.parquet"))
    t = F.col("text")
    counts = pii_counts(t)
    return docs.select(
        "doc_id",
        *[c.alias(name) for name, c in counts.items()],
        sum(counts.values(), F.lit(0)).alias("pii_total"),
        pii_redacted(t).alias("redacted"),
    )


ORACLE_PII = f"""
WITH enriched AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 2 = 0
                 THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 3 = 0
                 THEN ' from 10.2.' || CAST(doc_id % 256 AS VARCHAR)
                      || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' tel 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '({PII_EMAIL_RE})', 1)) AS n_emails,
       len(regexp_extract_all(text, '({PII_IPV4_RE})', 1)) AS n_ips,
       len(regexp_extract_all(text, '({PII_PHONE_RE})', 1)) AS n_phones,
       len(regexp_extract_all(text, '({PII_EMAIL_RE})', 1))
         + len(regexp_extract_all(text, '({PII_IPV4_RE})', 1))
         + len(regexp_extract_all(text, '({PII_PHONE_RE})', 1)) AS pii_total,
       regexp_replace(
         regexp_replace(
           regexp_replace(text, '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
           '{PII_IPV4_RE}', '[IP]', 'g'),
         '{PII_PHONE_RE}', '[PHONE]', 'g') AS redacted
FROM enriched
"""


# ---------------------------------------------------------------------------
# Model-based quality classifier (fastText-shaped linear scorer)
# ---------------------------------------------------------------------------

# The GPT-3 / LLaMA pipelines gate documents on a linear text classifier
# (fastText / logistic regression over hashed bag-of-words). The Spark-side
# shape is what matters at 100 TB: hash each token to a bucket, look the
# bucket's weight up in a small model broadcast to every executor (here:
# inlined literal array — same thing for a model this size), sum, threshold.
# One narrow map, no shuffle, no Python.
#
# Weights are a deterministic Knuth-multiplicative spread over the bucket
# index, in INTEGER milli-units so the per-doc sum is exact and the DuckDB
# oracle matches bit-for-bit (a real model would load its trained vector the
# same way). Thresholding the raw logit is equivalent to thresholding the
# sigmoid (monotone), and skipping exp() avoids cross-engine libm ulps.
QC_BUCKETS = 64
QC_WEIGHTS = [((b * 2654435761) % 2001) - 1000 for b in range(QC_BUCKETS)]
QC_THRESHOLD = 0.05


def qc_features(t: F.Column) -> tuple:
    """(n_tokens, weight_milli_sum) columns of the linear classifier over a
    text column."""
    weights = F.array(*[F.lit(w) for w in QC_WEIGHTS])
    toks = F.split(t, r"\s+")
    bucket = lambda tok: (  # noqa: E731 — inline per-token hash
        F.conv(F.substring(F.md5(tok), 1, 8), 16, 10).cast("long")
        % QC_BUCKETS
    )
    sum_w = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, tok: acc
        + F.element_at(weights, (bucket(tok) + 1).cast("int")),
    )
    return F.size(toks), sum_w


def text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-tokens linear quality score: bucket = md5(token) mod
    QC_BUCKETS, logit = sum(weight[bucket]) / (n_tokens * 1000), keep when
    the logit clears QC_THRESHOLD."""
    docs = read_parquet_parallel(spark, f"{sf_dir}/documents.parquet")
    n, sum_w = qc_features(F.col("text"))
    staged = docs.select(
        "doc_id", n.alias("n_tokens"), sum_w.alias("weight_milli_sum"))
    logit = F.round(
        F.col("weight_milli_sum") / (F.col("n_tokens") * 1000.0), 6)
    return staged.select(
        "doc_id", "n_tokens", "weight_milli_sum",
        logit.alias("quality_logit"),
        (logit > QC_THRESHOLD).alias("keep"),
    )


_QC_LIST = "[" + ", ".join(str(w) for w in QC_WEIGHTS) + "]"

ORACLE_QUALITY_CLASSIFIER = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split(regexp_replace(text, '\\s+', ' ', 'g'), ' '))
           AS tok
  FROM documents
),
scored AS (
  -- CAST AS BIGINT: DuckDB sum() over INTEGER yields HUGEINT; Spark emits
  -- BIGINT and the driver's value hash is type-sensitive.
  SELECT doc_id,
         count(*) AS n_tokens,
         CAST(sum(({_QC_LIST})[
           CAST(('0x' || substr(md5(tok), 1, 8))::BIGINT % {QC_BUCKETS}
                AS INT) + 1]) AS BIGINT) AS weight_milli_sum
  FROM toks GROUP BY doc_id
)
SELECT doc_id, n_tokens, weight_milli_sum,
       round(weight_milli_sum / (n_tokens * 1000.0), 6) AS quality_logit,
       round(weight_milli_sum / (n_tokens * 1000.0), 6) > {QC_THRESHOLD}
         AS keep
FROM scored
"""
