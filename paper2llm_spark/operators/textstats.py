"""Text analysis operators over ``documents`` — lang-ID, quality scoring,
token counting, fingerprinting, PII scrubbing and TF-IDF keywords.

Everything here is whole-stage-codegen expressions (no UDF, no shuffle
except the final exchange the sink needs), so the per-row cost at 10^12
docs is pure CPU with map-side evaluation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import SQL_TOKENS, tokens

_LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "los", "que", "y", "es"],
}
_LANG_ORDER = ["en", "de", "fr", "es"]  # deterministic tie-break order


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the local testdata table is a single parquet file (one row group =
    # one input split); spread it so per-doc scalar work parallelizes —
    # at cluster scale the scan already has many splits and this exchange
    # is round-robin over small text rows
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# language ID (n-gram/stopword heuristic)
# ---------------------------------------------------------------------------

def with_lang(docs: DataFrame) -> DataFrame:
    """Append per-language marker scores + ``pred_lang`` to a frame
    carrying a staged ``toks`` column (shared by the standalone query
    and the fused curation pipeline — composition stays single-pass)."""
    scored = docs
    for lang, markers in _LANG_MARKERS.items():
        scored = scored.withColumn(
            f"score_{lang}",
            F.size(F.filter(F.col("toks"), lambda t: t.isin(markers))).cast("bigint"),
        )
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_ORDER])
    pred = F.lit("und")
    for lang in reversed(_LANG_ORDER):  # earlier language wins ties
        pred = F.when(
            (best > 0) & (F.col(f"score_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", tokens(F.col("text")).alias("toks"))
    return with_lang(docs).select(
        "doc_id",
        *[F.col(f"score_{lang}") for lang in _LANG_ORDER],
        "pred_lang",
    )


def _lang_id_sql() -> str:
    tok = SQL_TOKENS.format(expr="text")
    score_cols = []
    for lang, markers in _LANG_MARKERS.items():
        in_list = ", ".join(f"'{m}'" for m in markers)
        score_cols.append(
            f"len(list_filter(toks, t -> t IN ({in_list}))) AS score_{lang}"
        )
    best = "greatest(score_en, score_de, score_fr, score_es)"
    case = "CASE "
    for lang in _LANG_ORDER:
        case += f"WHEN {best} > 0 AND score_{lang} = {best} THEN '{lang}' "
    case += "ELSE 'und' END"
    return (
        f"WITH t AS (SELECT doc_id, {tok} AS toks FROM documents),\n"
        f"s AS (SELECT doc_id, {', '.join(score_cols)} FROM t)\n"
        f"SELECT doc_id, score_en, score_de, score_fr, score_es, {case} AS pred_lang FROM s"
    )


LANG_ID_SQL = _lang_id_sql()


# ---------------------------------------------------------------------------
# quality scoring (length / punctuation / stopword-ratio heuristics)
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "of", "and", "is", "in", "to", "it"]


def with_quality(docs: DataFrame) -> DataFrame:
    """Append n_chars/n_words/ratios/``quality`` to a frame carrying
    ``text`` and a staged ``toks`` column."""
    toks = F.col("toks")
    n_chars = F.length("text").cast("bigint")
    n_words = F.size(toks).cast("bigint")
    stop_in = ", ".join(f"'{s}'" for s in _STOPWORDS)
    n_stop = F.size(F.filter(toks, lambda t: t.isin(_STOPWORDS)))
    n_punct = F.length("text") - F.length(
        F.regexp_replace("text", r"[^\w\s]", "")
    )
    avg_word_len = F.round(
        F.when(n_words > 0, (n_chars - n_words + 1) / n_words).otherwise(F.lit(0.0)), 4
    )
    stop_ratio = F.round(
        F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0)), 4
    )
    punct_ratio = F.round(
        F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0)), 4
    )
    # floor(x*1e4 + 0.5)/1e4: identical half-up rounding in both engines
    # (Spark round() and DuckDB round() disagree on decimal-tie doubles)
    raw_score = (
        F.lit(0.5) * stop_ratio
        + F.lit(0.3) * (F.lit(1.0) - punct_ratio)
        + F.lit(0.2) * F.least(n_words / F.lit(100.0), F.lit(1.0))
    )
    score = F.floor(raw_score * 10000 + F.lit(0.5)) / 10000
    return (
        docs.withColumn("n_chars", n_chars)
        .withColumn("n_words", n_words)
        .withColumn("avg_word_len", avg_word_len)
        .withColumn("stop_ratio", stop_ratio)
        .withColumn("punct_ratio", punct_ratio)
        .withColumn("quality", score)
    )


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stage tokens into a bound attribute (see dedup._shingled note)
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", tokens(F.col("text")).alias("toks")
    )
    return with_quality(docs).select(
        "doc_id", "n_chars", "n_words", "avg_word_len",
        "stop_ratio", "punct_ratio", "quality",
    )


QUALITY_SQL = f"""
WITH t AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len({SQL_TOKENS.format(expr="text")}) AS n_words,
         len(list_filter({SQL_TOKENS.format(expr="text")},
             t -> t IN ({", ".join(f"'{s}'" for s in _STOPWORDS)}))) AS n_stop,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct
  FROM documents
)
SELECT doc_id, n_chars, n_words,
       round(CASE WHEN n_words > 0 THEN (n_chars - n_words + 1) / n_words ELSE 0.0 END, 4) AS avg_word_len,
       round(CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END, 4) AS stop_ratio,
       round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 4) AS punct_ratio,
       floor((0.5 * round(CASE WHEN n_words > 0 THEN n_stop / n_words ELSE 0.0 END, 4)
           + 0.3 * (1.0 - round(CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END, 4))
           + 0.2 * least(n_words / 100.0, 1.0)) * 10000 + 0.5) / 10000 AS quality
FROM t
"""


# ---------------------------------------------------------------------------
# token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("ws_tokens"),
        F.regexp_count("text", F.lit(BPE_PATTERN)).cast("bigint").alias("bpe_tokens"),
    )


TOKEN_COUNT_SQL = f"""
SELECT doc_id,
       len({SQL_TOKENS.format(expr="text")}) AS ws_tokens,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS bpe_tokens
FROM documents
"""


# ---------------------------------------------------------------------------
# document fingerprinting (normalized digest)
# ---------------------------------------------------------------------------

def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return _docs(spark, sf_dir).select(
        "doc_id", F.md5(normalized).alias("fingerprint")
    )


FINGERPRINT_SQL = """
SELECT doc_id, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fingerprint
FROM documents
"""


# ---------------------------------------------------------------------------
# PII scrubbing (email / phone / IP redaction)
# ---------------------------------------------------------------------------

# Patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): char classes, bounded repeats, \. escapes —
# no lookarounds, no backrefs. Applied email-first so the address's
# dotted host can't be half-eaten by the IP rule.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{4,10}"
PII_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

# The corpus is clean word-soup, so a scrub over raw `text` would be a
# vacuous 0-redaction check; plant deterministic PII for 2 of every 3
# docs (the third proves the identity path) — same SQL template on both
# engines, same trick as ref_url_normalize.
_PII_PLANT = (
    "CASE WHEN doc_id % 3 = 0 THEN text ELSE "
    "text || ' Contact user' || doc_id || '@example.com or call "
    "+1-555-' || (1000 + doc_id % 9000) || ' from 10.0.' || (doc_id % 256) "
    "|| '.' || ((doc_id * 7) % 256) || '.' END"
)


def with_pii_scrub(docs: DataFrame) -> DataFrame:
    """Append ``clean`` + per-kind redaction counts to a frame carrying
    a ``pii_text`` column."""
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii_text"), PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return (
        docs.withColumn("clean", clean)
        .withColumn(
            "n_emails",
            F.regexp_count("pii_text", F.lit(PII_EMAIL_RE)).cast("bigint"),
        )
        .withColumn(
            "n_phones",
            F.regexp_count("pii_text", F.lit(PII_PHONE_RE)).cast("bigint"),
        )
        .withColumn(
            "n_ips",
            F.regexp_count("pii_text", F.lit(PII_IP_RE)).cast("bigint"),
        )
    )


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redact emails/phones/IPs and count each — the standard compliance
    pass before training-corpus publication. Pure regexp_replace /
    regexp_count expressions: whole-stage codegen, shuffle-free,
    trivially scalable (per-row CPU only)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_PII_PLANT).alias("pii_text")
    )
    return with_pii_scrub(docs).select(
        "doc_id", "clean", "n_emails", "n_phones", "n_ips"
    )


PII_SCRUB_SQL = f"""
WITH p AS (SELECT doc_id, {_PII_PLANT} AS pii_text FROM documents)
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(pii_text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
           '{PII_IP_RE}', '<IP>', 'g'),
         '{PII_PHONE_RE}', '<PHONE>', 'g') AS clean,
       len(regexp_extract_all(pii_text, '{PII_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(pii_text, '{PII_PHONE_RE}')) AS n_phones,
       len(regexp_extract_all(pii_text, '{PII_IP_RE}')) AS n_ips
FROM p
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction (top-k terms per document)
# ---------------------------------------------------------------------------

TFIDF_TOPK = 3


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K tokens per document by tf·idf (idf = ln((N+1)/(df+1)),
    add-1 smoothed).

    Plan: one explode feeds BOTH aggregations — tf is a
    map-side-combinable groupBy(doc_id, tok); df reaggregates the tf
    frame (already one row per (doc, tok), so df = count per tok — no
    second corpus scan and no distinct). The df table is
    vocabulary-sized: AQE broadcasts it here; at a 10^12-doc vocabulary
    it degrades gracefully to a shuffle join on tok. idf travels as
    exact micro-nats, so tf·idf is an exact bigint before the final
    rounding and the per-doc top-K window is order-stable across
    engines.
    """
    tf = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    n_docs = _docs(spark, sf_dir).agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    df_tbl = (
        tf.groupBy("tok")
        .agg(F.count("*").cast("bigint").alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.floor(
                F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                * 1000000
                + F.lit(0.5)
            ).cast("bigint").alias("idf_micro"),
        )
    )
    scored = tf.join(df_tbl, "tok").select(
        "doc_id",
        "tok",
        "tf",
        (F.col("tf") * F.col("idf_micro")).alias("score_micro"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TFIDF_TOPK)
        .select(
            "doc_id",
            F.col("rank").cast("bigint").alias("rank"),
            "tok",
            "tf",
            (
                F.floor(F.col("score_micro") / 1000000.0 * 10000 + F.lit(0.5))
                / 10000
            ).alias("tfidf"),
        )
    )


_TFIDF_TOK = SQL_TOKENS.format(expr="text")

TFIDF_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest({_TFIDF_TOK}) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM ex GROUP BY doc_id, tok),
nd AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
dft AS (
  SELECT tok,
         floor(ln((n_docs + 1.0) / (count(*) + 1.0)) * 1000000 + 0.5)::BIGINT
           AS idf_micro
  FROM tf, nd GROUP BY tok, n_docs
),
scored AS (
  SELECT doc_id, tok, tf, tf * idf_micro AS score_micro
  FROM tf JOIN dft USING (tok)
),
ranked AS (
  SELECT doc_id, tok, tf, score_micro,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY score_micro DESC, tok
         ) AS rank
  FROM scored
)
SELECT doc_id, rank::BIGINT AS rank, tok, tf,
       floor(score_micro / 1000000.0 * 10000 + 0.5) / 10000 AS tfidf
FROM ranked WHERE rank <= {TFIDF_TOPK}
"""


QUERIES: dict[str, tuple] = {
    "text_lang_id": (lang_id, LANG_ID_SQL),
    "text_tfidf_topk": (tfidf_topk, TFIDF_SQL),
    "text_pii_scrub": (pii_scrub, PII_SCRUB_SQL),
    "text_quality_score": (quality_score, QUALITY_SQL),
    "text_token_count": (token_count, TOKEN_COUNT_SQL),
    "text_fingerprint": (doc_fingerprint, FINGERPRINT_SQL),
}
