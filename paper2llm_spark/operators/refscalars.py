"""Reference scalar operators (SURVEY.md §2) as driver-checkable queries.

Each query synthesizes its input column deterministically from the
``documents`` table (A1: ``events``) IN SQL (both engines build the
identical string), then applies the Spark Column twin from
``functions.refcols`` or an inline Column expression, with a DuckDB
dual. Covered here: T1 extractTitle, B1 extractYearFromDate, B3
generateBibTeXKey, V2 extractDescriptionFromTags, E4 extractImageContext,
O3 calculateImageMetrics, S7 download naming, O4 formatFileSize, T4
countWords, B2 sanitizeBibTeXText, B5/B6 title similarity, P2 URL
algebra and A1 ordered reassembly — the rows of the operator inventory
that are SQL-expressible but not already exercised by the
pipeline-level queries.

Scale note: all of these but B6 (a join on doc_id + 1) and A1 (one
groupBy) are per-row projections (no shuffle, whole plan map-side); at
10^12 docs the cost is a single scan + codegen'd expressions, so the
only engineering is keeping them off the Python interpreter — which
they are, being pure Column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.refcols import (
    bibtex_key_b3,
    image_context_e4,
    image_metrics_o3,
    tag_extract_v2,
    title_extract_t1,
    year_b1,
)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-file local table -> spread for per-row scalar parallelism
    # (at cluster scale the scan has many splits and this is a no-op
    # round-robin of small rows)
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


# ---------------------------------------------------------------------------
# T1 extractTitle (markdown-splitter.ts:69-84)
# ---------------------------------------------------------------------------

def title_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 title, else BibTeX title={...}, else Untitled_Paper — all three
    branches exercised by doc_id % 3."""
    docs = _docs(spark, sf_dir)
    md = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("# Title "),
                F.substring("text", 1, 20),
                F.lit("\n\nBody text."),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("No heading here.\n\ntitle={Bib Title "),
                F.col("doc_id").cast("string"),
                F.lit("}\n"),
            ),
        )
        .otherwise(F.lit("plain text, no title anywhere"))
    )
    return docs.select(
        "doc_id", title_extract_t1(md).alias("title")
    )


TITLE_EXTRACT_SQL = """
WITH m AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '# Title ' || substr(text, 1, 20) || chr(10) || chr(10) || 'Body text.'
              WHEN doc_id % 3 = 1
              THEN 'No heading here.' || chr(10) || chr(10) || 'title={Bib Title ' || doc_id::VARCHAR || '}' || chr(10)
              ELSE 'plain text, no title anywhere' END AS md
  FROM documents
)
SELECT doc_id,
       -- inline (?m): DuckDB's options argument does not enable multiline
       CASE WHEN regexp_matches(md, '(?m)^# (.+?)$')
            THEN trim(regexp_extract(md, '(?m)^# (.+?)$', 1))
            WHEN regexp_matches(md, 'title=\\{([^}]*)\\}')
            THEN trim(regexp_extract(md, 'title=\\{([^}]*)\\}', 1))
            ELSE 'Untitled_Paper' END AS title
FROM m
"""


# ---------------------------------------------------------------------------
# B1 extractYearFromDate (bibtex-generator.ts:108-119)
# ---------------------------------------------------------------------------

def year_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ISO-leading year, pinned current-year fallback (tests pin 2026 —
    BASELINE.md notes the reference uses new Date().getFullYear())."""
    docs = _docs(spark, sf_dir)
    date = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                (F.lit(1980) + F.col("doc_id") % 40).cast("string"),
                F.lit("-05-01"),
            ),
        )
        .when(F.col("doc_id") % 4 == 1, (F.lit(1900) + F.col("doc_id") % 120).cast("string"))
        .when(F.col("doc_id") % 4 == 2, F.lit("not a date"))
        .otherwise(F.lit(None).cast("string"))
    )
    return docs.select("doc_id", year_b1(date).alias("year"))


YEAR_EXTRACT_SQL = """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0 THEN (1980 + doc_id % 40)::VARCHAR || '-05-01'
              WHEN doc_id % 4 = 1 THEN (1900 + doc_id % 120)::VARCHAR
              WHEN doc_id % 4 = 2 THEN 'not a date'
              ELSE NULL END AS dt
  FROM documents
)
SELECT doc_id,
       CASE WHEN dt IS NOT NULL AND regexp_extract(dt, '^([0-9]{4})', 1) <> ''
            THEN regexp_extract(dt, '^([0-9]{4})', 1)
            ELSE '2026' END AS year
FROM d
"""


# ---------------------------------------------------------------------------
# B3 generateBibTeXKey (bibtex-generator.ts:153-188)
# ---------------------------------------------------------------------------

def bibtex_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-author last word + year + first substantive title word
    (stop-list + >2-chars filter, fallback first word)."""
    docs = _docs(spark, sf_dir)
    title = F.when(
        F.col("doc_id") % 11 == 0, F.lit("a an of")  # no substantive word
    ).otherwise(F.concat(F.lit("On the "), F.substring("text", 1, 24)))
    author = F.concat(
        F.lit("Example Author"), (F.col("doc_id") % 7).cast("string")
    )
    year = (F.lit(1980) + F.col("doc_id") % 40).cast("string")
    return docs.select(
        "doc_id", bibtex_key_b3(title, author, year).alias("bibtex_key")
    )


BIBTEX_KEY_SQL = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'a an of'
              ELSE 'On the ' || substr(text, 1, 24) END AS title,
         'Example Author' || (doc_id % 7)::VARCHAR AS author,
         (1980 + doc_id % 40)::VARCHAR AS year
  FROM documents
),
parts AS (
  SELECT doc_id, year,
         lower(string_split(author, ' ')[-1]) AS author_part,
         list_transform(string_split(title, ' '),
                        w -> regexp_replace(lower(w), '[^a-z0-9]', '', 'g')) AS cleaned
  FROM base
),
cand AS (
  SELECT doc_id, year, author_part, cleaned,
         list_filter(cleaned,
                     c -> length(c) > 2 AND NOT list_contains(
                       ['a','an','the','on','in','of','for','and','or'], c)) AS candidates
  FROM parts
)
SELECT doc_id,
       author_part || year || coalesce(candidates[1], cleaned[1], '') AS bibtex_key
FROM cand
"""


# ---------------------------------------------------------------------------
# V2 extractDescriptionFromTags (image-prompt-template.ts:60-89)
# ---------------------------------------------------------------------------

def tag_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """<img_desc>...</img_desc> extraction: closed, unclosed (tolerated),
    and missing (NULL) branches."""
    docs = _docs(spark, sf_dir)
    resp = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("  <img_desc>"),
                F.substring("text", 1, 40),
                F.lit("</img_desc> trailing"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(F.lit("noise <img_desc>unclosed "), F.substring("text", 1, 20)),
        )
        .otherwise(F.lit("no tags at all"))
    )
    return docs.select("doc_id", tag_extract_v2(resp).alias("description"))


TAG_EXTRACT_SQL = """
WITH r AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN '  <img_desc>' || substr(text, 1, 40) || '</img_desc> trailing'
              WHEN doc_id % 3 = 1
              THEN 'noise <img_desc>unclosed ' || substr(text, 1, 20)
              ELSE 'no tags at all' END AS resp
  FROM documents
),
t AS (SELECT doc_id, trim(resp) AS trimmed FROM r)
SELECT doc_id,
       CASE WHEN position('<img_desc>' IN trimmed) > 0
            THEN trim(regexp_extract(trimmed, '<img_desc>(.*?)(?:</img_desc>|$)', 1, 's'))
            END AS description
FROM t
"""


# ---------------------------------------------------------------------------
# E4 extractImageContext (markdown-processor.ts:390-408)
# ---------------------------------------------------------------------------

def image_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context string with the ``img`` page-label quirk and the
    2000-char truncation (1997 + '...'); long pages synthesized by
    repeating the document text."""
    docs = _docs(spark, sf_dir)
    page_md = F.concat_ws(" ", F.array_repeat(F.col("text"), 8))
    image_id = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("img-"), (F.col("doc_id") % 5).cast("string"), F.lit(".jpeg")),
    ).otherwise(F.concat((F.col("doc_id") % 9).cast("string"), F.lit("-fig.png")))
    return docs.select(
        "doc_id", image_context_e4(page_md, image_id).alias("context")
    )


IMAGE_CONTEXT_SQL = """
WITH p AS (
  SELECT doc_id,
         array_to_string(list_transform(range(8), i -> text), ' ') AS page_md,
         CASE WHEN doc_id % 2 = 0 THEN 'img-' || (doc_id % 5)::VARCHAR || '.jpeg'
              ELSE (doc_id % 9)::VARCHAR || '-fig.png' END AS image_id
  FROM documents
),
lbl AS (
  SELECT doc_id, page_md,
         CASE WHEN string_split(image_id, '-')[1] <> ''
              THEN string_split(image_id, '-')[1] ELSE 'unknown' END AS label
  FROM p
)
SELECT doc_id,
       'This image appears on page ' || label ||
       '. The surrounding page content follows.' || chr(10) || chr(10) ||
       CASE WHEN length(page_md) > 2000 THEN substr(page_md, 1, 1997) || '...'
            ELSE page_md END AS context
FROM lbl
"""


# ---------------------------------------------------------------------------
# O3 calculateImageMetrics (content-utils.ts:230-252)
# ---------------------------------------------------------------------------

def image_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown-image vs described count incl. the colon-variant quirk;
    struct flattened to columns for the hash compare."""
    docs = _docs(spark, sf_dir)
    md = F.concat(
        F.concat_ws(
            " ",
            F.array_repeat(F.lit("![alt](img-0.jpeg)"), (F.col("doc_id") % 4).cast("int")),
        ),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.lit("\n> **Image Description:** legacy-colon variant\n"),
        ).otherwise(F.lit("\n> **Image description.** pipeline variant\n")),
    )
    m = image_metrics_o3(md)
    return docs.select(
        "doc_id",
        m["original_image_count"].alias("original_image_count"),
        m["described_image_count"].alias("described_image_count"),
        m["has_processed_images"].alias("has_processed_images"),
    )


IMAGE_METRICS_SQL = r"""
WITH m AS (
  SELECT doc_id,
         -- array_to_string([]) is NULL in DuckDB (Spark concat_ws gives '')
         coalesce(array_to_string(list_transform(range(doc_id % 4), i -> '![alt](img-0.jpeg)'), ' '), '')
         || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || '> **Image Description:** legacy-colon variant' || chr(10)
                 ELSE chr(10) || '> **Image description.** pipeline variant' || chr(10) END AS md
  FROM documents
),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(md, '!\[.*?\]\(.*?\)')) AS md_count,
         len(regexp_extract_all(md, '> \*\*Image Description:\*\*')) AS desc_count
  FROM m
)
SELECT doc_id,
       greatest(md_count, desc_count) AS original_image_count,
       desc_count AS described_image_count,
       desc_count > 0 AS has_processed_images
FROM c
"""


def export_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 download naming (useCopyDownload.ts:74,306,321,336,395) over
    repo-style filenames synthesized from doc_id."""
    from .export import export_file_name

    docs = _docs(spark, sf_dir)
    fname = F.concat(
        F.lit("arxiv-2401."),
        F.lpad(F.col("doc_id").cast("string"), 5, "0"),
        F.lit(".pdf"),
    )
    return docs.select(
        "doc_id",
        export_file_name(fname, "full").alias("name_full"),
        export_file_name(fname, "main").alias("name_main"),
        export_file_name(fname, "appendix").alias("name_appendix"),
        export_file_name(fname, "backmatter").alias("name_backmatter"),
    )


EXPORT_NAME_SQL = r"""
WITH f AS (
  SELECT doc_id,
         regexp_replace('arxiv-2401.' || lpad(doc_id::VARCHAR, 5, '0') || '.pdf',
                        '\.[^/.]+$', '') AS base
  FROM documents
)
SELECT doc_id,
       base || '.md' AS name_full,
       base || '_main.md' AS name_main,
       base || '_appendix.md' AS name_appendix,
       base || '_backmatter.md' AS name_backmatter
FROM f
"""


def format_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 formatFileSize (format-utils.ts:18-26) over byte counts
    synthesized to hit all three branches (B / KB / MB) at any sf."""
    from .export import format_file_size

    docs = _docs(spark, sf_dir)
    nbytes = (
        F.when(F.col("doc_id") % 3 == 0, F.col("doc_id") % 1000)
        .when(F.col("doc_id") % 3 == 1, (F.col("doc_id") % 1000) * 1024 + 37)
        .otherwise((F.col("doc_id") % 9) * 1048576 + 123456)
    ).cast("long")
    return docs.select(
        "doc_id", nbytes.alias("nbytes"),
        format_file_size(nbytes).alias("size_label"),
    )


FORMAT_SIZE_SQL = """
WITH b AS (
  SELECT doc_id,
         (CASE WHEN doc_id % 3 = 0 THEN doc_id % 1000
               WHEN doc_id % 3 = 1 THEN (doc_id % 1000) * 1024 + 37
               ELSE (doc_id % 9) * 1048576 + 123456 END)::BIGINT AS nbytes
  FROM documents
)
SELECT doc_id, nbytes,
       CASE WHEN nbytes < 1024 THEN nbytes::VARCHAR || ' B'
            WHEN nbytes < 1048576 THEN round(nbytes / 1024.0, 1)::VARCHAR || ' KB'
            ELSE round(nbytes / 1048576.0, 1)::VARCHAR || ' MB' END AS size_label
FROM b
"""


def format_timestamp_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 formatTimestamp (format-utils.ts:7-10) over timestamps
    synthesized from doc_id to sweep months, AM/PM (incl. the 12 AM / 12
    PM clock-hour edge) and second values; rendering pinned to en-US/UTC
    (locale-dependent in the reference, see operators/export.py)."""
    from .export import format_timestamp

    docs = _docs(spark, sf_dir)
    ts = F.expr(
        "timestamp'2025-11-30 20:05:06'"
        " + make_interval(0, 0, 0, 0, 0, doc_id * 97, doc_id % 61)"
    )
    return docs.select(
        "doc_id", ts.alias("ts"), format_timestamp(ts).alias("ts_label")
    )


FORMAT_TIMESTAMP_SQL = """
WITH t AS (
  SELECT doc_id,
         timestamp '2025-11-30 20:05:06'
           + (doc_id * 97) * INTERVAL 1 MINUTE
           + (doc_id % 61) * INTERVAL 1 SECOND AS ts
  FROM documents
)
SELECT doc_id, ts, strftime(ts, '%-m/%-d/%Y, %-I:%M:%S %p') AS ts_label
FROM t
"""


# ---------------------------------------------------------------------------
# T4 countWords, B2 sanitizeBibTeXText, B5/B6 title similarity, P2 URL algebra
# ---------------------------------------------------------------------------

def word_count_t4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4 countWords (markdown-splitter.ts:326-332): split on whitespace,
    drop empties, count."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0)
        ).cast("bigint").alias("n_words"),
    )


WORD_COUNT_SQL = """
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\\s+'), w -> length(w) > 0)) AS n_words
FROM documents
"""


def sanitize_bibtex_b2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 sanitizeBibTeXText (bibtex-generator.ts:127-143) as a
    regexp_replace chain (SURVEY.md §2.7: chain preferred, SQL-only).
    Applied to the first 80 chars of each document."""
    s = F.substring("text", 1, 80)
    # escape & % $ # _ { } ~ ^ \ with a backslash ($ via \$ group ref-safe)
    out = F.regexp_replace(s, r"([&%$#_{}~^\\])", r"\\$1")
    # whitespace class members except plain space get escaped too (:133-136)
    out = F.regexp_replace(out, "\t", "\\\\\t")
    out = F.regexp_replace(out, "\n", "\\\\\n")
    return _docs(spark, sf_dir).select("doc_id", out.alias("sanitized"))


SANITIZE_SQL = r"""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(substr(text, 1, 80), '([&%$#_{}~^\\])', '\\\1', 'g'),
           '\t', '\\' || chr(9), 'g'),
         '\n', '\\' || chr(10), 'g') AS sanitized
FROM documents
"""


def title_similarity_b6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B5/B6 normalize + compare (bibtex-generator.ts:269-325) over
    consecutive doc pairs: dup-counting original side, set on the other,
    similarity = common / max(len(orig), |set|), match when > 0.75."""
    docs = _docs(spark, sf_dir)
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(F.substring("text", 1, 60)), "[^a-z\\s]", ""), r"\s+", " ")
    )
    n = docs.select("doc_id", norm.alias("norm"))
    a = n.alias("a")
    b = n.select((F.col("doc_id") - 1).alias("doc_id"), F.col("norm").alias("norm_b")).alias("b")
    pairs = a.join(b, "doc_id")
    orig_words = F.split(F.col("norm"), " ")
    bib_set = F.array_distinct(F.split(F.col("norm_b"), " "))
    common = F.size(F.filter(orig_words, lambda w: F.array_contains(bib_set, w)))
    similarity = common / F.greatest(F.size(orig_words), F.size(bib_set))
    matches = F.when(
        (F.length("norm") < 10) | (F.length("norm_b") < 10),
        F.col("norm") == F.col("norm_b"),
    ).otherwise(similarity > 0.75)
    return pairs.select(
        "doc_id",
        F.round(similarity, 4).alias("similarity"),
        matches.alias("matches"),
    )


TITLE_SIM_SQL = """
WITH n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(substr(text, 1, 60)), '[^a-z\\s]', '', 'g'),
              '\\s+', ' ', 'g')) AS norm
  FROM documents
),
pairs AS (
  SELECT a.doc_id, a.norm, b.norm AS norm_b
  FROM n a JOIN n b ON b.doc_id = a.doc_id + 1
),
calc AS (
  SELECT doc_id, norm, norm_b,
         string_split(norm, ' ') AS ow,
         list_distinct(string_split(norm_b, ' ')) AS bs
  FROM pairs
),
sim AS (
  SELECT doc_id, norm, norm_b,
         len(list_filter(ow, w -> list_contains(bs, w))) /
         greatest(len(ow), len(bs)) AS similarity
  FROM calc
)
SELECT doc_id, round(similarity, 4) AS similarity,
       CASE WHEN length(norm) < 10 OR length(norm_b) < 10 THEN norm = norm_b
            ELSE similarity > 0.75 END AS matches
FROM sim
"""


def url_normalize_p2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 arXiv-style /abs|html/ -> /pdf/ + ensure .pdf
    (generic-handler.ts:186-191, base-handler.ts:47-52) over synthesized
    urls keyed by doc_id."""
    docs = _docs(spark, sf_dir)
    url = F.concat(
        F.lit("https://arxiv.org/"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("abs"))
        .when(F.col("doc_id") % 3 == 1, F.lit("html"))
        .otherwise(F.lit("pdf")),
        F.lit("/2401."),
        F.lpad(F.col("doc_id").cast("string"), 5, "0"),
    )
    rewritten = F.regexp_replace(url, "/(abs|html)/", "/pdf/")
    ensured = F.when(
        ~F.lower(rewritten).endswith(".pdf"), F.concat(rewritten, F.lit(".pdf"))
    ).otherwise(rewritten)
    return docs.select("doc_id", url.alias("url"), ensured.alias("pdf_url"))


URL_NORMALIZE_SQL = """
WITH u AS (
  SELECT doc_id,
         'https://arxiv.org/' ||
         CASE WHEN doc_id % 3 = 0 THEN 'abs' WHEN doc_id % 3 = 1 THEN 'html' ELSE 'pdf' END ||
         '/2401.' || lpad(doc_id::VARCHAR, 5, '0') AS url
  FROM documents
),
r AS (SELECT doc_id, url, regexp_replace(url, '/(abs|html)/', '/pdf/') AS rewritten FROM u)
SELECT doc_id, url,
       CASE WHEN NOT ends_with(lower(rewritten), '.pdf') THEN rewritten || '.pdf'
            ELSE rewritten END AS pdf_url
FROM r
"""


# ---------------------------------------------------------------------------
# A1 ordered reassembly (markdown-processor.ts:17-77) over events
# ---------------------------------------------------------------------------

def assemble_pages_a1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A1 groupBy-sort reassembly (markdown-processor.ts:17-77) applied
    to the events stream: each user's events are its 'pages' in (ts,
    event_id) order; separator before every element after the first,
    ``#### Page {i+1}`` headings from position. Same collect_list +
    array_sort + transform/concat_ws plan as the production pipeline."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").filter(
        F.col("user_id") < 50
    )
    grouped = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("pages")
    )
    md = F.concat_ws(
        "",
        F.transform(
            F.col("pages"),
            lambda p, i: F.concat(
                F.when(i > 0, F.lit("\n\n---\n\n")).otherwise(F.lit("")),
                F.lit("#### Page "),
                (i + 1).cast("string"),
                F.lit("\n\n"),
                p["event_type"],
            ),
        ),
    )
    return grouped.select(
        "user_id", md.alias("doc"), F.size("pages").cast("bigint").alias("page_count")
    )


ASSEMBLE_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events WHERE user_id < 50
)
SELECT user_id,
       string_agg('#### Page ' || rn::VARCHAR || chr(10) || chr(10) || event_type,
                  chr(10) || chr(10) || '---' || chr(10) || chr(10) ORDER BY rn) AS doc,
       count(*) AS page_count
FROM ordered
GROUP BY user_id
"""


QUERIES: dict[str, tuple] = {
    "ref_title_extract": (title_extract, TITLE_EXTRACT_SQL),
    "ref_year_extract": (year_extract, YEAR_EXTRACT_SQL),
    "ref_bibtex_key": (bibtex_key, BIBTEX_KEY_SQL),
    "ref_tag_extract": (tag_extract, TAG_EXTRACT_SQL),
    "ref_image_context": (image_context, IMAGE_CONTEXT_SQL),
    "ref_image_metrics": (image_metrics, IMAGE_METRICS_SQL),
    "ref_export_name": (export_name, EXPORT_NAME_SQL),
    "ref_format_size": (format_size, FORMAT_SIZE_SQL),
    "ref_format_timestamp": (format_timestamp_q, FORMAT_TIMESTAMP_SQL),
    "ref_word_count": (word_count_t4, WORD_COUNT_SQL),
    "ref_sanitize_bibtex": (sanitize_bibtex_b2, SANITIZE_SQL),
    "ref_title_similarity": (title_similarity_b6, TITLE_SIM_SQL),
    "ref_url_normalize": (url_normalize_p2, URL_NORMALIZE_SQL),
    "ref_assemble_pages": (assemble_pages_a1, ASSEMBLE_SQL),
}
