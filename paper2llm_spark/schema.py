"""Spark schemas — the §1.4 data model of SURVEY.md.

The pages input shape is the BASELINE.json ``input_hint``. A parsed page
row carries only what conversion reads of the reference's OcrPage
(``src/types/interfaces.ts:103-132``): index, markdown and image ids.
"""

from __future__ import annotations

from pyspark.sql import types as T

# the pages table (BASELINE.json ``input_hint``): the schema the parquet
# reader, the WARC parser and the incremental stream give every input
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

# one row per parsed page of a giant document — the unit of parallelism
# between the range parse and the groupBy-sort reassembly (SURVEY.md §3.4)
PAGE_ROW = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("page_index", T.IntegerType()),
        T.StructField("page_markdown", T.StringType()),
        T.StructField("image_ids", T.ArrayType(T.StringType())),
        T.StructField("model", T.StringType()),
        T.StructField("err", T.StringType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("parse_partition", T.IntegerType()),
        T.StructField("parse_wall_ms", T.LongType()),
    ]
)

# chunk plan rows (skew split of large PDFs by page ranges): a whole
# payload (page_lo 0) or a byte slice of the pages from page_lo on
CHUNK_ROW = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("page_lo", T.IntegerType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("bytes_in", T.LongType()),
    ]
)

TITLE_VALIDATION = T.StructType(
    [
        T.StructField("matches", T.BooleanType()),
        T.StructField("original_title", T.StringType()),
        T.StructField("bibtex_title", T.StringType()),
        T.StructField("normalized_original", T.StringType()),
        T.StructField("normalized_bibtex", T.StringType()),
    ]
)

# one extracted document: the output row of plans/extract.extract_documents,
# built on both routes by operators/document.document_row. The columns
# from ``markdown`` to ``title_validation`` are the keys of the oracle's
# convert_ocr_result (its ``bibtex_title_validation`` is ``title_validation``)
DOCUMENT_ROW = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("markdown", T.StringType()),
        T.StructField("main_content", T.StringType()),
        T.StructField("backmatter", T.StringType()),
        T.StructField("appendix", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("page_count", T.IntegerType()),
        T.StructField("image_references", T.ArrayType(T.StringType())),
        T.StructField("model", T.StringType()),
        T.StructField("bibtex", T.StringType()),
        T.StructField("bibtex_key", T.StringType()),
        T.StructField("bibtex_formatted", T.StringType()),
        T.StructField("title_validation", TITLE_VALIDATION),
        T.StructField("err", T.StringType()),
        T.StructField("bytes_in", T.LongType()),
        T.StructField("parse_partition", T.IntegerType()),
        T.StructField("parse_wall_ms", T.LongType()),
    ]
)

CHECKPOINT = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("status", T.StringType()),
        T.StructField("run_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)
