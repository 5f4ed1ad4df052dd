"""Input-table scan + payload detection (S1/F1/F2 of SURVEY.md §2).

The "upload"/"URL fetch" sources of the reference collapse into a table
scan (file-handler.ts:16-28,118-192); PDF-vs-HTML MIME sniffing
(file-handler.ts:200-226,247-249) becomes a magic-byte column expression
so Catalyst keeps it in whole-stage codegen and can prune the ``text``
column for the PDF branch.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import PAGES


def read_pages(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Scan the pages table: parquet locally; ``fmt='iceberg'`` on a
    cluster with an Iceberg catalog (same downstream plan either way);
    ``fmt='warc'`` parses raw crawl archives into the same shape
    (sources/warc.py) so a crawl feeds the pipeline with no conversion
    job. Parquet is read with the fixed ``schema.PAGES``, so the call
    submits no schema-inference job; a ``partitionBy`` column such as
    ``bucket`` is still discovered from the paths."""
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(path)
    if fmt == "warc":
        from .warc import read_warc

        return read_warc(spark, path)
    return spark.read.schema(PAGES).parquet(path)


def bucket_column(n_buckets: int) -> Column:
    """A row's logical bucket, ``pmod(xxhash64(url), n)``: the one
    definition for :func:`with_bucket` and the checkpointed runner."""
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    """Attach the engine's logical bucket column (:func:`bucket_column`).

    Producers should write the pages table physically partitioned by this
    column (``.write.partitionBy("bucket")`` / Iceberg partition spec on
    it). The checkpointed runner filters commit groups on ``bucket``; when
    the column is a physical partition, that filter partition-prunes the
    scan, so each commit group reads ONLY its buckets — at 100 TB the
    difference between ``n_groups`` full scans and one full scan total.
    """
    return df.withColumn("bucket", bucket_column(n_buckets))


def payload_kind(html_col: Column) -> Column:
    """``'pdf' | 'html' | 'empty' | 'other'`` from magic bytes — the SQL
    twin of ``oracle.urls.detect_payload`` (validatePdf F1 /
    checkUrlContentType F2). Pure expressions: codegen-friendly, no UDF."""
    head5 = F.decode(F.substring(html_col, 1, 5), "ISO-8859-1")
    head256 = F.decode(F.substring(html_col, 1, 256), "ISO-8859-1")
    return (
        F.when(html_col.isNull() | (F.length(html_col) == 0), F.lit("empty"))
        .when(head5 == "%PDF-", F.lit("pdf"))
        .when(F.ltrim(head256).startswith("<"), F.lit("html"))
        .otherwise(F.lit("other"))
    )


def in_langs(df: DataFrame, langs: tuple[str, ...]) -> DataFrame:
    """The rows in ``langs`` that name a document: a row with no url has
    nowhere to go in a table keyed by url, so it is dropped like an
    empty payload. Both predicates push down to the scan."""
    return df.filter(F.col("url").isNotNull() & F.col("lang").isin(*langs))


def select_extractable(
    df: DataFrame, langs: tuple[str, ...] = ("en",)
) -> DataFrame:
    """Filter to extractable rows: the url and lang predicates first
    (:func:`in_langs`, pushed down to the scan), then payload detection.
    Quarantined rows (empty/other payloads) are dropped here; X-family
    fixtures assert they never reach the parse stage."""
    out = in_langs(df, langs)
    out = out.withColumn("kind", payload_kind(F.col("html")))
    return out.filter(F.col("kind").isin("pdf", "html"))
