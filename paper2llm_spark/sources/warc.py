"""WARC source — read Common-Crawl's native container format into the
pages table shape (SURVEY.md §2.1 S1 family; ISO 28500 / WARC 1.0).

The engine's canonical input is the Iceberg/parquet pages table, but a
crawl lands as WARC: concatenated records, each a CRLF-terminated
header block (``WARC/1.0`` + name: value lines) followed by exactly
``Content-Length`` payload bytes.  ``read_warc`` turns a directory of
``.warc`` / ``.warc.gz`` files into ``(url, warc_ts, html, text,
lang)`` rows ready for ``select_extractable`` -> the extract pipeline,
so a crawl can be processed without a separate conversion job.

Scale shape: ``binaryFile`` hands each archive to ONE task — the
standard WARC processing granularity (crawl archives are written as
~1 GB rotated files precisely so per-file parallelism saturates a
cluster; Common Crawl's own reference jobs parallelize per file).
Parsing is a single forward pass over the bytes inside an Arrow
``mapInPandas`` — no per-row Python UDF, no regex over payloads, and
record boundaries come from Content-Length arithmetic, never from
scanning payload bytes for markers (payloads may legally contain
``WARC/1.0``).  Memory per task is bounded by one archive's raw +
decompressed bytes (binaryFile hard-caps a file at 2 GB — crawls
rotate archives at ~1 GB for exactly this class of reader); the
OUTPUT side never adds an archive-sized third copy because rows flush
to Arrow in bounded pandas chunks (``WARC_FLUSH_BYTES``/``_ROWS``).
Gzip is detected by the 0x1f8b magic bytes, not the filename.

The writer exists for fixtures and tests (the reference engine never
writes WARC); it emits spec-compliant ``response`` records plus the
``warcinfo`` preamble real crawls carry, so the reader's record-type
filter is exercised, not decorative.  Gzip variant: whole-file gzip
(multi-member streams from per-record compression also decode —
``gzip`` reads concatenated members).
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import PAGES

_WARC_EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)
_LANG_HEADER = "WARC-Identified-Content-Language"  # the Common Crawl header


# ---------------------------------------------------------------------------
# writer (fixtures/tests only)
# ---------------------------------------------------------------------------

def warc_record(
    rec_type: str,
    url: str | None,
    ts: datetime,
    payload: bytes,
    lang: str | None = None,
) -> bytes:
    """One spec-compliant WARC record: header block, blank line,
    ``Content-Length`` payload bytes, record separator."""
    lines = [
        b"WARC/1.0",
        b"WARC-Type: " + rec_type.encode(),
        b"WARC-Date: " + ts.strftime("%Y-%m-%dT%H:%M:%SZ").encode(),
        b"Content-Length: " + str(len(payload)).encode(),
    ]
    if url is not None:
        lines.insert(2, b"WARC-Target-URI: " + url.encode())
    if lang is not None:
        lines.append(_LANG_HEADER.encode() + b": " + lang.encode())
    return b"\r\n".join(lines) + b"\r\n\r\n" + payload + b"\r\n\r\n"


def warc_bytes(records: list[tuple[str, datetime, bytes, str]]) -> bytes:
    """A whole archive: warcinfo preamble + one response record per
    (url, ts, payload, lang) tuple."""
    out = [
        warc_record(
            "warcinfo", None, _WARC_EPOCH, b"software: paper2llm-spark-fixture"
        )
    ]
    for url, ts, payload, lang in records:
        out.append(warc_record("response", url, ts, payload, lang))
    return b"".join(out)


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

def iter_warc_records(data: bytes) -> Iterator[tuple[dict, bytes]]:
    """Forward pass over one archive's bytes: yields (headers, payload)
    per record.  Header names lowercased; boundaries from
    Content-Length only."""
    pos, n = 0, len(data)
    while pos < n:
        while data[pos : pos + 2] == b"\r\n":
            pos += 2
        if pos >= n:
            break
        head_end = data.find(b"\r\n\r\n", pos)
        if head_end < 0:
            raise ValueError(f"truncated WARC header block at byte {pos}")
        headers: dict = {}
        for line in data[pos:head_end].split(b"\r\n")[1:]:  # skip WARC/1.0
            k, _, v = line.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode()
        length = int(headers["content-length"])
        body_start = head_end + 4
        if body_start + length > n:
            raise ValueError(f"truncated WARC payload at byte {body_start}")
        yield headers, data[body_start : body_start + length]
        pos = body_start + length


_ROW_TYPES = ("response", "resource", "conversion")

# Per-task output buffering: flush a pandas frame to Arrow once it holds
# this many payload bytes or rows, whichever first.
WARC_FLUSH_BYTES = 64 * 1024 * 1024
WARC_FLUSH_ROWS = 4096


def read_warc(
    spark: SparkSession, path: str, default_lang: str = "en",
    row_types: tuple = _ROW_TYPES,
) -> DataFrame:
    """Scan ``.warc`` / ``.warc.gz`` archives into pages-shaped rows.

    Records whose ``WARC-Type`` is not in ``row_types`` are skipped
    (default: content records — warcinfo, request and metadata drop
    out; pass ``("metadata",)`` to scan WAT archives); ``lang`` comes
    from Common Crawl's language header when present.
    """
    files = spark.read.format("binaryFile").load(path).select("content", "path")

    def parse(batches):
        import pandas as pd

        def flush(out):
            df = pd.DataFrame(out)
            for col in out:
                out[col] = []
            return df

        for b in batches:
            out: dict = {"url": [], "warc_ts": [], "html": [], "text": [],
                         "lang": []}
            out_bytes = 0
            for blob, fname in zip(b["content"], b["path"]):
                data = bytes(blob)
                # detect gzip by the 0x1f8b magic, not the filename — a
                # misnamed archive (gzip without .gz, or .gz holding raw
                # WARC) parses instead of poisoning the whole partition
                if data[:2] == b"\x1f\x8b":
                    data = gzip.decompress(data)
                try:
                    for headers, payload in iter_warc_records(data):
                        if headers.get("warc-type") not in row_types:
                            continue
                        out["url"].append(headers.get("warc-target-uri", ""))
                        out["warc_ts"].append(
                            # WARC-Date is always Zulu; store naive UTC
                            pd.to_datetime(
                                headers.get("warc-date")
                            ).tz_convert(None)
                            if headers.get("warc-date")
                            else None
                        )
                        out["html"].append(payload)
                        out["text"].append("")
                        out["lang"].append(
                            headers.get(_LANG_HEADER.lower(), default_lang)
                        )
                        out_bytes += len(payload)
                        # bounded pandas copies: a ~1 GB archive yields
                        # as a sequence of <=64 MB frames instead of one
                        # archive-sized third copy alongside the raw and
                        # decompressed bytes (binaryFile itself caps an
                        # archive at 2 GB — rotate crawl files below
                        # that, as Common Crawl's ~1 GB segments are)
                        if out_bytes >= WARC_FLUSH_BYTES or len(
                            out["url"]
                        ) >= WARC_FLUSH_ROWS:
                            yield flush(out)
                            out_bytes = 0
                except ValueError as exc:
                    raise ValueError(f"{fname}: {exc}") from exc
            if out["url"]:
                yield flush(out)

    return files.mapInPandas(parse, schema=PAGES)


# ---------------------------------------------------------------------------
# driver query: WARC roundtrip scan
# ---------------------------------------------------------------------------

_HTML_TEMPLATE = (
    "<!DOCTYPE html><html><head><title>Document {doc_id}"
    "</title></head><body><nav><li>skip</li></nav><main><h1>Document "
    "{doc_id}</h1><p>{text}"
    "</p><h2>References</h2><p>[1] synthetic.</p></main>"
    "<footer>f</footer></body></html>"
)  # byte-for-byte the __spark_entry__._synth_pages SQL template


def _stage_warc(sf_dir: str) -> str:
    """Fixture staging (driver-side, like ``_stage_events``): the
    sf-dir documents rendered through the flagship HTML template into
    4 archives — two plain, two gzipped — so the graded read path
    covers both encodings and the warcinfo-skip."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = os.path.join(tempfile.gettempdir(), f"p2l_warc_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    tbl = pq.read_table(
        f"{sf_dir}/documents.parquet",
        columns=["doc_id", "source", "text", "lang"],
    ).to_pydict()
    shards: list[list] = [[], [], [], []]
    for doc_id, source, text, lang in zip(
        tbl["doc_id"], tbl["source"], tbl["text"], tbl["lang"]
    ):
        shards[doc_id % 4].append(
            (
                f"https://docs.test/{source}/{doc_id}",
                _WARC_EPOCH + timedelta(minutes=doc_id),
                _HTML_TEMPLATE.format(doc_id=doc_id, text=text).encode(),
                lang,
            )
        )
    for i, recs in enumerate(shards):
        blob = warc_bytes(recs)
        if i % 2:
            with open(os.path.join(out_dir, f"part-{i}.warc.gz"), "wb") as f:
                f.write(gzip.compress(blob))
        else:
            with open(os.path.join(out_dir, f"part-{i}.warc"), "wb") as f:
                f.write(blob)
    return out_dir


def warc_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: stage WARC archives from the templated corpus,
    scan them back, and emit per-record facts (payload md5/length,
    sniffed kind) the DuckDB dual recomputes closed-form from
    ``documents`` — proving the reader recovers every record's bytes,
    url, timestamp, and language exactly."""
    from .pages import payload_kind

    pages = read_warc(spark, _stage_warc(sf_dir))
    return pages.select(
        "url",
        "warc_ts",
        "lang",
        payload_kind(F.col("html")).alias("kind"),
        F.md5("html").alias("payload_md5"),
        F.length("html").cast("bigint").alias("payload_len"),
    )


WARC_SCAN_SQL = """
WITH src AS (
  SELECT doc_id,
         concat('https://docs.test/', source, '/', doc_id) AS url,
         lang,
         concat('<!DOCTYPE html><html><head><title>Document ', doc_id,
                '</title></head><body><nav><li>skip</li></nav><main>',
                '<h1>Document ', doc_id, '</h1><p>', text,
                '</p><h2>References</h2><p>[1] synthetic.</p></main>',
                '<footer>f</footer></body></html>') AS payload
  FROM documents
)
SELECT url,
       TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS warc_ts,
       lang,
       'html' AS kind,
       md5(payload) AS payload_md5,
       strlen(payload)::BIGINT AS payload_len
FROM src
"""


# ---------------------------------------------------------------------------
# WET sink (extracted-text archives, WARC conversion records)
# ---------------------------------------------------------------------------

def write_wet(
    df: DataFrame, out_dir: str, *, n_files: int = 8
) -> DataFrame:
    """Write ``(url, text)`` rows as WET archives (``conversion``
    records, the Common Crawl extracted-text convention) — the sink
    that closes the crawl loop: read WARC -> extract -> write WET.

    Distributed shape: hash-repartition on url into ``n_files`` write
    tasks, sort within each so file contents are deterministic, and
    let every task stream its partition into ONE gzip archive (mtime
    pinned to 0 — byte-stable output).  Task retries overwrite the
    same fixed filename, so the write is idempotent.  Returns the
    manifest (path, n_records, n_bytes) as a DataFrame — an action on
    it performs the write.  ``out_dir`` must be storage every executor
    can reach (local fs here; a mounted object store on a cluster —
    the same contract as any Spark file sink).
    """
    return _write_archives(
        df, out_dir, rec_type="conversion", name_fmt="wet-{pid:05d}.warc.wet.gz",
        n_files=n_files,
    )


def write_wat(
    df: DataFrame, out_dir: str, *, n_files: int = 8
) -> DataFrame:
    """Write ``(url, text)`` rows (``text`` holding the per-page JSON
    metadata envelope) as WAT archives — WARC ``metadata`` records,
    Common Crawl's link/title sidecar convention.  Same distributed
    shape, idempotency and manifest contract as :func:`write_wet`;
    with the WARC reader and WET sink this completes the
    WARC/WAT/WET container trio."""
    return _write_archives(
        df, out_dir, rec_type="metadata", name_fmt="wat-{pid:05d}.warc.wat.gz",
        n_files=n_files,
    )


def _write_archives(
    df: DataFrame, out_dir: str, *, rec_type: str, name_fmt: str,
    n_files: int,
) -> DataFrame:
    import os

    os.makedirs(out_dir, exist_ok=True)
    part = (
        df.select("url", "text")
        .repartition(n_files, "url")
        .sortWithinPartitions("url")
    )

    def write_part(batches):
        import pandas as pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        recs, n = [], 0
        for b in batches:
            for url, text in zip(b["url"], b["text"]):
                recs.append(
                    warc_record(rec_type, url, _WARC_EPOCH, text.encode())
                )
                n += 1
        if not recs:
            return  # empty partition -> no file, no manifest row
        blob = gzip.compress(b"".join(recs), mtime=0)
        path = os.path.join(out_dir, name_fmt.format(pid=pid))
        with open(path, "wb") as f:
            f.write(blob)
        yield pd.DataFrame(
            {"path": [path], "n_records": [n], "n_bytes": [len(blob)]}
        )

    return part.mapInPandas(
        write_part, schema="path string, n_records bigint, n_bytes bigint"
    )


def wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: corpus -> WET archives -> read back through the
    WARC reader -> per-record payload facts. The DuckDB dual recomputes
    md5/length straight from ``documents``, so the gate covers the
    whole write -> archive -> parse path bit-for-bit."""
    import os
    import shutil
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = os.path.join(tempfile.gettempdir(), f"p2l_wet_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.concat(
            F.lit("https://docs.test/"), "source", F.lit("/"), "doc_id"
        ).alias("url"),
        "text",
    )
    manifest = write_wet(docs, out_dir)
    manifest.collect()  # perform the distributed write (manifest is tiny)
    return read_warc(spark, out_dir).select(
        "url",
        F.md5("html").alias("payload_md5"),
        F.length("html").cast("bigint").alias("payload_len"),
    )


WET_ROUNDTRIP_SQL = """
SELECT concat('https://docs.test/', source, '/', doc_id) AS url,
       md5(text) AS payload_md5,
       strlen(text)::BIGINT AS payload_len
FROM documents
"""



# ---------------------------------------------------------------------------
# WAT roundtrip (metadata sidecar archives)
# ---------------------------------------------------------------------------

WAT_LINKS = 4    # synthesized outlinks per page envelope
WAT_HOSTS = 16   # synthetic target-host universe


def _wat_hash60(doc_id_col, k_col):
    """Portable 60-bit md5 hash of 'doc_id@k' (functions.text contract,
    inlined to keep sources/ free of an operators/ import)."""
    return F.conv(
        F.substring(
            F.md5(F.concat(doc_id_col.cast("string"), F.lit("@"),
                           k_col.cast("string"))), 1, 15),
        16, 10,
    ).cast("bigint")


def wat_meta_frame(docs: DataFrame) -> DataFrame:
    """documents -> (url, text) rows where text is the per-page WAT
    JSON envelope (url, title, outlink list) built by DETERMINISTIC
    string concatenation — byte-identical in the DuckDB dual, so the
    archive md5 verifies the whole write -> gzip -> parse path."""
    doc_id = F.col("doc_id")
    links = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(WAT_LINKS - 1)),
            lambda k: F.concat(
                F.lit("https://h"),
                (_wat_hash60(doc_id, k) % WAT_HOSTS).cast("string"),
                F.lit(".test/d/"), doc_id.cast("string"),
            ),
        ),
        '","',
    )
    url = F.concat(F.lit("https://docs.test/"), F.col("source"),
                   F.lit("/"), doc_id.cast("string"))
    wat = F.concat(
        F.lit('{"url":"'), url,
        F.lit('","title":"Doc '), doc_id.cast("string"),
        F.lit('","links":["'), links, F.lit('"]}'),
    )
    return docs.select(url.alias("url"), wat.alias("text"))


def wat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: corpus -> WAT metadata envelopes -> WAT archives
    -> read back through the WARC reader (row_types=metadata) -> fields
    parsed OUT of the JSON payload.  The DuckDB dual rebuilds the same
    envelope closed-form and recomputes title/md5/length straight off
    ``documents`` — the gate covers envelope construction, the archive
    write, gzip framing and the JSON parse bit-for-bit."""
    import os
    import shutil
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")) or "sf"
    out_dir = os.path.join(tempfile.gettempdir(), f"p2l_wat_{tag}")
    shutil.rmtree(out_dir, ignore_errors=True)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    manifest = write_wat(wat_meta_frame(docs), out_dir)
    manifest.collect()  # perform the distributed write (manifest is tiny)
    payload = F.decode(F.col("html"), "UTF-8")
    return read_warc(spark, out_dir, row_types=("metadata",)).select(
        "url",
        F.get_json_object(payload, "$.title").alias("title"),
        F.json_array_length(
            F.get_json_object(payload, "$.links")
        ).cast("bigint").alias("n_links"),
        F.md5("html").alias("wat_md5"),
        F.length("html").cast("bigint").alias("wat_len"),
    )


_WAT_LINK_HASH = "(('0x' || substr(md5(doc_id || '@' || k), 1, 15))::BIGINT)"

WAT_ROUNDTRIP_SQL = (
    """
WITH j AS (
  SELECT 'https://docs.test/' || source || '/' || doc_id AS url,
         doc_id,
         '{"url":"https://docs.test/' || source || '/' || doc_id
         || '","title":"Doc ' || doc_id || '","links":["'
         || (SELECT string_agg('https://h' || """
    + _WAT_LINK_HASH
    + """ % """ + str(WAT_HOSTS) + """ || '.test/d/' || doc_id,
                            '","' ORDER BY k)
             FROM range(0, """ + str(WAT_LINKS) + """) t(k))
         || '"]}' AS wat
  FROM documents
)
SELECT url,
       'Doc ' || doc_id AS title,
       """ + str(WAT_LINKS) + """::BIGINT AS n_links,
       md5(wat) AS wat_md5,
       strlen(wat)::BIGINT AS wat_len
FROM j
"""
)


QUERIES: dict[str, tuple] = {
    "source_warc_scan": (warc_scan, WARC_SCAN_SQL),
    "sink_wet_roundtrip": (wet_roundtrip, WET_ROUNDTRIP_SQL),
    "sink_wat_roundtrip": (wat_roundtrip, WAT_ROUNDTRIP_SQL),
}
