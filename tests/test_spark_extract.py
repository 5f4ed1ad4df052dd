"""End-to-end Spark pipeline vs oracle goldens — the byte-identical gate.

BASELINE.json metric: "byte-identical Markdown match-rate on the fixture
corpus"; target 100% of urls, both branches.
"""

from __future__ import annotations

import re
import uuid
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paper2llm_spark.operators.parse import DEFAULT_GIANT_BYTES, plan_chunks
from paper2llm_spark.oracle.pipeline import convert_ocr_result
from paper2llm_spark.pdf.fixtures import fixture_docs, golden_outputs
from paper2llm_spark.pdf.parser import parse_pdf
from paper2llm_spark.pdf.writer import layout_markdown_page, write_pdf
from paper2llm_spark.plans.extract import extract_documents, routing_query
from paper2llm_spark.schema import DOCUMENT_ROW, PAGES
from paper2llm_spark.sources.pages import read_pages, with_bucket

# lineage measurements of the run itself (task partition, batch wall),
# not of the document: the only columns two routes may disagree on
RUN_LINEAGE = ("parse_partition", "parse_wall_ms")


def _collect_results(spark, fixture_pages_path, mode):
    pages = spark.read.parquet(fixture_pages_path)
    out = extract_documents(pages, mode=mode, chunk_pages=16)
    return {r["url"]: r.asDict() for r in out.collect()}


@pytest.fixture(scope="module")
def placeholder_results(spark, fixture_pages_path):
    return _collect_results(spark, fixture_pages_path, "placeholder")


def test_byte_identical_markdown_placeholder_branch(placeholder_results):
    goldens = golden_outputs(process_images=False)
    assert goldens, "no goldens generated"
    mismatches = []
    for url, golden in goldens.items():
        got = placeholder_results.get(url)
        if got is None:
            mismatches.append((url, "MISSING", None))
            continue
        if got["markdown"] != golden["markdown"]:
            mismatches.append((url, golden["markdown"], got["markdown"]))
    assert not mismatches, f"{len(mismatches)} markdown mismatches: " + "\n\n".join(
        f"URL {u}\n--- golden ---\n{g!r}\n--- spark ---\n{s!r}"
        for u, g, s in mismatches[:3]
    )


def test_byte_identical_sections_and_bibtex(placeholder_results):
    goldens = golden_outputs(process_images=False)
    for url, golden in goldens.items():
        got = placeholder_results[url]
        assert got["main_content"] == golden["main_content"], url
        assert got["backmatter"] == golden["backmatter"], url
        assert got["appendix"] == golden["appendix"], url
        assert got["title"] == golden["title"], url
        assert got["bibtex"] == golden["bibtex"], url
        assert got["bibtex_key"] == golden["bibtex_key"], url
        assert got["bibtex_formatted"] == golden["bibtex_formatted"], url
        assert got["page_count"] == golden["page_count"], url
        assert list(got["image_references"]) == golden["image_references"], url
        assert got["model"] == golden["model"], url


def test_byte_identical_markdown_descriptions_branch(spark, fixture_pages_path):
    results = _collect_results(spark, fixture_pages_path, "descriptions")
    goldens = golden_outputs(process_images=True)
    for url, golden in goldens.items():
        assert results[url]["markdown"] == golden["markdown"], url


def test_quarantine_rows_carry_err_and_never_kill_job(placeholder_results):
    # X1 garbage pdf payload: parse error surfaced on the row
    x1 = placeholder_results.get("https://fixtures.test/error/x1")
    assert x1 is not None and x1["err"] is not None
    assert x1["markdown"] is None
    # X2 non-en: filtered before parse — absent from output
    assert "https://fixtures.test/error/x2" not in placeholder_results
    # X3 empty + X4 junk payloads: dropped by payload detection
    assert "https://fixtures.test/error/x3" not in placeholder_results
    assert "https://fixtures.test/error/x4" not in placeholder_results


def test_skew_split_byte_identical(spark, fixture_pages_path):
    """A6 regression at the pipeline level: chunked parse (page ranges)
    and whole-doc parse produce identical bytes for the 40-page doc."""
    pages = spark.read.parquet(fixture_pages_path).filter(
        "url = 'https://fixtures.test/assemble/a6-large'"
    )
    whole = extract_documents(pages, chunk_pages=1000).collect()[0]
    # giant_bytes=0 forces every doc through the chunk-split path
    split4 = extract_documents(pages, chunk_pages=4, giant_bytes=0).collect()[0]
    assert whole["markdown"] == split4["markdown"]
    assert whole["page_count"] == split4["page_count"] == 40


@pytest.mark.parametrize("mode", ["placeholder", "descriptions"])
def test_routes_agree_on_every_column(spark, fixture_pages_path, mode):
    """The fused document stage (default routing: every fixture is below
    ``giant_bytes``) and the chunk route (``giant_bytes=0``: plan,
    spread, per-page parse, groupBy reassembly through ``document_row``)
    emit the same row for every url, column by column — quarantine rows
    included."""
    pages = spark.read.parquet(fixture_pages_path)

    def rows(**kwargs):
        out = extract_documents(pages, mode=mode, chunk_pages=16, **kwargs)
        return {r["url"]: r.asDict(recursive=True) for r in out.collect()}

    fused, chunked = rows(), rows(giant_bytes=0)
    assert set(fused) == set(chunked)
    diffs = [
        (url, col, value, chunked[url][col])
        for url, row in fused.items()
        for col, value in row.items()
        if col not in RUN_LINEAGE and value != chunked[url][col]
    ]
    assert not diffs, diffs[:3]


def test_repeated_url_yields_one_row(spark, fixture_pages_path):
    """A url on more than one input row (a re-crawl) yields one output
    row, converted from its latest row alone, as the oracle converts each
    row on its own: an exact duplicate changes no column, a later crawl's
    payload replaces the earlier one, and a row with no ``warc_ts`` counts
    as the oldest."""
    pages = spark.read.parquet(fixture_pages_path)
    a1, a2, w1 = (
        "https://fixtures.test/assemble/a1",
        "https://fixtures.test/assemble/a2",
        "https://fixtures.test/html/w1",
    )
    repeated = pages.filter(F.col("url").isin(w1, a1, "https://fixtures.test/error/x1"))

    def rows(df):
        out = [r.asDict(recursive=True) for r in extract_documents(df).collect()]
        assert len(out) == len({r["url"] for r in out})
        return {r["url"]: r for r in out}

    single, doubled = rows(pages), rows(pages.unionByName(repeated))
    assert set(doubled) == set(single)
    diffs = [
        (url, col, value, doubled[url][col])
        for url, row in single.items()
        for col, value in row.items()
        if col not in RUN_LINEAGE and value != doubled[url][col]
    ]
    assert not diffs, diffs[:3]

    # w1's payload re-crawled under a1 after every fixture row, and under
    # a2 with no timestamp
    w1_row = pages.filter(F.col("url") == w1)
    recrawls = w1_row.withColumn("url", F.lit(a1)).withColumn(
        "warc_ts", F.col("warc_ts") + F.expr("INTERVAL 365 DAYS")
    ).unionByName(
        w1_row.withColumn("url", F.lit(a2)).withColumn("warc_ts", F.lit(None))
    )
    got = rows(recrawls.unionByName(pages))
    goldens = golden_outputs(process_images=False)
    for url, golden in ((a1, goldens[w1]), (a2, goldens[a2])):
        assert got[url]["title_validation"] == golden["bibtex_title_validation"], url
        for col in ("markdown", "main_content", "backmatter", "appendix", "title",
                    "page_count", "image_references", "model", "bibtex",
                    "bibtex_key", "bibtex_formatted"):
            assert got[url][col] == golden[col], (url, col)


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"


def _html(body: str) -> bytearray:
    return bytearray(f"<html><body><h1>{body}</h1><p>{body} text</p></body></html>".encode())


def _by_url(df) -> dict:
    out = [r.asDict(recursive=True) for r in df.collect()]
    assert len(out) == len({r["url"] for r in out})
    return {r["url"]: r for r in out}


def _same_but_lineage(got: dict, want: dict) -> list:
    return [
        (url, col, value, got[url][col])
        for url, row in want.items()
        for col, value in row.items()
        if col not in RUN_LINEAGE and value != got[url][col]
    ]


def test_many_repeated_urls_convert_their_latest_row(spark):
    """2000 re-crawled urls (a routed set far above ``INLINE_URLS``, so
    it is broadcast): one row per url, equal in every column but the run
    lineage to converting the latest row alone."""
    old, new = (
        [(f"https://t/r{i}", datetime(2024 + k, 1, 1), _html(f"crawl {k} of {i}"), "", "en")
         for i in range(2000)]
        for k in (0, 1)
    )
    alone = _by_url(extract_documents(spark.createDataFrame(new, PAGES_SCHEMA)))
    out = extract_documents(spark.createDataFrame(old + new, PAGES_SCHEMA))
    assert "LocalTableScan" in out._jdf.queryExecution().executedPlan().toString()
    got = _by_url(out)
    assert set(got) == set(alone) and len(got) == 2000
    assert not _same_but_lineage(got, alone)


def test_url_repeated_only_in_another_language_stays_fused(spark):
    """A url with one ``en`` row and one ``fr`` row is not a re-crawl of
    the extracted language: nothing is routed, and the plan is the fused
    stage alone."""
    rows = [
        ("https://t/u", datetime(2024, 1, 1), _html("english"), "", "en"),
        ("https://t/u", datetime(2025, 1, 1), _html("french"), "", "fr"),
    ]
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    assert routing_query(pages, ("en",), DEFAULT_GIANT_BYTES).collect() == []
    out = extract_documents(pages)
    assert "Union" not in out._jdf.queryExecution().executedPlan().toString()
    alone = _by_url(extract_documents(spark.createDataFrame(rows[:1], PAGES_SCHEMA)))
    assert not _same_but_lineage(_by_url(out), alone)


def test_null_url_rows_are_dropped(spark):
    """A row with no url names no document (the output is keyed by url):
    small or giant, it is dropped before routing instead of failing the
    job, and every other row converts as it does alone."""
    nulls = [(None, None, _html(f"small {i}"), "", "en") for i in range(2)]
    nulls.append((None, None, _html("giant " + "x" * 400), "", "en"))
    recrawl = [("https://t/r", datetime(2024 + k, 1, 1), _html(f"r{k}"), "", "en") for k in (0, 1)]
    giant = [("https://t/g", None, _html("giant " + "y" * 400), "", "en")]
    pages = spark.createDataFrame(nulls + recrawl + giant, PAGES_SCHEMA)
    routed = {r.url for r in routing_query(pages, ("en",), 200).collect()}
    assert routed == {"https://t/r", "https://t/g"}

    got = _by_url(extract_documents(pages, giant_bytes=200))
    alone = _by_url(extract_documents(spark.createDataFrame(recrawl[1:] + giant, PAGES_SCHEMA)))
    assert set(got) == set(alone) == routed
    assert not _same_but_lineage(got, alone)


def test_unknown_mode_fails_before_any_job(spark, fixture_pages_path):
    """The mode is checked on the driver before the routing query runs."""
    pages = spark.read.parquet(fixture_pages_path)
    sc = spark.sparkContext
    group = f"unknown-mode-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "extract_documents with an unknown mode")
    try:
        with pytest.raises(ValueError, match="bogus"):
            extract_documents(pages, mode="bogus")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize("giant_bytes", [None, 0], ids=["fused", "chunked"])
def test_zero_page_pdf_emits_oracle_row(spark, giant_bytes):
    """A PDF whose ``/Pages`` has ``/Kids []`` parses to no pages; the
    oracle still emits its document (empty markdown, page_count 0), so
    both routes must too instead of dropping the url."""
    payload = write_pdf([])
    pages = spark.createDataFrame(
        [("https://t/zero-pages", None, bytearray(payload), "", "en")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    rows = extract_documents(pages, giant_bytes=giant_bytes).collect()
    assert len(rows) == 1
    got = rows[0].asDict(recursive=True)
    golden = convert_ocr_result(parse_pdf(payload))
    assert got["err"] is None
    assert got["bytes_in"] == len(payload)
    assert got["title_validation"] == golden["bibtex_title_validation"]
    for col in ("markdown", "main_content", "backmatter", "appendix", "title",
                "page_count", "image_references", "model", "bibtex",
                "bibtex_key", "bibtex_formatted"):
        assert got[col] == golden[col], col


def _paper(n_pages: int) -> bytes:
    return write_pdf([
        layout_markdown_page(f"## Section {i}\n\npage {i} text " + "x " * 40)
        for i in range(n_pages)
    ])


def _forge_count(payload: bytes, count: int) -> bytes:
    """A ``/Count`` token, in a comment after the header, that is not the
    page count of the ``/Kids`` list the parser reads."""
    return payload.replace(b"%PDF-1.4\n", b"%%PDF-1.4\n%% /Count %d\n" % count, 1)


def _drop_contents(payload: bytes, *pages: int) -> bytes:
    """The payload with the ``/Contents`` of ``pages`` removed (the writer
    emits page objects in page order)."""
    refs = list(re.finditer(rb"/Contents \d+ 0 R", payload))
    for i in sorted(pages, reverse=True):
        payload = payload[: refs[i].start()] + payload[refs[i].end():]
    return payload


MALFORMED_GIANTS = {
    "count_low": (_forge_count(_paper(40), 20), None),
    "count_high": (_forge_count(_paper(40), 4000), None),
    "no_contents": (_drop_contents(_paper(48), 21), "page 21 has no /Contents"),
    "two_bad_pages": (_drop_contents(_paper(48), 15, 40), "page 15 has no /Contents"),
}


@pytest.mark.parametrize("case", list(MALFORMED_GIANTS))
def test_routes_agree_on_malformed_giants(spark, case):
    """A PDF whose ``/Count`` token disagrees with its page list, or with
    pages the parser rejects, converts on the chunk route (``giant_bytes=0,
    chunk_pages=4``) as on the fused route, in every column but the run
    lineage: no page is lost, a failure names the first bad page, and
    the chunk plan ships each page's bytes once."""
    payload, err = MALFORMED_GIANTS[case]
    pages = spark.createDataFrame(
        [(f"https://t/{case}", None, bytearray(payload), "", "en")], PAGES_SCHEMA
    )
    chunks = plan_chunks(pages.withColumn("kind", F.lit("pdf")), chunk_pages=4).collect()
    assert sum(len(r["html"]) for r in chunks) <= 1.3 * len(payload)
    fused = _by_url(extract_documents(pages))
    chunked = _by_url(extract_documents(pages, giant_bytes=0, chunk_pages=4))
    assert set(chunked) == set(fused)
    assert not _same_but_lineage(chunked, fused)
    (row,) = fused.values()
    if err is None:
        assert row["err"] is None and row["page_count"] == 40
    else:
        assert err in row["err"]


def test_all_en_parsable_urls_present(placeholder_results):
    expected = {
        d["url"] for d in fixture_docs() if d["lang"] == "en"
    } - {
        "https://fixtures.test/error/x3",  # empty payload
        "https://fixtures.test/error/x4",  # junk payload
    }
    assert set(placeholder_results) == expected


@pytest.mark.parametrize("process_images", [False, True], ids=["placeholder", "descriptions"])
def test_oracle_keys_are_the_output_columns(process_images):
    """The oracle's ``convert_ocr_result`` is the row builder, so it
    returns exactly the converted columns of ``DOCUMENT_ROW``: every
    column but the url, ``err`` and the lineage columns."""
    converted = set(DOCUMENT_ROW.fieldNames()) - {
        "url", "err", "bytes_in", "parse_partition", "parse_wall_ms",
    }
    goldens = golden_outputs(process_images=process_images)
    assert goldens
    for url, golden in goldens.items():
        keys = {"title_validation" if k == "bibtex_title_validation" else k for k in golden}
        assert keys == converted, url


def test_read_pages_submits_no_job(spark, fixture_pages_path, tmp_path):
    """A parquet pages table is read with the fixed ``PAGES`` schema: no
    schema-inference job. A ``partitionBy("bucket")`` table keeps its
    partition column."""
    bucketed = str(tmp_path / "bucketed")
    with_bucket(spark.read.parquet(fixture_pages_path), 4).write.partitionBy(
        "bucket"
    ).parquet(bucketed)
    sc = spark.sparkContext
    group = f"read-pages-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "read_pages on parquet")
    try:
        plain = read_pages(spark, fixture_pages_path)
        by_bucket = read_pages(spark, bucketed)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert plain.schema == PAGES
    assert by_bucket.schema == T.StructType(
        PAGES.fields + [T.StructField("bucket", T.IntegerType())]
    )
