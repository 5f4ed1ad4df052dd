"""Local replica of the driver's correctness gate: run every queries()
entry on Spark AND its oracle_sql() on DuckDB at sf0.01, compare
row-count + column names + order-insensitive value hash.
"""

from __future__ import annotations

import hashlib
import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# the paper surface: reference operators, WARC/WET/WAT, the pipeline
PAPER_QUERIES = {
    "ref_title_extract", "ref_year_extract", "ref_bibtex_key",
    "ref_tag_extract", "ref_image_context", "ref_image_metrics",
    "ref_export_name", "ref_format_size", "ref_format_timestamp",
    "ref_word_count", "ref_sanitize_bibtex", "ref_title_similarity",
    "ref_url_normalize", "ref_assemble_pages",
    "source_warc_scan", "sink_wet_roundtrip", "sink_wat_roundtrip",
    "extract_html_pipeline", "extract_html_pipeline_desc",
    "stream_extract_incremental",
}


def _canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        # canonicalize -0.0 and represent with enough digits
        if v == 0:
            return "0"
        return f"{v:.10g}"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def _kind(v) -> str | None:
    """Coarse dtype kind of one value: int vs float vs str vs ... — the
    driver's hash distinguishes `5` from `5.0`, so the local gate must
    too (round-3 `corpus_sequence_pack` regression: DuckDB `sum() OVER`
    → HUGEINT → pandas float64 while Spark emitted bigint; the old
    `%.10g` canonicalization hid it)."""
    import datetime
    import decimal

    import numpy as np

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return "bool"
    if isinstance(v, (int, np.integer)):
        return "int"
    if isinstance(v, (float, np.floating)):
        return "float"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, (bytes, bytearray)):
        return "bytes"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "list"
    if isinstance(v, datetime.datetime):  # covers pd.Timestamp
        return "datetime"
    if isinstance(v, datetime.date):
        return "date"
    return "str"


def _col_kinds(rows: list[dict]) -> dict[str, str]:
    """First non-null kind per column across all rows."""
    kinds: dict[str, str] = {}
    for r in rows:
        for c, v in r.items():
            if c not in kinds:
                k = _kind(v)
                if k is not None:
                    kinds[c] = k
    return kinds


def _value_hash(rows: list[dict]) -> str:
    if not rows:
        return "EMPTY"
    cols = sorted(rows[0].keys())
    lines = sorted("|".join(_canon(r[c]) for c in cols) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogatepass"))
        h.update(b"\n")
    return h.hexdigest()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="module")
def registry():
    return entry_mod._registry()


def test_every_query_has_unique_name(registry):
    assert len(registry) >= 20, f"only {len(registry)} queries registered"
    assert PAPER_QUERIES <= set(registry)
    assert PAPER_QUERIES <= set(entry_mod.oracle_sql())


def test_duplicate_query_name_is_rejected(monkeypatch):
    from paper2llm_spark.sources import warc

    clash = dict(warc.QUERIES, ref_word_count=warc.QUERIES["source_warc_scan"])
    monkeypatch.setattr(warc, "QUERIES", clash)
    with pytest.raises(ValueError, match="ref_word_count"):
        entry_mod._registry()


@pytest.mark.parametrize(
    "name",
    sorted(entry_mod.oracle_sql().keys()),
)
def test_query_matches_duckdb_oracle(name, spark, duck, registry):
    fn, sql = registry[name]
    sdf = fn(spark, SF_DIR)
    spark_rows = [r.asDict(recursive=True) for r in sdf.collect()]
    duck_df = duck.sql(sql).fetchdf()
    duck_rows = duck_df.to_dict(orient="records")

    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} (spark) != {len(duck_rows)} (duckdb)"
    )
    if spark_rows:
        assert sorted(spark_rows[0].keys()) == sorted(duck_rows[0].keys()), (
            f"{name}: column names differ"
        )
        sk, dk = _col_kinds(spark_rows), _col_kinds(duck_rows)
        mismatched = {
            c: (sk.get(c), dk.get(c))
            for c in sk.keys() | dk.keys()
            if c in sk and c in dk and sk[c] != dk[c]
        }
        assert not mismatched, (
            f"{name}: dtype-kind mismatch (spark, duckdb): {mismatched}"
        )
    sh, dh = _value_hash(spark_rows), _value_hash(duck_rows)
    if sh != dh:
        s_sorted = sorted(
            ("|".join(_canon(r[c]) for c in sorted(r.keys())) for r in spark_rows)
        )
        d_sorted = sorted(
            ("|".join(_canon(r[c]) for c in sorted(r.keys())) for r in duck_rows)
        )
        diffs = [
            (a, b) for a, b in zip(s_sorted, d_sorted) if a != b
        ][:5]
        pytest.fail(f"{name}: value hash mismatch; first diffs: {diffs}")


def test_embedding_neardup_not_vacuous(duck):
    """The near-dup gate must verify actual pairs: the planted-duplicate
    corpus (operators/similarity.py) guarantees a non-empty result — a
    0-vs-0 'pass' would verify nothing."""
    from paper2llm_spark.operators.similarity import EMBEDDING_NEARDUP_SQL

    n = len(duck.sql(EMBEDDING_NEARDUP_SQL).fetchdf())
    assert n > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    ok = [r for r in rows if r["err"] is None]
    assert ok, "entry produced no successfully extracted rows"
    sample = ok[0]
    assert sample["markdown"].startswith("#### Page 1\n\n# Document ")
    assert sample["backmatter"] is not None  # References section split out
    # flagship carries BOTH payload branches (10% PDFs)
    models = {r["model"] for r in ok}
    assert models == {"html-extract-v1", "mistral-ocr-latest"}, models


def test_extract_pipeline_query_rows(spark):
    df = entry_mod.queries()["extract_html_pipeline"](spark, "/root/testdata/sf0.001")
    n = df.count()
    assert n > 0
