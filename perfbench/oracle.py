"""Oracle gate: per-url digests of every output column, computed the
same way in Spark and in plain Python.

Goldens follow the routing of ``paper2llm_spark.pdf.fixtures.golden_outputs``:
``detect_payload`` -> ``parse_pdf`` / ``html_to_ocr_result`` ->
``convert_ocr_result(process_images=...)``. A row the oracle cannot parse
is expected in the output as quarantined (``err`` set); rows dropped by
the lang filter or by payload detection are expected to be absent.

Digest of one document: each column is encoded as a string (strings as
their sha256, integers in decimal, booleans as ``true``/``false``,
arrays as ``[sha256,...]``, null as ``~``), the encodings are joined with
``|`` and the result is hashed with sha256.
"""

from __future__ import annotations

import hashlib
from collections import Counter

QUARANTINE = "quarantine"

# (output column, kind) in digest order; title_validation is a struct
DIGEST_FIELDS = [
    ("markdown", "str"), ("main_content", "str"), ("backmatter", "str"),
    ("appendix", "str"), ("title", "str"), ("page_count", "int"),
    ("image_references", "array"), ("model", "str"), ("bibtex", "str"),
    ("bibtex_key", "str"), ("bibtex_formatted", "str"),
    ("title_validation.matches", "bool"),
    ("title_validation.original_title", "str"),
    ("title_validation.bibtex_title", "str"),
    ("title_validation.normalized_original", "str"),
    ("title_validation.normalized_bibtex", "str"),
]


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode("utf-8")).hexdigest()


def _encode(value, kind: str) -> str:
    if value is None:
        return "~"
    if kind == "str":
        return _sha(value)
    if kind == "int":
        return str(int(value))
    if kind == "bool":
        return "true" if value else "false"
    return "[" + ",".join(_sha(x) for x in value if x is not None) + "]"


def python_digest(doc: dict) -> str:
    """Digest of one document given as a flat dict keyed by the names in
    :data:`DIGEST_FIELDS`."""
    return _sha("|".join(_encode(doc.get(name), kind) for name, kind in DIGEST_FIELDS))


def golden_digest(result: dict) -> str:
    """Digest of a ``convert_ocr_result`` dict."""
    doc = dict(result)
    for k, v in result["bibtex_title_validation"].items():
        doc[f"title_validation.{k}"] = v
    return python_digest(doc)


def expected_outputs(rows: list[dict], mode: str) -> dict[str, str]:
    """url -> golden digest, or :data:`QUARANTINE`, for every row the
    pipeline must emit."""
    from paper2llm_spark.html_extract import html_to_ocr_result
    from paper2llm_spark.oracle.pipeline import convert_ocr_result
    from paper2llm_spark.oracle.urls import detect_payload
    from paper2llm_spark.pdf.parser import parse_pdf

    out: dict[str, str] = {}
    for row in rows:
        if row["lang"] != "en":
            continue
        kind = detect_payload(row["html"])
        if kind not in ("pdf", "html"):
            continue
        try:
            ocr = parse_pdf(row["html"]) if kind == "pdf" else html_to_ocr_result(row["html"])
        except Exception:
            out[row["url"]] = QUARANTINE
            continue
        result = convert_ocr_result(ocr, process_images=(mode == "descriptions"))
        out[row["url"]] = golden_digest(result)
    return out


def spark_digest_column():
    """The Spark twin of :func:`python_digest` over an output DataFrame."""
    from pyspark.sql import functions as F

    def enc(name: str, kind: str):
        c = F.col(name)
        if kind == "str":
            e = F.sha2(c, 256)
        elif kind == "int":
            e = c.cast("string")
        elif kind == "bool":
            e = F.when(c, F.lit("true")).otherwise(F.lit("false"))
        else:
            e = F.concat(F.lit("["), F.concat_ws(",", F.transform(c, lambda x: F.sha2(x, 256))), F.lit("]"))
        return F.when(c.isNull(), F.lit("~")).otherwise(e)

    return F.sha2(F.concat_ws("|", *(enc(n, k) for n, k in DIGEST_FIELDS)), 256)


def collect_digests(df) -> list[tuple[str, str, bool]]:
    """(url, digest, quarantined) for every output row of ``df``."""
    from pyspark.sql import functions as F

    rows = df.select("url", spark_digest_column().alias("d"), F.col("err").isNotNull().alias("q")).collect()
    return [(r["url"], r["d"], r["q"]) for r in rows]


def compare(expected: dict[str, str], got: list[tuple[str, str, bool]]) -> dict:
    """Count missing, extra, duplicate and mismatched urls. A url fails
    once however many checks it fails; ``attempted`` is every url the
    oracle expects plus every unexpected one."""
    counts = Counter(url for url, _, _ in got)
    failed: dict[str, str] = {}
    for url, n in counts.items():
        if url not in expected:
            failed.setdefault(url, "extra")
        elif n > 1:
            failed.setdefault(url, "duplicate")
    for url, digest, quarantined in got:
        want = expected.get(url)
        if want is None or url in failed:
            continue
        if want == QUARANTINE:
            if not quarantined:
                failed[url] = "not_quarantined"
        elif quarantined:
            failed[url] = "quarantined"
        elif digest != want:
            failed[url] = "mismatch"
    for url in expected:
        if url not in counts:
            failed[url] = "missing"
    attempted = len(expected) + sum(1 for url in counts if url not in expected)
    return {
        "attempted": attempted,
        "failed": len(failed),
        "by_reason": dict(Counter(failed.values())),
    }


def merge(a: dict, b: dict) -> dict:
    """Two :func:`compare` results as one."""
    return {
        "attempted": a["attempted"] + b["attempted"],
        "failed": a["failed"] + b["failed"],
        "by_reason": dict(Counter(a["by_reason"]) + Counter(b["by_reason"])),
    }
