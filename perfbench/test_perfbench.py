"""Tests of the benchmark's own parts: the seeded generator, the oracle
gate and the metric list. Run from the checkout root::

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pytest

from perfbench import corpus, metrics, oracle

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _digest(workload: str, seed: int, path: str) -> str:
    corpus.write_table(corpus.generate_rows(workload, seed), path, n_files=4)
    return corpus.table_digest(path)


@pytest.mark.parametrize("workload", ["checkpoint_resume", "pdf_papers"])
def test_seed_fixes_the_table(tmp_path, workload):
    first = _digest(workload, 5, str(tmp_path / "a"))
    assert _digest(workload, 5, str(tmp_path / "b")) == first
    assert _digest(workload, 6, str(tmp_path / "c")) != first


def test_workload_mix():
    rows = corpus.generate_rows("html_crawl", 1)
    en = sum(r["lang"] == "en" for r in rows) / len(rows)
    html = sum(r["html"][:15] == b"<!DOCTYPE html>" for r in rows) / len(rows)
    assert 0.55 < en < 0.65 and 0.9 < html < 0.97
    assert all(3000 <= len(r["html"]) < 64_000 for r in rows if r["html"][:1] == b"<")


def test_seeds_keep_the_amount_of_work():
    def en_bytes(seed):
        return sum(len(r["html"]) for r in corpus.generate_rows("html_crawl", seed) if r["lang"] == "en")

    a, b = en_bytes(1), en_bytes(2)
    assert abs(a - b) / a < 0.01


@pytest.fixture(scope="module")
def spark():
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from paper2llm_spark.session import get_spark

    s = get_spark(app_name="perfbench_tests", cpus=2, shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def checked(spark, tmp_path_factory):
    """(expected, spark digests) for a small crawl table with both a
    quarantined row and ordinary documents."""
    from paper2llm_spark.plans.extract import extract_documents

    rows = corpus.generate_rows("checkpoint_resume", 3)
    rows = [r for r in rows if r["lang"] == "en"][:30] + [
        r for r in rows if r["html"].startswith(b"%PDF-1.4 truncated")][:1]
    path = str(tmp_path_factory.mktemp("pages"))
    corpus.write_table(rows, path, n_files=2)
    expected = oracle.expected_outputs(rows, "placeholder")
    got = oracle.collect_digests(extract_documents(spark.read.parquet(path)))
    return expected, got


def test_oracle_accepts_pipeline_output(checked):
    expected, got = checked
    assert oracle.QUARANTINE in expected.values()
    assert oracle.compare(expected, got) == {"attempted": len(expected), "failed": 0, "by_reason": {}}


def test_oracle_flags_corrupted_goldens(checked):
    expected, got = checked
    good = [u for u, d in expected.items() if d != oracle.QUARANTINE]
    quarantined = [u for u, d in expected.items() if d == oracle.QUARANTINE]
    bad = dict(expected)
    bad[good[0]] = "0" * 64                    # corrupted golden
    bad[good[1]] = oracle.QUARANTINE           # expects a quarantine that did not happen
    bad[quarantined[0]] = expected[good[2]]    # expects output for a quarantined row
    del bad[good[3]]                           # output the oracle does not know
    bad["https://missing.example/x"] = "0" * 64
    dup = next(g for g in got if g[0] == good[4])
    res = oracle.compare(bad, got + [dup])     # and a duplicated row
    assert res["by_reason"] == {"mismatch": 1, "not_quarantined": 1, "quarantined": 1,
                                "extra": 1, "missing": 1, "duplicate": 1}
    assert res["failed"] == 6 and res["attempted"] == len(bad) + 1


def test_benchmark_json_lists_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert {k: bench[k] for k in ("end_to_end", "per_layer")} == metrics.benchmark_entries(bounds)
    assert {w["name"] for w in bench["workloads"]} <= set(corpus.SPECS)
