"""Traced layer run: where the time goes, from outside the program.

Each layer's public function is materialized in turn into the ``noop``
sink (a full-row action, so Catalyst cannot prune a UDF away), each
inside a span:

    pages     select_extractable(read_pages(...))
    parse     parse_pages(<pages>)
    assemble  assemble_documents(<parse>)
    enhance   extract_documents(...)   (assemble + the convert UDF)
    extract   CheckpointedExtractJob pair (checkpoint_resume only)

Every span recomputes its children, so a layer's self time is its span
minus the previous span, and the same holds for its shuffle and spill
bytes. Task metrics come from a listener (perfbench/probes.py), Arrow
bytes to and from the Python workers from the executed plans' SQL
metrics, row counts from ``DataFrame.observe``.

Per-call times (``*_us_*``) come from calling the public pure functions
directly, in the driver, on a seeded sample of the workload's payloads;
their gap to the matching ``*.self_s`` is the Spark/Arrow overhead.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from dataclasses import dataclass, field

from perfbench import metrics
from perfbench.probes import Probes


@dataclass
class Span:
    name: str
    wall: float
    observed: dict = field(default_factory=dict)
    tasks: list = field(default_factory=list)
    stages: set = field(default_factory=set)
    queries: list = field(default_factory=list)

    def total(self, key: str) -> int:
        return sum(t[key] for t in self.tasks)

    def nodes(self, name: str):
        return [(parent, m) for q in self.queries for n, parent, m in q["nodes"] if n.strip() == name]

    def node_sum(self, name: str, metric: str, parent: str | None = None) -> int:
        return sum(m.get(metric, 0) for p, m in self.nodes(name) if parent is None or p == parent)


def pct(values, q: float) -> float:
    """Nearest-rank percentile; 0 for no samples."""
    if not values:
        return 0.0
    s = sorted(values)
    return float(s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))])


def _run_span(probes: Probes, name: str, df, observe=()) -> Span:
    from pyspark.sql import Observation

    obs = None
    if observe:
        obs = Observation(name)
        df = df.observe(obs, *observe)
    probes.set_span(name)
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    wall = time.monotonic() - t0
    probes.drain()
    return _collect(probes, name, wall, obs.get if obs else {})


def _collect(probes: Probes, name: str, wall: float, observed: dict) -> Span:
    return Span(name, wall, observed, list(probes.tasks.tasks.get(name, [])),
                set(probes.tasks.stages.get(name, set())), list(probes.queries.queries.get(name, [])))


def layer_spans(spark, probes: Probes, corpus) -> dict[str, Span]:
    from pyspark.sql import functions as F

    from paper2llm_spark.operators.assemble import assemble_documents
    from paper2llm_spark.operators.parse import parse_pages
    from paper2llm_spark.plans.extract import extract_documents
    from paper2llm_spark.sources.pages import read_pages, select_extractable

    def pages():
        return select_extractable(read_pages(spark, corpus.path))

    ok = F.col("err").isNull()
    one = F.lit(1)
    spans = {}
    spans["pages"] = _run_span(probes, "pages", pages(), [F.count(one).alias("rows")])
    spans["parse"] = _run_span(probes, "parse", parse_pages(pages()), [
        F.count(F.when(ok, one)).alias("pages_out"),
        F.count(F.when(~ok, one)).alias("err_rows"),
    ])
    spans["assemble"] = _run_span(probes, "assemble", assemble_documents(parse_pages(pages())),
                                  [F.count(one).alias("docs")])
    spans["enhance"] = _run_span(probes, "enhance",
                                 extract_documents(read_pages(spark, corpus.path), mode=corpus.mode))
    return spans


def extract_span(spark, probes: Probes, workload) -> tuple[Span, dict, dict]:
    """One checkpoint/resume pair: the span, what its output tables show,
    and the oracle check of its output."""
    from pyspark.sql import functions as F

    from perfbench import oracle
    from perfbench.run import checkpoint_pair

    out = os.path.join(workload.out_root, "traced")
    probes.set_span("extract")
    t0 = time.monotonic()
    stats = checkpoint_pair(spark, workload.corpus.path, workload.corpus.mode, out)
    wall = time.monotonic() - t0
    probes.drain()
    span = _collect(probes, "extract", wall, {})
    probes.set_span("-")

    extracted = os.path.join(out, "extracted")
    docs = spark.read.parquet(extracted).agg(F.count(F.lit(1)).alias("n"),
                                             F.countDistinct("url").alias("u")).first()
    out_bytes = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(extracted)
                    for f in fs if f.endswith(".parquet"))
    # write cost: side-table writes in full, output writes (whose time is
    # mostly the extraction itself) by their commit time
    write_s = 0.0
    for q in span.queries:
        if not any("InsertInto" in n for n, _, _ in q["nodes"]):
            continue
        if "extracted" in q["plan"]:
            write_s += sum((m.get("taskCommitTime", 0) + m.get("jobCommitTime", 0)) / 1e3
                           for _, _, m in q["nodes"])
        else:
            write_s += q["duration_s"]
    values = {
        "extract.commit_groups": sum(s["groups_processed"] for s in stats),
        # the job's own wall per run, per commit group it processed
        "extract.group_wall_s_p50": statistics.median(
            st["wall_s"] / st["groups_processed"] for st in stats if st["groups_processed"]),
        "extract.write_s": write_s,
        "extract.input_read_x": span.node_sum("Scan parquet", "filesSize") / workload.corpus.meta["input_bytes"],
        "extract.output_mb": out_bytes / 1e6,
        "extract.reprocessed_docs": docs["n"] - docs["u"],
    }
    check = oracle.compare(workload.corpus.meta["expected"],
                           oracle.collect_digests(spark.read.parquet(extracted)))
    return span, values, check


def layer_values(spans: dict[str, Span], corpus, cpus: int) -> dict[str, float]:
    pages, parse, assemble, enhance = (spans[k] for k in ("pages", "parse", "assemble", "enhance"))
    mb = 1e6
    parse_ms = [t["duration_ms"] for t in parse.tasks]
    last_stage = max(enhance.stages) if enhance.stages else None
    final_ms = [t["duration_ms"] for t in enhance.tasks if t.get("stage") == last_stage]
    docs = assemble.observed.get("docs", 0)
    return {
        "pages.rows_scanned": pages.node_sum("Scan parquet", "numOutputRows"),
        "pages.rows_selected": pages.observed["rows"],
        "pages.scan_mb": pages.node_sum("Scan parquet", "filesSize") / mb,
        "pages.self_s": pages.wall,
        "parse.self_s": parse.wall - pages.wall,
        "parse.pages_out": parse.observed["pages_out"],
        "parse.quarantined": parse.observed["err_rows"],
        "parse.arrow_to_py_mb": parse.node_sum("MapInPandas", "pythonDataSent") / mb,
        "parse.arrow_from_py_mb": parse.node_sum("MapInPandas", "pythonDataReceived") / mb,
        "parse.task_ms_p50": pct(parse_ms, 50),
        "parse.task_ms_max": pct(parse_ms, 100),
        "parse.giant_docs": corpus.meta["giant_docs"],
        "parse.chunks": parse.node_sum("MapInPandas", "pythonNumRowsReceived", parent="Exchange"),
        "parse.spread_shuffle_mb": parse.total("shuffle_write") / mb,
        "assemble.self_s": assemble.wall - parse.wall,
        "assemble.shuffle_write_mb": (assemble.total("shuffle_write") - parse.total("shuffle_write")) / mb,
        "assemble.shuffle_read_mb": (assemble.total("shuffle_read") - parse.total("shuffle_read")) / mb,
        "assemble.spill_mb": (assemble.total("spill") - parse.total("spill")) / mb,
        "assemble.pages_per_doc": parse.observed["pages_out"] / docs if docs else 0.0,
        "enhance.self_s": enhance.wall - assemble.wall,
        "enhance.arrow_to_py_mb": enhance.node_sum("ArrowEvalPython", "pythonDataSent") / mb,
        "enhance.arrow_from_py_mb": enhance.node_sum("ArrowEvalPython", "pythonDataReceived") / mb,
        "enhance.task_ms_max": pct(final_ms, 100),
        "spark.executor_cpu_s": enhance.total("cpu_ns") / 1e9,
        "spark.gc_s": enhance.total("gc_ms") / 1e3,
        "spark.busy_core_frac": enhance.total("run_ms") / 1e3 / (enhance.wall * cpus),
        "spark.peak_exec_mem_mb": max((t["peak_mem"] for t in enhance.tasks), default=0) / mb,
        "spark.stages": len(enhance.stages),
        "spark.tasks": len(enhance.tasks),
    }


# ---------------------------------------------------------------------------
# per-call times of the pure functions, in the driver
# ---------------------------------------------------------------------------

def _timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, (time.perf_counter() - t0) * 1e6


def call_times(corpus, seed: int, sample: int = 1000) -> dict[str, float]:
    import pyarrow.parquet as pq

    from paper2llm_spark.html_extract import html_to_ocr_result
    from paper2llm_spark.operators.parse import DEFAULT_CHUNK_PAGES, DEFAULT_GIANT_BYTES
    from paper2llm_spark.oracle.assemble import process_markdown
    from paper2llm_spark.oracle.bibtex import PINNED_YEAR, generate_bibtex_from_markdown
    from paper2llm_spark.oracle.enhance import enhance_image_references, extract_image_context
    from paper2llm_spark.oracle.splitter import split_markdown_content
    from paper2llm_spark.oracle.urls import detect_payload
    from paper2llm_spark.oracle.vision import deterministic_describe
    from paper2llm_spark.pdf.parser import count_pages, parse_pdf
    from paper2llm_spark.pdf.slicer import PdfSlicer

    t = pq.read_table(corpus.path, columns=["url", "html", "lang"]).sort_by("url")
    rows = [(u, h) for u, h, lang in zip(*(t.column(c).to_pylist() for c in t.column_names)) if lang == "en"]
    rows = random.Random(seed).sample(rows, min(sample, len(rows)))

    s: dict[str, list[float]] = {k: [] for k in (
        "html", "html_per_kb", "pdf", "pdf_per_page", "count", "slice", "enhance", "split", "bibtex", "vision")}
    for _, payload in rows:
        kind = detect_payload(payload)
        try:
            if kind == "html":
                ocr, us = _timed(html_to_ocr_result, payload)
                s["html"].append(us)
                s["html_per_kb"].append(us / (len(payload) / 1024))
            elif kind == "pdf":
                n, us = _timed(count_pages, payload)
                s["count"].append(us)
                ocr, us = _timed(parse_pdf, payload)
                s["pdf"].append(us)
                s["pdf_per_page"].append(us / max(1, len(ocr["pages"])))
                if len(payload) > DEFAULT_GIANT_BYTES:
                    slicer = PdfSlicer(payload)
                    for lo in range(0, n, DEFAULT_CHUNK_PAGES):
                        s["slice"].append(_timed(slicer.slice, lo, min(lo + DEFAULT_CHUNK_PAGES, n) - 1)[1])
            else:
                continue
        except ValueError:
            continue  # quarantined payload: nothing downstream to time
        md = process_markdown(ocr)["markdown"]
        enhanced = md
        if any(p["images"] for p in ocr["pages"]):
            if corpus.mode == "descriptions":
                descriptions = {}
                for page in ocr["pages"]:
                    for image in page["images"]:
                        t0 = time.perf_counter()
                        ctx = extract_image_context(page["markdown"], image["id"])
                        descriptions[image["id"]] = deterministic_describe(image["id"], ctx)
                        s["vision"].append((time.perf_counter() - t0) * 1e6)
                enhanced, us = _timed(enhance_image_references, md, descriptions)
            else:
                enhanced, us = _timed(enhance_image_references, md, {}, replace_images_with_placeholder=True)
            s["enhance"].append(us)
        s["split"].append(_timed(split_markdown_content, enhanced)[1])
        s["bibtex"].append(_timed(generate_bibtex_from_markdown, enhanced, now_year=PINNED_YEAR)[1])
    return {
        "html_extract.call_us_p50": pct(s["html"], 50),
        "html_extract.call_us_p99": pct(s["html"], 99),
        "html_extract.us_per_kb": pct(s["html_per_kb"], 50),
        "pdf_parser.us_per_page_p50": pct(s["pdf_per_page"], 50),
        "pdf_parser.call_us_p99": pct(s["pdf"], 99),
        "pdf_parser.count_pages_us_p50": pct(s["count"], 50),
        "pdf_slicer.slice_us_p50": pct(s["slice"], 50),
        "oracle.enhance_us_p50": pct(s["enhance"], 50),
        "oracle.splitter_us_p50": pct(s["split"], 50),
        "oracle.bibtex_us_p50": pct(s["bibtex"], 50),
        "oracle.vision_us_p50": pct(s["vision"], 50),
    }


def scaling_eff(runner, corpus, docs_per_s: float, n_docs: int) -> float:
    """``docs_per_s`` at local[nproc] over (nproc / low) x docs/s at
    local[low], low = nproc / 4; the low level runs in a fresh JVM
    pinned to ``low`` CPUs (the affinity ``taskset`` sets)."""
    from perfbench.run import Runner, noop_pass

    allowed = sorted(os.sched_getaffinity(0))
    low = max(1, len(allowed) // 4)
    runner.stop(jvm=True)
    os.sched_setaffinity(0, allowed[:low])
    pinned = Runner(low)
    try:
        spark = pinned.start()
        noop_pass(spark, corpus.warmup_path, corpus.mode)
        t0 = time.monotonic()
        noop_pass(spark, corpus.path, corpus.mode)
        wall = time.monotonic() - t0
    finally:
        pinned.stop(jvm=True)
        os.sched_setaffinity(0, allowed)
    return docs_per_s / (len(allowed) / low * n_docs / wall)


# the scaling phase (a fresh JVM on nproc/4 CPUs, then one full pass) takes
# ~45 s on a 4-core box; a run that gets there later than this many seconds
# after it started skips it, so that a traced run stays under three minutes
SCALING_LATEST_START_S = 110


def traced_run(runner, workload, corpus, seed: int, untraced_wall: float,
               docs_per_s: float, started: float) -> tuple[dict, dict | None]:
    """Per-layer metrics, and the oracle check of the checkpointed
    output when this workload's trace runs the extract span. ``started``
    is the run's start on the ``time.monotonic`` clock."""
    spark = runner.spark
    probes = Probes(spark)
    extract = {k: 0 for k in (
        "extract.commit_groups", "extract.group_wall_s_p50", "extract.write_s",
        "extract.input_read_x", "extract.output_mb", "extract.reprocessed_docs")}
    check = None
    try:
        spans = layer_spans(spark, probes, corpus)
        if corpus.workload in metrics.WRITE:
            span, extract, check = extract_span(spark, probes, workload)
            extract_wall = span.wall
    finally:
        probes.close()
    values = layer_values(spans, corpus, runner.cpus)
    values.update(extract)
    values.update(call_times(corpus, seed))
    traced = extract_wall if workload.checkpointed else spans["enhance"].wall
    values["trace.overhead_s"] = traced - untraced_wall
    values["scaling_eff"] = 0.0
    if corpus.workload == "html_crawl":
        elapsed = time.monotonic() - started
        if elapsed <= SCALING_LATEST_START_S:
            values["scaling_eff"] = scaling_eff(runner, corpus, docs_per_s, len(corpus.meta["expected"]))
        else:
            print(f"scaling_eff not measured: the run is {elapsed:.0f} s old", flush=True)
    return values, check
