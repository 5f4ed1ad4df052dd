"""Every metric the benchmark reports: name, unit, the layer it belongs
to, and which end-to-end metric it should move on which workload.

``END_TO_END`` is printed with tracing off, ``PER_LAYER`` by the traced
run. ``BENCHMARK.json`` lists the same names (a test keeps them equal).
"""

from __future__ import annotations

HTML, PDF, CKPT = "html_crawl", "pdf_papers", "checkpoint_resume"
NOOP = (HTML, PDF)
ALL = (HTML, PDF, CKPT)
# workloads whose traced run times the checkpointed write path: html_crawl
# stands in for checkpoint_resume, which is too slow for the default set
WRITE = (CKPT, HTML)

# name: (unit, better)
END_TO_END = {
    "docs_per_s": ("1/s", "higher"),
    "cpu_s_per_kdoc": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "setup_s": ("s", "lower"),
}

# name: (unit, better, layer, end-to-end metrics it moves, workloads
# where the layer does most of its work)
PER_LAYER = {
    "pages.rows_scanned": ("count", "lower", "sources.pages", "docs_per_s", (HTML,)),
    "pages.rows_selected": ("count", "lower", "sources.pages", "docs_per_s", (HTML,)),
    "pages.scan_mb": ("MB", "lower", "sources.pages", "docs_per_s", (HTML,)),
    "pages.self_s": ("s", "lower", "sources.pages", "docs_per_s", (HTML,)),
    "html_extract.call_us_p50": ("us", "lower", "html_extract", "docs_per_s,cpu_s_per_kdoc", (HTML,)),
    "html_extract.call_us_p99": ("us", "lower", "html_extract", "docs_per_s,cpu_s_per_kdoc", (HTML,)),
    "html_extract.us_per_kb": ("us/KB", "lower", "html_extract", "docs_per_s,cpu_s_per_kdoc", (HTML,)),
    "parse.self_s": ("s", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.pages_out": ("count", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.quarantined": ("count", "lower", "operators.parse", "docs_per_s", (HTML,)),
    "parse.arrow_to_py_mb": ("MB", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.arrow_from_py_mb": ("MB", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.task_ms_p50": ("ms", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.task_ms_max": ("ms", "lower", "operators.parse", "docs_per_s,scaling_eff", (PDF,)),
    "pdf_parser.us_per_page_p50": ("us", "lower", "pdf.parser", "docs_per_s", (PDF,)),
    "pdf_parser.call_us_p99": ("us", "lower", "pdf.parser", "docs_per_s", (PDF,)),
    "pdf_parser.count_pages_us_p50": ("us", "lower", "pdf.parser", "docs_per_s", (PDF,)),
    "parse.giant_docs": ("count", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.chunks": ("count", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "parse.spread_shuffle_mb": ("MB", "lower", "operators.parse", "docs_per_s", (PDF,)),
    "pdf_slicer.slice_us_p50": ("us", "lower", "pdf.slicer", "docs_per_s", (PDF,)),
    "assemble.self_s": ("s", "lower", "operators.assemble", "docs_per_s,peak_rss_mb", (PDF,)),
    # every page crosses the assemble shuffle, one-page html docs too, so
    # its bytes follow the markdown volume; pages_per_doc is what separates
    # the workloads
    "assemble.shuffle_write_mb": ("MB", "lower", "operators.assemble", "docs_per_s,peak_rss_mb", NOOP),
    "assemble.shuffle_read_mb": ("MB", "lower", "operators.assemble", "docs_per_s,peak_rss_mb", NOOP),
    "assemble.spill_mb": ("MB", "lower", "operators.assemble", "docs_per_s,peak_rss_mb", (PDF,)),
    "assemble.pages_per_doc": ("count", "lower", "operators.assemble", "docs_per_s,peak_rss_mb", (PDF,)),
    "enhance.self_s": ("s", "lower", "operators.enhance", "docs_per_s", NOOP),
    "enhance.arrow_to_py_mb": ("MB", "lower", "operators.enhance", "docs_per_s", NOOP),
    "enhance.arrow_from_py_mb": ("MB", "lower", "operators.enhance", "docs_per_s", NOOP),
    "enhance.task_ms_max": ("ms", "lower", "operators.enhance", "docs_per_s", NOOP),
    "oracle.enhance_us_p50": ("us", "lower", "oracle.enhance", "cpu_s_per_kdoc", NOOP),
    "oracle.splitter_us_p50": ("us", "lower", "oracle.splitter", "cpu_s_per_kdoc", NOOP),
    "oracle.bibtex_us_p50": ("us", "lower", "oracle.bibtex", "cpu_s_per_kdoc", NOOP),
    "oracle.vision_us_p50": ("us", "lower", "oracle.vision", "cpu_s_per_kdoc", (PDF,)),
    "extract.commit_groups": ("count", "lower", "plans.extract", "docs_per_s", WRITE),
    "extract.group_wall_s_p50": ("s", "lower", "plans.extract", "docs_per_s", WRITE),
    "extract.write_s": ("s", "lower", "plans.extract", "docs_per_s", WRITE),
    "extract.input_read_x": ("x", "lower", "plans.extract", "docs_per_s", WRITE),
    "extract.output_mb": ("MB", "lower", "plans.extract", "docs_per_s", WRITE),
    "extract.reprocessed_docs": ("count", "lower", "plans.extract", "docs_per_s", WRITE),
    "spark.executor_cpu_s": ("s", "lower", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    "spark.gc_s": ("s", "lower", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    "spark.busy_core_frac": ("fraction", "higher", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    "spark.peak_exec_mem_mb": ("MB", "lower", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    "spark.stages": ("count", "lower", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    "spark.tasks": ("count", "lower", "spark", "cpu_s_per_kdoc,peak_rss_mb,scaling_eff", ALL),
    # measured on html_crawl only (0 elsewhere); too noisy on a shared
    # box to carry a bound, so it is a diagnostic rather than end-to-end
    "scaling_eff": ("fraction", "higher", "spark", "docs_per_s", (HTML,)),
    "trace.overhead_s": ("s", "lower", "perfbench", "-", ALL),
}


def render(values: dict[str, float], table: dict) -> dict:
    """{name: {"value": v, "unit": u}} for every metric of ``table``."""
    missing = set(table) - set(values)
    if missing:
        raise KeyError(f"metrics not measured: {sorted(missing)}")
    return {name: {"value": values[name], "unit": table[name][0]} for name in table}


def benchmark_entries(bounds: dict[str, float]) -> dict:
    """The ``end_to_end`` and ``per_layer`` lists of BENCHMARK.json."""
    return {
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bounds[n]}
                       for n, (u, b) in END_TO_END.items()],
        "per_layer": [{"name": n, "unit": v[0], "better": v[1]} for n, v in PER_LAYER.items()],
    }
