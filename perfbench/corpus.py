"""Seeded load generator: one pages table per (workload, seed).

The program under test receives only the generated table
``pages(url, warc_ts, html, text, lang)``, written as several parquet
files so the scan splits across every core. Tables are cached under
``<checkout>/.bench_cache/corpus``, keyed by workload, seed, file count
and :data:`GENERATOR_VERSION`; bump the version whenever the generator's
output changes.

Workloads:

* ``html_crawl`` -- Common-Crawl-style rows: ~40% non-``en`` (removed by
  the lang filter), ~94% HTML of 3-60 KB with script/style/nav/footer
  boilerplate, lists, tables, ``<pre>``, entities and images, ~4% 1-3
  page PDFs, ~2% empty or garbage payloads.
* ``pdf_papers`` -- academic PDFs of 8-40 pages (two-column pages,
  figures with captions, equations, tables, Acknowledgments /
  References / Appendix) plus a tail of ~4000-page PDFs above the
  parse stage's giant-document threshold.
* ``checkpoint_resume`` -- a smaller ``html_crawl`` mix for the
  checkpointed, parquet-writing job.

Shares are exact and sizes and page counts are stratified (see
:func:`_spread`), so the seed picks the content and which row is which,
while the amount of work stays the same from seed to seed.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random
from dataclasses import dataclass

GENERATOR_VERSION = 5

BASE_TS = dt.datetime(2026, 1, 1)
NON_EN_LANGS = ("de", "fr", "es", "ja", "ru", "zh")
WARMUP_ROWS = 16


@dataclass(frozen=True)
class Spec:
    mode: str            # enhancement mode the pipeline runs in
    n_rows: int          # generated rows (before the lang filter)
    giant_docs: int = 0  # ~4000-page PDFs in the tail


SPECS = {
    "html_crawl": Spec("placeholder", 2000),
    "pdf_papers": Spec("descriptions", 240, giant_docs=2),
    "checkpoint_resume": Spec("placeholder", 240),
}


# ---------------------------------------------------------------------------
# text material
# ---------------------------------------------------------------------------

_SYLLABLES = (
    "ka lo mi ra te su no vi pe da ri go la ne tu ba si mo fe ha "
    "ze ul an or en ix ta ce po du gra stra ven tor pli qua del mar"
).split()


class _Text:
    """Seeded pseudo-language: a vocabulary plus a pool of sentences that
    documents sample from, so generation stays cheap."""

    def __init__(self, rng: random.Random, n_words: int = 1500, n_sentences: int = 2500):
        self.rng = rng
        words = set()
        while len(words) < n_words:
            words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 4))))
        self.words = sorted(words)
        self.sentences = [self._sentence() for _ in range(n_sentences)]

    def _sentence(self) -> str:
        ws = [self.rng.choice(self.words) for _ in range(self.rng.randint(6, 18))]
        ws[0] = ws[0].capitalize()
        return " ".join(ws) + self.rng.choice(".....?!")

    def words_n(self, n: int) -> str:
        return " ".join(self.rng.choice(self.words) for _ in range(n))

    def title(self) -> str:
        return self.words_n(self.rng.randint(3, 9)).title()

    def paragraph(self, lo: int = 2, hi: int = 6) -> str:
        return " ".join(self.rng.choice(self.sentences) for _ in range(self.rng.randint(lo, hi)))


# ---------------------------------------------------------------------------
# HTML payloads
# ---------------------------------------------------------------------------

_ENTITIES = ("&amp;", "&lt;", "&gt;", "&quot;", "&#8217;", "&nbsp;", "&eacute;", "&#x2014;", "&copy;")


def _inline(tx: _Text, rng: random.Random) -> str:
    """A paragraph with inline markup and entities."""
    words = tx.paragraph().split(" ")
    for _ in range(rng.randint(0, 4)):
        i = rng.randrange(len(words))
        r = rng.random()
        if r < 0.25:
            words[i] = f"<b>{words[i]}</b>"
        elif r < 0.45:
            words[i] = f"<em>{words[i]}</em>"
        elif r < 0.6:
            words[i] = f"<code>{words[i]}()</code>"
        elif r < 0.8:
            words[i] = f'<a href="https://ref{rng.randint(1, 99)}.example/{words[i]}">{words[i]}</a>'
        else:
            words[i] = f"{words[i]} {rng.choice(_ENTITIES)}"
    return " ".join(words)


def _html_block(tx: _Text, rng: random.Random, doc_id: int, img_no: list[int]) -> str:
    r = rng.random()
    if r < 0.55:
        return f"<p>{_inline(tx, rng)}</p>\n"
    if r < 0.65:
        return f"<h2>{tx.title()}</h2>\n<p>{_inline(tx, rng)}</p>\n"
    if r < 0.72:
        items = "".join(f"<li>{tx.words_n(rng.randint(3, 10))}</li>" for _ in range(rng.randint(2, 6)))
        tag = "ul" if rng.random() < 0.6 else "ol"
        return f"<{tag}>{items}</{tag}>\n"
    if r < 0.78:
        rows = "".join(
            "<tr>" + "".join(f"<td>{tx.words_n(1)} {rng.randint(0, 999)}</td>" for _ in range(3)) + "</tr>"
            for _ in range(rng.randint(2, 5))
        )
        return f"<table><tr><th>name</th><th>key</th><th>value</th></tr>{rows}</table>\n"
    if r < 0.83:
        body = "\n".join(
            f"    {tx.words_n(1)} = {tx.words_n(1)}({rng.randint(0, 9)}) &lt; {rng.randint(10, 99)}"
            for _ in range(rng.randint(2, 6))
        )
        return f"<pre>def f_{doc_id}():\n{body}\n</pre>\n"
    if r < 0.90:
        img_no[0] += 1
        return f'<figure><img src="/media/{doc_id}/fig-{img_no[0]}.png" alt="fig"/>' \
               f"<figcaption>Figure {img_no[0]}: {tx.words_n(6)}</figcaption></figure>\n"
    if r < 0.95:
        return f"<blockquote>{tx.paragraph(1, 2)}</blockquote>\n"
    return f"<div class=\"note\">{_inline(tx, rng)}</div>\n"


def _html_doc(tx: _Text, rng: random.Random, doc_id: int, host: str, size_q: float) -> tuple[bytes, str]:
    target = int(3000 * (20 ** size_q))  # log-uniform 3..60 KB
    title = tx.title()
    nav = "".join(f'<li><a href="/{w}">{w}</a></li>' for w in tx.words_n(rng.randint(4, 9)).split())
    head = (
        f"<!DOCTYPE html>\n<html lang=\"en\"><head><meta charset=\"utf-8\">"
        f"<title>{title} | {host}</title>\n"
        f"<script>var cfg={{id:{doc_id},k:'{tx.words_n(3)}'}};function t(){{return cfg.id*{rng.randint(2, 9)};}}</script>\n"
        f"<style>body{{margin:0}} .c{doc_id % 97}{{color:#{rng.randint(0, 0xFFFFFF):06x}}} "
        f"nav li{{display:inline}}</style></head>\n<body>\n"
        f"<header><div class=\"logo\">{host}</div></header>\n<nav><ul>{nav}</ul></nav>\n<main><article>\n"
    )
    parts = [head]
    if rng.random() < 0.9:
        parts.append(f"<h1>{title}</h1>\n")
    img_no = [0]
    size = len(head)
    while size < target:
        block = _html_block(tx, rng, doc_id, img_no)
        parts.append(block)
        size += len(block)
    r = rng.random()
    if r < 0.3:
        refs = "".join(f"<li>{tx.title()}. {tx.words_n(3)}, {rng.randint(1990, 2025)}.</li>" for _ in range(rng.randint(2, 8)))
        parts.append(f"<h2>References</h2>\n<ol>{refs}</ol>\n")
    elif r < 0.4:
        parts.append(f"<h2>Acknowledgments</h2>\n<p>{tx.paragraph(1, 2)}</p>\n")
    parts.append(
        f"</article></main>\n<aside><p>Related: {tx.words_n(8)}</p></aside>\n"
        f"<footer>&copy; {rng.randint(2000, 2025)} {host} {tx.words_n(4)}</footer>\n"
        f"<script>t();</script>\n</body></html>\n"
    )
    return "".join(parts).encode("utf-8"), f"{title} {tx.paragraph(1, 2)}"


# ---------------------------------------------------------------------------
# PDF payloads
# ---------------------------------------------------------------------------

def _pdf_page_md(tx: _Text, rng: random.Random, lines: int, fig: list[int], heading: str | None) -> str:
    out = [heading, ""] if heading else []
    while len(out) < lines:
        r = rng.random()
        if r < 0.08:
            fig[0] += 1
            out += ["", "![figure](figure)", f"Figure {fig[0]}: {tx.words_n(rng.randint(4, 10))}", ""]
        elif r < 0.13:
            out += ["", f"$$ {tx.words_n(1)}(x) = \\sum_{{i=1}}^{{n}} x_i^{rng.randint(2, 4)} $$", ""]
        elif r < 0.17:
            out += ["", "| metric | value |", "| - | - |"]
            out += [f"| {tx.words_n(1)} | {rng.randint(0, 999) / 10} |" for _ in range(rng.randint(2, 4))]
            out.append("")
        elif r < 0.30:
            out.append("")
        else:
            out.append(rng.choice(tx.sentences))
    return "\n".join(out)


def _paper(tx: _Text, rng: random.Random, n_pages: int) -> bytes:
    from paper2llm_spark.pdf.writer import layout_markdown_page, two_column_page, write_pdf

    fig = [0]
    title = tx.title()
    sections = iter(["Introduction", "Related Work", "Method", "Experiments", "Results", "Discussion"])
    # backmatter occupies the last pages: acknowledgments, references, appendix
    pages = []
    for p in range(n_pages):
        tail = n_pages - p
        if p == 0:
            md = f"# {title}\n\n{tx.words_n(4).title()}\n\n## Abstract\n\n" + _pdf_page_md(tx, rng, 24, fig, None)
        elif tail == 2:
            md = "## Acknowledgments\n\n" + tx.paragraph(1, 3) + "\n\n## References\n\n" + "\n".join(
                f"[{i}] {tx.title()}. {tx.words_n(3)}, {rng.randint(1990, 2025)}." for i in range(1, rng.randint(8, 20))
            )
        elif tail == 1:
            head = "## Appendix" if rng.random() < 0.5 else f"## A {tx.title()}"
            md = _pdf_page_md(tx, rng, 26, fig, head)
        else:
            heading = f"## {p} {next(sections, tx.title())}" if rng.random() < 0.3 else None
            md = _pdf_page_md(tx, rng, rng.randint(24, 36), fig, heading)
        if p > 0 and tail > 2 and rng.random() < 0.3:
            lines = md.split("\n")
            half = len(lines) // 2
            pages.append(two_column_page("\n".join(lines[:half]), "\n".join(lines[half:])))
        else:
            pages.append(layout_markdown_page(md))
    return write_pdf(pages)


def _giant_pdf(tx: _Text, rng: random.Random, n_pages: int) -> bytes:
    from paper2llm_spark.pdf.writer import layout_markdown_page, write_pdf

    pages = [layout_markdown_page(f"# {tx.title()}\n\n{tx.paragraph(1, 2)}")]
    for p in range(1, n_pages):
        md = f"## Part {p}\n\n" + "\n".join(rng.choice(tx.sentences)[:90] for _ in range(3))
        if p % 97 == 0:
            md += "\n\n![figure](figure)\nFigure: " + tx.words_n(5)
        pages.append(layout_markdown_page(md))
    return write_pdf(pages)


def _short_pdf(tx: _Text, rng: random.Random) -> bytes:
    from paper2llm_spark.pdf.writer import layout_markdown_page, write_pdf

    fig = [0]
    n = rng.randint(1, 3)
    return write_pdf([
        layout_markdown_page(_pdf_page_md(tx, rng, 20, fig, f"# {tx.title()}" if p == 0 else None))
        for p in range(n)
    ])


# ---------------------------------------------------------------------------
# rows
# ---------------------------------------------------------------------------

def _spread(rng: random.Random, n: int) -> list[float]:
    """``n`` quantiles in [0, 1), one in each of ``n`` equal strata, in
    seeded order: seeds differ in which row gets which size, not in the
    total amount of work."""
    qs = [(i + rng.random()) / n for i in range(n)]
    rng.shuffle(qs)
    return qs


def _crawl_plan(rng: random.Random, n_rows: int) -> list[tuple[str, str, float]]:
    """(lang, payload kind, html size quantile) per row, with exact shares:
    60% ``en``, and within both the ``en`` and the other rows 94% html, 4%
    pdf and 2% junk."""
    n_en = round(0.6 * n_rows)
    plan = []
    for en, m in ((True, n_en), (False, n_rows - n_en)):
        n_pdf, n_junk = round(0.04 * m), round(0.02 * m)
        sizes = iter(_spread(rng, m - n_pdf - n_junk))
        kinds = ["pdf"] * n_pdf + ["junk"] * n_junk + ["html"] * (m - n_pdf - n_junk)
        plan += [("en" if en else rng.choice(NON_EN_LANGS), k, next(sizes) if k == "html" else 0.0)
                 for k in kinds]
    rng.shuffle(plan)
    return plan


def _crawl_rows(seed: int, n_rows: int, tag: str) -> list[dict]:
    rng = random.Random(f"{tag}:{seed}")
    tx = _Text(rng)
    rows = []
    for i, (lang, kind, size_q) in enumerate(_crawl_plan(rng, n_rows)):
        host = f"site{rng.randint(1, 400)}.example"
        text = ""
        if kind == "html":
            payload, text = _html_doc(tx, rng, i, host, size_q)
        elif kind == "pdf":
            payload = _short_pdf(tx, rng)
        else:
            # empty, junk (dropped by payload detection) or a broken PDF
            # (reaches the parser and is quarantined with an err row)
            payload = rng.choice([b"", b"\x00\x01\x02 binary junk " + tx.words_n(5).encode(),
                                  b"%PDF-1.4 truncated " + tx.words_n(8).encode()])
        rows.append(_row(f"https://{host}/{tx.words_n(1)}/{tag}-{seed}-{i:06d}", i, payload, text, lang))
    return rows


def _paper_rows(seed: int, spec: Spec) -> list[dict]:
    rng = random.Random(f"pdf_papers:{seed}")
    tx = _Text(rng)
    rows = []
    for i, q in enumerate(_spread(rng, spec.n_rows)):
        payload = _paper(tx, rng, 8 + int(q * 33))  # 8..40 pages
        rows.append(_row(f"https://arxiv.example/pdf/{seed}.{i:05d}", i, payload, "", "en"))
    for g, q in enumerate(_spread(rng, spec.giant_docs)):
        payload = _giant_pdf(tx, rng, 3900 + int(q * 201))
        # spread the giants through the table so they land in different files
        pos = (g + 1) * len(rows) // (spec.giant_docs + 1)
        rows.insert(pos, _row(f"https://archive.example/proceedings/{seed}-{g}", 10_000 + g, payload, "", "en"))
    return rows


def _row(url: str, i: int, payload: bytes, text: str, lang: str) -> dict:
    return {"url": url, "warc_ts": BASE_TS + dt.timedelta(seconds=i), "html": payload,
            "text": text, "lang": lang}


def generate_rows(workload: str, seed: int) -> list[dict]:
    spec = SPECS[workload]
    if workload == "pdf_papers":
        return _paper_rows(seed, spec)
    return _crawl_rows(seed, spec.n_rows, workload)


# ---------------------------------------------------------------------------
# table files + digest
# ---------------------------------------------------------------------------

def _arrow_table(rows: list[dict]):
    import pyarrow as pa

    return pa.table({
        "url": pa.array([r["url"] for r in rows], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in rows], pa.timestamp("us")),
        "html": pa.array([r["html"] for r in rows], pa.binary()),
        "text": pa.array([r["text"] for r in rows], pa.string()),
        "lang": pa.array([r["lang"] for r in rows], pa.string()),
    })


def write_table(rows: list[dict], path: str, n_files: int) -> None:
    """Round-robin the rows into ``n_files`` parquet files."""
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    for f in range(n_files):
        pq.write_table(_arrow_table(rows[f::n_files]), os.path.join(path, f"part-{f:03d}.parquet"))


def table_digest(path: str) -> str:
    """sha256 over the table's rows in url order, read back from disk."""
    import pyarrow.parquet as pq

    t = pq.read_table(path).sort_by("url")
    h = hashlib.sha256()
    for url, ts, html, text, lang in zip(*(t.column(c).to_pylist() for c in t.column_names)):
        h.update(json.dumps([url, ts.isoformat(), hashlib.sha256(html).hexdigest(), text, lang]).encode())
    return h.hexdigest()


def table_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".parquet"))


@dataclass
class Corpus:
    workload: str
    seed: int
    mode: str
    path: str          # pages table (directory of parquet files)
    warmup_path: str   # small table for the warm-up pass
    digest: str
    meta: dict         # cached oracle expectations and sizes


def _expected_parallel(rows: list[dict], mode: str, workers: int) -> dict[str, str]:
    """The oracle's expectations, computed by a pool of forked workers
    over size-balanced slices of the rows.

    Fork, not spawn: the spawn and forkserver contexts start
    multiprocessing's resource tracker, a process that outlives the
    pool and ends only after this process has exited. Call this before
    any pyarrow I/O, so no Arrow pool threads exist at the fork."""
    import multiprocessing
    from concurrent.futures import ProcessPoolExecutor

    from .oracle import expected_outputs

    by_size = sorted(rows, key=lambda r: -len(r["html"]))
    slices = [by_size[i::workers * 2] for i in range(workers * 2)]
    out: dict[str, str] = {}
    with ProcessPoolExecutor(workers, mp_context=multiprocessing.get_context("fork")) as pool:
        for part in pool.map(expected_outputs, slices, [mode] * len(slices)):
            out.update(part)
    return out


def materialize(workload: str, seed: int, cache_root: str, n_files: int, workers: int = 1) -> Corpus:
    """Generate (or reuse) the workload's table and its oracle
    expectations, cached under ``cache_root``."""
    from paper2llm_spark.operators.parse import DEFAULT_GIANT_BYTES

    spec = SPECS[workload]
    key = f"{workload}-s{seed}-f{n_files}-v{GENERATOR_VERSION}"
    root = os.path.join(cache_root, key)
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        rows = generate_rows(workload, seed)
        expected = _expected_parallel(rows, spec.mode, workers)
        tmp = root + ".tmp"
        write_table(rows, os.path.join(tmp, "pages"), n_files)
        small = [r for r in rows if len(r["html"]) <= DEFAULT_GIANT_BYTES][:WARMUP_ROWS]
        # one row per file: the warm-up pass runs a task, so starts a Python
        # worker, on every core
        write_table(small, os.path.join(tmp, "warmup"), min(n_files, len(small)))
        meta = {
            "digest": table_digest(os.path.join(tmp, "pages")),
            "input_bytes": table_bytes(os.path.join(tmp, "pages")),
            "n_rows": len(rows),
            "giant_docs": sum(1 for r in rows if r["lang"] == "en" and r["html"][:5] == b"%PDF-"
                              and len(r["html"]) > DEFAULT_GIANT_BYTES),
            "expected": expected,
        }
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f)
        os.replace(tmp, root)
    with open(meta_path) as f:
        meta = json.load(f)
    return Corpus(workload, seed, spec.mode, os.path.join(root, "pages"),
                  os.path.join(root, "warmup"), meta["digest"], meta)
