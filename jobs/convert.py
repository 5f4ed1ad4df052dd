#!/usr/bin/env python
"""Single-document convenience entry: convert ONE local PDF or HTML
file to the reference's download set — ``{base}.md``, ``{base}_main.md``,
``{base}_appendix.md``, ``{base}_backmatter.md`` (S7 naming,
useCopyDownload.ts:306,321,336; base rule :74).

This is the reference's primary interactive workflow (one paper in,
markdown files out) running through the exact same cluster pipeline the
table jobs use — the 1-row frame takes the identical
detect -> parse -> assemble -> enhance -> split path, so single-doc
output is byte-identical to what the same payload produces inside a
10^12-row batch.

    python jobs/convert.py --file paper.pdf --output outdir --cpus 8
    python jobs/convert.py --file page.html --mode descriptions
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--file", required=True, help="local .pdf or .html file")
    ap.add_argument("--output", default=".", help="directory for the .md files")
    ap.add_argument("--mode", default="placeholder",
                    choices=("placeholder", "descriptions"))
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] when no cluster master is provided")
    args = ap.parse_args()

    with open(args.file, "rb") as f:
        payload = f.read()

    from paper2llm_spark.session import get_spark

    spark = get_spark(app_name="paper2llm_convert", cpus=args.cpus or 8)

    from paper2llm_spark.operators.export import (
        SECTION_SUFFIX, section_content,
    )
    from paper2llm_spark.plans.extract import extract_documents
    from paper2llm_spark.schema import PAGES

    name = os.path.basename(args.file)
    pages = spark.createDataFrame(
        [(f"file://{os.path.abspath(args.file)}", None, payload, "", "en")],
        PAGES,
    )
    out = extract_documents(pages, mode=args.mode)
    row = out.select(
        "err", "title", "page_count",
        *[
            section_content(s, add_title=(s in ("appendix", "backmatter")))
            .alias(f"export_{s}")
            for s in SECTION_SUFFIX
        ],
    ).collect()
    if not row:
        sys.exit(f"no extractable payload in {args.file} "
                 "(not a PDF/HTML file?)")
    row = row[0]
    if row["err"]:
        sys.exit(f"extraction failed: {row['err']}")

    os.makedirs(args.output, exist_ok=True)
    import re

    # S7 base rule: filename minus extension (useCopyDownload.ts:74)
    base = re.sub(r"\.[^/.]+$", "", name)
    written = []
    for section, suffix in SECTION_SUFFIX.items():
        content = row[f"export_{section}"]
        if content is None:
            continue
        path = os.path.join(args.output, f"{base}{suffix}.md")
        with open(path, "w", encoding="utf-8") as f:
            f.write(content)
        written.append(path)
    print(f"title: {row['title']!r}  pages: {row['page_count']}")
    for p in written:
        print("wrote", p)


if __name__ == "__main__":
    main()
