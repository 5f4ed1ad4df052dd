"""Incremental extraction — Structured Streaming over a growing pages table.

The reference is a one-shot interactive converter (no streaming surface;
SURVEY.md §2.10), so this is the additive cluster capability: tail a
growing Common-Crawl-style directory and run the SAME batch pipeline per
micro-batch via ``foreachBatch``. Source-file tracking lives in the
streaming checkpoint (exactly-once per input file); the batch pipeline
inside stays pure, so a replayed micro-batch rewrites identical bytes.

``trigger(availableNow=True)`` drains everything present and stops —
the incremental-backfill pattern (run on a schedule, process only new
files each time).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from ..plans.extract import extract_documents
from ..schema import PAGES


def incremental_extract(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    *,
    mode: str = "placeholder",
    langs: tuple[str, ...] = ("en",),
    available_now: bool = True,
):
    """Start the incremental job; returns the StreamingQuery.

    ``output_dir`` holds ``extracted/`` (appended parquet) and
    ``stream_checkpoint/`` (file-source progress)."""
    out_path = os.path.join(output_dir, "extracted")
    ckpt_path = os.path.join(output_dir, "stream_checkpoint")

    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )

    def process_batch(batch_df, batch_id: int) -> None:
        result = extract_documents(batch_df, mode=mode, langs=langs)
        result.drop("bytes_in", "parse_partition", "parse_wall_ms").write.mode(
            "append"
        ).parquet(out_path)

    writer = stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", ckpt_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
