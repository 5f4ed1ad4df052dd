"""End-to-end extraction pipeline (C1) + checkpoint/resume (C4) + lineage (C2).

The DAG (SURVEY.md §3.4), two routes, decided on the driver::

    scan(pages) -> anti-join checkpoint -> lang filter
      -> routing query (SQL, collected on the driver as the plan is
         built): groupBy(url) -> the urls on more than one row (a
         re-crawl: its latest row is the document) or with an
         extractable payload over giant_bytes

    scan(pages) -> anti-join checkpoint -> lang/payload filter
      |- every url not routed (with none routed, the whole plan):
      |    fused document stage, ONE mapInPandas (operators/document.py):
      |    parse -> the oracle's convert_ocr_result, no shuffle
      '- the routed urls, planned only when there are any (an IN list,
         or a broadcast local relation when there are many):
           repartition(url) (SQL only: the scan stage runs no Python)
           -> max_by aggregate: latest crawl per url (same exchange)
           -> mapInPandas chunk-plan -> spread repartition(n, url, page_lo)
           -> mapInPandas parse (one row per page)
           -> groupBy(url) sorted collect_list (reassembly shuffle)
           -> mapInPandas: the oracle's convert_ocr_result per document
      -> union -> write output + lineage + checkpoint commit

Both routes build their rows through ``operators.document.document_row``,
which is the oracle's ``convert_ocr_result`` (the one call the goldens
are made with), so they are byte-identical by construction (tested
column by column).

Resumability: documents hash into ``n_buckets`` by url; buckets are
processed in ``n_groups`` commit groups. Each group appends its output,
lineage rows, and a checkpoint row per bucket; a restarted run anti-joins
completed buckets out of the input (north_rule requirement) so a killed
job never reprocesses committed work.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.assemble import assemble_documents
from ..operators.document import check_mode, convert_payloads
from ..operators.parse import DEFAULT_CHUNK_PAGES, DEFAULT_GIANT_BYTES, chunked_pages
from ..schema import CHECKPOINT
from ..sources.pages import in_langs, payload_kind, read_pages, select_extractable, with_bucket

OUTPUT_COLUMNS = [
    "url", "markdown", "main_content", "backmatter", "appendix", "title",
    "page_count", "image_references", "model", "bibtex", "bibtex_key",
    "bibtex_formatted", "title_validation", "err", "bucket",
]


def extract_documents(
    pages: DataFrame,
    *,
    mode: str = "placeholder",
    chunk_pages: int = DEFAULT_CHUNK_PAGES,
    langs: tuple[str, ...] = ("en",),
    giant_bytes: int | None = None,
) -> DataFrame:
    """pages table (url, warc_ts, html, text, lang) -> extracted rows.

    Writes nothing; reusable by tests, the driver entry and the
    checkpointed runner below. It does run one job when called: the SQL
    :func:`routing_query`, collected on the driver (an unknown ``mode``
    fails before it). With no url routed, the plan is scan -> filter ->
    the fused stage, with no union, join, exchange or per-page route.
    """
    check_mode(mode)
    if giant_bytes is None:
        giant_bytes = DEFAULT_GIANT_BYTES
    selected = select_extractable(pages, langs=langs)
    routed = [r.url for r in routing_query(pages, langs, giant_bytes).collect()]
    if not routed:
        return convert_payloads(selected, mode)
    small, tail = _split_routes(selected, routed)
    return convert_payloads(small, mode).unionByName(
        assemble_documents(chunked_pages(tail, chunk_pages), mode)
    )


# Up to this many routed urls (a corpus's few giant PDFs) ride in the
# plan as an IN list: no join and no job. A larger set becomes a
# broadcast local relation, whose broadcast is one small job but which
# plans in constant time, where an IN list costs ~1 ms a url to build.
INLINE_URLS = 64


def _split_routes(selected: DataFrame, routed: list[str]) -> tuple[DataFrame, DataFrame]:
    """(fused-stage rows, per-page rows) of ``selected``."""
    if len(routed) <= INLINE_URLS:
        per_page = F.col("url").isin(routed)
        return selected.filter(~per_page), selected.filter(per_page)
    url_set = F.broadcast(selected.sparkSession.createDataFrame(
        pa.table({"url": pa.array(routed, pa.string())})
    ))
    return selected.join(url_set, "url", "left_anti"), selected.join(url_set, "url", "left_semi")


def routing_query(pages: DataFrame, langs: tuple[str, ...], giant_bytes: int) -> DataFrame:
    """The urls whose documents take the per-page route: a url on more
    than one row in ``langs`` (a re-crawl: its latest row is the
    document), or one with an extractable payload over ``giant_bytes``."""
    # the size test first: And stops there, so only giant payloads are sniffed
    giant = (F.octet_length("html") > giant_bytes) & payload_kind(F.col("html")).isin("pdf", "html")
    return (
        in_langs(pages, langs).groupBy("url")
        .agg(F.count(F.lit(1)).alias("rows"), F.bool_or(giant).alias("giant"))
        .filter((F.col("rows") > 1) | F.col("giant"))
        .select("url")
    )


class _StageMetricsListener:
    """Listener-bus stage metrics (C2, SURVEY §2.9: "SparkListener for
    stage timing") through the PUBLIC listener surface: a py4j callback
    proxy implementing ``SparkListenerInterface``, registered with
    ``SparkContext.addSparkListener`` (DeveloperApi, stable since 0.9).

    Replaces the round-2 ``statusStore`` read whose
    ``stageList$default$N`` scala default-arg reflection was pinned to a
    Spark minor version's private API (round-2 verdict #5). Events
    arrive on the listener-bus thread; :meth:`drain` snapshots them
    driver-side.
    """

    def __init__(self):
        self._rows: list[tuple] = []
        self._lock = threading.Lock()

    def onStageCompleted(self, event):  # noqa: N802 (JVM interface name)
        info = event.stageInfo()
        sub, comp = info.submissionTime(), info.completionTime()
        sub_ms = int(sub.get()) if sub.isDefined() else None
        comp_ms = int(comp.get()) if comp.isDefined() else None
        status = "FAILED" if info.failureReason().isDefined() else "COMPLETE"
        try:
            run_ms = int(info.taskMetrics().executorRunTime())
        except Exception:
            run_ms = None
        row = (
            int(info.stageId()), int(info.attemptNumber()), status,
            str(info.name()), int(info.numTasks()), run_ms,
            sub_ms, comp_ms,
            (comp_ms - sub_ms)
            if sub_ms is not None and comp_ms is not None else None,
        )
        with self._lock:
            self._rows.append(row)

    def drain(self) -> list[tuple]:
        with self._lock:
            rows, self._rows = self._rows, []
        return rows

    def __getattr__(self, name):
        # every other SparkListenerInterface event (onJobStart,
        # onTaskEnd, ...) is a no-op; py4j resolves callback methods by
        # name at call time so one catch-all covers the whole interface
        return lambda *args, **kwargs: None

    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]


def _ensure_callback_server(spark: SparkSession) -> None:
    """Start the py4j callback server (required for the JVM listener bus
    to call back into Python) exactly the way pyspark itself does for
    ``foreachBatch``/streaming listeners — ephemeral port, daemonized
    threads, JVM callback client re-pointed. Reusing pyspark's helper
    keeps the lifecycle identical to the built-in callback users (the
    server stays up for the session; its threads are daemonic so
    interpreter exit is never blocked)."""
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(spark.sparkContext._gateway)


STAGE_METRICS_SCHEMA = (
    "stage_id int, attempt int, status string, name string, num_tasks int, "
    "executor_run_ms long, submitted_ms long, completed_ms long, "
    "wall_ms long, run_id string"
)


def _lineage_rows(result: DataFrame, run_id: str) -> DataFrame:
    """Per-parse-partition lineage (north_star): partition_id, url_range,
    doc_count, bytes_in/out, wall_ms."""
    return result.groupBy(F.col("parse_partition").alias("partition_id")).agg(
        F.concat_ws("..", F.min("url"), F.max("url")).alias("url_range"),
        F.count("*").alias("doc_count"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.octet_length(F.coalesce(F.col("markdown"), F.lit("")))).alias("bytes_out"),
        F.max("parse_wall_ms").alias("wall_ms"),
    ).select(
        "partition_id", "url_range", "doc_count", "bytes_in", "bytes_out",
        "wall_ms", F.lit(run_id).alias("run_id"),
        F.current_timestamp().alias("ts"),
    )


# Output formats the writer seam dispatches on. north_star: "writes
# per-url Markdown ... to the output table (Iceberg)" — iceberg/delta
# need their runtime jars + catalog on the cluster; when absent the
# writer degrades LOUDLY to parquet (warning, not silence), so local
# runs and the jar-less CI keep working while the cluster config is a
# flag, not a code change.
SUPPORTED_OUTPUT_FMTS = ("parquet", "orc", "iceberg", "delta")


def _missing_data_source(exc: Exception) -> bool:
    msg = str(exc)
    return (
        "DATA_SOURCE_NOT_FOUND" in msg
        or "Failed to find data source" in msg
        or "ClassNotFoundException" in msg
    )


class CheckpointedExtractJob:
    """Bucket-committed runner: resumable, lineage-emitting."""

    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        output_dir: str,
        *,
        fmt: str = "parquet",
        output_fmt: str | None = None,
        mode: str = "placeholder",
        n_buckets: int = 64,
        n_groups: int = 8,
        chunk_pages: int = DEFAULT_CHUNK_PAGES,
        langs: tuple[str, ...] = ("en",),
    ):
        self.spark = spark
        self.input_path = input_path
        self.output_dir = output_dir
        self.fmt = fmt
        if output_fmt is None:
            # --format iceberg means BOTH sides unless overridden; warc
            # input has no write path, so its outputs default to parquet
            output_fmt = fmt if fmt in SUPPORTED_OUTPUT_FMTS else "parquet"
        self.output_fmt = output_fmt
        self.mode = mode
        self.n_buckets = n_buckets
        self.n_groups = n_groups
        self.chunk_pages = chunk_pages
        self.langs = langs
        self.out_path = os.path.join(output_dir, "extracted")
        self.lineage_path = os.path.join(output_dir, "lineage")
        self.checkpoint_path = os.path.join(output_dir, "checkpoint")
        self.stage_metrics_path = os.path.join(output_dir, "stage_metrics")
        # job-group handle for cooperative cancellation (C3,
        # pdf-to-md.ts:175-178 cancelOperation): every Spark job this
        # runner submits is tagged with it, so cancel() can interrupt
        # mid-group from another thread
        self.job_group = f"p2l-extract-{uuid.uuid4().hex[:8]}"

    def cancel(self) -> None:
        """Cooperative cancellation (C3): interrupt the running commit
        group's jobs. Safe by construction — only COMMITTED groups are
        checkpointed, so a cancelled run resumes exactly where the last
        commit left off (the kill-and-resume contract, tested)."""
        self.spark.sparkContext.cancelJobGroup(self.job_group)

    # -- output format seam ---------------------------------------------------
    def _write(self, df: DataFrame, path: str) -> None:
        """Append via the configured output format (the north_star's
        Iceberg table is this one flag on a cluster with the jars); if
        the source is missing locally, warn once and degrade the whole
        job to parquet so every table of one run shares a format."""
        try:
            df.write.format(self.output_fmt).mode("append").save(path)
        except Exception as exc:
            if self.output_fmt == "parquet" or not _missing_data_source(exc):
                raise
            warnings.warn(
                f"output format {self.output_fmt!r} unavailable "
                f"({exc.__class__.__name__}); falling back to parquet",
                stacklevel=2,
            )
            self.output_fmt = "parquet"
            df.write.format("parquet").mode("append").save(path)

    def _read_table(self, path: str) -> DataFrame:
        return self.spark.read.format(self.output_fmt).load(path)

    # -- checkpoint table ---------------------------------------------------
    def completed_buckets(self) -> set[int]:
        try:
            rows = self._read_table(self.checkpoint_path).collect()
        except Exception:
            return set()
        return {r["bucket"] for r in rows if r["status"] == "done"}

    def _local_frame(self, rows: list[tuple], schema: T.StructType) -> DataFrame:
        """``rows`` as a frame that plans as a ``LocalTableScan``: built
        from a pyarrow table, where a list of tuples plans a Python-RDD
        scan (``Scan ExistingRDD``) and a Python job for every write."""
        columns = zip(*rows)
        return self.spark.createDataFrame(
            pa.table({name: list(col) for name, col in zip(schema.fieldNames(), columns)}),
            schema,
        )

    def _mark_done(self, buckets: list[int], run_id: str) -> None:
        rows = [(b, "done", run_id, None) for b in buckets]
        df = self._local_frame(rows, CHECKPOINT).withColumn(
            "ts", F.current_timestamp()
        )
        self._write(df, self.checkpoint_path)

    # -- stage metrics ---------------------------------------------------------
    def _write_stage_metrics(self, rows: list[tuple], run_id: str) -> None:
        if not rows:
            return
        self._write(
            self._local_frame(
                [r + (run_id,) for r in rows],
                T.StructType.fromDDL(STAGE_METRICS_SCHEMA),
            ).withColumn("ts", F.current_timestamp()),
            self.stage_metrics_path,
        )

    def _flush_stage_metrics(
        self, listener: _StageMetricsListener, run_id: str,
        quiet_ms: int = 200, timeout_s: float = 5.0,
    ) -> None:
        """Final drain: the listener bus delivers asynchronously, so wait
        for a short quiet window (no new completions for ``quiet_ms``)
        before the last write — bounded, never a hang."""
        deadline = time.monotonic() + timeout_s
        rows: list[tuple] = []
        time.sleep(quiet_ms / 1000.0)  # let in-flight completions land
        while True:
            got = listener.drain()
            rows.extend(got)
            if not got or time.monotonic() >= deadline:
                break
            time.sleep(quiet_ms / 1000.0)
        self._write_stage_metrics(rows, run_id)

    # -- run ------------------------------------------------------------------
    def run(self, max_groups: int | None = None) -> dict:
        """Process remaining bucket groups; ``max_groups`` limits how many
        commit groups this invocation handles (the kill-and-resume test
        uses it to simulate a mid-run abort)."""
        run_id = uuid.uuid4().hex[:12]
        t0 = time.monotonic()
        pages = read_pages(self.spark, self.input_path, self.fmt)
        if "bucket" not in pages.columns:
            # unbucketed input: compute the logical bucket on the fly —
            # each commit group then re-scans the table (fine locally /
            # for small backfills). Bucketed layouts (sources.pages
            # .with_bucket at write time) skip this: the group filter
            # hits the physical partition column and PRUNES the scan, so
            # the whole run reads the table exactly once in total.
            pages = with_bucket(pages, self.n_buckets)
        else:
            # NEVER trust a pre-existing bucket column blindly: a table
            # bucketed with a different n_buckets (or an unrelated column
            # of the same name) would make group filters silently select
            # the wrong rows while every bucket still checkpoints 'done'.
            # Sample-check that values match pmod(xxhash64(url), n) —
            # a layout mismatch is wrong everywhere, so a bounded sample
            # catches it; on mismatch fall back to recomputing (losing
            # partition pruning, keeping correctness).
            expected = F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
            bad = (
                pages.select("url", "bucket").limit(1024)
                .filter(
                    F.col("bucket").isNull()
                    | (F.col("bucket") != expected)
                )
                .limit(1)
                .count()
            )
            if bad:
                pages = with_bucket(pages.drop("bucket"), self.n_buckets)

        done = self.completed_buckets()
        groups: list[list[int]] = [
            [b for b in range(g, self.n_buckets, self.n_groups) if b not in done]
            for g in range(self.n_groups)
        ]
        groups = [g for g in groups if g]
        if max_groups is not None:
            groups = groups[:max_groups]

        processed = 0
        cancelled = False
        sc = self.spark.sparkContext
        # stage timing (C2): a listener registered for exactly this
        # run's lifetime — stages of other jobs on the session before or
        # after registration never enter it
        _ensure_callback_server(self.spark)
        listener = _StageMetricsListener()
        sc._jsc.sc().addSparkListener(listener)
        sc.setJobGroup(self.job_group, f"p2l extract run {run_id}",
                       interruptOnCancel=True)
        try:
            for group in groups:
                subset = pages.filter(F.col("bucket").isin(group))
                result = extract_documents(
                    subset, mode=self.mode, chunk_pages=self.chunk_pages,
                    langs=self.langs,
                ).withColumn(
                    # bucket is a pure function of url — recompute, don't join
                    "bucket",
                    F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int"),
                )
                result = result.cache()
                try:
                    self._write(result.select(*OUTPUT_COLUMNS), self.out_path)
                    self._write(_lineage_rows(result, run_id), self.lineage_path)
                finally:
                    result.unpersist()
                self._mark_done(group, run_id)
                processed += 1
                # append the listener's completed-stage rows so far; the
                # bus is async, so any events still in flight land in the
                # final drain below
                self._write_stage_metrics(listener.drain(), run_id)
        except Exception as exc:  # cooperative cancel surfaces here
            if "cancel" not in str(exc).lower():
                raise
            cancelled = True
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
            self._flush_stage_metrics(listener, run_id)
            sc._jsc.sc().removeSparkListener(listener)

        return {
            "run_id": run_id,
            "groups_processed": processed,
            "cancelled": cancelled,
            "wall_s": round(time.monotonic() - t0, 3),
        }
