"""Checkpoint/resume (C4) and lineage (C2) — north_rule requirements."""

from __future__ import annotations

import pytest

from paper2llm_spark.pdf.fixtures import golden_outputs
from paper2llm_spark.plans.extract import CheckpointedExtractJob


def test_kill_and_resume_no_reprocessing(spark, fixture_pages_path, tmp_path):
    out_dir = str(tmp_path / "job_out")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4
    )

    # "killed" run: completes only 2 of 4 commit groups
    r1 = job.run(max_groups=2)
    assert r1["groups_processed"] == 2
    done_after_kill = job.completed_buckets()
    assert 0 < len(done_after_kill) < 8

    partial = spark.read.parquet(job.out_path)
    n_partial = partial.count()
    assert n_partial > 0

    # resume: a fresh job object (new run id) picks up only the remainder
    job2 = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4
    )
    r2 = job2.run()
    assert r2["groups_processed"] == 2  # only the remaining groups
    assert job2.completed_buckets() == set(range(8))

    final = spark.read.parquet(job.out_path)
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == len(set(urls)), "resume must not duplicate any url"

    # third run: nothing left to do
    r3 = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4
    ).run()
    assert r3["groups_processed"] == 0
    assert spark.read.parquet(job.out_path).count() == len(urls)

    # final output matches goldens byte-for-byte despite the interruption
    goldens = golden_outputs()
    got = {r["url"]: r["markdown"] for r in final.collect()}
    for url, g in goldens.items():
        assert got[url] == g["markdown"], url


def test_lineage_rows_written(spark, fixture_pages_path, tmp_path):
    out_dir = str(tmp_path / "job_lineage")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=4, n_groups=2
    )
    job.run()
    lineage = spark.read.parquet(job.lineage_path)
    rows = lineage.collect()
    assert rows, "lineage table must not be empty"
    cols = set(lineage.columns)
    assert {"partition_id", "url_range", "doc_count", "bytes_in",
            "bytes_out", "wall_ms", "run_id", "ts"} <= cols
    total_docs = sum(r["doc_count"] for r in rows)
    n_out = spark.read.parquet(job.out_path).count()
    assert total_docs == n_out
    assert all(r["bytes_in"] > 0 for r in rows)
    assert any(r["bytes_out"] > 0 for r in rows)


def test_stage_metrics_rows_written(spark, fixture_pages_path, tmp_path):
    """C2 completion: per-stage wall times from the listener-bus status
    store land in the stage_metrics table, scoped to this run's stages."""
    out_dir = str(tmp_path / "job_stages")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=4, n_groups=2
    )
    res = job.run()
    metrics = spark.read.parquet(job.stage_metrics_path)
    rows = metrics.collect()
    assert rows, "stage_metrics table must not be empty"
    assert {"stage_id", "status", "name", "num_tasks", "executor_run_ms",
            "wall_ms", "run_id", "ts"} <= set(metrics.columns)
    assert all(r["run_id"] == res["run_id"] for r in rows)
    assert all(r["status"] == "COMPLETE" for r in rows)
    assert any(r["wall_ms"] is not None and r["wall_ms"] >= 0 for r in rows)
    # stages from the two commit groups; ids are unique per (stage, attempt)
    ids = [(r["stage_id"], r["attempt"]) for r in rows]
    assert len(ids) == len(set(ids))


def test_output_format_seam_dispatches_on_fmt(spark, fixture_pages_path, tmp_path):
    """north_star: "writes per-url Markdown ... to the output table
    (Iceberg)" — the writer must dispatch on the configured format, not
    hard-code parquet. ORC ships inside Spark, so it proves the seam
    end-to-end without Iceberg jars: all four tables (output, lineage,
    checkpoint, stage metrics) land as ORC, read back through the same
    seam, and resume sees the ORC checkpoint."""
    import glob
    import os

    out_dir = str(tmp_path / "job_orc")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, output_fmt="orc",
        n_buckets=4, n_groups=2,
    )
    job.run()
    assert job.output_fmt == "orc"
    for path in (job.out_path, job.lineage_path, job.checkpoint_path,
                 job.stage_metrics_path):
        # recursive: the output table's files sit under bucket=N/
        files = [f for f in glob.glob(f"{path}/**", recursive=True) if os.path.isfile(f)]
        assert any(f.endswith(".orc") for f in files), path
        assert not any(f.endswith(".parquet") for f in files), path
    n = spark.read.orc(job.out_path).count()
    assert n > 0
    # resume reads the ORC checkpoint: nothing left to do
    r2 = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, output_fmt="orc",
        n_buckets=4, n_groups=2,
    ).run()
    assert r2["groups_processed"] == 0
    assert spark.read.orc(job.out_path).count() == n


def test_output_format_falls_back_loudly_when_source_missing(
    spark, fixture_pages_path, tmp_path
):
    """--format iceberg on a jar-less environment must degrade to
    parquet with a warning — the job completes instead of dying, and
    the honest seam (format tried first) is what a cluster with the
    Iceberg runtime flips."""
    import warnings as _warnings

    out_dir = str(tmp_path / "job_iceberg")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, fmt="parquet",
        output_fmt="iceberg", n_buckets=4, n_groups=2,
    )
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        job.run()
    if job.output_fmt == "parquet":  # no Iceberg runtime in container
        assert any("iceberg" in str(w.message) for w in caught)
        assert spark.read.parquet(job.out_path).count() > 0
    else:  # a cluster with the jars: the table really is Iceberg
        assert spark.read.format("iceberg").load(job.out_path).count() > 0


def test_cooperative_cancel_then_resume(spark, fixture_pages_path, tmp_path):
    """C3: cancel(run) from another thread interrupts the current commit
    group; committed groups stay committed, and a resume completes the
    remainder with no duplicated urls (cancelOperation,
    pdf-to-md.ts:175-178 -> sc.cancelJobGroup)."""
    import threading
    import time as _time

    out_dir = str(tmp_path / "job_cancel")
    job = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4
    )

    def cancel_when_active():
        # wait until the runner has a Spark job in flight, then cancel
        for _ in range(600):
            if spark.sparkContext.statusTracker().getActiveJobsIds():
                break
            _time.sleep(0.01)
        job.cancel()

    t = threading.Thread(target=cancel_when_active)
    t.start()
    res = job.run()
    t.join()
    assert res["cancelled"] or res["groups_processed"] == 4
    done = job.completed_buckets()
    if res["cancelled"]:
        assert len(done) < 8  # the interrupted group was NOT checkpointed

    # resume finishes the remainder; output has no duplicate urls
    job2 = CheckpointedExtractJob(
        spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4
    )
    res2 = job2.run()
    assert not res2["cancelled"]
    assert job2.completed_buckets() == set(range(8))
    urls = [r["url"] for r in spark.read.parquet(job.out_path).select("url").collect()]
    assert len(urls) == len(set(urls))


@pytest.mark.parametrize(
    "exc", [Exception("Job cancelled"), RuntimeError("lineage table unreachable")],
    ids=["cancel", "crash"],
)
def test_interrupted_group_resumes_without_duplicates(
    spark, fixture_pages_path, tmp_path, monkeypatch, exc
):
    """An interruption between a commit group's output write and its
    checkpoint row — a cooperative cancel, which ``run()`` reports, or a
    crash, which it raises — leaves the group without a checkpoint row;
    a fresh job's resume redoes it in place instead of appending its
    rows again."""
    out_dir = str(tmp_path / "job_interrupted")
    job = CheckpointedExtractJob(spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4)
    write = job._write

    def failing_write(df, path):
        # the first group's lineage write: its output is already written
        if path == job.lineage_path:
            raise exc
        write(df, path)

    monkeypatch.setattr(job, "_write", failing_write)
    if isinstance(exc, RuntimeError):
        with pytest.raises(RuntimeError, match="lineage table unreachable"):
            job.run()
    else:
        res = job.run()
        assert res["cancelled"] and res["groups_processed"] == 0
    assert job.completed_buckets() == set()
    assert spark.read.parquet(job.out_path).count() > 0

    job2 = CheckpointedExtractJob(spark, fixture_pages_path, out_dir, n_buckets=8, n_groups=4)
    res2 = job2.run()
    assert res2["groups_processed"] == 4 and not res2["cancelled"]
    assert job2.completed_buckets() == set(range(8))
    final = spark.read.parquet(job.out_path)
    urls = [r["url"] for r in final.select("url").collect()]
    assert len(urls) == len(set(urls)), "resume must not duplicate any url"
    got = {r["url"]: r["markdown"] for r in final.collect()}
    for url, g in golden_outputs().items():
        assert got[url] == g["markdown"], url


def test_mismatched_bucket_column_is_recomputed_not_trusted(
    spark, fixture_pages_path, tmp_path
):
    """ADVICE r01: a pre-existing bucket column written with a DIFFERENT
    n_buckets must not be trusted — an 8-bucket layout run with
    n_buckets=2 would select only stored buckets 0..1 and silently DROP
    every row with bucket 2..7 while still checkpointing both groups
    'done'. The runner sample-checks values against
    pmod(xxhash64(url), n) and recomputes on mismatch."""
    from paper2llm_spark.sources.pages import with_bucket

    mism_path = str(tmp_path / "pages_mismatched")
    pages = spark.read.parquet(fixture_pages_path)
    # bucketed for n=8, but the job below runs with n_buckets=2
    with_bucket(pages, 8).write.partitionBy("bucket").parquet(mism_path)

    out_dir = str(tmp_path / "job_mismatch")
    job = CheckpointedExtractJob(
        spark, mism_path, out_dir, n_buckets=2, n_groups=2
    )
    job.run()
    assert job.completed_buckets() == set(range(2))
    final = spark.read.parquet(job.out_path)
    goldens = golden_outputs()
    got = {r["url"]: r["markdown"] for r in final.collect()}
    for url, g in goldens.items():
        assert got[url] == g["markdown"], url


def test_bucketed_input_layout_prunes_and_matches(spark, fixture_pages_path, tmp_path):
    """A pages table physically partitioned by the logical bucket column
    (sources.pages.with_bucket at write time) must (a) partition-prune the
    per-commit-group scan — at 100 TB that is one total scan instead of
    n_groups full scans — and (b) produce output identical to the
    unbucketed path."""
    from pyspark.sql import functions as F

    from paper2llm_spark.sources.pages import with_bucket

    n_buckets = 4
    bucketed_path = str(tmp_path / "pages_bucketed")
    pages = spark.read.parquet(fixture_pages_path)
    with_bucket(pages, n_buckets).write.partitionBy("bucket").parquet(bucketed_path)

    # (a) the group filter reaches the scan as a partition filter
    scan = spark.read.parquet(bucketed_path).filter(F.col("bucket").isin([0, 2]))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "bucket" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], plan

    # (b) end-to-end output matches the goldens byte-for-byte
    out_dir = str(tmp_path / "job_bucketed")
    job = CheckpointedExtractJob(
        spark, bucketed_path, out_dir, n_buckets=n_buckets, n_groups=2
    )
    job.run()
    assert job.completed_buckets() == set(range(n_buckets))
    final = spark.read.parquet(job.out_path)
    goldens = golden_outputs()
    got = {r["url"]: r["markdown"] for r in final.collect()}
    for url, g in goldens.items():
        assert got[url] == g["markdown"], url
