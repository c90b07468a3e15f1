"""Width of the extraction stage: decided from the bare input scan's
metadata (split count, parquet footer row counts) with no Spark job, so a
one-Arrow-batch top-up runs its UDF in one task with no shuffle while a
larger input that the scan packs into few splits is still spread."""

import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql.readwriter import DataFrameWriter

from sanskrit_ocr_spark.conf import ARROW_BATCH_ROWS
from sanskrit_ocr_spark.datagen.pages import pages_pandas
from sanskrit_ocr_spark.extract.job import run_extraction
from sanskrit_ocr_spark.extract.pipeline import extract_width


def _pages(start, n):
    """Datagen pages ``[start, start+n)`` with UTC timestamps."""
    pdf = pages_pandas(start, n)[["url", "warc_ts", "html"]]
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    return pdf


def _write(pdf, path):
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path,
                   coerce_timestamps="us")


def _one_file(path, start, n):
    """Datagen pages ``[start, start+n)`` as ONE parquet file (one split)."""
    os.makedirs(path)
    _write(_pages(start, n), os.path.join(path, "part-000.parquet"))
    return path


def _jobs(spark, group):
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _run_watching_stage_write(spark, monkeypatch, group, *args, **kw):
    """Run ``run_extraction`` under job group ``group``; return the number
    of jobs submitted before the staging write and the task count of the
    staging write's result stage (the stage that runs the UDF: nothing
    after ``mapInArrow`` shuffles)."""
    seen = {}
    orig = DataFrameWriter.parquet

    def watched(self, path, *a, **k):
        if "_staging_extract" not in path:
            return orig(self, path, *a, **k)
        seen["before"] = _jobs(spark, group)
        out = orig(self, path, *a, **k)
        last = max(set(_jobs(spark, group)) - set(seen["before"]))
        tracker = spark.sparkContext.statusTracker()
        result_stage = max(tracker.getJobInfo(last).stageIds)
        seen["tasks"] = tracker.getStageInfo(result_stage).numTasks
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", watched)
    spark.sparkContext.setJobGroup(group, group)
    try:
        res = run_extraction(spark, *args, **kw)
    finally:
        spark.sparkContext.setJobGroup(None, None)
    return res, len(seen["before"]), seen["tasks"]


def test_resume_topup_runs_one_task_with_no_probe_job(spark, tmp_path,
                                                      monkeypatch):
    root = str(tmp_path / "root")
    base = spark.read.parquet(_one_file(str(tmp_path / "base"), 0, 100))
    run_extraction(spark, base, root)
    # 64 rows: 12 already committed, 52 new — the resume anti-join path
    batch = spark.read.parquet(_one_file(str(tmp_path / "b"), 88, 64))
    res, jobs_before, tasks = _run_watching_stage_write(
        spark, monkeypatch, "width-topup", batch, root)
    assert res["inserted"] > 0
    assert jobs_before == 0
    assert tasks == 1


def test_single_file_over_one_batch_is_still_spread(spark, tmp_path,
                                                    monkeypatch):
    n = ARROW_BATCH_ROWS + 76
    pages = spark.read.parquet(_one_file(str(tmp_path / "p"), 0, n))
    assert pages.rdd.getNumPartitions() == 1
    res, _, tasks = _run_watching_stage_write(
        spark, monkeypatch, "width-big", pages, str(tmp_path / "root"))
    assert res["inserted"] > 0
    assert tasks == 2 * spark.sparkContext.defaultParallelism


def test_width_rule_cases(spark, tmp_path):
    par = spark.sparkContext.defaultParallelism
    small = spark.read.parquet(_one_file(str(tmp_path / "s"), 0, 40))
    assert extract_width(small) == 0
    # one split per core or more: the scan already has the parallelism
    assert extract_width(spark.range(0, 8, 1, par)) == 0
    # a non-parquet input with few splits keeps the default spread
    assert extract_width(spark.range(0, 8, 1, 1)) == 2 * par
    # a plan that already holds an exchange is never probed (under AQE
    # the probe would RUN it): default spread, and no job submitted
    group = "width-exchange"
    spark.sparkContext.setJobGroup(group, group)
    try:
        assert extract_width(small.repartition(3)) == 2 * par
    finally:
        spark.sparkContext.setJobGroup(None, None)
    assert _jobs(spark, group) == []
