"""Commit-path hygiene: delete files read with the table's key schema (no
schema-inference job per read), no staging residue after a failed staging
write, and a publish-branch heal that survives a crash between its two
steps."""

import os

import pytest
from pyspark.sql.readwriter import DataFrameWriter
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sanskrit_ocr_spark.datagen.pages import pages_df
from sanskrit_ocr_spark.extract.job import (
    extracted_table,
    lineage_table,
    run_extraction,
    sync_publish_branch,
)
from sanskrit_ocr_spark.tables.icelite import IceliteTable

SCHEMA = StructType([
    StructField("k", StringType(), False),
    StructField("v", LongType(), False),
])


def _df(spark, lo, hi, v):
    return spark.createDataFrame([(f"k{i}", v) for i in range(lo, hi)],
                                 SCHEMA)


@pytest.mark.parametrize("n_deletes", [1, 3])
def test_planning_reads_over_pending_deletes_runs_no_job(spark, tmp_path,
                                                         n_deletes,
                                                         count_jobs):
    t = IceliteTable(spark, str(tmp_path / "t"), SCHEMA)
    t.append(_df(spark, 0, 20, 0))
    for i in range(1, n_deletes + 1):
        t.merge_upsert_mor(_df(spark, 0, 5 * i, i), "k")
    df, jobs = count_jobs(spark, t.read)
    assert jobs == 0
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 20
    assert got["k0"] == n_deletes and got["k19"] == 0
    _, jobs = count_jobs(spark, lambda: t.read_changes(1))
    assert jobs == 0
    _, jobs = count_jobs(spark, lambda: t.read_changelog(1))
    assert jobs == 0


def test_failed_staging_write_leaves_no_residue(spark, tmp_path,
                                                monkeypatch):
    root = str(tmp_path / "root")
    orig = DataFrameWriter.parquet

    def failing(self, path, *a, **k):
        out = orig(self, path, *a, **k)
        if "_staging_extract" in path:
            raise RuntimeError("injected staging failure")
        return out

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(RuntimeError, match="injected"):
        run_extraction(spark, pages_df(spark, 40), root)
    assert os.listdir(os.path.join(root, "_staging_extract")) == []


class _Crash(Exception):
    pass


def test_heal_crash_between_steps_strands_no_lineage(spark, tmp_path,
                                                     monkeypatch):
    """Kill the publish-branch heal after its first durable step, whichever
    step that is; the next audited run must still leave exactly one
    lineage generation, none of it above the published snapshot."""
    root = str(tmp_path / "root")
    run_extraction(spark, pages_df(spark, 60), root,
                   audit_max_fail_rate=1.0, publish_branch="published")
    # an unaudited writer stages above the branch, lineage included
    run_extraction(spark, pages_df(spark, 100), root)

    steps = []

    def crash_second(orig):
        def step(self, *a, **k):
            steps.append(orig.__name__)
            if len(steps) == 2:
                raise _Crash
            return orig(self, *a, **k)
        return step

    with monkeypatch.context() as m:
        m.setattr(IceliteTable, "rollback_to",
                  crash_second(IceliteTable.rollback_to))
        m.setattr(IceliteTable, "delete_where",
                  crash_second(IceliteTable.delete_where))
        with pytest.raises(_Crash):
            sync_publish_branch(extracted_table(spark, root), "published",
                                lin=lineage_table(spark, root))
    assert len(steps) == 2

    run_extraction(spark, pages_df(spark, 100), root,
                   audit_max_fail_rate=1.0, publish_branch="published")
    published = extracted_table(spark, root).branches()["published"]
    rows = lineage_table(spark, root).read().select(
        "snapshot_id", "partition_hash", "fail_code").collect()
    assert max(r["snapshot_id"] for r in rows) <= published
    keys = [(r["snapshot_id"], r["partition_hash"], r["fail_code"])
            for r in rows]
    assert len(keys) == len(set(keys))
