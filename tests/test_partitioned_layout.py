"""North-rule physical layout: range-partition on time × bucket on url,
with partition pruning visible in the plan (SURVEY.md §4)."""

import io
import contextlib

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, DateType,
)

from sanskrit_ocr_spark.datagen.pages import PAGES_SCHEMA, pages_pandas
from sanskrit_ocr_spark.extract.pipeline import extract_pages
from sanskrit_ocr_spark.tables.icelite import IceliteTable

LAYOUT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("text", StringType(), False),
    StructField("n_graphemes", LongType(), False),
    StructField("status", StringType(), False),
    StructField("warc_day", DateType(), False),
    StructField("bucket", LongType(), False),
])


def _layout_df(spark, lo, hi):
    pages = spark.createDataFrame(pages_pandas(lo, hi - lo),
                                  schema=PAGES_SCHEMA)
    ext = extract_pages(pages)
    return ext.select(
        "url", "text", "n_graphemes", "status",
        F.to_date("warc_ts").alias("warc_day"),
        F.pmod(F.xxhash64("url"), F.lit(8)).cast("long").alias("bucket"),
    )


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_partitioned_commits_and_pruning(spark, tmp_path):
    t = IceliteTable(spark, str(tmp_path / "ptab"), LAYOUT_SCHEMA,
                     partition_cols=["warc_day", "bucket"])
    t.append(_layout_df(spark, 0, 300))
    t.append(_layout_df(spark, 300, 600))

    full = t.read()
    assert full.count() == 600

    # partition-column values survive the hive layout round-trip
    days = {str(r["warc_day"]) for r in
            full.select("warc_day").distinct().collect()}
    assert "2025-07-04" in days

    pruned = full.filter(F.col("warc_day") == "2025-07-04")
    plan = _plan(pruned)
    assert "PartitionFilters" in plan and "warc_day" in plan
    # day 0 holds the first 1440 doc_ids → all 600 test rows; day filter on
    # a later day prunes everything
    assert full.filter(F.col("warc_day") == "2030-01-01").count() == 0
    # bucket filter also prunes
    plan_b = _plan(full.filter(F.col("bucket") == 3))
    assert "PartitionFilters" in plan_b and "bucket" in plan_b


def test_partitioned_time_travel(spark, tmp_path):
    t = IceliteTable(spark, str(tmp_path / "ptt"), LAYOUT_SCHEMA,
                     partition_cols=["warc_day", "bucket"])
    t.append(_layout_df(spark, 0, 100))
    n1 = t.read().count()
    t.append(_layout_df(spark, 100, 200))
    assert t.read(snapshot_id=1).count() == n1
    assert t.read().count() == 200


def test_many_commits_single_scan_and_delta_manifests(spark, tmp_path):
    """Metadata growth bounds (r2 VERDICT #4): after many incremental
    commits the read plans as ONE parquet scan (no unionByName chain), and
    each manifest stores only its own delta, not the cumulative list."""
    import json
    import os

    t = IceliteTable(spark, str(tmp_path / "many"), LAYOUT_SCHEMA,
                     partition_cols=["warc_day", "bucket"])
    n_commits = 12
    for i in range(n_commits):
        t.append(_layout_df(spark, i * 25, (i + 1) * 25))

    full = t.read()
    assert full.count() == 25 * n_commits
    import re

    plan = _plan(full)
    # formatted plans print each node once in the tree and once in the
    # detail section — count detail headers: exactly ONE scan, no union
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Union" not in plan
    # pruning still bites through the shared-basePath layout
    plan_p = _plan(full.filter(F.col("bucket") == 3))
    assert "PartitionFilters" in plan_p and "bucket" in plan_p

    # delta manifests: every commit's manifest lists exactly its own files
    for sid in range(1, n_commits + 1):
        with open(os.path.join(t.root, "_icelite", "commits",
                               f"{sid}.json")) as f:
            m = json.load(f)
        assert len(m["new_files"]) == 1  # one commit dir per append
    # resolution is cumulative
    assert len(t.files_at(n_commits)) == n_commits
    # time travel unaffected
    assert t.read(snapshot_id=3).count() == 75


def test_icelite_reads_push_filters_to_parquet(spark, tmp_path):
    """Predicate pushdown survives every icelite read path: data-column
    filters reach the parquet scan (PushedFilters) on unpartitioned,
    partitioned AND merge-on-read layouts — the row-group-skipping
    contract a 100 TB scan lives on."""
    import re

    from pyspark.sql.types import StringType, StructField, StructType
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    def pushed(df):
        plan = _plan(df)
        m = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        return [x for x in m if x.strip()]

    # unpartitioned
    t = IceliteTable(spark, str(tmp_path / "push_u"),
                     StructType([StructField("url", StringType(), False),
                                 StructField("text", StringType(), False)]))
    t.append(spark.createDataFrame(
        [(f"u{i}", f"t{i}") for i in range(50)], "url string, text string"))
    assert pushed(t.read().filter(F.col("url") == "u7"))

    # partitioned (shared-basePath layout): data filter pushed AND
    # partition filter pruning
    tp = IceliteTable(spark, str(tmp_path / "push_p"), LAYOUT_SCHEMA,
                      partition_cols=["warc_day", "bucket"])
    tp.append(_layout_df(spark, 0, 100))
    q = tp.read().filter((F.col("bucket") == 3)
                         & (F.col("n_graphemes") > 10))
    plan = _plan(q)
    assert "PartitionFilters" in plan and "bucket" in plan
    assert pushed(q)

    # merge-on-read: the anti-join must not swallow the scan filter
    t.merge_upsert_mor(spark.createDataFrame(
        [("u7", "t7-v2")], "url string, text string"), "url")
    q2 = t.read().filter(F.col("url") == "u7")
    assert pushed(q2)
    assert [r["text"] for r in q2.collect()] == ["t7-v2"]


def test_stored_partition_cols_detects_every_layout(spark, tmp_path):
    """The --maintain layout guard reads the persisted partition spec; a
    table without one is unpartitioned once it holds data, and
    indeterminate while empty."""
    # modern partitioned table: spec file written at creation
    t = IceliteTable(spark, str(tmp_path / "modern"), LAYOUT_SCHEMA,
                     partition_cols=["warc_day", "bucket"])
    t.append(_layout_df(spark, 0, 50))
    assert IceliteTable.stored_partition_cols(t.root) == \
        ["warc_day", "bucket"]

    # unpartitioned table: empty list (determinate, NOT None)
    u = IceliteTable(spark, str(tmp_path / "flat"), LAYOUT_SCHEMA)
    u.append(_layout_df(spark, 0, 10))
    assert IceliteTable.stored_partition_cols(u.root) == []

    # empty table, no spec: indeterminate
    e = IceliteTable(spark, str(tmp_path / "empty"), LAYOUT_SCHEMA)
    assert IceliteTable.stored_partition_cols(e.root) is None
