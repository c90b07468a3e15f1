"""Merge-on-read upsert arm (r3 VERDICT #4): a re-crawl batch (same url,
newer warc_ts) replaces rows while touching only O(batch) data files;
compact() applies the equality deletes physically; expire_snapshots
preserves pending deletes across the seal and reclaims applied ones."""

import io
import contextlib
import json
import os
import re

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("text", StringType(), False),
])


def _batch(spark, lo, hi, text, day=1):
    rows = [(f"https://ex.org/{i}",
             f"2025-07-0{day} 00:00:00", f"{text}-{i}")
            for i in range(lo, hi)]
    return spark.createDataFrame(rows, "url string, warc_ts string,"
                                 " text string") \
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))


def _table(spark, tmp_path, name="mor"):
    from sanskrit_ocr_spark.tables.icelite import IceliteTable
    return IceliteTable(spark, str(tmp_path / name), SCHEMA)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_mor_upsert_replaces_rows_with_batch_sized_writes(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.merge_on_key(_batch(spark, 0, 100, "v1"), "url", order_col="warc_ts")

    recrawl = _batch(spark, 90, 115, "v2", day=2)
    sid, updated = t.merge_upsert_mor(recrawl, "url", order_col="warc_ts")
    assert sid == 2 and updated == 10

    out = t.read()
    assert out.count() == 115
    assert out.select("url").distinct().count() == 115
    # replaced urls carry the new text; untouched ones the old
    assert out.filter(F.col("url") == "https://ex.org/95") \
        .head()["text"] == "v2-95"
    assert out.filter(F.col("url") == "https://ex.org/5") \
        .head()["text"] == "v1-5"
    # manifest math rides the commit: no count jobs needed
    assert t.row_count() == 115

    # O(batch) write amplification: commit 2 staged only its own files —
    # the cumulative list grew by the new commit's files, nothing rewritten
    m2 = t._manifest(2)
    assert set(t.files_at(1)) < set(t.files_at(2))
    assert set(m2["new_files"]).isdisjoint(t.files_at(1))
    assert m2["deletes"][0]["key"] == "url"

    # time travel: the parent snapshot still shows the pre-recrawl rows
    old = t.read(snapshot_id=1)
    assert old.count() == 100
    assert old.filter(F.col("url") == "https://ex.org/95") \
        .head()["text"] == "v1-95"


def test_mor_same_commit_reinsert_survives_its_own_delete(spark, tmp_path):
    """The equality delete at commit s applies to commits < s only — the
    batch's own rows (committed AT s) must survive."""
    t = _table(spark, tmp_path)
    t.append(_batch(spark, 0, 10, "v1"))
    t.merge_upsert_mor(_batch(spark, 0, 10, "v2", day=2), "url")
    out = t.read()
    assert out.count() == 10
    assert {r["text"] for r in out.collect()} == {f"v2-{i}"
                                                  for i in range(10)}


def test_mor_then_merge_on_key_sees_current_keys(spark, tmp_path):
    """The insert-only resume path must anti-join against the MOR view:
    a url replaced via MOR is still 'present' and must not re-insert."""
    t = _table(spark, tmp_path)
    t.merge_on_key(_batch(spark, 0, 50, "v1"), "url", order_col="warc_ts")
    t.merge_upsert_mor(_batch(spark, 40, 60, "v2", day=2), "url")
    _, inserted = t.merge_on_key(_batch(spark, 0, 70, "v3", day=3), "url",
                                 order_col="warc_ts")
    assert inserted == 10  # only 60..70 are new
    assert t.read().select("url").distinct().count() == 70


def test_mor_compact_applies_deletes_and_restores_single_scan(spark,
                                                              tmp_path):
    t = _table(spark, tmp_path)
    t.merge_on_key(_batch(spark, 0, 100, "v1"), "url", order_col="warc_ts")
    t.merge_upsert_mor(_batch(spark, 0, 20, "v2", day=2), "url")

    # MOR read pays the anti-join; after compact the plan is one plain scan
    assert "Join LeftAnti" in _plan(t.read())
    t.compact(target_partitions=2)
    plan = _plan(t.read())
    assert "LeftAnti" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1

    out = t.read()
    assert out.count() == 100
    assert out.filter(F.col("url") == "https://ex.org/5") \
        .head()["text"] == "v2-5"

    # expiry reclaims the applied delete files
    del_dir = t._manifest(2)["deletes"][0]["dir"]
    assert os.path.isdir(del_dir)
    t.expire_snapshots(keep_last=1)
    assert not os.path.exists(del_dir)
    assert t.read().count() == 100


def test_mor_expire_seal_preserves_pending_deletes(spark, tmp_path):
    """Sealing the oldest retained manifest above an un-compacted MOR
    commit must carry the provenance groups + delete entries — otherwise
    replaced rows would resurrect after expiry."""
    t = _table(spark, tmp_path)
    t.merge_on_key(_batch(spark, 0, 100, "v1"), "url", order_col="warc_ts")
    t.merge_upsert_mor(_batch(spark, 0, 20, "v2", day=2), "url")
    t.append(_batch(spark, 100, 110, "v1"))
    t.append(_batch(spark, 110, 120, "v1"))

    t.expire_snapshots(keep_last=2)  # seals snapshot 3, expires 1 and 2
    sealed = t._manifest(3)
    assert sealed.get("full") and sealed.get("deletes")
    assert sealed.get("file_groups")

    t2 = _table(spark, tmp_path)  # fresh handle, no caches
    out = t2.read()
    assert out.count() == 120
    assert out.filter(F.col("url") == "https://ex.org/5") \
        .head()["text"] == "v2-5"
    assert out.filter(F.col("url") == "https://ex.org/50") \
        .head()["text"] == "v1-50"
    # the pending delete file survived expiry (a retained snapshot needs it)
    assert os.path.isdir(sealed["deletes"][0]["dir"])


def test_mor_partitioned_table(spark, tmp_path):
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    pschema = StructType(SCHEMA.fields + [
        StructField("bucket", LongType(), False)])
    t = IceliteTable(spark, str(tmp_path / "morp"), pschema,
                     partition_cols=["bucket"])

    def with_bucket(df):
        return df.withColumn(
            "bucket", F.pmod(F.xxhash64("url"), F.lit(4)).cast("long"))

    t.append(with_bucket(_batch(spark, 0, 80, "v1")))
    sid, updated = t.merge_upsert_mor(
        with_bucket(_batch(spark, 60, 90, "v2", day=2)), "url")
    assert updated == 20
    out = t.read()
    assert out.count() == 90
    assert out.filter(F.col("url") == "https://ex.org/70") \
        .head()["text"] == "v2-70"
    # partition values survive the per-group MOR read
    assert out.filter(F.col("bucket").isNull()).count() == 0


def test_mor_remove_orphans_keeps_delete_files(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(_batch(spark, 0, 30, "v1"))
    t.merge_upsert_mor(_batch(spark, 0, 10, "v2", day=2), "url")
    del_dir = t._manifest(2)["deletes"][0]["dir"]
    removed = t.remove_orphans()
    assert os.path.normpath(del_dir) not in removed
    assert os.path.isdir(del_dir)
    assert t.read().count() == 30


def test_concurrent_mor_upserts_from_threads(spark, tmp_path):
    """Two threads running merge_upsert_mor concurrently (overlapping the
    base, disjoint from each other): the CAS at the captured parent makes
    the loser retry, and the final view holds exactly one row per url
    with the right winning version."""
    import threading

    t = _table(spark, tmp_path, "mor_threads")
    t.merge_on_key(_batch(spark, 0, 100, "v1"), "url", order_col="warc_ts")

    inputs = [_batch(spark, 0, 30, "vA", day=2).cache(),
              _batch(spark, 50, 80, "vB", day=2).cache()]
    for df in inputs:
        df.count()
    barrier = threading.Barrier(2)
    results, errors = [None, None], [None, None]

    def worker(i):
        try:
            barrier.wait()
            results[i] = t.merge_upsert_mor(inputs[i], "url",
                                            order_col="warc_ts")
        except Exception as e:  # pragma: no cover - surfaced by assert
            errors[i] = e

    threads = [threading.Thread(target=worker, args=(i,)) for i in (0, 1)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for df in inputs:
        df.unpersist()

    assert errors == [None, None]
    assert sorted(r[1] for r in results) == [30, 30]  # each replaced 30
    out = t.read()
    assert out.count() == 100
    assert out.select("url").distinct().count() == 100
    texts = {r["url"]: r["text"] for r in out.collect()}
    assert texts["https://ex.org/10"] == "vA-10"
    assert texts["https://ex.org/60"] == "vB-60"
    assert texts["https://ex.org/40"] == "v1-40"


def test_mor_read_survives_metadata_only_commits(spark, tmp_path):
    """Schema-evolution commits carry no data files; the partitioned MOR
    read must skip those empty provenance groups instead of crashing."""
    from pyspark.sql import functions as F2
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    pschema = StructType(SCHEMA.fields + [
        StructField("bucket", LongType(), False)])
    t = IceliteTable(spark, str(tmp_path / "morschema"), pschema,
                     partition_cols=["bucket"])

    def with_bucket(df):
        return df.withColumn(
            "bucket", F2.pmod(F2.xxhash64("url"), F2.lit(4)).cast("long"))

    t.append(with_bucket(_batch(spark, 0, 40, "v1")))
    t.merge_upsert_mor(with_bucket(_batch(spark, 0, 10, "v2", day=2)), "url")
    t.add_columns([StructField("lang", StringType(), True)])

    out = t.read()
    assert out.count() == 40
    assert out.filter(F2.col("url") == "https://ex.org/3") \
        .head()["text"] == "v2-3"
    assert "lang" in out.columns


def _max_anti_depth(df) -> int:
    """Deepest chain of LEFT ANTI joins on any root-to-leaf path of the
    optimized plan — the number of anti-join hash tables a data row must
    be probed against. (Plain node COUNT is the wrong metric: Catalyst
    pushes the coalesced join through the per-commit data Union, so one
    logical join legitimately appears once per branch — in parallel, each
    row passing through exactly one.)"""
    nodes = json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())
    i = [0]

    def walk(depth):
        n = nodes[i[0]]
        i[0] += 1
        if n["class"].endswith("Join") \
                and "LeftAnti" in json.dumps(n.get("joinType", "")):
            depth += 1
        best = depth
        for _ in range(int(n["num-children"])):
            best = max(best, walk(depth))
        return best

    return walk(0)


def test_mor_read_tax_bounded_after_many_commits(spark, tmp_path):
    """r5 (VERDICT r4 #6): after 20 un-compacted MOR re-crawl commits a
    data row must cross at most ONE anti-join (the pending delete sets
    coalesce into a single union'd broadcast build), not one per pending
    commit (the r4 chain probed every row against all 20) — and values,
    history, and time-travel must be unchanged."""
    t = _table(spark, tmp_path)
    t.append(_batch(spark, 0, 40, "v0", day=1))
    for k in range(20):
        # overlapping windows so every commit both replaces and inserts
        t.merge_upsert_mor(_batch(spark, k, k + 5, f"v{k + 1}", day=2),
                           "url", order_col="warc_ts")
    cur = t.read()
    depth = _max_anti_depth(cur)
    assert depth == 1, f"expected one anti-join per row, depth {depth}"

    # correctness: every url exactly once, content = latest writer
    # (windows k..k+5 for k<20 only touch urls 0..23 of the 0..39 base)
    rows = {r["url"]: r["text"] for r in cur.collect()}
    assert len(rows) == 40
    for i in range(40):
        url = f"https://ex.org/{i}"
        owners = [k + 1 for k in range(20) if k <= i < k + 5]
        want = f"v{owners[-1]}-{i}" if owners else f"v0-{i}"
        assert rows[url] == want, (url, rows[url], want)

    # time-travel: snapshot after the 3rd upsert sees exactly that state
    sid3 = 4  # append=1, upserts 2..4
    old = {r["url"]: r["text"] for r in t.read(snapshot_id=sid3).collect()}
    assert len(old) == 40
    for i in range(40):
        owners = [k + 1 for k in range(3) if k <= i < k + 5]
        want = f"v{owners[-1]}-{i}" if owners else f"v0-{i}"
        assert old[f"https://ex.org/{i}"] == want

    # compact restores the single-scan path and preserves the values
    t.compact()
    assert "LeftAnti" not in _plan(t.read())
    assert {r["url"]: r["text"] for r in t.read().collect()} == rows


def test_reads_plan_one_scan_per_layout_at_50_mor_commits(spark, tmp_path):
    """Plan width does not grow with uncompacted commits: at 50
    merge-on-read commits ``read`` and ``read_changes`` plan ONE data
    scan plus ONE delete scan (one key column) and no Union — each row's
    commit id comes from its file path, not from one literal-tagged scan
    per commit. ``read_changelog`` plans one scan per side (inserts,
    delete pre-images, delete keys) and one Union, the insert/delete
    event union."""
    t = _table(spark, tmp_path, "wide")
    t.append(_batch(spark, 0, 60, "v0"))
    for k in range(50):
        t.merge_upsert_mor(_batch(spark, k, k + 3, f"v{k + 1}", day=2),
                           "url")

    def width(df):
        plan = _plan(df)
        return (len(re.findall(r"\(\d+\) Scan parquet", plan)),
                len(re.findall(r"\(\d+\) Union", plan)))

    cur = t.read()
    assert width(cur) == (2, 0)
    assert width(t.read_changes(1)) == (2, 0)
    assert width(t.read_changelog(0)) == (3, 1)
    rows = {r["url"]: r["text"] for r in cur.collect()}
    assert len(rows) == 60
    assert rows["https://ex.org/0"] == "v1-0"
    assert rows["https://ex.org/30"] == "v31-30"
    assert rows["https://ex.org/59"] == "v0-59"


def test_recrawl_summary_omits_unknown_inserted(spark, tmp_path):
    """r5 ADVICE (low): when manifest row totals are unavailable (table
    written by plain append, outside merge_on_key), the recrawl summary
    must OMIT the inserted count rather than emit a -1 sentinel."""
    from sanskrit_ocr_spark.datagen.pages import PAGES_SCHEMA, pages_pandas
    from sanskrit_ocr_spark.extract.job import (
        extracted_table,
        run_extraction,
    )
    from sanskrit_ocr_spark.extract.pipeline import extract_pages

    root = str(tmp_path / "noinstot")
    pages = spark.createDataFrame(pages_pandas(0, 30), schema=PAGES_SCHEMA)
    ext = extracted_table(spark, root)
    ext.append(extract_pages(pages))  # totals-free commit
    assert ext.row_count() is None

    res = run_extraction(spark, pages, root, recrawl=True)
    assert "inserted" not in res
    assert res["updated"] > 0
