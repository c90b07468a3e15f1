"""r5: Iceberg-style incremental reads (`IceliteTable.read_changes`) and
the incremental curation pipeline built on them (`curate_table` /
CLI `--curate-table`) — O(new data) per run on a growing crawl table."""

import json
import os

import pytest
from pyspark.sql import functions as F

from sanskrit_ocr_spark.datagen.pages import PAGES_SCHEMA, pages_pandas
from sanskrit_ocr_spark.extract.curate import curate, curate_table
from sanskrit_ocr_spark.extract.job import extracted_table, run_extraction
from sanskrit_ocr_spark.tables.icelite import IceliteTable


def _pages(spark, lo, hi):
    return spark.createDataFrame(pages_pandas(lo, hi - lo),
                                 schema=PAGES_SCHEMA)


# --- read_changes ------------------------------------------------------------

def test_read_changes_returns_exactly_the_delta(spark, tmp_path):
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    schema = StructType([StructField("k", LongType(), False),
                         StructField("v", StringType(), False)])
    t = IceliteTable(spark, str(tmp_path / "chg"), schema)

    def batch(lo, hi, tag):
        return spark.createDataFrame(
            [(i, f"{tag}-{i}") for i in range(lo, hi)], schema)

    t.append(batch(0, 10, "a"))    # sid 1
    t.append(batch(10, 25, "b"))   # sid 2
    t.append(batch(25, 30, "c"))   # sid 3

    got = {r["k"] for r in t.read_changes(1, 3).collect()}
    assert got == set(range(10, 30))
    assert {r["k"] for r in t.read_changes(2).collect()} == set(range(25, 30))
    assert t.read_changes(3, 3).count() == 0
    # full table = changes since 0
    assert t.read_changes(0).count() == t.read().count() == 30


def test_read_changes_rejects_bad_ranges_and_sealed_history(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("k", LongType(), False)])
    t = IceliteTable(spark, str(tmp_path / "chg2"), schema)
    for lo in (0, 10, 20):
        t.append(spark.createDataFrame([(i,) for i in range(lo, lo + 10)],
                                       schema))
    with pytest.raises(ValueError):
        t.read_changes(5, 2)
    t.compact(target_partitions=1)      # sid 4: full manifest
    t.append(spark.createDataFrame([(99,)], schema))  # sid 5
    # range entirely above the compaction: fine
    assert {r["k"] for r in t.read_changes(4).collect()} == {99}
    # range crossing the compaction: provenance gone → explicit error
    with pytest.raises(ValueError):
        t.read_changes(2, 5)


# --- curate_table ------------------------------------------------------------

def test_incremental_curation_matches_full_recompute(spark, tmp_path):
    root = str(tmp_path / "root")
    corpus_root = str(tmp_path / "corpus")
    run_extraction(spark, _pages(spark, 0, 200), root)
    ext = extracted_table(spark, root)

    r1 = curate_table(spark, corpus_root, ext)
    assert r1["inserted"] > 0 and r1["watermark"] == 1

    run_extraction(spark, _pages(spark, 0, 500), root)  # delta: 200..500
    r2 = curate_table(spark, corpus_root, ext)
    assert r2["watermark"] == 2 and r2["inserted"] > 0

    # identical to curating the whole table at once (datagen's duplicate
    # text groups never straddle the 100-row block boundary, so
    # committed-wins == global (warc_ts, url) first-wins here)
    corpus = IceliteTable(
        spark, corpus_root,
        extracted_table(spark, root).schema)  # schema arg unused for read
    got = {(r["url"], r["text"]) for r in corpus.read()
           .select("url", "text").collect()}
    want = {(r["url"], r["text"]) for r in
            curate(ext.read()).select("url", "text").collect()}
    assert got == want
    assert r2["corpus_total"] == len(want)

    # no new extraction commits → no-op, no new corpus snapshot
    before_sid = corpus.snapshot_id()
    r3 = curate_table(spark, corpus_root, ext)
    assert r3["inserted"] == 0
    assert corpus.snapshot_id() == before_sid


def test_incremental_curation_committed_wins_across_batches(spark, tmp_path):
    """A text re-crawled in a later batch under a new url must NOT
    replace the committed corpus row (stream-order first-wins across
    batches), and must not be double-inserted."""
    import pandas as pd

    root = str(tmp_path / "root2")
    corpus_root = str(tmp_path / "corpus2")
    base = pages_pandas(0, 100)
    run_extraction(spark, spark.createDataFrame(base, schema=PAGES_SCHEMA),
                   root)
    ext = extracted_table(spark, root)
    r1 = curate_table(spark, corpus_root, ext)

    # batch 2 = fresh pages 100..150 PLUS exact re-serves of pages 0..50
    # under mirror urls (same html bytes → byte-identical extracted text)
    mirror = pages_pandas(0, 50).copy()
    mirror["url"] = mirror["url"].str.replace(
        "https://", "https://mirror.", regex=False)
    batch2 = pd.concat([pages_pandas(100, 50), mirror], ignore_index=True)
    run_extraction(spark, spark.createDataFrame(batch2,
                                                schema=PAGES_SCHEMA), root)
    r2 = curate_table(spark, corpus_root, ext)

    corpus = IceliteTable(spark, corpus_root, ext.schema)
    rows = corpus.read().select("url", "text").collect()
    # every text exactly once
    texts = [r["text"] for r in rows]
    assert len(texts) == len(set(texts))
    # no mirror url ever won a committed text
    mirror_texts = {r["text"] for r in rows
                    if r["url"].startswith("https://mirror.")}
    assert not mirror_texts & {
        r["text"] for r in rows if not r["url"].startswith("https://mirror.")}
    # batch-2 inserts are only the genuinely new texts
    assert 0 < r2["inserted"] < r1["inserted"] + 60


def test_curation_watermark_survives_extracted_compaction(spark, tmp_path):
    """After the extracted table is compacted across the watermark, the
    incremental scan is impossible — curate_table must fall back to a
    full read and stay correct (MERGE keeps it idempotent)."""
    root = str(tmp_path / "root3")
    corpus_root = str(tmp_path / "corpus3")
    run_extraction(spark, _pages(spark, 0, 200), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)

    run_extraction(spark, _pages(spark, 0, 300), root)
    ext.compact(target_partitions=2)   # provenance below HEAD collapsed
    ext.expire_snapshots(keep_last=1)
    r = curate_table(spark, corpus_root, ext)

    corpus = IceliteTable(spark, corpus_root, ext.schema)
    want = curate(ext.read()).count()
    assert corpus.read().count() == want
    assert r["corpus_total"] == want


def test_incremental_curation_empty_delta_no_snapshot_churn(spark, tmp_path):
    """A delta that curates to nothing (e.g. only a no-insert resume
    commit since the watermark) must not commit an empty corpus
    snapshot; the watermark stays put and the next real delta re-covers
    the gap."""
    root = str(tmp_path / "root4")
    corpus_root = str(tmp_path / "corpus4")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    r1 = curate_table(spark, corpus_root, ext)

    run_extraction(spark, _pages(spark, 0, 100), root)  # 0-insert resume
    corpus = IceliteTable(spark, corpus_root, ext.schema)
    before = corpus.snapshot_id()
    r2 = curate_table(spark, corpus_root, ext)
    assert r2["inserted"] == 0
    assert r2["watermark"] == r1["watermark"]  # did not advance
    assert corpus.snapshot_id() == before      # no churn

    run_extraction(spark, _pages(spark, 100, 200), root)  # real delta
    r3 = curate_table(spark, corpus_root, ext)
    assert r3["inserted"] > 0
    got = corpus.read().count()
    assert got == curate(ext.read()).count()


def test_curate_table_survives_corpus_maintenance(spark, tmp_path):
    """r5 review: corpus-table compact+expire must not crash the
    watermark walk (expired parents), must preserve the watermark
    through the seal, and the declared corpus schema must read the stat
    columns (n_graphemes is INT64)."""
    root = str(tmp_path / "root5")
    corpus_root = str(tmp_path / "corpus5")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)
    run_extraction(spark, _pages(spark, 100, 200), root)
    curate_table(spark, corpus_root, ext)

    from sanskrit_ocr_spark.extract.curate import _corpus_schema
    corpus = IceliteTable(spark, corpus_root, _corpus_schema())
    corpus.compact(target_partitions=1)
    corpus.expire_snapshots(keep_last=1)

    # declared-schema read of the stat columns (INT64 vs INT clash)
    stats = corpus.read().select("n_graphemes", "n_sentences").collect()
    assert all(r["n_graphemes"] >= 20 for r in stats)

    # watermark survived the seal → a no-new-data run is a no-op…
    before = corpus.snapshot_id()
    r = curate_table(spark, corpus_root, ext)
    assert r["inserted"] == 0 and corpus.snapshot_id() == before
    assert r["watermark"] == ext.snapshot_id()

    # …and a real new batch still curates incrementally afterwards
    run_extraction(spark, _pages(spark, 200, 300), root)
    r2 = curate_table(spark, corpus_root, ext)
    assert r2["inserted"] > 0
    assert corpus.read().count() == curate(ext.read()).count()


def _recrawl_pages(orig_lo, orig_hi, src_lo):
    """Pages re-serving urls ``[orig_lo, orig_hi)`` with DIFFERENT
    content (borrowed from rows ``src_lo..``) and a later warc_ts —
    the re-crawl shape. Both ranges map to plain-HTML kinds so every
    page extracts OK."""
    import pandas as pd

    n = orig_hi - orig_lo
    new = pages_pandas(src_lo, n).reset_index(drop=True)
    orig = pages_pandas(orig_lo, n).reset_index(drop=True)
    new["url"] = orig["url"]
    new["warc_ts"] = orig["warc_ts"] + pd.Timedelta(days=365)
    return new


def test_recrawl_retraction_mirrors_latest_crawl(spark, tmp_path):
    """r6 (r5 VERDICT #2): recrawl + incremental curation — a replaced
    url's OLD text must leave the corpus (retraction via an equality-
    delete commit) and the NEW text must enter: the corpus mirrors the
    latest crawl state, never a both-versions content log."""
    root = str(tmp_path / "rroot")
    corpus_root = str(tmp_path / "rcorpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    r1 = curate_table(spark, corpus_root, ext)
    assert r1["retracted"] == 0 and r1["inserted"] > 0

    old5 = {r["text"] for r in ext.read()
            .filter(F.col("url").endswith("/000005")).collect()}

    # re-crawl urls 1..31 with genuinely different content, newer ts
    # (urls 1..31 avoid the block's dup-text group, which replays row 0)
    recrawl = _recrawl_pages(1, 31, 301)
    run_extraction(spark,
                   spark.createDataFrame(recrawl, schema=PAGES_SCHEMA),
                   root, recrawl=True)
    r2 = curate_table(spark, corpus_root, ext)
    assert r2["retracted"] > 0 and r2["inserted"] > 0

    # the contract: corpus text set == curating the CURRENT table state
    from sanskrit_ocr_spark.extract.curate import _corpus_schema
    corpus = IceliteTable(spark, corpus_root, _corpus_schema())
    got = {r["text"] for r in corpus.read().select("text").collect()}
    want = {r["text"] for r in curate(ext.read())
            .select("text").collect()}
    assert got == want
    # the replaced url's old text is gone, its new text present
    if old5:
        assert not (old5 & got)
    assert r2["corpus_total"] == len(want)

    # no new commits → no-op (watermark advanced with the retraction)
    before = corpus.snapshot_id()
    r3 = curate_table(spark, corpus_root, ext)
    assert r3["inserted"] == 0 and r3["retracted"] == 0
    assert corpus.snapshot_id() == before

    # retract=False pins the r5 content-log semantics: another recrawl
    # leaves the superseded text in place and only appends
    recrawl2 = _recrawl_pages(1, 11, 401)
    run_extraction(spark,
                   spark.createDataFrame(recrawl2, schema=PAGES_SCHEMA),
                   root, recrawl=True)
    r4 = curate_table(spark, corpus_root, ext, retract=False)
    assert r4["retracted"] == 0 and r4["inserted"] > 0
    logged = {r["text"] for r in corpus.read().select("text").collect()}
    assert want - logged == set()  # nothing removed, only added


def test_recrawl_retraction_full_fallback_after_compaction(
        spark, tmp_path):
    """Compaction across the watermark destroys the per-commit delete
    provenance — retraction must fall back to the full repair (corpus
    pairs no longer present in the current table state) and converge to
    the same latest-crawl contract."""
    root = str(tmp_path / "froot")
    corpus_root = str(tmp_path / "fcorpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)

    recrawl = _recrawl_pages(1, 31, 301)
    run_extraction(spark,
                   spark.createDataFrame(recrawl, schema=PAGES_SCHEMA),
                   root, recrawl=True)
    ext.compact(target_partitions=2)
    ext.expire_snapshots(keep_last=1)

    r = curate_table(spark, corpus_root, ext)
    assert r["retracted"] > 0
    from sanskrit_ocr_spark.extract.curate import _corpus_schema
    corpus = IceliteTable(spark, corpus_root, _corpus_schema())
    got = {r["text"] for r in corpus.read().select("text").collect()}
    want = {r["text"] for r in curate(ext.read())
            .select("text").collect()}
    assert got == want


def test_read_changes_is_net_of_in_range_deletes(spark, tmp_path):
    """r6: read_changes applies in-range equality deletes to in-range
    rows (Iceberg CDC net-changes) — a key upserted twice in one window
    contributes only its latest version; apply_deletes=False restores
    the raw once-per-commit view."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType, TimestampType,
    )

    schema = StructType([StructField("url", StringType(), False),
                         StructField("warc_ts", TimestampType(), False),
                         StructField("text", StringType(), False)])
    t = IceliteTable(spark, str(tmp_path / "net"), schema)

    def batch(lo, hi, tag, day):
        return spark.createDataFrame(
            [(f"u{i}", f"2025-07-0{day} 00:00:00", f"{tag}-{i}")
             for i in range(lo, hi)],
            "url string, warc_ts string, text string") \
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))

    t.merge_on_key(batch(0, 10, "v1", 1), "url", order_col="warc_ts")
    t.merge_upsert_mor(batch(0, 5, "v2", 2), "url", order_col="warc_ts")
    t.merge_upsert_mor(batch(0, 3, "v3", 3), "url", order_col="warc_ts")

    # range covering all three commits: one row per url, the latest
    net = t.read_changes(0, 3)
    assert net.count() == 10
    got = {r["url"]: r["text"] for r in net.collect()}
    assert got["u0"] == "v3-0" and got["u3"] == "v2-3" \
        and got["u7"] == "v1-7"
    # pre-range rows are NOT retracted by the additions view: a range
    # starting after the v1 insert sees only the in-range versions
    assert {r["text"] for r in t.read_changes(1, 3).collect()} \
        == {f"v3-{i}" for i in range(3)} | {f"v2-{i}" for i in range(3, 5)}
    # raw insert-only view: every version once per commit
    assert t.read_changes(0, 3, apply_deletes=False).count() == 18
    # deletes_in_range surfaces the replaced keys
    dels = t.deletes_in_range(0, 3)
    assert [d["sid"] for d in dels] == [3, 2]
    assert all(d["key"] == "url" for d in dels)
    assert t.deletes_in_range(2, 3)[0]["sid"] == 3


def test_mark_first_null_keys_and_ties(spark):
    """r5 review: NULL keys must form their own group (not be dropped by
    the join), and exact order ties flag every tied row (documented)."""
    from sanskrit_ocr_spark.ops.util import mark_first

    rows = [(0, 1, "a"), (1, 2, "a"), (2, 1, None), (3, 3, None),
            (4, 2, "b"), (5, 2, "b")]  # ids 4,5 tie on ts within "b"
    df = spark.createDataFrame(rows, "doc_id long, ts long, text string")
    out = {r["doc_id"]: r["kept"]
           for r in mark_first(df, "text", ["ts"]).collect()}
    assert len(out) == 6, "null-key rows must not be dropped"
    assert out[0] and not out[1]          # "a": first by ts wins
    assert out[2] and not out[3]          # NULL group deduped too
    assert out[4] and out[5]              # documented tie behavior


def test_incremental_curation_over_partitioned_table(spark, tmp_path):
    """read_changes' partitioned branch (__commit= basePath scan) feeds
    curate_table identically to the unpartitioned path."""
    root = str(tmp_path / "root6")
    corpus_root = str(tmp_path / "corpus6")
    run_extraction(spark, _pages(spark, 0, 150), root, partitioned=True)
    ext = extracted_table(spark, root, partitioned=True)
    r1 = curate_table(spark, corpus_root, ext)
    run_extraction(spark, _pages(spark, 150, 300), root, partitioned=True)
    r2 = curate_table(spark, corpus_root, ext)
    assert r1["inserted"] > 0 and r2["inserted"] > 0

    corpus = IceliteTable(spark, corpus_root, ext.schema)
    got = {r["text"] for r in corpus.read().select("text").collect()}
    want = {r["text"] for r in curate(ext.read())
            .select("text").collect()}
    assert got == want


def test_curate_table_bucket_hashes_prunes_corpus_merge(
        spark, tmp_path, monkeypatch):
    """``bucket_hashes=N`` (CLI ``--bucket-hashes``) lays the corpus out
    under bucket(N, text_md5), so each incremental run's committed-side
    MERGE scan is pruned to the delta's hash buckets — and the curated
    result is identical to the unbucketed full recompute."""
    root = str(tmp_path / "root7")
    corpus_root = str(tmp_path / "corpus7")
    run_extraction(spark, _pages(spark, 0, 200), root)
    ext = extracted_table(spark, root)

    r1 = curate_table(spark, corpus_root, ext, bucket_hashes=8)
    assert r1["inserted"] > 0

    # second delta: spy the committed-side read for bucket pruning
    run_extraction(spark, _pages(spark, 200, 300), root)
    seen_buckets, scanned = [], []
    orig_read = IceliteTable.read

    def spy(self, snapshot_id=None, prune=None, buckets=None):
        df = orig_read(self, snapshot_id, prune, buckets)
        if buckets is not None and self.root == corpus_root:
            seen_buckets.append(sorted(buckets))
            scanned.extend(df.inputFiles())
        return df

    monkeypatch.setattr(IceliteTable, "read", spy)
    # reopened WITHOUT bucket_hashes: the persisted spec is loaded
    r2 = curate_table(spark, corpus_root, ext)
    monkeypatch.undo()
    assert r2["inserted"] > 0
    assert len(seen_buckets) == 1 and 0 < len(seen_buckets[0]) <= 8
    allowed = {f"__bucket={b}/" for b in seen_buckets[0]}
    assert scanned and all(any(a in f for a in allowed) for f in scanned)

    corpus = IceliteTable(spark, corpus_root, ext.schema)
    assert corpus.bucket == ("text_md5", 8)
    got = {(r["url"], r["text"]) for r in corpus.read()
           .select("url", "text").collect()}
    want = {(r["url"], r["text"]) for r in curate(ext.read())
            .select("url", "text").collect()}
    assert got == want


# --- one row-delta commit per curation ---------------------------------------
# Spark jobs per curate_table call (local[4], 8 shuffle partitions).
# With a separate retraction commit and emptiness probes these were 4
# (first), 21 (retracting: stale probe, delete_keys' distinct, persist,
# count and key write, gate probe, merge) and 6 (plain incremental).
FIRST_BUDGET = 3
RETRACT_BUDGET = 10
INCREMENTAL_BUDGET = 5


def _recrawled(spark, tmp_path, name):
    """A 100-row extracted table, curated once, then re-crawled on urls
    1..31 with new content: the next curation retracts."""
    root = str(tmp_path / f"{name}-root")
    corpus_root = str(tmp_path / f"{name}-corpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)
    run_extraction(spark, spark.createDataFrame(
        _recrawl_pages(1, 31, 301), schema=PAGES_SCHEMA), root,
        recrawl=True)
    return root, corpus_root, ext


def _corpus(spark, corpus_root):
    from sanskrit_ocr_spark.extract.curate import _corpus_schema
    return IceliteTable(spark, corpus_root, _corpus_schema())


def _texts(df):
    return {r["text"] for r in df.select("text").collect()}


def _unnamed_dirs(corpus_root):
    """``commit-*``/``delete-*`` directories under ``data/`` that no
    manifest names."""
    data = os.path.join(corpus_root, "data")
    named = set()
    commits = os.path.join(corpus_root, "_icelite", "commits")
    for fn in os.listdir(commits):
        with open(os.path.join(commits, fn)) as f:
            m = json.load(f)
        paths = list(m.get("new_files", []))
        paths += [d["dir"] for d in m.get("deletes", [])]
        for g in m.get("file_groups", []):
            paths += g[1]
        for p in paths:
            named.add(os.path.relpath(p, data).split(os.sep)[0])
    return sorted(n for n in os.listdir(data)
                  if n.startswith(("commit-", "delete-", "__commit="))
                  and n not in named)


def test_curation_job_budgets(spark, tmp_path, count_jobs):
    """Job budgets: a first curation, a retracting curation, a no-op
    curation (watermark at head) and a plain incremental one run exactly
    their pinned job counts — the no-op none at all."""
    root = str(tmp_path / "jobs-root")
    corpus_root = str(tmp_path / "jobs-corpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)

    def curation():
        return count_jobs(spark,
                          lambda: curate_table(spark, corpus_root, ext))

    r, jobs = curation()
    assert r["inserted"] > 0
    assert jobs == FIRST_BUDGET

    run_extraction(spark, spark.createDataFrame(
        _recrawl_pages(1, 31, 301), schema=PAGES_SCHEMA), root,
        recrawl=True)
    r, jobs = curation()
    assert r["retracted"] > 0 and r["inserted"] > 0
    assert jobs == RETRACT_BUDGET

    r, jobs = curation()
    assert r["inserted"] == 0 and r["retracted"] == 0
    assert jobs == 0

    run_extraction(spark, _pages(spark, 100, 200), root)
    r, jobs = curation()
    assert r["inserted"] > 0 and r["retracted"] == 0
    assert jobs == INCREMENTAL_BUDGET


def test_retracting_curation_commits_one_snapshot(spark, tmp_path):
    """A retracting curation adds exactly one corpus snapshot, and that
    snapshot records both counts and the extraction watermark."""
    _, corpus_root, ext = _recrawled(spark, tmp_path, "one")
    corpus = _corpus(spark, corpus_root)
    before = corpus.snapshot_id()
    r = curate_table(spark, corpus_root, ext)
    assert r["retracted"] > 0 and r["inserted"] > 0
    assert corpus.snapshot_id() == before + 1 == r["corpus_snapshot"]
    head = corpus.history()[0]
    assert head["inserted"] == r["inserted"]
    assert head["deleted"] == r["retracted"]
    assert head["extracted_watermark"] == ext.snapshot_id()
    assert r["corpus_total"] == corpus.read().count()
    assert _texts(corpus.read()) == _texts(curate(ext.read()))


def test_same_commit_reinsert_survives(spark, tmp_path):
    """One delta recrawls url A away from text T while a new url B
    carries T: the row delta deletes A's T and inserts B's T in the same
    commit, and T survives (a delete at s removes only rows committed
    before s), attributed to B."""
    import pandas as pd

    root = str(tmp_path / "reins-root")
    corpus_root = str(tmp_path / "reins-corpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)
    corpus = _corpus(spark, corpus_root)
    a_url = pages_pandas(5, 1)["url"].iloc[0]
    t_text = (corpus.read().filter(F.col("url") == a_url)
              .collect()[0]["text"])

    b = pages_pandas(5, 1).reset_index(drop=True)
    b["url"] = "https://moved.example/000005"
    b["warc_ts"] = b["warc_ts"] + pd.Timedelta(days=365)
    delta = pd.concat([_recrawl_pages(5, 6, 305), b], ignore_index=True)
    run_extraction(spark, spark.createDataFrame(delta, schema=PAGES_SCHEMA),
                   root, recrawl=True)
    before = corpus.snapshot_id()
    r = curate_table(spark, corpus_root, ext)
    assert r["retracted"] == 1
    assert corpus.snapshot_id() == before + 1

    rows = corpus.read().filter(F.col("text") == t_text).collect()
    assert [row["url"] for row in rows] == ["https://moved.example/000005"]
    assert r["corpus_total"] == corpus.read().count()
    assert _texts(corpus.read()) == _texts(curate(ext.read()))


def test_concurrent_writer_rederives_retraction(spark, tmp_path,
                                                 monkeypatch):
    """Another handle commits to the corpus between the derivation of
    the stale keys and the row delta's manifest create — here it
    retracts one of those keys itself. The lost compare-and-swap retries
    against the new parent, re-derives the keys, and every count stays
    exact."""
    import pyarrow.parquet as pq

    _, corpus_root, ext = _recrawled(spark, tmp_path, "cas")
    other = _corpus(spark, corpus_root)
    orig = IceliteTable._commit_manifest
    seen = {}

    def interloped(self, sid, manifest):
        if self.root == corpus_root and manifest.get("deletes") \
                and not seen:
            staged = manifest["deletes"][0]["dir"]
            keys = sorted(pq.read_table(staged).column("text_md5")
                          .to_pylist())
            seen.update(stale=len(keys), first_dir=staged)
            other.delete_keys(
                spark.createDataFrame([(keys[0],)], "text_md5 string"),
                "text_md5")
        return orig(self, sid, manifest)

    monkeypatch.setattr(IceliteTable, "_commit_manifest", interloped)
    r = curate_table(spark, corpus_root, ext)
    monkeypatch.undo()

    corpus = _corpus(spark, corpus_root)
    assert seen["stale"] > 1
    assert r["retracted"] == seen["stale"] - 1
    assert not os.path.exists(seen["first_dir"])
    assert [h["kind"] for h in corpus.history()[:2]] == ["upsert", "delete"]
    assert r["corpus_total"] == corpus.read().count()
    assert _texts(corpus.read()) == _texts(curate(ext.read()))
    assert _unnamed_dirs(corpus_root) == []


def test_curation_staging_nothing_leaves_no_residue(spark, tmp_path):
    """A curation that stages nothing leaves no unnamed ``commit-*`` or
    ``delete-*`` directory: neither an identical recrawl (empty stale
    set, all-duplicate texts: the watermark advances on a metadata-only
    commit) nor an empty delta (no commit at all)."""
    import pandas as pd

    root = str(tmp_path / "res-root")
    corpus_root = str(tmp_path / "res-corpus")
    run_extraction(spark, _pages(spark, 0, 100), root)
    ext = extracted_table(spark, root)
    curate_table(spark, corpus_root, ext)
    corpus = _corpus(spark, corpus_root)

    same = pages_pandas(1, 30).reset_index(drop=True)
    same["warc_ts"] = same["warc_ts"] + pd.Timedelta(days=365)
    run_extraction(spark, spark.createDataFrame(same, schema=PAGES_SCHEMA),
                   root, recrawl=True)
    before = corpus.snapshot_id()
    r = curate_table(spark, corpus_root, ext)
    assert r["inserted"] == 0 and r["retracted"] == 0
    assert r["watermark"] == ext.snapshot_id()
    assert corpus.snapshot_id() == before + 1
    assert corpus.history()[0]["kind"] == "meta"
    assert _unnamed_dirs(corpus_root) == []

    run_extraction(spark, _pages(spark, 0, 100), root)  # 0-insert resume
    before = corpus.snapshot_id()
    r = curate_table(spark, corpus_root, ext)
    assert r["inserted"] == 0 and r["watermark"] < ext.snapshot_id()
    assert corpus.snapshot_id() == before
    assert _unnamed_dirs(corpus_root) == []
