"""Resume-equivalence (SURVEY.md §5.3): run-to-completion == kill-after-k-
commits + resume. Exercises the MERGE-on-url checkpoint (J3) and the atomic
commit protocol."""

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from sanskrit_ocr_spark.datagen.pages import PAGES_SCHEMA, pages_pandas
from sanskrit_ocr_spark.extract.job import (
    extracted_table,
    lineage_table,
    run_extraction,
)

N = 200
TS = datetime(2025, 7, 4)


def _pages(spark, lo, hi):
    return spark.createDataFrame(pages_pandas(lo, hi - lo), schema=PAGES_SCHEMA)


def test_resume_equivalence(spark, tmp_path):
    one_shot = str(tmp_path / "one")
    resumed = str(tmp_path / "two")

    r1 = run_extraction(spark, _pages(spark, 0, N), one_shot, committed_at=TS)

    # "killed" run: first half committed, then the full input re-submitted
    run_extraction(spark, _pages(spark, 0, N // 2), resumed, committed_at=TS)
    r2 = run_extraction(spark, _pages(spark, 0, N), resumed, committed_at=TS)

    a = extracted_table(spark, one_shot).read()
    b = extracted_table(spark, resumed).read()

    # same key set, no duplicate urls anywhere
    assert a.count() == b.count()
    assert a.select("url").distinct().count() == a.count()
    assert b.select("url").distinct().count() == b.count()

    # byte-identical text per url across the two histories
    joined = (a.select("url", F.col("text").alias("ta"))
              .join(b.select("url", F.col("text").alias("tb")), "url"))
    assert joined.filter(F.col("ta") != F.col("tb")).count() == 0
    assert joined.count() == a.count()

    # duplicate-url pages collapse: 2 dup urls per 100-row block
    assert r1["inserted"] == N - 2 * (N // 100)
    assert r2["snapshot_id"] == 2


def test_rerun_inserts_nothing(spark, tmp_path):
    root = str(tmp_path / "idem")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    r = run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    assert r["inserted"] == 0


def test_lineage_accumulates(spark, tmp_path):
    root = str(tmp_path / "lin")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    run_extraction(spark, _pages(spark, 100, 200), root, committed_at=TS)
    lin = lineage_table(spark, root).read()
    # every committed batch contributed lineage rows under its snapshot id
    sids = {r["snapshot_id"] for r in lin.select("snapshot_id").distinct().collect()}
    assert sids == {1, 2}
    # first batch's lineage covers all 100 input pages (including failures)
    n1 = (lin.filter(F.col("snapshot_id") == 1)
          .agg(F.sum("fail_count").alias("n")).collect()[0]["n"])
    assert n1 == 100


def test_crash_before_head_swing_is_invisible(spark, tmp_path):
    """Data files written without a HEAD update must not be readable."""
    import os
    root = str(tmp_path / "crash")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)
    n_before = t.read().count()
    # simulate a crash: orphan data directory + manifest, HEAD not swung
    os.makedirs(os.path.join(t.root, "data", "commit-99-0badf00d"),
                exist_ok=True)
    with open(os.path.join(t.root, "_icelite", "commits", "99.json"), "w") as f:
        f.write('{"snapshot_id": 99, "parent": 1, '
                '"new_files": ["/nonexistent"]}')
    assert t.read().count() == n_before


def test_concurrent_commit_detected(spark, tmp_path):
    """Two writers racing to the same snapshot id: the second manifest
    create must fail loudly (optimistic concurrency), never clobber."""
    import os

    from sanskrit_ocr_spark.tables.icelite import ConcurrentCommitError

    root = str(tmp_path / "occ")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)
    # simulate a winner: snapshot 2's manifest already exists
    with open(os.path.join(t.root, "_icelite", "commits", "2.json"), "w") as f:
        f.write('{"snapshot_id": 2, "parent": 1, "new_files": []}')
    df = t.read().limit(1)
    with pytest.raises(ConcurrentCommitError):
        t.append(df)
    # HEAD untouched; the winner's manifest intact
    assert t.snapshot_id() == 1


def test_merge_retries_from_new_head(spark, tmp_path):
    """A merge that loses the commit race must retry against the winner's
    snapshot: the anti-join re-derives, no duplicate keys, correct count."""
    import json as _json
    import os

    root = str(tmp_path / "occ2")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)
    # simulate a racing winner who committed snapshot 2 AND swung HEAD
    # (an empty delta manifest: a no-op data-wise)
    with open(os.path.join(t.root, "_icelite", "commits", "2.json"), "w") as f:
        _json.dump({"snapshot_id": 2, "parent": 1, "new_files": []}, f)
    with open(os.path.join(t.root, "_icelite", "HEAD"), "w") as f:
        f.write("2")
    # merging rows 0..200: first attempt computes sid=3 fine — force the
    # race instead on sid 3 by pre-creating its manifest WITHOUT head swing,
    # then swinging head when the retry happens is timing-dependent; the
    # deterministic check here: merge succeeds against head 2 and inserts
    # only the 98 new urls (100..200 minus dup-urls), proving the anti-join
    # used the winner's snapshot.
    from sanskrit_ocr_spark.extract.pipeline import extract_pages
    new = extract_pages(_pages(spark, 0, 200)).cache()
    try:
        sid, inserted = t.merge_on_key(new, "url", order_col="warc_ts")
        assert sid == 3 and inserted == 98
        assert t.read().select("url").distinct().count() == t.read().count()
    finally:
        new.unpersist()


def test_lost_race_never_clobbers_winner_data(spark, tmp_path):
    """The r2 ADVICE race: writer A stages data for snapshot 2, writer B
    completes a full append of DIFFERENT rows winning snapshot 2, then A's
    commit fails. A's staged directory is unique, so B's committed files
    are untouched; A retries and BOTH row sets survive."""
    root = str(tmp_path / "race")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)

    from sanskrit_ocr_spark.extract.pipeline import extract_pages
    from sanskrit_ocr_spark.tables.icelite import ConcurrentCommitError

    a_rows = extract_pages(_pages(spark, 100, 200)) \
        .join(t.read().select("url"), "url", "left_anti")
    b_rows = extract_pages(_pages(spark, 200, 300)) \
        .join(t.read().select("url"), "url", "left_anti")

    # writer A stages its data for snapshot 2 (but does not commit yet)
    a_dir, a_files = t._stage_data(a_rows, 2)
    # writer B races past: full append wins snapshot 2
    assert t.append(b_rows) == 2
    b_urls = {r["url"] for r in t.read().collect()}

    # writer A now tries to commit its staged snapshot-2 manifest → loses
    import pytest as _pytest
    with _pytest.raises(ConcurrentCommitError):
        t._commit_manifest(2, {"snapshot_id": 2, "parent": 1,
                               "new_files": a_files})
    # the winner's committed rows are fully intact after the lost race
    assert {r["url"] for r in t.read().collect()} == b_urls

    # the loser retries from the new HEAD and both row sets survive
    assert t.append(a_rows) == 3
    final = {r["url"] for r in t.read().collect()}
    assert b_urls < final and len(final) == 100 * 3 - 2 * 3  # 2 dup urls/block


def test_concurrent_merges_from_threads(spark, tmp_path):
    """Two real threads merging disjoint key sets concurrently: whichever
    loses any commit race retries internally (merge_on_key), and the final
    table holds both sets exactly once."""
    import threading

    from sanskrit_ocr_spark.extract.pipeline import extract_pages

    root = str(tmp_path / "threads")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)

    inputs = [extract_pages(_pages(spark, 100, 200)).cache(),
              extract_pages(_pages(spark, 200, 300)).cache()]
    for df in inputs:
        df.count()  # materialize before racing
    barrier = threading.Barrier(2)
    results, errors = [None, None], [None, None]

    def worker(i):
        try:
            barrier.wait()
            results[i] = t.merge_on_key(inputs[i], "url",
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
    assert sorted(r[1] for r in results) == [98, 98]  # 2 dup urls per block
    full = t.read()
    assert full.count() == 98 * 3
    assert full.select("url").distinct().count() == 98 * 3


def test_merge_prefilter_is_exact(spark, tmp_path):
    """The bucket semi-join prefilter keeps a superset of true matches, so
    the merge result is byte-identical with and without it — and the plan
    shows the broadcast semi-join on the committed side."""
    import io
    import contextlib

    from sanskrit_ocr_spark.extract.pipeline import extract_pages

    root_a = str(tmp_path / "pf_a")
    root_b = str(tmp_path / "pf_b")
    for root in (root_a, root_b):
        run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    batch = extract_pages(_pages(spark, 50, 250)).cache()
    try:
        ta = extracted_table(spark, root_a)
        tb = extracted_table(spark, root_b)
        sid_a, ins_a = ta.merge_on_key(batch, "url", order_col="warc_ts")
        sid_b, ins_b = tb.merge_on_key(batch, "url", order_col="warc_ts",
                                       prefilter_buckets=1 << 20)
        assert (sid_a, ins_a) == (sid_b, ins_b)
        a = {(r["url"], r["text"]) for r in ta.read().collect()}
        b = {(r["url"], r["text"]) for r in tb.read().collect()}
        assert a == b
        # the plan actually contains the broadcast bucket semi-join
        existing = tb.read().select("url")
        bucket = F.pmod(F.xxhash64("url"), F.lit(1 << 20))
        filt = existing.join(
            F.broadcast(batch.select(bucket.alias("__mb")).distinct()),
            bucket == F.col("__mb"), "left_semi")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            filt.explain("formatted")
        plan = buf.getvalue()
        assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    finally:
        batch.unpersist()


def test_merge_toctou_interleaved_commit_cannot_duplicate_keys(spark, tmp_path):
    """r3 ADVICE (medium): a commit landing BETWEEN merge_on_key's read of
    the committed keys and its own manifest create must force a retry (the
    commit is a CAS at the captured parent snapshot), never a successful
    commit whose anti-join was derived from the stale snapshot — that would
    silently insert duplicate keys and break the MERGE idempotency contract
    the CLI summary relies on (distinct_urls == extracted_total)."""
    from sanskrit_ocr_spark.extract.pipeline import extract_pages
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    root = str(tmp_path / "toctou")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    base = extracted_table(spark, root)

    class RacyTable(IceliteTable):
        """read() runs an interloper commit AFTER the caller resolved its
        snapshot — deterministically opening the exact TOCTOU window."""
        interloper = None

        def read(self, snapshot_id=None, prune=None, buckets=None):
            df = super().read(snapshot_id, prune, buckets)
            if RacyTable.interloper is not None:
                hook, RacyTable.interloper = RacyTable.interloper, None
                hook()
            return df

    def interloper():
        # separate handle, same table: commits urls 100..150 as snapshot 2
        extracted_table(spark, root).merge_on_key(
            extract_pages(_pages(spark, 100, 150)), "url",
            order_col="warc_ts")

    victim = RacyTable(spark, base.root, base.schema)
    RacyTable.interloper = interloper
    # victim merges urls 50..200 — overlapping BOTH the base table and the
    # interloper's batch
    sid, inserted = victim.merge_on_key(
        extract_pages(_pages(spark, 50, 200)), "url", order_col="warc_ts")

    # the victim must have lost the race once and retried: snapshots are
    # 1 (base), 2 (interloper), 3 (victim's retry)
    assert sid == 3
    final = extracted_table(spark, root).read()
    # key uniqueness survived the interleaving
    assert final.select("url").distinct().count() == final.count()
    # and nothing was lost: every input url is present exactly once
    expected = (extract_pages(_pages(spark, 0, 200))
                .select("url").distinct().count())
    assert final.count() == expected


def test_recrawl_mode_replaces_rows_end_to_end(spark, tmp_path):
    """--recrawl wires merge_upsert_mor through the real job: every input
    page is re-extracted and replaces its url's older row via an
    equality-delete file; untouched urls keep their rows; time travel
    still shows the pre-recrawl snapshot."""
    import pandas as pd

    root = str(tmp_path / "recrawl")
    run_extraction(spark, _pages(spark, 0, 100), root, committed_at=TS)
    t = extracted_table(spark, root)
    old = {r["url"]: r["text"] for r in t.read().collect()}

    # re-crawl of the first 30 pages: same urls, NEW html + newer warc_ts.
    # The spliced paragraph is long enough that the jusText-style block
    # classifier keeps it as content (a short stub would be boilerplate).
    marker = "नया संस्करण उपलब्ध"
    para = ("नया संस्करण उपलब्ध है और यह पृष्ठ पूरी तरह से अद्यतन किया"
            " गया है। इस संस्करण में अनेक सुधार तथा नवीन सामग्री"
            " सम्मिलित की गयी है।")
    pdf = pages_pandas(0, 30)
    pdf["html"] = pdf["html"].map(
        lambda b: b.replace(b"</body>",
                            f"<p>{para}</p></body>".encode("utf-8")))
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]) + pd.Timedelta(days=30)
    re_pages = spark.createDataFrame(pdf, schema=PAGES_SCHEMA)
    n_urls = re_pages.select("url").distinct().count()

    res = run_extraction(spark, re_pages, root, committed_at=TS,
                         recrawl=True)
    assert res["updated"] == n_urls  # every re-crawled url already existed
    assert res["inserted"] == 0      # net row count unchanged

    new = {r["url"]: r["text"] for r in t.read().collect()}
    assert len(new) == len(old)
    recrawled = {r["url"] for r in re_pages.select("url").collect()}
    # most re-crawled pages pick up the marker (PDF/decode-fail rows keep
    # their payload shape — the </body> splice is a no-op there)
    hits = sum(1 for u in recrawled if marker in new[u])
    assert hits >= 0.7 * n_urls
    # untouched urls byte-identical
    for u in set(old) - recrawled:
        assert new[u] == old[u]
    # time travel: the pre-recrawl snapshot still shows the old texts
    at1 = {r["url"]: r["text"] for r in t.read(snapshot_id=1).collect()}
    assert at1 == old
