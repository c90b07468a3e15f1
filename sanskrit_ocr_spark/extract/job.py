"""End-to-end extraction job: resume → extract → commit (+ lineage).

The Spark re-expression of reference entry point E1
(``datagen/translate_bookcorpus.py`` main loop, SURVEY.md §3):

1. resume probe = LEFT ANTI JOIN of pages against committed extracted urls
   (replaces offset-skip, translate_bookcorpus.py:43-44,79);
2. one ``mapInPandas`` extraction stage (replaces the 1024-prompt GPU loop);
3. atomic MERGE-on-url commit of results + a lineage row per
   (bucket, status) — no silent drops (north_rule).

Designed so a mid-job kill loses at most the uncommitted batch; re-running
converges to the same table (tests/test_icelite_resume.py).
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType, LongType, StringType, StructField, StructType, TimestampType,
)

from sanskrit_ocr_spark.extract.pipeline import (
    EXTRACTED_SCHEMA,
    extract_pages,
    extract_width,
    lineage_rows,
)
from sanskrit_ocr_spark.tables.icelite import IceliteTable

LINEAGE_SCHEMA = StructType([
    StructField("snapshot_id", LongType(), False),
    StructField("partition_hash", LongType(), False),
    StructField("doc_count", LongType(), False),
    StructField("fail_code", StringType(), False),
    StructField("fail_count", LongType(), False),
    StructField("committed_at", TimestampType(), False),
])


LAYOUT_COLS = ["warc_day", "bucket"]  # range-on-time × bucket-on-url

EXTRACTED_LAYOUT_SCHEMA = StructType(
    EXTRACTED_SCHEMA.fields + [
        StructField("warc_day", DateType(), True),
        StructField("bucket", LongType(), False),
    ]
)


def extracted_table(spark: SparkSession, root: str,
                    partitioned: bool = False,
                    bucket_urls: int | None = None,
                    sort_ts: bool = False) -> IceliteTable:
    # warc_ts bounds ride every commit manifest (file-level data
    # skipping): crawl batches arrive roughly time-ordered, so a
    # `warc_ts BETWEEN` read prunes to the matching commits' files
    # instead of scanning the whole table
    #
    # bucket_urls=N opts the table into the static bucket(N, url) file
    # layout at CREATION: each commit's files split into __bucket hive
    # dirs so the resume MERGE prunes its committed-side scan to the
    # batch's buckets. Only meaningful on the first commit — reopened
    # handles load the persisted spec automatically.
    #
    # sort_ts=True additionally declares warc_ts as the write sort
    # order (same creation-time discipline): each commit's files
    # range-cluster on warc_ts, so a ts probe prunes INSIDE large
    # commits too, not just across them — at the cost of one extra
    # range shuffle of the batch per commit.
    bucket = ("url", bucket_urls) if bucket_urls else None
    sort_cols = ["warc_ts"] if sort_ts else None
    if not partitioned:
        # a table whose spec was evolved to the hive layout must not be
        # opened for ingest under the flat handle: new commits would
        # silently stage flat against the evolved spec (reads would
        # still be correct — mixed-layout attribution — but the layout
        # intent would be ignored). Same loud-fail discipline as the
        # --maintain layout guard.
        stored = IceliteTable.stored_partition_cols(f"{root}/extracted")
        if stored:
            raise ValueError(
                f"extracted table at {root} uses the partitioned layout "
                f"{stored}; pass partitioned=True / --partitioned")
    if partitioned:
        return IceliteTable(spark, f"{root}/extracted",
                            EXTRACTED_LAYOUT_SCHEMA,
                            partition_cols=LAYOUT_COLS,
                            stat_cols=["warc_ts"], bucket=bucket,
                            sort_cols=sort_cols)
    return IceliteTable(spark, f"{root}/extracted", EXTRACTED_SCHEMA,
                        stat_cols=["warc_ts"], bucket=bucket,
                        sort_cols=sort_cols)


def lineage_table(spark: SparkSession, root: str) -> IceliteTable:
    return IceliteTable(spark, f"{root}/lineage", LINEAGE_SCHEMA)


def backfill_layout(df: DataFrame) -> DataFrame:
    """Recompute the physical-layout columns from their source columns
    (hidden-partitioning derivation: ``warc_day = day(warc_ts)``,
    ``bucket = pmod(part_hash, 64)``). Deterministic and idempotent —
    rows that already carry the values get the same values back — so
    maintenance can apply it unconditionally; rows written BEFORE
    ``evolve_extracted_layout`` (NULL layout columns) get backfilled
    during the compaction rewrite."""
    return (df.withColumn("warc_day", F.to_date("warc_ts"))
            .withColumn("bucket",
                        F.pmod(F.col("part_hash"), F.lit(64))
                        .cast("long")))


def evolve_extracted_layout(spark: SparkSession, root: str) -> dict:
    """Metadata-only migration of an UNPARTITIONED extracted table to
    the north-rule hive layout (warc_day x url-bucket) — the 10^12-row
    answer to "we should have partitioned this table": no data is
    rewritten now. Adds the layout columns (metadata-only schema
    evolution; old rows read NULL) and evolves the partition spec;
    subsequent ``--partitioned`` ingest runs stage new commits under
    the hive layout, reads union the mixed layouts transparently, and
    the next ``--maintain --partitioned`` pass migrates + BACKFILLS the
    old rows in its compaction rewrite (``backfill_layout``)."""
    from pyspark.sql.types import DateType

    stored = IceliteTable.stored_partition_cols(f"{root}/extracted")
    if stored:
        raise ValueError(
            f"extracted table already partitioned on {stored}")
    ext = extracted_table(spark, root)
    if not ext.snapshot_id():
        raise ValueError("empty table: create it partitioned instead "
                         "(--partitioned on the first ingest run)")
    have = {f.name for f in ext.current_schema().fields}
    added = [f for f in (StructField("warc_day", DateType(), True),
                         StructField("bucket", LongType(), True))
             if f.name not in have]
    if added:
        ext.add_columns(added)
    sid = ext.evolve_partition_spec(LAYOUT_COLS)
    return {"snapshot_id": sid, "partition_spec": LAYOUT_COLS,
            "columns_added": [f.name for f in added]}


def sync_publish_branch(ext: IceliteTable, branch: str,
                        lin: IceliteTable | None = None) -> None:
    """Make the publish branch the source of truth before ingesting:
    adopt a pre-WAP table's current state as published, and roll back
    any staging left above the branch (a crash between commit and
    publish, or an audit-less writer) so the resume probe never builds
    on unaudited rows. Shared by the batch job and the streaming
    ingest.

    ``lin``: the run's lineage table — the heal also deletes lineage
    rows whose ``snapshot_id`` exceeds the rollback target (r7,
    ADVICE): snapshot ids are REUSED after a rollback, so without this
    the re-extraction appends a second generation of lineage rows under
    the same sid and the CLI fail tallies double-count the discarded
    batch (the audited reject arm already avoids this by never writing
    lineage for a rejected snapshot)."""
    head = ext.snapshot_id()
    published = ext.branches().get(branch)
    if published is None:
        if head:
            ext.set_branch(branch, head)
    elif published < head:
        # lineage first: its rows above ``published`` are unpublished by
        # definition, so deleting them is always safe, and a crash before
        # the rollback leaves head above the branch for the next run to
        # heal again — the reverse order would strand them behind a head
        # that already equals the branch
        if lin is not None and lin.snapshot_id():
            lin.delete_where(F.col("snapshot_id") > published)
        ext.rollback_to(published)


def audit_tallies(extracted: DataFrame) -> tuple[dict, float]:
    """Batch failure tallies + failure rate (non-OK / processed) for the
    write-audit-publish gate — one tiny job over the (persisted) UDF
    output, no table re-scan."""
    tallies = {r["status"]: r["n"] for r in extracted
               .groupBy("status").agg(F.count("*").alias("n"))
               .collect()}
    processed = sum(tallies.values())
    rate = ((processed - tallies.get("OK", 0)) / processed
            if processed else 0.0)
    return tallies, rate


def run_extraction(spark: SparkSession, pages: DataFrame, root: str,
                   salt_partitions: int | None = None,
                   committed_at: datetime | None = None,
                   partitioned: bool = False,
                   merge_prefilter_buckets: int | None = None,
                   recrawl: bool = False,
                   bucket_urls: int | None = None,
                   sort_ts: bool = False,
                   audit_max_fail_rate: float | None = None,
                   publish_branch: str | None = None) -> dict:
    """Process every page whose url is not yet in the extracted table.

    Returns ``{"snapshot_id": int, "inserted": int}``. Idempotent: calling
    twice with the same input inserts nothing the second time.
    ``partitioned=True`` writes the north-rule physical layout
    (hive dirs warc_day × url-bucket → partition pruning on reads).

    ``recrawl=True`` switches the commit from the insert-only resume MERGE
    to the merge-on-read upsert: EVERY input page is re-extracted (no
    resume anti-join — a re-crawl is new content under known urls) and
    replaces any older row for its url via an equality-delete file —
    O(batch) write amplification (``IceliteTable.merge_upsert_mor``). The
    result gains an ``"updated"`` count.

    ``bucket_urls=N`` (first run against a fresh root only) creates the
    extracted table under the static bucket(N, url) file layout, so this
    job's resume MERGE — and every later one — scans only the incoming
    batch's bucket directories on the committed side.

    ``sort_ts=True`` (first run against a fresh root only) declares
    warc_ts as the table's write sort order: commits range-cluster
    their files on warc_ts so ts-range reads prune inside commits.

    **Write-audit-publish** (Iceberg WAP; north_rule's "no bad batch
    becomes visible" discipline at 10^12 rows): with
    ``audit_max_fail_rate=R`` the freshly committed snapshot is STAGED
    — its batch failure rate (non-OK / processed) is audited, and a
    breach rolls the table back to the pre-commit snapshot
    (``IceliteTable.rollback_to``) with the batch's tallies reported in
    the returned ``"audit"`` block, so nothing is silently dropped but
    nothing poisoned is published either. With ``publish_branch=NAME``
    the accepted snapshot is published by fast-forwarding that branch
    ref; consumers reading ``read(branch=NAME)`` (and the incremental
    curation/WET paths bounded by ``to_sid``) never observe a staged,
    unaudited commit. A crash between commit and publish leaves HEAD
    above the branch; the next audited run discards that unaudited
    staging first (the branch is the source of truth). On a table that
    predates the branch, existing data is adopted as published.
    """
    ext = extracted_table(spark, root, partitioned=partitioned,
                          bucket_urls=bucket_urls, sort_ts=sort_ts)
    lin = lineage_table(spark, root)

    if publish_branch is not None:
        sync_publish_branch(ext, publish_branch, lin=lin)

    # resume probe: on a bucket-layout table, scan only the committed
    # bucket directories the incoming batch's urls can hash into — a
    # small replay/top-up batch against a 10^12-row table reads
    # O(batch-buckets) files instead of O(table). The ids are collected
    # once and reused by the MERGE below (the extracted batch's urls
    # are a subset of pages', so these ids are a covering superset)
    batch_bucket_ids = None if recrawl else \
        ext.bucket_ids_for(pages, "url")
    # first commit against an empty table: skip the anti-join outright —
    # the empty committed side is RDD-backed, so the optimizer cannot
    # prove it empty and would shuffle the full html payload for a
    # vacuous join (r7; measured as one whole extra payload exchange).
    # ``probe_sid`` pins the snapshot the probe sieves against: the
    # probe's read resolves its immutable file list at THIS snapshot, so
    # the extracted batch is certified free of keys committed as of it —
    # merge_on_key(presieved_at=probe_sid) then skips its own redundant
    # committed-side anti-join whenever it commits at that same snapshot
    # (its CAS guarantees exactly that; a lost race falls back).
    probe_sid = ext.snapshot_id()
    # size the extraction stage on the BARE pages scan, before the
    # anti-join: probing the joined plan would run its stages under AQE
    if salt_partitions is None:
        salt_partitions = extract_width(pages)
    todo = pages if recrawl or not probe_sid else \
        pages.join(ext.read(probe_sid,
                            buckets=batch_bucket_ids).select("url"),
                   "url", "left_anti")
    extracted = extract_pages(todo, salt_partitions=salt_partitions)
    if partitioned:
        extracted = extracted.withColumn(
            "warc_day", F.to_date("warc_ts")
        ).withColumn(
            "bucket", F.pmod(F.col("part_hash"), F.lit(64)).cast("long"))
    # One pass is consumed twice (commit + lineage): materialize the UDF
    # output ONCE as a columnar parquet staging dir so the expensive parse
    # never runs twice per page. Parquet, not persist(DISK_ONLY) (r7): the
    # nested `sentences` column makes block-cache materialization
    # Java-serialization/GC-heavy and its re-reads deserialize EVERY
    # column, while the lineage pass only needs (part_hash, status) — a
    # column-pruned parquet scan. Measured at 80k rows on local[32]
    # (steady state ×3): DISK_ONLY persist 5.4–17.7s for the whole
    # commit, parquet staging 4.6–5.0s with no cold-plan tail and no GC
    # debt bleeding into the next job. At 100 TB the UDF output must not
    # occupy executor memory either way; columnar batches on shared
    # storage are the scale-safe shape, and every downstream consumer
    # (merge write, lineage agg, audit tally) prunes to the columns it
    # needs.
    import shutil
    import uuid

    stage_dir = os.path.join(root, "_staging_extract", uuid.uuid4().hex[:12])
    try:
        extracted.write.mode("error").parquet(stage_dir)
        extracted = spark.read.schema(extracted.schema).parquet(stage_dir)
        pre_sid = ext.snapshot_id()
        if recrawl:
            before = ext.row_count()
            sid, updated = ext.merge_upsert_mor(
                extracted, "url", order_col="warc_ts")
            after = ext.row_count()
            # when manifest row totals are unavailable (table written
            # outside merge_on_key) the insert count is simply unknown —
            # omit it from the summary rather than emitting a -1 sentinel
            inserted = (after - before
                        if before is not None and after is not None
                        else None)
        else:
            sid, inserted = ext.merge_on_key(
                extracted, "url", order_col="warc_ts",
                prefilter_buckets=merge_prefilter_buckets,
                bucket_ids=batch_bucket_ids,
                presieved_at=probe_sid)
        audit = None
        if audit_max_fail_rate is not None or publish_branch is not None:
            tallies, rate = audit_tallies(extracted)
            audit = {"batch_tallies": tallies,
                     "fail_rate": round(rate, 6)}
            if audit_max_fail_rate is not None:
                audit["max_fail_rate"] = audit_max_fail_rate
                if rate > audit_max_fail_rate:
                    # REJECT: erase the staged snapshot — no lineage row
                    # (the snapshot id will be reused), no publish; the
                    # batch's tallies live on in the audit block so the
                    # rejection is never a silent drop
                    ext.rollback_to(pre_sid)
                    audit.update({"accepted": False,
                                  "rolled_back_to": pre_sid})
                    res = {"snapshot_id": pre_sid, "inserted": 0,
                           "audit": audit}
                    if recrawl:
                        res["updated"] = 0
                    return res
            audit["accepted"] = True
        ts = committed_at or datetime.now(timezone.utc)
        lin.append(lineage_rows(extracted, snapshot_id=sid, committed_at=ts))
        if publish_branch is not None:
            audit["published"] = ext.set_branch(publish_branch, sid)
        res = {"snapshot_id": sid}
        if inserted is not None:
            res["inserted"] = inserted
        if recrawl:
            res["updated"] = updated
        if audit is not None:
            res["audit"] = audit
        return res
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)
