"""spark-submit entry point for the extraction job.

Usage (local smoke; on a cluster replace --master and add --py-files)::

    python -m sanskrit_ocr_spark.extract --rows 300 --root /tmp/extract_out
    python -m sanskrit_ocr_spark.extract --input pages.parquet --root /out
    python -m sanskrit_ocr_spark.extract --input-warc /crawl/segments --root /out

Synthesizes the seeded pages corpus (or reads an existing parquet pages
table, or ingests raw WARC segment files), runs the resumable extraction
job, and prints a one-line JSON summary: snapshot id, rows inserted,
lineage failure tallies.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import functions as F

from sanskrit_ocr_spark.conf import build_spark
from sanskrit_ocr_spark.datagen.pages import pages_df
from sanskrit_ocr_spark.extract.job import (
    extracted_table,
    lineage_table,
    run_extraction,
)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sanskrit_ocr_spark.extract")
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--rows", type=int,
                     help="synthesize N seeded pages as input")
    src.add_argument("--input", help="existing pages parquet path")
    src.add_argument("--input-warc",
                     help="directory of *.warc.gz segment files to ingest")
    src.add_argument("--stream-warc",
                     help="WARC landing directory: drain it via Structured "
                          "Streaming (availableNow) through the same "
                          "extract + MERGE path, tracking progress in "
                          "--checkpoint; re-runs pick up only new segments")
    src.add_argument("--history", action="store_true",
                     help="print the extracted table's snapshot history "
                          "(id, kind, files, inserted/total bookkeeping) "
                          "as JSON — metadata only, no Spark jobs")
    src.add_argument("--inspect",
                     choices=["files", "partitions", "snapshots", "refs"],
                     help="print the extracted table's metadata table "
                          "(Iceberg files/partitions/snapshots/refs "
                          "analog) as JSON — per-file commit provenance, "
                          "row counts, byte sizes, stat bounds and "
                          "pending equality-delete files, straight from "
                          "manifests + parquet footers; metadata only, "
                          "no Spark session")
    src.add_argument("--maintain", action="store_true",
                     help="run table maintenance on ROOT instead of "
                          "ingesting: compact the extracted table to "
                          "--compact-partitions files, expire snapshots "
                          "beyond --expire-keep, and remove orphaned "
                          "data directories")
    src.add_argument("--evolve-partitioning", action="store_true",
                     help="metadata-only migration of an UNPARTITIONED "
                          "extracted table to the warc_day x url-bucket "
                          "hive layout: adds the layout columns (schema "
                          "evolution) and evolves the partition spec — "
                          "NO data rewrite; later runs need "
                          "--partitioned, and the next --maintain "
                          "--partitioned compaction migrates + "
                          "backfills the pre-evolution rows")
    p.add_argument("--checkpoint", default=None,
                   help="streaming checkpoint dir for --stream-warc "
                        "(default: ROOT/_checkpoint)")
    p.add_argument("--root", required=True,
                   help="output table root (extracted/ + lineage/)")
    p.add_argument("--master", default="local[*]")
    p.add_argument("--salt-partitions", type=int, default=None,
                   help="salted repartition width before the extract UDF "
                        "(default: sized from the input scan's metadata)")
    p.add_argument("--shuffle-partitions", type=int, default=32)
    p.add_argument("--partitioned", action="store_true",
                   help="write the warc_day x url-bucket hive layout")
    p.add_argument("--curate-dest",
                   help="also curate the extracted table (quality gate + "
                        "first-wins dedup) into DEST/corpus parquet + "
                        "DEST/captions_jsonl")
    p.add_argument("--curate-table",
                   help="INCREMENTALLY curate into an icelite corpus "
                        "table at this root: only extracted rows added "
                        "since the last curation watermark are read "
                        "(read_changes incremental scan) and MERGEd on "
                        "content hash — O(new data) per run")
    p.add_argument("--wet-table",
                   help="INCREMENTAL WET export rooted here: segments/ "
                        "gets only rows added since the last export "
                        "watermark (exactly-once per url via the "
                        "exported/ sidecar table)")
    p.add_argument("--wet-dest",
                   help="also export OK-status extracted text as WET-style "
                        ".warc.gz conversion segments (one per partition)")
    p.add_argument("--merge-prefilter-buckets", type=int, default=None,
                   help="semi-join-reduce the committed side of the MERGE "
                        "anti-join via a broadcast key-hash bucket set "
                        "(the 10^12-row shuffle guard; size >> batch keys)")
    p.add_argument("--bucket-urls", type=int, default=None,
                   help="create the extracted table under the static "
                        "bucket(N, url) file layout: commits stage into "
                        "__bucket hive dirs and the resume MERGE scans "
                        "only the batch's buckets on the committed side "
                        "(first run on a fresh --root only; later runs "
                        "load the persisted layout automatically)")
    p.add_argument("--sort-ts", action="store_true",
                   help="declare warc_ts as the extracted table's write "
                        "sort order (first run on a fresh --root only): "
                        "commits range-cluster their files on warc_ts so "
                        "a ts-range read prunes files INSIDE large "
                        "commits, not just across them")
    p.add_argument("--bucket-hashes", type=int, default=None,
                   help="create the --curate-table corpus under the "
                        "static bucket(N, text_md5) file layout, so each "
                        "incremental curation MERGE scans only the "
                        "delta's hash buckets on the committed side "
                        "(first run on a fresh corpus root only; later "
                        "runs load the persisted layout automatically)")
    p.add_argument("--compact-partitions", type=int, default=8,
                   help="target file count for --maintain compaction")
    p.add_argument("--expire-older-than", default=None,
                   metavar="TIMESTAMP",
                   help="--maintain only: time-based snapshot expiry — "
                        "only snapshots committed before this ISO "
                        "timestamp are expired (--expire-keep stays the "
                        "retainLast floor); a quiet table expires "
                        "nothing")
    p.add_argument("--purge-before", default=None, metavar="TIMESTAMP",
                   help="--maintain only: retention purge — delete "
                        "extracted rows with warc_ts older than this "
                        "ISO timestamp via the copy-on-write "
                        "delete_where (runs AFTER compaction, so the "
                        "ts-clustered rewrite prunes to the files the "
                        "cutoff actually touches); purged urls "
                        "re-extract if re-crawled (retention, not "
                        "tombstoning)")
    p.add_argument("--expire-keep", type=int, default=2,
                   help="snapshots to retain in --maintain expiry")
    p.add_argument("--recrawl", action="store_true",
                   help="re-crawl mode: re-extract EVERY input page and "
                        "REPLACE older rows per url via the merge-on-read "
                        "upsert (equality-delete files, O(batch) writes) "
                        "instead of the insert-only resume MERGE")
    p.add_argument("--audit-max-fail-rate", type=float, default=None,
                   help="write-audit-publish quality gate: after the "
                        "commit, audit the batch's extraction failure "
                        "rate (non-OK / processed); a breach ROLLS BACK "
                        "the staged snapshot (nothing published, tallies "
                        "reported in the summary's audit block). Implies "
                        "--publish-branch published unless overridden")
    p.add_argument("--publish-branch", default=None,
                   help="fast-forward this branch ref to each accepted "
                        "snapshot; consumers reading the branch (and the "
                        "incremental --curate-table/--wet-table paths) "
                        "never see a staged, unaudited commit; a crash "
                        "between commit and publish is healed by the "
                        "next run rolling back to the branch")
    args = p.parse_args(argv)
    if args.audit_max_fail_rate is not None and not (
            0.0 <= args.audit_max_fail_rate <= 1.0):
        p.error("--audit-max-fail-rate must be within [0, 1]")
    if (args.audit_max_fail_rate is not None
            or args.publish_branch is not None) and (
            args.history or args.inspect or args.maintain
            or args.evolve_partitioning):
        p.error("--audit-max-fail-rate/--publish-branch apply to "
                "ingestion runs only")
    if args.evolve_partitioning and (
            args.partitioned or args.recrawl or args.curate_dest
            or args.curate_table or args.wet_dest or args.wet_table
            or args.salt_partitions is not None
            or args.bucket_urls is not None
            or args.bucket_hashes is not None or args.sort_ts
            or args.merge_prefilter_buckets is not None):
        p.error("--evolve-partitioning takes only --root "
                "(+ --master / --shuffle-partitions)")
    if args.audit_max_fail_rate is not None and args.publish_branch is None:
        # gate without a published pointer would leave a crash window
        # where unaudited rows are visible at HEAD — default the branch
        args.publish_branch = "published"
    if args.stream_warc and (args.partitioned
                             or args.salt_partitions is not None
                             or args.bucket_urls is not None
                             or args.bucket_hashes is not None
                             or args.sort_ts
                             or args.merge_prefilter_buckets is not None):
        # the streaming ingest commits through an unpartitioned table and
        # its own foreachBatch merge; silently ignoring these would make a
        # `--stream-warc --partitioned` run reopen the table under the
        # wrong layout (r3 ADVICE) — fail loudly instead (a bucket layout
        # CREATED by a batch run is still honored: reopened handles load
        # the persisted spec)
        p.error("--stream-warc does not support --partitioned, "
                "--salt-partitions, --bucket-urls, --bucket-hashes, "
                "--sort-ts or --merge-prefilter-buckets (a bucket/sort "
                "layout CREATED by a prior batch run is still honored: "
                "reopened handles load the persisted spec)")
    if args.checkpoint and not args.stream_warc:
        p.error("--checkpoint is only meaningful with --stream-warc")
    if args.inspect and (args.recrawl or args.curate_dest
                         or args.wet_dest
                         or args.wet_table or args.partitioned
                         or args.salt_partitions is not None
                         or args.bucket_urls is not None
                         or args.bucket_hashes is not None
                         or args.sort_ts
                         or args.merge_prefilter_buckets is not None):
        p.error("--inspect takes only --root (or --curate-table to "
                "inspect the curation corpus)")
    if args.history and (args.recrawl or args.curate_dest
                         or args.curate_table or args.wet_dest
                         or args.wet_table
                         or args.salt_partitions is not None
                         or args.bucket_urls is not None
                         or args.bucket_hashes is not None
                         or args.sort_ts
                         or args.merge_prefilter_buckets is not None):
        p.error("--history takes only --root")
    if args.maintain and (args.recrawl
                          or args.curate_dest or args.wet_dest
                          or args.wet_table
                          or args.salt_partitions is not None
                          or args.bucket_urls is not None
                          or args.bucket_hashes is not None
                          or args.sort_ts
                          or args.merge_prefilter_buckets is not None):
        p.error("--maintain takes only --root, --partitioned and "
                "--curate-table (+ --compact-partitions / --expire-keep "
                "/ --expire-older-than / --purge-before / --master / "
                "--shuffle-partitions)")
    import datetime as _dt

    def _maintain_ts(value, flag):
        if value is None:
            return None
        if not args.maintain:
            p.error(f"{flag} is a --maintain retention action")
        try:
            return _dt.datetime.fromisoformat(value)
        except ValueError:
            p.error(f"{flag}: not an ISO timestamp: {value!r}")

    cutoff = _maintain_ts(args.purge_before, "--purge-before")
    expire_cutoff = _maintain_ts(args.expire_older_than,
                                 "--expire-older-than")
    if args.rows is not None and args.rows <= 0:
        p.error("--rows must be positive")
    if args.recrawl and args.merge_prefilter_buckets is not None:
        # the merge-on-read upsert has no anti-join to prefilter — reject
        # rather than silently dropping an explicitly requested guard
        p.error("--merge-prefilter-buckets applies to the insert-only "
                "MERGE, not --recrawl")
    if args.bucket_hashes is not None and not args.curate_table:
        p.error("--bucket-hashes lays out the --curate-table corpus; "
                "pass --curate-table (for the extracted table's layout "
                "use --bucket-urls)")

    if args.maintain and args.curate_table and not os.path.isdir(
            os.path.join(args.curate_table, "_icelite")):
        # constructing the corpus handle would mkdir an empty table
        # skeleton at a typo'd path and 'maintain' it silently — mirror
        # the --history existence guard, before any Spark session spins
        # up (r6 ADVICE)
        print(f"error: no icelite table at {args.curate_table}",
              file=sys.stderr)
        return 2

    if args.history:
        # metadata-only: no Spark session, and NO table construction —
        # instantiating IceliteTable would mkdir a skeleton at a typo'd
        # path and make "no such table" indistinguishable from "empty
        # table" (r5 review)
        from sanskrit_ocr_spark.tables.icelite import IceliteTable

        table_root = os.path.join(args.root, "extracted")
        if not os.path.isdir(os.path.join(table_root, "_icelite")):
            print(f"error: no icelite table at {table_root}",
                  file=sys.stderr)
            return 2
        t = IceliteTable.__new__(IceliteTable)  # read-only handle
        t.root = table_root
        out = {"snapshot_id": t.snapshot_id(),
               "total_rows": t.row_count(),
               "history": t.history()}
        tags, branches = t.tags(), t.branches()
        if tags or branches:
            # named refs (WAP publish branches, release tags) are part
            # of the table's observable state
            out["refs"] = {**({"tags": tags} if tags else {}),
                           **({"branches": branches} if branches else {})}
        print(json.dumps(out))
        return 0

    if args.inspect:
        # metadata tables straight from manifests + parquet footers —
        # O(live files) driver-side metadata reads, no Spark session
        # (the handle's spark/schema are unused on this path)
        from pyspark.sql.types import StructType as _ST

        from sanskrit_ocr_spark.tables.icelite import IceliteTable

        # default target: the extracted table; --curate-table points the
        # same inspection at the curation corpus root instead
        table_root = (args.curate_table
                      or os.path.join(args.root, "extracted"))
        if not os.path.isdir(os.path.join(table_root, "_icelite")):
            print(f"error: no icelite table at {table_root}",
                  file=sys.stderr)
            return 2
        t = IceliteTable(None, table_root, _ST([]))
        if args.inspect == "files":
            body = t.inspect_file_rows()
        elif args.inspect == "partitions":
            agg: dict = {}
            for r in t.inspect_file_rows():
                if r["content"] != "data":
                    continue
                a = agg.setdefault(r["partition"], {
                    "partition": r["partition"], "n_files": 0,
                    "record_count": 0, "file_size_bytes": 0})
                a["n_files"] += 1
                a["record_count"] += r["record_count"]
                a["file_size_bytes"] += r["file_size_bytes"]
            body = sorted(agg.values(), key=lambda a: a["partition"])
        elif args.inspect == "snapshots":
            body = t.history()
        else:  # refs
            body = ([{"name": n, "kind": "tag", "snapshot_id": s}
                     for n, s in sorted(t.tags().items())]
                    + [{"name": n, "kind": "branch", "snapshot_id": s}
                       for n, s in sorted(t.branches().items())])
        print(json.dumps({"snapshot_id": t.snapshot_id(),
                          args.inspect: body}))
        return 0

    if args.evolve_partitioning and not os.path.isdir(
            os.path.join(args.root, "extracted", "_icelite")):
        print(f"error: no icelite table at {args.root}/extracted",
              file=sys.stderr)
        return 2

    spark = build_spark(app="extract-job", master=args.master,
                        shuffle_partitions=args.shuffle_partitions)
    try:
        if args.evolve_partitioning:
            from sanskrit_ocr_spark.extract.job import (
                evolve_extracted_layout,
            )
            try:
                print(json.dumps(evolve_extracted_layout(spark,
                                                         args.root)))
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            return 0
        if args.maintain:
            # lifecycle maintenance (Iceberg's rewrite_data_files /
            # expire_snapshots / remove_orphan_files): compaction also
            # APPLIES any pending merge-on-read equality deletes, so a
            # re-crawl-heavy table returns to the single-scan read path.
            # Guard the layout flag against the table's ACTUAL layout:
            # compacting a hive-partitioned table under an unpartitioned
            # handle would seal the wrong schema and rewrite away the
            # partition dirs. The check reads the persisted partition
            # spec.
            from sanskrit_ocr_spark.tables.icelite import IceliteTable
            on_disk_partitioned = bool(IceliteTable.stored_partition_cols(
                os.path.join(args.root, "extracted")))
            if on_disk_partitioned and not args.partitioned:
                print("error: table at --root uses the partitioned layout;"
                      " re-run --maintain with --partitioned",
                      file=sys.stderr)
                return 2
            ext_t = extracted_table(spark, args.root,
                                    partitioned=args.partitioned)
            n_before = len(ext_t.committed_files())
            # partitioned tables compact through the layout backfill:
            # deterministic recompute (idempotent on already-correct
            # rows), and rows written before an --evolve-partitioning
            # migration get their NULL layout columns filled so the
            # rewrite lands in proper hive dirs
            from sanskrit_ocr_spark.extract.job import backfill_layout
            sid = ext_t.compact(
                target_partitions=args.compact_partitions,
                transform=backfill_layout if args.partitioned else None)
            purged = None
            if cutoff is not None:
                # retention purge AFTER compaction: pending MOR deletes
                # are applied (delete_where refuses them) and the
                # rewrite just range-clustered on warc_ts, so the stats
                # prune limits the purge's rewrite to the files the
                # cutoff actually touches
                psid, purged = ext_t.delete_where(
                    F.col("warc_ts") < F.lit(cutoff),
                    prune={"warc_ts": (None, cutoff)})
                sid = max(sid, psid)
            expired = ext_t.expire_snapshots(keep_last=args.expire_keep,
                                             older_than=expire_cutoff)
            orphans = ext_t.remove_orphans()
            out = {
                "snapshot_id": sid,
                "files_before": n_before,
                "files_after": len(ext_t.committed_files()),
                "expired_snapshots": len(expired),
                "orphans_removed": len(orphans),
                "rows": ext_t.row_count() or ext_t.read().count(),
            }
            if purged is not None:
                out["purged_rows"] = purged
            if args.curate_table:
                # with incremental curation in play the CORPUS table
                # accumulates one commit per curated batch too — maintain
                # it in the same pass (compaction carries the curation
                # watermark through, tests/test_curate_incremental.py)
                from sanskrit_ocr_spark.extract.curate import _corpus_schema
                from sanskrit_ocr_spark.tables.icelite import IceliteTable
                cor = IceliteTable(spark, args.curate_table,
                                   _corpus_schema())
                cb = len(cor.committed_files())
                csid = cor.compact(
                    target_partitions=args.compact_partitions)
                cexp = cor.expire_snapshots(keep_last=args.expire_keep)
                corph = cor.remove_orphans()
                out["corpus"] = {
                    "snapshot_id": csid,
                    "files_before": cb,
                    "files_after": len(cor.committed_files()),
                    "expired_snapshots": len(cexp),
                    "orphans_removed": len(corph),
                    "rows": cor.row_count() or cor.read().count(),
                }
            print(json.dumps(out))
            return 0
        if args.stream_warc:
            from sanskrit_ocr_spark.streaming.ingest import start_warc_ingest
            ext_t = extracted_table(spark, args.root)
            before = ext_t.row_count() or 0
            ckpt = args.checkpoint or f"{args.root}/_checkpoint"
            q = start_warc_ingest(spark, args.stream_warc, args.root, ckpt,
                                  available_now=True,
                                  recrawl=args.recrawl,
                                  # continuous per-micro-batch curation;
                                  # the post-drain curate_table call in
                                  # the summary then no-ops (watermark
                                  # already caught up) and just reports
                                  curate_root=args.curate_table,
                                  audit_max_fail_rate=args
                                  .audit_max_fail_rate,
                                  publish_branch=args.publish_branch)
            q.awaitTermination()
            res = {"snapshot_id": ext_t.snapshot_id(),
                   "inserted": (ext_t.row_count() or 0) - before}
            if args.audit_max_fail_rate is not None:
                # quarantine log: audit-rejected micro-batches (consumed,
                # tallied, never published)
                rej_root = os.path.join(args.root, "rejected", "_icelite")
                res["rejected_batches"] = 0
                if os.path.isdir(rej_root):
                    from sanskrit_ocr_spark.streaming.ingest import (
                        rejected_table,
                    )
                    res["rejected_batches"] = (
                        rejected_table(spark, args.root).read()
                        .select("batch_id").distinct().count())
        else:
            if args.rows is not None:
                pages = pages_df(spark, args.rows)
            elif args.input_warc:
                from sanskrit_ocr_spark.sources.warclite import read_warc
                # drop unparseable members (counted NULL-url by the reader)
                pages = read_warc(spark, args.input_warc) \
                    .filter(F.col("url").isNotNull())
            else:
                pages = spark.read.parquet(args.input)

            res = run_extraction(
                spark, pages, args.root,
                salt_partitions=args.salt_partitions,
                partitioned=args.partitioned,
                merge_prefilter_buckets=args.merge_prefilter_buckets,
                recrawl=args.recrawl,
                bucket_urls=args.bucket_urls,
                sort_ts=args.sort_ts,
                audit_max_fail_rate=args.audit_max_fail_rate,
                publish_branch=args.publish_branch)

        ext_t = extracted_table(spark, args.root,
                                partitioned=args.partitioned)
        lin = lineage_table(spark, args.root).read()
        # ONE Spark job for the summary: the lineage aggregate. The totals
        # come from merge_on_key's footer-derived counts, recorded in the
        # commit manifest — no extra scan of the extracted table; and
        # distinct_urls == extracted_total by construction (MERGE on url
        # guarantees key uniqueness; asserted in tests/test_icelite_resume).
        fail_tallies = {
            r["fail_code"]: r["n"]
            for r in lin.groupBy("fail_code")
            .agg(F.sum("fail_count").alias("n")).collect()
        }
        total = ext_t.row_count()
        if total is None:  # table written outside merge_on_key: fall back
            total = ext_t.read().count()
        summary = {
            "snapshot_id": res["snapshot_id"],
            **({"inserted": res["inserted"]} if "inserted" in res else {}),
            **({"updated": res["updated"]} if "updated" in res else {}),
            **({"rejected_batches": res["rejected_batches"]}
               if "rejected_batches" in res else {}),
            "extracted_total": total,
            "distinct_urls": total,
            "fail_tallies": fail_tallies,
        }
        if "audit" in res:
            summary["audit"] = res["audit"]
        # downstream incremental consumers read at the published branch
        # when one is in play — never past it into unaudited staging
        pub_sid = (ext_t.branches().get(args.publish_branch)
                   if args.publish_branch else None)
        if args.curate_dest:
            from sanskrit_ocr_spark.extract.curate import curate, write_corpus
            summary["corpus"] = write_corpus(curate(ext_t.read()),
                                             args.curate_dest)
        if args.curate_table:
            from sanskrit_ocr_spark.extract.curate import curate_table
            summary["corpus_incremental"] = curate_table(
                spark, args.curate_table, ext_t,
                bucket_hashes=args.bucket_hashes, to_sid=pub_sid)
        if args.wet_table:
            from sanskrit_ocr_spark.extract.wet import export_wet_incremental
            summary["wet_incremental"] = export_wet_incremental(
                spark, args.wet_table, ext_t, to_sid=pub_sid)
        if args.wet_dest:
            from sanskrit_ocr_spark.sources.warclite import write_wet
            segs = write_wet(
                ext_t.read().filter(F.col("status") == "OK"),
                args.wet_dest).collect()
            summary["wet"] = {
                "segments": len(segs),
                "records": int(sum(r["n_records"] for r in segs)),
            }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
