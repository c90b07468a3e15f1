"""Randomized table-lifecycle fuzz: interleave merge_on_key /
merge_upsert_mor / compact / expire_snapshots in random order and assert
after EVERY step that the table content equals a plain Python model —
the r5 review showed the bugs live in operation INTERACTIONS (seal ×
watermark, compact × extra_meta), not in single operations."""

import random

from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType, StructField, StructType, TimestampType,
)

SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), False),
    StructField("text", StringType(), False),
])


def _batch(spark, keys, tag, day):
    rows = [(f"https://ex.org/{k}", f"2025-07-{day:02d} 00:00:00",
             f"{tag}-{k}") for k in keys]
    return spark.createDataFrame(
        rows, "url string, warc_ts string, text string") \
        .withColumn("warc_ts", F.to_timestamp("warc_ts"))


def _check(t, model, step):
    got = {r["url"]: r["text"] for r in t.read().collect()}
    assert got == model, f"content diverged after step {step}"
    rc = t.row_count()
    assert rc is None or rc == len(model), f"row_count after {step}"
    h = t.history()
    assert h and h[0]["snapshot_id"] == t.snapshot_id()


def test_lifecycle_fuzz(spark, tmp_path):
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    for seed in (5, 23):
        rng = random.Random(seed)
        t = IceliteTable(spark, str(tmp_path / f"fz{seed}"), SCHEMA)
        model: dict = {}
        day = 1
        # seed batch so maintenance ops have something to chew on
        keys = list(range(30))
        t.merge_on_key(_batch(spark, keys, "v0", day), "url",
                       order_col="warc_ts")
        model.update({f"https://ex.org/{k}": f"v0-{k}" for k in keys})
        _check(t, model, "seed")

        for step in range(10):
            op = rng.choice(["merge", "merge", "mor", "mor",
                             "compact", "expire"])
            day = min(day + 1, 28)
            lo = rng.randrange(0, 50)
            ks = list(range(lo, lo + rng.randrange(1, 15)))
            tag = f"s{step}"
            if op == "merge":
                t.merge_on_key(_batch(spark, ks, tag, day), "url",
                               order_col="warc_ts")
                for k in ks:
                    model.setdefault(f"https://ex.org/{k}", f"{tag}-{k}")
            elif op == "mor":
                t.merge_upsert_mor(_batch(spark, ks, tag, day), "url",
                                   order_col="warc_ts")
                for k in ks:
                    model[f"https://ex.org/{k}"] = f"{tag}-{k}"
            elif op == "compact":
                t.compact(target_partitions=rng.choice([1, 2, 4]))
            else:
                t.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
            _check(t, model, f"{seed}/{step}:{op}")

def test_lifecycle_fuzz_bucket_layout(spark, tmp_path):
    """Same op-interleaving fuzz over a bucket-layout table (r6): every
    merge runs bucket-pruned against the committed side, maintenance
    must rewrite under the layout, and after every step a
    bucket-restricted read must partition the table exactly."""
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    n_buckets = 4
    for seed in (11,):
        rng = random.Random(seed)
        t = IceliteTable(spark, str(tmp_path / f"bfz{seed}"), SCHEMA,
                        bucket=("url", n_buckets))
        model: dict = {}
        day = 1
        keys = list(range(30))
        t.merge_on_key(_batch(spark, keys, "v0", day), "url",
                       order_col="warc_ts")
        model.update({f"https://ex.org/{k}": f"v0-{k}" for k in keys})
        _check(t, model, "seed")

        for step in range(10):
            op = rng.choice(["merge", "merge", "mor", "mor",
                             "compact", "expire"])
            day = min(day + 1, 28)
            lo = rng.randrange(0, 50)
            ks = list(range(lo, lo + rng.randrange(1, 15)))
            tag = f"s{step}"
            if op == "merge":
                t.merge_on_key(_batch(spark, ks, tag, day), "url",
                               order_col="warc_ts")
                for k in ks:
                    model.setdefault(f"https://ex.org/{k}", f"{tag}-{k}")
            elif op == "mor":
                t.merge_upsert_mor(_batch(spark, ks, tag, day), "url",
                                   order_col="warc_ts")
                for k in ks:
                    model[f"https://ex.org/{k}"] = f"{tag}-{k}"
            elif op == "compact":
                t.compact(target_partitions=rng.choice([1, 2]))
            else:
                t.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
            _check(t, model, f"b{seed}/{step}:{op}")
            # bucket-restricted reads partition the table: each key
            # appears in exactly the bucket its hash selects
            per_bucket = [
                {r["url"] for r in t.read(buckets=[b]).collect()}
                for b in range(n_buckets)]
            union = set().union(*per_bucket)
            assert union == set(model), f"bucket union b{seed}/{step}"
            assert sum(len(s) for s in per_bucket) == len(model), \
                f"bucket overlap b{seed}/{step}"

def test_lifecycle_fuzz_sorted_stats_deletes(spark, tmp_path):
    """Op-interleaving fuzz over a table with declared stat columns AND
    write sort order, widened with equality-delete-only, copy-on-write
    delete_where and metadata-only commits: after every step the
    content matches the model, a random ts-range prune + filter returns
    exactly the model's matching rows, and every committed file stays
    internally ts-ordered."""
    from datetime import datetime

    import pyarrow.parquet as pq

    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    def day_of(url):
        return model_day[url]

    for seed in (7,):
        rng = random.Random(seed)
        t = IceliteTable(spark, str(tmp_path / f"sfz{seed}"), SCHEMA,
                         stat_cols=["warc_ts"], sort_cols=["warc_ts"])
        model: dict = {}
        model_day: dict = {}
        day = 1
        keys = list(range(30))
        t.merge_on_key(_batch(spark, keys, "v0", day), "url",
                       order_col="warc_ts")
        for k in keys:
            model[f"https://ex.org/{k}"] = f"v0-{k}"
            model_day[f"https://ex.org/{k}"] = day

        for step in range(12):
            op = rng.choice(["merge", "merge", "mor", "mor", "delete",
                             "delwhere", "compact", "expire", "meta"])
            day = min(day + 1, 28)
            lo = rng.randrange(0, 50)
            ks = list(range(lo, lo + rng.randrange(1, 15)))
            tag = f"s{step}"
            if op == "merge":
                t.merge_on_key(_batch(spark, ks, tag, day), "url",
                               order_col="warc_ts")
                for k in ks:
                    u = f"https://ex.org/{k}"
                    if u not in model:
                        model[u] = f"{tag}-{k}"
                        model_day[u] = day
            elif op == "mor":
                t.merge_upsert_mor(_batch(spark, ks, tag, day), "url",
                                   order_col="warc_ts")
                for k in ks:
                    u = f"https://ex.org/{k}"
                    model[u] = f"{tag}-{k}"
                    model_day[u] = day
            elif op == "delete":
                urls = [f"https://ex.org/{k}" for k in ks]
                t.delete_keys(
                    spark.createDataFrame([(u,) for u in urls],
                                          "url string"), "url")
                for u in urls:
                    model.pop(u, None)
                    model_day.pop(u, None)
            elif op == "delwhere":
                # the files delete_where carries into its full manifest
                # keep their older commit directories: the one case where
                # a group's commit id and its files' directory ids differ
                d1 = rng.randrange(1, day + 1)
                lo_ts = datetime(2025, 7, d1)
                hi_ts = datetime(2025, 7, d1, 23, 59, 59)
                pred = F.col("warc_ts").between(F.lit(lo_ts), F.lit(hi_ts))
                try:
                    t.delete_where(pred, prune={"warc_ts": (lo_ts, hi_ts)})
                except ValueError:  # pending MOR deletes: compact first
                    t.compact(target_partitions=rng.choice([1, 2, 4]))
                    t.delete_where(pred, prune={"warc_ts": (lo_ts, hi_ts)})
                for u in [u for u, d in model_day.items() if d == d1]:
                    model.pop(u)
                    model_day.pop(u)
            elif op == "compact":
                t.compact(target_partitions=rng.choice([1, 2, 4]))
            elif op == "expire":
                t.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
            else:
                t.commit_meta({"fuzz_step": step})
            _check(t, model, f"s{seed}/{step}:{op}")
            # random ts-window prune: skipping must stay exact under
            # every op interleaving
            d1 = rng.randrange(1, day + 1)
            d2 = rng.randrange(d1, day + 1)
            lo_ts = datetime(2025, 7, d1)
            hi_ts = datetime(2025, 7, d2, 23, 59, 59)
            got = {r["url"]: r["text"] for r in
                   t.read(prune={"warc_ts": (lo_ts, hi_ts)})
                   .filter(F.col("warc_ts").between(
                       F.lit(lo_ts), F.lit(hi_ts))).collect()}
            want = {u: v for u, v in model.items()
                    if d1 <= model_day[u] <= d2}
            assert got == want, f"prune diverged s{seed}/{step}:{op}"
            # every committed data file stays internally ts-ordered
            for f in t.committed_files():
                col = pq.read_table(f, columns=["warc_ts"])["warc_ts"] \
                    .to_pylist()
                assert col == sorted(col), f"unsorted file after {op}"


def test_lifecycle_fuzz_spec_evolution(spark, tmp_path):
    """Op-interleaving fuzz with partition-spec evolution in the mix
    (r6): the spec toggles between unpartitioned and hive-on-day while
    merges / MOR upserts / compaction / expiry interleave — content must
    match the Python model after EVERY step even while commits span
    several physical layouts."""
    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    schema = StructType([
        StructField("url", StringType(), False),
        StructField("day", StringType(), False),
        StructField("warc_ts", TimestampType(), False),
        StructField("text", StringType(), False),
    ])

    def batch(keys, tag, day):
        rows = [(f"https://ex.org/{k}", f"d{k % 3}",
                 f"2025-07-{day:02d} 00:00:00", f"{tag}-{k}")
                for k in keys]
        return spark.createDataFrame(
            rows, "url string, day string, warc_ts string, text string") \
            .withColumn("warc_ts", F.to_timestamp("warc_ts"))

    for seed in (7, 41):
        rng = random.Random(seed)
        t = IceliteTable(spark, str(tmp_path / f"sfz{seed}"), schema)
        model: dict = {}
        day = 1
        keys = list(range(30))
        t.merge_on_key(batch(keys, "v0", day), "url",
                       order_col="warc_ts")
        model.update({f"https://ex.org/{k}": f"v0-{k}" for k in keys})
        _check(t, model, "seed")

        for step in range(12):
            op = rng.choice(["merge", "merge", "mor", "mor",
                             "compact", "expire", "evolve", "evolve"])
            day = min(day + 1, 28)
            lo = rng.randrange(0, 50)
            ks = list(range(lo, lo + rng.randrange(1, 15)))
            tag = f"s{step}"
            if op == "merge":
                t.merge_on_key(batch(ks, tag, day), "url",
                               order_col="warc_ts")
                for k in ks:
                    model.setdefault(f"https://ex.org/{k}", f"{tag}-{k}")
            elif op == "mor":
                t.merge_upsert_mor(batch(ks, tag, day), "url",
                                   order_col="warc_ts")
                for k in ks:
                    model[f"https://ex.org/{k}"] = f"{tag}-{k}"
            elif op == "compact":
                t.compact(target_partitions=rng.choice([1, 2, 4]))
            elif op == "expire":
                t.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
            else:
                target = ["day"] if t.partition_cols == [] else []
                t.evolve_partition_spec(target)
            _check(t, model, f"e{seed}/{step}:{op}")
            # a day-restricted read stays exact across mixed layouts
            got = {r["url"]: r["text"] for r in
                   t.read().filter(F.col("day") == "d1").collect()}
            want = {u: v for u, v in model.items()
                    if int(u.rsplit("/", 1)[1]) % 3 == 1}
            assert got == want, f"day filter diverged e{seed}/{step}:{op}"


def test_lifecycle_fuzz_cdc_and_inspection(spark, tmp_path):
    """Op-interleaving fuzz over the r6 verbs: delete_where (pruned
    copy-on-write range purge) joins merge / MOR / delete_keys /
    compact / expire / meta, and after EVERY step three independent
    views must agree with the Python model:

    1. content (`read`) — the base invariant;
    2. the `files` metadata table — footer record_counts of live data
       files must sum to >= model size (equality when no MOR deletes
       are pending), and its data file list must BE committed_files();
    3. the row-level changelog across the step — folding the step's
       insert/delete events over the pre-step snapshot must reproduce
       the post-step snapshot (skipped where provenance is legitimately
       gone: compaction/seal in range, expired pre-step snapshot)."""
    from datetime import datetime

    from sanskrit_ocr_spark.tables.icelite import IceliteTable

    for seed in (13,):
        rng = random.Random(seed)
        t = IceliteTable(spark, str(tmp_path / f"cfz{seed}"), SCHEMA,
                         stat_cols=["warc_ts"])
        model: dict = {}
        model_day: dict = {}
        day = 1
        keys = list(range(30))
        t.merge_on_key(_batch(spark, keys, "v0", day), "url",
                       order_col="warc_ts")
        for k in keys:
            model[f"https://ex.org/{k}"] = f"v0-{k}"
            model_day[f"https://ex.org/{k}"] = day

        for step in range(14):
            op = rng.choice(["merge", "mor", "mor", "delkeys",
                             "delwhere", "compact", "expire", "meta"])
            prev = t.snapshot_id()
            prev_alive = sorted(
                (r["url"], r["text"]) for r in t.read().collect())
            day = min(day + 1, 28)
            lo = rng.randrange(0, 50)
            ks = list(range(lo, lo + rng.randrange(1, 15)))
            tag = f"s{step}"
            if op == "merge":
                t.merge_on_key(_batch(spark, ks, tag, day), "url",
                               order_col="warc_ts")
                for k in ks:
                    u = f"https://ex.org/{k}"
                    if u not in model:
                        model[u], model_day[u] = f"{tag}-{k}", day
            elif op == "mor":
                t.merge_upsert_mor(_batch(spark, ks, tag, day), "url",
                                   order_col="warc_ts")
                for k in ks:
                    u = f"https://ex.org/{k}"
                    model[u], model_day[u] = f"{tag}-{k}", day
            elif op == "delkeys":
                urls = [f"https://ex.org/{k}" for k in ks]
                t.delete_keys(
                    spark.createDataFrame([(u,) for u in urls],
                                          "url string"), "url")
                for u in urls:
                    model.pop(u, None)
                    model_day.pop(u, None)
            elif op == "delwhere":
                d1 = rng.randrange(1, day + 1)
                lo_ts = datetime(2025, 7, d1)
                hi_ts = datetime(2025, 7, d1, 23, 59, 59)
                try:
                    t.delete_where(
                        F.col("warc_ts").between(F.lit(lo_ts),
                                                 F.lit(hi_ts)),
                        prune={"warc_ts": (lo_ts, hi_ts)})
                except ValueError:
                    pass  # pending MOR deletes: legitimately refused
                else:
                    for u in [u for u, d in model_day.items() if d == d1]:
                        model.pop(u, None)
                        model_day.pop(u, None)
            elif op == "compact":
                t.compact(target_partitions=rng.choice([1, 2, 4]))
            elif op == "expire":
                t.expire_snapshots(keep_last=rng.choice([1, 2, 3]))
            else:
                t.commit_meta({"fuzz_step": step})
            _check(t, model, f"c{seed}/{step}:{op}")

            # 2. files metadata table vs reality
            frows = t.inspect_file_rows()
            data_rows = [r for r in frows if r["content"] == "data"]
            pending = [r for r in frows if r["content"] != "data"]
            data_total = sum(r["record_count"] for r in data_rows)
            assert data_total >= len(model), f"files< c{seed}/{step}"
            if not pending:
                assert data_total == len(model), f"files!= c{seed}/{step}"
            assert sorted(r["file_path"] for r in data_rows) == \
                sorted(t.committed_files()), f"filelist c{seed}/{step}"

            # 3. changelog fold across the step
            cur = t.snapshot_id()
            if cur > prev:
                try:
                    log = t.read_changelog(prev, cur).collect()
                except ValueError:
                    pass  # compact/seal in range: provenance gone
                else:
                    folded = list(prev_alive)
                    folded += [(r["url"], r["text"]) for r in log
                               if r["_change_type"] == "insert"]
                    for d in [(r["url"], r["text"]) for r in log
                              if r["_change_type"] == "delete"]:
                        folded.remove(d)
                    assert sorted(folded) == sorted(
                        (u, v) for u, v in model.items()), \
                        f"fold c{seed}/{step}:{op}"
