"""r7 correctness fixes (ADVICE round 6): bucket-spec validation,
tz-aware stat serialization, WAP-heal lineage cleanup, spec-evolution
crash ordering."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from sanskrit_ocr_spark.tables.icelite import ConcurrentCommitError, IceliteTable

SCHEMA = StructType([
    StructField("k", StringType(), False),
    StructField("v", LongType(), False),
])


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_bucket_mismatch_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA, bucket=("k", 8))
    t.append(_df(spark, [("a", 1)]))
    # same declared spec reopens fine
    IceliteTable(spark, root, SCHEMA, bucket=("k", 8))
    # different N is the silent-key-uniqueness-breakage case: loud fail
    with pytest.raises(ValueError, match="differs"):
        IceliteTable(spark, root, SCHEMA, bucket=("k", 16))
    with pytest.raises(ValueError, match="differs"):
        IceliteTable(spark, root, SCHEMA, bucket=("v", 8))


def test_bucket_on_existing_unbucketed_table_rejected(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    with pytest.raises(ValueError, match="no persisted bucket spec"):
        IceliteTable(spark, root, SCHEMA, bucket=("k", 8))
    # an EMPTY pre-existing table may still adopt a bucket layout
    root2 = str(tmp_path / "t2")
    IceliteTable(spark, root2, SCHEMA)
    t2 = IceliteTable(spark, root2, SCHEMA, bucket=("k", 8))
    t2.append(_df(spark, [("a", 1)]))
    assert IceliteTable(spark, root2, SCHEMA).bucket == ("k", 8)


def test_stat_ser_normalizes_aware_datetimes_to_utc():
    aware = dt.datetime(2024, 1, 2, 3, 0, 0,
                        tzinfo=dt.timezone(dt.timedelta(hours=-5)))
    # UTC instant is 08:00 — the serialized bound must say so, or range
    # pruning under-approximates and delete_where/purge misses rows
    assert IceliteTable._stat_ser(aware) == "2024-01-02 08:00:00.000000"
    naive = dt.datetime(2024, 1, 2, 3, 0, 0)
    assert IceliteTable._stat_ser(naive) == "2024-01-02 03:00:00.000000"


def test_wap_heal_purges_orphaned_lineage(spark, tmp_path):
    """A crash between commit and publish leaves staging above the
    branch; the next audited run's heal must erase the staged commits'
    LINEAGE rows too — snapshot ids are reused after the rollback, so
    stale rows would double-count fail tallies under the reused sid."""
    from sanskrit_ocr_spark.datagen.pages import pages_df
    from sanskrit_ocr_spark.extract.job import (
        extracted_table,
        lineage_table,
        run_extraction,
    )

    root = str(tmp_path / "root")
    r1 = run_extraction(spark, pages_df(spark, 60), root,
                        audit_max_fail_rate=1.0,
                        publish_branch="published")
    # unaudited writer stages ABOVE the branch and writes lineage
    run_extraction(spark, pages_df(spark, 100), root)
    lin = lineage_table(spark, root)
    staged_sids = {r["snapshot_id"]
                   for r in lin.read().select("snapshot_id").collect()}
    assert max(staged_sids) > r1["snapshot_id"]
    # audited run: heal discards the staging AND its lineage rows, then
    # re-extracts under the reused sid — exactly one generation remains
    r2 = run_extraction(spark, pages_df(spark, 100), root,
                        audit_max_fail_rate=1.0,
                        publish_branch="published")
    lin = lineage_table(spark, root)
    rows = lin.read().select("snapshot_id", "partition_hash",
                             "fail_code").collect()
    sids = sorted({r["snapshot_id"] for r in rows})
    assert sids == sorted({r1["snapshot_id"], r2["snapshot_id"]})
    # no duplicated (sid, partition, code) rows — the double-count bug
    keys = [(r["snapshot_id"], r["partition_hash"], r["fail_code"])
            for r in rows]
    assert len(keys) == len(set(keys))
    # and the published table itself healed to all 100 pages' urls
    ext = extracted_table(spark, root)
    assert ext.branches()["published"] == ext.snapshot_id()


def test_evolve_spec_restores_file_on_lost_commit_race(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    spec_path = os.path.join(root, "_icelite", "partition_spec.json")
    assert not os.path.exists(spec_path)

    # force the marker commit to lose: pre-create the manifest the
    # evolve would write (another writer won the race)
    sid = t.snapshot_id() + 1
    mpath = os.path.join(root, "_icelite", "commits", f"{sid}.json")
    with open(mpath, "x") as f:
        json.dump({"snapshot_id": sid, "parent": sid - 1,
                   "new_files": []}, f)
    with pytest.raises(ConcurrentCommitError):
        t.evolve_partition_spec(["k"])
    # the pre-written spec intent was rolled back
    assert not os.path.exists(spec_path)
    os.unlink(mpath)

    # and a clean evolve writes spec + marker
    t2 = IceliteTable(spark, root, SCHEMA)
    t2.evolve_partition_spec(["k"])
    with open(spec_path) as f:
        assert json.load(f)["partition_cols"] == ["k"]


def test_evolve_spec_marker_lands_at_its_intended_sid(spark, tmp_path):
    """A second handle committing between the spec-file write and the
    marker commit must not be attributed to the new spec: the marker
    commits AT the sid the spec history names, so the interloper makes
    it fail, and the previous spec (here: none) comes back."""
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    other = IceliteTable(spark, root, SCHEMA)
    spec_path = os.path.join(root, "_icelite", "partition_spec.json")
    marker = t.commit_meta

    def interloped(extra, **kw):
        assert os.path.exists(spec_path)  # the spec file is already out
        other.commit_meta({"interloper": True})
        return marker(extra, **kw)

    t.commit_meta = interloped
    with pytest.raises(ConcurrentCommitError):
        t.evolve_partition_spec(["k"])
    assert not os.path.exists(spec_path)
    assert t.snapshot_id() == 2 and t.history()[0]["kind"] == "meta"
    assert t.partition_cols == []

    # retried without interference: spec history names the marker's sid
    del t.commit_meta
    sid = t.evolve_partition_spec(["k"])
    with open(spec_path) as f:
        assert json.load(f)["history"][-1] == {"cols": ["k"],
                                               "from_sid": sid}
    assert t.history()[0]["kind"] == "spec"


def test_expire_older_than_naive_is_utc(spark, tmp_path):
    """A naive ``older_than`` is interpreted as UTC against the UTC
    ``committed_at_ms``, regardless of process-local timezone."""
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA)
    t.append(_df(spark, [("a", 1)]))
    t.append(_df(spark, [("b", 2)]))
    t.append(_df(spark, [("c", 3)]))
    # cutoff far in the (UTC) past: nothing is old enough → no expiry
    past = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) \
        - dt.timedelta(days=1)
    assert t.expire_snapshots(keep_last=1, older_than=past) == []
    # cutoff in the (UTC) future: time criterion passes; keep_last floors
    future = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None) \
        + dt.timedelta(days=1)
    expired = t.expire_snapshots(keep_last=1, older_than=future)
    assert expired == [1, 2]


def test_merge_presieved_matches_full_antijoin(spark, tmp_path):
    """merge_on_key(presieved_at=sid): skips the committed-side
    anti-join only when committing at exactly that snapshot; a STALE
    certificate (parent moved since the sieve) must fall back to the
    full anti-join and keep key uniqueness."""
    root = str(tmp_path / "t")
    t = IceliteTable(spark, root, SCHEMA)
    t.append(_df(spark, [("a", 1), ("b", 2)]))
    sieved_at = t.snapshot_id()
    # batch correctly sieved against sieved_at: no committed keys in it
    batch = _df(spark, [("c", 3), ("d", 4)])
    sid, ins = t.merge_on_key(batch, "k", order_col="v",
                              presieved_at=sieved_at)
    assert ins == 2
    rows = {r["k"] for r in t.read().collect()}
    assert rows == {"a", "b", "c", "d"}

    # STALE certificate: another commit (adding "e") lands after the
    # sieve; a batch sieved against the OLD snapshot may now carry a
    # committed key ("e") — the merge must detect parent != presieved_at
    # and anti-join it away
    stale_sieve = t.snapshot_id()
    t.append(_df(spark, [("e", 5)]))
    batch2 = _df(spark, [("e", 99), ("f", 6)])
    sid2, ins2 = t.merge_on_key(batch2, "k", order_col="v",
                                presieved_at=stale_sieve)
    assert ins2 == 1  # only "f"; "e" stays (5), no duplicate key
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {"a": 1, "b": 2, "c": 3, "d": 4, "e": 5, "f": 6}
