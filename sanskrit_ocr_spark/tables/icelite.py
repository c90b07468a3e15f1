"""icelite — a minimal snapshot/commit table layer over parquet.

This sandbox ships no Iceberg runtime jars, so the Iceberg discipline the
north_rule requires (snapshot isolation, atomic commits, MERGE-on-url
idempotent resume) is provided by this small, self-contained layer with the
same *semantics*, behind one interface. On a real cluster the class is a
drop-in seam: replace with ``spark.read.format("iceberg")`` /
``df.writeTo(...).append()`` / ``MERGE INTO`` — every call site keeps its
shape.

Layout on disk::

    <root>/
      data/commit-<n>-<token>/part-*.parquet      unpartitioned commits
      data/__commit=<n>-<token>/<k>=<v>/...       hive-partitioned commits
      data/delete-<n>-<token>/part-*.parquet      equality-delete keys
      _icelite/commits/<n>.json                   DELTA manifest (new files
                                                  only + parent pointer)
      _icelite/HEAD                               current snapshot id

Commit protocol (optimistically concurrent, crash-safe):

1. stage data files into a UNIQUE directory (snapshot id + random token —
   Iceberg's unique-file-name discipline): two writers racing for the same
   snapshot id can never overwrite each other's files, no matter how the
   race resolves;
2. create ``_icelite/commits/<n>.json`` EXCLUSIVELY, listing only the NEW
   files plus a parent pointer (a delta manifest — the cumulative list is
   resolved by walking parents, so manifest size stays O(commit), not
   O(history) — Iceberg's manifest-list analog). A concurrent writer that
   already took snapshot ``n`` makes this raise ``ConcurrentCommitError``;
   the loser's staged directory is removed and the caller retries from the
   new HEAD — nothing of the winner's is clobbered;
3. atomically rename a temp HEAD → ``_icelite/HEAD``.

A crash between any steps leaves HEAD pointing at the previous snapshot;
orphaned staging directories are ignored by readers — exactly Iceberg's
"readers never see uncommitted files" contract. This is what makes the
kill-and-resume test (tests/test_icelite_resume.py) honest: re-running after
a mid-job kill re-extracts only pages whose url is absent from the last
*committed* snapshot (reference resume semantics,
``datagen/translate_bookcorpus.py:37-50`` — checkpoint = count of committed
sink rows — upgraded from offset-skip to key-based anti-join, SURVEY.md J3).

Reads plan one data scan per physical layout and one delete scan per key
column, whatever the commit count: unpartitioned commits resolve to an
explicit file list; hive-partitioned commits name their directory
``__commit=<n>-<token>`` so the commit level parses as a (dropped)
partition column under a shared ``basePath``, PartitionFilters intact.
Pending merge-on-read equality deletes need each row's commit id; it is
parsed from the row's file path (every data and delete directory carries
its commit id in its name), so a thousand incremental commits still plan
as one scan anti-joined against one delete scan, not a thousand-way union.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from sanskrit_ocr_spark.ops.util import keep_first


class ConcurrentCommitError(RuntimeError):
    """Another writer committed the same snapshot id first — the Iceberg
    optimistic-concurrency contract: the loser retries from the new HEAD
    instead of silently clobbering the manifest."""


class IceliteTable:
    """``partition_cols``: hive-style directory partitioning for every
    commit (the icelite analog of Iceberg's partition spec — e.g.
    ``["warc_day", "bucket"]`` gives the north_rule's range-on-time ×
    bucket-on-url layout, and Spark's scan prunes directories from
    partition-column predicates)."""

    def __init__(self, spark: SparkSession, root: str, schema: StructType,
                 partition_cols: list[str] | None = None,
                 stat_cols: list[str] | None = None,
                 bucket: tuple[str, int] | None = None,
                 sort_cols: list[str] | None = None):
        self.spark = spark
        self.root = root
        self.schema = schema  # creation-time schema (pre-evolution base)
        self.partition_cols = partition_cols or []
        # static key-bucket file layout (Iceberg's ``bucket(N, key)``
        # partition transform): every commit's files are split into
        # ``__bucket=pmod(xxhash64(key), N)`` hive subdirectories, so a
        # keyed MERGE can prune the committed-side scan to just the
        # batch's buckets (r5 VERDICT #5 — the storage-level complement
        # of merge_on_key's dynamic ``prefilter_buckets``). The bucket
        # column is synthetic: added at stage time, dropped on read.
        self.bucket = tuple(bucket) if bucket else None
        # declared data-skipping columns: every commit records per-file
        # (min, max) for these from the parquet FOOTERS (driver-side,
        # zero Spark jobs) so reads can prune files against range
        # predicates — real Iceberg prunes on per-file column bounds,
        # not just partition values; at 10^12 rows a `warc_ts BETWEEN`
        # on an unpartitioned table would otherwise scan everything
        # (r5 VERDICT #3). Persisted like the partition spec so
        # maintenance handles keep recording stats.
        self.stat_cols = list(stat_cols) if stat_cols else []
        # resolved cumulative file lists per snapshot (manifests are
        # immutable once committed except via expire_snapshots, which
        # clears this)
        self._files_cache: dict[int, list[str]] = {}
        self._schema_cache: dict[int, StructType] = {}
        # rollback epoch: snapshot ids are REUSED after a rollback, so
        # another handle's memoized resolution for a dropped id would be
        # silently wrong (not just stale) — every cache hit is gated on
        # the persisted epoch counter that _complete_rollback bumps
        self._cache_epoch = self._rollback_epoch()
        os.makedirs(os.path.join(root, "_icelite", "commits"), exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)
        # complete any rollback interrupted mid-flight (write-ahead
        # intent journal, see rollback_to): a manifest left above HEAD
        # would collide with the next commit's exclusive create, so the
        # journal must drain before anything trusts HEAD
        if os.path.exists(os.path.join(root, "_icelite", "ROLLBACK")):
            self._complete_rollback()
        # persist the partition spec so maintenance tooling can validate
        # a handle's layout flag against the table's actual layout.
        # Written once at CREATION — only while the table has no
        # commits yet (r6 ADVICE: opening a pre-existing data-bearing
        # table with a mistakenly-partitioned handle must not mint a
        # wrong immutable spec that stored_partition_cols would then
        # trust over the on-disk layout probe). Rewritten ONLY by
        # evolve_partition_spec (Iceberg partition-spec evolution): the
        # file always holds the ACTIVE spec plus the evolution history;
        # committed files keep their layout forever (attribution is
        # physical — _entry_layout probes the dir structure, so mixed
        # layouts read correctly without per-file spec bookkeeping).
        spec_path = os.path.join(root, "_icelite", "partition_spec.json")
        if (not os.path.exists(spec_path) and self.partition_cols
                and self.snapshot_id() == 0):
            fd, tmp = tempfile.mkstemp(dir=os.path.join(root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                json.dump({"partition_cols": self.partition_cols,
                           "history": [{"cols": self.partition_cols,
                                        "from_sid": 1}]}, f)
            os.replace(tmp, spec_path)
        elif os.path.exists(spec_path):
            with open(spec_path) as f:
                stored = json.load(f)["partition_cols"]
            if self.partition_cols and self.partition_cols != stored:
                # the spec evolved under this handle's feet (or the
                # caller passed the wrong layout): writing under a stale
                # spec would silently fork the layout — fail loudly
                raise ValueError(
                    f"declared partition_cols {self.partition_cols} != "
                    f"active spec {stored} at {root}; the spec moves "
                    "only via evolve_partition_spec")
            if (not self.partition_cols and stored
                    and all(c in {f.name for f in schema.fields}
                            for c in stored)):
                # adopt the active spec (same auto-load discipline as
                # stat/sort/bucket specs) when the handle's schema can
                # express it; a handle whose schema lacks the layout
                # columns stays un-adopted and is caught by the
                # --maintain stored-spec guard
                self.partition_cols = stored
        # stat-cols declaration: written at creation, loaded by later
        # handles that don't pass it (e.g. --maintain) so compaction
        # keeps recording skippable bounds
        stats_path = os.path.join(root, "_icelite", "stat_cols.json")
        if (self.stat_cols and not os.path.exists(stats_path)
                and self.snapshot_id() == 0):
            fd, tmp = tempfile.mkstemp(dir=os.path.join(root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                json.dump({"stat_cols": self.stat_cols}, f)
            os.replace(tmp, stats_path)
        elif not self.stat_cols and os.path.exists(stats_path):
            with open(stats_path) as f:
                self.stat_cols = json.load(f)["stat_cols"]
        # declared write sort order (Iceberg's ``write.sort-order``):
        # appends range-cluster their staged files on these columns and
        # sort rows inside each file, so file-level min/max skipping
        # prunes INSIDE a commit (without it, every file of a hash-
        # spread batch spans the batch's whole value range and a range
        # probe reads them all) and parquet row-group stats prune
        # inside each file. Persisted like stat_cols so maintenance
        # handles keep the clustering discipline.
        self.sort_cols = list(sort_cols) if sort_cols else []
        sort_path = os.path.join(root, "_icelite", "sort_cols.json")
        if (self.sort_cols and not os.path.exists(sort_path)
                and self.snapshot_id() == 0):
            fd, tmp = tempfile.mkstemp(dir=os.path.join(root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                json.dump({"sort_cols": self.sort_cols}, f)
            os.replace(tmp, sort_path)
        elif not self.sort_cols and os.path.exists(sort_path):
            with open(sort_path) as f:
                self.sort_cols = json.load(f)["sort_cols"]
        # bucket layout declaration: persisted at creation, loaded by
        # later handles (maintenance must rewrite under the same layout).
        # Same loud-fail discipline as the partition-spec branch above
        # (r7, ADVICE): a declared bucket that DIFFERS from the stored
        # spec, or a bucket declared on an existing data-bearing table
        # with no stored spec, is rejected — silently keeping it would
        # make bucket-pruned reads miss existing rows (files hashed
        # under a different N, or no __bucket dirs at all), and a
        # bucket-pruned MERGE would then re-insert already-committed
        # keys.
        bucket_path = os.path.join(root, "_icelite", "bucket_spec.json")
        if os.path.exists(bucket_path):
            with open(bucket_path) as f:
                spec = json.load(f)
            stored = (spec["key"], spec["n"])
            if self.bucket and tuple(self.bucket) != stored:
                raise ValueError(
                    f"declared bucket {self.bucket} differs from the "
                    f"table's persisted bucket spec {stored}")
            self.bucket = stored
        elif self.bucket:
            if self.snapshot_id() == 0:
                fd, tmp = tempfile.mkstemp(
                    dir=os.path.join(root, "_icelite"))
                with os.fdopen(fd, "w") as f:
                    json.dump({"key": self.bucket[0],
                               "n": self.bucket[1]}, f)
                os.replace(tmp, bucket_path)
            else:
                raise ValueError(
                    f"bucket {self.bucket} declared on an existing "
                    f"table with no persisted bucket spec — existing "
                    f"files are not bucketed; create the table with "
                    f"the bucket layout instead")

    @property
    def _phys_cols(self) -> list[str]:
        """Physical hive layout columns: the user partition spec plus the
        synthetic ``__bucket`` level when a bucket layout is declared."""
        return self.partition_cols + (["__bucket"] if self.bucket else [])

    def evolve_partition_spec(self, new_cols: list[str]) -> int:
        """Iceberg partition-spec evolution: commits from here on stage
        under the new hive layout; EXISTING files are never rewritten —
        at 10^12 rows a re-layout is O(table), so the old files keep
        their layout and reads union the mixed groups transparently
        (``_entry_layout`` attribution). ``compact()`` migrates old data
        to the active spec incrementally, exactly Iceberg's
        rewrite_data_files story. The new columns must already exist in
        the current schema (this engine materializes partition values as
        real columns; evolve after ``add_columns`` when needed), so
        pre-evolution rows keep them as data columns and post-evolution
        rows carry them in directory names — same logical schema either
        way. Evolving to ``[]`` (unpartitioned) is legal. Returns the
        metadata-only commit recording the evolution."""
        new_cols = list(new_cols or [])
        if new_cols == self.partition_cols:
            raise ValueError(f"{new_cols} is already the active spec")
        if len(set(new_cols)) != len(new_cols):
            raise ValueError(f"duplicate columns in {new_cols}")
        names = {f.name for f in self.current_schema().fields}
        for c in new_cols:
            if c.startswith("__") or c not in names:
                raise ValueError(
                    f"partition column {c!r} is not in the current "
                    "schema (add_columns first; __-prefixed names are "
                    "reserved)")
        spec_path = os.path.join(self.root, "_icelite",
                                 "partition_spec.json")
        history = [{"cols": self.partition_cols, "from_sid": 1}]
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                stored = json.load(f)
            history = stored.get(
                "history", [{"cols": stored["partition_cols"],
                             "from_sid": 1}])
        # SPEC FILE FIRST, marker commit second (r7, ADVICE): a crash
        # between the two then leaves a spec file ahead of history — a
        # benign state (new commits stage under the intended layout,
        # mixed-layout reads attribute physically, a retried evolve
        # reports "already the active spec") — instead of the old
        # order's history-asserts-an-evolution-the-spec-never-recorded
        # state, which silently kept staging under the OLD layout with
        # no recovery path. ``from_sid`` is the marker sid: the marker
        # commits AT it (compare-and-swap on the parent read here), so a
        # commit interloping after the spec write makes the marker fail
        # instead of landing one sid late with the interloper attributed
        # to the new spec. On any failure the previous spec file is
        # restored.
        prev_spec = None
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                prev_spec = f.read()
        parent = self.snapshot_id()
        history.append({"cols": new_cols, "from_sid": parent + 1})
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_icelite"))
        with os.fdopen(fd, "w") as f:
            json.dump({"partition_cols": new_cols, "history": history}, f)
        os.replace(tmp, spec_path)
        try:
            # the evolution commit carries the schema so later handles
            # resolve the layout columns regardless of creation schema
            sid = self.commit_meta({
                "spec_evolved_to": new_cols,
                "schema": self.schema_at(parent).jsonValue()},
                expected_parent=parent)
        except BaseException:
            # restore the pre-evolution spec — the marker never landed
            if prev_spec is None:
                os.unlink(spec_path)
            else:
                fd, tmp = tempfile.mkstemp(
                    dir=os.path.join(self.root, "_icelite"))
                with os.fdopen(fd, "w") as f:
                    f.write(prev_spec)
                os.replace(tmp, spec_path)
            raise
        self.partition_cols = new_cols
        return sid

    def replace_sort_order(self, cols: list[str] | None) -> int:
        """Iceberg ``replaceSortOrder``: change (or clear, ``cols=None``/
        ``[]``) the declared write sort order. Metadata-only — the sort
        order is a storage optimization for future commits, never a
        correctness property, so existing files keep their clustering
        and data skipping simply stays coarser on them until
        ``compact()`` re-clusters (it sorts by the ACTIVE order).
        Returns the metadata-only commit recording the change."""
        cols = list(cols or [])
        if cols == self.sort_cols:
            raise ValueError(f"{cols} is already the sort order")
        names = {f.name for f in self.current_schema().fields}
        for c in cols:
            if c.startswith("__") or c not in names:
                raise ValueError(
                    f"sort column {c!r} is not in the current schema")
        sid = self.commit_meta({"sort_order_set": cols})
        sort_path = os.path.join(self.root, "_icelite", "sort_cols.json")
        if cols:
            fd, tmp = tempfile.mkstemp(
                dir=os.path.join(self.root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                json.dump({"sort_cols": cols}, f)
            os.replace(tmp, sort_path)
        elif os.path.exists(sort_path):
            os.remove(sort_path)
        self.sort_cols = cols
        return sid

    @staticmethod
    def _entry_layout(entry: str) -> tuple[str, ...]:
        """Physical hive partition columns of one committed entry, probed
        from the directory structure (synthetic ``__commit``/``__bucket``
        levels excluded). A plain ``.parquet`` entry is the unpartitioned
        layout ``()``. Attribution is physical rather than manifest-
        recorded so seals and compactions that merge files from many
        commits need no per-file spec bookkeeping — the layout
        IS the spec. Driver-side metadata: one listdir per nesting level
        of ONE representative chain."""
        base = os.path.basename(os.path.normpath(entry))
        if not base.startswith("__commit=") or not os.path.isdir(entry):
            return ()
        cols: list[str] = []
        d = entry
        while True:
            sub = next(
                (n for n in sorted(os.listdir(d))
                 if "=" in n and os.path.isdir(os.path.join(d, n))), None)
            if sub is None:
                break
            col = sub.split("=", 1)[0]
            if col != "__bucket":
                cols.append(col)
            d = os.path.join(d, sub)
        return tuple(cols)

    @staticmethod
    def stored_partition_cols(root: str) -> list[str] | None:
        """The table's active partition spec, independent of this
        handle's flags: the persisted ``partition_spec.json`` (written
        when a partitioned table is created, rewritten only by
        ``evolve_partition_spec``). Without it the table is unpartitioned
        — ``[]`` once a data commit directory exists (a bucket-only
        layout included) — or ``None`` when there is no data yet to tell."""
        spec_path = os.path.join(root, "_icelite", "partition_spec.json")
        if os.path.exists(spec_path):
            with open(spec_path) as f:
                return json.load(f)["partition_cols"]
        data_dir = os.path.join(root, "data")
        if os.path.isdir(data_dir) and any(
                n.startswith(("commit-", "__commit="))
                for n in os.listdir(data_dir)):
            return []
        return None

    # -- snapshot bookkeeping -------------------------------------------------
    def _head_path(self) -> str:
        return os.path.join(self.root, "_icelite", "HEAD")

    def snapshot_id(self) -> int:
        """Current committed snapshot id; 0 = empty table."""
        try:
            with open(self._head_path()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest(self, sid: int) -> dict:
        with open(os.path.join(self.root, "_icelite", "commits",
                               f"{sid}.json")) as f:
            return json.load(f)

    def files_at(self, sid: int) -> list[str]:
        """Cumulative data files/dirs of snapshot ``sid``, resolved by
        walking delta manifests up the parent chain (memoized). A full
        manifest (``full: true``, written by compact()/delete_where()/
        expire_snapshots()) carries the whole list and ends the walk."""
        if not sid:
            return []
        self._check_rollback_epoch()
        if sid in self._files_cache:
            return list(self._files_cache[sid])
        chain: list[list[str]] = []
        cur = sid
        while cur:
            m = self._manifest(cur)
            chain.append(m["new_files"])
            if m.get("full"):
                break
            cur = m["parent"]
        out = [f for part in reversed(chain) for f in part]
        self._files_cache[sid] = out
        return list(out)

    def committed_files(self) -> list[str]:
        return self.files_at(self.snapshot_id())

    # -- file-level column stats / data skipping ------------------------------
    @staticmethod
    def _stat_ser(v):
        """JSON-comparable form of a stat/predicate value: numbers pass
        through; datetimes/dates become zero-padded ISO strings (their
        lexicographic order IS chronological order, so range overlap
        tests stay one string comparison). Unsupported types → None
        (that column simply records no bound for the file)."""
        import datetime as _dt

        if isinstance(v, bool) or v is None:
            return None
        if isinstance(v, (int, float, str)):
            return v
        if isinstance(v, _dt.datetime):
            # recorded parquet-footer bounds are UTC wall-clock strings:
            # convert tz-AWARE predicate values to UTC first (r7, ADVICE)
            # — a negative-offset ISO timestamp otherwise serialized to a
            # string EARLIER than its true UTC instant, breaking the
            # over-approximation contract of range pruning (entries
            # containing matching rows could be skipped). Naive
            # datetimes are documented as UTC and pass through.
            if v.tzinfo is not None:
                v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
            return v.strftime("%Y-%m-%d %H:%M:%S.%f")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return None

    @staticmethod
    def _staged_row_count(entries: list[str]) -> int:
        """Exact row count of a staged commit from its parquet FOOTERS
        (pyarrow metadata — driver-side, O(files), zero Spark jobs).
        Ground truth for what the write job actually persisted, immune
        to optimizer interactions that can drop runtime metrics (an
        ``Observation`` below a repartition + dynamic-partition write
        records nothing when the result is empty — measured on 4.1.2)."""
        import pyarrow.parquet as pq

        total = 0
        for entry in entries:
            if os.path.isdir(entry):
                paths = [os.path.join(dp, fn)
                         for dp, _, fns in os.walk(entry)
                         for fn in fns if fn.endswith(".parquet")]
            else:
                paths = [entry]
            for p in paths:
                total += pq.ParquetFile(p).metadata.num_rows
        return total

    def _file_stats(self, entries: list[str]) -> dict:
        """Per-entry ``{col: [min, max]}`` for the declared ``stat_cols``,
        read from the staged parquet FOOTERS (pyarrow metadata — driver-
        side, O(files), zero Spark jobs; Iceberg records the same bounds
        in its manifests at write time). A directory entry (partitioned
        commit) aggregates every parquet file under it. Columns whose
        footer lacks usable min/max are omitted — readers treat a
        missing bound as 'might match' (conservative, never wrong)."""
        import pyarrow.parquet as pq

        want = set(self.stat_cols)
        out: dict = {}
        for entry in entries:
            if os.path.isdir(entry):
                paths = [os.path.join(dp, fn)
                         for dp, _, fns in os.walk(entry)
                         for fn in fns if fn.endswith(".parquet")]
            else:
                paths = [entry]
            agg: dict = {}
            for p in paths:
                self._fold_md_stats(pq.ParquetFile(p).metadata, want, agg)
            stats = {k: v for k, v in agg.items() if v is not None}
            if stats:
                out[entry] = stats
        return out

    @classmethod
    def _fold_md_stats(cls, md, want: set, agg: dict) -> None:
        """Fold one parquet footer's row-group min/max for the ``want``
        columns into ``agg`` (``None`` poisons a column: some row group
        had no usable bound, so the caller records no bound at all —
        conservative, never wrong). Shared by the per-entry commit-time
        stats and the per-file inspection rows, so both read each
        footer exactly once."""
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in want:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    agg[name] = None  # poisoned: no bound
                    continue
                mn = cls._stat_ser(st.min)
                mx = cls._stat_ser(st.max)
                if mn is None or mx is None:
                    agg[name] = None
                    continue
                cur = agg.get(name)
                if name in agg and cur is None:
                    continue
                agg[name] = ([mn, mx] if cur is None or name not in agg
                             else [min(cur[0], mn), max(cur[1], mx)])

    def _stats_at(self, sid: int) -> dict:
        """Cumulative per-file stats visible at ``sid`` — the same
        parent-chain walk as ``files_at`` (full/sealed manifests carry
        their own merged ``file_stats`` and terminate it)."""
        out: dict = {}
        cur = sid
        while cur:
            m = self._manifest(cur)
            for k, v in m.get("file_stats", {}).items():
                out.setdefault(k, v)
            if m.get("full"):
                break
            cur = m["parent"]
        return out

    def _prune_entries(self, entries: list[str], sid: int,
                       prune: dict) -> list[str]:
        """Drop entries whose recorded bounds CANNOT satisfy the range
        predicates ``{col: (lo, hi)}`` (either bound may be None =
        unbounded). Entries or columns without recorded bounds are kept
        — skipping is an optimization over a superset scan, never a
        filter: callers still apply the real predicate to the rows."""
        stats = self._stats_at(sid)
        kept = []
        for entry in entries:
            st = stats.get(entry)
            keep = True
            if st:
                for col, (lo, hi) in prune.items():
                    bounds = st.get(col)
                    if bounds is None:
                        continue
                    lo_s = self._stat_ser(lo)
                    hi_s = self._stat_ser(hi)
                    if (hi_s is not None and hi_s < bounds[0]) or \
                            (lo_s is not None and lo_s > bounds[1]):
                        keep = False
                        break
            if keep:
                kept.append(entry)
        return kept

    def _range_walk(self, since_sid: int,
                    to_sid: int) -> tuple[list, list]:
        """Per-commit provenance of ``(since_sid, to_sid]``:
        ``([(sid, [files...]) oldest-first], [delete entries])``. Raises
        ``ValueError`` when the range crosses a full (compacted/sealed)
        manifest (per-commit provenance gone) or ``since_sid`` is not an
        ancestor of ``to_sid``."""
        if since_sid > to_sid:
            raise ValueError(f"since {since_sid} is newer than {to_sid}")
        groups: list = []
        deletes: list = []
        cur = to_sid
        while cur and cur > since_sid:
            m = self._manifest(cur)
            if m.get("full"):
                raise ValueError(
                    f"commit {cur} is a full/sealed manifest — "
                    f"per-commit changes below it are unavailable")
            deletes.extend(m.get("deletes", []))
            if m.get("new_files"):
                groups.append((cur, m["new_files"]))
            cur = m["parent"]
        if cur != since_sid:
            raise ValueError(
                f"snapshot {since_sid} is not an ancestor of {to_sid}")
        groups.reverse()
        return groups, deletes

    def deletes_in_range(self, since_sid: int,
                         to_sid: int | None = None) -> list[dict]:
        """Equality-delete entries committed in ``(since_sid, to_sid]``
        (``[{"sid", "dir", "key"}, ...]``) — how an incremental consumer
        learns WHICH keys were replaced/retracted by merge-on-read
        commits in its delta window (e.g. incremental curation's
        recrawl retraction). Same ``ValueError`` contract as
        ``read_changes``."""
        to_sid = self.snapshot_id() if to_sid is None else to_sid
        _, deletes = self._range_walk(since_sid, to_sid)
        return deletes

    # commit id of a data or delete file, parsed from its commit-level
    # directory right under ``data/`` (``commit-<sid>-``,
    # ``__commit=<sid>-`` or ``delete-<sid>-``); the greedy prefix
    # anchors on the LAST such level, so a table root that itself
    # contains ``/data/`` parses the same
    _PATH_SID = r".*/data/(?:commit-|__commit=|delete-)(\d+)-"

    @classmethod
    def _path_sid(cls):
        """Each row's commit id on a file-source DataFrame, from the
        hidden ``_metadata.file_path`` column: one expression for every
        commit, so any number of commits stays one scan node."""
        return F.regexp_extract(F.col("_metadata.file_path"),
                                cls._PATH_SID, 1).cast("long")

    def _read_file_group(self, files: list[str], schema: StructType,
                         buckets: list[int] | None = None,
                         csid: bool = False) -> DataFrame:
        """Data entries → DataFrame with ONE parquet scan per physical
        layout: flat ``.parquet`` entries as an explicit file list, and
        ``__commit=`` directories grouped by their hive layout (probed
        from the dir structure) under a shared ``basePath``. Partition-
        spec evolution leaves mixed layouts behind — pre-evolution rows
        carry the partition values as data columns, post-evolution rows
        in directory names — so every group yields the same logical
        schema; a never-evolved table is one group and one scan.

        ``buckets`` restricts a bucket-layout table to the given
        ``__bucket`` partition values. ``csid=True`` adds ``__csid``,
        each row's commit id parsed from its file path."""
        def scan(reader, paths, hidden=()):
            out = reader.parquet(*paths)
            if csid:
                out = out.withColumn("__csid", self._path_sid())
            return out.drop(*hidden)

        flat: list[str] = []
        by_layout: dict[tuple, list[str]] = {}
        for f in files:
            if os.path.basename(os.path.normpath(f)).startswith(
                    "__commit="):
                by_layout.setdefault(self._entry_layout(f), []).append(f)
            else:
                flat.append(f)
        parts: list[DataFrame] = []
        if flat:
            parts.append(scan(self.spark.read.schema(schema), flat))
        for _lay, group in sorted(by_layout.items()):
            paths = group
            if buckets is not None and self.bucket:
                # prune at the FILE-LIST level, not via a post-scan
                # filter: only the matching __bucket= subdirectories are
                # handed to the reader, so Spark never even LISTS the
                # other buckets' files — at 10^12 rows the listing
                # itself is a cost
                wanted = {f"__bucket={int(b)}" for b in buckets}
                paths = []
                for f in group:
                    for dp, dns, _ in os.walk(f):
                        for dn in sorted(dns):
                            if dn in wanted:
                                paths.append(os.path.join(dp, dn))
                if not paths:
                    continue
            extra = [StructField("__commit", StringType(), True)]
            if self.bucket:
                extra.append(StructField("__bucket", LongType(), True))
            parts.append(scan(
                self.spark.read
                .schema(StructType(list(schema.fields) + extra))
                .option("basePath", os.path.join(self.root, "data")),
                paths, [f.name for f in extra]))
        if not parts:
            return self.spark.createDataFrame([], StructType(
                list(schema.fields)
                + ([StructField("__csid", LongType())] if csid else [])))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    @staticmethod
    def _applicable(deletes: list[dict], groups: list) -> list[dict]:
        """The ``deletes`` that can remove a row of ``groups``: a delete
        at commit s only removes rows committed before s, so one at or
        below the oldest non-empty group is dropped on the driver.
        Catalyst cannot see that through a path-parsed commit id, so the
        join would otherwise run — e.g. on every ``read_changes`` of a
        range holding one merge-on-read commit, whose delete removes
        nothing in range."""
        oldest = min((c for c, fs in groups if fs), default=None)
        if oldest is None:
            return []
        return [d for d in deletes if d["sid"] > oldest]

    def _scan_live(self, files: list[str], groups: list,
                   deletes: list[dict], schema: StructType, sid: int,
                   buckets: list[int] | None = None) -> DataFrame:
        """``files`` (the entries of ``groups``) minus the rows the
        equality ``deletes`` remove — Iceberg v2 semantics: a delete at
        commit s removes rows with a matching key committed before s, so
        a same-commit re-insert survives. Delete sets are O(batch): ONE
        broadcast anti-join per key column against ONE delete scan, the
        "older only" guard comparing the row's ``__csid`` with the
        delete's ``__dsid`` (both parsed from file paths). With no
        applicable delete the read is the plain scan — the plan of a
        table without pending deletes, byte for byte.

        Why path-parsed ids are exact: a file's directory carries the
        id of the commit that staged it, which is its group's commit id
        except for files a full manifest carries forward (delete_where
        keeps untouched files; an expire seal without ``file_groups``
        merges every group) — and those sit below every delete that can
        apply to them, since both manifests require no pending delete
        beneath them."""
        deletes = self._applicable(deletes, groups)
        if not deletes:
            return self._read_file_group(files, schema, buckets)
        data = self._read_file_group(files, schema, buckets, csid=True)
        for key, dk in self.delete_frames(deletes, sid).items():
            data = data.join(
                F.broadcast(dk),
                (F.col(key) == F.col("__dk"))
                & (F.col("__csid") < F.col("__dsid")),
                "left_anti")
        return data.drop("__csid")

    def read_changes(self, since_sid: int, to_sid: int | None = None,
                     apply_deletes: bool = True) -> DataFrame:
        """Incremental scan (Iceberg's ``incremental read`` / CDC net
        changes): the rows ADDED by commits in ``(since_sid, to_sid]``,
        straight from the delta manifests' ``new_files`` — no diffing of
        cumulative file lists, no scan of pre-watermark data. This is
        what makes a derived pipeline (e.g. incremental curation)
        O(new data) per run on a growing crawl table instead of
        O(table).

        Semantics (r6): the NET additions of the range — equality
        deletes committed IN the range are applied to in-range rows from
        older in-range commits (the merge-on-read ``read`` path's
        anti-join, ``_scan_live``), so a url recrawled twice in
        one window contributes only its latest version. Deletes' effect
        on PRE-range rows is intentionally not represented here (this is
        an additions view, not a row-level changelog) — consumers that
        must retract pre-range state read the replaced keys from
        ``deletes_in_range``. ``apply_deletes=False`` restores the r5
        raw insert-only view (every in-range version, once per commit).
        Metadata-only commits contribute nothing. Raises ``ValueError``
        when the range crosses a full (compacted/sealed) manifest (the
        per-commit provenance no longer exists there); callers fall
        back to a full ``read()`` — any keyed MERGE downstream makes
        that fallback merely slower, never wrong."""
        to_sid = self.snapshot_id() if to_sid is None else to_sid
        schema = self.schema_at(to_sid)
        groups, deletes = self._range_walk(since_sid, to_sid)
        files = [f for _, fs in groups for f in fs]
        if not files:
            return self.spark.createDataFrame([], schema)
        return self._scan_live(files, groups,
                               deletes if apply_deletes else [],
                               schema, to_sid)

    def read_changelog(self, since_sid: int,
                       to_sid: int | None = None) -> DataFrame:
        """Row-level changelog of ``(since_sid, to_sid]`` — Iceberg's
        ``create_changelog_view`` / Delta Change-Data-Feed analog: the
        table columns plus ``_change_type`` (``'insert'`` |
        ``'delete'``) and ``_commit_sid`` (the commit that caused the
        event).

        * every row ADDED by an in-range commit emits one ``insert`` at
          its commit — including rows later deleted in the same range
          (this is an event feed, not the net view);
        * every row REMOVED by an in-range merge-on-read equality
          delete emits one ``delete`` carrying the full pre-image, at
          the EARLIEST delete that applies to it (a row already dead
          before the range emits nothing; a later delete matching the
          same key cannot re-kill it).

        Exactness contract (pinned by tests): rows alive at
        ``since_sid`` + inserts − deletes == rows alive at ``to_sid``,
        as multisets. This is what an incremental downstream aggregate
        needs to stay exact under re-crawls — ``read_changes`` (the NET
        additions view) cannot retract pre-range state.

        Scale shape: the driver picks each side's files by group commit
        id. Inserts read only the in-range commits' files (O(new
        data)); delete pre-images read the files committed below the
        newest in-range delete, joined against the pending delete keys
        — one broadcast join (delete sets are O(recrawl batch)), with
        the per-key delete schedule folded to a sorted array so each
        physical row resolves its fate with one ``array_min(filter())``
        instead of one join per delete commit. Same ``ValueError``
        contract as ``read_changes`` when the range crosses a
        compaction/seal (per-commit provenance gone there — Iceberg's
        changelog scan refuses rewritten ranges the same way)."""
        to_sid = self.snapshot_id() if to_sid is None else to_sid
        schema = self.schema_at(to_sid)
        # provenance check (raises on seals) + the range's own deletes:
        # only THEY can emit delete events, so a range without them is
        # an inserts-only plan that reads no pre-range file (plan-pinned
        # in tests/test_changelog.py)
        _, range_deletes = self._range_walk(since_sid, to_sid)
        groups, deletes = self._groups_at(to_sid)
        cols = [f.name for f in schema.fields] + ["_change_type",
                                                  "_commit_sid"]
        events: list[DataFrame] = []
        added = [f for csid, fs in groups if csid > since_sid for f in fs]
        if added:
            events.append(self._read_file_group(added, schema, csid=True)
                          .withColumn("_change_type", F.lit("insert"))
                          .withColumn("_commit_sid", F.col("__csid")))
        # rows committed at/above the newest in-range delete cannot die
        # in range — bound the pre-image scan there
        max_dsid = max((d["sid"] for d in range_deletes), default=0)
        older = [(csid, fs) for csid, fs in groups if csid < max_dsid]
        by_key = self.delete_frames(self._applicable(deletes, older),
                                    to_sid)
        if by_key:
            cand = self._read_file_group(
                [f for _, fs in older for f in fs], schema, csid=True)
            del_cols: list[str] = []
            for i, (key, dk) in enumerate(sorted(by_key.items())):
                sched = (dk.groupBy("__dk")
                         .agg(F.sort_array(F.collect_set("__dsid"))
                              .alias("__dsids")))
                col = f"__del_{i}"
                cand = (cand.join(F.broadcast(sched),
                                  F.col(key) == F.col("__dk"), "left")
                        .withColumn(col, F.array_min(F.filter(
                            F.col("__dsids"),
                            lambda s: s > F.col("__csid"))))
                        .drop("__dk", "__dsids"))
                del_cols.append(col)
            fate = (F.least(*del_cols) if len(del_cols) > 1
                    else F.col(del_cols[0]))
            events.append(cand.withColumn("__del_sid", fate)
                          .filter(F.col("__del_sid") > F.lit(since_sid))
                          .withColumn("_change_type", F.lit("delete"))
                          .withColumn("_commit_sid", F.col("__del_sid")))
        if not events:
            return self.spark.createDataFrame([], StructType(
                list(schema.fields)
                + [StructField("_change_type", StringType(), False),
                   StructField("_commit_sid", LongType(), False)]))
        out = events[0].select(*cols)
        for e in events[1:]:
            out = out.unionByName(e.select(*cols))
        return out

    def delete_frames(self, deletes: list[dict],
                      sid: int) -> dict[str, DataFrame]:
        """Equality-delete entries → ONE ``(__dk, __dsid)`` scan per key
        column over all of its delete directories, ``__dsid`` parsed
        from each file's ``delete-<sid>-`` directory. Key files are read
        under the key's type from ``schema_at(sid)``: an explicit schema
        means planning a read infers nothing, where a bare
        ``read.parquet(dir)`` runs a schema-inference job."""
        schema = self.schema_at(sid)
        dirs: dict[str, list[str]] = {}
        for d in deletes:
            dirs.setdefault(d["key"], []).append(d["dir"])
        return {key: (self.spark.read.schema(StructType([schema[key]]))
                      .parquet(*ds)
                      .select(F.col(key).alias("__dk"),
                              self._path_sid().alias("__dsid")))
                for key, ds in dirs.items()}

    def _groups_at(self, sid: int) -> tuple[list, list]:
        """Per-commit file provenance + pending equality deletes at
        ``sid``: ``([(commit_sid, [files...]), ... oldest-first],
        [{"sid": s, "dir": d, "key": k}, ...])``.

        Walks delta manifests like ``files_at``. A full manifest
        terminates the walk: compacted/delete_where-rewritten ones
        contribute one group at their own commit id (their data already
        has every older delete applied); SEALED manifests (expire_snapshots
        below a merge-on-read commit) carry explicit ``file_groups`` +
        ``deletes`` preserving the provenance the delete predicates
        need."""
        groups: list = []
        deletes: list = []
        cur = sid
        while cur:
            m = self._manifest(cur)
            deletes.extend(m.get("deletes", []))
            if m.get("full"):
                if "file_groups" in m:
                    groups.extend((g[0], g[1])
                                  for g in reversed(m["file_groups"]))
                else:
                    groups.append((cur, m["new_files"]))
                break
            groups.append((cur, m["new_files"]))
            cur = m["parent"]
        groups.reverse()
        return groups, deletes

    # -- schema evolution -----------------------------------------------------
    def schema_at(self, sid: int) -> StructType:
        """Table schema in effect at snapshot ``sid`` (Iceberg's
        per-snapshot schema tracking): the nearest ``schema`` entry walking
        the parent chain, else the creation-time schema. Memoized."""
        if not sid:
            return self.schema
        self._check_rollback_epoch()
        if sid in self._schema_cache:
            return self._schema_cache[sid]
        cur = sid
        out = self.schema
        while cur:
            try:
                m = self._manifest(cur)
            except FileNotFoundError:
                break  # expired history: schema changes are sealed forward
            if "schema" in m:
                out = StructType.fromJson(m["schema"])
                break
            cur = m["parent"]
        self._schema_cache[sid] = out
        return out

    def current_schema(self) -> StructType:
        return self.schema_at(self.snapshot_id())

    def add_columns(self, fields: list[StructField]) -> int:
        """Schema evolution, Iceberg-style: add nullable columns WITHOUT
        rewriting any data file — a metadata-only commit carrying the new
        schema. Existing files simply lack the columns; parquet reads under
        the explicit evolved schema fill them with NULL (name-based column
        resolution, the Iceberg contract). Time travel to pre-evolution
        snapshots keeps the old schema. At 10^12 rows this is the ONLY
        viable way to add a column — any rewrite is O(table).

        New columns must be nullable (there is no data to backfill) and
        must not collide with existing names or the partition spec."""
        cur = self.current_schema()
        names = {f.name for f in cur.fields}
        for f in fields:
            if f.name in names:
                raise ValueError(f"column {f.name!r} already exists")
            if not f.nullable:
                raise ValueError(
                    f"column {f.name!r} must be nullable: existing data "
                    "files have no values for it")
        evolved = StructType(list(cur.fields) + list(fields))
        parent = self.snapshot_id()
        sid = parent + 1
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent, "new_files": [],
                    "schema": evolved.jsonValue(), "schema_evolved": True}
        total = self.row_count()
        if total is not None and parent:
            manifest["total_rows"] = total  # data untouched
        self._commit_manifest(sid, manifest)
        return sid

    # -- read -----------------------------------------------------------------
    def bucket_ids_for(self, df: DataFrame, key: str) -> list[int] | None:
        """Distinct bucket ids of ``df[key]`` under this table's bucket
        layout — the ``buckets=`` argument for a read that only needs
        rows able to match ``df`` on ``key`` (resume probes, MERGE
        anti-joins). One tiny job (≤N small ints). None when no bucket
        layout is declared or it is keyed on a different column, so
        ``read(buckets=bucket_ids_for(...))`` degrades to a full read."""
        if not (self.bucket and self.bucket[0] == key):
            return None
        return [r["__b"] for r in df.select(
            F.pmod(F.xxhash64(F.col(key)), F.lit(self.bucket[1]))
            .alias("__b")).distinct().collect()]

    def read(self, snapshot_id: int | None = None,
             prune: dict | None = None,
             buckets: list[int] | None = None,
             tag: str | None = None,
             branch: str | None = None) -> DataFrame:
        """Read the table at HEAD, or time-travel to ``snapshot_id``
        (Iceberg ``VERSION AS OF`` semantics: a snapshot's file list is
        immutable, so old snapshots stay readable after later appends)
        or to a named ref (``tag=...`` / ``branch=...``; exactly one of
        the three selectors). Reading a write-audit-publish table at
        its publish branch never sees a staged, unaudited commit.

        ``prune``: optional data skipping — ``{col: (lo, hi)}`` range
        predicates (either bound None = unbounded) matched against the
        per-file column bounds recorded at write time for the declared
        ``stat_cols``. Files whose bounds cannot overlap are dropped
        from the scan BEFORE Spark plans it (Iceberg's manifest-level
        file skipping); files or columns without recorded bounds are
        kept, so the result is always a SUPERSET of the matching rows —
        callers still apply the real filter, pruning only shrinks the
        scan (at 10^12 rows, a ts-range read on an append-ordered table
        goes from O(table) to O(matching files)).

        ``buckets``: bucket-layout tables only — restrict the scan to
        the given ``__bucket`` partition values (Catalyst prunes the
        other bucket directories at planning time). Returns exactly the
        rows whose key hashes into those buckets.

        Plans one scan per physical layout at any commit count: an
        explicit file list (unpartitioned) or a shared-basePath scan
        where the ``__commit=`` level parses as a synthetic partition
        column that is dropped after read (hive partition columns and
        their pruning are unaffected). Pending merge-on-read equality
        deletes add one delete scan and one broadcast anti-join per key
        column, matched on commit ids parsed from file paths
        (``_scan_live``); ``compact()`` applies them physically."""
        named = [n for n in (tag, branch) if n is not None]
        if named:
            if snapshot_id is not None or len(named) > 1:
                raise ValueError(
                    "pass exactly one of snapshot_id, tag or branch")
            snapshot_id = self.ref(named[0])
        sid = self.snapshot_id() if snapshot_id is None else snapshot_id
        schema = self.schema_at(sid)
        files = self.files_at(sid)
        if prune:
            files = self._prune_entries(files, sid, prune)
        if not files:
            return self.spark.createDataFrame([], schema)
        groups, deletes = self._groups_at(sid)
        if prune:
            pruned = set(files)
            groups = [(csid, [f for f in gfiles if f in pruned])
                      for csid, gfiles in groups]
        return self._scan_live(files, groups, deletes, schema, sid, buckets)

    # -- write ----------------------------------------------------------------
    def _stage_dir(self, sid: int) -> str:
        """Unique staging directory for one writer's attempt at ``sid``.
        Partitioned/bucketed layouts use hive ``__commit=`` naming so the
        shared-basePath read parses the commit level as a partition
        column."""
        token = uuid.uuid4().hex[:8]
        name = (f"__commit={sid}-{token}" if self._phys_cols
                else f"commit-{sid}-{token}")
        return os.path.join(self.root, "data", name)

    def _stage_data(self, df: DataFrame, sid: int,
                    cluster: bool = True) -> tuple[str, list[str]]:
        """Write ``df`` into a fresh unique directory (invisible until the
        manifest commits). Returns (staging_dir, manifest file entries).
        Bucket-layout tables stage under the synthetic ``__bucket`` hive
        level (computed here, dropped on read).

        ``cluster=False`` skips the declared-sort-order clustering:
        ``compact`` pre-clusters with an explicit target file count."""
        data_dir = self._stage_dir(sid)
        if self.bucket:
            key, n = self.bucket
            df = df.withColumn(
                "__bucket", F.pmod(F.xxhash64(F.col(key)), F.lit(n)))
            # hash-distribute on the layout columns before the
            # partitioned write (Iceberg's hash write-distribution):
            # without this every write task emits one file into EVERY
            # bucket it sees — tasks x N tiny files per commit instead
            # of ~one file per present bucket
            df = df.repartition(*[F.col(c) for c in self._phys_cols])
        if (cluster and self.sort_cols
                and all(c in df.columns for c in self.sort_cols)):
            # declared write sort order. Frames without the sort columns
            # (e.g. key-only sidecar frames) stage unsorted rather than
            # fail — the order is a storage optimization, never a
            # correctness requirement.
            if self._phys_cols:
                # one file per hive dir already; in-file ordering still
                # buys parquet row-group/page pruning within each file
                df = df.sortWithinPartitions(
                    *self._phys_cols, *self.sort_cols)
            else:
                # keep the incoming parallelism (explicit N disables
                # AQE's small-batch coalescing, so the file count — and
                # with it the skipping granularity — stays predictable)
                n_out = max(1, df.rdd.getNumPartitions())
                df = df.repartitionByRange(
                    n_out, *[F.col(c) for c in self.sort_cols]) \
                    .sortWithinPartitions(*self.sort_cols)
        writer = df.write.mode("error")  # unique dir: must not pre-exist
        if self._phys_cols:
            writer = writer.partitionBy(*self._phys_cols)
        writer.parquet(data_dir)
        if self._phys_cols:
            return data_dir, [data_dir]
        return data_dir, sorted(
            os.path.join(data_dir, f)
            for f in os.listdir(data_dir) if f.endswith(".parquet"))

    def _stage_delete(self, keys: DataFrame, sid: int) -> tuple[str, int]:
        """Write the equality-delete key frame ``keys`` into a fresh
        ``delete-<sid>-<token>`` directory (invisible until a manifest
        names it; ``_PATH_SID`` parses ``sid`` back as each key's
        ``__dsid``). Returns ``(dir, rows)``, ``rows`` from the staged
        parquet footers (zero Spark jobs beyond the write)."""
        del_dir = os.path.join(self.root, "data",
                               f"delete-{sid}-{uuid.uuid4().hex[:8]}")
        try:
            keys.write.mode("error").parquet(del_dir)
        except BaseException:
            shutil.rmtree(del_dir, ignore_errors=True)
            raise
        return del_dir, self._staged_row_count([del_dir])

    def append(self, df: DataFrame) -> int:
        """Atomically append ``df``; returns the new snapshot id. On a lost
        commit race the staged files are removed and
        ``ConcurrentCommitError`` propagates — the winner's files were
        never shared, so nothing is clobbered either way."""
        parent = self.snapshot_id()
        sid = parent + 1
        data_dir, new_files = self._stage_data(df, sid)
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent,
                    "new_files": new_files}
        if self.stat_cols:
            manifest["file_stats"] = self._file_stats(new_files)
        try:
            self._commit_manifest(sid, manifest)
        except ConcurrentCommitError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        return sid

    def row_count(self) -> int | None:
        """Committed row count at HEAD, from manifest metadata — zero Spark
        jobs. ``None`` if the head commit didn't record one (generic
        ``append`` without meta); 0 for an empty table."""
        return self._total_rows_at(self.snapshot_id())

    def _total_rows_at(self, sid: int) -> int | None:
        if not sid:
            return 0
        return self._manifest(sid).get("total_rows")

    def _commit_manifest(self, sid: int, manifest: dict) -> None:
        """Optimistic commit: the manifest file is created EXCLUSIVELY —
        if another writer already committed this snapshot id, raise
        ``ConcurrentCommitError`` (caller re-reads HEAD and retries)
        instead of clobbering its manifest. Then swing HEAD atomically."""
        mpath = os.path.join(self.root, "_icelite", "commits", f"{sid}.json")
        # wall-clock commit time (Iceberg's snapshot timestamp-ms):
        # setdefault so maintenance rewrites (seal) that re-serialize an
        # EXISTING snapshot keep its original time
        manifest.setdefault("committed_at_ms", int(time.time() * 1000))
        try:
            with open(mpath, "x") as f:
                json.dump(manifest, f)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"snapshot {sid} already committed by another writer")
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_icelite"))
        with os.fdopen(fd, "w") as f:
            f.write(str(sid))
        os.replace(tmp, self._head_path())

    def drop_columns(self, names: list[str]) -> int:
        """Schema evolution, drop arm: remove columns by a metadata-only
        commit — no data file is touched; the dropped column's values
        simply stop being projected (reads use the explicit snapshot
        schema, so extra columns in old files are ignored). Time travel to
        pre-drop snapshots still sees the column. Partition columns cannot
        be dropped (the physical layout embeds them)."""
        cur = self.current_schema()
        have = {f.name for f in cur.fields}
        for n in names:
            if n not in have:
                raise ValueError(f"column {n!r} does not exist")
            if n in self.partition_cols:
                raise ValueError(f"column {n!r} is a partition column")
        remaining = [f for f in cur.fields if f.name not in set(names)]
        if not remaining:
            raise ValueError("cannot drop every column")
        parent = self.snapshot_id()
        sid = parent + 1
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent, "new_files": [],
                    "schema": StructType(remaining).jsonValue(),
                    "schema_evolved": True}
        total = self.row_count()
        if total is not None and parent:
            manifest["total_rows"] = total
        self._commit_manifest(sid, manifest)
        return sid

    @staticmethod
    def _first_wins(df: DataFrame, key: str,
                    order_col: str | None) -> DataFrame:
        """Within-batch duplicate-key resolution shared by every merge
        arm: deterministic first-wins by ``(order_col, key)`` via
        ``keep_first`` (min_by partial aggregation over the hash-first
        grouping key — 8-byte shuffle comparisons, the key column
        retained for collision safety, and skew-proof: a hot key's
        duplicates collapse to one candidate row per map task instead of
        one straggler window task), else ``dropDuplicates``."""
        if not order_col:
            return df.dropDuplicates([key])
        return keep_first(df, key, [order_col, key])

    def merge_on_key(self, df: DataFrame, key: str,
                     order_col: str | None = None,
                     prefilter_buckets: int | None = None,
                     extra_meta: dict | None = None,
                     bucket_ids: list[int] | None = None,
                     presieved_at: int | None = None,
                     retract=None) -> tuple:
        """``MERGE INTO t USING df ON t.key = df.key WHEN NOT MATCHED THEN
        INSERT`` — the idempotent-resume checkpoint (north_rule; SURVEY.md J3).

        Within-batch duplicate keys are resolved first-wins by ``order_col``
        (deterministic — the reference's stream-order first-wins semantics,
        h5_to_parquet.py:45-48, made key-based). The anti-join's broadcast vs
        sort-merge choice is left to AQE.

        The inserted-row count is read from the staged parquet footers
        after the write (driver-side, zero extra Spark jobs) — ONE job
        per merge, not a count() pass followed by a recomputation of the
        anti-join for the write, and robust where a write-job
        ``Observation`` is not (see ``_staged_row_count``).

        ``prefilter_buckets``: the 10^12-row shuffle guard. The anti-join
        must scan+shuffle the COMMITTED key column every incremental merge;
        Spark's runtime bloom-filter injection does not cover LEFT ANTI
        joins (verified on 4.x plans), so this broadcasts the batch's
        distinct ``pmod(xxhash64(key), buckets)`` set and semi-join-filters
        the committed side map-side before the shuffle. The filter keeps a
        SUPERSET of true matches (hash-bucket false positives only), so
        the anti-join result is exact; surviving committed rows shrink to
        ~|batch_buckets|/buckets of the table. Size ``buckets`` ≫ the
        batch's distinct-key count (e.g. 1<<27 for 10^6-row batches ≈ 8 MB
        broadcast, ~100× shuffle reduction). Off by default: below ~10 GB
        of committed keys the extra distinct pass costs more than the
        shuffle it saves.

        ``presieved_at`` (r7): the caller certifies ``df`` contains NO
        key committed as of snapshot ``presieved_at`` (e.g. the resume
        probe's anti-join already sieved the batch against that exact
        snapshot). When the merge's captured parent IS that snapshot,
        its own committed-side anti-join is a no-op by construction and
        is skipped — one committed-key scan+join per merge saved; the
        compare-and-swap commit at the captured parent guarantees no
        concurrent commit slipped between the sieve and the manifest
        create. A retry (parent moved) falls back to the full
        anti-join, so the certificate is only ever used for the exact
        snapshot it was issued against.

        ``retract`` makes the merge a row delta (Iceberg v2 ``RowDelta``):
        a function of the captured parent snapshot id returning a frame
        holding the ``key`` of LIVE rows at that snapshot to delete in
        the same commit (or None: nothing to delete). The keys are
        staged as the commit's ``delete-<sid>-`` equality-delete file
        and the batch is anti-joined against the parent's keys MINUS
        the staged ones — a delete at ``s`` removes only rows committed
        before ``s``, so a retracted key the batch re-presents is
        re-inserted and survives. ``deleted`` is the staged key file's
        footer row count, exact only because the caller certifies every
        key names exactly one live row (unique keys, e.g. a corpus that
        only ever merges absent keys); ``delete_keys`` counts matches
        for callers that cannot. One manifest carries the new files,
        the deletes, both counts, ``extra_meta`` and ``total_rows =
        parent_total - deleted + inserted``. Returns ``(sid, inserted,
        deleted)``; when nothing was staged, nothing is committed and
        ``sid`` is the captured parent.

        Concurrency: on ``ConcurrentCommitError`` the merge retries from
        the NEW committed HEAD — the anti-join (and ``retract``'s keys)
        are re-derived against the winner's snapshot, so retried merges
        stay idempotent per key (Iceberg's MERGE retry semantics). The
        parent snapshot is captured ONCE per attempt and the manifest
        is created exclusively AT ``parent + 1``: a concurrent commit
        landing between the anti-join's read and our manifest create
        loses the manifest race and triggers the retry, instead of
        silently committing an anti-join derived from a stale snapshot
        (which would break key uniqueness).
        """
        df = self._first_wins(df, key, order_col)
        # static bucket layout on the merge key: collect the batch's
        # distinct bucket ids (≤ N small ints, one tiny job) and prune
        # the committed-side scan to those hive directories — the
        # anti-join's build input shrinks from O(table) files to
        # O(batch-bucket) files at planning time, before any row moves
        # (r5 VERDICT #5; complements the dynamic prefilter below, which
        # filters rows of files already read). A caller that already
        # collected ids covering this batch's keys (e.g. the resume
        # probe in run_extraction) passes them via ``bucket_ids`` — any
        # SUPERSET of the batch's buckets is exact, it only prunes less.
        merge_buckets = (bucket_ids if bucket_ids is not None
                         else self.bucket_ids_for(df, key))
        last_err: ConcurrentCommitError | None = None
        for _ in range(3):
            parent = self.snapshot_id()
            sid = parent + 1
            parent_total = self._total_rows_at(parent)
            staged: list[str] = []
            try:
                deletes, deleted = [], 0
                doomed = (retract(parent) if retract is not None and parent
                          else None)
                if doomed is not None:
                    del_dir, deleted = self._stage_delete(
                        doomed.select(key), sid)
                    if deleted:
                        staged.append(del_dir)
                        deletes = [{"sid": sid, "dir": del_dir,
                                    "key": key}]
                    else:
                        shutil.rmtree(del_dir, ignore_errors=True)
                if not parent or parent == presieved_at:
                    # first commit (nothing committed, nothing to
                    # anti-join; the explicit skip matters because the
                    # empty read() is RDD-backed — the optimizer cannot
                    # constant-fold it away and the vacuous join would
                    # shuffle the whole batch), or the caller pre-sieved
                    # the batch against exactly this snapshot (r7; see
                    # docstring)
                    fresh = df
                else:
                    existing = self.read(parent,
                                         buckets=merge_buckets).select(key)
                    if prefilter_buckets:
                        bucket = F.pmod(F.xxhash64(key),
                                        F.lit(prefilter_buckets))
                        batch_buckets = df.select(
                            bucket.alias("__mb")).distinct()
                        existing = existing.join(
                            F.broadcast(batch_buckets),
                            bucket == F.col("__mb"), "left_semi")
                    if deletes:
                        # keys this commit deletes are absent after it
                        existing = existing.join(F.broadcast(
                            self.spark.read.schema(StructType(
                                [self.schema_at(parent)[key]]))
                            .parquet(del_dir)), key, "left_anti")
                    fresh = df.join(existing, key, "left_anti")
                data_dir, new_files = self._stage_data(fresh, sid)
                staged.append(data_dir)
                # footer-derived count of what the staging job actually
                # wrote: still ONE Spark job per merge (the write), and
                # robust where an Observation is not (see
                # _staged_row_count)
                inserted = self._staged_row_count(new_files)
                if retract is not None and not inserted:
                    # a row delta commits no empty data file, and
                    # nothing at all when nothing was staged
                    shutil.rmtree(data_dir, ignore_errors=True)
                    new_files = []
                    if not deleted:
                        return parent, 0, 0
                manifest = {**self._inherited_meta(parent),
                            "snapshot_id": sid, "parent": parent,
                            "new_files": new_files, "inserted": inserted}
                if deletes:
                    manifest.update(deleted=deleted, deletes=deletes)
                if self.stat_cols:
                    manifest["file_stats"] = self._file_stats(new_files)
                if parent_total is not None:
                    # cumulative count rides the manifest: the job
                    # summary reads it back with zero Spark jobs
                    manifest["total_rows"] = (parent_total - deleted
                                              + inserted)
                if extra_meta:
                    # caller bookkeeping rides the commit atomically
                    # (e.g. incremental curation's source watermark)
                    manifest.update(extra_meta)
                self._commit_manifest(sid, manifest)
            except BaseException as e:
                for d in staged:
                    shutil.rmtree(d, ignore_errors=True)
                if not isinstance(e, ConcurrentCommitError):
                    raise
                last_err = e
                continue
            if retract is not None:
                return sid, inserted, deleted
            return sid, inserted
        raise last_err  # type: ignore[misc]

    def merge_upsert_mor(self, df: DataFrame, key: str,
                         order_col: str | None = None) -> tuple[int, int]:
        """Full MERGE (``WHEN MATCHED THEN UPDATE (replace row) WHEN NOT
        MATCHED THEN INSERT``) as merge-on-read — the 10^12-row update
        arm: stage ONLY the batch's data files plus an equality-delete
        key file, applied at read time to rows from OLDER commits
        (Iceberg v2 equality-delete discipline). A re-crawl batch (same
        url, newer ``warc_ts``) touches O(batch) data, never O(table);
        ``compact()`` later applies the deletes physically and restores
        the plain-scan read, and ``expire_snapshots`` reclaims the
        applied delete files.

        Returns ``(snapshot_id, updated)`` where ``updated`` counts target
        rows superseded by a source row (one metadata-free scan of the
        parent snapshot's key column — no rewrite). Within-batch duplicate
        keys resolve first-wins by ``order_col`` exactly as merge_on_key;
        commits are CAS'd at the captured parent snapshot."""
        df = self._first_wins(df, key, order_col)
        # the batch's distinct keys feed the updated-count semi-join AND
        # the equality-delete file: persist so the distinct runs once per
        # merge, not once per consumer (and once per CAS retry otherwise)
        keys = df.select(key).distinct().persist()
        try:
            return self._merge_upsert_mor_loop(df, keys, key)
        finally:
            keys.unpersist()

    def _merge_upsert_mor_loop(self, df: DataFrame, keys: DataFrame,
                               key: str) -> tuple[int, int]:
        last_err: ConcurrentCommitError | None = None
        for _ in range(3):
            parent = self.snapshot_id()
            sid = parent + 1
            prev_total = self._total_rows_at(parent)
            # bucket-pruned on a bucket-layout table (see delete_keys)
            updated = (self.read(
                parent, buckets=self.bucket_ids_for(keys, key))
                .select(key)
                .join(keys, key, "left_semi").count()) if parent else 0
            data_dir, new_files = self._stage_data(df, sid)
            n_batch = self._staged_row_count(new_files)
            del_dir, _ = self._stage_delete(keys, sid)
            manifest = {**self._inherited_meta(parent),
                        "snapshot_id": sid, "parent": parent,
                        "new_files": new_files, "upsert_mor": True,
                        "updated_rows": updated, "inserted": n_batch,
                        "deletes": [{"sid": sid, "dir": del_dir,
                                     "key": key}]}
            if self.stat_cols:
                manifest["file_stats"] = self._file_stats(new_files)
            if prev_total is not None:
                manifest["total_rows"] = prev_total - updated + n_batch
            try:
                self._commit_manifest(sid, manifest)
            except ConcurrentCommitError as e:
                shutil.rmtree(data_dir, ignore_errors=True)
                shutil.rmtree(del_dir, ignore_errors=True)
                last_err = e
                continue
            return sid, updated
        raise last_err  # type: ignore[misc]

    def history(self) -> list[dict]:
        """Snapshot history, newest first (Iceberg's ``snapshots``
        metadata-table analog): one dict per retained snapshot with its
        id, parent, commit kind, file count, and any bookkeeping the
        commit recorded (``inserted`` / ``updated_rows`` /
        ``total_rows`` / watermarks / seals). Metadata only — zero Spark
        jobs."""
        out = []
        cur = self.snapshot_id()
        while cur:
            m = self._manifest(cur)
            # maintenance rewrites classify FIRST (r6 ADVICE: an expire
            # seal that retained pending MOR deletes, or carried the
            # sealed commit's upsert marker, must report as 'seal', not
            # 'upsert' with the full resolved list as its delta)
            kind = ("seal" if m.get("sealed")
                    else "compact" if m.get("compacted")
                    else "delete" if m.get("deleted_where")
                    else "delete" if m.get("deletes")
                    and not m.get("new_files") and not m.get("upsert_mor")
                    else "upsert" if m.get("upsert_mor") or m.get("deletes")
                    else "spec" if m.get("spec_evolved_to") is not None
                    else "schema" if m.get("schema_evolved")
                    else "seal" if m.get("full")
                    else "meta" if m.get("meta_only")
                    else "append")
            row = {"snapshot_id": cur, "parent": m.get("parent", 0),
                   "kind": kind,
                   "n_files": len(m["new_files"])}
            for k in ("inserted", "updated_rows", "deleted", "total_rows",
                      "extracted_watermark", "committed_at_ms"):
                if k in m:
                    row[k] = m[k]
            out.append(row)
            cur = m.get("parent", 0)
            if cur and not os.path.exists(os.path.join(
                    self.root, "_icelite", "commits", f"{cur}.json")):
                break  # parent expired — oldest retained snapshot reached
        return out

    # -- metadata inspection tables (Iceberg files/partitions/snapshots) ------
    _FILES_SCHEMA = StructType([
        StructField("content", StringType(), False),
        StructField("file_path", StringType(), False),
        StructField("commit_sid", LongType(), False),
        StructField("partition", StringType(), False),
        StructField("record_count", LongType(), False),
        StructField("file_size_bytes", LongType(), False),
        StructField("lower_bounds", MapType(StringType(), StringType()),
                    True),
        StructField("upper_bounds", MapType(StringType(), StringType()),
                    True),
    ])

    def _partition_of(self, path: str) -> str:
        """Hive ``k=v/k=v`` partition string of one data file, parsed
        from its directory segments under ``data/``. The synthetic
        ``__commit=`` level is provenance (reported separately as
        ``commit_sid``), not partitioning; the synthetic ``__bucket=``
        level IS part of the physical layout and is kept."""
        rel = os.path.relpath(path, os.path.join(self.root, "data"))
        return "/".join(s for s in rel.split(os.sep)[:-1]
                        if "=" in s and not s.startswith("__commit="))

    @staticmethod
    def _parquet_under(entry: str) -> list[str]:
        if not os.path.isdir(entry):
            return [entry]
        return sorted(os.path.join(dp, fn)
                      for dp, _, fns in os.walk(entry)
                      for fn in fns if fn.endswith(".parquet"))

    def inspect_file_rows(self, snapshot_id: int | None = None
                          ) -> list[dict]:
        """Rows of the ``files`` metadata table as plain dicts — pure
        driver-side metadata (one footer read per file, zero Spark
        jobs), usable without a Spark session (CLI ``--inspect``).

        One row per live physical parquet file at the snapshot: data
        files with their owning commit, hive partition string, exact
        footer row count, byte size, and per-file (min, max) bounds for
        the declared ``stat_cols`` — plus the PENDING merge-on-read
        equality-delete files (``content = equality_deletes(<key>)``),
        which is exactly what Iceberg's ``files`` table shows for a v2
        table awaiting compaction. Cost is O(live files) metadata
        reads — the same order as Iceberg's manifest scan, independent
        of row count, which is what makes inspection viable at 10^12
        rows."""
        import pyarrow.parquet as pq

        sid = self.snapshot_id() if snapshot_id is None else snapshot_id
        groups, deletes = self._groups_at(sid) if sid else ([], [])
        rows: list[dict] = []
        want = set(self.stat_cols)
        for csid, entries in groups:
            for entry in entries:
                for p in self._parquet_under(entry):
                    md = pq.ParquetFile(p).metadata  # ONE footer read
                    agg: dict = {}
                    self._fold_md_stats(md, want, agg)
                    st = {k: v for k, v in agg.items() if v is not None}
                    rows.append({
                        "content": "data",
                        "file_path": p,
                        "commit_sid": csid,
                        "partition": self._partition_of(p),
                        "record_count": md.num_rows,
                        "file_size_bytes": os.path.getsize(p),
                        "lower_bounds":
                            {c: str(b[0]) for c, b in st.items()} or None,
                        "upper_bounds":
                            {c: str(b[1]) for c, b in st.items()} or None,
                    })
        for d in deletes:
            for p in self._parquet_under(d["dir"]):
                rows.append({
                    "content": f"equality_deletes({d['key']})",
                    "file_path": p,
                    "commit_sid": d["sid"],
                    "partition": "",
                    "record_count": pq.ParquetFile(p).metadata.num_rows,
                    "file_size_bytes": os.path.getsize(p),
                    "lower_bounds": None,
                    "upper_bounds": None,
                })
        return rows

    def inspect_files(self, snapshot_id: int | None = None) -> DataFrame:
        """The ``files`` metadata table (Iceberg ``table$files``) as a
        DataFrame — see ``inspect_file_rows`` for the row contract."""
        return self.spark.createDataFrame(
            self.inspect_file_rows(snapshot_id), self._FILES_SCHEMA)

    def inspect_partitions(self, snapshot_id: int | None = None
                           ) -> DataFrame:
        """The ``partitions`` metadata table (Iceberg
        ``table$partitions``): per hive-partition file count, exact row
        count and byte size of the LIVE data files — the operational
        view for spotting partition skew and compaction debt without
        scanning any data. Row counts come from parquet footers, so
        pending MOR deletes are not subtracted (same as Iceberg, whose
        partitions table reports data-file record counts)."""
        return (self.inspect_files(snapshot_id)
                .filter(F.col("content") == "data")
                .groupBy("partition")
                .agg(F.count(F.lit(1)).alias("n_files"),
                     F.sum("record_count").alias("record_count"),
                     F.sum("file_size_bytes").alias("file_size_bytes")))

    _SNAPSHOTS_SCHEMA = StructType([
        StructField("snapshot_id", LongType(), False),
        StructField("parent", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_files", LongType(), False),
        StructField("summary", MapType(StringType(), StringType()), True),
    ])

    def inspect_snapshots(self) -> DataFrame:
        """The ``snapshots`` metadata table (Iceberg ``table$snapshots``):
        ``history()`` as a DataFrame, newest first, with the per-commit
        bookkeeping (inserted / total_rows / watermarks / commit time)
        in a ``summary`` string map — Iceberg's summary-map shape."""
        rows = [{"snapshot_id": h["snapshot_id"], "parent": h["parent"],
                 "kind": h["kind"], "n_files": h["n_files"],
                 "summary": {k: str(v) for k, v in h.items()
                             if k not in ("snapshot_id", "parent", "kind",
                                          "n_files")} or None}
                for h in self.history()]
        return self.spark.createDataFrame(rows, self._SNAPSHOTS_SCHEMA)

    def inspect_refs(self) -> DataFrame:
        """The ``refs`` metadata table (Iceberg ``table$refs``): one row
        per named tag/branch and the snapshot it points at."""
        rows = ([{"name": n, "kind": "tag", "snapshot_id": s}
                 for n, s in sorted(self.tags().items())]
                + [{"name": n, "kind": "branch", "snapshot_id": s}
                   for n, s in sorted(self.branches().items())])
        return self.spark.createDataFrame(rows, StructType([
            StructField("name", StringType(), False),
            StructField("kind", StringType(), False),
            StructField("snapshot_id", LongType(), False),
        ]))

    # -- named refs & time travel by timestamp ----------------------------------
    _REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")

    def tag(self, name: str, snapshot_id: int | None = None,
            overwrite: bool = False) -> int:
        """Pin ``name`` to a snapshot (Iceberg tag): readers time-travel
        by name (``read(tag=...)``) and ``expire_snapshots`` never drops
        a tagged snapshot — it clamps its retention window so the whole
        id-prefix up to the oldest tag survives (icelite expiry is
        prefix-shaped, so protecting a tag means protecting everything
        at or above it; drop the tag to release the history). Returns
        the pinned snapshot id (HEAD when not given)."""
        existing = self._refs().get(name)
        if existing is not None and existing.get("branch"):
            raise ValueError(f"{name!r} is a branch (use set_branch to "
                             "move it; drop_branch to free the name)")
        if existing is not None and not overwrite:
            raise ValueError(f"tag {name!r} exists (overwrite=True to "
                             "move it)")
        return self._write_ref(name, snapshot_id, branch=False)

    def set_branch(self, name: str, snapshot_id: int | None = None) -> int:
        """Create or MOVE a named branch ref (Iceberg branch). Unlike a
        tag a branch moves freely — it is the publish pointer of a
        write-audit-publish flow: the extraction job commits normally
        (HEAD advances = the staging state), audits the staged snapshot,
        and only then fast-forwards the branch, so consumers reading
        ``read(branch=...)`` never see an unaudited commit. Like tags,
        branches pin history against ``expire_snapshots``. Returns the
        snapshot id the branch now points at (HEAD when not given)."""
        existing = self._refs().get(name)
        if existing is not None and not existing.get("branch"):
            raise ValueError(f"{name!r} is a tag (tags are immutable; "
                             "drop_tag to free the name)")
        return self._write_ref(name, snapshot_id, branch=True)

    def _write_ref(self, name: str, snapshot_id: int | None,
                   branch: bool) -> int:
        if not self._REF_NAME.match(name or ""):
            raise ValueError(f"invalid ref name {name!r}")
        sid = self.snapshot_id() if snapshot_id is None else snapshot_id
        if not sid or not os.path.exists(os.path.join(
                self.root, "_icelite", "commits", f"{sid}.json")):
            raise ValueError(f"no committed snapshot {sid}")
        refs_dir = os.path.join(self.root, "_icelite", "refs")
        os.makedirs(refs_dir, exist_ok=True)
        body = {"snapshot_id": sid}
        if branch:
            body["branch"] = True
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_icelite"))
        with os.fdopen(fd, "w") as f:
            json.dump(body, f)
        os.replace(tmp, os.path.join(refs_dir, f"{name}.json"))
        return sid

    def _refs(self) -> dict[str, dict]:
        refs_dir = os.path.join(self.root, "_icelite", "refs")
        if not os.path.isdir(refs_dir):
            return {}
        out = {}
        for fn in sorted(os.listdir(refs_dir)):
            if fn.endswith(".json"):
                with open(os.path.join(refs_dir, fn)) as f:
                    out[fn[:-5]] = json.load(f)
        return out

    def tags(self) -> dict[str, int]:
        """Immutable named refs, ``{name: snapshot_id}``. Metadata only."""
        return {n: r["snapshot_id"] for n, r in self._refs().items()
                if not r.get("branch")}

    def branches(self) -> dict[str, int]:
        """Movable named refs, ``{name: snapshot_id}``. Metadata only."""
        return {n: r["snapshot_id"] for n, r in self._refs().items()
                if r.get("branch")}

    def ref(self, name: str) -> int:
        """Resolve a named ref — tag or branch — to its snapshot id
        (KeyError when absent)."""
        return self._refs()[name]["snapshot_id"]

    def drop_tag(self, name: str) -> None:
        """Remove a tag; the snapshots it protected become expirable."""
        path = os.path.join(self.root, "_icelite", "refs", f"{name}.json")
        if not os.path.exists(path):
            raise KeyError(name)
        os.remove(path)

    def drop_branch(self, name: str) -> None:
        """Remove a branch ref (same mechanics as dropping a tag)."""
        self.drop_tag(name)

    def snapshot_as_of(self, ts) -> int:
        """Newest snapshot committed at or before ``ts`` (datetime or
        epoch-ms) — Iceberg's ``TIMESTAMP AS OF`` time travel. Raises
        ``ValueError`` when every retained snapshot is newer (the
        matching history was expired, or ``ts`` predates the table).
        Metadata only: walks the retained parent chain, newest first."""
        from datetime import datetime as _dt
        ms = int(ts.timestamp() * 1000) if isinstance(ts, _dt) else int(ts)
        cur = self.snapshot_id()
        while cur:
            m = self._manifest(cur)
            # legacy manifests without a timestamp are older than any
            # caller-supplied ts by construction
            if m.get("committed_at_ms", 0) <= ms:
                return cur
            cur = m.get("parent", 0)
            if cur and not os.path.exists(os.path.join(
                    self.root, "_icelite", "commits", f"{cur}.json")):
                break
        raise ValueError(
            f"no retained snapshot at or before {ms} (epoch ms)")

    # -- rollback (the reject arm of write-audit-publish) ------------------------
    def rollback_to(self, snapshot_id: int) -> list[int]:
        """Discard every snapshot NEWER than ``snapshot_id`` and point
        HEAD back at it (Iceberg's ``rollback_to_snapshot``) — the
        reject arm of write-audit-publish: a staged commit that fails
        its audit is erased before any consumer reads past the
        published branch. Returns the dropped snapshot ids.

        Crash-safe via a write-ahead intent file (``_icelite/ROLLBACK``):
        snapshot ids are reused after a rollback, so a manifest left
        above HEAD would permanently collide with the next commit's
        exclusive create — any later handle's ``__init__`` completes an
        interrupted rollback from the journal before trusting HEAD.
        Refuses when a named ref (tag or branch) points above the
        target: the ref would dangle — move or drop it first. Data
        files of the dropped snapshots are reclaimed immediately via
        ``remove_orphans``. Single-maintainer discipline like the other
        maintenance ops: do not roll back under concurrent writers."""
        head = self.snapshot_id()
        if snapshot_id < 0 or snapshot_id > head:
            raise ValueError(
                f"snapshot {snapshot_id} is not an ancestor of HEAD {head}")
        if snapshot_id == head:
            return []
        if snapshot_id and not os.path.exists(os.path.join(
                self.root, "_icelite", "commits", f"{snapshot_id}.json")):
            raise ValueError(
                f"snapshot {snapshot_id} was expired; cannot roll back")
        for name, ref in self._refs().items():
            if ref["snapshot_id"] > snapshot_id:
                raise ValueError(
                    f"ref {name!r} points at snapshot "
                    f"{ref['snapshot_id']} above the rollback target "
                    f"{snapshot_id}; move or drop it first")
        # partition-spec / sort-order changes live in a spec FILE beside
        # the manifest chain: erasing their marker commits would leave
        # the file asserting a spec the retained history never declared
        # (schema evolution is immune — schemas ride the manifests and
        # roll back with them). Refuse rather than silently fork.
        for sid in range(snapshot_id + 1, head + 1):
            m = self._manifest(sid)
            if "spec_evolved_to" in m or "sort_order_set" in m:
                raise ValueError(
                    f"snapshot {sid} changed the partition spec or sort "
                    "order; rollback across it would desynchronize the "
                    "persisted spec — roll back to a later snapshot")
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_icelite"))
        with os.fdopen(fd, "w") as f:
            json.dump({"target": snapshot_id}, f)
        os.replace(tmp, os.path.join(self.root, "_icelite", "ROLLBACK"))
        self._complete_rollback()
        return list(range(snapshot_id + 1, head + 1))

    def _complete_rollback(self) -> None:
        """Finish a journaled rollback (idempotent; called by
        ``rollback_to`` and by ``__init__`` when it finds a pending
        intent). Order: swing HEAD first so no reader resolves a
        manifest this is about to delete, then drop the manifests above
        the target, then clear the journal and reclaim orphaned data."""
        intent_path = os.path.join(self.root, "_icelite", "ROLLBACK")
        with open(intent_path) as f:
            target = json.load(f)["target"]
        if self.snapshot_id() != target:
            fd, tmp = tempfile.mkstemp(
                dir=os.path.join(self.root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                f.write(str(target))
            os.replace(tmp, self._head_path())
        commits_dir = os.path.join(self.root, "_icelite", "commits")
        for name in os.listdir(commits_dir):
            if name.endswith(".json") and int(name[:-5]) > target:
                os.remove(os.path.join(commits_dir, name))
        # dropped snapshot ids WILL be reused by future commits — any
        # cached resolution for them (in THIS handle or any other live
        # one) is now wrong: bump the persisted epoch that every cache
        # hit is gated on, then clear our own
        epoch = self._rollback_epoch() + 1
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.root, "_icelite"))
        with os.fdopen(fd, "w") as f:
            f.write(str(epoch))
        os.replace(tmp, os.path.join(self.root, "_icelite",
                                     "ROLLBACK_EPOCH"))
        os.remove(intent_path)
        self._files_cache.clear()
        self._schema_cache.clear()
        self._cache_epoch = epoch
        self.remove_orphans()

    def _rollback_epoch(self) -> int:
        try:
            with open(os.path.join(self.root, "_icelite",
                                   "ROLLBACK_EPOCH")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _check_rollback_epoch(self) -> None:
        """Invalidate memoized file/schema resolutions when ANY handle
        rolled the table back since they were cached (snapshot-id reuse
        makes them wrong, not merely stale). One small read per cache
        hit — the same O(1) metadata cost profile as snapshot_id()."""
        epoch = self._rollback_epoch()
        if epoch != self._cache_epoch:
            self._files_cache.clear()
            self._schema_cache.clear()
            self._cache_epoch = epoch

    # -- maintenance ------------------------------------------------------------
    _STRUCTURAL_KEYS = frozenset({
        "snapshot_id", "parent", "new_files", "full", "schema",
        "schema_evolved", "file_groups", "deletes", "sealed", "meta_only",
        "file_stats"})
    _OWN_BOOKKEEPING = frozenset({
        "inserted", "total_rows", "compacted", "upsert_mor",
        "committed_at_ms", "spec_evolved_to",
        "sort_order_set", "zordered", "deleted_where", "deleted",
        "updated_rows"})

    def _inherited_meta(self, parent: int) -> dict:
        """Caller ``extra_meta`` keys carried forward from the PARENT
        manifest. Every commit folds these in (own keys win), so the
        latest value of any bookkeeping key — e.g. the incremental
        curation/WET watermarks — is ALWAYS readable from the head
        manifest in O(1), instead of a parent-chain walk that costs
        O(commits) manifest reads whenever foreign appends interleave
        with the bookkeeping writer's commits (r5 VERDICT #7). Inductive:
        the parent already carries everything older, so one manifest read
        suffices. Per-commit counters and kind markers never travel."""
        if not parent:
            return {}
        try:
            m = self._manifest(parent)
        except FileNotFoundError:
            return {}
        return {k: v for k, v in m.items()
                if k not in self._STRUCTURAL_KEYS
                and k not in self._OWN_BOOKKEEPING}

    def commit_meta(self, extra: dict,
                    expected_parent: int | None = None) -> int:
        """Metadata-only commit: advance the snapshot carrying ``extra``
        bookkeeping with NO data files and zero Spark jobs — e.g. the
        incremental WET exporter advancing its watermark past a delta
        whose rows were all already shipped (r5 VERDICT #4: without this
        the fully-covered delta is re-read and re-anti-joined on every
        subsequent run). ``expected_parent``: the same compare-and-swap
        arm as ``append``."""
        parent = (self.snapshot_id() if expected_parent is None
                  else expected_parent)
        sid = parent + 1
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent,
                    "new_files": [], "meta_only": True, **extra}
        total = self._total_rows_at(parent)
        if total is not None and parent:
            manifest["total_rows"] = total  # data untouched
        self._commit_manifest(sid, manifest)
        return sid

    def delete_keys(self, keys: DataFrame, key: str,
                    extra_meta: dict | None = None) -> tuple[int, int]:
        """Equality DELETE as merge-on-read (Iceberg v2 ``DELETE FROM t
        WHERE key IN (...)`` with a delete file): commit ONLY an
        equality-delete key file — O(batch) writes, no data rewrite —
        applied at read time to rows from older commits exactly like
        ``merge_upsert_mor``'s deletes. ``compact()`` later applies it
        physically; deleting keys with no matching row is a harmless
        no-op (what makes at-least-once replay of a retraction step
        idempotent). Returns ``(snapshot_id, deleted)`` where ``deleted``
        counts matching rows at the captured parent snapshot."""
        keys = keys.select(key).distinct().persist()
        try:
            last_err: ConcurrentCommitError | None = None
            for _ in range(3):
                parent = self.snapshot_id()
                sid = parent + 1
                prev_total = self._total_rows_at(parent)
                # the deleted-count scan prunes to the keys' buckets on
                # a bucket-layout table (same discipline as the MERGE
                # probe — at 10^12 rows the count must not scan the
                # table; bucket_ids_for is None on other layouts/keys)
                deleted = (self.read(
                    parent, buckets=self.bucket_ids_for(keys, key))
                    .select(key)
                    .join(keys, key, "left_semi").count()) \
                    if parent else 0
                del_dir, _ = self._stage_delete(keys, sid)
                manifest = {**self._inherited_meta(parent),
                            "snapshot_id": sid, "parent": parent,
                            "new_files": [], "deleted": deleted,
                            "deletes": [{"sid": sid, "dir": del_dir,
                                         "key": key}]}
                if prev_total is not None:
                    manifest["total_rows"] = prev_total - deleted
                if extra_meta:
                    manifest.update(extra_meta)
                try:
                    self._commit_manifest(sid, manifest)
                except ConcurrentCommitError as e:
                    shutil.rmtree(del_dir, ignore_errors=True)
                    last_err = e
                    continue
                return sid, deleted
            raise last_err  # type: ignore[misc]
        finally:
            keys.unpersist()

    def delete_where(self, predicate, prune: dict | None = None
                     ) -> tuple[int, int]:
        """Copy-on-write row-level DELETE (Iceberg ``DELETE FROM t WHERE
        ...`` under the copy-on-write strategy, with manifest-level file
        pruning): entries whose recorded stat bounds prove no row can
        match are carried into the new snapshot UNTOUCHED — pure
        metadata, the dominant case for a ts-range or id-range purge on
        a clustered table; only possibly-matching entries are read and
        rewritten with the matching rows removed. Complements
        ``delete_keys`` (merge-on-read equality deletes, O(batch)
        writes): this arm pays the rewrite up front and keeps the read
        path scan-only.

        ``predicate``: Column (or SQL string) selecting rows to DELETE.
        ``prune``: the same ``{col: (lo, hi)}`` contract as
        ``read(prune=...)`` — must OVER-approximate the predicate's
        matching rows; correctness never depends on it (omitted →
        every entry is rewritten), only the rewrite volume does.

        Pending merge-on-read deletes must be compacted away first:
        rewritten rows would land ABOVE the pending delete commits and
        resurrect (equality deletes apply to OLDER commits only) —
        refused with ``ValueError`` rather than silently corrupting.
        A predicate matching nothing releases its staging and commits
        nothing. Returns ``(snapshot_id, deleted_rows)``; older
        snapshots keep reading their immutable files (time travel sees
        the pre-delete rows until expiry)."""
        if isinstance(predicate, str):
            predicate = F.expr(predicate)
        parent = self.snapshot_id()
        if not parent:
            return 0, 0
        _groups, pending = self._groups_at(parent)
        if pending:
            raise ValueError(
                "pending merge-on-read equality deletes: compact() "
                "before delete_where — a rewrite would lift surviving "
                "rows above the pending delete commits and resurrect "
                "deleted keys")
        sid = parent + 1
        schema = self.schema_at(parent)
        entries = self.files_at(parent)
        touch = (self._prune_entries(entries, parent, prune)
                 if prune else list(entries))
        kept = [e for e in entries if e not in set(touch)]
        if not touch:
            return parent, 0
        before = self._staged_row_count(touch)
        remaining = self._read_file_group(touch, schema).filter(
            ~predicate | F.isnull(predicate))
        data_dir, files = self._stage_data(remaining, sid)
        deleted = before - self._staged_row_count(files)
        if not deleted:
            shutil.rmtree(data_dir, ignore_errors=True)
            return parent, 0
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent,
                    "new_files": kept + files, "full": True,
                    "deleted_where": True, "deleted": deleted,
                    "schema": schema.jsonValue()}
        if self.stat_cols:
            old_stats = self._stats_at(parent)
            manifest["file_stats"] = {
                **{e: old_stats[e] for e in kept if e in old_stats},
                **self._file_stats(files)}
        prev_total = self._total_rows_at(parent)
        if prev_total is not None:
            manifest["total_rows"] = prev_total - deleted
        try:
            self._commit_manifest(sid, manifest)
        except ConcurrentCommitError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        return sid, deleted

    @staticmethod
    def _zvalue(scaled: list, bits: int = 16):
        """Interleaved-bit z-value over pre-scaled ``bits``-wide integer
        columns: bit ``b`` of column ``i`` lands at position
        ``b*len(scaled)+i``. Pure JVM bitwise expressions (one
        whole-stage-codegen projection, no UDF)."""
        n = len(scaled)
        z = F.lit(0).cast("long")
        for b in range(bits):
            for i, sc in enumerate(scaled):
                z = z.bitwiseOR(F.shiftleft(
                    F.shiftright(sc, b).bitwiseAND(F.lit(1)), b * n + i))
        return z

    def _zorder_col(self, df: DataFrame, cols: list[str], bits: int = 16):
        """Z-order clustering key over 2–4 numeric/timestamp columns:
        each column min-max-scaled to a ``bits``-wide integer with ONE
        column-pruned agg over ``df`` (global bounds), then
        bit-interleaved. Values outside [min,max] cannot occur by
        construction; a constant column contributes zero bits."""
        if not 2 <= len(cols) <= 4:
            raise ValueError("zorder takes 2-4 columns")
        names = {f.name: f.dataType.typeName() for f in df.schema.fields}
        for c in cols:
            if c not in names:
                raise ValueError(f"zorder column {c!r} is not in the schema")
            if names[c] in ("string", "binary", "boolean", "array", "map",
                            "struct"):
                raise ValueError(
                    f"zorder column {c!r} has no fixed-width ordered "
                    "encoding (numeric/timestamp/date columns only)")
        mask = (1 << bits) - 1
        aggs = [a for c in cols
                for a in (F.min(F.col(c).cast("double")),
                          F.max(F.col(c).cast("double")))]
        bounds = df.agg(*aggs).first()
        scaled = []
        for i, c in enumerate(cols):
            mn, mx = bounds[2 * i], bounds[2 * i + 1]
            span = (mx - mn) if mn is not None and mx is not None else 0.0
            if not span:
                scaled.append(F.lit(0).cast("long"))
                continue
            scaled.append(F.least(
                F.lit(mask).cast("long"),
                F.floor((F.col(c).cast("double") - F.lit(mn))
                        / F.lit(span) * F.lit(mask))).cast("long"))
        return self._zvalue(scaled, bits)

    def compact(self, target_partitions: int = 8,
                transform=None, zorder: list[str] | None = None) -> int:
        """Rewrite the current snapshot into ``target_partitions`` files
        (Iceberg ``rewrite_data_files`` analog — incremental appends
        accumulate small files; at web scale the scan's split planning
        drowns in them). The new snapshot's manifest carries the full
        rewritten list (``full: true`` — it REPLACES history for readers);
        older snapshots keep reading their own immutable files.

        ``transform``: optional row-preserving DataFrame→DataFrame map
        applied during the rewrite — the seam for partition-value
        BACKFILL after ``evolve_partition_spec`` (rows written before
        the evolution carry NULL in later-added layout columns; the
        caller's derivation fills them so the rewrite lands in proper
        hive dirs instead of ``__HIVE_DEFAULT_PARTITION__``). Must not
        add, drop or reorder rows (row_count is carried through).

        ``zorder``: rewrite clustered on the interleaved-bit z-value of
        2–4 numeric/timestamp columns (Iceberg ``rewrite_data_files``
        with a z-order strategy) instead of the linear sort order. A
        linear sort on (x, y) prunes x-probes but leaves every file
        spanning y's whole range; the z-curve keeps files tight in BOTH
        dimensions, so file-level min/max skipping (``read(prune=...)``)
        bites for either column — the right clustering when probes come
        on more than one column (e.g. warc_ts ranges AND url buckets).
        Costs one extra column-pruned agg for the global bounds; the
        rewrite itself is O(table) either way."""
        parent = self.snapshot_id()
        sid = parent + 1
        current = self.read()
        if transform is not None:
            current = transform(current)
        # with a declared sort order (or, failing that, stat columns),
        # compaction RANGE-clusters on it (Iceberg's rewrite-with-sort-
        # order): a plain repartition would mix every value range into
        # every output file, widening all min/max bounds until data
        # skipping can never prune again
        cluster_cols = self.sort_cols or self.stat_cols
        if zorder:
            staged = (current
                      .withColumn("__z", self._zorder_col(current, zorder))
                      .repartitionByRange(target_partitions, "__z")
                      .sortWithinPartitions("__z")
                      .drop("__z"))
        elif cluster_cols:
            staged = current.repartitionByRange(
                target_partitions, *cluster_cols)
            if self.sort_cols:
                staged = staged.sortWithinPartitions(*self.sort_cols)
        else:
            staged = current.repartition(target_partitions)
        data_dir, files = self._stage_data(staged, sid, cluster=False)
        # caller bookkeeping (e.g. curation watermark) survives the
        # full-history rewrite
        manifest = {**self._inherited_meta(parent),
                    "snapshot_id": sid, "parent": parent,
                    "new_files": files, "full": True, "compacted": True,
                    **({"zordered": list(zorder)} if zorder else {}),
                    # full manifests terminate parent-chain walks once
                    # expiry prunes below them — carry the schema so an
                    # expired evolution commit can't revert the table
                    "schema": self.schema_at(parent).jsonValue()}
        if self.stat_cols:
            manifest["file_stats"] = self._file_stats(files)
        total = self.row_count()
        if total is not None and parent:
            manifest["total_rows"] = total  # row-preserving rewrite
        try:
            self._commit_manifest(sid, manifest)
        except ConcurrentCommitError:
            shutil.rmtree(data_dir, ignore_errors=True)
            raise
        return sid

    def expire_snapshots(self, keep_last: int = 2,
                         older_than=None) -> list[int]:
        """Drop manifests (and data files referenced by NO retained
        snapshot) older than the last ``keep_last`` snapshots. Returns the
        expired snapshot ids. Time travel to expired ids stops working —
        exactly Iceberg's ``expire_snapshots`` contract.

        ``older_than`` (datetime): Iceberg's ``expireOlderThan`` — only
        snapshots whose ``committed_at_ms`` predates it are eligible, so
        a time-based retention policy ("keep a week of history") expires
        nothing on a quiet table. Composes with ``keep_last`` as the
        ``retainLast`` floor: the newest ``keep_last`` snapshots survive
        even when older than the cutoff. Both criteria select a PREFIX
        (commit time is monotone along the chain), so expiry stays
        prefix-shaped.

        The oldest retained manifest is first rewritten with its FULL
        resolved file list (``full: true``) so later parent-chain walks
        never descend into expired manifests."""
        head = self.snapshot_id()
        if not head:
            return []
        oldest_keep = max(1, head - keep_last + 1)
        if older_than is not None:
            # committed_at_ms is UTC epoch millis: interpret a NAIVE
            # cutoff as UTC (r7, ADVICE) — .timestamp() on a naive
            # datetime would otherwise apply the system-local offset
            import datetime as _dt

            if older_than.tzinfo is None:
                older_than = older_than.replace(tzinfo=_dt.timezone.utc)
            cutoff_ms = int(older_than.timestamp() * 1000)
            ts_keep = head  # even an old HEAD is always retained
            for sid in range(1, head + 1):
                try:
                    m = self._manifest(sid)
                except FileNotFoundError:
                    continue  # already expired
                if m.get("committed_at_ms", 0) >= cutoff_ms:
                    ts_keep = sid
                    break
            # min: the time criterion can only RETAIN more than the
            # count floor, never expire into it (retainLast semantics)
            oldest_keep = min(oldest_keep, ts_keep)
        # named refs (tags AND branches) pin history: expiry is
        # prefix-shaped, so the whole prefix up to the oldest ref is
        # retained (Iceberg's ref-retention contract — drop or move the
        # ref to release it)
        pinned = [r["snapshot_id"] for r in self._refs().values()]
        if pinned:
            oldest_keep = min(oldest_keep, min(pinned))
        # clamp to the oldest RETAINED manifest: a previous expiry with a
        # smaller window may have already removed manifests inside this
        # one (expiry always removes an id-prefix), and both the keep_files
        # resolution and the seal below must only touch manifests that
        # still exist — same guard history()/schema_at() apply
        commits_dir = os.path.join(self.root, "_icelite", "commits")
        while (oldest_keep < head and not os.path.exists(
                os.path.join(commits_dir, f"{oldest_keep}.json"))):
            oldest_keep += 1
        # resolve everything needed BEFORE any manifest disappears; the
        # keep set includes equality-delete files any retained snapshot's
        # merge-on-read read path still applies
        keep_files: set[str] = set()
        for sid in range(oldest_keep, head + 1):
            keep_files.update(self.files_at(sid))
            _, dels = self._groups_at(sid)
            keep_files.update(d["dir"] for d in dels)
        m = self._manifest(oldest_keep)
        keep_groups, keep_deletes = self._groups_at(oldest_keep)
        # seal when the manifest is a delta (needs the resolved file list)
        # OR lacks a schema (an already-full manifest whose schema still
        # lives in an about-to-expire parent) OR sits above un-compacted
        # merge-on-read commits (the delete predicates need per-commit
        # provenance): either way the oldest retained manifest must be
        # self-contained after expiry
        if (not m.get("full") or "schema" not in m
                or (keep_deletes and "file_groups" not in m)):
            kept_entries = self.files_at(oldest_keep)
            kept_stats = {k: v
                          for k, v in self._stats_at(oldest_keep).items()
                          if k in set(kept_entries)}
            sealed = {"snapshot_id": oldest_keep, "parent": m["parent"],
                      "new_files": kept_entries, "full": True,
                      # maintenance marker: history() reports this as
                      # 'seal' even when the sealed commit's own upsert
                      # markers travel below (r6 ADVICE)
                      "sealed": True,
                      # data-skipping bounds of the retained files
                      # survive the seal
                      **({"file_stats": kept_stats} if kept_stats else {}),
                      # seal the schema in effect here: the evolution commit
                      # that introduced it may be among the expired parents
                      "schema": self.schema_at(oldest_keep).jsonValue()}
            if keep_deletes:
                # preserve merge-on-read state across the seal: provenance
                # groups + the still-pending delete entries
                sealed["file_groups"] = [[s, fs] for s, fs in keep_groups]
                sealed["deletes"] = keep_deletes
            # the sealed manifest keeps its OWN counters/kind markers and
            # caller extra_meta (e.g. the incremental-curation watermark:
            # "rides the commit atomically" must survive maintenance) —
            # the manifest already holds the newest value of every
            # extra_meta key, each commit having inherited its parent's
            for k, v in m.items():
                if k not in self._STRUCTURAL_KEYS:
                    sealed[k] = v
            fd, tmp = tempfile.mkstemp(
                dir=os.path.join(self.root, "_icelite"))
            with os.fdopen(fd, "w") as f:
                json.dump(sealed, f)
            os.replace(tmp, os.path.join(self.root, "_icelite", "commits",
                                         f"{oldest_keep}.json"))
        expired = []
        for sid in range(1, oldest_keep):
            mpath = os.path.join(self.root, "_icelite", "commits",
                                 f"{sid}.json")
            if not os.path.exists(mpath):
                continue
            old = self._manifest(sid)
            # delete files introduced by expired MOR commits go too (unless
            # a retained snapshot still applies them — keep_files has those)
            delta = old["new_files"] + [d["dir"]
                                        for d in old.get("deletes", [])]
            for f in delta:
                if f not in keep_files and os.path.exists(f):
                    if os.path.isdir(f):
                        shutil.rmtree(f, ignore_errors=True)
                    else:
                        os.remove(f)
            os.remove(mpath)
            expired.append(sid)
        self._files_cache.clear()
        self._schema_cache.clear()
        return expired

    def remove_orphans(self) -> list[str]:
        """Delete data directories referenced by NO surviving manifest —
        Iceberg's ``remove_orphan_files`` analog. Unique staging dirs make
        lost-race/crashed writers leave orphans behind by design (readers
        never see them); this reclaims the space. Safe against every
        retained snapshot, not just HEAD: the keep set is the union of all
        manifests' resolved file lists."""
        commits_dir = os.path.join(self.root, "_icelite", "commits")
        keep_dirs: set[str] = set()
        for name in os.listdir(commits_dir):
            if not name.endswith(".json"):
                continue
            sid = int(name[:-5])
            try:
                entries = self.files_at(sid)
            except FileNotFoundError:
                # manifest whose parent chain was expired (itself an
                # orphan): keep ITS OWN files conservatively
                entries = self._manifest(sid)["new_files"]
            entries = list(entries) + [
                d["dir"]
                for d in self._manifest(sid).get("deletes", [])]
            for f in entries:
                # normalize file entries to their commit directory
                d = f if os.path.isdir(f) else os.path.dirname(f)
                keep_dirs.add(os.path.normpath(d))
        data_root = os.path.join(self.root, "data")
        removed = []
        for name in sorted(os.listdir(data_root)):
            d = os.path.normpath(os.path.join(data_root, name))
            if d not in keep_dirs:
                shutil.rmtree(d, ignore_errors=True)
                removed.append(d)
        return removed
