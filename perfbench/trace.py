"""In-memory span tracer for the traced benchmark run (``--trace 1``).

Spans are opened only by wrappers defined here, around calls into the
package's public functions and the icelite metadata helpers; the package
itself is not modified. Each span records its name, start, end, parent and
the benchmark operation it belongs to. Spans stay in memory and are written
out once, when the run ends.

A layer's self time is its span's duration minus the part of that interval
covered by its child spans.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from dataclasses import dataclass, field

# icelite helpers whose work is driver-side metadata: manifest reads, the
# HEAD compare-and-swap, footer statistics and range walks
ICELITE_META = ("snapshot_id", "_manifest", "_commit_manifest", "row_count",
                "_file_stats", "_staged_row_count", "_inherited_meta",
                "deletes_in_range", "bucket_ids_for", "set_branch",
                "branches", "files_at", "schema_at")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans from wrapped calls while ``enabled`` is true.

    ``op`` names the benchmark operation (for example ``commit:3``) that
    spans opened from now on belong to; streaming micro-batches run on a
    callback thread and are assigned to their batch afterwards by time.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    # -- recording ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            parent = stack[-1] if stack else None
            self.spans.append(Span(name, time.perf_counter(), parent=parent,
                                   op=self.op))
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, owner, attr: str, name):
        """Replace ``owner.attr`` by a wrapper opening a span per call.
        ``name`` is a string or a callable ``(args, kwargs) -> str | None``;
        ``None`` means the call is not traced."""
        orig = owner.__dict__[attr]
        is_static = isinstance(orig, staticmethod)
        fn = orig.__func__ if is_static else orig
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            if label is None:
                return fn(*args, **kwargs)
            return tracer.call(label, fn, *args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def install(self) -> None:
        """Wrap the public calls whose layers the benchmark reports."""
        from pyspark.sql.readwriter import DataFrameWriter

        import sanskrit_ocr_spark.extract.curate as curate_mod
        import sanskrit_ocr_spark.extract.job as job_mod
        import sanskrit_ocr_spark.sources.warclite as warc_mod
        from sanskrit_ocr_spark.tables.icelite import IceliteTable

        self.wrap(job_mod, "run_extraction", "run_extraction")
        self.wrap(curate_mod, "curate_table", "curate_table")
        self.wrap(warc_mod, "read_warc", "read_warc")

        def parquet_label(args, kwargs):
            path = args[1] if len(args) > 1 else kwargs.get("path", "")
            return ("job.stage_write" if "_staging_extract" in str(path)
                    else None)

        self.wrap(DataFrameWriter, "parquet", parquet_label)
        self.wrap(IceliteTable, "merge_on_key", "icelite.merge_on_key")
        self.wrap(IceliteTable, "merge_upsert_mor",
                  "icelite.merge_upsert_mor")
        self.wrap(IceliteTable, "read", "icelite.read")
        self.wrap(IceliteTable, "read_changes", "icelite.read_changes")

        def append_label(args, kwargs):
            return ("lineage.append" if args[0].root.endswith("/lineage")
                    else "icelite.append")

        self.wrap(IceliteTable, "append", append_label)
        for attr in ICELITE_META:
            self.wrap(IceliteTable, attr, "icelite.meta")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- analysis ----------------------------------------------------------
    @staticmethod
    def _covered(spans, lo: float, hi: float) -> float:
        """Seconds of ``[lo, hi]`` that the union of ``spans`` covers."""
        covered, cur_end = 0.0, lo
        for c in sorted(spans, key=lambda c: c.start):
            a, b = max(c.start, cur_end), min(c.end, hi)
            if b > a:
                covered += b - a
                cur_end = b
        return covered

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return (s.end - s.start) - self._covered(
            (self.spans[i] for i in s.children), s.start, s.end)

    def uncovered_frac(self, op: str, lo: float, hi: float) -> float:
        """Share of the operation's interval ``[lo, hi]`` that none of its
        top-level spans covers."""
        top = (s for s in self.spans
               if s.op == op and s.parent is None and s.end)
        return 1.0 - self._covered(top, lo, hi) / (hi - lo)

    def self_by_op(self) -> dict[str, dict[str, float]]:
        """``{op: {span name: summed self time}}`` over finished spans."""
        out: dict[str, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.op is None or s.end == 0.0:
                continue
            per = out.setdefault(s.op, {})
            per[s.name] = per.get(s.name, 0.0) + self.self_time(i)
        return out

    def total_by_op(self) -> dict[str, dict[str, float]]:
        """``{op: {span name: summed duration}}``, children included; a span
        nested in another of the same name is not counted twice."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if s.op is None or s.end == 0.0:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != s.name:
                p = self.spans[p].parent
            if p is None:
                per = out.setdefault(s.op, {})
                per[s.name] = per.get(s.name, 0.0) + (s.end - s.start)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([{"name": s.name, "start": s.start, "end": s.end,
                        "parent": s.parent, "op": s.op}
                       for s in self.spans], f)
