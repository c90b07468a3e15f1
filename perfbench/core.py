"""Shared run context: timed operations, failure accounting, input
generation and the metric names the benchmark reports."""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

from perfbench import procstat
from perfbench.trace import Tracer

# (name, unit) of every end-to-end metric, in the order BENCHMARK.json
# lists them. Every workload reports all of them.
E2E_METRICS = [
    ("setup_s", "s"),
    ("ingest_docs_per_s", "docs/s"),
    ("commit_s_p50", "s"),
    ("curate_s_p50", "s"),
    ("read_s", "s"),
    ("cpu_s_per_kdoc", "s/kdoc"),
    ("stored_bytes_per_doc", "B/doc"),
    ("peak_rss_mb", "MB"),
    ("ok_ops_frac", "frac"),
]

# (name, unit) of every per-layer metric reported by the traced run.
LAYER_METRICS = [
    ("kernels.page_s_per_kdoc", "s/kdoc"),
    ("kernels.cpu_share", "frac"),
    ("pipeline.noop_s", "s"),
    ("pipeline.kernel_frac", "frac"),
    ("job.antijoin_s", "s"),
    ("job.stage_write_s", "s"),
    ("job.driver_self_s", "s"),
    ("icelite.merge_on_key_s", "s"),
    ("icelite.merge_upsert_mor_s", "s"),
    ("icelite.metadata_s", "s"),
    ("icelite.read_changes_s", "s"),
    ("icelite.scan_files_per_read", "count"),
    ("icelite.data_files", "count"),
    ("icelite.delete_files", "count"),
    ("icelite.bytes_written_per_doc", "B/doc"),
    ("icelite.self_frac", "frac"),
    ("icelite.read_path_frac", "frac"),
    ("lineage.append_s", "s"),
    ("curate.rows_in", "count"),
    ("curate.rows_out", "count"),
    ("curate.self_s", "s"),
    ("stream.add_batch_s_p50", "s"),
    ("stream.latest_offset_s", "s"),
    ("stream.query_planning_s", "s"),
    ("warclite.read_s_per_kdoc", "s/kdoc"),
    ("spark.jobs_per_commit", "count"),
    ("spark.tasks_per_commit", "count"),
    ("trace.overhead_s", "s"),
    ("trace.uncovered_frac", "frac"),
]


class CheckFailed(Exception):
    """An output of the program differs from the value derived from the
    generator."""


def check(cond: bool, what: str) -> None:
    if not cond:
        raise CheckFailed(what)


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


@dataclass
class Op:
    kind: str
    index: int
    group: str
    traced: bool
    wall: float = 0.0
    ok: bool = True
    window: tuple[float, float] | None = None


@dataclass
class Run:
    """One benchmark run: the session, its directories, the tracer and the
    ledger of attempted operations."""

    spark: object
    workdir: str
    seed: int
    tracer: Tracer | None
    ops: list[Op] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)

    @property
    def sc(self):
        return self.spark.sparkContext

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def record_failure(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    @contextlib.contextmanager
    def op(self, kind: str, index: int, traced: bool = True):
        """Time one operation under its own Spark job group. An exception
        inside marks the operation failed and is never swallowed silently:
        it is printed and counted, and the run goes on to the next one."""
        o = Op(kind, index, f"pb-{kind}-{index}",
               traced=bool(self.tracer) and traced)
        self.ops.append(o)
        self.sc.setJobGroup(o.group, f"perfbench {kind} {index}")
        if self.tracer is not None:
            self.tracer.enabled = o.traced
            self.tracer.op = f"{kind}:{index}"
        t = time.perf_counter()
        try:
            yield o
        except Exception:  # the benchmark boundary: count, report, go on
            o.ok = False
            self.record_failure(f"{kind}:{index}\n{traceback.format_exc()}")
        finally:
            o.wall = time.perf_counter() - t
            o.window = (t, t + o.wall)
            if self.tracer is not None:
                self.tracer.enabled = False
                self.tracer.op = None
            self.sc.setJobGroup("pb-idle", "perfbench set-up and checks")

    def add_op(self, kind: str, index: int, traced: bool, wall: float,
               ok: bool, window: tuple[float, float] | None = None) -> None:
        """Record an operation timed outside ``op`` (a streaming
        micro-batch, which runs on Spark's callback thread)."""
        self.ops.append(Op(kind, index, "", traced, wall, ok, window))
        if not ok:
            self.record_failure(f"{kind}:{index} did not complete")

    def walls(self, kind: str, traced: bool | None = None) -> list[float]:
        return [o.wall for o in self.ops if o.kind == kind and o.ok
                and (traced is None or o.traced == traced)]

    def jobs_and_tasks(self, group: str) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:
                    tasks += si.numCompletedTasks + si.numFailedTasks
        return len(jobs), tasks


class CpuMeter:
    """CPU seconds of the process tree between ``start`` and ``stop``."""

    def __init__(self):
        self.t0 = self.c0 = 0.0
        self.cpu = self.wall = 0.0

    def start(self):
        self.t0, self.c0 = time.perf_counter(), procstat.cpu_seconds()
        return self

    def stop(self):
        self.cpu = procstat.cpu_seconds() - self.c0
        self.wall = time.perf_counter() - self.t0
        return self


# -- inputs ---------------------------------------------------------------

def doc_base(seed: int, lane: int) -> int:
    """First doc id of input lane ``lane`` (0-7) for ``seed``. Lanes are
    disjoint 100k-id ranges aligned to datagen's 100-row blocks, so every
    lane has the same mix of page kinds. Datagen stamps doc ``i`` at
    ``i`` minutes past its epoch, so ids stay below 10^8 to keep every
    timestamp inside pandas' nanosecond range (year 2262)."""
    slot = (seed * 7919) % 120
    return (slot * 8 + lane) * 100_000


def pages_frame(start: int, n: int):
    """Datagen rows ``[start, start+n)`` as pandas ``(url, warc_ts, html)``
    with UTC timestamps."""
    import pandas as pd

    from sanskrit_ocr_spark.datagen.pages import pages_pandas

    pdf = pages_pandas(start, n)[["url", "warc_ts", "html"]]
    pdf["warc_ts"] = pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC")
    return pdf


def write_pages(pdf, out_dir: str, n_files: int) -> None:
    """Land a pages frame as ``n_files`` parquet files, so a scan of it gets
    one split per file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(pdf) // n_files)
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        if len(part):
            pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                           os.path.join(out_dir, f"part-{i:03d}.parquet"),
                           coerce_timestamps="us")


def force_read(df) -> tuple[int, int, int]:
    """One job that decodes every column of ``df``: row count, distinct
    urls and an order-free hash of all values."""
    from pyspark.sql import functions as F

    row = df.select(F.count(F.lit(1)).alias("n"),
                    F.count_distinct("url").alias("u"),
                    F.bit_xor(F.xxhash64(*df.columns)).alias("h")).first()
    return row["n"], row["u"], row["h"] or 0
