"""The three closed-loop workloads: one client, one process, a fixed number
of operations per run (derived from ``--seconds``, never from a clock), so
every run walks the same sequence of table states.

Each workload returns its measurements as a ``Measured``; ``run.py`` turns
them into the end-to-end and per-layer metrics. Only calls into the
package's public functions are timed.
"""

from __future__ import annotations

import hashlib
import os
import time
from dataclasses import dataclass, field
from datetime import timedelta

import sanskrit_ocr_spark.extract.curate as curate_mod
import sanskrit_ocr_spark.extract.job as job_mod
from perfbench.core import (
    CpuMeter, Run, check, dir_bytes, doc_base, force_read, nproc,
    pages_frame, write_pages,
)


# Seconds one timed operation nominally takes; ``count_for`` turns
# ``--seconds`` into a fixed operation count with them.
BULK_S_PER_PASS = 4.0
TOPUP_S_PER_COMMIT = 2.0
STREAM_S_PER_BATCH = 4.0
# topup: warm-up commits before the timed ones (commit times stop falling
# after about the fourth commit), and a curation after every second commit
TOPUP_WARM = 4
TOPUP_CURATE_EVERY = 2


@dataclass(frozen=True)
class Sizes:
    bulk_docs: int
    topup_base: int
    topup_new: int                # new docs per batch
    topup_old: int                # already-committed docs per batch
    topup_rep: int                # in-batch repeats per batch
    topup_reads: int
    stream_base: int
    stream_half: int              # recrawled (= new) records per segment
    stream_reads: int
    probe_docs: int


FULL = Sizes(bulk_docs=5000,
             topup_base=1500, topup_new=48, topup_old=12, topup_rep=4,
             topup_reads=6,
             stream_base=400, stream_half=60, stream_reads=5,
             probe_docs=1000)

TINY = Sizes(bulk_docs=300,
             topup_base=300, topup_new=24, topup_old=6, topup_rep=2,
             topup_reads=2,
             stream_base=200, stream_half=30, stream_reads=2,
             probe_docs=100)


def count_for(seconds: int, per_op: float, minimum: int) -> int:
    return max(minimum, round(seconds / per_op))


@dataclass
class Measured:
    setup_end: float = 0.0            # perf_counter when timed work began
    timed: CpuMeter = field(default_factory=CpuMeter)
    docs_committed: int = 0           # rows the timed commits inserted
    docs_extracted: int = 0           # pages the timed commits extracted
    root: str = ""                    # extracted-table root for storage
    live_docs: int = 0
    bytes_before: int = 0             # root bytes when timed work began
    written_docs: int = 0             # docs those written bytes hold
    curate_rows_in: list[int] = field(default_factory=list)
    curate_rows_out: list[int] = field(default_factory=list)
    stream_progress: list[dict] = field(default_factory=list)
    stream_group: str = ""            # job group of the timed stream
    probe_pages: object = None        # pandas sample for the layer probes


def _pages_df(run: Run, pdf, name: str, n_files: int):
    out = run.fresh(name)
    write_pages(pdf, out, n_files)
    return run.spark.read.parquet(out)


# -- bulk -----------------------------------------------------------------

def bulk(run: Run, sz: Sizes, seconds: int) -> Measured:
    """Extract one large corpus into a fresh table, pass after pass, then
    curate it and read it back. Nearly all CPU goes to the kernels inside
    the Arrow/UDF stage; icelite commits once per pass."""
    m = Measured()
    pdf = pages_frame(doc_base(run.seed, 0), sz.bulk_docs)
    expected = pdf["url"].nunique()
    pages = _pages_df(run, pdf, "pages", nproc())
    m.probe_pages = pdf.iloc[:sz.probe_docs]
    passes = count_for(seconds, BULK_S_PER_PASS, 3)

    def one_pass(i: int, traced: bool) -> str:
        root = run.fresh(f"bulk-{i}")
        with run.op("commit" if i >= 0 else "warm", i, traced):
            res = job_mod.run_extraction(run.spark, pages, root)
            check(res.get("inserted") == expected,
                  f"bulk inserted {res.get('inserted')} != {expected}")
        ext = job_mod.extracted_table(run.spark, root)
        with run.op("curate" if i >= 0 else "warm", i, traced):
            cres = curate_mod.curate_table(run.spark, root + "-corpus", ext)
            check(cres["inserted"] > 0 and
                  cres["corpus_total"] == cres["inserted"],
                  f"bulk curate {cres}")
        if i >= 0:
            m.curate_rows_in.append(expected)
            m.curate_rows_out.append(cres["inserted"])
        with run.op("read" if i >= 0 else "warm", i, traced):
            n, u, _ = force_read(ext.read())
            check(n == expected and u == expected,
                  f"bulk table rows {n}, urls {u}, expected {expected}")
        return root

    one_pass(-1, False)
    m.setup_end = time.perf_counter()
    m.timed.start()
    for i in range(passes):
        m.root = one_pass(i, i % 2 == 0)
    m.timed.stop()
    m.docs_committed = m.docs_extracted = passes * expected
    m.live_docs = m.written_docs = expected
    return m


# -- topup ----------------------------------------------------------------

def topup(run: Run, sz: Sizes, seconds: int) -> Measured:
    """Many small fixed-size batches into a large base table. Each batch
    holds new pages, pages already committed and in-batch repeats; the
    fixed per-commit cost (jobs, staging write, resume anti-join, merge and
    manifest CAS, lineage, driver metadata) dominates."""
    import pandas as pd

    m = Measured()
    spark = run.spark
    base = pages_frame(doc_base(run.seed, 1), sz.topup_base)
    base_df = _pages_df(run, base, "base", nproc())
    m.probe_pages = base.iloc[:sz.probe_docs]
    root, corpus = run.path("topup"), run.path("topup-corpus")
    m.root = root
    commits = count_for(seconds, TOPUP_S_PER_COMMIT, 6)

    committed = set(base["url"])
    with run.op("base", 0):
        res = job_mod.run_extraction(spark, base_df, root)
        check(res.get("inserted") == len(committed), f"topup base {res}")
    ext = job_mod.extracted_table(spark, root)
    with run.op("warm", 0):
        force_read(ext.read())

    # pre-land every batch; expected inserts follow from the url sets
    batches, expect = [], []
    new_lane = doc_base(run.seed, 2)
    for k in range(TOPUP_WARM + commits):
        new = pages_frame(new_lane + k * sz.topup_new, sz.topup_new)
        o = (k * sz.topup_old) % (sz.topup_base - sz.topup_old)
        batch = pd.concat([new, base.iloc[o:o + sz.topup_old],
                           new.iloc[:sz.topup_rep]], ignore_index=True)
        d = run.fresh("batches", str(k))
        write_pages(batch, d, 1)
        batches.append(d)
        fresh_urls = set(new["url"]) - committed
        check(bool(fresh_urls), f"topup batch {k} adds no rows")
        expect.append(len(fresh_urls))
        committed |= fresh_urls

    state = {"total": 0}

    def cycle(first: int, count: int, timed: bool) -> None:
        """``count`` commits from batch ``first`` on, with ``curate_table``
        after every ``TOPUP_CURATE_EVERY``-th. Every batch adds rows, so no
        curation is a no-op. Warm-up cycles run the same shape untimed."""
        since_curate = 0
        for i in range(count):
            k = first + i
            with run.op("commit" if timed else "warm", i, i % 2 == 0):
                res = job_mod.run_extraction(
                    spark, spark.read.parquet(batches[k]), root)
                check(res.get("inserted") == expect[k],
                      f"topup batch {k} inserted {res.get('inserted')} "
                      f"!= {expect[k]}")
            since_curate += expect[k]
            if (i + 1) % TOPUP_CURATE_EVERY:
                continue
            n, cres = len(m.curate_rows_in), None
            with run.op("curate" if timed else "warm", n, n % 2 == 0):
                cres = curate_mod.curate_table(spark, corpus, ext)
                check(cres["watermark"] == ext.snapshot_id(),
                      f"topup curate watermark {cres}")
                check(cres["corpus_total"] ==
                      state["total"] + cres["inserted"],
                      f"topup corpus total {cres} after {state['total']}")
            if cres is not None:  # None: the call raised, counted failed
                state["total"] = cres["corpus_total"]
                if timed:
                    m.curate_rows_in.append(since_curate)
                    m.curate_rows_out.append(cres["inserted"])
            since_curate = 0

    cycle(0, TOPUP_WARM, timed=False)
    m.setup_end = time.perf_counter()
    m.bytes_before = dir_bytes(root)
    m.timed.start()
    cycle(TOPUP_WARM, commits, timed=True)
    m.timed.stop()
    m.docs_committed = m.written_docs = sum(expect[TOPUP_WARM:])
    m.docs_extracted = commits * (sz.topup_new + sz.topup_rep)

    for i in range(sz.topup_reads):
        with run.op("read", i, i % 2 == 0):
            n, u, _ = force_read(ext.read())
            check(n == u == len(committed),
                  f"topup table rows {n}, urls {u}, expected {len(committed)}")
    with run.op("check", 0):
        check(ext.row_count() == len(committed),
              f"topup total {ext.row_count()} != base + distinct new "
              f"{len(committed)}")
        res = job_mod.run_extraction(spark, spark.read.parquet(batches[-1]),
                                     root)
        check(res.get("inserted") == 0, f"topup resubmit inserted {res}")
    m.live_docs = len(committed)
    return m


# -- stream_recrawl -------------------------------------------------------

def _warc_records(pdf):
    return [(u, ts.to_pydatetime(), h)
            for u, ts, h in zip(pdf["url"], pdf["warc_ts"], pdf["html"])]


def stream_recrawl(run: Run, sz: Sizes, seconds: int) -> Measured:
    """A recrawl stream drains pre-landed WARC segments one micro-batch per
    segment; half of each segment re-crawls committed urls with new content,
    half is new. Merge-on-read upserts pile up equality deletes that every
    later read and ``read_changes`` pays for."""
    from pyspark.sql import functions as F

    from sanskrit_ocr_spark.kernels.page import extract_page
    from sanskrit_ocr_spark.sources.warclite import write_warc
    from sanskrit_ocr_spark.streaming.ingest import start_warc_ingest

    m = Measured()
    spark = run.spark
    h = sz.stream_half
    segments = count_for(seconds, STREAM_S_PER_BATCH, 3)
    base = pages_frame(doc_base(run.seed, 3), sz.stream_base)
    check(sz.stream_base >= segments * h, "stream base too small to recrawl")
    m.probe_pages = base.iloc[:sz.probe_docs]
    root, corpus = run.path("stream"), run.path("stream-corpus")
    m.root = root
    with run.op("base", 0):
        res = job_mod.run_extraction(spark, _pages_df(run, base, "base",
                                                      nproc()), root)
        check(res.get("inserted") == base["url"].nunique(),
              f"stream base {res}")

    # expected latest version per url: a later batch replaces, and within a
    # batch the earliest warc_ts wins (first-wins by order column)
    latest: dict[str, tuple] = {}

    def apply_batch(records):
        seen = {}
        for u, ts, html in records:
            if u not in seen or ts < seen[u][0]:
                seen[u] = (ts, html)
        latest.update(seen)

    apply_batch(_warc_records(base))
    content_lane, new_lane = doc_base(run.seed, 4), doc_base(run.seed, 5)
    seg_docs = []
    t_land = time.time() - 10_000
    for s in range(segments):
        src = base.iloc[s * h:(s + 1) * h]
        # recrawled content comes from a doc of the same datagen kind
        content = pages_frame(content_lane + s * h, h)
        recrawl = [(u, (ts + timedelta(days=30, hours=s)).to_pydatetime(), c)
                   for u, ts, c in zip(src["url"], src["warc_ts"],
                                       content["html"])]
        records = recrawl + _warc_records(pages_frame(new_lane + s * h, h))
        d = run.path("landing")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"seg-{s:03d}.warc.gz")
        write_warc(path, records)
        os.utime(path, (t_land + s, t_land + s))
        apply_batch(records)
        seg_docs.append(len(records))

    ext = job_mod.extracted_table(spark, root)

    # per-batch commit time from on_batch_committed stamps; curate_table
    # runs inside each batch and is timed by a stopwatch around the call
    stamps: list[float] = []
    curates: list[tuple[float, dict]] = []
    tracer = run.tracer
    orig_curate = curate_mod.curate_table

    def timed_curate(*a, **kw):
        t = time.perf_counter()
        res = orig_curate(*a, **kw)
        curates.append((time.perf_counter() - t, res))
        return res

    def on_batch(batch_id):
        stamps.append(time.perf_counter())
        if tracer is not None:
            tracer.enabled = len(stamps) % 2 == 0

    m.setup_end = time.perf_counter()
    m.bytes_before = dir_bytes(root)
    curate_mod.curate_table = timed_curate
    if tracer is not None:
        tracer.enabled, tracer.op = True, "stream"
    m.timed.start()
    t0 = time.perf_counter()
    try:
        q = start_warc_ingest(spark, run.path("landing"), root,
                              run.path("ckpt"), max_files_per_trigger=1,
                              available_now=True, recrawl=True,
                              curate_root=corpus, on_batch_committed=on_batch)
        q.awaitTermination()
        check(q.exception() is None, f"stream failed: {q.exception()}")
        progress = [p for p in q.recentProgress if p.get("numInputRows")]
        # Spark runs every job of a streaming query under its run id
        m.stream_group = str(q.runId)
    except Exception as e:  # counted below as failed batches
        run.record_failure(f"stream drain: {e!r}")
        progress = []
    finally:
        curate_mod.curate_table = orig_curate
        if tracer is not None:
            tracer.enabled, tracer.op = False, None
    m.timed.stop()
    m.stream_progress = progress

    bounds = [t0] + stamps
    for i in range(segments):
        ok = i < len(stamps)
        run.add_op("commit", i, traced=tracer is not None and i % 2 == 0,
                   wall=bounds[i + 1] - bounds[i] if ok else 0.0, ok=ok,
                   window=(bounds[i], bounds[i + 1]) if ok else None)
    for i, ((wall, res), n_in) in enumerate(zip(curates, seg_docs)):
        run.add_op("curate", i, traced=False, wall=wall, ok=True)
        m.curate_rows_in.append(n_in)
        m.curate_rows_out.append(res["inserted"])
    m.docs_committed = m.docs_extracted = m.written_docs = sum(seg_docs)

    for i in range(-1, sz.stream_reads):
        with run.op("read" if i >= 0 else "warm", i, i % 2 == 0):
            n, u, _ = force_read(ext.read())
            check(n == u == len(latest),
                  f"stream table rows {n}, urls {u}, expected {len(latest)}")
    with run.op("check", 0):
        check(len(stamps) == segments,
              f"stream committed {len(stamps)} of {segments} batches")
        want = {u: hashlib.md5(extract_page(html)[0].encode()).hexdigest()
                for u, (_, html) in latest.items()}
        md5 = F.md5(F.encode("text", "UTF-8")).alias("h")
        got = {r["url"]: r["h"] for r in
               ext.read().select("url", md5).collect()}
        bad = sum(1 for u in want if got.get(u) != want[u])
        check(bad == 0 and len(got) == len(want),
              f"stream content: {bad} urls differ from a batch recompute, "
              f"{len(got)} urls in table, {len(want)} expected")
        from sanskrit_ocr_spark.tables.icelite import IceliteTable
        from sanskrit_ocr_spark.extract.curate import _corpus_schema

        corp = IceliteTable(spark, corpus, _corpus_schema())
        pairs = corp.read().select("url", "text_md5").collect()
        last = curates[-1][1] if curates else {}
        check(last.get("corpus_total") == len(pairs) ==
              len({p["text_md5"] for p in pairs}),
              f"stream corpus_total {last.get('corpus_total')} vs "
              f"{len(pairs)} corpus rows")
        stale = sum(1 for p in pairs if got.get(p["url"]) != p["text_md5"])
        check(stale == 0, f"stream corpus keeps {stale} superseded texts")
    m.live_docs = len(latest)
    return m


WORKLOADS = {"bulk": bulk, "topup": topup, "stream_recrawl": stream_recrawl}

