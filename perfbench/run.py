#!/usr/bin/env python3
"""Benchmark of the web-text extraction system, run from a checkout root:

    python3 perfbench/run.py --workload {bulk,topup,stream_recrawl} \\
        --seed N --seconds S --trace {0,1}

Builds the inputs for ``--seed`` with the package's datagen, runs the
workload on ``local[nproc]`` in a fresh directory under ``.bench_runs/``,
checks the outputs against values derived from the generator and prints,
as the last line of standard output, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is a separate, traced run that reports
the per-layer metrics. The line before it carries details: sample counts,
tail percentiles and the box-drift diagnostics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["bulk", "topup", "stream_recrawl"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True,
                   help="nominal measured time; sets the fixed op count")
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--tiny", action="store_true",
                   help="a few hundred docs (self-test scale)")
    return p.parse_args(argv)


def start_spark(workdir: str, cores: int):
    from sanskrit_ocr_spark.conf import build_spark

    tmp = os.path.join(workdir, "tmp")
    spark = build_spark(
        app="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra={"spark.ui.enabled": "false",
               "spark.ui.showConsoleProgress": "false",
               "spark.driver.memory": "2g",
               "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
               # the JVM writes its temporary files into the run directory
               # and no perf-data file
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                   "-XX:-UsePerfData"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session; wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = procstat.tree_pids()[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the JVM exits when its stdin closes (PythonGatewayServer)
        proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the JVM's Python workers exit once the JVM has gone
    def alive():
        return [p for p in started if os.path.exists(f"/proc/{p}")]

    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def tail(xs: list[float]) -> dict | None:
    """Highest percentile that still has at least ten samples beyond it."""
    n = len(xs)
    if n <= 10:
        return None
    s = sorted(xs)
    return {"value": s[n - 11], "pct": round(100 * (n - 10) / n, 1),
            "n": n}


def e2e_metrics(run, m, setup_s: float) -> dict:
    from perfbench import procstat
    from perfbench.core import dir_bytes, median

    commits = run.walls("commit")
    ok = sum(1 for o in run.ops if o.ok)
    return {
        "setup_s": setup_s,
        "ingest_docs_per_s": (m.docs_committed / sum(commits)
                              if commits else 0.0),
        "commit_s_p50": median(commits),
        "curate_s_p50": median(run.walls("curate")),
        "read_s": median(run.walls("read")),
        "cpu_s_per_kdoc": m.timed.cpu / (m.docs_extracted / 1000),
        "stored_bytes_per_doc": dir_bytes(m.root) / max(m.live_docs, 1),
        "peak_rss_mb": procstat.peak_rss_mb(),
        "ok_ops_frac": ok / len(run.ops),
    }


def layer_probes(run, m, workload: str) -> tuple[dict, list]:
    """Layer probes on the workload's own input sample and final table.
    Returns (metrics, stream progress of the probe stream, if any)."""
    from perfbench.core import CpuMeter, nproc, write_pages
    from sanskrit_ocr_spark.extract.pipeline import extract_pages
    from sanskrit_ocr_spark.kernels.page import extract_page
    from sanskrit_ocr_spark.sources import warclite
    from sanskrit_ocr_spark.streaming.ingest import start_warc_ingest
    import sanskrit_ocr_spark.extract.job as job_mod

    spark, tracer = run.spark, run.tracer
    sample = m.probe_pages
    kdocs = len(sample) / 1000
    out = {}

    t = time.perf_counter()
    for html in sample["html"]:
        extract_page(html)
    kernel_s = time.perf_counter() - t
    out["kernels.page_s_per_kdoc"] = kernel_s / kdocs

    pages_dir = run.fresh("probe-pages")
    write_pages(sample, pages_dir, nproc())
    pages = spark.read.parquet(pages_dir)
    meter = CpuMeter().start()
    extract_pages(pages).write.format("noop").mode("overwrite").save()
    meter.stop()
    out["pipeline.noop_s"] = meter.wall
    out["pipeline.kernel_frac"] = kernel_s / meter.cpu

    ext = job_mod.extracted_table(spark, m.root)
    t = time.perf_counter()
    (pages.join(ext.read().select("url"), "url", "left_anti")
     .write.format("noop").mode("overwrite").save())
    out["job.antijoin_s"] = time.perf_counter() - t

    warc_dir = run.fresh("probe-warc")
    os.makedirs(warc_dir)
    warclite.write_warc(
        os.path.join(warc_dir, "probe.warc.gz"),
        [(u, ts.to_pydatetime(), h) for u, ts, h in
         zip(sample["url"], sample["warc_ts"], sample["html"])])
    t = time.perf_counter()
    warclite.read_warc(spark, warc_dir).write.format("noop") \
        .mode("overwrite").save()
    out["warclite.read_s_per_kdoc"] = (time.perf_counter() - t) / kdocs

    progress = []
    if workload == "stream_recrawl":
        # the timed loop never calls run_extraction: probe it once
        tracer.enabled, tracer.op = True, "probe:extract"
        try:
            job_mod.run_extraction(spark, pages, run.fresh("probe-extract"))
        finally:
            tracer.enabled, tracer.op = False, None
    else:
        # the timed loop never streams or upserts: probe a recrawl stream
        tracer.enabled, tracer.op = True, "probe:stream"
        try:
            q = start_warc_ingest(spark, warc_dir, run.fresh("probe-stream"),
                                  run.fresh("probe-ckpt"),
                                  max_files_per_trigger=1,
                                  available_now=True, recrawl=True)
            q.awaitTermination()
            progress = [p for p in q.recentProgress
                        if p.get("numInputRows")]
        finally:
            tracer.enabled, tracer.op = False, None
    return out, progress


def layer_metrics(run, m, workload: str) -> dict:
    from perfbench.core import dir_bytes, median
    import sanskrit_ocr_spark.extract.job as job_mod

    tracer = run.tracer
    # streaming spans were opened on Spark's callback thread: assign each
    # to the micro-batch whose commit window holds its start
    for o in run.ops:
        if o.window is not None:
            for s in tracer.spans:
                if s.op == "stream" and o.window[0] <= s.start < o.window[1]:
                    s.op = f"{o.kind}:{o.index}"
    probe, probe_progress = layer_probes(run, m, workload)
    selfs = tracer.self_by_op()
    totals = tracer.total_by_op()

    traced = [o for o in run.ops if o.traced and o.ok
              and o.kind in ("commit", "curate")]
    commits = [f"commit:{o.index}" for o in traced if o.kind == "commit"]
    curates = [f"{o.kind}:{o.index}" for o in traced
               if "curate_table" in selfs.get(f"{o.kind}:{o.index}", {})]
    probe_op = ("probe:extract" if workload == "stream_recrawl"
                else "probe:stream")

    def per(names, ops, by=selfs):
        """Median over ``ops`` of the summed time of spans ``names``; the
        probe's value where the timed ops never reach those spans."""
        v = median(sum(by.get(op, {}).get(n, 0.0) for n in names)
                   for op in ops)
        if v == 0.0:
            v = sum(by.get(probe_op, {}).get(n, 0.0) for n in names)
        return v

    def frac(names):
        num = sum(selfs.get(f"{o.kind}:{o.index}", {}).get(n, 0.0)
                  for o in traced for n in names)
        den = sum(o.wall for o in traced)
        return num / den if den else 0.0

    progress = m.stream_progress or probe_progress

    def stream_p50(key):
        return median(p["durationMs"].get(key, 0) / 1000 for p in progress)

    if m.stream_group:
        # micro-batches run under their streaming query's job group
        j, t = run.jobs_and_tasks(m.stream_group)
        n = max(len(run.walls("commit")), 1)
        jobs, tasks = [j / n], [t / n]
    else:
        counts = [run.jobs_and_tasks(o.group) for o in run.ops
                  if o.kind == "commit" and o.ok]
        jobs, tasks = [c[0] for c in counts], [c[1] for c in counts]

    ext = job_mod.extracted_table(run.spark, m.root)
    data_dir = os.path.join(m.root, "extracted", "data")
    data_files = delete_files = 0
    for d, _, files in os.walk(data_dir):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if os.path.relpath(d, data_dir).startswith("delete-"):
            delete_files += n
        else:
            data_files += n
    written = dir_bytes(m.root) - m.bytes_before

    untraced = [o.wall for o in run.ops
                if o.kind == "commit" and o.ok and not o.traced]
    traced_walls = [o.wall for o in run.ops
                    if o.kind == "commit" and o.ok and o.traced]
    uncovered = [tracer.uncovered_frac(f"commit:{o.index}", *o.window)
                 for o in traced if o.kind == "commit"]

    out = dict(probe)
    out.update({
        "kernels.cpu_share": (out["kernels.page_s_per_kdoc"]
                              * m.docs_extracted / 1000 / m.timed.cpu),
        "job.stage_write_s": per(["job.stage_write"], commits),
        "job.driver_self_s": per(["run_extraction"], commits),
        "icelite.merge_on_key_s": per(["icelite.merge_on_key"], commits,
                                      totals),
        "icelite.merge_upsert_mor_s": per(["icelite.merge_upsert_mor"],
                                          commits, totals),
        "icelite.metadata_s": per(["icelite.meta"], commits),
        "icelite.read_changes_s": per(["icelite.read_changes"], curates,
                                      totals),
        "icelite.scan_files_per_read": len(ext.read().inputFiles()),
        "icelite.data_files": data_files,
        "icelite.delete_files": delete_files,
        "icelite.bytes_written_per_doc": written / max(m.written_docs, 1),
        "icelite.self_frac": frac(["icelite.merge_on_key",
                                   "icelite.merge_upsert_mor",
                                   "icelite.meta", "icelite.append",
                                   "lineage.append"]),
        "icelite.read_path_frac": frac(["icelite.read",
                                        "icelite.read_changes",
                                        "icelite.merge_upsert_mor"]),
        "lineage.append_s": per(["lineage.append"], commits, totals),
        "curate.rows_in": median(m.curate_rows_in),
        "curate.rows_out": median(m.curate_rows_out),
        "curate.self_s": per(["curate_table"], curates),
        "stream.add_batch_s_p50": stream_p50("addBatch"),
        "stream.latest_offset_s": stream_p50("latestOffset"),
        "stream.query_planning_s": stream_p50("queryPlanning"),
        "spark.jobs_per_commit": median(jobs),
        "spark.tasks_per_commit": median(tasks),
        "trace.overhead_s": median(traced_walls) - median(untraced),
        "trace.uncovered_frac": median(uncovered),
    })
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "sanskrit_ocr_spark")):
        print("perfbench: the sanskrit_ocr_spark package is not next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2

    workdir = os.path.join(ROOT, ".bench_runs",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(os.path.join(workdir, "tmp"))
    # every run writes only inside its own directory of the checkout, and
    # the Python workers import the package from the checkout
    os.environ["TMPDIR"] = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from perfbench import procstat
    from perfbench.core import E2E_METRICS, LAYER_METRICS, Run, nproc
    from perfbench.trace import Tracer
    from perfbench.workloads import FULL, TINY, WORKLOADS

    diag = {"box.calib_s_start": procstat.calib_s(),
            "loadavg_1m_start": procstat.loadavg_1m()}
    steal0 = procstat.steal_ticks()
    cores = nproc()
    spark = start_spark(workdir, cores)
    tracer = Tracer() if args.trace else None
    if tracer is not None:
        tracer.install()
    run = Run(spark, workdir, args.seed, tracer)
    try:
        m = WORKLOADS[args.workload](run, TINY if args.tiny else FULL,
                                     args.seconds)
        setup_s = m.setup_end - T_START
        if args.trace:
            metrics = layer_metrics(run, m, args.workload)
            names = LAYER_METRICS
            tracer.dump(os.path.join(
                ROOT, ".bench_runs",
                f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = e2e_metrics(run, m, setup_s)
            names = E2E_METRICS
        commits = run.walls("commit")
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    diag.update({"box.calib_s_end": procstat.calib_s(),
                 "loadavg_1m_end": procstat.loadavg_1m(),
                 "steal_ticks": procstat.steal_ticks() - steal0,
                 "nproc": cores})
    failed = sum(1 for o in run.ops if not o.ok)
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "setup_s": setup_s, "wall_s": time.perf_counter() - T_START,
        "samples": {k: len(run.walls(k)) for k in
                    ("commit", "curate", "read")},
        "commit_s_tail": tail(commits),
        "drift": diag,
    }
    if args.trace:
        # span bookkeeping closes when the top-level spans of a traced
        # commit cover all but a tenth of its wall time
        details["trace_coverage_within_10pct"] = (
            metrics["trace.uncovered_frac"] <= 0.10)
    print("perfbench ops: " + " ".join(
        f"{o.kind}:{o.index}={o.wall:.2f}{'' if o.ok else '!'}"
        for o in run.ops), file=sys.stderr)
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": failed == 0 and not run.failures,
        "attempted": len(run.ops),
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in names},
    }))
    return 0


if __name__ == "__main__":
    code = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # every process this run started has been waited for; skip interpreter
    # teardown, where py4j finalizers can stall on the closed gateway
    os._exit(code)
