"""The Spark extraction stage — reference E1/E2 re-expressed Spark-first.

Shape (SURVEY.md §2.10 M2): one ``mapInPandas`` stage over Arrow batches of
``(url, warc_ts, html)``; the per-batch body runs the pure kernels from
``sanskrit_ocr_spark.kernels`` — the same functions that computed the golden
fixtures, so byte-identity is identity of code. No row-at-a-time Python UDFs
anywhere; batching is Spark's Arrow pipeline (the rebuild analog of the
reference's 1024-prompt GPU batches, translate_bookcorpus.py:83-91,139).

Scale posture:

* **column pruning** — the stage selects exactly ``url, warc_ts, html``
  before the UDF so a scan over the wide pages table prunes to 3 columns;
* **salted repartition** — an input with fewer splits than cores is spread
  by ``xxhash64(url, warc_ts)`` before the expensive map (AQE skew handling
  covers joins, not map stages, so this is explicit, SURVEY.md §4); the
  width comes from the bare input scan's metadata (``extract_width``), so
  a one-Arrow-batch top-up runs in one task with no shuffle;
* **bucket column** — ``part_hash = pmod(xxhash64(url), N_BUCKETS)`` is
  computed JVM-side (built-in ``xxhash64``) and doubles as the lineage
  partition key and the storage bucketing key.
"""

from __future__ import annotations

from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sanskrit_ocr_spark.conf import ARROW_BATCH_ROWS
from sanskrit_ocr_spark.kernels.page import extract_page

N_BUCKETS = 1024

SENTENCE_TYPE = ArrayType(
    StructType([
        StructField("start", IntegerType(), False),
        StructField("end", IntegerType(), False),
    ]),
    containsNull=False,
)

# Explicit output schema — never inferred (the reference's first-chunk schema
# inference, h5_to_parquet.py:62-66, is the footgun SURVEY.md §1.3 bans).
UDF_OUT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("text", StringType(), False),
    StructField("sentences", SENTENCE_TYPE, False),
    StructField("n_graphemes", LongType(), False),
    StructField("status", StringType(), False),
])

EXTRACTED_SCHEMA = StructType(
    UDF_OUT_SCHEMA.fields + [StructField("part_hash", LongType(), False)]
)

PAGES_INPUT_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType(), True),
    StructField("html", BinaryType(), True),
])


_PA_SENTENCES = pa.list_(pa.struct([pa.field("start", pa.int32(), False),
                                    pa.field("end", pa.int32(), False)]))


def _extract_arrow_batches(
        batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Arrow-batch body: whole-batch extraction via the pure kernels.

    ``mapInArrow`` rather than ``mapInPandas``: the ``url``/``warc_ts``
    columns pass through zero-copy (no Arrow→pandas→Arrow roundtrip), and
    the outputs are built as Arrow arrays directly — measurably less memory
    traffic per batch, which is what limits per-core throughput when 32
    workers share one socket's cache/bandwidth.
    """
    for batch in batches:
        if batch.num_rows == 0:
            continue
        texts: list[str] = []
        spans: list[list[tuple[int, int]]] = []
        counts: list[int] = []
        statuses: list[str] = []
        for payload in batch.column("html").to_pylist():
            t, sp, n, st = extract_page(payload)
            texts.append(t)
            spans.append(sp)
            counts.append(n)
            statuses.append(st)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("url"),
                batch.column("warc_ts"),
                pa.array(texts, pa.string()),
                pa.array(spans, _PA_SENTENCES),
                pa.array(counts, pa.int64()),
                pa.array(statuses, pa.string()),
            ],
            names=["url", "warc_ts", "text", "sentences",
                   "n_graphemes", "status"],
        )


def _plan_nodes(plan) -> list:
    """Every node of a JVM physical plan, pre-order."""
    out = [plan]
    kids = plan.children()
    for i in range(kids.size()):
        out.extend(_plan_nodes(kids.apply(i)))
    return out


def _fits_one_batch(pages: DataFrame, scans: list, max_files: int) -> bool:
    """True when the parquet footers under ``pages`` hold at most
    ``ARROW_BATCH_ROWS`` rows — an upper bound on its rows, read on the
    driver with no Spark job. False for any other leaf, a non-local
    path, or more than ``max_files`` files."""
    if not all(n.getClass().getSimpleName() == "FileSourceScanExec"
               and n.relation().fileFormat().getClass().getSimpleName()
               == "ParquetFileFormat" for n in scans):
        return False
    files = pages.inputFiles()
    if len(files) > max_files:
        return False
    rows = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return False
        rows += pq.ParquetFile(unquote(u.path)).metadata.num_rows
        if rows > ARROW_BATCH_ROWS:
            return False
    return True


def extract_width(pages: DataFrame) -> int:
    """Salted-repartition width for ``extract_pages`` (0 = keep the
    scan's own splits), decided from what the driver already knows about
    the bare input scan — no Spark job runs:

    * a streaming input, or one whose plan already holds an exchange
      (its split count is only known by running it — under AQE
      ``getNumPartitions`` executes the upstream stages), gets
      ``2 × defaultParallelism``;
    * one split per core or more: 0. The salt's only job is parallelism
      for the map stage, and shuffling the html payload for parallelism
      the scan already has never paid for itself (interleaved A/B at 80k
      rows / 32 splits on local[32]: salted 32.0/11.7/8.6 s per commit,
      scan-direct 13.8/8.1/5.4 s);
    * fewer splits than cores, over at most ``4 × defaultParallelism``
      parquet files whose footers hold ≤ ``ARROW_BATCH_ROWS`` rows: 0.
      That is one Arrow batch of UDF work, which a shuffle and
      2 × cores Python tasks only slow down;
    * otherwise ``2 × defaultParallelism`` — byte-based splits pack a
      small corpus into one task, which would serialize the map.
    """
    par = pages.sparkSession.sparkContext.defaultParallelism
    spread = 2 * par
    if pages.isStreaming:
        return spread
    nodes = _plan_nodes(pages._jdf.queryExecution().executedPlan())
    names = [n.getClass().getSimpleName() for n in nodes]
    if any("Exchange" in n or n == "AdaptiveSparkPlanExec" for n in names):
        return spread
    if pages.rdd.getNumPartitions() >= par:
        return 0
    scans = [n for n in nodes if n.children().size() == 0]
    return 0 if _fits_one_batch(pages, scans, 4 * par) else spread


def extract_pages(pages: DataFrame, salt_partitions: int | None = None) -> DataFrame:
    """``pages(url, warc_ts, html, …)`` → extracted rows (EXTRACTED_SCHEMA).

    ``salt_partitions``: width of the salted repartition on
    ``xxhash64(url, warc_ts)`` before the UDF — spreads hot hosts /
    duplicate urls across tasks AND gives the expensive map stage full
    parallelism when the scan coalesces small files into few splits.
    Default (None): ``extract_width(pages)`` — no salt for an input of at
    most ``ARROW_BATCH_ROWS`` rows or of one split per core or more, else
    ``2 × defaultParallelism``. Pass ``0`` to keep the scan's natural
    partitioning; an explicit width always forces the shuffle (hot-host
    spreading for pathological inputs). Callers that feed a derived plan
    (e.g. the resume anti-join) size it on the bare scan first and pass
    the width in.

    The explicit partition count is deliberate: AQE does not coalesce a
    user-specified repartition width, so the map stage's parallelism is
    stable regardless of input byte size.
    """
    if salt_partitions is None:
        salt_partitions = extract_width(pages)
    pruned = pages.select("url", "warc_ts", "html")
    if salt_partitions:
        pruned = pruned.repartition(salt_partitions,
                                    F.xxhash64("url", "warc_ts"))
    out = pruned.mapInArrow(_extract_arrow_batches, schema=UDF_OUT_SCHEMA)
    return out.withColumn(
        "part_hash", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).cast("long")
    )


def lineage_rows(extracted: DataFrame, snapshot_id: int,
                 committed_at) -> DataFrame:
    """Per-partition lineage: one row per (part_hash, status) with the
    partition's total doc count — FIXTURES.md §A3 / north_rule metrics.

    ONE pass over the data: partial aggregation is map-side (free), the
    single shuffle is on (part_hash, status), and the per-partition
    doc_count is a window sum over the already-aggregated frame
    (≤ buckets × statuses rows) — no second scan, no join. At 100 TB the
    input is the expensive UDF output, so scanning it once matters.
    """
    from pyspark.sql.window import Window

    per_status = (extracted.groupBy("part_hash", "status")
                  .agg(F.count("*").alias("fail_count")))
    w = Window.partitionBy("part_hash")
    return (per_status
            .withColumn("doc_count", F.sum("fail_count").over(w))
            .select(
                F.lit(snapshot_id).cast("long").alias("snapshot_id"),
                F.col("part_hash").alias("partition_hash"),
                F.col("doc_count"),
                F.col("status").alias("fail_code"),
                F.col("fail_count"),
                F.lit(committed_at).cast("timestamp").alias("committed_at"),
            ))
