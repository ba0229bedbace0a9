"""Processed-file tracking (SURVEY §2.A E-FILE-TRACK).

The reference's XMLReader keeps a KV tracking table of processed files so
re-runs skip already-seen inputs [P: XMLReaderBatchSource `processedFileTable`,
reprocessingRequired]. The idiomatic Spark equivalent IS the checkpointed
Structured Streaming file source: the checkpoint's file log is the tracking
table, `Trigger.AvailableNow` is the batch re-run, and exactly-once sinks
give the same at-most-once-per-file guarantee. `cleanSource` covers the
reference's post-actions (archive/delete) — demonstrated by
tests/test_streaming.py::test_file_tracking_archives_processed_files.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from xml_processor_spark.io import scratch_dir, table
from xml_processor_spark.registry import register


def run_tracked_ingest(spark, src_dir: str, checkpoint: str, out_dir: str) -> None:
    """One tracked ingest round: process files not yet in the checkpoint log."""
    stream = (
        spark.readStream.schema("o_orderkey LONG, o_totalprice DOUBLE")
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )


@register(
    "E-FILE-TRACK",
    oracle="""
        SELECT 'round1' AS phase,
               CAST(count(*) FILTER (o_orderkey % 100 = 0) AS BIGINT) AS n
        FROM orders
        UNION ALL
        SELECT 'round2_new_rows',
               CAST(count(*) FILTER (o_orderkey % 100 = 1) AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'total',
               CAST(count(*) FILTER (o_orderkey % 100 <= 1) AS BIGINT)
        FROM orders
    """,
    origin="REF",
    doc="XMLReader processed-file tracking via checkpointed streaming file "
        "source: round 1 ingests files A,B; a file C arrives; round 2 "
        "ingests ONLY C (checkpoint = tracking table). Returns per-round "
        "row counts proving exactly-once per file. Oracle-checked since r8: "
        "the oracle computes each phase count from the orders view, so a "
        "hash match proves round 2 ingested EXACTLY the new file - a "
        "re-ingest of A/B would inflate round2_new_rows and mismatch.",
)
def e_file_track(spark, sf_dir):
    base = scratch_dir(spark, "filetrack", fresh=True)
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")
    os.makedirs(src)

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    batch1 = o.filter(F.col("o_orderkey") % 100 == 0)
    batch2 = o.filter(F.col("o_orderkey") % 100 == 1)

    # Round 1: two files land.
    tmp1 = os.path.join(base, "w1")
    batch1.coalesce(2).write.mode("overwrite").json(tmp1)
    n = 0
    for f in sorted(os.listdir(tmp1)):
        if f.endswith(".json"):
            shutil.copy(os.path.join(tmp1, f), os.path.join(src, f"a{n}.json"))
            n += 1
    run_tracked_ingest(spark, src, ckpt, out)
    round1 = spark.read.parquet(out).count()

    # A third file lands; round 2 must process only it.
    tmp2 = os.path.join(base, "w2")
    batch2.coalesce(1).write.mode("overwrite").json(tmp2)
    for f in sorted(os.listdir(tmp2)):
        if f.endswith(".json"):
            shutil.copy(os.path.join(tmp2, f), os.path.join(src, "c0.json"))
    run_tracked_ingest(spark, src, ckpt, out)
    total = spark.read.parquet(out).count()

    return spark.createDataFrame(
        [("round1", round1), ("round2_new_rows", total - round1), ("total", total)],
        "phase STRING, n LONG",
    )
