"""Per-partition lineage manifests + run metrics (north rule; the analog of
the reference's progress callbacks and run statistics —
lib/pdf-parse-stream.js:110-118, lib/SmartPDFParser.js:595-628).

``partition_manifest`` aggregates the extracted output by physical partition
id entirely in Spark (one groupBy over ``spark_partition_id()`` — no
driver-side iteration), yielding one manifest row per partition: row/error
counts, conv_id range, and total kernel milliseconds (from the extraction
operator's ``with_lineage`` timing column).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def partition_manifest(extracted: DataFrame) -> list[dict]:
    aggs = [
        F.count("*").alias("n_rows"),
        F.count("error").alias("n_errors"),
        F.min("conv_id").alias("min_conv_id"),
        F.max("conv_id").alias("max_conv_id"),
        F.countDistinct("conv_id").alias("n_convs"),
    ]
    if "kernel_ms" in extracted.columns:
        # kernel_ms is per Arrow batch (replicated across the batch's rows);
        # batch_seq is the per-task monotonic batch id, so summing one
        # (batch_seq, kernel_ms) pair per batch is EXACT even when two
        # batches time out to the identical float
        base = extracted.withColumn("partition_id", F.spark_partition_id())
        per_batch = base.groupBy("partition_id", "batch_seq").agg(
            F.first("kernel_ms").alias("batch_ms")
        )
        kern = per_batch.groupBy("partition_id").agg(
            F.round(F.sum("batch_ms"), 1).alias("kernel_ms")
        )
        main = base.groupBy("partition_id").agg(*aggs)
        rows = (
            main.join(kern, "partition_id", "left")
            .orderBy("partition_id")
            .collect()
        )
        return [r.asDict() for r in rows]
    rows = (
        extracted.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(*aggs)
        .orderBy("partition_id")
        .collect()
    )
    return [r.asDict() for r in rows]


def run_stats(extracted: DataFrame) -> DataFrame:
    """A5/A6 analog: per-family success/error counts + text-size stats."""
    return extracted.groupBy("family").agg(
        F.count("*").alias("n"),
        F.count("error").alias("n_errors"),
        F.round(F.avg(F.length("extracted_text")), 2).alias("avg_chars"),
        F.expr("percentile_approx(length(extracted_text), 0.5)").alias(
            "median_chars"
        ),
        F.max(F.length("extracted_text")).alias("max_chars"),
    )
