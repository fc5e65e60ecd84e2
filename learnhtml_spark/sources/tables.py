"""Bucketed span-table sink with per-partition lineage and checkpoint-resume.

North-rule requirement (no reference equivalent — the reference's restart
story is "rerun from scratch"): extraction over a 10^12-doc corpus must be
resumable.  Design:

- the corpus is hash-bucketed by doc_id (``bucket = |xxhash64(doc_id)| %
  num_buckets``) — deterministic, recomputable on both input and output
  sides, so no extra columns flow through the extraction UDF;
- output is written ``partitionBy(bucket)`` with dynamic partition
  overwrite: re-processing a bucket atomically replaces exactly its own
  files (the parquet-backed stand-in for Iceberg ``overwritePartitions``;
  swap `format("parquet")` for `writeTo(table)` on a real catalog);
- after each bucket group lands, a lineage row (run_id, bucket, doc/span
  counts, wall, status) is appended to ``<base>/lineage``;
- resume = read lineage, skip buckets already ``ok`` for this run_id —
  a restarted job re-reads only unfinished buckets (partition pruning on
  the bucket filter keeps the input scan proportional to remaining work).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from learnhtml_spark.schemas import LINEAGE


def bucket_col(num_buckets: int, col: str = "doc_id"):
    return (F.abs(F.xxhash64(F.col(col))) % num_buckets).cast("int")


def read_lineage(spark: SparkSession, base_path: str) -> DataFrame:
    path = os.path.join(base_path, "lineage")
    try:
        return spark.read.schema(LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], LINEAGE)


def completed_buckets(spark: SparkSession, base_path: str, run_id: str) -> set[int]:
    lin = read_lineage(spark, base_path)
    rows = (
        lin.filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r.bucket for r in rows}


def write_extraction_run(
    docs: DataFrame,
    model_bytes: bytes,
    base_path: str,
    run_id: str,
    num_buckets: int = 16,
    max_buckets_per_call: int | None = None,
) -> dict:
    """Run (or resume) an extraction job: process pending buckets, write
    span output partitioned by bucket, append lineage rows.

    Returns a summary dict {processed_buckets, skipped_buckets, docs, spans}.
    Idempotent: a completed run is a no-op on re-invocation.
    """
    from learnhtml_spark.operators.extract import extract_content_spans

    spark = docs.sparkSession

    done = completed_buckets(spark, base_path, run_id)
    all_buckets = list(range(num_buckets))
    pending = [b for b in all_buckets if b not in done]
    if max_buckets_per_call is not None:
        pending = pending[:max_buckets_per_call]
    if not pending:
        return {
            "processed_buckets": [],
            "skipped_buckets": sorted(done),
            "docs": 0,
            "spans": 0,
        }

    bucketed = docs.withColumn("bucket", bucket_col(num_buckets))
    batch = bucketed.filter(F.col("bucket").isin(pending)).drop("bucket")

    t0 = time.time()
    out = extract_content_spans(batch, model_bytes)
    out = out.withColumn("bucket", bucket_col(num_buckets))
    # per-write dynamic overwrite: only the pending buckets' partitions
    # are replaced, without changing the caller's session configuration
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("bucket").parquet(os.path.join(base_path, "spans"))
    wall_ms = int((time.time() - t0) * 1000)

    # per-bucket metrics from the landed output + the input doc counts
    from learnhtml_spark.schemas import EXTRACTED_SPANS
    from pyspark.sql.types import IntegerType, StructField, StructType

    # NB: StructType.add mutates in place — build a fresh StructType
    landed_schema = StructType(
        list(EXTRACTED_SPANS.fields) + [StructField("bucket", IntegerType())]
    )
    # explicit schema: a run whose pending buckets produced no rows leaves
    # an empty directory that schema inference cannot read
    landed = spark.read.schema(landed_schema).parquet(
        os.path.join(base_path, "spans")
    ).filter(F.col("bucket").isin(pending))
    span_stats = landed.groupBy("bucket").agg(
        F.countDistinct("doc_id").alias("docs_with_output"),
        F.sum(F.when(F.col("kind") != "error", 1).otherwise(0)).alias("span_count"),
        F.sum(F.when(F.col("kind") == "error", 1).otherwise(0)).alias("error_count"),
    )
    doc_stats = (
        bucketed.filter(F.col("bucket").isin(pending))
        .groupBy("bucket")
        .agg(F.count("*").alias("doc_count"))
    )
    stats = {
        r.bucket: r
        for r in doc_stats.join(span_stats, "bucket", "left").collect()
    }
    lineage_rows = [
        (
            run_id,
            int(b),
            int(stats[b].doc_count) if b in stats else 0,
            int(stats[b].span_count or 0) if b in stats else 0,
            int(stats[b].error_count or 0) if b in stats else 0,
            wall_ms,
            "ok",
        )
        for b in pending
    ]
    spark.createDataFrame(lineage_rows, LINEAGE).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(base_path, "lineage"))

    total_docs = sum(r[2] for r in lineage_rows)
    total_spans = sum(r[3] for r in lineage_rows)
    return {
        "processed_buckets": pending,
        "skipped_buckets": sorted(done),
        "docs": total_docs,
        "spans": total_spans,
    }
