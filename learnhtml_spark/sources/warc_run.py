"""Checkpoint-resumable extraction runs over WARC crawl archives.

North-rule requirement on the realistic input: a crawl-extraction job
over ~100k archives (~100 TB) must be resumable with per-partition
lineage + metrics.  Here the natural unit of work, checkpointing, AND
output partitioning is the archive file (the CommonCrawl convention —
production crawl jobs track a manifest of processed WARC paths):

- one task per archive, end-to-end, in ONE ``mapInPandas``: WARC
  framing -> gzip members (``decode_archive``) -> HTTP decode ->
  interleaved assembly -> either the density rules
  (``warc_heuristic_spans_fused``) or the classifier kernel
  ``extract_rows``, called once on every document of the Arrow batch
  (``warc_classifier_spans_fused``) -> ordered spans.  The archive
  column rides through the kernel natively, so per-archive metrics need
  no join and the whole job runs with zero exchanges besides the final
  per-archive metric aggregate.  On both paths a damaged record, a
  poison archive or a poison document becomes a ``kind='error'`` row,
  counted into the archive's lineage ``error_count``;
- output is ``partitionBy(archive)`` with dynamic partition overwrite:
  re-processing an archive atomically replaces exactly its own files
  (the parquet stand-in for Iceberg ``overwritePartitions``);
- a lineage row (run_id, archive, doc/span/error counts, wall, status)
  lands per processed archive; resume = skip archives already ``ok``
  for this run_id.  New archives appearing in the directory are picked
  up by the next invocation (incremental crawl catch-up) while finished
  ones are never re-read — the input listing is pruned BEFORE any bytes
  are read, so a resumed job's scan cost is proportional to remaining
  work.

The driver-side state is one row per archive (the manifest) — ~100k
strings at 100 TB, trivially collectable; all per-document work stays on
executors.
"""

from __future__ import annotations

import os
import time
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from learnhtml_spark.operators.extract import (
    broadcast_model,
    error_row,
    extract_rows,
)
from learnhtml_spark.sources.warc_source import assemble_interleaved, decode_archive

WARC_SPANS = StructType(
    [
        StructField("archive", StringType(), False),
        StructField("doc_id", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType(), False),
    ]
)

WARC_LINEAGE = StructType(
    [
        StructField("run_id", StringType(), False),
        StructField("archive", StringType(), False),
        StructField("doc_count", LongType()),
        StructField("span_count", LongType()),
        StructField("error_count", LongType()),
        # wall clock of the WHOLE batch call that landed this archive (the
        # same value is stamped on every archive of one call) — named so
        # the manifest cannot be misread as per-archive timing
        StructField("batch_wall_ms", LongType()),
        StructField("status", StringType()),
    ]
)


def _archive_docs(pdf: pd.DataFrame, rows: list) -> Iterator[tuple[str, list]]:
    """Decode each (path, content) archive row of ``pdf`` and yield
    (archive basename, [(uri, spans)]) per archive.  Archive-level and
    record-level failures are appended to ``rows`` as error rows."""
    for path, content in zip(pdf["path"], pdf["content"]):
        base = os.path.basename(path)
        try:
            records = decode_archive(path, content)
        except Exception as exc:  # noqa: BLE001 — archive-level poison
            rows.append((base, *error_row("", exc)))
            continue
        docs, errors = assemble_interleaved(records)
        rows.extend((base, uri, "error", err, None, -1) for uri, err in errors)
        yield base, docs


def warc_heuristic_spans_fused(raw: DataFrame) -> DataFrame:
    """(path, content) archive rows -> ordered heuristic spans with the
    archive basename attached.  One task per archive, zero exchanges;
    per-document and per-archive failures become auditable error rows
    (the media_features poison contract), never task failures."""
    from learnhtml_spark.operators.heuristic import extract_spans_heuristic_doc

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for base, docs in _archive_docs(pdf, rows):
                for uri, spans in docs:
                    try:
                        rows.extend(
                            (base, *r)
                            for r in extract_spans_heuristic_doc(uri, spans)
                        )
                    except Exception as exc:  # noqa: BLE001 — per-doc poison
                        rows.append((base, *error_row(uri, exc)))
            yield pd.DataFrame(rows, columns=WARC_SPANS.fieldNames())

    return raw.mapInPandas(run, schema=WARC_SPANS)


def warc_classifier_spans_fused(raw: DataFrame, model_bytes: bytes) -> DataFrame:
    """Classifier-model variant of the fused run, in the same single
    ``mapInPandas``: every archive of an Arrow batch is decoded and
    assembled as in the heuristic path, then ONE ``extract_rows`` call
    classifies all of the batch's documents (one model call per batch).
    Documents are keyed by (archive, uri), so the archive column needs no
    packing into doc_id; damaged records, poison archives and poison
    documents become the same error rows as the heuristic path."""
    load = broadcast_model(raw.sparkSession, model_bytes)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clf = load()
        for pdf in batches:
            rows = []
            keyed = [
                ((base, uri), spans)
                for base, docs in _archive_docs(pdf, rows)
                for uri, spans in docs
            ]
            rows.extend((*key, *r) for key, *r in extract_rows(keyed, clf))
            yield pd.DataFrame(rows, columns=WARC_SPANS.fieldNames())

    return raw.mapInPandas(run, schema=WARC_SPANS)


def _read_lineage(spark: SparkSession, base_path: str) -> DataFrame:
    path = os.path.join(base_path, "lineage")
    try:
        return spark.read.schema(WARC_LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], WARC_LINEAGE)


def completed_archives(
    spark: SparkSession, base_path: str, run_id: str
) -> set[str]:
    rows = (
        _read_lineage(spark, base_path)
        .filter((F.col("run_id") == run_id) & (F.col("status") == "ok"))
        .select("archive")
        .distinct()
        .collect()
    )
    return {r.archive for r in rows}


def list_archives(spark: SparkSession, warc_dir: str) -> dict[str, str]:
    """basename -> full path manifest of the archive directory.  Uses the
    binaryFile listing (works on any Hadoop-compatible FS) but reads ZERO
    content bytes — the listing is metadata-only until content is
    projected.  ~100k rows at 100 TB, fine to collect."""
    rows = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.warc*")
        .load(warc_dir)
        .select("path")
        .collect()
    )
    return {os.path.basename(r.path): r.path for r in rows}


def write_warc_run(
    spark: SparkSession,
    warc_dir: str,
    base_path: str,
    run_id: str,
    max_archives_per_call: int | None = None,
    model_bytes: bytes | None = None,
) -> dict:
    """Run (or resume) a crawl extraction over an archive directory.

    Idempotent per archive: completed archives are pruned from the input
    listing before any content is read; a rerun after new archives land
    processes only the new ones.  Returns {processed, skipped, docs,
    spans, errors}.

    ``model_bytes``: None -> the heuristic density extractor (cheap
    first-pass strip); a NodeClassifier artifact -> the full ML
    extraction path (warc_classifier_spans_fused).
    """
    manifest = list_archives(spark, warc_dir)
    done = completed_archives(spark, base_path, run_id)
    pending = sorted(set(manifest) - done)
    if max_archives_per_call is not None:
        pending = pending[:max_archives_per_call]
    if not pending:
        return {"processed": [], "skipped": sorted(done), "docs": 0,
                "spans": 0, "errors": 0}

    t0 = time.time()
    raw = (
        spark.read.format("binaryFile")
        .load([manifest[b] for b in pending])
        .select("path", "content")
    )
    if model_bytes is None:
        out = warc_heuristic_spans_fused(raw)
    else:
        out = warc_classifier_spans_fused(raw, model_bytes)
    # per-write dynamic overwrite: only the partitions this call produced
    # are replaced, WITHOUT mutating the caller's session-wide overwrite
    # semantics (spark.conf.set would leak to unrelated writes)
    out.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("archive").parquet(os.path.join(base_path, "spans"))
    wall_ms = int((time.time() - t0) * 1000)

    # per-archive metrics from the landed output (explicit schema: an
    # all-404 archive leaves an empty partition that inference can't read)
    landed_schema = StructType(
        [f for f in WARC_SPANS.fields if f.name != "archive"]
        + [StructField("archive", StringType())]
    )
    # read ONLY the pending archives' partition dirs (basePath keeps the
    # partition column) — a catch-up's metric read stays O(new archives)
    # instead of listing every landed partition at 100k-archive scale.
    # An archive whose pages produced zero rows writes no partition dir,
    # so prune to the dirs that exist (swap os.path.exists for a Hadoop
    # FileSystem.exists on a real cluster FS).
    spans_root = os.path.join(base_path, "spans")
    part_dirs = [
        p
        for b in pending
        if os.path.exists(p := os.path.join(spans_root, f"archive={b}"))
    ]
    if part_dirs:
        landed = (
            spark.read.schema(landed_schema)
            .option("basePath", spans_root)
            .parquet(*part_dirs)
        )
    else:
        landed = spark.createDataFrame([], landed_schema)
    stats = {
        r.archive: r
        for r in landed.groupBy("archive")
        .agg(
            F.countDistinct(
                F.when(F.col("kind") != "error", F.col("doc_id"))
            ).alias("doc_count"),
            F.sum(F.when(F.col("kind") != "error", 1).otherwise(0)).alias(
                "span_count"
            ),
            F.sum(F.when(F.col("kind") == "error", 1).otherwise(0)).alias(
                "error_count"
            ),
        )
        .collect()
    }
    rows = [
        (
            run_id,
            b,
            int(stats[b].doc_count) if b in stats else 0,
            int(stats[b].span_count or 0) if b in stats else 0,
            int(stats[b].error_count or 0) if b in stats else 0,
            wall_ms,
            "ok",
        )
        for b in pending
    ]
    spark.createDataFrame(rows, WARC_LINEAGE).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(base_path, "lineage"))
    return {
        "processed": pending,
        "skipped": sorted(done),
        "docs": sum(r[2] for r in rows),
        "spans": sum(r[3] for r in rows),
        "errors": sum(r[4] for r in rows),
    }
