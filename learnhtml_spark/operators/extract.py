"""Spark operators: DOM parse → features → classify → ordered span output.

The serving pipeline (reference lifecycle 3.1/3.3 re-expressed Spark-first):

    spark.read (docs table: doc_id, spans)
      → [optional] repartition(hash(doc_id) [+ salt])     # giant-page skew
      → mapInPandas(extract_rows: parse + blockify + featurize +
                    broadcast-model predict + assemble)
      → ordered (doc_id, kind, text, media_ref, offset) span rows

One classifier kernel: ``extract_rows`` is the whole per-batch body, with
no Spark dependency.  ``extract_content_spans`` calls it once per Arrow
batch, the single-stage WARC classifier path
(``sources/warc_run.warc_classifier_spans_fused``) once per batch of
archives, and the single-document ``HTMLExtractor`` reads the same scored
blocks through ``classify_blocks``, its parse-to-predict half.  A document
that raises anywhere in the kernel becomes one ``kind='error'`` row
(``error_row``) instead of a failed task.

Design notes for 100 TB scale:
- ONE mapInPandas stage does everything per document — no explode of parsed
  nodes into a distributed table, no join between features and predictions,
  zero shuffles in the default plan (scan → map → write).
- ONE model call per Arrow batch: features of every document in the batch
  are merged into one frame before ``predict``.
- The model is shipped once per executor via ``SparkContext.broadcast`` of
  the serialized artifact; deserialized lazily per python worker.
- Documents never split across partitions (rows are atomic), matching the
  reference's partitioning unit (features.py:334) — skew from giant pages
  is handled by salted repartition (``salt_partitions``) and by Arrow batch
  sizing, not by splitting documents.
"""

from __future__ import annotations

from itertools import chain, compress
from typing import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from learnhtml_spark.htmlparse import getpath, parse_html
from learnhtml_spark.kernels.blockify import blocks_from_tree
from learnhtml_spark.kernels.features import (
    extract_features_from_tree,
    feature_columns,
)
from learnhtml_spark.kernels.labeling import (
    NON_CONTENT_BLOCK_RATIO,
    get_ratios_per_html,
)
from learnhtml_spark.model import NodeClassifier
from learnhtml_spark.schemas import (
    EXTRACTED_SPANS,
    LABELS,
    node_features_schema,
)
from learnhtml_spark.spans import assemble_output, html_from_spans, media_spans
from learnhtml_spark.training import BLOCK_STAT_COLUMNS, block_stats_list


#: per-python-worker deserialized model cache (workers handle many tasks;
#: deserializing the broadcast payload once per task measurably dominated
#: the UDF at high parallelism)
_MODEL_CACHE: dict = {}


def _load_model(key, payload: bytes) -> NodeClassifier:
    model = _MODEL_CACHE.get(key)
    if model is None:
        # dispatches on the artifact type: hashed NodeClassifier (the 100 TB
        # default) or the exact-vectorizer pipeline (MODEL.md's
        # measured-better config, selectable via `extract --model exact.npz`)
        from learnhtml_spark.exact_model import load_any_model

        model = load_any_model(payload)
        _MODEL_CACHE.clear()  # keep at most one model resident per worker
        _MODEL_CACHE[key] = model
    return model


def broadcast_model(
    spark: SparkSession, model: NodeClassifier | bytes
) -> Callable[[], NodeClassifier]:
    """Broadcast the serialized model once; the returned loader runs on
    the python workers and deserializes it at most once per worker."""
    payload = model if isinstance(model, (bytes, bytearray)) else model.to_bytes()
    payload = bytes(payload)
    bc = spark.sparkContext.broadcast(payload)
    key = ("model", len(payload), hash(payload[:512]), hash(payload[-512:]))
    return lambda: _load_model(key, bc.value)


def _spans_list(value) -> list[dict]:
    """Normalize an Arrow-transferred spans cell into a list of dicts."""
    if value is None:
        return []
    out = []
    for s in value:
        if isinstance(s, dict):
            out.append(s)
        else:  # pyspark Row
            out.append(s.asDict())
    return out


def error_row(doc_id, exc: Exception) -> tuple:
    """The auditable row a poison document becomes: kind='error',
    offset=-1; filtered by consumers, counted into lineage error_count."""
    return (doc_id, "error", f"{type(exc).__name__}: {exc}"[:500], None, -1)


def _merge_columns(col_dicts: list[dict], keys: Iterable[str]) -> dict:
    """Concatenate per-document column dicts into one dict of columns, so
    one pandas frame is built per BATCH, not per doc: the constructor on
    100+ columns costs ~4× the feature kernel itself when built per doc."""
    merged = {}
    for k in keys:
        if isinstance(col_dicts[0][k], np.ndarray):
            merged[k] = np.concatenate([d[k] for d in col_dicts])
        else:
            merged[k] = list(chain.from_iterable(d[k] for d in col_dicts))
    return merged


def classify_blocks(
    pairs: Iterable[tuple], clf, depth: int = 5, height: int = 5
) -> tuple[list[tuple], list[tuple]]:
    """Score the blocks of every (doc_id, spans) document with ONE model
    call.

    Per document: spans → parse → blockify → block paths → features of the
    block-start nodes → block stats; then one batched ``predict`` over the
    blocks of all documents.  Returns (scored, errors): ``scored`` holds
    (doc_id, blocks, block_paths, positive_paths, boundaries, media) per
    document, in input order; a document that raised is one ``error_row``
    in ``errors`` instead."""
    cols = feature_columns(depth, height) + BLOCK_STAT_COLUMNS
    no_stats = [0.0] * len(BLOCK_STAT_COLUMNS)
    scored, errors = [], []
    col_dicts = []  # feature columns of each document that has blocks
    owners = []  # the positive-path set of each feature row's document
    for doc_id, spans in pairs:
        try:
            spans = _spans_list(spans)
            html, boundaries = html_from_spans(spans)
            media = media_spans(spans)
            root = parse_html(html) if html else None
            blocks = blocks_from_tree(root, do_css=False) if root is not None else []
            block_paths = [getpath(b.features["block_start_element"]) for b in blocks]
            positive = set()
            if blocks:
                starts = {id(b.features["block_start_element"]) for b in blocks}
                d = extract_features_from_tree(
                    root, depth, height, select_nodes=starts, as_columns=True
                )
                stats = block_stats_list(blocks)
                for name, vals in zip(
                    BLOCK_STAT_COLUMNS,
                    zip(*(stats.get(p) or no_stats for p in d["path"])),
                ):
                    d[name] = np.asarray(vals, dtype=np.float64)
                col_dicts.append(d)
                owners.extend([positive] * len(d["path"]))
            scored.append((doc_id, blocks, block_paths, positive, boundaries, media))
        except Exception as exc:  # noqa: BLE001 — per-doc isolation
            errors.append(error_row(doc_id, exc))

    if col_dicts:
        merged = _merge_columns(col_dicts, cols)
        pred = np.asarray(
            clf.predict(pd.DataFrame(merged, columns=cols)), dtype=bool
        )
        for positive, path in compress(zip(owners, merged["path"]), pred):
            positive.add(path)
    return scored, errors


def extract_rows(
    pairs: Iterable[tuple], clf, depth: int = 5, height: int = 5
) -> list[tuple]:
    """The classifier extraction kernel: (doc_id, spans) documents →
    ordered (doc_id, kind, text, media_ref, offset) rows.

    ``classify_blocks`` scores every document's blocks in one model call;
    the positive blocks are then assembled with the media spans in reading
    order.  ``doc_id`` is opaque: it is only copied into the rows.  A
    document that raises yields one ``error_row`` and no other rows."""
    scored, rows = classify_blocks(pairs, clf, depth, height)
    for doc_id, blocks, block_paths, positive, boundaries, media in scored:
        try:
            content = [
                (b.text, b.features["block_start_element"].srcpos)
                for b, p in zip(blocks, block_paths)
                if p in positive
            ]
            rows.extend(assemble_output(doc_id, content, boundaries, media))
        except Exception as exc:  # noqa: BLE001 — per-doc isolation
            rows.append(error_row(doc_id, exc))
    return rows


def repartition_docs(
    docs: DataFrame, num_partitions: int, salt_buckets: int = 1, seed: int = 0x5A17
) -> DataFrame:
    """Salted doc-hash repartition: distributes giant-page skew by spreading
    hash buckets over ``salt_buckets`` extra keys (SURVEY.md §4 — the one
    distribution concern Catalyst does not solve for per-row compute skew).

    The salt MUST be a pure function of the row: a nondeterministic key
    (e.g. monotonically_increasing_id) re-evaluates differently when a
    stage is retried on a real cluster, losing/duplicating rows
    (SPARK-23207 class of bug).  We derive it from a second, independent
    hash of doc_id — same skew-spreading effect, fully deterministic."""
    if salt_buckets <= 1:
        return docs.repartition(num_partitions, F.col("doc_id"))
    salt = F.pmod(F.xxhash64(F.col("doc_id"), F.lit(seed)), F.lit(salt_buckets))
    return docs.repartition(num_partitions, F.col("doc_id"), salt)


def extract_content_spans(
    docs: DataFrame,
    model: NodeClassifier | bytes,
    depth: int = 5,
    height: int = 5,
    num_partitions: int | None = None,
) -> DataFrame:
    """The flagship operator: classify each document's blocks and emit the
    ordered content+media span sequence (``extract_rows`` per Arrow
    batch)."""
    load = broadcast_model(docs.sparkSession, model)

    if num_partitions:
        docs = repartition_docs(docs, num_partitions)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        clf = load()
        for pdf in batches:
            rows = extract_rows(zip(pdf["doc_id"], pdf["spans"]), clf, depth, height)
            yield pd.DataFrame(rows, columns=EXTRACTED_SPANS.fieldNames())

    return docs.mapInPandas(run, schema=EXTRACTED_SPANS)


def extract_node_features(
    docs: DataFrame, depth: int = 5, height: int = 5
) -> DataFrame:
    """Per-node feature table (reference `dom` command, lifecycle 3.1):
    one row per DOM node keyed by (doc_id, path)."""
    schema = node_features_schema(depth, height)
    names = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            col_dicts = []
            doc_ids = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                html, _ = html_from_spans(_spans_list(spans))
                root = parse_html(html) if html else None
                if root is None:
                    continue
                d = extract_features_from_tree(
                    root, depth, height, as_columns=True
                )
                col_dicts.append(d)
                doc_ids.extend([doc_id] * len(d["path"]))
            if col_dicts:
                merged = _merge_columns(col_dicts, col_dicts[0])
                merged["doc_id"] = doc_ids
                out = pd.DataFrame(merged, columns=names)
            else:
                out = pd.DataFrame(columns=names)
            yield out

    return docs.mapInPandas(run, schema=schema)


def label_documents(docs_with_gold: DataFrame) -> DataFrame:
    """Labeling operator (reference lifecycle 3.2): input rows carry
    (doc_id, spans, gold_blocks); output one row per node with the LCS
    inclusion ratio and threshold labels."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "doc_id",
            "node_path",
            "content_label",
            "ratio",
            "is_extracted_block",
            "block_text",
        ]
        for pdf in batches:
            rows = []
            for doc_id, spans, gold in zip(
                pdf["doc_id"], pdf["spans"], pdf["gold_blocks"]
            ):
                html, _ = html_from_spans(_spans_list(spans))
                gold = list(gold) if gold is not None else []
                for path, ratio, text in get_ratios_per_html(html, gold):
                    rows.append(
                        (
                            doc_id,
                            path,
                            ratio > 0.1,
                            float(ratio),
                            ratio != NON_CONTENT_BLOCK_RATIO,
                            text,
                        )
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs_with_gold.mapInPandas(run, schema=LABELS)


def docs_from_pairs(
    spark: SparkSession, pairs: list[tuple[str, list[dict]]]
) -> DataFrame:
    """Small-data helper: build a docs DataFrame from (doc_id, spans)."""
    from learnhtml_spark.schemas import DOCS

    return spark.createDataFrame(
        [(d, s) for d, s in pairs], schema=DOCS
    )
