"""Single-process baselines: the extraction kernel's public functions and
the WARC decoder, timed per document outside Spark.

The phases follow the per-batch body of ``extract_content_spans`` in
order (the getpath memo on each element makes the order matter): spans
-> parse -> blockify -> block paths -> features -> block stats, then one
batched merge + predict per ``BATCH`` documents, then assemble.  It is a
copy of that body, so it returns each document's output too: a traced run
fails when the copy's output and the engine's differ.
"""

from __future__ import annotations

import time
from itertools import chain

import numpy as np
import pandas as pd

#: documents per model call, as ``spark.sql.execution.arrow.maxRecordsPerBatch``
BATCH = 512
DEPTH = HEIGHT = 5

#: kernel phase -> per-layer metric name
PHASES = {
    "parse": "htmlparse.parse_ms_per_doc",
    "blockify": "kernels.blockify.ms_per_doc",
    "getpath": "htmlparse.getpath_ms_per_doc",
    "features": "kernels.features.ms_per_doc",
    "block_stats": "training.block_stats_ms_per_doc",
    "merge": "operators.extract.batch_merge_ms_per_doc",
    "predict": "model.predict_ms_per_doc",
    "assemble": "spans.assemble_ms_per_doc",
}


def _to_dicts(spans) -> list[dict]:
    return [dict(s) for s in spans]


def time_kernel(docs, clf) -> tuple[dict[str, float], dict[str, list]]:
    """Seconds spent per phase over ``docs`` ((doc_id, spans) pairs), and
    each document's output rows as (kind, text, media_ref) in order."""
    from learnhtml_spark.htmlparse import getpath, parse_html
    from learnhtml_spark.kernels.blockify import blocks_from_tree
    from learnhtml_spark.kernels.features import (
        extract_features_from_tree,
        feature_columns,
    )
    from learnhtml_spark.spans import assemble_output, html_from_spans, media_spans
    from learnhtml_spark.training import BLOCK_STAT_COLUMNS, block_stats_list

    cols = feature_columns(DEPTH, HEIGHT) + BLOCK_STAT_COLUMNS
    acc = dict.fromkeys(PHASES, 0.0)
    outputs: dict[str, list] = {}
    clock = time.perf_counter

    def phase(name, fn, *args, **kw):
        t = clock()
        out = fn(*args, **kw)
        acc[name] += clock() - t
        return out

    for lo in range(0, len(docs), BATCH):
        parsed, col_dicts = [], []
        for doc_id, spans in docs[lo: lo + BATCH]:
            spans = _to_dicts(spans)
            html, boundaries = phase("assemble", html_from_spans, spans)
            media = phase("assemble", media_spans, spans)
            root = phase("parse", parse_html, html)
            blocks = phase("blockify", blocks_from_tree, root, do_css=False)
            paths = phase(
                "getpath",
                lambda: [getpath(b.features["block_start_element"]) for b in blocks],
            )
            if blocks:
                starts = {id(b.features["block_start_element"]) for b in blocks}
                d = phase(
                    "features", extract_features_from_tree, root, DEPTH, HEIGHT,
                    select_nodes=starts, as_columns=True,
                )
                stats = phase("block_stats", block_stats_list, blocks)
                t = clock()
                for name, vals in zip(
                    BLOCK_STAT_COLUMNS,
                    zip(*(stats.get(p) or [0.0] * len(BLOCK_STAT_COLUMNS)
                          for p in d["path"])),
                ):
                    d[name] = np.asarray(vals, dtype=np.float64)
                col_dicts.append(d)
                acc["merge"] += clock() - t
            parsed.append((doc_id, blocks, paths, boundaries, media))
        positive: list[set] = [set() for _ in parsed]
        if col_dicts:
            t = clock()
            merged = {}
            for k in cols:
                if isinstance(col_dicts[0][k], np.ndarray):
                    merged[k] = np.concatenate([d[k] for d in col_dicts])
                else:
                    merged[k] = list(chain.from_iterable(d[k] for d in col_dicts))
            frame = pd.DataFrame(merged, columns=cols)
            owner = np.concatenate(
                [np.full(len(d["path"]), i) for i, d in enumerate(col_dicts)]
            )
            acc["merge"] += clock() - t
            pred = np.asarray(phase("predict", clf.predict, frame), dtype=bool)
            with_blocks = [i for i, p in enumerate(parsed) if p[1]]
            for o, p in zip(owner[pred], np.asarray(merged["path"], object)[pred]):
                positive[with_blocks[o]].add(p)
        for i, (doc_id, blocks, paths, boundaries, media) in enumerate(parsed):
            content = [
                (b.text, b.features["block_start_element"].srcpos)
                for b, p in zip(blocks, paths)
                if p in positive[i]
            ]
            rows = phase("assemble", assemble_output, doc_id, content, boundaries,
                         media)
            outputs[doc_id] = [(kind, text, ref) for _, kind, text, ref, _ in rows]
    return acc, outputs


def time_wide(spans_list) -> dict[str, float]:
    """Seconds spent in getpath and features over wide pages."""
    from learnhtml_spark.htmlparse import getpath, parse_html
    from learnhtml_spark.kernels.blockify import blocks_from_tree
    from learnhtml_spark.kernels.features import extract_features_from_tree
    from learnhtml_spark.spans import html_from_spans

    acc = {"getpath": 0.0, "features": 0.0}
    for spans in spans_list:
        html, _ = html_from_spans(_to_dicts(spans))
        root = parse_html(html)
        blocks = blocks_from_tree(root, do_css=False)
        t = time.perf_counter()
        [getpath(b.features["block_start_element"]) for b in blocks]
        acc["getpath"] += time.perf_counter() - t
        starts = {id(b.features["block_start_element"]) for b in blocks}
        t = time.perf_counter()
        extract_features_from_tree(
            root, DEPTH, HEIGHT, select_nodes=starts, as_columns=True
        )
        acc["features"] += time.perf_counter() - t
    return acc


def time_decode(archive_bytes: dict[str, bytes]) -> tuple[float, int]:
    """(seconds, documents) for gunzip + ``parse_warc`` +
    ``assemble_interleaved`` over every archive."""
    import gzip

    from learnhtml_spark.sources.warc_source import assemble_interleaved, parse_warc

    secs, docs = 0.0, 0
    for name, data in archive_bytes.items():
        t = time.perf_counter()
        if name.endswith(".gz"):
            data = gzip.decompress(data)
        out, _errors = assemble_interleaved(parse_warc(data))
        secs += time.perf_counter() - t
        docs += len(out)
    return secs, docs
