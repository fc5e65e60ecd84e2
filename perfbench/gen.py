"""Seeded input generator for the benchmark.

Runs in the benchmark process, outside every timed region, and uses no
Spark: the engine only ever sees the files written here.  Every byte is
a pure function of the seed and the sizes below.

- ``documents``: a ``documents``-table frame (doc_id, text, lang, source)
  with ``REPLICAS`` copies of each base text.  Replica ``r`` of base text
  ``b`` has ``doc_id = REPLICAS * b + r``, so every text has exact twins of
  both parities (odd ids probed against even ids find them).
- ``spans table``: the documents rendered by ``corpus.synthesize_docs_pdf``
  (the pandas body of ``corpus.synthesize_docs``), written as parquet with
  the engine's ``DOCS`` schema.
- ``wide pages``: one document per spans file whose corpus page gets a
  listing of 1k-4k same-tag ``<p>`` siblings, re-split with
  ``spans.split_html_to_spans``.
- ``warc archives``: corpus pages served as WARC HTTP responses, with
  page-adjacent PNG responses, 404s and damaged records.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

#: vocabulary of the texts in the engine's ``documents`` test table
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "zh", "es", "fr", "de"]

REPLICAS = 4
#: parquet files of a spans table; each holds one wide page at most
SPANS_FILES = 10
#: wide pages get sibling counts spread evenly over this range, one page
#: per spans file, so every seed has the same work in every file
WIDE_SIBLINGS = (1000, 4000)
ARCHIVES = 32
NOT_FOUND = 16  # 404 responses across the crawl
DAMAGED = 8  # response records whose HTTP block has no header separator


def documents(seed: int, base_docs: int) -> pd.DataFrame:
    """``documents``-table frame with ``REPLICAS`` exact twins per text."""
    rng = random.Random(seed)
    rows = []
    for b in range(base_docs):
        n = rng.randint(10, 100)
        text = " ".join(rng.choice(VOCAB) for _ in range(n))
        lang = rng.choice(LANGS)
        for r in range(REPLICAS):
            rows.append((REPLICAS * b + r, text, lang, f"src{b % 20}"))
    return pd.DataFrame(rows, columns=["doc_id", "text", "lang", "source"])


def wide_html(doc_id: str, text: str, source: str, lang: str, siblings: int) -> str:
    """The document's corpus page with a listing of ``siblings`` same-tag
    link items added to its sidebar; the content blocks are unchanged."""
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.spans import html_from_spans

    spans, _ = synthesize_page(doc_id, text, source, lang)
    html, _ = html_from_spans(spans)
    items = "".join(
        f'<p><a href="/list/{i}">listing entry {i}</a></p>' for i in range(siblings)
    )
    return html.replace('<div id="sidebar">', f'<div id="sidebar">{items}', 1)


def _file_slices(n_rows: int, n_files: int) -> list[np.ndarray]:
    return np.array_split(np.arange(n_rows), n_files)


def wide_ids(seed: int, docs: pd.DataFrame) -> dict[str, int]:
    """doc_id -> sibling count for the documents that become wide pages:
    one seeded document in each spans file, counts spread evenly."""
    lo, hi = WIDE_SIBLINGS
    rng = random.Random(seed ^ 0x51DE)
    counts = [lo + (hi - lo) * i // (SPANS_FILES - 1) for i in range(SPANS_FILES)]
    rng.shuffle(counts)
    return {
        str(docs["doc_id"].iloc[rng.choice(part)]): c
        for part, c in zip(_file_slices(len(docs), SPANS_FILES), counts)
    }


def spans_frame(docs: pd.DataFrame, wide: dict[str, int] | None = None) -> pd.DataFrame:
    """(doc_id, spans) frame: corpus pages, and listing pages for ``wide``."""
    from learnhtml_spark.corpus import synthesize_docs_pdf
    from learnhtml_spark.spans import split_html_to_spans

    out = synthesize_docs_pdf(docs)
    for i, (doc_id, text, lang, source) in enumerate(
        zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"])
    ):
        k = (wide or {}).get(str(doc_id))
        if k:
            html = wide_html(str(doc_id), text, source, lang, k)
            out.at[i, "spans"] = split_html_to_spans(
                html, 4, (f"media://img/{doc_id}-hero.jpg",)
            )
    return out


def write_spans_table(pdf: pd.DataFrame, path: str, files: int = SPANS_FILES) -> None:
    """Write (doc_id, spans) as ``files`` parquet files."""
    schema = pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field(
                "spans",
                pa.list_(
                    pa.struct(
                        [
                            ("kind", pa.string()),
                            ("text", pa.string()),
                            ("media_ref", pa.string()),
                            ("offset", pa.int32()),
                        ]
                    )
                ),
            ),
        ]
    )
    os.makedirs(path, exist_ok=True)
    for k, part in enumerate(_file_slices(len(pdf), files)):
        chunk = pdf.iloc[part]
        table = pa.Table.from_pydict(
            {"doc_id": list(chunk["doc_id"]), "spans": list(chunk["spans"])},
            schema=schema,
        )
        pq.write_table(
            table, os.path.join(path, f"part-{k:05d}.parquet"), compression="none"
        )


def write_documents(docs: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(docs, preserve_index=False),
        os.path.join(path, "documents.parquet"),
    )


# ---------------------------------------------------------------------------
# WARC archives
# ---------------------------------------------------------------------------

WARC_DATE = {"WARC-Date": "2026-01-01T00:00:00Z"}


def page_url(doc_id: str) -> str:
    return f"https://corpus.example/{doc_id}"


def _png(doc_id: str) -> bytes:
    from learnhtml_spark.operators.png import encode_png

    raw = hashlib.md5(f"{doc_id}:png".encode()).digest() * 3
    return encode_png(np.frombuffer(raw, dtype=np.uint8).reshape(4, 4, 3))


def crawl_plan(seed: int, docs: pd.DataFrame) -> dict[str, str]:
    """doc_id -> 'ok' | 'not_found' | 'damaged' for every page served."""
    ids = [str(d) for d in docs["doc_id"]]
    rng = random.Random(seed ^ 0xC4A7)
    bad = rng.sample(ids, NOT_FOUND + DAMAGED)
    plan = dict.fromkeys(ids, "ok")
    for i, d in enumerate(bad):
        plan[d] = "not_found" if i < NOT_FOUND else "damaged"
    return plan


def write_archives(docs: pd.DataFrame, plan: dict[str, str], path: str) -> list[str]:
    """Serve every document's corpus page as a WARC response record, one
    archive per contiguous slice; even archives are ``.warc``, odd ones
    multi-member ``.warc.gz``.  Half the pages carry an adjacent PNG.
    Returns the archive basenames."""
    from learnhtml_spark.corpus import synthesize_page
    from learnhtml_spark.sources.warc_source import build_record, http_response
    from learnhtml_spark.spans import html_from_spans

    os.makedirs(path, exist_ok=True)
    names = []
    rows = list(zip(docs["doc_id"], docs["text"], docs["lang"], docs["source"]))
    for a, part in enumerate(_file_slices(len(rows), ARCHIVES)):
        records = [
            build_record("warcinfo", WARC_DATE, b"software: perfbench\r\n")
        ]
        for i in part:
            doc_id, text, lang, source = rows[i]
            doc_id = str(doc_id)
            url = page_url(doc_id)
            head = {
                "WARC-Target-URI": url,
                **WARC_DATE,
                "Content-Type": "application/http; msgtype=response",
            }
            state = plan[doc_id]
            if state == "not_found":
                block = http_response(
                    404, "Not Found", "text/html", b"<html><body>gone</body></html>"
                )
            elif state == "damaged":
                block = b"garbage without an http header separator"
            else:
                spans, _ = synthesize_page(doc_id, text, source, lang)
                html, _ = html_from_spans(spans)
                block = http_response(
                    200, "OK", "text/html; charset=utf-8", html.encode("utf-8")
                )
            records.append(build_record("response", head, block))
            if state == "ok" and int(doc_id) % 2 == 0:
                records.append(
                    build_record(
                        "response",
                        {**head, "WARC-Target-URI": f"{url}/img.png"},
                        http_response(200, "OK", "image/png", _png(doc_id)),
                    )
                )
        gz = a % 2 == 1
        name = f"crawl-{a:05d}.warc" + (".gz" if gz else "")
        with open(os.path.join(path, name), "wb") as f:
            if gz:
                f.write(b"".join(gzip.compress(r, mtime=0) for r in records))
            else:
                f.write(b"".join(records))
        names.append(name)
    return names
