"""Model-free DOM-heuristic content extraction — the "DOM heuristics" leg
of the north rule's extraction triad (HTML boilerplate strip / PDF parse /
DOM heuristics), next to the ML classifier path in ``operators/extract.py``.

The block classifier is a deterministic density ruleset in the style of
jusText (Pomikalek 2011, "Removing boilerplate and duplicate content from
web corpora") and boilerpipe's NumberOfWords/LinkDensity classifier
(Kohlschuetter, Fankhauser, Nejdl, WSDM 2010, "Boilerplate detection using
shallow text features"):

- a block with link density > ``max_link_density`` is boilerplate
  (navigation/footer link farms);
- a long low-link block (>= ``long_tokens`` words) is content;
- a short low-link block (>= ``short_tokens`` words) is *near-content*:
  kept iff an adjacent block in document order is core content (the
  context-smoothing rule both papers use — headings and short paragraphs
  ride with the article body they abut);
- anything shorter is boilerplate.

No model artifact, no training, no broadcast — the plan is scan -> ONE
mapInPandas -> spans, zero exchanges, the same shape as the classifier
path.  Inputs and outputs use the interleaved span model (BASELINE.json
input_hint): (doc_id, spans) in, ordered (doc_id, kind, text, media_ref,
offset) out, with media spans carried through in reading order and the
same per-document poison-row isolation as ``extract_content_spans``.

Correctness contract: the driver query ``heuristic_spans`` is attested by
a golden-join oracle (scripts/make_goldens.py writes ``heuristic.parquet``
from a sequential single-process run of this exact kernel) — the oracle
asserts distributed execution is value-identical to the sequential
reference run, the ``node_features``/``label_ratios`` pattern.

Reference parity note: the reference repo has no heuristic extractor (its
extraction is purely model-driven, learnhtml/extractor.py); this operator
is beyond-reference surface motivated by the north rule's wording.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from learnhtml_spark.htmlparse import parse_html
from learnhtml_spark.kernels.blockify import blocks_from_tree
from learnhtml_spark.schemas import EXTRACTED_SPANS
from learnhtml_spark.spans import assemble_output, html_from_spans, media_spans

#: jusText-ish defaults: stopword lists are language-bound, so the
#: density thresholds carry the whole decision here (the corpus is
#: synthetic multi-language; length+link density are language-neutral)
MAX_LINK_DENSITY = 0.33
LONG_TOKENS = 16
SHORT_TOKENS = 3


def heuristic_block_flags(
    blocks,
    max_link_density: float = MAX_LINK_DENSITY,
    long_tokens: int = LONG_TOKENS,
    short_tokens: int = SHORT_TOKENS,
) -> list[bool]:
    """Per-block keep verdicts in document order.

    Two passes, both O(n): core classification, then one neighbor
    smoothing pass for near-content blocks.  Deterministic — no iteration
    to a fixed point (jusText's single context pass, not a CRF).
    """
    core = []  # 'good' | 'near' | 'bad'
    for b in blocks:
        n_tokens = len(b.text.split())
        if b.link_density > max_link_density or n_tokens < short_tokens:
            core.append("bad")
        elif n_tokens >= long_tokens:
            core.append("good")
        else:
            core.append("near")
    out = []
    for i, c in enumerate(core):
        if c == "good":
            out.append(True)
        elif c == "near":
            out.append(
                (i > 0 and core[i - 1] == "good")
                or (i + 1 < len(core) and core[i + 1] == "good")
            )
        else:
            out.append(False)
    return out


def extract_spans_heuristic_doc(doc_id: str, spans: list[dict]) -> list[tuple]:
    """Sequential per-document kernel: spans -> ordered output rows.

    Shared verbatim by the Spark operator below and the golden generator
    (scripts/make_goldens.py) so the oracle attests distributed ==
    sequential execution of the SAME code path.
    """
    html, boundaries = html_from_spans(spans)
    media = media_spans(spans)
    root = parse_html(html) if html else None
    blocks = blocks_from_tree(root, do_css=False) if root is not None else []
    keep = heuristic_block_flags(blocks)
    content = [
        (b.text, b.features["block_start_element"].srcpos)
        for b, k in zip(blocks, keep)
        if k
    ]
    return assemble_output(doc_id, content, boundaries, media)


def heuristic_extract_spans(docs: DataFrame) -> DataFrame:
    """(doc_id, spans) -> ordered content+media span rows, no model.

    Plan shape: scan -> mapInPandas -> output.  Zero exchanges, zero
    broadcasts; per-document cost is parse + blockify only (no feature
    extraction, no predict), so this is the cheap first-pass strip for
    pipelines that reserve the classifier for ambiguous pages.
    """
    from learnhtml_spark.operators.extract import _spans_list, error_row

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                try:
                    rows.extend(
                        extract_spans_heuristic_doc(doc_id, _spans_list(spans))
                    )
                except Exception as exc:  # noqa: BLE001 — per-doc isolation
                    rows.append(error_row(doc_id, exc))
            yield pd.DataFrame(rows, columns=EXTRACTED_SPANS.fieldNames())

    return docs.mapInPandas(run, schema=EXTRACTED_SPANS)
