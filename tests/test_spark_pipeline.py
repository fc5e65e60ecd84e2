"""End-to-end Spark pipeline tests: the correctness contract is per-doc
span-sequence equality (kind, text, media_ref, order) — BASELINE.json."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

from collections import defaultdict

from learnhtml_spark.kernels.labeling import get_block_ratios, get_text_blocks
from learnhtml_spark.operators.extract import (
    docs_from_pairs,
    extract_content_spans,
    extract_node_features,
    label_documents,
)
from learnhtml_spark.spans import split_html_to_spans


def expected_content_blocks(html, gold):
    """Ground-truth ordered content block texts (ratio > 0.1)."""
    ratios = dict(get_block_ratios(html, gold))
    return [t for p, t in get_text_blocks(html) if ratios.get(p, 0) > 0.1]


def test_extract_content_spans_equality(spark, fixture_docs, fixture_model):
    pairs = [
        (name, split_html_to_spans(html, n_chunks=5,
                                   media_refs=[f"media://{name}/{i}" for i in range(2)]))
        for name, html, _ in fixture_docs
    ]
    df = docs_from_pairs(spark, pairs)
    rows = extract_content_spans(df, fixture_model).orderBy("doc_id", "offset").collect()
    per = defaultdict(list)
    for r in rows:
        per[r.doc_id].append(r)
    for name, html, gold in fixture_docs:
        got = per[name]
        texts = [r.text for r in got if r.kind == "text"]
        media = [r.media_ref for r in got if r.kind == "media"]
        assert texts == expected_content_blocks(html, gold), name
        assert media == [f"media://{name}/{i}" for i in range(2)], name
        assert [r.offset for r in got] == list(range(len(got))), name


def test_single_doc_extractor_matches_distributed(spark, fixture_docs):
    """HTMLExtractor and extract_content_spans run one kernel: the same
    content texts per page, with a model not fitted to these pages."""
    import importlib.resources as res

    from learnhtml_spark.exact_model import load_any_model
    from learnhtml_spark.extractor import HTMLExtractor

    model = load_any_model(
        (res.files("learnhtml_spark") / "artifacts" / "model.npz").read_bytes()
    )
    pairs = [
        (name, split_html_to_spans(html, n_chunks=5))
        for name, html, _ in fixture_docs
    ]
    rows = extract_content_spans(docs_from_pairs(spark, pairs), model).collect()
    ex = HTMLExtractor(model)
    for name, html, _ in fixture_docs:
        texts = [
            r.text
            for r in sorted(rows, key=lambda r: r.offset)
            if r.doc_id == name and r.kind == "text"
        ]
        assert texts, name
        assert ex.extract_text_blocks(html) == texts, name


def test_extract_content_spans_empty_and_mediaonly(spark, fixture_model):
    pairs = [
        ("empty", []),
        ("media_only", [{"kind": "media", "text": "", "media_ref": "m:a", "offset": 0}]),
        ("blank_html", [{"kind": "html", "text": "<html></html>", "media_ref": None, "offset": 0}]),
    ]
    df = docs_from_pairs(spark, pairs)
    rows = extract_content_spans(df, fixture_model).collect()
    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r.doc_id].append(r)
    assert by_doc["empty"] == []
    assert [r.kind for r in by_doc["media_only"]] == ["media"]
    assert by_doc["blank_html"] == []


def test_extract_node_features_matches_kernel(spark, fixture_docs):
    from learnhtml_spark.kernels.features import extract_features_from_html

    name, html, _ = fixture_docs[0]
    df = docs_from_pairs(spark, [(name, split_html_to_spans(html, 3))])
    out = extract_node_features(df, depth=2, height=2).toPandas()
    local = extract_features_from_html(html, 2, 2)
    assert len(out) == len(local)
    got = out.set_index("path")["text_len"].to_dict()
    exp = local.set_index("path")["text_len"].to_dict()
    assert got == exp
    assert (out["doc_id"] == name).all()


def test_label_documents_matches_goldens(spark, fixture_docs):
    from fixtures import goldens as G
    from pyspark.sql.types import (
        ArrayType,
        StringType,
        StructField,
        StructType,
    )
    from learnhtml_spark.schemas import SPAN

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("spans", ArrayType(SPAN)),
            StructField("gold_blocks", ArrayType(StringType())),
        ]
    )
    name, html, gold = fixture_docs[0]  # R578
    df = spark.createDataFrame(
        [(name, split_html_to_spans(html, 4), gold)], schema=schema
    )
    out = label_documents(df).toPandas()
    nonzero = out[out["ratio"] > 1e-10]["node_path"].tolist()
    assert nonzero == G.R578_NONZERO_PATHS
    content = set(out[out["content_label"]]["node_path"])
    assert content == set(G.R578_CONTENT_PATHS)
