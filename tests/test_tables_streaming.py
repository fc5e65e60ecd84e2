"""Checkpoint-resume lineage sink, streaming wrapper, multimodal plumbing."""

import os
import sys

sys.path.insert(0, os.path.dirname(__file__))

from pyspark.sql import functions as F

from learnhtml_spark.spans import split_html_to_spans


def _pairs(fixture_docs):
    return [
        (name, split_html_to_spans(html, n_chunks=4, media_refs=[f"media://{name}.jpg"]))
        for name, html, _ in fixture_docs
    ]


def test_write_extraction_run_resume(spark, fixture_docs, fixture_model, tmp_path):
    from learnhtml_spark.operators.extract import docs_from_pairs
    from learnhtml_spark.sources.tables import (
        completed_buckets,
        read_lineage,
        write_extraction_run,
    )

    docs = docs_from_pairs(spark, _pairs(fixture_docs))
    base = str(tmp_path / "out")
    mb = fixture_model.to_bytes()

    # first call: limited to 3 buckets (simulates an interrupted run)
    r1 = write_extraction_run(docs, mb, base, "run1", num_buckets=8,
                              max_buckets_per_call=3)
    assert len(r1["processed_buckets"]) == 3
    assert completed_buckets(spark, base, "run1") == set(r1["processed_buckets"])

    # resume: processes the remaining buckets, skips the done ones
    r2 = write_extraction_run(docs, mb, base, "run1", num_buckets=8)
    assert set(r2["skipped_buckets"]) == set(r1["processed_buckets"])
    assert set(r2["processed_buckets"]) == set(range(8)) - set(r1["processed_buckets"])

    # idempotent: third call is a no-op
    r3 = write_extraction_run(docs, mb, base, "run1", num_buckets=8)
    assert r3["processed_buckets"] == []

    # landed data covers all docs exactly once, lineage accounts all buckets
    spans = spark.read.parquet(os.path.join(base, "spans"))
    assert spans.select("doc_id").distinct().count() == len(fixture_docs)
    lin = read_lineage(spark, base)
    assert lin.filter(F.col("status") == "ok").select("bucket").distinct().count() == 8
    assert lin.agg(F.sum("doc_count")).collect()[0][0] == len(fixture_docs)


def test_write_extraction_run_keeps_session_conf(
    spark, fixture_docs, fixture_model, tmp_path
):
    """Dynamic partition overwrite is a per-write option: the session's
    setting is unchanged, and a later call keeps earlier buckets under a
    static session setting."""
    from learnhtml_spark.operators.extract import docs_from_pairs
    from learnhtml_spark.sources.tables import write_extraction_run

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        docs = docs_from_pairs(spark, _pairs(fixture_docs))
        base = str(tmp_path / "out")
        mb = fixture_model.to_bytes()
        write_extraction_run(docs, mb, base, "r", num_buckets=4,
                             max_buckets_per_call=2)
        write_extraction_run(docs, mb, base, "r", num_buckets=4)
        assert spark.conf.get(key) == "static"
        spans = spark.read.parquet(os.path.join(base, "spans"))
        assert spans.select("doc_id").distinct().count() == len(fixture_docs)
    finally:
        spark.conf.set(key, prev)


def test_stream_extract_available_now(spark, fixture_docs, fixture_model, tmp_path):
    from learnhtml_spark.operators.extract import docs_from_pairs
    from learnhtml_spark.streaming.extract_stream import stream_extract

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pairs = _pairs(fixture_docs)
    docs_from_pairs(spark, pairs[:2]).write.parquet(in_dir)

    q = stream_extract(spark, in_dir, out_dir, ckpt, fixture_model.to_bytes())
    q.awaitTermination(300)
    first = spark.read.parquet(out_dir)
    assert first.select("doc_id").distinct().count() == 2

    # new file arrives; restart with same checkpoint processes ONLY it
    docs_from_pairs(spark, pairs[2:]).write.mode("append").parquet(in_dir)
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, fixture_model.to_bytes())
    q2.awaitTermination(300)
    final = spark.read.parquet(out_dir)
    assert final.select("doc_id").distinct().count() == len(pairs)
    # exactly-once: no doc duplicated across restarts
    per_doc = final.groupBy("doc_id", "offset").count()
    assert per_doc.filter(F.col("count") > 1).count() == 0


def test_media_features_plumbing(spark):
    from learnhtml_spark.operators.multimodal import media_features

    df = spark.createDataFrame(
        [("media://img/a.jpg",), ("media://vid/b.mp4",), ("x.flac",)],
        ["media_ref"],
    )
    out = media_features(df, deterministic_fake=True).collect()
    by_ref = {r.media_ref: r for r in out}
    assert by_ref["media://img/a.jpg"].media_type == "image"
    assert by_ref["media://img/a.jpg"].n_frames == 1
    assert by_ref["media://vid/b.mp4"].media_type == "video"
    assert by_ref["x.flac"].media_type == "audio"
    assert all(len(r.thumbnail) == 32 for r in out)
    # deterministic across invocations
    again = {r.media_ref: r for r in media_features(df, True).collect()}
    assert all(again[k].content_digest == v.content_digest for k, v in by_ref.items())


def test_media_decode_stub_raises(spark):
    import pytest

    from learnhtml_spark.operators.multimodal import decode_stub

    with pytest.raises(NotImplementedError):
        decode_stub("a.jpg", None, deterministic_fake=False)


def test_poison_document_isolated(spark, fixture_model, tmp_path):
    """A document that crashes the kernels yields an auditable error row;
    the rest of the batch extracts normally and lineage counts the error."""
    from pyspark.sql import Row

    from learnhtml_spark.operators.extract import docs_from_pairs
    from learnhtml_spark.sources.tables import read_lineage, write_extraction_run
    from learnhtml_spark.spans import split_html_to_spans

    from learnhtml_spark.corpus import synthesize_page

    good_spans, _ = synthesize_page("good", "proper article content words " * 8,
                                    "srcX", "en")
    # offset=None among others breaks span ordering inside the UDF
    # -> the per-doc error path must isolate it
    poison_spans = [
        {"kind": "html", "text": "<p>x</p>", "media_ref": None, "offset": None},
        {"kind": "html", "text": "<p>y</p>", "media_ref": None, "offset": 1},
    ]
    docs = docs_from_pairs(spark, [("good", good_spans), ("poison", poison_spans)])

    base = str(tmp_path / "out")
    summary = write_extraction_run(docs, fixture_model.to_bytes(), base, "r",
                                   num_buckets=4)
    spans = spark.read.parquet(base + "/spans")
    err = [r for r in spans.collect() if r.kind == "error"]
    assert len(err) == 1 and err[0].doc_id == "poison" and err[0].offset == -1
    assert "TypeError" in err[0].text or "Error" in err[0].text
    ok_docs = {r.doc_id for r in spans.collect() if r.kind != "error"}
    assert "good" in ok_docs
    lin = read_lineage(spark, base)
    from pyspark.sql import functions as F
    assert lin.agg(F.sum("error_count")).collect()[0][0] == 1


def _make_bmp(w, h, rgb, bpp=24, top_down=False):
    """Minimal BI_RGB BMP: solid color (r,g,b), row padding included."""
    import struct

    bpx = bpp // 8
    stride = (w * bpx + 3) & ~3
    r, g, b = rgb
    px_row = (bytes([b, g, r] + ([255] if bpp == 32 else [])) * w).ljust(
        stride, b"\x00"
    )
    pixels = px_row * h
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(pixels), 0, 0, off)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, w, (-h if top_down else h), 1, bpp, 0,
        len(pixels), 2835, 2835, 0, 0,
    )
    return header + dib + pixels


def _make_wav(n_samples=800, n_ch=2, rate=8000, bits=16):
    import struct

    import numpy as np

    t = np.arange(n_samples * n_ch)
    data = (np.sin(t / 5.0) * 16000).astype(np.int16).tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * n_ch * 2, n_ch * 2, bits)
    return (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )


def test_real_bmp_decode():
    import numpy as np

    from learnhtml_spark.operators.multimodal import decode_bmp

    px = decode_bmp(_make_bmp(5, 3, (10, 200, 30)))
    assert px.shape == (3, 5, 3)
    assert (px == np.array([10, 200, 30], dtype=np.uint8)).all()
    px32 = decode_bmp(_make_bmp(4, 2, (1, 2, 3), bpp=32, top_down=True))
    assert px32.shape == (2, 4, 3)
    assert (px32 == np.array([1, 2, 3], dtype=np.uint8)).all()


def test_real_ppm_and_wav_decode():
    import numpy as np

    from learnhtml_spark.operators.multimodal import decode_ppm, decode_wav

    ppm = b"P6\n# comment\n4 2\n255\n" + bytes([7, 8, 9]) * 8
    px = decode_ppm(ppm)
    assert px.shape == (2, 4, 3) and (px == [7, 8, 9]).all()
    pgm = b"P5\n3 3\n255\n" + bytes(range(9))
    assert decode_ppm(pgm).shape == (3, 3)

    samples, rate = decode_wav(_make_wav())
    assert rate == 8000
    assert samples.shape == (800, 2)
    assert np.abs(samples).max() <= 1.0


def test_media_features_real_payloads(spark):
    """End-to-end: binary payload column -> REAL decode inside mapInPandas
    (no deterministic_fake needed for codec-free formats)."""
    from learnhtml_spark.operators.multimodal import media_features

    rows = [
        ("media://img/a.bmp", bytearray(_make_bmp(16, 9, (50, 100, 150)))),
        ("media://aud/b.wav", bytearray(_make_wav(n_samples=400, n_ch=1))),
    ]
    df = spark.createDataFrame(rows, "media_ref string, payload binary")
    out = {r.media_ref: r for r in media_features(df, deterministic_fake=False).collect()}
    img = out["media://img/a.bmp"]
    assert (img.decoder, img.width, img.height, img.n_frames) == ("bmp", 16, 9, 1)
    assert len(img.thumbnail) == 64  # 8x8 grayscale resize
    gray = round(0.0 + (50 + 100 + 150) / 3)
    assert all(abs(b - gray) <= 1 for b in img.thumbnail)
    aud = out["media://aud/b.wav"]
    assert (aud.decoder, aud.width, aud.height, aud.n_frames) == ("wav", 8000, 1, 400)
    assert len(aud.thumbnail) == 32 and max(aud.thumbnail) > 0
    # digest is now content-addressed when a payload exists
    assert img.content_digest != aud.content_digest


def test_media_decode_rejects_compressed_without_fake(spark):
    import pytest

    from learnhtml_spark.operators.multimodal import decode_media

    with pytest.raises(NotImplementedError):
        decode_media("a.jpg", b"\xff\xd8\xff\xe0" + b"0" * 100, False)


def test_media_corrupt_payload_yields_error_row(spark):
    """Poison-isolation contract for the media path (VERDICT r4 #7): a
    truncated BMP header must flow to an auditable error row (decoder
    'error', dims -1, message set) — never a task failure — while healthy
    rows in the same batch decode normally."""
    import numpy as np

    from learnhtml_spark.operators.multimodal import (
        encode_bmp24,
        media_features,
    )

    good = encode_bmp24(np.zeros((4, 4, 3), dtype=np.uint8))
    corrupt = good[:10]  # truncated mid-header
    df = spark.createDataFrame(
        [("media://img/good.bmp", bytearray(good)),
         ("media://img/bad.bmp", bytearray(corrupt))],
        "media_ref string, payload binary",
    )
    out = {r.media_ref: r for r in media_features(df, deterministic_fake=False).collect()}
    bad = out["media://img/bad.bmp"]
    assert bad.decoder == "error"
    assert (bad.width, bad.height, bad.n_frames) == (-1, -1, -1)
    assert bad.error and len(bad.error) <= 500
    assert bad.content_digest  # digest of the bytes still recorded
    ok = out["media://img/good.bmp"]
    assert ok.error is None and ok.decoder == "bmp"
    assert (ok.width, ok.height) == (4, 4)
