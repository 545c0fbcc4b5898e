"""Multimodal plumbing tests: payload schema, feature extraction,
metadata filters, resize and audio framing."""

from __future__ import annotations

import pyspark.sql.functions as F

from vector_database_product_recommendation_spark.operators.multimodal import (
    attach_payload,
    extract_features,
    fake_feature_decoder,
)
from vector_database_product_recommendation_spark.sources.tables import load_table


def test_multimodal_schema_and_determinism(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = attach_payload(docs)
    assert dict(media.dtypes)["payload"] == "binary"
    assert dict(media.dtypes)["meta"].startswith("struct")

    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == docs.count()
    assert all(len(r["features"]) == 8 for r in rows)
    assert all(0.0 <= v < 1.0 for r in rows for v in r["features"])

    # determinism: python reference == distributed result
    one = docs.filter(F.col("doc_id") == 0).select("text").first()[0]
    expect = fake_feature_decoder(one.encode()).tolist()
    got = {r["doc_id"]: r["features"] for r in rows}[0]
    assert got == expect


def test_multimodal_metadata_pushdown_filter(spark, sf_dir):
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    small = media.filter(F.col("meta.n_bytes") < 200)
    assert 0 < small.count() < media.count()


def test_resize_payload_truncates_and_pads(spark, sf_dir, monkeypatch):
    from vector_database_product_recommendation_spark.operators import multimodal

    # 64 bytes: under some payloads (truncated), over others (padded)
    monkeypatch.setattr(multimodal, "TARGET_BYTES", 64)
    media = attach_payload(load_table(spark, sf_dir, "documents"))
    out = {r["doc_id"]: r for r in multimodal.resize_payload(media).collect()}
    src = {r["doc_id"]: bytes(r["payload"]) for r in media.collect()}
    assert set(out) == set(src)
    for i, r in out.items():
        got = bytes(r["payload"])
        assert len(got) == 64 and r["meta"]["n_bytes"] == 64
        assert r["meta"]["orig_bytes"] == len(src[i])
        expect = src[i][:64].ljust(64, b"\x00")
        assert got == expect


def test_audio_frames_cover_payload(spark, sf_dir):
    from vector_database_product_recommendation_spark.operators.multimodal import (
        audio_frame_windows,
    )

    media = attach_payload(load_table(spark, sf_dir, "documents"))
    frames = audio_frame_windows(media).collect()
    by_doc: dict[int, list] = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    sizes = {r["doc_id"]: r["meta"]["n_bytes"] for r in media.collect()}
    for doc, rs in by_doc.items():
        rs.sort(key=lambda r: r["frame_start"])
        assert rs[0]["frame_start"] == 0
        # hop coverage: consecutive frames overlap by frame-hop bytes
        for a, b in zip(rs, rs[1:]):
            assert b["frame_start"] - a["frame_start"] == 50
        # librosa-style framing: last full frame starts at <= n-100, the
        # dropped tail is shorter than one hop
        n = sizes[doc]
        assert rs[-1]["frame_end"] <= n
        if n >= 100:
            assert n - (rs[-1]["frame_start"] + 100) < 50
            for r in rs:
                assert len(bytes(r["frame_payload"])) == 100
        else:  # payload shorter than one frame -> single clamped frame
            assert len(rs) == 1 and rs[0]["frame_end"] == n
