"""Multimodal plumbing (operators/multimodal.py): binary columns +
typed metadata through Arrow-batched UDFs; decode is a deterministic
stub (no codecs in this container), the Spark contracts are real."""

import pytest

from pyspark.sql import functions as F

from rdf_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    decode_images,
    extract_features,
    frame_sample_plan,
    resize_images,
)


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-bytes-1", "image/png", 4, 2, None),
        (2, "image", b"\x89PNG-fake-bytes-2", "image/png", None, None, None),
        (3, "video", b"RIFF-fake", "video/mp4", 16, 9, 3500),
        (4, "audio", b"ID3-fake", "audio/mpeg", None, None, 2000),
        (5, "image", None, "image/png", 2, 2, None),
    ]
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def test_extract_features_deterministic(media):
    a = {r["media_id"]: r for r in extract_features(media).collect()}
    b = {r["media_id"]: r for r in extract_features(media).collect()}
    assert a.keys() == b.keys() == {1, 2, 3, 4, 5}
    for k in a:
        assert a[k] == b[k]
    assert a[1]["byte_len"] == 17
    assert a[1]["feature"].startswith("image-feat-")
    assert a[5]["byte_len"] == 0  # null content -> empty bytes, not a crash


def test_decode_images_stub_shapes(media):
    d = {r["media_id"]: r for r in decode_images(media).collect()}
    assert set(d) == {1, 2, 5}  # images only
    assert (d[1]["width"], d[1]["height"], d[1]["channels"]) == (4, 2, 3)
    assert len(d[1]["pixels"]) == 4 * 2 * 3
    assert (d[2]["width"], d[2]["height"]) == (8, 8)  # metadata fallback
    assert len(d[2]["pixels"]) == 8 * 8 * 3


def test_resize_images(media):
    out = {r["media_id"]: r for r in
           resize_images(decode_images(media), 2, 2).collect()}
    for r in out.values():
        assert (r["width"], r["height"]) == (2, 2)
        assert len(r["pixels"]) == 2 * 2 * r["channels"]
    # nearest-neighbor: top-left pixel preserved
    src = {r["media_id"]: r for r in decode_images(media).collect()}
    assert out[1]["pixels"][:3] == src[1]["pixels"][:3]


def test_frame_sample_plan(media):
    frames = frame_sample_plan(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert set(by_id) == {3}  # videos only
    assert sorted(by_id[3]) == [0, 1000, 2000, 3000]  # 3500ms @ 1s
