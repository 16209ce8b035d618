"""End-to-end multimodal crawl pipeline: a WARC of image responses →
records → real pixel decode → features → resize →
WebDataset image shards, composed entirely from the repo's operators —
the image-side counterpart of tests/test_html_text.py's text chain."""

from __future__ import annotations

import numpy as np
import pytest

from rq_spark.operators import exif, jpeg, png
from rq_spark.operators import warc as W
from rq_spark.operators import webdataset as WDS


def _smooth(h, w, phase):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.round(128 + 70 * np.sin((xx + phase) / 5.0) * np.cos(yy / 4.0)).astype(
        np.uint8
    )


def test_end_to_end_image_crawl(spark, tmp_path):
    from pyspark.sql import functions as F

    from rq_spark.operators import multimodal as M

    # a crawl with two JPEGs (one carrying a geotagged EXIF APP1 segment
    # the pixel decoder must skip), one PNG, and an HTML page the image
    # pipeline must pass over
    j_plain = jpeg.encode(_smooth(24, 32, 0), quality=92)
    j_gps = exif.insert_app1(
        jpeg.encode(_smooth(24, 32, 3), quality=92),
        exif.app1_segment(orientation=1, gps=(48.8584, 2.2945)),
    )
    p_img = png.encode(np.stack([_smooth(16, 16, 7)] * 3, axis=-1))
    recs = [
        {"uri": "http://img.example/a.jpg", "body": j_plain,
         "content_type": "image/jpeg"},
        {"uri": "http://img.example/b.jpg", "body": j_gps,
         "content_type": "image/jpeg"},
        {"uri": "http://img.example/c.png", "body": p_img,
         "content_type": "image/png"},
        {"uri": "http://img.example/page", "body": b"<html>x</html>",
         "content_type": "text/html"},
    ]
    (tmp_path / "images-00000.warc.gz").write_bytes(W.build_warc_bytes(recs))

    images = W.read_warc(spark, str(tmp_path)).filter(
        F.col("http_content_type").startswith("image/")
    )
    assert images.count() == 3

    # real pixel decode for dims, then content features and resize
    decoded = M.decode_image(images)
    dims = {r.target_uri: (r.width, r.height) for r in decoded.collect()}
    assert dims["http://img.example/a.jpg"] == (32, 24)
    assert dims["http://img.example/c.png"] == (16, 16)

    feat = M.extract_features(decoded, dim=8)
    resized = M.resize_image(feat, width=16, height=16)
    rows = resized.collect()
    assert all(len(r.features) == 8 for r in rows)
    # resized payloads re-encode in their own format with real pixels
    for r in rows:
        if r.target_uri.endswith(".png"):
            assert png.decode(bytes(r.resized)).shape[:2] == (16, 16)
        elif r.target_uri.endswith(".jpg"):
            assert jpeg.decode(bytes(r.resized)).shape[:2] == (16, 16)

    # pack the curated images into WebDataset shards keyed by row id
    keyed = resized.withColumn(
        "img_id",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window
            .orderBy("target_uri")
        ).cast("long"),
    ).select("img_id", F.col("resized").alias("img"), "target_uri")
    shards = WDS.shard_documents(
        keyed, "img_id", {"img": "img", "uri": "target_uri"}, docs_per_shard=10
    )
    samples = WDS.samples_from_shards(
        shards.select("shard_bytes"), exts=["img", "uri"]
    ).collect()
    assert len(samples) == 3
    uris = {bytes(s.m_uri).decode() for s in samples}
    assert "http://img.example/c.png" in uris
    # every shard member decodes as an image again
    for s in samples:
        b = bytes(s.m_img)
        arr = png.decode(b) if png.is_png(b) else jpeg.decode(b)
        assert arr.shape[:2] == (16, 16)
