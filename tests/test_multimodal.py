"""Multimodal binary-column plumbing: schema/batch shape real, codec
stubbed deterministically."""

from __future__ import annotations

import numpy as np
import pytest

from orthority_spark.multimodal.binary import (
    decode_html_text,
    image_decode,
    frame_sample,
    resize_features,
    _fake_decode,
    N_FEATURES,
)
from orthority_spark.sources.pages import synthetic_pages, synthetic_pages_pandas

N = 200


def test_html_decode_strips_tags(spark):
    out = decode_html_text(synthetic_pages(spark, 10)).select("url", "html_text")
    rows = {r.url: r.html_text for r in out.collect()}
    oracle = synthetic_pages_pandas(10)
    for _, r in oracle.iterrows():
        assert rows[r.url] == r.text  # <html><body>text</body></html> -> text


def test_image_decode_fake_matches_oracle(spark):
    df = synthetic_pages(spark, N)
    got = {r.url: r for r in image_decode(df, fake=True).collect()}
    oracle = synthetic_pages_pandas(N)
    assert len(got) == N
    for _, r in oracle.iterrows():
        w, h, c, f = _fake_decode(r.html)
        g = got[r.url]
        assert (g.width, g.height, g.n_channels) == (w, h, c)
        np.testing.assert_allclose(g.features, f, rtol=1e-6)
        assert len(g.features) == N_FEATURES


def test_image_decode_real_path_raises(spark):
    df = synthetic_pages(spark, 5)
    with pytest.raises(Exception, match="NotImplementedError|real image codec"):
        image_decode(df, fake=False).collect()


def test_frame_sample_and_resize_shapes(spark):
    meta = image_decode(synthetic_pages(spark, 20), fake=True)
    frames = frame_sample(meta, n_frames=4)
    assert frames.count() == 80
    assert frames.columns == ["url", "frame_no", "byte_offset"]
    pooled = resize_features(meta, out_dim=4).collect()
    assert all(len(r.pooled) == 4 for r in pooled)

