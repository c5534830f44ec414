"""Multimodal binary-column plumbing: schema/batch shape real, codec
stubbed deterministically."""

from __future__ import annotations

import numpy as np

from orthority_spark.multimodal.binary import N_FEATURES, _fake_decode, image_decode
from orthority_spark.sources.pages import synthetic_pages

from builders import synthetic_pages_pandas

N = 200


def test_image_decode_fake_matches_oracle(spark):
    df = synthetic_pages(spark, N)
    got = {r.url: r for r in image_decode(df).collect()}
    oracle = synthetic_pages_pandas(N)
    assert len(got) == N
    for _, r in oracle.iterrows():
        w, h, c, f = _fake_decode(r.html)
        g = got[r.url]
        assert (g.width, g.height, g.n_channels) == (w, h, c)
        np.testing.assert_allclose(g.features, f, rtol=1e-6)
        assert len(g.features) == N_FEATURES
