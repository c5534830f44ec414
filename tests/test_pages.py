"""Pages generator invariants: Spark generator == numpy twin byte-for-byte
(per-url text identity, BASELINE.json:15) and geotag extraction parity."""

from __future__ import annotations

import hashlib

import numpy as np

from orthority_spark.functions.geotag import with_geotag
from orthority_spark.sources.pages import synthetic_pages

from builders import synthetic_pages_pandas

# the two-group geotag regexes the single-group parsers replaced
GEO_FLOAT_RE = r"geo:(-?\d+\.\d+),(-?\d+\.\d+)"
GEO_INT_RE = r"geo:(-?\d+),(-?\d+)"

N = 2000


def test_text_byte_identity_per_url(spark):
    got = {r.url: (r.text, bytes(r.html)) for r in synthetic_pages(spark, N).collect()}
    oracle = synthetic_pages_pandas(N)
    assert len(got) == N
    for _, row in oracle.iterrows():
        text, html = got[row.url]
        assert text == row.text, row.url
        assert html == row.html
        # sha256 parity (the BASELINE.md per-url invariant as stated)
        assert hashlib.sha256(text.encode()).hexdigest() == hashlib.sha256(
            row.text.encode()
        ).hexdigest()


def test_geotag_extraction_recovers_generated_coords(spark):
    df = with_geotag(synthetic_pages(spark, N), token="float")
    got = {r.url: (r.lat, r.lon) for r in df.collect()}
    oracle = synthetic_pages_pandas(N)
    for _, row in oracle.iterrows():
        lat, lon = got[row.url]
        # text stores %.6f of udeg/1e6; parsing returns the same double
        assert lat == float(f"{row.lat:.6f}")
        assert lon == float(f"{row.lon:.6f}")


def test_distribution_shape(spark):
    oracle = synthetic_pages_pandas(N)
    mega = (np.arange(N) % 5) == 1
    assert (oracle.lon[mega].nunique()) == 1
    outside = oracle.lon > 24.3
    # ~20% outside
    assert 0.15 < outside.mean() < 0.25


def test_schema(spark):
    df = synthetic_pages(spark, 10)
    assert [f.name for f in df.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    kinds = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    assert kinds["html"] == "binary" and kinds["warc_ts"] == "timestamp"


def test_geotag_single_regex_bit_identical(spark):
    """r6: the single-execution regexp+split geotag must equal the old
    per-group two-regexp extraction bit-for-bit on both token forms."""
    from pyspark.sql import functions as F

    from orthority_spark.functions.geotag import geotag_float, geotag_udeg
    from orthority_spark.sources.pages import synthetic_pages

    sp = synthetic_pages(spark, 5000).select("url", "text")
    lat_n, lon_n = geotag_float(F.col("text"))
    cmp_f = sp.select(
        lat_n.alias("a"),
        F.regexp_extract("text", GEO_FLOAT_RE, 1).cast("double").alias("b"),
        lon_n.alias("c"),
        F.regexp_extract("text", GEO_FLOAT_RE, 2).cast("double").alias("d"),
    ).where(
        ~F.col("a").eqNullSafe(F.col("b"))
        | ~F.col("c").eqNullSafe(F.col("d"))
    )
    assert cmp_f.count() == 0

    import gates.queries_geo as qg

    dp = qg.derived_pages(spark, "/root/testdata/sf0.01")
    lat_u, lon_u = geotag_udeg(F.col("text"))
    cmp_i = dp.select(
        lat_u.alias("a"),
        F.regexp_extract("text", GEO_INT_RE, 1).cast("long").alias("b"),
        lon_u.alias("c"),
        F.regexp_extract("text", GEO_INT_RE, 2).cast("long").alias("d"),
    ).where(
        ~F.col("a").eqNullSafe(F.col("b"))
        | ~F.col("c").eqNullSafe(F.col("d"))
    )
    assert cmp_i.count() == 0
    # (no-match rows are outside the contract either way: under ANSI mode
    # the old two-regexp form threw on cast('') exactly like the new one)
