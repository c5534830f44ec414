"""Geotag extraction from page text — the engine's EXIF-reader analogue.

The reference extracts camera geometry from image metadata tags
(/root/reference/orthority/exif.py:101-363, param_io.py:317-329); here the
per-page geometry comes from a geotag token embedded in extracted ``text``.
Extraction is a JVM-side regexp (codegen; no UDF): at 100 TB this runs in
the scan stage and never materialises an intermediate.

The source text itself is carried through untouched — per-url byte-identity
is a hard invariant (BASELINE.json:15) — extraction derives NEW columns and
never rewrites ``text``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# float-token form geo:<lat:.6f>,<lon:.6f> (synthetic_pages) and
# integer-microdegree form geo:<lat_udeg>,<lon_udeg> (derived pages).
# r6: one group each — ONE regexp execution extracts "lat,lon" and a
# cheap split slices it (two regexp_extract calls each re-ran the full
# match per row; codegen subexpression elimination does not merge
# different group indices). Same regex language, same matched text, and
# string->double/long casts of the identical substrings — bit-identical
# columns (asserted in tests/test_pages.py).
GEO_FLOAT_RE1 = r"geo:(-?\d+\.\d+,-?\d+\.\d+)"
GEO_INT_RE1 = r"geo:(-?\d+,-?\d+)"


def geotag_float(text: Column) -> tuple[Column, Column]:
    """(lat, lon) doubles parsed from the float geotag token."""
    m = F.split(F.regexp_extract(text, GEO_FLOAT_RE1, 1), ",")
    return m.getItem(0).cast("double"), m.getItem(1).cast("double")


def geotag_udeg(text: Column) -> tuple[Column, Column]:
    """(lat_udeg, lon_udeg) bigints parsed from the integer geotag token."""
    m = F.split(F.regexp_extract(text, GEO_INT_RE1, 1), ",")
    return m.getItem(0).cast("long"), m.getItem(1).cast("long")


def with_geotag(pages: DataFrame, token: str = "float") -> DataFrame:
    """pages + (lat, lon) columns parsed from text. ``token`` is the
    geotag form: ``"float"`` degrees or ``"udeg"`` integer microdegrees;
    any other value raises ``ValueError``."""
    if token == "float":
        lat, lon = geotag_float(F.col("text"))
        return pages.withColumn("lat", lat).withColumn("lon", lon)
    if token != "udeg":
        raise ValueError(f"token must be 'float' or 'udeg', got {token!r}")
    lat_u, lon_u = geotag_udeg(F.col("text"))
    return pages.withColumn(
        "lat", lat_u.cast("double") / F.lit(1000000.0)
    ).withColumn("lon", lon_u.cast("double") / F.lit(1000000.0))
