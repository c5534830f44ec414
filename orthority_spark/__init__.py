"""orthority_spark — a PySpark-native spatial-join + tiling engine.

A brand-new engine (NOT a port) with the query/data-processing capabilities of
``leftfield-geospatial/orthority``, re-expressed Spark-first per SURVEY.md:

- ``geom``      pure-numpy camera/geometry kernels (frame + RPC models,
                rotations, boundaries, DEM intersection) used inside
                vectorized pandas/Arrow UDFs.
- ``grid``      deterministic lat/lon -> cell tiling index (H3-style quad
                grid) implemented as JVM-side Column expressions with a
                numpy twin for oracles.
- ``sources``   synthetic Common-Crawl-style pages, footprint fixtures,
                param-file readers, DEM tile tables.
- ``functions`` geotag extraction, order-independent checksums, text
                analysis, vector math — Column-level, JVM-side.
- ``operators`` point-in-polygon tile joins (broadcast + salted shuffle),
                kNN, dedup (exact / minhash-LSH / simhash / jaccard /
                embedding), ANN, remap gather, parallel stats, rollups.
- ``plans``     resumable job ledger with per-partition lineage + metrics.
"""

__version__ = "0.1.0"
