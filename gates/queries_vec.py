"""Vector similarity-search driver-gate queries over `embeddings`.

Three gates over the array<float> embedding column, each a thin call into
:mod:`.operators.ann` (the one vector implementation) with its DuckDB
oracle: brute-force cosine top-k (the correctness baseline), IVF top-k
over fixed integer centroids, and embedding-cosine near-dup pairs within
banded-LSH buckets.

Cross-engine exactness: embeddings are quantised to integers
(floor(x * 1e6)), so dot products and norms are EXACT int64 sums —
order-independent and bit-identical between the Arrow kernels and
DuckDB's unnest-join SUM. Cosine = dot / (sqrt(na) * sqrt(nb)) is then a
fixed op sequence on identical integers -> identical doubles, and NULL
when a norm is 0 on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from orthority_spark.operators import ann
from orthority_spark.operators.ann import LSH_BANDS, LSH_RMAX, LSH_RMIN, LSH_TARGET_OCC

N_QUERIES = 10   # vec_id < 10 are the query vectors
TOP_K = 5
NEARDUP_TAU = 0.35

_DUCK_QE = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

_DUCK_UNNEST = f"""
q AS (SELECT vec_id, label, {_DUCK_QE} AS qe FROM embeddings),
u AS (SELECT vec_id, generate_subscripts(qe, 1) AS i, unnest(qe) AS v FROM q),
norms AS (SELECT vec_id, SUM(v * v) AS nn FROM u GROUP BY vec_id)"""


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel_read: single-row-group fixture file — see sources/scan.py
    from orthority_spark.sources.scan import parallel_read

    return parallel_read(spark, f"{sf_dir}/embeddings.parquet")


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k of the N_QUERIES query vectors against
    every other vector (:func:`.operators.ann.ann_bruteforce`)."""
    return ann.ann_bruteforce(
        _embeddings(spark, sf_dir), F.col("vec_id") < N_QUERIES, TOP_K
    )


def o_ann_topk() -> str:
    return f"""
WITH {_DUCK_UNNEST},
dots AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, SUM(a.v * b.v) AS dot
  FROM u a JOIN u b ON a.i = b.i AND a.vec_id != b.vec_id
  WHERE a.vec_id < {N_QUERIES}
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         dot / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
  FROM dots JOIN norms na ON query_id = na.vec_id
            JOIN norms nb ON neighbor_id = nb.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}"""


def q_embedding_neardups_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs with cosine >= NEARDUP_TAU among vectors
    sharing a banded-LSH bucket (:func:`.operators.ann.neardups_bucketed`);
    the bucket bits per band track the corpus size."""
    return ann.neardups_bucketed(_embeddings(spark, sf_dir), NEARDUP_TAU)


def o_embedding_neardups_bucketed() -> str:
    # bit_length(m) as a CASE chain (m = ceil(COUNT(*) / TARGET_OCC)),
    # clamped to [RMIN, RMAX] — the exact integer twin of lsh_r_bits()
    bitlen = " ".join(
        f"WHEN m >= {1 << (k - 1)} THEN {k}" for k in range(LSH_RMAX, 0, -1)
    )
    return f"""
WITH {_DUCK_UNNEST},
nh AS (
  SELECT CAST(LEAST({LSH_RMAX}, GREATEST({LSH_RMIN},
         CASE {bitlen} ELSE 1 END)) AS INT) AS r
  FROM (SELECT (COUNT(*) + {LSH_TARGET_OCC - 1}) // {LSH_TARGET_OCC} AS m
        FROM embeddings)
),
planes AS (
  SELECT CAST(p.j AS INT) AS j, CAST(p.j // r AS INT) AS band,
         CAST(p.j % r AS INT) AS t
  FROM range(0, {LSH_BANDS * LSH_RMAX}) p(j), nh
  WHERE p.j < {LSH_BANDS} * r
),
signs AS (
  SELECT p.j, d.i,
         (CASE WHEN ascii(substr(md5(CAST(p.band AS VARCHAR) || ':'
               || CAST(d.i AS VARCHAR)), 1, 1)) % 2 = 0
               THEN 1 ELSE -1 END)
         * (CASE WHEN bit_count(CAST(p.t AS BIGINT)
                               & CAST(d.i - 1 AS BIGINT)) % 2 = 0
                 THEN 1 ELSE -1 END) AS s
  FROM planes p, (SELECT DISTINCT i FROM u) d
),
proj AS (
  SELECT u.vec_id, s.j, SUM(u.v * s.s) AS d
  FROM u JOIN signs s ON u.i = s.i
  GROUP BY u.vec_id, s.j
),
bands AS (
  SELECT vec_id, CAST(j // r AS INT) AS band,
         SUM(CASE WHEN d > 0 THEN CAST(1 AS BIGINT) << (j % r)
                  ELSE CAST(0 AS BIGINT) END) AS key
  FROM proj, nh
  GROUP BY vec_id, band
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
dots AS (
  SELECT cand.vec_a, cand.vec_b, SUM(a.v * b.v) AS dot
  FROM cand JOIN u a ON a.vec_id = cand.vec_a
            JOIN u b ON b.vec_id = cand.vec_b AND b.i = a.i
  GROUP BY 1, 2
), scored AS (
  SELECT vec_a, vec_b,
         dot / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
  FROM dots JOIN norms na ON vec_a = na.vec_id
            JOIN norms nb ON vec_b = nb.vec_id
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {NEARDUP_TAU}"""


def _fixed_centroids() -> "np.ndarray":
    """8 deterministic integer centroids in the quantised (1e6) domain —
    data-independent, so the IVF SEARCH path is oracle-checkable exactly
    (scores are integer-valued doubles below 2^53)."""
    import numpy as np

    k, i = np.meshgrid(np.arange(8), np.arange(64), indexing="ij")
    return (((k * 31 + i * 17) % 7) - 3).astype("float64") * 1e6


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k SEARCH, oracle-gated: corpus vectors live in their
    nearest fixed centroid's bucket, queries probe their top-2 buckets,
    and exact integer cosine ranks the candidates
    (:func:`.operators.ann.ann_ivf`)."""
    return ann.ann_ivf(
        _embeddings(spark, sf_dir), F.col("vec_id") < N_QUERIES,
        _fixed_centroids(), TOP_K, nprobe=2,
    )


def o_ann_ivf() -> str:
    import numpy as np

    cents = _fixed_centroids()
    # per-bucket score = SUM(v * c[i]) + bias via an unnested centroid table
    cent_vals = ", ".join(
        f"({k}, {i}, {float(cents[k, i])!r})"
        for k in range(8) for i in range(64) if cents[k, i] != 0.0
    )
    biases = ", ".join(
        f"({k}, {-0.5 * float(np.dot(c, c))!r})" for k, c in enumerate(cents)
    )
    return f"""
WITH {_DUCK_UNNEST},
cents(bucket, i, cv) AS (VALUES {cent_vals}),
bias(bucket, b) AS (VALUES {biases}),
scores AS (
  SELECT u.vec_id, c.bucket, SUM(u.v * c.cv) + ANY_VALUE(bias.b) AS score
  FROM u JOIN cents c ON u.i = c.i + 1
  JOIN bias ON bias.bucket = c.bucket
  GROUP BY u.vec_id, c.bucket
), ranked_b AS (
  SELECT vec_id, bucket,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY score DESC, bucket DESC) AS brank
  FROM scores
), corpus AS (SELECT vec_id, bucket FROM ranked_b WHERE brank = 1),
qry AS (
  SELECT vec_id, bucket FROM ranked_b
  WHERE brank <= 2 AND vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
  FROM qry q JOIN corpus c ON q.bucket = c.bucket AND q.vec_id != c.vec_id
), dots AS (
  SELECT cand.query_id, cand.neighbor_id, SUM(a.v * b.v) AS dot
  FROM cand JOIN u a ON a.vec_id = cand.query_id
            JOIN u b ON b.vec_id = cand.neighbor_id AND b.i = a.i
  GROUP BY 1, 2
), scored AS (
  SELECT query_id, neighbor_id,
         dot / (sqrt(CAST(na.nn AS DOUBLE)) * sqrt(CAST(nb.nn AS DOUBLE))) AS cosine
  FROM dots JOIN norms na ON query_id = na.vec_id
            JOIN norms nb ON neighbor_id = nb.vec_id
), ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM scored
)
SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id, cosine
FROM ranked WHERE rank <= {TOP_K}"""


QUERIES = {
    "ann_topk": (q_ann_topk, o_ann_topk),
    "embedding_neardups_bucketed": (
        q_embedding_neardups_bucketed,
        o_embedding_neardups_bucketed,
    ),
    "ann_ivf": (q_ann_ivf, o_ann_ivf),
}
