"""Vector similarity-search driver-gate queries over `embeddings`.

ANN over an array<float> embedding column (task-brief similarity-search
family): brute-force cosine top-k as the correctness baseline, an
LSH/IVF-style bucketing as the scale path, and embedding-cosine near-dup
pairs for dedup.

Cross-engine exactness: embeddings are quantised to integers
(floor(x * 1e6)), so dot products and norms are EXACT int64 sums —
order-independent and bit-identical between Spark's zip_with/aggregate
fold and DuckDB's unnest-join SUM. Cosine = dot / (sqrt(na) * sqrt(nb))
is then a fixed op sequence on identical integers -> identical doubles.

Scale: brute-force is O(Q x N) with the query set broadcast — right for
small Q; the LSH path buckets once (map-side, no shuffle) and restricts
scoring to same-bucket pairs. Top-k uses a per-query window (the only
shuffle, keyed by query id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .operators.ann import quantize

N_QUERIES = 10   # vec_id < 10 are the query vectors
TOP_K = 5
NEARDUP_TAU = 0.35

_QUANT_DUCK = "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"

_DUCK_UNNEST = f"""
q AS (SELECT vec_id, label, {_QUANT_DUCK} AS qe FROM embeddings),
u AS (SELECT vec_id, generate_subscripts(qe, 1) AS i, unnest(qe) AS v FROM q),
norms AS (SELECT vec_id, SUM(v * v) AS nn FROM u GROUP BY vec_id)"""


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallel_read: single-row-group fixture file — see sources/scan.py
    from .sources.scan import parallel_read

    return quantize(parallel_read(spark, f"{sf_dir}/embeddings.parquet"))


def _query_matrix(spark: SparkSession, sf_dir: str):
    """(q_ids, Mq, sqq): the N_QUERIES query vectors collected once and
    quantised in numpy (exact ann.QUANT twin); Mq/sqq are None when the
    query set is empty."""
    import numpy as np

    qt = (
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        .where(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .toArrow()
    )
    q_ids = (
        qt.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
    )
    if not len(q_ids):
        return q_ids, None, None
    qcol = qt.column("embedding").combine_chunks()
    dq = int(
        np.diff(qcol.offsets.to_numpy(zero_copy_only=False)).max(initial=0)
    )
    Mq = _quantize_matrix_arrow(qcol, max(dq, 1))
    sqq = np.sqrt(np.einsum("ij,ij->i", Mq, Mq).astype(np.float64))
    return q_ids, Mq, sqq


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: query set against all vectors.

    r6 plan: the 10 query vectors are collected once (numpy-quantised,
    exact ann.QUANT twin) and ONE mapInArrow pass over the raw corpus scan
    computes every (query, vector) exact int64 dot as a single matmul
    per batch — replacing the broadcast nest-loop join whose _DOT
    evaluated an interpreted 64-step fold per pair (N * Q folds) plus
    the interpreted ann.QUANT/nn corpus transforms. Arithmetic is
    bit-identical (same int64 sums, same cosine op sequence); the only
    divergence is the degenerate NULL-embedding row, where the fold
    yields NULL and the kernel 0-pads — the same normalisation the
    pair_dot contract documents, and no fixture carries NULL
    embeddings. Per-query rank window unchanged."""
    import numpy as np
    import pyarrow as pa

    from .sources.scan import parallel_read

    q_ids, Mq, sqq = _query_matrix(spark, sf_dir)
    bc = spark.sparkContext.broadcast((q_ids, Mq, sqq))

    def score_all(it):
        q_ids_b, Mq_b, sqq_b = bc.value
        for batch in it:
            n = batch.num_rows
            if not n or Mq_b is None:
                continue
            vid = (
                batch.column(0).to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            offs = batch.column(1).offsets.to_numpy(zero_copy_only=False)
            w = int(np.diff(offs).max(initial=0))
            M = _quantize_matrix_arrow(batch.column(1), max(w, 1))
            sqc = np.sqrt(np.einsum("ij,ij->i", M, M).astype(np.float64))
            m = min(M.shape[1], Mq_b.shape[1])
            dots = M[:, :m] @ Mq_b[:, :m].T  # (n, Q) exact int64
            qid_out, nid_out, cos_out = [], [], []
            for qi in range(len(q_ids_b)):
                sel = vid != q_ids_b[qi]
                if not sel.any():
                    continue
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots[sel, qi] / (sqq_b[qi] * sqc[sel])
                qid_out.append(
                    np.full(int(sel.sum()), q_ids_b[qi], dtype=np.int64)
                )
                nid_out.append(vid[sel])
                cos_out.append(cos)
            if not qid_out:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(qid_out), type=pa.int64()),
                    pa.array(np.concatenate(nid_out), type=pa.int64()),
                    # plain pa.array: NaN stays NaN, as in the JVM twin
                    pa.array(np.concatenate(cos_out), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    scored = (
        parallel_read(spark, f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .mapInArrow(
            score_all,
            schema="query_id bigint, neighbor_id bigint, cosine double",
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "neighbor_id", "cosine")
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


# --- banded sign-LSH with DATA-DRIVEN bucket cardinality -----------------
# B fixed bands x r bits/band; r grows with corpus size so per-band bucket
# occupancy stays bounded (~TARGET_OCC) and the within-bucket self-join
# never degrades to N^2/constant: cost ~ B * sum(occ^2) ~ B * N * occ.
# Candidates = union over bands (OR construction keeps recall as r grows).
# The +/-1 hyperplanes are a per-band md5 diagonal flip times the
# Sylvester-Hadamard rows (ORTHOGONAL within a band, so key bits are
# independent on near-isotropic data and bucket mass stays uniform as r
# grows) — a deterministic sign matrix both engines reproduce exactly
# (hashlib/popcount constants in ONE constant-folded sign-table column
# Spark-side, SQL md5 + bit_count DuckDB-side).
LSH_BANDS = 4
LSH_TARGET_OCC = 32
# RMAX exists only to keep the band key inside BIGINT (bits 0..r-1, so
# r <= 58 keeps every key < 2^58 < 2^63 with headroom for the bit sums
# on both engines). It binds only past N = TARGET_OCC * 2^58 ~ 9.2e18
# vectors — beyond any corpus — so bucket cardinality is genuinely
# data-driven at design scale (the r4 clamp of 16 froze buckets at 65536
# past N ~ 2.1M and reintroduced linear occupancy growth; VERDICT r4 #1).
LSH_RMIN, LSH_RMAX = 2, 58
#: qe/nn re-attach broadcast guard for the bucketed near-dup pairs: a
#: quantised corpus row is ~(8 + dim*8 + 8) bytes, so 200k rows at
#: dim=64 is ~100 MB — comfortably broadcastable (guide §3.1); past it
#: the attach falls back to an unhinted equi-join (qe shuffled once per
#: side, still one score per unique pair).
ATTACH_BROADCAST_MAX_ROWS = 200_000


def lsh_r_bits(n: int) -> int:
    """Bits per band for corpus size n: bit_length(ceil(n / TARGET_OCC))
    — per-band bucket count 2^r tracks n / TARGET_OCC, so occupancy (and
    the within-bucket self-join) stays ~TARGET_OCC-bounded for any corpus
    up to TARGET_OCC * 2^RMAX ~ 9.2e18 vectors (the BIGINT key budget)."""
    m = (n + LSH_TARGET_OCC - 1) // LSH_TARGET_OCC
    return min(LSH_RMAX, max(LSH_RMIN, m.bit_length()))


def _lsh_sign(band: int, t: int, i: int) -> int:
    """+/-1 for band, Hadamard row t, 1-based dim i: a per-band md5
    diagonal flip (ASCII parity of the first hex char of md5('band:i');
    DuckDB twin ascii(substr(md5(..),1,1)) % 2) times the
    Sylvester-Hadamard entry (-1)^popcount(t & (i-1)) (DuckDB twin
    bit_count(..) % 2). The rows of one band are exactly ORTHOGONAL
    (t < r <= dim), so the r key bits are independent for near-isotropic
    data and bucket mass stays ~uniform; purely md5-random planes leave
    the bits correlated enough that the modal bucket holds ~50x the mean
    at r=17/dim=64 on uniform data (measured, NOTES_r5 — the occupancy
    bound would silently fail at scale). The md5 flip de-correlates the
    bands (each band re-randomises the shared Hadamard rows)."""
    import hashlib

    h = hashlib.md5(f"{band}:{i}".encode()).hexdigest()
    d = 1 if ord(h[0]) % 2 == 0 else -1
    had = 1 if bin(t & (i - 1)).count("1") % 2 == 0 else -1
    return d * had


def _qe_matrix_arrow(qe, dim: int) -> "np.ndarray":
    """Arrow ``list<int64>`` column -> dense (n, dim) int64 matrix.

    Fast path (rectangular, NULL-free lists): a zero-copy reshape of the
    list column's values buffer — no per-row Python objects at all.
    Fallback (ragged / NULL rows / NULL elements): zero-pad per row, NULL
    counts 0 — exactly the zip_with/coalesce convention shared with
    ``_DOT`` and the expression twin."""
    import numpy as np

    n = len(qe)
    offs = qe.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offs)
    if (
        qe.null_count == 0
        and qe.values.null_count == 0
        and bool((lens == dim).all())
    ):
        vals = qe.values.to_numpy(zero_copy_only=True)
        return np.ascontiguousarray(
            vals[offs[0]: offs[0] + n * dim]
            .astype(np.int64, copy=False)
            .reshape(n, dim)
        )
    M = np.zeros((n, dim), dtype=np.int64)
    for i, v in enumerate(qe.to_pylist()):
        if v is None:
            continue
        a = np.asarray(
            [0 if x is None else int(x) for x in v], dtype=np.int64
        )
        M[i, : len(a)] = a
    return M


def _band_keys_df(qz: DataFrame, r: int, dim: int) -> DataFrame:
    """vec_id replicated into LSH_BANDS rows of (band, key): key = sum
    over the band's r planes of (d_j > 0) << bit.

    r6: the projections run as ONE exact int64 numpy matmul per Arrow
    batch (guide §4.2) — the r5 JVM-expression form evaluated B*r
    interpreted aggregate(zip_with) lambdas per row (~B*r*dim interpreted
    steps; 4.9 s per side at N=20k, r=10 vs ~0.6 s for the numpy pass) —
    and the batches cross the boundary as ``mapInArrow`` record batches:
    the qe list column is consumed by a zero-copy values-buffer reshape
    (``_qe_matrix_arrow``) instead of a pandas object-list Series, and
    ONLY (vec_id, band, key) rows come back (the sole consumer dropped
    qe/nn anyway, so the old passthrough serialized two 64-element
    arrays per output row just to discard them — guide §4.1 "pass only
    the columns the function needs" applies to output too). Still no
    shuffle. Exactness: |qe_i| <= ~1e7 and dim <= 64 keep every dot
    inside int64, so the numpy matmul reproduces the lambda fold
    bit-for-bit; the pytest contract asserts equality against the
    expression twin below on ragged/null inputs too.

    ``dim`` is the corpus MAX dimension; shorter vectors are zero-padded
    (sign * 0 contributes nothing — identical to summing their own
    dims), and NULL elements count 0, both matching the DuckDB twin."""
    import numpy as np
    import pyarrow as pa

    S = np.array(
        [
            [_lsh_sign(j // r, j % r, i) for i in range(1, dim + 1)]
            for j in range(LSH_BANDS * r)
        ],
        dtype=np.int64,
    )
    shifts = np.arange(r, dtype=np.int64)

    def keys(it):
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            M = _qe_matrix_arrow(batch.column(1), dim)
            D = M @ S.T  # (n, B*r), exact int64
            bits = D > 0
            keys_by_band = np.column_stack(
                [
                    (bits[:, b * r:(b + 1) * r].astype(np.int64) << shifts).sum(
                        axis=1
                    )
                    for b in range(LSH_BANDS)
                ]
            )
            vid = batch.column(0).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.repeat(vid, LSH_BANDS),
                        type=pa.int64(),
                        from_pandas=True,
                    ),
                    pa.array(
                        np.tile(np.arange(LSH_BANDS, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    pa.array(keys_by_band.ravel(), type=pa.int64()),
                ],
                names=["vec_id", "band", "key"],
            )

    return qz.select("vec_id", "qe").mapInArrow(
        keys, schema="vec_id bigint, band int, key bigint"
    )


def _band_keys_df_expr(qz: DataFrame, r: int, dim: int) -> DataFrame:
    """The r5 JVM-expression twin of :func:`_band_keys_df`, kept as the
    pytest equality contract for the numpy path (and as the no-Python
    fallback shape): map-side codegen'd expressions against ONE shared
    sign-table column ``_S`` (array<array<int>>, planes x dims,
    constant-folded to a single compact ArrayData literal).

    ``dim`` is the corpus MAX dimension; the projection walks each
    vector's OWN indices (sequence + element_at into the sign table), so
    a shorter vector sums its present dims — ragged-safe, matching the
    DuckDB twin — instead of being null-poisoned by zip_with padding."""
    sign_rows = ", ".join(
        "array(" + ", ".join(
            str(_lsh_sign(j // r, j % r, i)) for i in range(1, dim + 1)
        ) + ")"
        for j in range(LSH_BANDS * r)
    )
    band_structs = []
    for b in range(LSH_BANDS):
        bits = []
        for t in range(r):
            j = b * r + t
            # coalesce: NULL elements count 0 (the SQL twin's SUM skips
            # the NULL unnest rows) — same convention as nn and _DOT
            d = (
                f"aggregate(zip_with(qe, sequence(1, size(qe)), "
                f"(v, i) -> coalesce(v * element_at(element_at(_S, {j + 1}), i), "
                "CAST(0 AS BIGINT))), "
                "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            )
            bits.append(f"(CASE WHEN {d} > 0 THEN CAST({1 << t} AS BIGINT) "
                        "ELSE CAST(0 AS BIGINT) END)")
        band_structs.append(
            f"struct({b} AS band, ({' + '.join(bits)}) AS key)"
        )
    return qz.withColumn(
        "_S", F.expr(f"array({sign_rows})")
    ).select(
        "vec_id", "qe", "nn",
        F.explode(F.expr(f"array({', '.join(band_structs)})")).alias("bk"),
    ).select(
        "vec_id", "qe", "nn",
        F.col("bk.band").alias("band"), F.col("bk.key").alias("key"),
    )


def q_embedding_neardups_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dups restricted to shared banded-LSH buckets — the
    scale path: pairwise cosine only WITHIN (band, key) groups (an
    equi-join on the map-side band keys), never all-pairs, with bucket
    cardinality derived from the corpus size (2^r per band tracks
    N / TARGET_OCC, so occupancy — and the within-bucket self-join — is
    bounded for any corpus up to TARGET_OCC * 2^RMAX ~ 9.2e18 vectors,
    the BIGINT key budget; the clamp never binds at real scale). Pairs in no shared band bucket are missed by
    design; recall vs the all-pairs scan and the occupancy bound are
    pytest contracts (tests/test_ann.py)."""
    from .operators.ann import pair_dot
    from .sources.scan import parallel_read

    # r6 plan: the band self-join carries ONLY (vec_id, band, key) — 24
    # bytes/row instead of two 64-element qe arrays per candidate.
    # Broadcast-scored path (guarded, ATTACH_BROADCAST_MAX_ROWS budget):
    # the RAW float corpus is collected ONCE as Arrow (one job — it also
    # supplies the row count and max dim, so the old stats agg job
    # disappears), quantised in numpy (bit-exact ann.QUANT twin), and one
    # mapInArrow pass over the bare (vec_a, vec_b) id pairs gathers both
    # matrix rows, takes the exact int64 dot and emits the survivors —
    # the two JVM broadcast joins that re-attached a 64-element array to
    # EACH side of EVERY candidate pair (and shipped them all through
    # the Arrow boundary for pair_dot) disappear, and the pair dedup
    # moves AFTER the tau filter (identical unique pairs — cosine is a
    # pure function of the pair — but the dedup Exchange now carries the
    # ~handful of survivors instead of every candidate). Past the guard:
    # dedup-before-score + unhinted equi-join + pair_dot, one score per
    # unique pair. The r5 score-first shape computed the interpreted
    # zip_with fold up to B times per pair and broadcast the full
    # qe-carrying band table: 19.3 s -> 3.9 s at sf1.0 local[32]; the
    # matrix-gather scorer removes the remaining per-pair attach cost.
    emb_raw = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb_raw.count()  # columnless scan — cheaper than the old full agg
    if not n:  # empty corpus: no pairs (and no max-dim to project)
        return spark.createDataFrame(
            [], "vec_a bigint, vec_b bigint, cosine double"
        )
    r = lsh_r_bits(n)
    if n <= ATTACH_BROADCAST_MAX_ROWS:
        import numpy as np

        tbl = emb_raw.select("vec_id", "embedding").toArrow()
        ids = (
            tbl.column("vec_id").to_numpy(zero_copy_only=False)
            .astype(np.int64)
        )
        ecol = tbl.column("embedding").combine_chunks()
        d = int(np.diff(ecol.offsets.to_numpy(zero_copy_only=False)).max(
            initial=0))
        M = _quantize_matrix_arrow(ecol, d)
        bk = _band_keys_raw(
            parallel_read(spark, f"{sf_dir}/embeddings.parquet"), r, d
        )
        a, b = bk.alias("a"), bk.alias("b")
        pairs = (
            a.join(b, ["band", "key"])
            .where(F.expr("a.vec_id < b.vec_id"))
            .select(
                F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
            )
        )
        return _score_pairs_broadcast(pairs, ids, M).dropDuplicates(
            ["vec_a", "vec_b"]
        )
    stats = emb_raw.agg(F.max(F.size("embedding")).alias("d")).first()
    qz = _quantized(spark, sf_dir)
    bk = _band_keys_df(qz, r, stats.d)
    a, b = bk.alias("a"), bk.alias("b")
    pairs = (
        a.join(b, ["band", "key"])
        .where(F.expr("a.vec_id < b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    qza = qz.select(
        F.col("vec_id").alias("vec_a"),
        F.col("qe").alias("qea"),
        F.col("nn").alias("nna"),
    )
    qzb = qz.select(
        F.col("vec_id").alias("vec_b"),
        F.col("qe").alias("qeb"),
        F.col("nn").alias("nnb"),
    )
    dot = pair_dot()
    return (
        pairs.join(qza, "vec_a")
        .join(qzb, "vec_b")
        .withColumn("dot", dot(F.col("qea"), F.col("qeb")))
        .withColumn(
            "cosine",
            F.col("dot")
            / (F.sqrt(F.col("nna").cast("double")) * F.sqrt(F.col("nnb").cast("double"))),
        )
        .where(F.col("cosine") >= NEARDUP_TAU)
        .select("vec_a", "vec_b", "cosine")
    )


def _floor_int64(x: "np.ndarray") -> "np.ndarray":
    """``floor(x)`` as int64 with Spark's (Java's saturating ``(long)``)
    conversion: NaN -> 0, values past either end of int64 (including
    +-Inf) clamp to INT64_MAX / INT64_MIN. A bare ``astype(np.int64)``
    gives INT64_MIN for all of them."""
    import numpy as np

    q = np.floor(x)
    hi = q >= 2.0 ** 63
    lo = q < -(2.0 ** 63)
    out = np.where(np.isnan(q) | hi | lo, 0.0, q).astype(np.int64)
    out[hi] = np.iinfo(np.int64).max
    out[lo] = np.iinfo(np.int64).min
    return out


def _quantize_matrix_arrow(ecol, dim: int) -> "np.ndarray":
    """Arrow ``list<float>`` embeddings -> dense (n, dim) int64 quantised
    matrix — the bit-exact numpy twin of ``ann.QUANT``: float32 -> float64
    is exact, the * 1e6 double product rounds identically, and floor +
    the BIGINT cast match ``_floor_int64`` (non-finite and out-of-range
    products included). Ragged rows zero-pad and NULL rows/elements
    count 0 (a NULL element quantises to NULL and every consumer counts
    NULL as 0, so materialising the 0 directly is identical)."""
    import numpy as np

    n = len(ecol)
    offs = ecol.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offs)
    if (
        ecol.null_count == 0
        and ecol.values.null_count == 0
        and bool((lens == dim).all())
    ):
        vals = ecol.values.to_numpy(zero_copy_only=True)
        V = vals[offs[0]: offs[0] + n * dim].astype(np.float64).reshape(
            n, dim
        )
        return _floor_int64(V * 1e6)
    M = np.zeros((n, dim), dtype=np.int64)
    for i, v in enumerate(ecol.to_pylist()):
        if v is None:
            continue
        a = np.asarray(
            [0.0 if x is None else float(x) for x in v], dtype=np.float64
        )
        M[i, : len(a)] = _floor_int64(a * 1e6)
    return M


def _band_keys_raw(emb: DataFrame, r: int, dim: int) -> DataFrame:
    """(vec_id, band, key) straight from the RAW float embedding column:
    quantisation (the exact ``ann.QUANT`` twin) and the sign projections run
    in one numpy pass per Arrow batch — the interpreted per-element
    transform() lambda never executes on the band side."""
    import numpy as np
    import pyarrow as pa

    S = np.array(
        [
            [_lsh_sign(j // r, j % r, i) for i in range(1, dim + 1)]
            for j in range(LSH_BANDS * r)
        ],
        dtype=np.int64,
    )
    shifts = np.arange(r, dtype=np.int64)

    def keys(it):
        for batch in it:
            n = batch.num_rows
            if not n:
                continue
            M = _quantize_matrix_arrow(batch.column(1), dim)
            D = M @ S.T  # (n, B*r), exact int64
            bits = D > 0
            keys_by_band = np.column_stack(
                [
                    (bits[:, b * r:(b + 1) * r].astype(np.int64) << shifts).sum(
                        axis=1
                    )
                    for b in range(LSH_BANDS)
                ]
            )
            vid = batch.column(0).to_numpy(zero_copy_only=False)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.repeat(vid, LSH_BANDS),
                        type=pa.int64(),
                        from_pandas=True,
                    ),
                    pa.array(
                        np.tile(np.arange(LSH_BANDS, dtype=np.int32), n),
                        type=pa.int32(),
                    ),
                    pa.array(keys_by_band.ravel(), type=pa.int64()),
                ],
                names=["vec_id", "band", "key"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        keys, schema="vec_id bigint, band int, key bigint"
    )


def _score_pairs_broadcast(
    pairs: DataFrame, ids: "np.ndarray", M: "np.ndarray"
) -> DataFrame:
    """Score (vec_a, vec_b) candidate pairs against a broadcast
    id-indexed numpy matrix of the quantised corpus (guide §8: decide on
    id pairs, gather the heavy arrays exactly once).

    Bit-equality with the join/pair_dot twin: the dot is the same exact
    int64 einsum (|qe_i| <= ~1e7, dim <= 64 keeps |dot| < 2^53, so the
    int64->float64 promotion in the division is exact); cosine applies
    the identical op sequence dot / (sqrt(nn_a) * sqrt(nn_b)) on
    identical doubles; and the tau filter keeps NaN (`~(cos < tau)`)
    because both Spark and DuckDB order NaN above every double, so a
    degenerate all-zero vector pair survives in all three engines.
    nn is recomputed as the exact row self-dot — identical to the
    aggregate() fold (same int64 sums, NULL counts 0)."""
    import numpy as np
    import pyarrow as pa

    order = np.argsort(ids, kind="stable")
    ids_s, M_s = ids[order], np.ascontiguousarray(M[order])
    sq = np.sqrt(np.einsum("ij,ij->i", M_s, M_s).astype(np.float64))
    bc = pairs.sparkSession.sparkContext.broadcast((ids_s, M_s, sq))

    def score(it):
        ids_b, M_b, sq_b = bc.value
        for batch in it:
            if not batch.num_rows:
                continue
            va = batch.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            vb = batch.column(1).to_numpy(zero_copy_only=False).astype(np.int64)
            ia = np.searchsorted(ids_b, va)
            ib = np.searchsorted(ids_b, vb)
            # a pair id absent from the corpus would otherwise score the
            # row at its insertion point
            last = len(ids_b) - 1
            for v, i in ((va, ia), (vb, ib)):
                miss = ids_b[np.clip(i, 0, last)] != v
                if miss.any():
                    raise ValueError(
                        f"pair ids not in the corpus: {v[miss][:5].tolist()}"
                    )
            dots = np.einsum("ij,ij->i", M_b[ia], M_b[ib])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (sq_b[ia] * sq_b[ib])
            keep = ~(cos < NEARDUP_TAU)  # NaN survives, as in SQL
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(va[keep], type=pa.int64()),
                    pa.array(vb[keep], type=pa.int64()),
                    # plain pa.array: a NaN cosine stays NaN (the JVM
                    # twin's double), NOT null
                    pa.array(cos[keep], type=pa.float64()),
                ],
                names=["vec_a", "vec_b", "cosine"],
            )

    return pairs.mapInArrow(
        score, schema="vec_a bigint, vec_b bigint, cosine double"
    )


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
    candidates come from the bucket match (never a cross product), exact
    integer-cosine ranks the survivors.

    r6 plan: the query set is N_QUERIES = 10 rows — its embeddings are
    collected once and the probe assignment is computed on the driver
    (numpy twin of the nprobe=2 sort expression: buckets ordered by
    (score DESC, bucket DESC), the reverse of the ascending
    (score, bucket) struct sort, exact because every score is an
    integer-valued double below 2^53); then ONE mapInArrow pass over the
    raw corpus scan quantises (exact ann.QUANT twin), assigns (the
    _assign_buckets_np matmul+argmax, ties to the higher bucket),
    matches the <= 2 * N_QUERIES probe entries and emits
    (query_id, neighbor_id, cosine) directly. This replaces: the
    interpreted ann.QUANT transform and nn fold on the corpus, the pandas
    list-column boundary of the corpus assign kernel, the broadcast
    bucket join, and the per-candidate interpreted _DOT fold — with
    bit-identical arithmetic (int64 dots; cosine is the same
    dot / (sqrt(nn_a) * sqrt(nn_b)) op sequence; NaN rows flow through
    unfiltered exactly as in the JVM plan). Nothing corpus-sized is ever
    collected or broadcast, so the shape holds at any corpus size;
    dedup + the per-query rank window are unchanged.

    Ragged queries: the driver-side nprobe=2 assignment counts a missing
    (past the query's length) or NULL query component as 0. The JVM form
    it replaced (``assign_buckets``' nprobe=2 struct sort) null-poisoned
    a short query vector instead."""
    import numpy as np
    import pyarrow as pa

    from .sources.scan import parallel_read

    cents = _fixed_centroids()  # (K, D) float64, exact 1e6 multiples
    biases = -0.5 * (cents * cents).sum(axis=1)
    k_cent, d_cent = cents.shape

    q_ids, Mq, sqq = _query_matrix(spark, sf_dir)
    probes: list[tuple[int, int]] = []  # (query index, probed bucket)
    if len(q_ids):
        dmin = min(Mq.shape[1], d_cent)
        Sq = Mq[:, :dmin].astype(np.float64) @ cents[:, :dmin].T + biases
        for qi in range(len(q_ids)):
            # reverse of ascending (score, bucket): score DESC, bucket DESC
            order = sorted(
                range(k_cent), key=lambda b: (Sq[qi, b], b), reverse=True
            )
            probes.extend((qi, b) for b in order[:2])
    bc = spark.sparkContext.broadcast((q_ids, Mq, sqq, probes))

    def search(it):
        q_ids_b, Mq_b, sqq_b, probes_b = bc.value
        for batch in it:
            n = batch.num_rows
            if not n or not probes_b:
                continue
            vid = (
                batch.column(0).to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            offs = batch.column(1).offsets.to_numpy(zero_copy_only=False)
            w = int(np.diff(offs).max(initial=0))
            M = _quantize_matrix_arrow(batch.column(1), max(w, 1))
            d = min(M.shape[1], d_cent)
            S = M[:, :d].astype(np.float64) @ cents[:, :d].T + biases
            bucket = (k_cent - 1) - np.argmax(S[:, ::-1], axis=1)
            sqc = np.sqrt(
                np.einsum("ij,ij->i", M, M).astype(np.float64)
            )
            m = min(M.shape[1], Mq_b.shape[1])
            qid_out, nid_out, cos_out = [], [], []
            for qi, b in probes_b:
                sel = (bucket == b) & (vid != q_ids_b[qi])
                if not sel.any():
                    continue
                dots = M[sel][:, :m] @ Mq_b[qi, :m]
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = dots / (sqq_b[qi] * sqc[sel])
                qid_out.append(
                    np.full(int(sel.sum()), q_ids_b[qi], dtype=np.int64)
                )
                nid_out.append(vid[sel])
                cos_out.append(cos)
            if not qid_out:
                continue
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(qid_out), type=pa.int64()),
                    pa.array(np.concatenate(nid_out), type=pa.int64()),
                    # plain pa.array: a NaN cosine stays NaN (the JVM
                    # twin's double), NOT null
                    pa.array(np.concatenate(cos_out), type=pa.float64()),
                ],
                names=["query_id", "neighbor_id", "cosine"],
            )

    scored = (
        parallel_read(spark, f"{sf_dir}/embeddings.parquet")
        .select("vec_id", "embedding")
        .mapInArrow(
            search,
            schema="query_id bigint, neighbor_id bigint, cosine double",
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"),
                "neighbor_id", "cosine")
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
