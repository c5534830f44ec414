"""ANN: IVF bucketed search vs exact brute force — recall contract; the
Arrow kernels of operators/ann.py against the JVM-expression references
below and against the DuckDB oracles."""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from orthority_spark.operators.ann import (
    ann_bruteforce,
    ann_ivf,
    quantize_matrix,
)

SF = "/root/testdata/sf0.01"
QUERY_IDS = list(range(10))

# --- JVM-expression references for the kernels' quantise / dot / band key
QUANT = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
# coalesce absorbs zip_with's NULL padding for mixed-length pairs —
# sum over COMMON dims, the same convention as the SQL index equi-join
_DOT = (
    "aggregate(zip_with(a.qe, b.qe, (x, y) -> coalesce(x * y, "
    "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _quantized(emb):
    """(vec_id, qe, nn) by JVM expressions; a NULL element counts 0 in nn."""
    return emb.select("vec_id", F.expr(QUANT).alias("qe")).withColumn(
        "nn",
        F.expr(
            "aggregate(qe, CAST(0 AS BIGINT), "
            "(acc, v) -> acc + coalesce(v * v, CAST(0 AS BIGINT)))"
        ),
    )


def _band_keys_df_expr(qz, r: int, dim: int):
    """(vec_id, band, key) of ``band_keys`` as map-side JVM expressions
    against ONE shared sign-table column ``_S`` (array<array<int>>, planes
    x dims, constant-folded to a single literal). The projection walks
    each vector's OWN indices (sequence + element_at into the sign
    table), so a shorter vector sums its present dims and NULL elements
    count 0."""
    from orthority_spark.operators.ann import LSH_BANDS, _lsh_sign

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
    return qz.withColumn("_S", F.expr(f"array({sign_rows})")).select(
        "vec_id",
        F.explode(F.expr(f"array({', '.join(band_structs)})")).alias("bk"),
    ).select("vec_id", "bk.band", "bk.key")


def _keys(df):
    return {(x.vec_id, x.band, x.key) for x in df.collect()}


@contextmanager
def _wrapping_bigint(spark):
    """Non-ANSI BIGINT arithmetic: it wraps on overflow, as the kernels'
    int64 numpy sums do, where ANSI mode raises."""
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_bruteforce_topk_shape(spark, emb):
    out = ann_bruteforce(emb, F.col("vec_id").isin(QUERY_IDS), k=5).collect()
    assert len(out) == 50
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def _label_mean_centroids(emb, n_centroids: int = 8):
    """IVF seed centroids: the mean quantised vector of each
    ``label % n_centroids`` group, from exact int64 sums (an empty group
    keeps a zero centroid). Ragged/NULL components count 0."""
    import numpy as np

    t = emb.select("label", "embedding").toArrow()
    M = quantize_matrix(t.column("embedding"))
    b = t.column("label").to_numpy(zero_copy_only=False).astype(np.int64) % n_centroids
    sums = np.zeros((n_centroids, M.shape[1]), dtype=np.int64)
    np.add.at(sums, b, M)
    counts = np.bincount(b, minlength=n_centroids)
    cents = np.zeros(sums.shape)
    hit = counts > 0
    cents[hit] = sums[hit] / counts[hit, None]
    return cents


def test_ivf_recall_vs_bruteforce(spark, emb):
    cents = _label_mean_centroids(emb, n_centroids=8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce(emb, F.col("vec_id").isin(QUERY_IDS), k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(emb, F.col("vec_id").isin(QUERY_IDS), cents, k=5, nprobe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random unclustered embeddings: nprobe=4 of 8 buckets should recover
    # well over half of the true top-5 (clustered data would be ~1.0)
    assert recall >= 0.5, recall
    # approx never returns a worse-than-candidate neighbor for rank 1 when
    # the true NN shares a probed bucket — sanity: all results valid ids
    assert all(q in QUERY_IDS for q, _ in approx)


def test_banded_lsh_bucket_count_is_data_driven():
    """r = bits/band grows with corpus size (2^r tracks N / TARGET_OCC) —
    the within-bucket self-join cost stays ~B * N * TARGET_OCC at any
    scale instead of collapsing to N^2 / constant."""
    from orthority_spark.operators.ann import (
        LSH_RMAX, LSH_RMIN, LSH_TARGET_OCC, lsh_r_bits,
    )

    assert lsh_r_bits(1) == LSH_RMIN
    assert lsh_r_bits(500) == 5       # sf0.01 fixture -> 32 keys/band
    assert lsh_r_bits(2000) == 6      # sf0.1 fixture -> 64 keys/band
    # NO ceiling at design scale (VERDICT r4 #1: the old RMAX=16 froze
    # buckets at 65536 past N ~ 2.1M): r keeps tracking N unclamped
    assert lsh_r_bits(10**9) == 25
    assert lsh_r_bits(10**12) == 35   # the 10^12-vector design point
    assert lsh_r_bits(10**15) == 45
    # the BIGINT-key clamp binds only past TARGET_OCC * 2^58 ~ 9.2e18
    assert lsh_r_bits(LSH_TARGET_OCC * (1 << 58)) == LSH_RMAX == 58
    prev = 0
    for n in (1, 10, 100, 1000, 10**4, 10**6, 10**9, 10**12):
        r = lsh_r_bits(n)
        assert r >= prev, "bucket bits must be monotone in corpus size"
        prev = r
    # the design target: 2^r >= N / (2 * TARGET_OCC) below the clamp
    for n in (100, 5000, 10**5, 10**9, 10**12):
        assert 2 ** lsh_r_bits(n) * 2 * LSH_TARGET_OCC >= n


def _embedding_neardups_allpairs(spark, sf_dir):
    """Reference twin of the bucketed near-dup query: every pair with
    cosine >= NEARDUP_TAU from an all-pairs self-join (no LSH)."""
    from gates.queries_vec import NEARDUP_TAU

    qz = _quantized(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    a, b = qz.alias("a"), qz.alias("b")
    return (
        a.join(b, F.expr("a.vec_id < b.vec_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn(
            "cosine",
            F.try_divide(
                F.col("dot"),
                F.sqrt(F.col("a.nn").cast("double"))
                * F.sqrt(F.col("b.nn").cast("double")),
            ),
        )
        .where(F.col("cosine") >= NEARDUP_TAU)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def test_banded_lsh_occupancy_and_recall(spark, emb):
    """Fixture contracts the VERDICT asked for: 16+ band buckets at
    sf0.01, max bucket occupancy bounded (x4 the expected N / 2^r), and
    recall vs the all-pairs scan retained."""
    from orthority_spark.operators.ann import band_keys, lsh_r_bits
    from gates.queries_vec import q_embedding_neardups_bucketed

    n = emb.count()
    r = lsh_r_bits(n)
    occ = band_keys(emb, r, 64).groupBy("band", "key").count()
    stats = occ.agg(
        F.count(F.lit(1)).alias("nb"), F.max("count").alias("mx")
    ).first()
    assert stats.nb >= 16, f"only {stats.nb} band buckets"
    expected_occ = -(-n // 2 ** r)  # ceil
    assert stats.mx <= 4 * expected_occ, (stats.mx, expected_occ)
    got = {
        (x.vec_a, x.vec_b)
        for x in q_embedding_neardups_bucketed(spark, SF).collect()
    }
    allp = {
        (x.vec_a, x.vec_b) for x in _embedding_neardups_allpairs(spark, SF).collect()
    }
    assert got <= allp  # bucketing only restricts, never invents pairs
    # the fixture's "near dups" are weak (cosine ~0.35-0.5, hyperplane
    # agreement ~0.62/plane): measured recall 0.33 at sf0.01; genuinely
    # near-identical pairs (cosine ~0.95) collide at ~0.9/plane
    assert len(got & allp) / len(allp) >= 0.2


def test_banded_lsh_occupancy_past_old_clamp(spark):
    """The VERDICT r4 #1 contract: at a corpus size where
    bit_length(ceil(N/32)) EXCEEDS the old RMAX=16 clamp (N > ~2.1M),
    bucket cardinality keeps tracking N and max occupancy stays within
    4x the expected N / 2^r — the old ceiling capped every band at
    65536 buckets, so >65536 occupied buckets per band is impossible
    under the clamped design. 2.2M synthetic near-isotropic vectors
    (JVM-side generation; pmod keeps the per-dim distribution symmetric
    — Spark's % would bias every dim negative and cluster the corpus),
    real lsh_r_bits + band_keys path at r=17. ~40 s at local[32]."""
    from orthority_spark.operators.ann import band_keys, lsh_r_bits

    n, dim = 2_200_000, 32
    r = lsh_r_bits(n)
    assert r == 17 > 16, "fixture must sit past the old clamp"
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), "
            "i -> (pmod(xxhash64(id, i), 2000001) - 1000000) / 1e6)"
        ).alias("embedding"),
    )
    occ = band_keys(emb, r, dim).groupBy("band", "key").count()
    stats = occ.agg(
        F.max("count").alias("mx"),
        F.count(F.lit(1)).alias("nb"),
        F.countDistinct("band").alias("bands"),
    ).first()
    expected = -(-n // 2**r)  # ceil — same bound formula as the sf0.01 test
    assert stats.mx <= 4 * expected, (stats.mx, expected)
    assert stats.nb / stats.bands > 65536, (
        f"{stats.nb / stats.bands:.0f} buckets/band — still under the old "
        "2^16 ceiling"
    )


def test_banded_lsh_strong_dup_recall_across_r():
    """Recall contract on TRUE duplicates (VERDICT r4 #4): the sf0.01
    fixture's 'near dups' are weak 0.35-0.5-cosine pairs (recall ~0.33
    by design), so it cannot catch a recall regression on genuinely
    near-identical vectors. Plant 400 perturbed duplicate pairs
    (measured cosine >= 0.995) in an isotropic background and require
    the 4-band OR construction to recover >= 0.9 of them at every r up
    to past the old clamp — per plane a strong dup flips with
    p ~ arccos(cos)/pi ~ 0.02, so a full r-bit band agrees with
    p ~ 0.98^r ~ 0.69 at r = 18 and 4 bands miss with
    p ~ (1 - 0.69)^4 < 0.01."""
    import numpy as np

    from orthority_spark.operators.ann import LSH_BANDS, _lsh_sign

    rng = np.random.RandomState(7)
    n_pairs, dim = 400, 64
    base = rng.normal(size=(n_pairs, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    noise = rng.normal(size=(n_pairs, dim)) * 0.008
    dup = base + noise
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    cos = (base * dup).sum(axis=1)
    assert cos.min() >= 0.995, "fixture must contain only strong dups"
    # the quantised integer domain the real pipeline projects in
    qa = np.rint(base * 1e6).astype("int64")
    qb = np.rint(dup * 1e6).astype("int64")
    for r in (6, 12, 18):
        signs = np.array(
            [
                [_lsh_sign(j // r, j % r, i) for i in range(1, dim + 1)]
                for j in range(LSH_BANDS * r)
            ],
            dtype="int64",
        )
        bits_a = (qa @ signs.T) > 0
        bits_b = (qb @ signs.T) > 0
        recalled = 0
        for k in range(n_pairs):
            for b in range(LSH_BANDS):
                sl = slice(b * r, (b + 1) * r)
                if (bits_a[k, sl] == bits_b[k, sl]).all():
                    recalled += 1
                    break
        recall = recalled / n_pairs
        assert recall >= 0.9, (r, recall)


def test_banded_lsh_ragged_dims_match_oracle(spark, tmp_path):
    """A corpus with mixed embedding lengths must not null-poison the
    sign projections (zip_with pads the short side with NULL): the
    projection walks each vector's own indices, so a short vector sums
    its present dims exactly like the DuckDB unnest twin."""
    import duckdb
    import pandas as pd

    from gates.queries_vec import (
        q_embedding_neardups_bucketed, o_embedding_neardups_bucketed,
    )

    rows = []
    for i in range(60):
        d = 32 if i % 7 == 0 else 64  # every 7th vector is short
        rows.append((i, i % 5,
                     [((i * 73 + j * 37) % 2001 - 1000) / 1000.0
                      for j in range(d)]))
        if i % 10 == 9:  # planted exact dup of the previous vector
            rows.append((i + 1000, i % 5, rows[-1][2]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "label", "embedding"])
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        pdf, "vec_id bigint, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    got = q_embedding_neardups_bucketed(spark, str(tmp_path)).toPandas()
    assert len(got) >= 6  # the planted dups (cosine 1.0) must surface
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    exp = con.sql(o_embedding_neardups_bucketed()).df()
    cols = sorted(got.columns)
    g = got[cols].sort_values(cols).reset_index(drop=True)
    x = exp[cols].sort_values(cols).reset_index(drop=True)
    assert g.shape == x.shape
    assert (g.astype(str).values == x.astype(str).values).all()


def test_banded_lsh_empty_corpus(spark, tmp_path):
    import pandas as pd

    from gates.queries_vec import q_embedding_neardups_bucketed

    empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                          "label": pd.Series([], dtype="int32"),
                          "embedding": pd.Series([], dtype=object)})
    spark.createDataFrame(
        empty, "vec_id bigint, label int, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    assert q_embedding_neardups_bucketed(spark, str(tmp_path)).count() == 0


def test_band_keys_numpy_equals_expr_on_ragged_nulls(spark, emb):
    """The numpy band-key kernel must reproduce the JVM expression
    reference bit-for-bit — on the fixture and on ragged vector lengths,
    NULL elements and an empty vector (both count absent dims as 0)."""
    from orthority_spark.operators.ann import band_keys

    r, dim = 7, 64
    fast = _keys(band_keys(emb, r, dim))
    slow = _keys(_band_keys_df_expr(_quantized(emb), r, dim))
    assert fast == slow and len(fast) == 4 * emb.count()

    ragged = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 3.0]),
            (2, [0.5, None, -0.7]),
            (3, []),
            (4, [7e-6, 8e-6, 9e-6, 1e-5, 1.1e-5, 1.2e-5]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    f2 = _keys(band_keys(ragged, 5, 6))
    s2 = _keys(_band_keys_df_expr(_quantized(ragged), 5, 6))
    assert f2 == s2 and len(f2) == 16


def test_band_keys_raw_equals_quantized_path(spark):
    """The in-kernel floor(x * 1e6) must match the QUANT expression on
    ragged/NULL float vectors and on non-finite / out-of-range floats,
    which Spark's BIGINT cast maps NaN -> 0 and saturates at the int64
    ends; the saturated projections then wrap in both engines."""
    from orthority_spark.operators.ann import band_keys

    ragged = spark.createDataFrame(
        [
            (1, [1.0, -2.0, 3.0]),
            (2, [0.5, None, -0.7]),
            (3, []),
            (4, [7e-6, 8e-6, 9e-6, 1e-5, 1.1e-5, 1.2e-5]),
            (5, [float("nan"), 1.0]),
            (6, [float("inf")]),
            (7, [-1.0, float("-inf")]),
            (8, [3e38, -3e38, 2.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    f2 = _keys(band_keys(ragged, 5, 6))
    with _wrapping_bigint(spark):
        s2 = _keys(_band_keys_df_expr(_quantized(ragged), 5, 6))
    assert f2 == s2 and len(f2) == 32


def test_score_pairs_broadcast_equals_join_fallback(spark, monkeypatch):
    """The broadcast-matrix pair scorer must give the exact rows of the
    join-attach fallback (same pairs, same float64 cosines) — forced by
    shrinking the attach guard to 0."""
    import orthority_spark.operators.ann as ann
    import gates.queries_vec as qv

    fast = {
        (x.vec_a, x.vec_b, x.cosine)
        for x in qv.q_embedding_neardups_bucketed(spark, SF).collect()
    }
    monkeypatch.setattr(ann, "ATTACH_BROADCAST_MAX_ROWS", 0)
    slow = {
        (x.vec_a, x.vec_b, x.cosine)
        for x in qv.q_embedding_neardups_bucketed(spark, SF).collect()
    }
    assert fast == slow and len(fast) > 0


def test_score_pairs_broadcast_rejects_pair_id_missing_from_corpus(spark):
    """A pair id absent from the broadcast corpus raises instead of
    scoring the row at its searchsorted insertion point."""
    import numpy as np
    from pyspark.errors import PythonException

    from orthority_spark.operators.ann import _score_pairs_broadcast

    ids = np.array([10, 20, 30], dtype=np.int64)
    M = np.array([[1, 0], [0, 1], [1, 1]], dtype=np.int64)
    ok = spark.createDataFrame([(10, 30)], "vec_a bigint, vec_b bigint")
    got = _score_pairs_broadcast(ok, ids, M, 0.35).collect()
    assert [(r.vec_a, r.vec_b) for r in got] == [(10, 30)]
    for pair in [(10, 25), (5, 20), (10, 99)]:
        bad = spark.createDataFrame([pair], "vec_a bigint, vec_b bigint")
        with pytest.raises(PythonException, match="pair ids not in the corpus"):
            _score_pairs_broadcast(bad, ids, M, 0.35).collect()


def test_pair_scorers_equal_jvm_fold_on_ragged_nulls(spark):
    """Both near-dup pair scorers (broadcast matrix and join attach) must
    give the _DOT-fold cosine bit-for-bit, including ragged lengths and
    NULL elements (both count absent/NULL dims as 0); a zero-norm or NULL
    side scores NULL and never passes the threshold."""
    from orthority_spark.operators.ann import (
        _score_pairs_broadcast, _score_pairs_join, collect_matrix,
    )

    rows = [
        (1, [1.0, -2.0, 3.0], [0.4, 0.5, -0.6]),
        (2, [0.5, None, -0.7], [0.1, 0.2, 0.3, 0.4]),
        (3, [], [7e-6, 8e-6]),
        (4, [2e-6, 3e-6], None),
        (5, [7.0] * 64, [-7.0] * 64),
        (6, [0.0, 0.0], [1.0, 2.0]),
    ]
    emb = spark.createDataFrame(
        [(p, x) for p, x, _ in rows] + [(p + 100, y) for p, _, y in rows],
        "vec_id bigint, embedding array<float>",
    )
    pairs = spark.createDataFrame(
        [(p, p + 100) for p, _, _ in rows], "vec_a bigint, vec_b bigint"
    )
    tau = -2.0  # every non-NULL cosine survives
    qz = _quantized(emb)
    ref = {
        (r.vec_a, r.vec_b): r.cosine
        for r in pairs.join(qz.alias("a"), F.col("vec_a") == F.col("a.vec_id"))
        .join(qz.alias("b"), F.col("vec_b") == F.col("b.vec_id"))
        .select(
            "vec_a", "vec_b",
            F.try_divide(F.expr(_DOT), F.sqrt("a.nn") * F.sqrt("b.nn")).alias(
                "cosine"
            ),
        )
        .where(F.col("cosine") >= tau)
        .collect()
    }
    assert set(ref) == {(1, 101), (2, 102), (5, 105)}
    ids, M, _ = collect_matrix(emb)
    for scored in (
        _score_pairs_broadcast(pairs, ids, M, tau),
        _score_pairs_join(pairs, emb, tau),
    ):
        assert {(r.vec_a, r.vec_b): r.cosine for r in scored.collect()} == ref


def test_vector_gates_match_oracle_on_zero_and_null_vectors(spark, tmp_path):
    """All-zero and NULL/empty embeddings: a zero norm makes the cosine
    0/0, which DuckDB and Spark SQL return as NULL (ranked last, never
    >= tau), not NaN (ranked above every double). Each vector gate must
    equal its oracle on a corpus with a zero query, a zero neighbour and
    rows with no components at all."""
    import duckdb
    import numpy as np
    import pandas as pd

    from gates.queries_vec import QUERIES as GATES

    rng = np.random.RandomState(11)
    vecs = {i: rng.normal(size=16).astype("float32").tolist() for i in range(60)}
    vecs[4] = vecs[60] = [0.0] * 16  # a zero query and a zero neighbour
    vecs[6] = vecs[61] = None  # NULL embeddings, one of them a query
    vecs[62] = []
    pdf = pd.DataFrame(
        [(i, i % 5, v) for i, v in vecs.items()],
        columns=["vec_id", "label", "embedding"],
    )
    path = str(tmp_path / "embeddings.parquet")
    spark.createDataFrame(
        pdf, "vec_id bigint, label int, embedding array<float>"
    ).coalesce(1).write.mode("overwrite").parquet(path)
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM '{path}/*.parquet'")
    for name, (q, oracle) in GATES.items():
        df = q(spark, str(tmp_path))
        assert df.where(F.isnan("cosine")).count() == 0, name
        got, exp = df.toPandas(), con.sql(oracle()).df()
        cols = sorted(got.columns)
        g = got[cols].sort_values(cols).reset_index(drop=True)
        x = exp[cols].sort_values(cols).reset_index(drop=True)
        assert len(g) > 0 and g.shape == x.shape, (name, g.shape, x.shape)
        assert (g.astype(str).values == x.astype(str).values).all(), name


def test_vector_gates_hold_no_kernels():
    """Every vector kernel lives in operators/ann.py, which carries no JVM
    fold or pandas boundary (tests/test_gates.py keeps every gate,
    queries_vec.py included, free of executor-side kernels)."""
    import inspect

    import orthority_spark.operators.ann as ann
    import gates.queries_vec as qv

    for mod in (ann, qv):
        src = inspect.getsource(mod)
        for word in ("_DOT", "QUANT", "pandas_udf", "mapInPandas"):
            assert word not in src, (mod.__name__, word)
