"""ANN: IVF bucketed search vs exact brute force — recall contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orthority_spark.operators.ann import (
    ann_bruteforce,
    ann_ivf,
    assign_buckets,
    quantize,
    train_centroids,
)

SF = "/root/testdata/sf0.01"
QUERY_IDS = list(range(10))


@pytest.fixture(scope="module")
def qz(spark):
    return quantize(spark.read.parquet(f"{SF}/embeddings.parquet"))


def test_bruteforce_topk_shape(spark, qz):
    out = ann_bruteforce(qz, QUERY_IDS, k=5).collect()
    assert len(out) == 50
    per_q = {}
    for r in out:
        per_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_q.values())


def test_bucket_assignment_covers_all(spark, qz):
    cents = train_centroids(qz, n_centroids=8)
    b = assign_buckets(qz, cents, nprobe=1)
    assert b.count() == qz.count()
    n_buckets = b.select("bucket").distinct().count()
    assert 2 <= n_buckets <= 8
    b2 = assign_buckets(qz, cents, nprobe=2)
    assert b2.count() == 2 * qz.count()


def test_ivf_recall_vs_bruteforce(spark, qz):
    cents = train_centroids(qz, n_centroids=8)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce(qz, QUERY_IDS, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(qz, QUERY_IDS, cents, k=5, nprobe=4).collect()
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
    from orthority_spark.queries_vec import (
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
    from orthority_spark.operators.ann import _DOT
    from orthority_spark.queries_vec import NEARDUP_TAU, _quantized

    qz = _quantized(spark, sf_dir)
    a, b = qz.alias("a"), qz.alias("b")
    return (
        a.join(b, F.expr("a.vec_id < b.vec_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn(
            "cosine",
            F.col("dot")
            / (F.sqrt(F.col("a.nn").cast("double")) * F.sqrt(F.col("b.nn").cast("double"))),
        )
        .where(F.col("cosine") >= NEARDUP_TAU)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            "cosine",
        )
    )


def test_banded_lsh_occupancy_and_recall(spark, qz):
    """Fixture contracts the VERDICT asked for: 16+ band buckets at
    sf0.01, max bucket occupancy bounded (x4 the expected N / 2^r), and
    recall vs the all-pairs scan retained."""
    from pyspark.sql import functions as F  # noqa: F811

    from orthority_spark.queries_vec import (
        _band_keys_df, lsh_r_bits, q_embedding_neardups_bucketed,
    )

    n = qz.count()
    r = lsh_r_bits(n)
    bk = _band_keys_df(qz, r, 64)
    occ = bk.groupBy("band", "key").count()
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
    real lsh_r_bits + _band_keys_df path at r=17. ~40 s at local[32]."""
    from orthority_spark.queries_vec import _band_keys_df, lsh_r_bits

    n, dim = 2_200_000, 32
    r = lsh_r_bits(n)
    assert r == 17 > 16, "fixture must sit past the old clamp"
    qz = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(1, {dim}), "
            "i -> CAST(pmod(xxhash64(id, i), 2000001) - 1000000 AS BIGINT))"
        ).alias("qe"),
        F.lit(1).cast("bigint").alias("nn"),
    )
    occ = _band_keys_df(qz, r, dim).groupBy("band", "key").count()
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

    from orthority_spark.queries_vec import LSH_BANDS, _lsh_sign

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

    from orthority_spark.queries_vec import (
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

    from orthority_spark.queries_vec import q_embedding_neardups_bucketed

    empty = pd.DataFrame({"vec_id": pd.Series([], dtype="int64"),
                          "label": pd.Series([], dtype="int32"),
                          "embedding": pd.Series([], dtype=object)})
    spark.createDataFrame(
        empty, "vec_id bigint, label int, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    assert q_embedding_neardups_bucketed(spark, str(tmp_path)).count() == 0


def test_kmeans_inertia_monotone_and_recall(spark):
    """Distributed Lloyd's k-means: Euclidean inertia is monotone
    non-increasing across iterations, and the trained quantiser's IVF
    recall vs exact top-k is at least as good as the label-seed's."""
    from orthority_spark.operators.ann import (
        ann_bruteforce, ann_ivf, quantize, train_centroids,
        train_centroids_kmeans,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qz = quantize(emb).cache()
    cents, inertia = train_centroids_kmeans(qz, n_centroids=8, n_iter=5)
    assert len(inertia) == 5
    assert all(b <= a * (1 + 1e-12) for a, b in zip(inertia, inertia[1:]))

    qids = [int(r.vec_id) for r in qz.select("vec_id").limit(5).collect()]
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ann_bruteforce(qz, qids, k=5).collect()
    }
    got = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(qz, qids, cents, k=5, nprobe=2).collect()
    }
    recall = len(got & exact) / len(exact)
    seed = train_centroids(qz, 8)
    got_seed = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf(qz, qids, seed, k=5, nprobe=2).collect()
    }
    recall_seed = len(got_seed & exact) / len(exact)
    assert recall >= 0.5
    assert recall >= recall_seed - 0.2  # k-means never collapses recall
    qz.unpersist()


def test_band_keys_numpy_equals_expr_on_ragged_nulls(spark):
    """r6: the numpy mapInPandas band-key path must reproduce the JVM
    expression twin bit-for-bit — including ragged vector lengths and
    NULL elements (both count absent dims as 0)."""
    from orthority_spark.queries_vec import (
        _band_keys_df, _band_keys_df_expr, _quantized,
    )

    qz = _quantized(spark, SF)
    r, dim = 7, 64
    fast = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df(qz, r, dim).select("vec_id", "band", "key").collect()
    }
    slow = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df_expr(qz, r, dim).select("vec_id", "band", "key").collect()
    }
    assert fast == slow and len(fast) == 4 * qz.count()

    ragged = spark.createDataFrame(
        [
            (1, [1000000, -2000000, 3000000], 14000000000000),
            (2, [500000, None, -700000], 740000000000),
            (3, [], 0),
            (4, [7, 8, 9, 10, 11, 12], 599),
        ],
        "vec_id bigint, qe array<bigint>, nn bigint",
    )
    f2 = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df(ragged, 5, 6).select("vec_id", "band", "key").collect()
    }
    s2 = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df_expr(ragged, 5, 6).select("vec_id", "band", "key").collect()
    }
    assert f2 == s2 and len(f2) == 16


def test_band_keys_raw_equals_quantized_path(spark):
    """r6 pass 2: the raw-float mapInArrow band-key path (quantisation
    fused into the kernel) must reproduce the qe-based numpy path
    bit-for-bit — on the fixture AND on ragged/NULL float vectors (the
    in-kernel floor(x * 1e6) must match the ann.QUANT expression), and on
    non-finite / out-of-range floats, which Spark's BIGINT cast maps
    NaN -> 0 and saturates at the int64 ends."""
    from orthority_spark.queries_vec import (
        _band_keys_df, _band_keys_raw, _quantized,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    r, dim = 7, 64
    raw = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_raw(emb, r, dim).collect()
    }
    via_qe = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df(_quantized(spark, SF), r, dim).collect()
    }
    assert raw == via_qe and len(raw) == 4 * emb.count()

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
    from pyspark.sql import functions as F

    from orthority_spark.operators.ann import QUANT

    ragged_qe = ragged.select("vec_id", F.expr(QUANT).alias("qe"))
    f2 = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_raw(ragged, 5, 6).collect()
    }
    s2 = {
        (x.vec_id, x.band, x.key)
        for x in _band_keys_df(ragged_qe, 5, 6).collect()
    }
    assert f2 == s2 and len(f2) == 32


def test_score_pairs_broadcast_equals_join_fallback(spark, monkeypatch):
    """r6 pass 2: the broadcast-matrix mapInArrow pair scorer must give
    the exact rows of the join + pair_dot fallback (same pairs, same
    float64 cosines) — forced by shrinking the attach guard to 0."""
    import orthority_spark.queries_vec as qv

    fast = {
        (x.vec_a, x.vec_b, x.cosine)
        for x in qv.q_embedding_neardups_bucketed(spark, SF).collect()
    }
    monkeypatch.setattr(qv, "ATTACH_BROADCAST_MAX_ROWS", 0)
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

    from orthority_spark.queries_vec import _score_pairs_broadcast

    ids = np.array([10, 20, 30], dtype=np.int64)
    M = np.array([[1, 0], [0, 1], [1, 1]], dtype=np.int64)
    ok = spark.createDataFrame([(10, 30)], "vec_a bigint, vec_b bigint")
    got = _score_pairs_broadcast(ok, ids, M).collect()
    assert [(r.vec_a, r.vec_b) for r in got] == [(10, 30)]
    for pair in [(10, 25), (5, 20), (10, 99)]:
        bad = spark.createDataFrame([pair], "vec_a bigint, vec_b bigint")
        with pytest.raises(PythonException, match="pair ids not in the corpus"):
            _score_pairs_broadcast(bad, ids, M).collect()


def test_pair_dot_equals_jvm_fold_on_ragged_nulls(spark):
    """r6: the Arrow-vectorized pair dot must equal the _DOT zip_with
    fold bit-for-bit, including ragged lengths and NULL elements (both
    count absent/NULL dims as 0)."""
    from pyspark.sql import functions as F

    from orthority_spark.operators.ann import _DOT, pair_dot

    rows = [
        (1, [1000000, -2000000, 3000000], [400000, 500000, -600000]),
        (2, [500000, None, -700000], [100000, 200000, 300000, 400000]),
        (3, [], [7, 8]),
        (4, [2, 3], None),
        (5, [7000000] * 64, [-7000000] * 64),
    ]
    df = spark.createDataFrame(
        rows, "pid bigint, x array<bigint>, y array<bigint>"
    )
    ab = df.select(
        "pid",
        F.struct(F.col("x").alias("qe")).alias("a"),
        F.struct(F.col("y").alias("qe")).alias("b"),
    )
    jvm = {r.pid: r.d for r in ab.select("pid", F.expr(_DOT).alias("d")).collect()}
    py = {
        r.pid: r.d
        for r in df.select("pid", pair_dot()(F.col("x"), F.col("y")).alias("d")).collect()
    }
    # _DOT yields NULL when one side is NULL; pair_dot 0 — normalise the
    # NULL-array case (no caller scores NULL-qe rows: quantize never
    # produces them and the attach join is on non-null corpus rows)
    jvm = {k: (0 if v is None else v) for k, v in jvm.items()}
    assert jvm == py


def test_assign_buckets_numpy_equals_expr(spark, qz):
    """r6: the nprobe=1 numpy assignment must equal the expression form
    (forced via nprobe=2 head... rather: via the sort path on the same
    integer-exact centroids the IVF gate uses) bucket-for-bucket."""
    from orthority_spark.queries_vec import _fixed_centroids

    cents = _fixed_centroids()
    fast = {r.vec_id: r.bucket for r in assign_buckets(qz, cents, nprobe=1).collect()}
    # nprobe=2 sort path's FIRST bucket == the argmax bucket
    slow = {}
    from pyspark.sql import Window, functions as F
    b2 = assign_buckets(qz, cents, nprobe=2)
    # rows come back in probe order per vec? No ordering guarantee from
    # explode — recompute rank by score is overkill; instead compare to
    # greatest()-style reduction in pure python on collected qe
    import numpy as np
    rows = qz.collect()
    C = np.asarray(cents)
    for r in rows:
        qe = np.array([0 if x is None else x for x in (r.qe or [])], dtype="int64")
        d = min(len(qe), C.shape[1])
        s = (qe[:d].astype("float64") @ C[:, :d].T) - 0.5 * (C * C).sum(axis=1)
        best = max(range(C.shape[0]), key=lambda k: (s[k], k))
        slow[r.vec_id] = best
    assert fast == slow
