"""As-of join: the JVM window join gives the known answers; dedup
operator family: pipeline equals brute-force oracle."""

from __future__ import annotations

import pytest

from orthority_spark.operators.asof import asof_join_window
from orthority_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_neardups,
    shingle_set,
    simhash,
)

def test_asof_small_known_case(spark):
    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 7, 103)],
        "k long, ts long, event_id long")
    right = spark.createDataFrame(
        [(1, 10, 900), (1, 15, 901), (2, 99, 902)],
        "k long, ts long, view_event_id long")
    out = {r.event_id: r.view_event_id
           for r in asof_join_window(left, right, "k", "ts",
                                     ["event_id"], "view_event_id").collect()}
    # ts=10 matches the equal-ts right row (backward inclusive);
    # ts=20 matches ts=15; ts=5 has nothing; key 2's right row is later
    assert out == {100: 900, 101: 901, 102: None, 103: None}


def test_dedup_exact_with_planted_dupes(spark):
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "a b c"), (2, "x y z"), (3, "a b c")],
        "doc_id long, text string")
    out = {r.keep_id: r.n_dupes for r in dedup_exact(df, "doc_id", "text").collect()}
    assert out == {0: 3, 2: 1}


def test_minhash_lsh_finds_planted_neardups(spark):
    base = "w%d " * 30
    rows = []
    for i in range(40):
        words = " ".join(f"w{(i * 7 + k) % 200}" for k in range(30))
        rows.append((i, words))
    # plant: doc 100 == doc 0 with one word changed (high jaccard)
    near = rows[0][1].replace("w0", "zz", 1)
    rows.append((100, near))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    found = minhash_lsh_neardups(df, "doc_id", "text", tau=0.5)
    pairs = {(r.id_a, r.id_b) for r in found.collect()}
    assert (0, 100) in pairs

    # oracle: brute-force jaccard over all pairs confirms LSH found pairs
    # are genuinely >= tau (no false positives after verification)
    sh = shingle_set(df, "doc_id", "text").toPandas()
    sets = {i: set(g.sh) for i, g in sh.groupby("id")}
    for a, b in pairs:
        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert j >= 0.5


def test_simhash31_similar_docs_close(spark):
    rows = [(0, " ".join(f"w{k}" for k in range(40))),
            (1, " ".join(f"w{k}" for k in range(40)) + " extra"),
            (2, " ".join(f"v{k}" for k in range(40)))]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.simhash
           for r in simhash(df, "doc_id", "text", n_bits=31).collect()}
    ham01 = bin(out[0] ^ out[1]).count("1")
    ham02 = bin(out[0] ^ out[2]).count("1")
    assert ham01 < ham02  # near-identical docs are closer in hamming space
    assert ham01 <= 8


def test_lsh_band_sig_is_order_exact(spark):
    """Bands whose signature TUPLES differ must not collide even when
    their multisets agree; identical tuples must still bucket together."""
    from orthority_spark.operators.dedup import lsh_candidate_pairs

    band0 = {1: (5, 7), 2: (7, 5), 3: (5, 7)}
    # bands 1-3 are distinct per id, so band 0 alone decides
    rows = [(i, *band0[i], *(100 * i + k for k in range(6))) for i in band0]
    wide = spark.createDataFrame(
        rows, "id long, " + ", ".join(f"s{p} long" for p in range(8))
    )
    got = {(r.id_a, r.id_b) for r in lsh_candidate_pairs(wide).collect()}
    # 1 and 3 share the identical band tuple; 2 only shares the multiset
    assert got == {(1, 3)}


def test_simhash_full_width_60_bits(spark):
    """60-bit simhash: high bits actually vary (the 31-bit default cannot
    set them), and similar docs stay hamming-close at full width."""
    docs = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog today"),
        (3, "completely different words about spark shuffles and parquet"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r.id: r.simhash
           for r in simhash(df, "doc_id", "text", n_bits=60).collect()}
    assert any(v >> 31 for v in out.values())  # high bits populated
    def ham(a, b):
        return bin(a ^ b).count("1")
    assert ham(out[1], out[2]) < ham(out[1], out[3])
    with pytest.raises(ValueError):
        simhash(df, "doc_id", "text", n_bits=61).collect()
