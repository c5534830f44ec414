"""Deduplication operator family (task-brief first-class component).

Engine-grade APIs over a documents-shaped DataFrame (id_col, text_col)
holding one row per id:

- :func:`dedup_exact`          hash-groupBy keep-min
- :func:`token_set`            distinct non-empty unigrams (map-side dedup)
- :func:`shingle_set`          distinct word-3-gram shingles (map-side dedup)
- :func:`minhash_wide`         one row per doc of the 8 minhash sigs
- :func:`minhash_signatures`   the wide row stacked to (id, perm, sig)
- :func:`lsh_bands`            bands of 2 sigs, arithmetic band key
- :func:`lsh_candidate_pairs`  banding equi-join
- :func:`jaccard_verify`       exact Jaccard over candidate pairs ONLY
- :func:`minhash_lsh_neardups` the full pipeline: shingle -> minhash ->
                               band -> bucket-join -> exact verify
- :func:`simhash`              SimHash (n_bits <= 60; near-dup by hamming bands)

Scale shape: every stage is built-ins; per-doc dedup of tokens/shingles
is an array_distinct before the explode (no corpus-wide Exchange); the
only pairwise work is inside LSH buckets; the verifier semi-joins the
candidate ids onto the DOC rows before shingling, so only candidate docs
are exploded a second time.

The text gates (gates/queries_text.py) call these operators and rename
``id*`` to ``doc_*``; their DuckDB oracles share the constants and the
arithmetic below (md5-prefix hashes are bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

P31 = 2147483647  # Mersenne prime 2^31-1: perm-hash modulus
N_PERMS = 8
PERMS = [(p, 1000003 + p * 101, 12345 + p * 7919) for p in range(N_PERMS)]

#: word-3-grams of the token array column ``l`` (callers keep size(l) >= 3:
#: below that sequence(0, -1) counts DOWN and l[i+2] throws)
SHINGLES_SQL = (
    "transform(sequence(0, size(l) - 3), "
    "i -> concat_ws(' ', l[i], l[i+1], l[i+2]))"
)


def _h31(col: str) -> str:
    """Spark SQL: 31-bit md5-prefix hash of a string column."""
    return (
        f"CAST(conv(substring(md5({col}), 1, 15), 16, 10) AS BIGINT) % {P31}"
    )


#: one cached DataFrame per logical slot: gate queries run many times in
#: one long session (driver gate sweep, bench, pytest) and unbounded
#: ``persist()`` calls would pin every past invocation's shingle cache in
#: executor storage; swapping per slot bounds the footprint to one copy.
_PERSIST_SLOTS: dict[str, DataFrame] = {}


def _persist_latest(df: DataFrame, slot: str) -> DataFrame:
    prev = _PERSIST_SLOTS.pop(slot, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # session of the old cache may already be stopped
    _PERSIST_SLOTS[slot] = df.persist()
    return df


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_hash, keep_id, n_dupes): exact duplicate groups."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dupes"))
    )


def token_set(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token): distinct non-empty unigrams per document.

    The per-doc dedup is MAP-SIDE (array_distinct before the explode),
    so consumers aggregate straight off the scan stage. Requires one row
    per id; a repeated id would repeat its tokens."""
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.array_remove(F.split(F.col(text_col), " "), ""))
        ).alias("token"),
    )


def shingle_set(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sh): distinct word-3-gram shingles per document.

    The token array is bound to a column first, so split() evaluates once
    per row; the per-doc dedup is MAP-SIDE (array_distinct before the
    explode). Documents with fewer than 3 tokens yield no shingles.
    Requires one row per id; a repeated id would repeat its shingles."""
    return (
        df.withColumn("l", F.split(F.col(text_col), " "))
        .where(F.size("l") >= 3)
        .select(
            F.col(id_col).alias("id"),
            F.explode(F.array_distinct(F.expr(SHINGLES_SQL))).alias("sh"),
        )
    )


def minhash_wide(shingles: DataFrame) -> DataFrame:
    """(id, s0..s7): one wide row per doc of min over its shingles of
    (a*h+b) % P31 for each permutation.

    md5 is computed ONCE per shingle, the permutation hashes are map-side
    arithmetic columns, and the mins land in one partial-aggregated
    groupBy: no perms-join row replication."""
    h = shingles.withColumn("h", F.expr(_h31("sh")))
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(P31)).alias(f"s{p}")
        for p, a, b in PERMS
    ]
    return h.groupBy("id").agg(*aggs)


def minhash_signatures(wide: DataFrame) -> DataFrame:
    """(id, perm, sig): the wide row restored to per-perm rows with a
    map-side stack()."""
    stack = ", ".join(f"{p}, s{p}" for p, _, _ in PERMS)
    return wide.select(
        "id", F.expr(f"stack({N_PERMS}, {stack}) AS (perm, sig)")
    ).select("id", F.col("perm").cast("int").alias("perm"), "sig")


def lsh_bands(wide: DataFrame) -> DataFrame:
    """(id, band, band_sig): bands of 2 perms, band_sig(b) =
    s(2b) * P31 + s(2b+1), built map-side from the wide row.

    Signatures are < P31, so the key is an exact, order-sensitive
    encoding of the band's signature pair: distinct tuples never share
    a bucket."""
    structs = ", ".join(
        f"struct(CAST({b} AS BIGINT) AS band, "
        f"(s{2 * b} * CAST({P31} AS BIGINT) + s{2 * b + 1}) AS band_sig)"
        for b in range(N_PERMS // 2)
    )
    return wide.select(
        "id", F.explode(F.expr(f"array({structs})")).alias("bk")
    ).select("id", "bk.band", "bk.band_sig")


def lsh_candidate_pairs(wide: DataFrame) -> DataFrame:
    """(id_a, id_b), id_a < id_b: pairs sharing >= 1 band signature.

    The band table is deliberately NOT persisted: the cache build is a
    synchronization barrier that serializes the whole query graph, and a
    controlled A/B (BENCH/ab_jaccard.json) measured the persisted shape
    1.4-1.6x SLOWER at sf0.1 and sf1. Exchange reuse never fires either
    (the shingle pipeline's lambdas do not canonicalize equal), so the
    self-join runs two pipelined shingle->minhash passes."""
    bands = lsh_bands(wide)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, ["band", "band_sig"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    candidates: DataFrame, df: DataFrame, id_col: str, text_col: str,
    tau: float,
) -> DataFrame:
    """(id_a, id_b, common, jaccard >= tau): exact shingle Jaccard over
    CANDIDATE pairs only (the scale path: never all-pairs).

    The candidate ids semi-join onto the doc rows BEFORE shingling
    (Catalyst does not push a semi-join below a Generate), and that one
    shingle pass is cached, since counts and both sides of the pair join
    read it. counts covers candidate docs only: na/nb are identical for
    every pair that reaches the final join."""
    cand_ids = (
        candidates.select(F.col("id_a").alias(id_col))
        .union(candidates.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = _persist_latest(
        shingle_set(df.join(cand_ids, id_col, "left_semi"), id_col, text_col),
        "jaccard_cand_shingles",
    )
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("id").alias("id_a"), "sh")
    b = sh.select(F.col("id").alias("id_b"), "sh")
    common = (
        candidates.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = counts.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    nb = counts.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .where(F.col("jaccard") >= tau)
        .select("id_a", "id_b", "common", "jaccard")
    )


def minhash_lsh_neardups(
    df: DataFrame, id_col: str, text_col: str, tau: float = 0.8
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline with exact verification:
    (id_a, id_b, common, jaccard)."""
    cands = lsh_candidate_pairs(minhash_wide(shingle_set(df, id_col, text_col)))
    return jaccard_verify(cands, df, id_col, text_col, tau)


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 31) -> DataFrame:
    """(id, simhash): SimHash from unigram token hashes. Column-wise
    per-bit sign sums in one partial-agg groupBy; no bits-join
    replication. The token hash is the 60-bit md5 prefix (31-bit for
    n_bits <= 31), so up to 60 simhash bits are available (63 would also
    overflow a signed long under the bit-sum assembly)."""
    if not 1 <= n_bits <= 60:
        raise ValueError("n_bits must be in [1, 60] (60-bit token hash)")
    h = (
        "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT)"
        if n_bits > 31
        else _h31("token")
    )
    toks = token_set(df, id_col, text_col).withColumn("h", F.expr(h))
    aggs = [
        F.sum(
            F.expr(f"CASE WHEN (h DIV {2**b}) % 2 = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{b}")
        for b in range(n_bits)
    ]
    wide = toks.groupBy("id").agg(*aggs)
    sig = None
    for b in range(n_bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2**b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return wide.select("id", sig.cast("long").alias("simhash"))
