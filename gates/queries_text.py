"""Text-analysis + deduplication driver-gate queries over `documents`.

The training-data-pipeline operator family (task brief): exact dedup,
MinHash+LSH near-dup, SimHash, n-gram Jaccard, language/quality/token
statistics, document fingerprinting. Everything is expressed with JVM-side
built-ins (split/explode/md5/conv + relational ops) — no Python in any hot
path — and every query has a DuckDB oracle sharing the same arithmetic
(md5-prefix hashes are bit-identical across engines, see functions/checksum).

The dedup gates (exact, MinHash, LSH, Jaccard, SimHash, corpus_clean,
contamination, tf_idf's df) call the operators in operators/dedup.py —
the one implementation, whose scale notes live there — and rename its
``id*`` columns to ``doc_*``. The oracle SQL below takes its constants
(P31, PERMS) from that module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from orthority_spark.operators import dedup
from orthority_spark.operators.dedup import P31, PERMS

JACCARD_TAU = 0.8
STOPWORDS = ["a", "the", "of", "and", "to", "in"]
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_par(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc scan with the scan-parallelism guard — for HEAVY map
    consumers only (shingling, per-token md5, tf explode): the fixture
    file is 1-2 row groups, so unguarded map stages ran on <= 2 of 32
    cores; light scan+agg queries skip the guard (its exchange costs
    more than it buys there — sources/scan.py). Uses parallel_read so
    the partition-count probe is memoized per (session, path) — the
    text family re-probes this path many times per sweep."""
    from orthority_spark.sources.scan import parallel_read

    return parallel_read(spark, f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
# oracle fragments (DuckDB SQL)
# ---------------------------------------------------------------------------

_TOKENS_CTE = """
WITH tokens AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token <> ''
)"""


_SHINGLES_CTE = """
WITH shingles AS (
  SELECT DISTINCT doc_id, l[p] || ' ' || l[p+1] || ' ' || l[p+2] AS sh
  FROM (
    SELECT doc_id, l, generate_subscripts(l, 1) AS p
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
  ) WHERE p <= len(l) - 2
)"""


def _h31_duck(col: str) -> str:
    return f"(('0x' || substr(md5({col}), 1, 15))::BIGINT % {P31})"


_PERMS_VALUES = (
    "perms(perm, a, b) AS (VALUES "
    + ", ".join(f"({p}, {a}, {b})" for p, a, b in PERMS)
    + ")"
)


def _minhash_cte() -> str:
    return f"""{_SHINGLES_CTE},
{_PERMS_VALUES},
hashes AS (SELECT doc_id, {_h31_duck('sh')} AS h FROM shingles),
sigs AS (
  SELECT doc_id, perm, MIN((a * h + b) % {P31}) AS sig
  FROM hashes, perms GROUP BY doc_id, perm
)"""


def _band_cte() -> str:
    return f"""{_minhash_cte()},
bands AS (
  SELECT doc_id, perm // 2 AS band,
         SUM(CASE WHEN perm % 2 = 0 THEN sig * {P31} ELSE sig END) AS band_sig
  FROM sigs GROUP BY doc_id, perm // 2
)"""


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the md5 of the text, keep min doc_id."""
    return dedup.dedup_exact(_docs(spark, sf_dir), "doc_id", "text")


def o_dedup_exact() -> str:
    return (
        "SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, "
        "COUNT(*) AS n_dupes FROM documents GROUP BY md5(text)"
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures over word-3-gram shingles (8 permutations)."""
    sh = dedup.shingle_set(_docs_par(spark, sf_dir), "doc_id", "text")
    return dedup.minhash_signatures(dedup.minhash_wide(sh)).select(
        F.col("id").alias("doc_id"), "perm", "sig"
    )


def o_minhash_signatures() -> str:
    return f"{_minhash_cte()} SELECT doc_id, perm, sig FROM sigs"


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: candidate near-dup pairs sharing any band signature
    (the band table is not persisted: see dedup.lsh_candidate_pairs)."""
    sh = dedup.shingle_set(_docs_par(spark, sf_dir), "doc_id", "text")
    return dedup.lsh_candidate_pairs(dedup.minhash_wide(sh)).select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b")
    )


def o_lsh_candidates() -> str:
    return f"""{_band_cte()}
SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
FROM bands a JOIN bands c
  ON a.band = c.band AND a.band_sig = c.band_sig AND a.doc_id < c.doc_id"""


def q_jaccard_neardups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidates-only Jaccard verification — the 100 TB path: exact
    shingle Jaccard computed ONLY for pairs sharing an LSH band (never
    all-pairs); the shingle explode is restricted to candidate docs via a
    left-semi join on the doc rows (dedup.jaccard_verify)."""
    pairs = dedup.minhash_lsh_neardups(
        _docs_par(spark, sf_dir), "doc_id", "text", JACCARD_TAU
    )
    return pairs.select(
        F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"),
        "common", "jaccard",
    )


def o_jaccard_neardups_lsh() -> str:
    return f"""{_band_cte()},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.band_sig = c.band_sig AND a.doc_id < c.doc_id
), counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT cands.doc_a, cands.doc_b, COUNT(*) AS common
  FROM cands
  JOIN shingles sa ON sa.doc_id = cands.doc_a
  JOIN shingles sb ON sb.doc_id = cands.doc_b AND sb.sh = sa.sh
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, common,
       common / CAST(na.n + nb.n - common AS DOUBLE) AS jaccard
FROM common JOIN counts na ON doc_a = na.doc_id
            JOIN counts nb ON doc_b = nb.doc_id
WHERE common / CAST(na.n + nb.n - common AS DOUBLE) >= {JACCARD_TAU}"""


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data cleaning pipeline as ONE declarative
    plan: exact dedup (keep min doc_id per md5) -> LSH near-dup removal
    (drop the higher doc_id of every verified Jaccard >= tau pair; the
    deterministic keep-canonical rule, not full clustering) -> stopword
    quality gate -> per-language survivor counts + exact token sums."""
    d = _docs(spark, sf_dir)
    # exact dedup winners
    keep = dedup.dedup_exact(d, "doc_id", "text").select(
        F.col("keep_id").alias("doc_id")
    )
    # near-dup losers: the higher id of every verified pair
    losers = dedup.minhash_lsh_neardups(
        _docs_par(spark, sf_dir), "doc_id", "text", JACCARD_TAU
    ).select(F.col("id_b").alias("doc_id")).distinct()
    survivors = keep.join(losers, "doc_id", "left_anti")
    # quality gate: >= 2 stopwords AND >= 20 tokens. r6: both counts are
    # MAP-SIDE array expressions — n_tok counts non-empty tokens
    # (size(array_remove)), n_stop counts stopword occurrences
    # (size(filter)); identical values to the old explode ->
    # groupBy(doc_id, lang) plan (stopwords are never the empty string,
    # so counting them over all tokens equals counting over non-empty
    # ones), with no row explosion and one less Exchange.
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    stats = d.select(
        "doc_id",
        "lang",
        F.expr(
            "CAST(size(array_remove(split(text, ' '), '')) AS BIGINT)"
        ).alias("n_tok"),
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> t IN ({stop_list})))"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    clean = stats.join(survivors, "doc_id", "left_semi").where(
        (F.col("n_stop") >= 2) & (F.col("n_tok") >= 20)
    )
    return clean.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
    )


def o_corpus_clean() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""{_band_cte()},
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.band_sig = c.band_sig AND a.doc_id < c.doc_id
), counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
common AS (
  SELECT cands.doc_a, cands.doc_b, COUNT(*) AS common
  FROM cands
  JOIN shingles sa ON sa.doc_id = cands.doc_a
  JOIN shingles sb ON sb.doc_id = cands.doc_b AND sb.sh = sa.sh
  GROUP BY 1, 2
), losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM common JOIN counts na ON doc_a = na.doc_id
              JOIN counts nb ON doc_b = nb.doc_id
  WHERE common / CAST(na.n + nb.n - common AS DOUBLE) >= {JACCARD_TAU}
), keep AS (
  SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
), survivors AS (
  SELECT doc_id FROM keep WHERE doc_id NOT IN (SELECT doc_id FROM losers)
), toks AS (
  SELECT doc_id, lang, tok FROM (
    SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
    FROM documents
  ) WHERE tok <> ''
), stats AS (
  SELECT doc_id, lang, COUNT(*) AS n_tok,
         SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS n_stop
  FROM toks GROUP BY doc_id, lang
)
SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS sum_tokens
FROM stats
WHERE doc_id IN (SELECT doc_id FROM survivors)
  AND n_stop >= 2 AND n_tok >= 20
GROUP BY lang"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document from unigram token hashes
    (dedup.simhash: per-bit sign sums in ONE partial-agg groupBy)."""
    sims = dedup.simhash(_docs_par(spark, sf_dir), "doc_id", "text", n_bits=16)
    return sims.select(F.col("id").alias("doc_id"), "simhash")


def o_simhash() -> str:
    bits = ", ".join(f"({b}, {2**b})" for b in range(16))
    return f"""{_TOKENS_CTE},
bits(bit, pw) AS (VALUES {bits}),
th AS (SELECT doc_id, {_h31_duck('token')} AS h FROM tokens),
bitsum AS (
  SELECT doc_id, bit, pw,
         SUM(CASE WHEN (h // pw) % 2 = 1 THEN 1 ELSE -1 END) AS s
  FROM th, bits GROUP BY doc_id, bit, pw
)
SELECT doc_id, CAST(SUM(CASE WHEN s > 0 THEN pw ELSE 0 END) AS BIGINT) AS simhash
FROM bitsum GROUP BY doc_id"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/char statistics (quality-scoring inputs)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.length("text").alias("n_chars_obs"),
        (F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))).alias(
            "n_vowels"
        ),
    )


def o_text_stats() -> str:
    return """
SELECT doc_id,
       len(string_split(text, ' ')) AS n_tokens,
       len(list_distinct(string_split(text, ' '))) AS n_distinct,
       length(text) AS n_chars_obs,
       length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS n_vowels
FROM documents"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score: stopword ratio + distinct-token ratio."""
    d = _docs(spark, sf_dir)
    stops = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .withColumn("is_stop", F.col("tok").isin(STOPWORDS).cast("long"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum("is_stop").alias("n_stop"),
        )
    )
    return stops.select(
        "doc_id",
        "n_tok",
        "n_stop",
        (F.col("n_stop") / F.col("n_tok").cast("double")).alias("stop_ratio"),
    )


def o_quality_score() -> str:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT doc_id, COUNT(*) AS n_tok,
       CAST(SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
       SUM(CASE WHEN tok IN ({stop_list}) THEN 1 ELSE 0 END)
         / CAST(COUNT(*) AS DOUBLE) AS stop_ratio
FROM toks GROUP BY doc_id"""


def q_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token count (letters / digits / punct classes)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(F.expr(f"regexp_extract_all(text, '{BPE_RE}', 0)")).alias("n_bpe"),
    )


def o_token_count_bpe() -> str:
    return (
        f"SELECT doc_id, len(regexp_extract_all(text, '{BPE_RE}')) AS n_bpe "
        "FROM documents"
    )


def q_lang_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile (A8-style aggregate)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (
                F.sum("n_chars") / F.count(F.lit(1)).cast("double")
            ).alias("avg_chars"),
        )
    )


def o_lang_profile() -> str:
    return (
        "SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
        "SUM(n_chars) / CAST(COUNT(*) AS DOUBLE) AS avg_chars "
        "FROM documents GROUP BY lang"
    )


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalisation fingerprint: md5 of lowercased whitespace-collapsed
    text (rolling-hash analogue, cross-engine exact)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.col("text")), " +", " ")).alias(
            "fingerprint"
        ),
    )


def o_doc_fingerprint() -> str:
    return (
        "SELECT doc_id, md5(regexp_replace(lower(text), ' +', ' ', 'g')) "
        "AS fingerprint FROM documents"
    )


def q_tf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index relevance: per-doc top-5 TF-IDF terms.

    r6 plan: tf is a partial-aggregated groupBy(doc, token); df comes
    from its own lightweight subtree — explode(array_distinct(tokens))
    into a partial-aggregated groupBy(token) count (identical to
    counting tf rows per token: tf holds one row per distinct
    (doc, token)) — and joins back onto tf unhinted, so AQE sees the
    tiny aggregated side at runtime and broadcasts it (no hint = no
    wrong forced strategy when the vocabulary is huge); ranking is one
    window per doc. Two shapes this replaces, both measured: the r5
    twin computed the whole scan+explode+tf subtree a SECOND time under
    the df aggregate (runtime exchange reuse never fired across the
    broadcast boundary; 3.6 s at sf1.0), and the intermediate r6 shape
    rode df on tf as count(*) over a token-partitioned window — but a
    word-salad corpus (driver fixture: ~31 distinct tokens at EVERY sf)
    funnels the whole tf table through a handful of hot token
    partitions, i.e. the Zipfian hazard its own docstring warned about
    (2.8 s warm at the 10x fixture vs 1.8 s for this plan; the df
    subtree adds one cheap scan that runs concurrently). Materialising
    tf instead loses to the cache barrier at every sandbox size (3.86 s,
    consistent with the r5 jaccard A/B). The idf float is absorbed to
    float32 so both engines rank on identical keys (ties broken by
    token)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    toks = (
        _docs_par(spark, sf_dir).select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
        )
        .where(F.col("token") != "")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    ndf = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    df_tbl = (
        dedup.token_set(_docs_par(spark, sf_dir), "doc_id", "text")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(df_tbl, "token")
        .crossJoin(F.broadcast(ndf))
        .withColumn(
            "tfidf",
            F.expr(
                "CAST(CAST(tf AS DOUBLE) * LN((CAST(n_docs AS DOUBLE) + 1.0)"
                " / (CAST(df AS DOUBLE) + 1.0)) AS FLOAT)"
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("doc_id", F.col("rank").cast("int").alias("rank"),
                "token", "tf", "df", "tfidf")
    )


def o_tf_idf() -> str:
    return """
WITH toks AS (
  SELECT doc_id, token FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
  ) WHERE token <> ''
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
), df AS (
  SELECT token, COUNT(*) AS df FROM tf GROUP BY token
), scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(CAST(tf.tf AS DOUBLE) * LN((CAST(
             (SELECT COUNT(*) FROM documents) AS DOUBLE) + 1.0)
           / (CAST(df.df AS DOUBLE) + 1.0)) AS REAL) AS tfidf
  FROM tf JOIN df USING (token)
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS INTEGER) AS rank, token,
       CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df, tfidf
FROM ranked WHERE rank <= 5"""


# per-lang keep-rates out of 10^4 for the deterministic sampler
_STRATA = {"en": 1000, "de": 5000, "zh": 2500, "fr": 7500, "es": 10000}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based stratified sampling — the training-mix
    primitive (downsample dominant languages, keep the tail): a doc
    survives iff md5(doc_id)-derived uniform int falls under its
    language's keep-rate. Pure scan-stage filter: no shuffle, no RNG
    state, reproducible across cluster sizes and retries, and the rate
    table is a broadcast literal."""
    docs = _docs(spark, sf_dir)
    u = F.expr(
        "CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 10000"
    )
    rate_expr = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {p}" for lang, p in _STRATA.items()
    ) + " ELSE 0 END"
    return (
        docs.withColumn("u", u)
        .where(F.col("u") < F.expr(rate_expr))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
    )


def o_stratified_sample() -> str:
    rate = "CASE " + " ".join(
        f"WHEN lang = '{lang}' THEN {p}" for lang, p in _STRATA.items()
    ) + " ELSE 0 END"
    return f"""
SELECT lang, COUNT(*) AS n_kept, CAST(SUM(n_chars) AS BIGINT) AS chars_kept
FROM (
  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
            % 10000 AS u
  FROM documents
) WHERE u < {rate}
GROUP BY lang"""


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    3-gram with the (small) eval set — here the docs with doc_id % 97 == 0
    stand in for an eval benchmark.

    100 TB shape: the eval shingle set is tiny and BROADCASTS; the
    training side explodes shingles and left-semi joins map-side, so no
    shuffle of the corpus ever happens; per-doc hit counts partial-agg.

    r6: the eval-side doc filter applies BEFORE shingling — filtering
    the post-explode frame combined the predicates as
    (size(split(text)) >= 3) AND (doc_id % 97 = 0), i.e. the generated
    code split EVERY doc's text before the cheap key test; pre-filtering
    the doc frame puts doc_id % 97 first in the conjunct order, so the
    eval side splits only 1/97 of the corpus. Identical rows — the key
    filter trivially commutes with shingling."""
    docs = _docs_par(spark, sf_dir)
    ev = (
        dedup.shingle_set(docs.where(F.col("doc_id") % 97 == 0), "doc_id", "text")
        .select("sh")
        .distinct()
    )
    return (
        dedup.shingle_set(docs.where(F.col("doc_id") % 97 != 0), "doc_id", "text")
        .join(F.broadcast(ev), "sh", "left_semi")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def o_contamination_check() -> str:
    return f"""{_SHINGLES_CTE}, ev AS (
  SELECT DISTINCT sh FROM shingles WHERE doc_id % 97 = 0
)
SELECT doc_id, COUNT(*) AS n_shared_ngrams
FROM shingles
WHERE doc_id % 97 <> 0 AND sh IN (SELECT sh FROM ev)
GROUP BY doc_id"""


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup, oracle-checked: the documents table read as
    an availableNow file stream, deduplicated on md5(text) with streaming
    state, drained to a memory sink. The kept doc_ids depend on arrival
    order, but the kept HASH SET is exactly the distinct texts — an
    order-independent, engine-checkable contract for the streaming path
    (SURVEY §2.8). Watermark-free dropDuplicates is correct for a
    bounded drain; the documents table has no event-time column for a
    watermark to bound the state with."""
    import shutil
    import tempfile
    import uuid

    sink = f"stream_dedup_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string, "
            "n_chars bigint"
        )
        # the streaming file source needs a DIRECTORY; select the one
        # table out of the shared sf_dir with a glob filter
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .withColumn("text_hash", F.md5(F.col("text")))
        .dropDuplicates(["text_hash"])
        .select("text_hash")
    )
    ckpt = tempfile.mkdtemp(prefix="sd_ckpt_")
    try:
        q = (
            stream.writeStream.format("memory")
            .queryName(sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        # the availableNow drain is complete after awaitTermination and
        # the memory sink holds the result; repeated gate/bench runs must
        # not accumulate sd_ckpt_* dirs in /tmp
        shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(sink)


def o_stream_dedup() -> str:
    return "SELECT DISTINCT md5(text) AS text_hash FROM documents"


def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter (LLM-pipeline
    quality family): per doc, the fraction of word-3-grams that repeat
    an earlier occurrence — (total - distinct) / total. High-ratio docs
    are the boilerplate/templated spam large-corpus quality rules drop.
    r6: both counts collapse to MAP-SIDE array expressions — n_grams is
    the size of the per-doc gram array, n_distinct the size of its
    array_distinct — identical values to the old explode -> two-level
    groupBy plan (sum of per-gram counts = total grams; count of groups
    = distinct grams) with ZERO Exchanges and no row explosion; exact
    integer counts, one double division with identical operands on both
    engines."""
    return (
        _docs_par(spark, sf_dir)
        .withColumn("l", F.split(F.col("text"), " "))
        .where(F.size("l") >= 3)
        .withColumn("ga", F.expr(dedup.SHINGLES_SQL))
        .select(
            "doc_id",
            F.size("ga").cast("long").alias("n_grams"),
            F.size(F.array_distinct("ga")).cast("long").alias("n_distinct"),
        )
        .withColumn(
            "dup_ratio",
            (F.col("n_grams") - F.col("n_distinct")).cast("double")
            / F.col("n_grams").cast("double"),
        )
        .select("doc_id", "n_grams", "n_distinct", "dup_ratio")
    )


def o_repetition_ratio() -> str:
    return """
WITH grams AS (
  SELECT doc_id, l[p] || ' ' || l[p+1] || ' ' || l[p+2] AS g
  FROM (
    SELECT doc_id, l, generate_subscripts(l, 1) AS p
    FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents)
  ) WHERE p <= len(l) - 2
), per AS (
  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_grams,
       COUNT(*) AS n_distinct,
       CAST(CAST(SUM(c) AS BIGINT) - COUNT(*) AS DOUBLE)
         / CAST(CAST(SUM(c) AS BIGINT) AS DOUBLE) AS dup_ratio
FROM per GROUP BY doc_id"""


def q_host_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host corpus stats over the crawl-shaped pages (web-scale
    curation family): host parsed from the url, page count + distinct
    languages per host — the group-by behind per-domain quotas and
    blocklists in training-data pipelines. Map-side regexp + one
    partial-agg groupBy; at 100 TB this is a single shuffle on host."""
    from .queries_geo import derived_pages

    p = derived_pages(spark, sf_dir)
    return (
        p.withColumn(
            "host", F.regexp_extract("url", "https://([^/]+)/", 1)
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
        )
    )


def o_host_stats() -> str:
    from orthority_spark.sources.pages import derived_pages_sql

    spec = derived_pages_sql("o_orderkey", "duckdb")
    return f"""
WITH pages AS (
  SELECT {spec['url']} AS url, {spec['lang']} AS lang FROM orders
)
SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
       COUNT(*) AS n_pages, COUNT(DISTINCT lang) AS n_langs
FROM pages GROUP BY host"""


QUERIES = {
    "dedup_exact": (q_dedup_exact, o_dedup_exact),
    "minhash_signatures": (q_minhash_signatures, o_minhash_signatures),
    "lsh_candidates": (q_lsh_candidates, o_lsh_candidates),
    "jaccard_neardups_lsh": (q_jaccard_neardups_lsh, o_jaccard_neardups_lsh),
    "corpus_clean": (q_corpus_clean, o_corpus_clean),
    "simhash": (q_simhash, o_simhash),
    "text_stats": (q_text_stats, o_text_stats),
    "quality_score": (q_quality_score, o_quality_score),
    "token_count_bpe": (q_token_count_bpe, o_token_count_bpe),
    "lang_profile": (q_lang_profile, o_lang_profile),
    "doc_fingerprint": (q_doc_fingerprint, o_doc_fingerprint),
    "tf_idf": (q_tf_idf, o_tf_idf),
    "stratified_sample": (q_stratified_sample, o_stratified_sample),
    "contamination_check": (q_contamination_check, o_contamination_check),
    "stream_dedup": (q_stream_dedup, o_stream_dedup),
    "repetition_ratio": (q_repetition_ratio, o_repetition_ratio),
    "host_stats": (q_host_stats, o_host_stats),
}
