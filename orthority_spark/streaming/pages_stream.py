"""Streaming pages ingestion (new surface — the reference is pure batch,
SURVEY §2.8).

Two entry points:

- :func:`stream_pages_dir` — file-source stream over a pages parquet
  directory (``Trigger.AvailableNow`` for resumable incremental batch:
  each trigger processes newly arrived files, checkpointed, which is the
  Structured-Streaming expression of the ledger/resume requirement).
- :func:`tile_counts_stream` — watermarked sliding-window aggregation of
  page arrivals per tile over ``warc_ts`` event time: late pages beyond
  the watermark are dropped deterministically.

The transformation chain reuses the EXACT batch operators (geotag ->
cell assign) — one definition, two execution modes, which is the point of
expressing the engine as DataFrame transformations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.geotag import with_geotag
from ..operators.dedup import N_PERMS, P31, PERMS, SHINGLES_SQL, _h31
from ..operators.tile_join import assign_cells

PAGES_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def stream_pages_dir(spark: SparkSession, pages_dir: str) -> DataFrame:
    """readStream over a pages parquet directory (schema fixed up front —
    streaming sources cannot infer)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(pages_dir)
    )


def tile_counts_stream(pages_stream: DataFrame, window: str = "1 hour",
                       watermark: str = "2 hours") -> DataFrame:
    """Watermarked per-tile, per-event-time-window page counts."""
    pc = assign_cells(with_geotag(pages_stream, token="float"))
    return (
        pc.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("win"), F.col("cell"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select("win.start", "win.end", "cell", "n_pages")
    )


def dedup_stream(
    docs_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: keep the FIRST arrival of each distinct
    text within the watermark horizon (dropDuplicatesWithinWatermark on
    md5(text) — the streaming twin of operators/dedup.dedup_exact).

    State is bounded by the watermark: a hash older than the horizon is
    evicted, so the store does not grow with corpus size — the trade is
    that a duplicate arriving later than the watermark is re-emitted
    (same contract as any watermarked streaming dedup at 100 TB)."""
    return (
        docs_stream.withColumn("text_hash", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def minhash_bands_cols(
    df: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    ts_col: str | None = "warc_ts",
) -> DataFrame:
    """Per-ROW MinHash banding (same arithmetic as the batch
    operators/dedup.lsh_bands: distinct word-3-gram shingles -> 31-bit
    md5-prefix hash -> min over (a*h+b) % P31 per permutation -> bands
    of 2 packed as sig0*P31 + sig1).

    The batch path explodes shingles into a partial-aggregated groupBy
    (right for huge docs at rest); here each document's shingle set is
    self-contained in its row, so the whole signature computes as
    generated columns in the scan stage — STATELESS, which is what makes
    the streaming twin possible with a single stateful operator
    downstream. Docs under 3 tokens have no shingles and are dropped
    (batch contract)."""
    sigs = [
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {P31})) AS s{p}"
        for p, a, b in PERMS
    ]
    bands = ", ".join(
        f"named_struct('band', {k}, 'band_sig', s{2 * k} * CAST({P31} AS BIGINT) + s{2 * k + 1})"
        for k in range(N_PERMS // 2)
    )
    return (
        df.withColumn("l", F.split(F.col(text_col), " "))
        .where(F.size("l") >= 3)
        .withColumn("shs", F.array_distinct(F.expr(SHINGLES_SQL)))
        .withColumn("hs", F.expr(f"transform(shs, s -> {_h31('s')})"))
        .selectExpr(id_col, *([ts_col] if ts_col else []), *sigs)
        .selectExpr(
            id_col, *([ts_col] if ts_col else []),
            f"explode(array({bands})) AS bs",
        )
        .select(
            id_col, *([ts_col] if ts_col else []), "bs.band", "bs.band_sig"
        )
    )


def lsh_bucket_stream(
    docs_stream: DataFrame,
    id_col: str = "url",
    text_col: str = "text",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming LSH band-bucket REGISTRY: first arrival owns each
    (band, band_sig) bucket within the watermark horizon — the streaming
    twin of the batch LSH banding (operators/dedup.lsh_bands): a later document
    hitting an owned bucket is a near-dup candidate against the owner.

    State holds one row per bucket bounded by the watermark (exactly the
    dedup_stream contract, keyed by bucket instead of text hash); the
    owner stream is what a continuous ingest pipeline joins new arrivals
    against."""
    return (
        minhash_bands_cols(docs_stream, id_col=id_col, text_col=text_col)
        .withWatermark("warc_ts", watermark)
        .dropDuplicatesWithinWatermark(["band", "band_sig"])
    )


def run_available_now(
    stream_df: DataFrame, checkpoint_dir: str, query_name: str = "tiles"
):
    """Drain all available input into a memory sink (complete mode) and
    block until done — the incremental-batch execution used in tests."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
