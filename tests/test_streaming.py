"""Structured Streaming: availableNow drain over a pages directory must
reproduce the batch tile counts exactly; checkpointed restart is a no-op."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from orthority_spark.functions.geotag import with_geotag
from orthority_spark.operators.tile_join import assign_cells
from orthority_spark.sources.pages import synthetic_pages
from orthority_spark.streaming.pages_stream import (
    stream_pages_dir,
    tile_counts_stream,
    run_available_now,
)

N = 5000


@pytest.fixture(scope="module")
def pages_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pages_stream") / "pages")
    synthetic_pages(spark, N, num_partitions=8).write.parquet(d)
    return d


def test_stream_matches_batch(spark, pages_dir, tmp_path):
    stream = tile_counts_stream(stream_pages_dir(spark, pages_dir))
    run_available_now(stream, str(tmp_path / "ckpt"), query_name="t1")
    got = {
        (r.start, r.end, r.cell): r.n_pages
        for r in spark.sql("SELECT * FROM t1").collect()
    }

    batch = (
        assign_cells(with_geotag(spark.read.parquet(pages_dir), token="float"))
        .groupBy(F.window("warc_ts", "1 hour").alias("win"), F.col("cell"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .select("win.start", "win.end", "cell", "n_pages")
    )
    exp = {(r.start, r.end, r.cell): r.n_pages for r in batch.collect()}
    assert got == exp
    assert sum(got.values()) == N


def test_checkpointed_restart_is_noop(spark, pages_dir, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    stream = tile_counts_stream(stream_pages_dir(spark, pages_dir))
    q1 = run_available_now(stream, ckpt, query_name="t2")
    n1 = spark.sql("SELECT SUM(n_pages) s FROM t2").collect()[0].s
    # restart from the same checkpoint: no new files -> no new input rows
    stream2 = tile_counts_stream(stream_pages_dir(spark, pages_dir))
    q2 = run_available_now(stream2, ckpt, query_name="t3")
    progress = q2.lastProgress
    assert n1 == N
    assert progress is None or progress["numInputRows"] == 0


def test_stateful_eviction_processing_time(spark, tmp_path):
    """evict_state=True must REMOVE idle state on ProcessingTimeTimeout:
    after the timeout fires, a later event for the same user restarts
    session numbering at 1 (retained state would continue at 2), and the
    eviction invocation itself emits no rows."""
    import datetime as dt
    import time

    from orthority_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "src"
    src.mkdir()
    stage = tmp_path / "stage"

    def add_file(rows, name):
        d = stage / name
        spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_id long"
        ).coalesce(1).write.parquet(str(d))
        part = next(d.glob("part-*.parquet"))
        part.rename(src / f"{name}.parquet")

    t0 = dt.datetime(2026, 1, 1, 0, 0, 0)
    add_file([(1, t0, 100)], "b1")

    stream = spark.readStream.schema(
        "user_id long, ts timestamp, event_id long"
    ).parquet(str(src))
    q = (
        sessionize_stream(stream, evict_state=True, timeout_ms=1500)
        .writeStream.format("memory")
        .queryName("evict_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        def rows():
            return spark.sql(
                "SELECT * FROM evict_t ORDER BY event_id"
            ).collect()

        deadline = time.time() + 60
        while len(rows()) < 1 and time.time() < deadline:
            time.sleep(0.3)
        assert [(r.event_id, r.session_id) for r in rows()] == [(100, 1)]

        # idle past the 1.5 s timeout: no-data micro-batches fire the
        # eviction invocation (state removed, nothing emitted)
        time.sleep(5.0)
        assert len(rows()) == 1

        # event-time gap > 1800 s: retained state would number this
        # session 2; evicted state restarts at 1
        add_file([(1, t0 + dt.timedelta(hours=2), 101)], "b2")
        while len(rows()) < 2 and time.time() < deadline:
            time.sleep(0.3)
        got = [(r.event_id, r.session_id) for r in rows()]
        assert got == [(100, 1), (101, 1)], got
    finally:
        q.stop()


def test_stream_dedup_exact_first_arrival(spark, tmp_path):
    """Streaming dedup keeps one row per distinct text (the first
    arrival), matching batch dedup_exact group counts."""
    import datetime as dt

    from orthority_spark.streaming.pages_stream import dedup_stream

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    for k in range(30):
        text = f"doc body {k % 10}"  # 10 distinct texts, 3 copies each
        rows.append(
            (f"u{k}", t0 + dt.timedelta(minutes=k), bytearray(b""), text, "en")
        )
    src = tmp_path / "docs"
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(2).write.parquet(str(src))

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(str(src))
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT text, COUNT(*) AS n FROM dedup_s GROUP BY text").collect()
    assert len(got) == 10
    assert all(r.n == 1 for r in got)


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """The tile-count watermark persists in the checkpoint: a restart fed
    data older than the advanced watermark drops it deterministically."""
    import datetime as dt

    from orthority_spark.streaming.pages_stream import (
        run_available_now,
        stream_pages_dir,
        tile_counts_stream,
    )

    def mk_rows(ts, n, tag):
        # all rows carry a geotag INSIDE the fixture block so they count
        return [
            (f"{tag}{k}", ts, bytearray(b""),
             "page geo:-33.700100,24.199900 body", "en")
            for k in range(n)
        ]

    src = tmp_path / "pages"
    src.mkdir()
    stage = tmp_path / "stage"
    schema = (
        "url string, warc_ts timestamp, html binary, text string, lang string"
    )

    def add_file(rows, name):
        d = stage / name
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(d))
        next(d.glob("part-*.parquet")).rename(src / f"{name}.parquet")

    def drain(sink: list):
        # UPDATE mode through foreachBatch: watermark semantics apply
        # (complete mode retains all state and aggregates late rows; a
        # memory sink cannot recover from a checkpoint)
        q = (
            tile_counts_stream(stream_pages_dir(spark, str(src)))
            .writeStream.foreachBatch(
                lambda df, _id: sink.extend(df.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    t_new = dt.datetime(2026, 1, 2, 12, 0, 0)
    t_late = t_new - dt.timedelta(hours=6)  # far older than the 2 h watermark
    add_file(mk_rows(t_new, 5, "a"), "b1")
    got1: list = []
    drain(got1)
    assert {(r.start, r.n_pages) for r in got1} == {(t_new, 5)}

    # restart from the same checkpoint with ONLY late data arriving: the
    # persisted watermark (t_new - 2 h) drops every row, no late window
    add_file(mk_rows(t_late, 7, "b"), "b2")
    got2: list = []
    drain(got2)
    assert all(r.start != t_late for r in got2)
    assert sum(r.n_pages for r in got2 if r.start == t_late) == 0


def test_stream_lsh_bucket_registry_matches_batch(spark, tmp_path):
    """Streaming LSH banding: the emitted registry holds exactly ONE
    owner per (band, band_sig), its bucket key set equals the batch
    banding of the same corpus, and every owner is a true member of its
    bucket (arrival order decides WHICH member, so the test is
    order-free)."""
    import datetime as dt

    from orthority_spark.streaming.pages_stream import (
        lsh_bucket_stream,
        minhash_bands_cols,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = []
    base = "the quick brown fox jumps over the lazy dog near the old stone bridge"
    for k in range(24):
        # 8 near-identical variants (one token appended) x 3 copies
        text = base + f" variant token {k % 8}"
        rows.append(
            (f"u{k}", t0 + dt.timedelta(minutes=k), bytearray(b""), text, "en")
        )
    src = tmp_path / "docs"
    spark.createDataFrame(
        rows,
        "url string, warc_ts timestamp, html binary, text string, lang string",
    ).coalesce(3).write.parquet(str(src))

    stream = spark.readStream.schema(
        "url string, warc_ts timestamp, html binary, text string, lang string"
    ).parquet(str(src))
    q = (
        lsh_bucket_stream(stream)
        .writeStream.format("memory")
        .queryName("lsh_s")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_lsh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.sql("SELECT url, band, band_sig FROM lsh_s").collect()

    batch = minhash_bands_cols(spark.read.parquet(str(src))).collect()
    members = {}
    for r in batch:
        members.setdefault((r.band, r.band_sig), set()).add(r.url)

    owners = {}
    for r in got:
        key = (r.band, r.band_sig)
        assert key not in owners, f"bucket {key} emitted twice"
        owners[key] = r.url
    assert set(owners) == set(members)
    for key, url in owners.items():
        assert url in members[key], (key, url)
    # the variants collide on shared-shingle bands: registry is smaller
    # than the exploded band rows (real dedup pressure, not all-unique)
    assert len(owners) < len(batch)


def test_minhash_bands_cols_matches_batch_banding(spark):
    """The per-ROW stateless banding (streaming path) and the batch
    explode->partial-agg banding (operators/dedup.lsh_bands) are different
    plans over different code paths — their (doc, band, band_sig) sets
    must be identical on the real documents table."""
    from orthority_spark.operators.dedup import lsh_bands, minhash_wide, shingle_set
    from orthority_spark.streaming.pages_stream import minhash_bands_cols

    sf = "/root/testdata/sf0.01"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    got = {
        (r.doc_id, r.band, r.band_sig)
        for r in minhash_bands_cols(docs, id_col="doc_id", ts_col=None).collect()
    }
    exp = {
        (r.id, r.band, r.band_sig)
        for r in lsh_bands(minhash_wide(shingle_set(docs, "doc_id", "text"))).collect()
    }
    assert got == exp and len(got) > 0
