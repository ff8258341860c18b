"""Structured Streaming facade over the pages pipeline.

The reference is restart-able batch, not streaming (SURVEY §2.9); these are
the engine-native incremental equivalents:

- incremental ingest: file-source stream over a pages directory,
- watermarked URL dedup (late-duplicate suppression within the watermark),
- tumbling-window crawl-rate aggregation on warc_ts,
- incremental tile rollup: per-(window, tile) page counts in update mode.

All built-ins (no custom stateful operator needed yet); tested with
availableNow triggers + memory sinks in tests/test_streaming.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..session import cache_scope, cached
from ..sql import dialect as D


def read_pages_stream(spark: SparkSession, src_dir: str,
                      max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source stream of pages parquet (schema must exist at start)."""
    static = spark.read.parquet(src_dir)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(src_dir)


def dedup_urls(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Drop duplicate urls arriving within the watermark window — bounded
    state (url keys expire past the watermark)."""
    return (stream.withWatermark("warc_ts", watermark)
                  .dropDuplicatesWithinWatermark(["url"]))


def crawl_rate(stream: DataFrame, window: str = "10 minutes",
               watermark: str = "1 hour") -> DataFrame:
    """Tumbling-window pages/lang counts (late rows within watermark fold
    into their window; later ones are dropped)."""
    return (stream.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "lang")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("w.start").alias("window_start"), "lang", "n_pages"))


def write_tile_counts_exactly_once(stream_counts: DataFrame, out_dir: str,
                                   checkpoint_dir: str):
    """foreachBatch sink with exactly-once REPLAY semantics: each
    micro-batch is written to a batch-id-named subdirectory with overwrite,
    so replays of a failed batch (Structured Streaming re-runs the last
    uncommitted batch after restart) rewrite the same path instead of
    duplicating — the streaming form of the pipeline stages' idempotent-
    unit rule (plans/manifest.run_stage).

    Reader contract: update mode RE-EMITS a (key) row in every batch that
    changes it, so a naive union over out_dir/batch_id=*/ double-counts
    keys. Read through read_exactly_once_output(), which compacts to the
    latest batch per key — or equivalently, maintain a compacted view
    downstream (MERGE INTO keyed on the group columns at Iceberg scale)."""

    def write_batch(df: DataFrame, batch_id: int) -> None:
        (df.withColumn("batch_id", F.lit(batch_id))
           .write.mode("overwrite")
           .parquet(f"{out_dir}/batch_id={batch_id}"))

    return (stream_counts.writeStream
            .foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint_dir))


def read_exactly_once_output(spark: SparkSession, out_dir: str,
                             key_cols: list[str]) -> DataFrame:
    """Compacted read of write_tile_counts_exactly_once output: the latest
    batch_id per key wins (update-mode re-emissions superseded). One window
    over the key — the partition column prunes if a batch filter is added."""
    from pyspark.sql import Window

    df = spark.read.parquet(out_dir)
    w = Window.partitionBy(*key_cols).orderBy(F.col("batch_id").desc())
    return (df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def write_stream_into_layout(stream: DataFrame, path: str, table: str,
                             checkpoint_dir: str, n_buckets: int = 8,
                             key: str = "block"):
    """foreachBatch sink that maintains the BUCKETED LAYOUT incrementally:
    each micro-batch is an ensure_bucketed_ingest append with the batch id
    as the ingest id. Structured Streaming replays the last uncommitted
    batch after a crash; the marker protocol turns the replay into a no-op
    (recorded ingest) or a clean redo (torn append removed first), so the
    layout stays exactly-once END TO END — and every appended batch keeps
    the bucket spec, so downstream block-keyed joins stay Exchange-free as
    the table grows (tests/test_streaming_layout.py).

    This is the streaming counterpart of the once-per-corpus layout job:
    at 100 TB the crawl arrives continuously, and re-running the full
    layout per day is not an option — this sink is the Iceberg
    `append()`-per-commit shape on the same bucket(N, key) table.

    The base layout must exist (ensure_bucketed, e.g. over the static
    seed corpus or an empty limit(0) slice of the stream schema): an
    ingest extends a layout, it never bootstraps one — bootstrap inside
    a replayed batch could double-apply the first batch.

    foreachBatch hands each batch a CLONED session; the ingest's
    refreshTable invalidates only that clone's relation cache, so the
    originating session would keep serving its pre-stream file listing
    (observed: table reads 0 rows while the disk holds every batch).
    The sink therefore also refreshes the source session after each
    ingest — metadata-only, O(files). Sessions other than the stream's
    own must refreshTable (or open a fresh session) before reading, the
    standard external-writer rule for catalog parquet tables.
    """
    from ..sources import bucketed as B

    origin = stream.sparkSession

    def write_batch(df: DataFrame, batch_id: int) -> None:
        B.ensure_bucketed_ingest(
            df.sparkSession, path, table, build=lambda: df,
            ingest_id=f"stream-batch-{batch_id}",
            n_buckets=n_buckets, key=key)
        origin.catalog.refreshTable(table)

    return (stream.writeStream
            .foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir))


def write_stream_dedup(stream: DataFrame, workdir: str, table: str,
                       checkpoint_dir: str, n_buckets: int = 8,
                       id_col: str = "doc_id"):
    """foreachBatch sink: STREAMING near-dup detection against all
    history with exactly-once state growth — the continuous form of the
    incremental snapshot dedup (operators/dedup.py). Per micro-batch:

      1. probe — incremental_lsh_pairs(batch signatures, current
         signature state table), written to workdir/pairs/batch_id=N
         with overwrite (replays rewrite the same path);
      2. grow state — ingest the batch's signatures under the batch id
         (ensure_bucketed_ingest: replayed ids no-op, torn appends
         swept).

    The cumulative union of pairs/batch_id=*/ equals
    lsh_candidate_pairs over everything streamed so far: every pair is
    introduced by exactly one batch — its later endpoint's (or its own,
    within-batch) — and corpus-vs-corpus pairs were emitted when their
    later doc arrived.

    Crash anywhere in 1-2-commit is safe BY CONSTRUCTION: a replayed
    batch may re-probe a table that already holds its own signatures,
    and incremental_lsh_pairs drops self-pairs and counts DISTINCT
    bands, so the rewritten pairs dir holds the identical ROW SET
    either way (the overlap-safety pytest in
    tests/test_incremental_dedup.py; file bytes/row order are not
    pinned — don't checksum the dir, compare rows). The
    signature state table must exist (dedup.ensure_signature_layout,
    e.g. over an empty limit(0) slice — same bootstrap contract as
    write_stream_into_layout), and the same cloned-session refresh rule
    applies."""
    from ..operators import dedup as DD
    from ..sources import bucketed as B

    origin = stream.sparkSession
    sig_path = f"{workdir}/sigs"

    def write_batch(df: DataFrame, batch_id: int) -> None:
        sess = df.sparkSession
        with cache_scope():
            sigs = cached(DD.band_signatures(df, id_col))
            sess.catalog.refreshTable(table)
            pairs = DD.incremental_lsh_pairs(sigs, sess.table(table),
                                             id_col)
            (pairs.withColumn("batch_id", F.lit(batch_id))
             .write.mode("overwrite")
             .parquet(f"{workdir}/pairs/batch_id={batch_id}"))
            B.ensure_bucketed_ingest(
                sess, sig_path, table, build=lambda: sigs,
                ingest_id=f"stream-batch-{batch_id}",
                n_buckets=n_buckets, key="band_sig")
            origin.catalog.refreshTable(table)

    return (stream.writeStream
            .foreachBatch(write_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir))


def incremental_tile_counts(stream: DataFrame, window: str = "10 minutes",
                            watermark: str = "1 hour") -> DataFrame:
    """Streaming version of the mosaic-tile rollup: geocode + quadkey tile
    (stateless projections), then windowed per-tile counts (stateful)."""
    geo = (stream
           .withColumn("lat", F.expr(D.lat_expr(D.SPARK)))
           .withColumn("lon", F.expr(D.lon_expr(D.SPARK)))
           .withColumn("tile_id", F.expr(D.quadkey_expr(D.SPARK))))
    return (geo.withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("w"), "tile_id")
            .agg(F.count(F.lit(1)).alias("n_pages"))
            .select(F.col("w.start").alias("window_start"), "tile_id", "n_pages"))
