"""Structured Streaming wrappers around the extraction pipeline.

The reference is batch-per-document; the streaming lift is exactly the
``foreachBatch``-free form: readStream over a pages directory -> the same
mapInArrow extraction -> writeStream sink, plus a watermarked windowed
metrics stream for late data. Used with Trigger.AvailableNow for
backfill-style runs and with default micro-batches for continuous ingest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .job import run_extraction
from .sources import host_of_url, warc_pages

PAGES_DDL = ("url string, warc_ts timestamp, html binary, "
             "text string, lang string")


def read_pages_stream(spark: SparkSession, source_dir: str,
                      max_files_per_trigger: int = 8) -> DataFrame:
    return (spark.readStream.schema(PAGES_DDL)
            .option("maxFilesPerTrigger", str(max_files_per_trigger))
            .parquet(source_dir))


def read_pages_warc_stream(spark: SparkSession, source_dir: str,
                           max_files_per_trigger: int = 8) -> DataFrame:
    """Streaming raw-crawl ingest: watch a directory for new WARC
    segment files (the shape of a live crawler dropping segments) and
    emit pages rows as they land. Same explode as the batch reader
    (sources.warc_pages); the file is the streaming unit, so
    exactly-once comes free from the file source's checkpointed log.
    Chains into extract_stream / dedup_stream unchanged — the WARC
    frontier needs no staging ETL even in continuous ingest."""
    return warc_pages(spark.readStream.format("binaryFile")
                      .schema("path string, modificationTime timestamp, "
                              "length long, content binary")
                      .option("maxFilesPerTrigger",
                              str(max_files_per_trigger))
                      .option("pathGlobFilter", "*.warc*")
                      .load(source_dir))


def extract_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming extraction: the batch path's ``run_extraction`` — same
    kernel, output schema and Arrow serde — without its salted exchange
    (a stateless map), so micro-batch latency is the batch's own
    compute."""
    return run_extraction(pages_stream.sparkSession, pages_stream,
                          num_partitions=0)


def run_extract_stream(spark: SparkSession, source_dir: str, out_dir: str,
                       checkpoint_dir: str, available_now: bool = True):
    """Launch the extraction stream to a parquet sink; returns the query."""
    stream = extract_stream(read_pages_stream(spark, source_dir))
    writer = (stream.writeStream
              .format("parquet")
              .option("path", out_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def host_totals_stream(pages_stream: DataFrame) -> DataFrame:
    """Per-host running document and byte totals: a built-in streaming
    aggregation — in update mode each micro-batch re-emits the running
    row of every host it touched, with the state kept in the JVM."""
    hosts = pages_stream.select(
        host_of_url("url").alias("host"),
        F.length("html").alias("html_len"))
    return (hosts.groupBy("host")
            .agg(F.count("*").alias("docs"),
                 F.sum("html_len").alias("bytes")))


DEDUP_STATE_SCHEMA = "n_seen long, first_url string"
DEDUP_OUT_SCHEMA = ("content_md5 string, url string, first_seen boolean, "
                    "n_seen long")


def _make_dedup_update(state_ttl_ms: int | None):
    """Build the applyInPandasWithState update fn for dedup_stream.

    The state is keyed by content hash and carries (count, first-seen
    url) so duplicates are dropped ACROSS micro-batches — a page crawled
    again hours later is still a dup. One row per touched key per batch:
    the kept url plus the running copy count (first_seen marks the batch
    that introduced the key). With ``state_ttl_ms`` set, a key idle past
    the TTL is EVICTED on a later batch's timeout sweep (yielding no
    tombstone); a copy arriving after eviction re-registers as
    first_seen — bounded state in exchange for missing dups spaced wider
    than the TTL."""
    def _dedup_update(key, pdfs, state):
        import pandas as pd
        if state.hasTimedOut:
            # idle past the TTL: drop the state row, emit nothing
            state.remove()
            return
        seen, first_url = state.get if state.exists else (0, None)
        batch_n = 0
        for pdf in pdfs:
            for url in pdf["url"]:
                if seen + batch_n == 0:
                    first_url = url
                batch_n += 1
        state.update((seen + batch_n, first_url))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        if batch_n > 0:
            yield pd.DataFrame({"content_md5": [key[0]], "url": [first_url],
                                "first_seen": [seen == 0],
                                "n_seen": [seen + batch_n]})
    return _dedup_update


def dedup_stream(pages_stream: DataFrame,
                 state_ttl_ms: int | None = None) -> DataFrame:
    """Streaming exact dedup at ingest: group by html md5, keep state per
    content hash so duplicates are dropped ACROSS micro-batches, emit the
    first-seen url per hash (update mode re-emits a key's row when its
    duplicate count grows). The dataset-scale twin of dedup_exact.

    State growth: without a TTL the store grows with every unique
    content hash forever — fine for bounded backfills, wrong for
    continuous 100 TB ingest. Pass ``state_ttl_ms`` (processing-time
    timeout) to evict hashes idle past the TTL: re-crawled dups inside
    the TTL are still caught, state size is bounded by the TTL-window
    unique-hash arrival rate, and the production config pairs this with
    the RocksDB state store (spark.sql.streaming.stateStore.providerClass)
    so even that window spills off-heap. Use the TTL with a
    processing-time trigger only: under Trigger.AvailableNow a
    processing-time timeout keeps the query scheduling no-data batches
    to fire timers and it never terminates (observed on Spark 4.1) —
    backfills should keep the NoTimeout default."""
    from pyspark.sql.streaming.state import GroupStateTimeout
    hashed = pages_stream.select(
        F.md5(F.col("html")).alias("content_md5"), F.col("url"))
    timeout = (GroupStateTimeout.ProcessingTimeTimeout
               if state_ttl_ms is not None else GroupStateTimeout.NoTimeout)
    return (hashed.groupBy("content_md5")
            .applyInPandasWithState(
                _make_dedup_update(state_ttl_ms),
                outputStructType=DEDUP_OUT_SCHEMA,
                stateStructType=DEDUP_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=timeout))


def dedup_stream_watermarked(pages_stream: DataFrame,
                             watermark: str = "2 hours") -> DataFrame:
    """Event-time-bounded streaming dedup via the BUILT-IN
    ``dropDuplicatesWithinWatermark``: keeps the first row per content
    hash among rows whose event times fall within the watermark delay of
    each other, and Spark itself evicts state once the watermark passes —
    the all-JVM, no-Python-state alternative to ``dedup_stream``. Use
    this when "duplicate" means re-crawled within the event-time window
    (the common ingest contract); use ``dedup_stream`` when you need the
    copy COUNT, the kept-url bookkeeping, or processing-time TTL
    semantics. Append output mode, so it composes with plain file
    sinks."""
    hashed = (pages_stream
              .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
              .withWatermark("warc_ts", watermark)
              .select(F.md5(F.col("html")).alias("content_md5"),
                      "url", "warc_ts"))
    return hashed.dropDuplicatesWithinWatermark(["content_md5"])


def windowed_metrics_stream(spark: SparkSession, source_dir: str,
                            window: str = "1 hour",
                            watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling-window ingest metrics over page timestamps —
    late rows beyond the watermark are dropped, state is bounded."""
    pages = read_pages_stream(spark, source_dir)
    return (pages
            .withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window), F.col("lang"))
            .agg(F.count("*").alias("docs"),
                 F.sum(F.length("html")).alias("bytes"))
            .select(F.col("window.start").alias("window_start"),
                    "lang", "docs", "bytes"))
