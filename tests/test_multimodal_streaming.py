"""Multimodal plumbing + Structured Streaming extraction tests."""

import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("mm-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def test_media_synthesis_deterministic(spark):
    from nreadability_spark.spark.multimodal import synthesize_media
    a = synthesize_media(spark, SF_DIR)
    assert a.count() == 500
    kinds = {r["kind"] for r in a.select("kind").distinct().collect()}
    assert kinds == {"image", "audio", "video"}
    h1 = a.selectExpr("sum(hash(media_id, kind, md5(payload))) h") \
        .collect()[0]["h"]
    h2 = synthesize_media(spark, SF_DIR) \
        .selectExpr("sum(hash(media_id, kind, md5(payload))) h") \
        .collect()[0]["h"]
    assert h1 == h2


def test_feature_extraction(spark):
    from nreadability_spark.spark.multimodal import (extract_features,
                                                     synthesize_media)
    media = synthesize_media(spark, SF_DIR)
    feats = extract_features(media).cache()
    assert feats.count() == 500
    ok = feats.where("ok = 'ok'")
    assert ok.count() == 500
    row = ok.first()
    assert len(row["feature"]) == 16
    norm = sum(x * x for x in row["feature"])
    assert abs(norm - 1.0) < 1e-5
    feats.unpersist()


def test_feature_extraction_bad_payload(spark):
    from nreadability_spark.spark.multimodal import (FEATURES_SCHEMA,
                                                     extract_features)
    bad = spark.createDataFrame(
        [(1, bytearray(b"not-a-codec-payload-at-all"))],
        "media_id long, payload binary")
    out = extract_features(bad).collect()
    assert len(out) == 1
    assert out[0]["ok"].startswith("decode_error")
    assert out[0]["feature"] is None


def test_frame_sampling(spark):
    from nreadability_spark.spark.multimodal import (sample_frames,
                                                     synthesize_media)
    media = synthesize_media(spark, SF_DIR)
    frames = sample_frames(media).cache()
    n_videos = media.where("kind = 'video'").count()
    assert frames.select("media_id").distinct().count() == n_videos
    per = frames.groupBy("media_id").count().agg({"count": "min"}) \
        .collect()[0][0]
    assert per >= 1
    frames.unpersist()


def test_streaming_extraction(spark, tmp_path_factory):
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.streaming import run_extract_stream

    base = str(tmp_path_factory.mktemp("stream"))
    src, out, ckpt = (os.path.join(base, d)
                      for d in ("src", "out", "ckpt"))
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False)
    n = pages.count()
    pages.repartition(4).write.parquet(src)

    # streaming rides the same Arrow serde as the batch path
    from nreadability_spark.spark.streaming import (extract_stream,
                                                    read_pages_stream)
    sdf = extract_stream(read_pages_stream(spark, src))
    import contextlib, io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sdf.explain()
    assert "MapInArrow" in buf.getvalue()

    q = run_extract_stream(spark, src, out, ckpt, available_now=True)
    q.awaitTermination(300)

    result = spark.read.parquet(out)
    assert result.count() == n
    assert result.where("extracted = true").count() > 0

    # restart with no new data: checkpoint prevents reprocessing
    q2 = run_extract_stream(spark, src, out, ckpt, available_now=True)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n
    shutil.rmtree(base, ignore_errors=True)


def test_stateful_host_totals_stream(spark, tmp_path_factory):
    """The streaming running totals must converge to per-host totals
    computed independently of the operator after draining the source."""
    from urllib.parse import urlsplit

    from pyspark.sql import functions as F
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.streaming import (host_totals_stream,
                                                    read_pages_stream)

    base = str(tmp_path_factory.mktemp("sstream"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False).cache()
    pages.repartition(4).write.parquet(src)

    stream = host_totals_stream(read_pages_stream(spark, src,
                                                  max_files_per_trigger=2))
    # update-mode stateful output; parquet sink requires append, so emit
    # through foreachBatch (the standard pattern for update-mode sinks)
    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out)

    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", ckpt)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    # last emitted row per host == final running total == batch truth
    got = spark.read.parquet(out)
    final = {r["host"]: (r["docs"], r["bytes"])
             for r in got.groupBy("host")
             .agg(F.max("docs").alias("docs"), F.max("bytes").alias("bytes"))
             .collect()}
    truth: dict = {}
    for r in pages.select("url", F.length("html").alias("l")).collect():
        host = urlsplit(r["url"]).hostname
        docs, n_bytes = truth.get(host, (0, 0))
        truth[host] = (docs + 1, n_bytes + r["l"])
    assert final == truth
    pages.unpersist()
    shutil.rmtree(base, ignore_errors=True)


def test_host_totals_host_key(spark):
    """host_totals_stream keys a url by its lower-cased host, whatever
    its casing, path, userinfo or port."""
    from nreadability_spark.spark.streaming import host_totals_stream
    pages = spark.createDataFrame(
        [(u, b"<p>x</p>") for u in (
            "https://a.example", "HTTPS://A.example/x",
            "https://u@a.example:8080/y", "http://b.example/z")],
        "url string, html binary")
    got = {r["host"]: r["docs"]
           for r in host_totals_stream(pages).collect()}
    assert got == {"a.example": 3, "b.example": 1}


def test_streaming_dedup_across_microbatches(spark, tmp_path_factory):
    """dedup_stream must drop duplicates ACROSS micro-batches and across
    separate availableNow runs sharing a checkpoint: each content hash
    keeps one first-seen url, with n_seen counting every copy."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.streaming import (dedup_stream,
                                                    read_pages_stream)

    base = str(tmp_path_factory.mktemp("dstream"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False) \
        .limit(60).cache()
    pages.repartition(2).write.parquet(src)

    def sink(batch_df, _batch_id):
        batch_df.write.mode("append").parquet(out)

    def run():
        stream = dedup_stream(read_pages_stream(spark, src,
                                                max_files_per_trigger=1))
        q = (stream.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .outputMode("update").trigger(availableNow=True).start())
        q.awaitTermination(300)

    run()
    # second ingest wave: the SAME pages under new urls (pure duplicates)
    pages.select(F.concat(F.lit("https://mirror.example.net/"),
                          F.md5("url")).alias("url"),
                 "warc_ts", "html", "text", "lang") \
        .repartition(2).write.mode("append").parquet(src)
    run()

    got = spark.read.parquet(out)
    n_hashes = pages.select(F.md5("html")).distinct().count()
    # one state row per distinct content hash; last emission counts 2x
    last = got.groupBy("content_md5").agg(
        F.max("n_seen").alias("n_seen"),
        F.first("url").alias("url"))
    assert last.count() == n_hashes
    # every content hash was seen at least twice after the mirror wave
    assert last.where("n_seen < 2").count() == 0
    # the kept url per hash is from the FIRST wave, never the mirror
    kept = spark.read.parquet(out).where("first_seen")
    assert kept.where(F.col("url").startswith(
        "https://mirror.example.net/")).count() == 0
    pages.unpersist()
    shutil.rmtree(base, ignore_errors=True)


def test_windowed_metrics_stream(spark, tmp_path_factory):
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.streaming import windowed_metrics_stream

    base = str(tmp_path_factory.mktemp("wstream"))
    src, out, ckpt = (os.path.join(base, d)
                      for d in ("src", "out", "ckpt"))
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False)
    pages.repartition(2).write.parquet(src)

    metrics = windowed_metrics_stream(spark, src)
    q = (metrics.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    # append mode only emits windows the watermark has passed; with
    # availableNow the final watermark closes all but the last window(s)
    assert got.count() >= 1
    assert got.agg({"docs": "sum"}).collect()[0][0] > 0
    shutil.rmtree(base, ignore_errors=True)

def test_streaming_dedup_state_ttl_eviction(spark, tmp_path_factory):
    """With state_ttl_ms set, a content hash idle past the TTL is
    evicted by a later batch's timeout sweep: a copy arriving AFTER
    eviction re-registers as first_seen with a reset count, while a copy
    arriving INSIDE the TTL is still deduped. Driven as one continuous
    processing-time-trigger query (the TTL's production shape —
    availableNow backfills keep the default NoTimeout)."""
    import datetime
    import time

    from pyspark.sql import Row, functions as F
    from nreadability_spark.spark.streaming import dedup_stream, PAGES_DDL

    base = str(tmp_path_factory.mktemp("dttl"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    os.makedirs(src)

    def page(url, payload):
        return Row(url=url, warc_ts=datetime.datetime(2024, 1, 1),
                   html=payload.encode(), text=payload, lang="en")

    def write_wave(rows):
        spark.createDataFrame(rows, PAGES_DDL).coalesce(1) \
            .write.mode("append").parquet(src)

    def wait_rows(n, timeout_s=120):
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            try:
                if spark.read.parquet(out).count() >= n:
                    return
            except Exception:
                pass
            time.sleep(0.5)
        raise AssertionError(f"sink never reached {n} rows")

    # far above this box's wave->batch latency (~6 s idle, observed up
    # to ~20 s when a full test suite shares the cores) so the
    # intra-TTL copy provably lands inside the window even in a
    # contended run
    ttl_ms = 30000
    write_wave([page("https://a.example/1", "AAA"),
                page("https://b.example/1", "BBB")])
    stream = dedup_stream(
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", "1").parquet(src),
        state_ttl_ms=ttl_ms)
    q = (stream.writeStream
         .foreachBatch(lambda b, _i: b.write.mode("append").parquet(out))
         .option("checkpointLocation", ckpt)
         .outputMode("update").trigger(processingTime="250 milliseconds")
         .start())
    try:
        wait_rows(2)                      # A(true,1), B(true,1)
        # inside the TTL: A again -> still deduped, state refreshed
        write_wave([page("https://a.example/2", "AAA")])
        wait_rows(3)                      # + A(false,2)
        time.sleep(1.5 * ttl_ms / 1000.0)  # both keys idle past the TTL
        # force a data batch so the timeout sweep provably ran even if
        # no-data batches were not scheduled: C arrives, A+B evicted
        write_wave([page("https://c.example/1", "CCC")])
        wait_rows(4)                      # + C(true,1)
        # B returns under a mirror url: state was evicted, so it
        # re-registers as first_seen with the NEW url and a reset count
        write_wave([page("https://mirror.example/b", "BBB")])
        wait_rows(5)
    finally:
        q.stop()

    got = spark.read.parquet(out).collect()
    # emissions carry the KEPT (first-seen) url, so group by url
    by_url: dict = {}
    for r in got:
        by_url.setdefault(r["url"], []).append(
            (r["first_seen"], r["n_seen"]))
    # A: registered, then deduped INSIDE the TTL under its kept url
    assert sorted(by_url["https://a.example/1"]) == [(False, 2), (True, 1)]
    assert "https://a.example/2" not in by_url
    # B: registered, idle past the TTL -> evicted by the sweep -> the
    # mirror copy re-registers as first_seen with a reset count
    assert by_url["https://b.example/1"] == [(True, 1)]
    assert by_url["https://mirror.example/b"] == [(True, 1)]
    b_hashes = {r["content_md5"] for r in got
                if r["url"].endswith("/b") or r["url"].endswith("b.example/1")}
    assert len(b_hashes) == 1
    shutil.rmtree(base, ignore_errors=True)

def test_streaming_dedup_watermarked(spark, tmp_path_factory):
    """The built-in dropDuplicatesWithinWatermark variant must keep one
    row per content hash within the event-time window, with state evicted
    by the watermark (all-JVM — no Python state in the plan)."""
    import datetime

    from pyspark.sql import Row, functions as F
    from nreadability_spark.spark.streaming import (PAGES_DDL,
                                                    dedup_stream_watermarked)

    base = str(tmp_path_factory.mktemp("dwm"))
    src, out, ckpt = (os.path.join(base, d) for d in ("src", "out", "ckpt"))
    ts = datetime.datetime(2024, 1, 1, 12, 0)

    def page(url, payload, minutes):
        return Row(url=url, warc_ts=ts + datetime.timedelta(minutes=minutes),
                   html=payload.encode(), text=payload, lang="en")

    rows = [page("https://a.example/1", "AAA", 0),
            page("https://a.example/2", "AAA", 30),   # dup inside window
            page("https://b.example/1", "BBB", 5)]
    spark.createDataFrame(rows, PAGES_DDL).coalesce(1).write.parquet(src)

    stream = dedup_stream_watermarked(
        spark.readStream.schema(PAGES_DDL).parquet(src),
        watermark="2 hours")
    q = (stream.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", ckpt)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    # one survivor per content hash; the AAA dup 30 min later was dropped
    assert got.select("content_md5").distinct().count() == 2
    assert got.count() == 2
    urls = {r["url"] for r in got.collect()}
    assert "https://a.example/2" not in urls
    shutil.rmtree(base, ignore_errors=True)


def test_warc_stream_ingest_and_extract(spark, tmp_path_factory):
    """Streaming WARC ingest end-to-end: segments dropped into a watched
    dir flow through the member-at-a-time parser into the SAME
    extraction kernel, incrementally (a second segment landing after
    the first trigger is picked up by the next pass, and ONLY it —
    exactly-once per file from the checkpointed source log)."""
    import gzip
    from nreadability_spark.spark.streaming import (extract_stream,
                                                    read_pages_warc_stream)
    from tests.test_warc_source import ARTICLE, _record
    src = str(tmp_path_factory.mktemp("warc_stream_src"))
    ck = str(tmp_path_factory.mktemp("warc_stream_ck"))
    out_dir = str(tmp_path_factory.mktemp("warc_stream_out"))

    def seg(path, n0, n1):
        data = b"".join(
            gzip.compress(_record(b"response",
                                  b"https://ws.example/%d" % i, ARTICLE))
            for i in range(n0, n1))
        with open(path, "wb") as f:
            f.write(data)

    def run_pass():
        q = (extract_stream(read_pages_warc_stream(spark, src))
             .select("url", "extracted", "title")
             .writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ck)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    seg(os.path.join(src, "seg-0.warc.gz"), 0, 3)
    run_pass()
    got = {r["url"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(got) == {"https://ws.example/%d" % i for i in range(3)}
    assert all(r["extracted"] and r["title"] == "WARC Article"
               for r in got.values())
    # second segment lands; the next pass appends ONLY its rows
    seg(os.path.join(src, "seg-1.warc.gz"), 3, 5)
    run_pass()
    urls = [r["url"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(urls) == sorted(
        "https://ws.example/%d" % i for i in range(5))  # no re-reads


def test_robots_filter_works_on_streams(spark, tmp_path_factory):
    """The politeness gate composes with Structured Streaming: a
    streaming pages source joins the STATIC robots table (stream-static
    join) and flows through the same Arrow-batch verdicts — continuous
    ingest gets robots gating with zero extra code."""
    import gzip
    from nreadability_spark.spark.sources import (robots_filter,
                                                  synthesize_robots)
    from nreadability_spark.spark.streaming import read_pages_warc_stream
    from tests.test_warc_source import _record
    src = str(tmp_path_factory.mktemp("warc_robots_src"))
    ck = str(tmp_path_factory.mktemp("warc_robots_ck"))
    out_dir = str(tmp_path_factory.mktemp("warc_robots_out"))
    # host3 % 3 == 0: nrsbot group only allows ids ending in 1
    recs = [(b"https://host3.example.org/articles/3", b"blocked"),
            (b"https://host3.example.org/articles/31", b"allowed"),
            (b"https://host17.example.org/articles/17", b"no robots")]
    with open(os.path.join(src, "seg.warc.gz"), "wb") as f:
        f.write(b"".join(gzip.compress(_record(b"response", u, b"<p>x</p>"))
                         for u, _ in recs))
    stream = read_pages_warc_stream(spark, src)
    gated = robots_filter(stream, synthesize_robots(spark))
    assert gated.isStreaming
    q = (gated.selectExpr("url")
         .writeStream.format("parquet").option("path", out_dir)
         .option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    urls = {r["url"] for r in spark.read.parquet(out_dir).collect()}
    assert urls == {"https://host3.example.org/articles/31",
                    "https://host17.example.org/articles/17"}
