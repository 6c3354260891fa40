"""WARC source adapter: raw Common-Crawl-style archives -> pages schema
-> the same extraction pipeline, no staging ETL."""

import gzip
import os

import pytest

pyspark = pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("warc-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def _record(wtype: bytes, uri: bytes, body: bytes) -> bytes:
    http = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    head = (b"WARC/1.0\r\nWARC-Type: " + wtype +
            b"\r\nWARC-Target-URI: " + uri +
            b"\r\nWARC-Date: 2024-06-01T08:30:00Z\r\nContent-Length: " +
            str(len(http)).encode() + b"\r\n\r\n")
    return head + http + b"\r\n\r\n"


ARTICLE = (b"<html><head><title>WARC Article</title></head><body>"
           b"<div class='content'>" +
           b"<p>" + b"A long readable paragraph with plenty of words, "
           b"commas, and sentences to score. " * 8 + b"</p>" * 4 +
           b"</div></body></html>")


def _write_warc(path: str, compress: bool) -> None:
    data = (_record(b"response", b"https://warc.example/a", ARTICLE) +
            _record(b"request", b"https://warc.example/a", b"GET /a") +
            _record(b"warcinfo", b"", b"software: test") +
            _record(b"response", b"https://warc.example/b",
                    b"<html><body><p>short</p></body></html>"))
    with open(path, "wb") as f:
        f.write(gzip.compress(data) if compress else data)


@pytest.mark.parametrize("compress", [False, True])
def test_warc_to_pages_schema(spark, tmp_path_factory, compress):
    from nreadability_spark.spark.sources import read_pages_warc
    d = str(tmp_path_factory.mktemp("warc"))
    _write_warc(os.path.join(d, "seg-00000.warc"), compress)
    pages = read_pages_warc(spark, d)
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]
    rows = {r["url"]: r for r in pages.collect()}
    # only response records survive; request/warcinfo dropped
    assert set(rows) == {"https://warc.example/a", "https://warc.example/b"}
    a = rows["https://warc.example/a"]
    # HTTP envelope stripped: payload starts at the html, timestamp parsed
    assert bytes(a["html"]).startswith(b"<html><head><title>WARC Article")
    assert a["warc_ts"] is not None and a["warc_ts"].year == 2024


def test_warc_feeds_extraction_end_to_end(spark, tmp_path_factory):
    from nreadability_spark.spark.job import run_extraction
    from nreadability_spark.spark.sources import read_pages_warc
    d = str(tmp_path_factory.mktemp("warc_e2e"))
    _write_warc(os.path.join(d, "seg-00000.warc"), compress=False)
    out = {r["url"]: r
           for r in run_extraction(spark, read_pages_warc(spark, d))
           .collect()}
    a = out["https://warc.example/a"]
    assert a["extracted"] and a["error"] is None
    assert a["title"] == "WARC Article"
    assert "long readable paragraph" in a["content_text"]


def test_warc_parser_fuzz_no_crash():
    """The record parser must never crash on arbitrary bytes, and every
    yielded record must have a non-empty uri (hypothesis fuzz)."""
    from hypothesis import given, settings, strategies as st
    from nreadability_spark.spark.sources import _parse_warc_records

    @settings(max_examples=200, deadline=None)
    @given(st.binary(max_size=2048))
    def run(data):
        for uri, date, html in _parse_warc_records(data):
            assert uri
            assert isinstance(html, bytes)
    run()


def test_warc_parser_malformed_records_no_hang_no_crash():
    """Regression: a negative Content-Length must not loop forever, a
    garbage length must not crash, and a truncated gzip stream must
    degrade to best-effort scanning instead of raising."""
    from nreadability_spark.spark.sources import _parse_warc_records

    neg = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://x.example/\r\n"
           b"Content-Length: -999\r\n\r\nHTTP/1.1 200 OK\r\n\r\nbody")
    out = list(_parse_warc_records(neg))           # must terminate
    assert all(uri for uri, _d, _h in out)

    garbage = neg.replace(b"-999", b"not-a-number")
    list(_parse_warc_records(garbage))             # must not raise

    assert list(_parse_warc_records(b"\x1f\x8b")) == []
    assert list(_parse_warc_records(b"\x1f\x8b\x08truncated")) == []


def test_warc_date_variants_yield_null_not_error(spark, tmp_path_factory):
    """A missing WARC-Date or a WARC 1.1 fractional-seconds date must
    produce a null/parsed timestamp, never an ANSI DateTimeException
    that kills the ingest job."""
    from nreadability_spark.spark.sources import read_pages_warc
    d = str(tmp_path_factory.mktemp("warc_dates"))
    http = b"HTTP/1.1 200 OK\r\n\r\n<html><p>x</p></html>"

    def rec(headers: bytes) -> bytes:
        head = (b"WARC/1.0\r\nWARC-Type: response\r\n" + headers +
                b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n")
        return head + http + b"\r\n\r\n"

    data = (rec(b"WARC-Target-URI: https://nodate.example/\r\n") +
            rec(b"WARC-Target-URI: https://frac.example/\r\n"
                b"WARC-Date: 2024-06-01T08:30:00.123Z\r\n"))
    with open(os.path.join(d, "seg.warc"), "wb") as f:
        f.write(data)
    rows = {r["url"]: r for r in read_pages_warc(spark, d).collect()}
    assert rows["https://nodate.example/"]["warc_ts"] is None
    frac = rows["https://frac.example/"]["warc_ts"]
    assert frac is not None and frac.microsecond == 123000


def test_warc_per_record_gzip_members(spark, tmp_path_factory):
    """Production CC layout: one gzip member per record, concatenated.
    The member-at-a-time decoder must yield every record without ever
    materializing the whole decompressed segment."""
    from nreadability_spark.spark.sources import read_pages_warc
    d = str(tmp_path_factory.mktemp("warc_members"))
    data = b"".join(
        gzip.compress(_record(b"response",
                              b"https://m.example/%d" % i,
                              b"<html><p>doc %d</p></html>" % i))
        for i in range(5))
    with open(os.path.join(d, "seg.warc.gz"), "wb") as f:
        f.write(data)
    urls = {r["url"] for r in read_pages_warc(spark, d).collect()}
    assert urls == {"https://m.example/%d" % i for i in range(5)}


def test_warc_truncated_member_keeps_prior_records():
    """A truncated/corrupt trailing gzip member degrades to best-effort:
    records from intact leading members still come out, nothing raises."""
    from nreadability_spark.spark.sources import _parse_warc_records
    good = gzip.compress(_record(b"response", b"https://ok.example/", b"x"))
    bad = gzip.compress(_record(b"response", b"https://lost.example/",
                                b"y" * 4096))[:40]
    out = list(_parse_warc_records(good + bad))
    assert [u for u, _d, _h in out] == ["https://ok.example/"]
    # corrupt bytes spliced between members: leading member still parses
    out2 = list(_parse_warc_records(good + b"\x00garbage" + good))
    assert out2 and out2[0][0] == "https://ok.example/"


def test_warc_bad_length_resyncs_on_delimiter():
    """With an unusable Content-Length the parser resynchronizes on the
    '\\r\\n\\r\\nWARC/' record delimiter — a body containing a literal
    'WARC/...' header block (a page ABOUT the WARC format) must not be
    emitted as a fabricated record with attacker-controlled URI."""
    from nreadability_spark.spark.sources import _parse_warc_records
    evil_body = (b"HTTP/1.1 200 OK\r\n\r\n<html><pre>"
                 b"WARC/1.0\r\nWARC-Type: response\r\n"
                 b"WARC-Target-URI: https://attacker.example/\r\n"
                 b"Content-Length: 4\r\n\r\nhack"
                 b"</pre></html>")
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://victim.example/\r\n"
           b"Content-Length: oops\r\n\r\n" + evil_body + b"\r\n\r\n")
    tail = _record(b"response", b"https://next.example/", b"<p>n</p>")
    out = list(_parse_warc_records(rec + tail))
    uris = [u for u, _d, _h in out]
    assert "https://attacker.example/" not in uris
    assert uris == ["https://victim.example/", "https://next.example/"]
    # the resynced body carries the whole literal block, unsplit
    assert b"WARC-Target-URI: https://attacker.example/" in out[0][2]
    # and with a VALID length the same body is simply payload bytes
    out3 = list(_parse_warc_records(
        _record(b"response", b"https://v2.example/",
                evil_body.split(b"\r\n\r\n", 1)[1])))
    assert [u for u, _d, _h in out3] == ["https://v2.example/"]


def test_warc_parser_fuzz_multimember_gzip():
    """Fuzz the bounded-memory gzip path: arbitrary record bytes split
    into arbitrary gzip members (+ optional truncation) never crash and
    never yield a record with an empty uri."""
    from hypothesis import given, settings, strategies as st
    from nreadability_spark.spark.sources import _parse_warc_records

    @settings(max_examples=100, deadline=None)
    @given(st.binary(max_size=1024),
           st.integers(min_value=1, max_value=4),
           st.integers(min_value=0, max_value=64))
    def run(data, n_members, trunc):
        step = max(len(data) // n_members, 1)
        blob = b"".join(gzip.compress(data[i:i + step])
                        for i in range(0, len(data), step))
        blob = blob[:len(blob) - trunc]
        for uri, _date, html in _parse_warc_records(blob):
            assert uri
            assert isinstance(html, bytes)
    run()


def test_warc_ts_is_utc_instant_regardless_of_session_tz(
        spark, tmp_path_factory):
    """WARC-Date is always UTC; the parsed instant must equal 08:30 UTC
    whatever spark.sql.session.timeZone says (ADVICE r4: stripping the
    'Z' reinterpreted every timestamp in cluster-local time)."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.sources import read_pages_warc
    d = str(tmp_path_factory.mktemp("warc_tz"))
    _write_warc(os.path.join(d, "seg.warc"), compress=False)
    expected = 1717230600  # 2024-06-01T08:30:00Z
    epochs = {}
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/Los_Angeles", "Asia/Tokyo"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            row = (read_pages_warc(spark, d)
                   .where(F.col("url") == "https://warc.example/a")
                   .select(F.unix_timestamp("warc_ts").alias("e"))
                   .collect())
            epochs[tz] = row[0]["e"]
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert epochs == {tz: expected for tz in epochs}


def test_http_codings_round_trip_kernel():
    """Every transfer/content-coding class the synthesizer rotates
    through (chunked, gzip, zlib/raw deflate, gzip-then-chunked) must
    decode back to the exact template html bytes."""
    from nreadability_spark.spark.pages import (template_html_py,
                                                template_url_py,
                                                warc_record_py)
    from nreadability_spark.spark.sources import _parse_warc_records
    # doc_ids hitting every m = doc_id % 9 class incl. plain (m in
    # {0,1,3,5}) and overlaps with the damage classes
    for doc_id in (2, 4, 6, 7, 8, 11, 13, 15, 16, 17, 61, 122, 166):
        text = "word " * 300 + f"doc {doc_id}"
        rec = warc_record_py(doc_id, text)
        got = list(_parse_warc_records(rec))
        assert len(got) == 1, doc_id
        uri, _, html = got[0]
        assert uri == template_url_py(doc_id)
        assert html == template_html_py(doc_id, text).encode("utf-8"), \
            (doc_id, doc_id % 9)


def test_http_decode_truncated_and_corrupt_never_raise():
    """Truncated chunk framing and corrupt compressed bodies yield the
    clean prefix (or the raw payload), never an exception."""
    from nreadability_spark.spark.sources import (_dechunk,
                                                  _decode_http_payload,
                                                  _inflate)
    # truncated mid-chunk: keeps the complete chunks + partial data
    assert _dechunk(b"5\r\nhello\r\n5\r\nwo") == b"hellowo"
    # garbage size line: keeps the chunks before it
    assert _dechunk(b"5\r\nhello\r\nzz\r\nrest") == b"hello"
    assert _dechunk(b"") == b""
    assert _dechunk(b"nonsense with no framing at all") == b""
    # corrupt gzip: nothing decodes -> None; payload passes through
    assert _inflate(b"\x1f\x8b\xff\xffgarbage", 31) is None
    body = (b"HTTP/1.1 200 OK\r\nContent-Encoding: gzip\r\n\r\n"
            b"not actually gzip")
    assert _decode_http_payload(body) == b"not actually gzip"
    # truncated gzip: clean prefix survives (stored blocks so half the
    # compressed stream still holds real payload bytes)
    import gzip as _gz
    full = _gz.compress(b"x" * 10000, compresslevel=0, mtime=0)
    out = _inflate(full[:len(full) // 2], 31)
    assert out is not None and b"x" * 100 in out
    # chunked header with corrupt deflate inside: no raise
    hdr = (b"HTTP/1.1 200 OK\r\nTransfer-Encoding: chunked\r\n"
           b"Content-Encoding: deflate\r\n\r\n5\r\n\xff\xfe\xfd\xfc\xfb\r\n"
           b"0\r\n\r\n")
    assert isinstance(_decode_http_payload(hdr), bytes)


def test_http_decode_fuzz_never_raises():
    from hypothesis import given, settings, strategies as st

    from nreadability_spark.spark.sources import _decode_http_payload

    @settings(max_examples=150, deadline=None)
    @given(st.binary(max_size=256),
           st.sampled_from([b"chunked", b"gzip", b"deflate", b"x-gzip"]),
           st.booleans())
    def run(payload, coding, as_te):
        key = b"Transfer-Encoding" if as_te else b"Content-Encoding"
        body = (b"HTTP/1.1 200 OK\r\n" + key + b": " + coding +
                b"\r\n\r\n" + payload)
        out = _decode_http_payload(body)
        assert isinstance(out, bytes)
    run()


def test_indexed_and_streaming_parsers_agree_on_damaged_records():
    """A record with a corrupt Content-Length must yield the SAME
    payload bytes from the per-member indexed parser (member parsed in
    isolation, delimiter resync finds nothing) and the streaming parser
    — per WARC spec the content block excludes the trailing CRLFCRLF."""
    import gzip as _gz

    from nreadability_spark.spark.pages import warc_record_py
    from nreadability_spark.spark.sources import (
        _iter_warc_records_indexed, _parse_warc_records)
    for doc_id in (61, 122, 183, 244):  # % 61 == 0: botched length
        rec = warc_record_py(doc_id, "damaged record body " * 40)
        blob = _gz.compress(rec, mtime=0)
        stream = [(u, d, h) for u, d, h in _parse_warc_records(blob)]
        indexed = [(u, d, h) for _, _, u, d, h in
                   _iter_warc_records_indexed(blob)]
        assert stream == indexed and len(stream) == 1


def test_warc_index_epoch_floors_fractional_seconds(spark, tmp_path_factory):
    """WARC 1.1 allows fractional seconds: the index's warc_epoch must be
    the same instant read_pages_warc stores, floored to whole seconds,
    not null (a null epoch sorts the capture last in warc_lookup)."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.sources import read_pages_warc, warc_index
    d = str(tmp_path_factory.mktemp("warc_frac"))
    http = b"HTTP/1.1 200 OK\r\n\r\n<html><p>x</p></html>"
    rec = (b"WARC/1.0\r\nWARC-Type: response\r\n"
           b"WARC-Target-URI: https://frac.example/\r\n"
           b"WARC-Date: 2026-01-01T00:00:00.5Z\r\n"
           b"Content-Length: " + str(len(http)).encode() + b"\r\n\r\n" +
           http + b"\r\n\r\n")
    with open(os.path.join(d, "seg.warc.gz"), "wb") as f:
        f.write(gzip.compress(rec))
    [page] = (read_pages_warc(spark, d)
              .select(F.unix_timestamp("warc_ts").alias("e")).collect())
    [idx] = warc_index(spark, d).select("warc_epoch").collect()
    assert page["e"] == 1767225600
    assert idx["warc_epoch"] == page["e"]


def test_member_past_output_cap_keeps_later_members():
    """A gzip member that decodes past one 1 MiB output window must not
    hide the members after it: the streaming and indexed parsers both
    yield every record, at the same member offsets."""
    from nreadability_spark.spark.sources import (
        _iter_warc_records_indexed, _parse_warc_records)
    members = [
        gzip.compress(_record(b"response", b"https://big.example/",
                              b"<p>" + b"a" * (2 << 20)), mtime=0),
        gzip.compress(_record(b"response", b"https://small.example/",
                              b"<p>s</p>"), mtime=0)]
    blob = b"".join(members)
    urls = ["https://big.example/", "https://small.example/"]
    assert [u for u, _d, _h in _parse_warc_records(blob)] == urls
    rows = list(_iter_warc_records_indexed(blob))
    assert [r[2] for r in rows] == urls
    assert [(r[0], r[1]) for r in rows] == [
        (0, len(members[0])), (len(members[0]), len(members[1]))]


def test_batch_and_stream_readers_agree(spark, tmp_path_factory):
    """read_pages_warc and read_pages_warc_stream share one explode: over
    a directory holding a per-record-gzip file with a truncated last
    member, a whole-file-gzip file and a raw file they return the same
    (url, warc_ts, md5(html)) rows."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.sources import read_pages_warc
    from nreadability_spark.spark.streaming import read_pages_warc_stream
    src = str(tmp_path_factory.mktemp("warc_both_src"))
    ck = str(tmp_path_factory.mktemp("warc_both_ck"))
    out_dir = str(tmp_path_factory.mktemp("warc_both_out"))

    def recs(tag, n):
        return [_record(b"response", b"https://%s.example/%d" % (tag, i),
                        ARTICLE + b"<p>%d</p>" % i) for i in range(n)]

    members = b"".join(gzip.compress(r) for r in recs(b"m", 4))
    with open(os.path.join(src, "a.warc.gz"), "wb") as f:
        f.write(members[:-30])  # last member truncated mid-stream
    with open(os.path.join(src, "b.warc.gz"), "wb") as f:
        f.write(gzip.compress(b"".join(recs(b"w", 3))))
    with open(os.path.join(src, "c.warc"), "wb") as f:
        f.write(b"".join(recs(b"r", 2)))

    def key(df):
        return sorted(tuple(r) for r in df.select(
            "url", "warc_ts", F.md5("html").alias("h")).collect())

    batch = key(read_pages_warc(spark, src))
    q = (read_pages_warc_stream(spark, src).writeStream.format("parquet")
         .option("path", out_dir).option("checkpointLocation", ck)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = key(spark.read.parquet(out_dir))
    assert stream == batch
    urls = {u for u, _ts, _h in batch}
    assert {"https://w.example/2", "https://r.example/1",
            "https://m.example/2"} <= urls
