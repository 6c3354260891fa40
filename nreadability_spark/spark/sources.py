"""Source adapters: page tables, WARC archives, and per-host robots.txt
and sitemap directories.

The production source per BASELINE.json input_hint is an Iceberg table of
pages. ``read_pages`` reads a table ref through the Iceberg source, or
through the session catalog when no Iceberg runtime is on the classpath;
a parquet path is read directly, with the same schema.
"""

from __future__ import annotations

import hashlib
import os
import re

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from .job import ensure_package_shipped, map_rows
from .pages import N_HOSTS, template_url_expr


def _is_table_ref(ref: str) -> bool:
    return "/" not in ref and not ref.endswith(".parquet")


def read_pages(spark: SparkSession, ref: str) -> DataFrame:
    """``ref`` is an Iceberg table name (catalog.db.table) or a parquet
    path. Column pruning/pushdown applies identically to both."""
    if _is_table_ref(ref):
        try:
            return spark.read.format("iceberg").load(ref)
        except Py4JJavaError as e:
            # no Iceberg runtime on the classpath: read the session
            # catalog. Any error from a real Iceberg catalog surfaces
            # (its exceptions need not carry a Spark error condition).
            j = e.java_exception
            if (j.getClass().getName()
                    != "org.apache.spark.SparkClassNotFoundException"
                    or j.getCondition() != "DATA_SOURCE_NOT_FOUND"):
                raise
            return spark.read.table(ref)
    return spark.read.parquet(ref)


# --- WARC (Common Crawl's native format) ----------------------------------------
#
# Minimal WARC/1.0 reader for response records: enough to point the
# engine at raw crawl archives without a staging ETL. Parsing is a pure
# function over bytes (unit-tested directly); distribution is one task
# per WARC file via the binaryFile source — the standard Common-Crawl
# processing grain (segment files are ~1 GB, tens of thousands of files
# per crawl, so file-level parallelism saturates any cluster without
# record-level splits).
#
# Memory envelope per task: binaryFile's compressed content row
# (~1 GB for a CC segment) + O(largest single record + one scan chunk)
# decompressed — NOT the whole ~4-5 GB decompressed segment. Gzip is
# decoded member-at-a-time through zlib.decompressobj with a bounded
# output window, which matches production CC files' per-record-gzip
# layout (one member per record) and still handles whole-file gzip
# without materializing the full plaintext.

import zlib as _zlib

_WARC_CHUNK = 1 << 20  # decompressed scan-window growth per pull
_GZIP_FEED = 1 << 18   # compressed input per decompress call


def _gzip_members(data: bytes):
    """Decode ``data`` one gzip member at a time. Yields
    ``(start, piece, None)`` for each decoded piece of the member whose
    compressed bytes start at ``start``, then ``(start, b"", end)`` once
    the member completes (``end`` = its last compressed byte + 1) or is
    truncated at EOF (``end`` = ``len(data)``). Data that does not start
    with the gzip magic is one raw member cut into ``_WARC_CHUNK`` slices.

    Each ``decompress`` call is capped at ``_WARC_CHUNK`` output bytes, so
    peak memory never depends on the compression ratio. Input is fed in
    bounded slices: zlib's unconsumed_tail/unused_data are bytes COPIES
    of whatever input the call did not consume, so feeding the whole
    remaining buffer per member copied O(filesize) bytes per member —
    O(members x filesize) total (the r7 profile's dominant warc-pass
    cost); with sliced feeding each copy is at most one slice. A
    corrupt member ends the stream with no end event, keeping the
    pieces already yielded; non-gzip bytes after a member end it too.
    Never raises."""
    n = len(data)
    if data[:2] != b"\x1f\x8b":
        for i in range(0, n, _WARC_CHUNK):
            yield 0, data[i:i + _WARC_CHUNK], None
        yield 0, b"", n
        return
    mv = memoryview(data)
    pos = 0
    while pos < n and data[pos:pos + 2] == b"\x1f\x8b":
        d = _zlib.decompressobj(31)
        feed = pos   # next unread input offset
        tail = b""   # unconsumed input handed back by zlib (<= slice)
        try:
            while not d.eof:
                if not tail:
                    if feed >= n:
                        # truncated at EOF: drain what the consumed
                        # input still owes (at most one match copy)
                        out = d.flush()
                        if out:
                            yield pos, out, None
                        yield pos, b"", n
                        return
                    nxt = min(feed + _GZIP_FEED, n)
                    tail = mv[feed:nxt]
                    feed = nxt
                out = d.decompress(tail, _WARC_CHUNK)
                tail = d.unconsumed_tail
                if out:
                    yield pos, out, None
        except _zlib.error:
            return
        # next member starts right after this one's compressed bytes.
        # Only unused_data counts: when the call that reaches eof was fed
        # a capped call's unconsumed_tail, CPython leaves that same
        # leftover in unconsumed_tail too, and subtracting both landed
        # inside this member and dropped every later one.
        end = feed - len(d.unused_data)
        yield pos, b"", end
        pos = end


_MAX_HTTP_DECODE = 64 << 20  # decompressed-entity cap per record


def _dechunk(body: bytes) -> bytes:
    """Strip ``Transfer-Encoding: chunked`` framing (hex-size lines,
    chunk extensions, trailers). Malformed or truncated framing returns
    the chunks that decoded cleanly — never raises."""
    out = []
    i, n = 0, len(body)
    while i < n:
        j = body.find(b"\r\n", i)
        if j == -1:
            break
        try:
            size = int(body[i:j].split(b";", 1)[0].strip(), 16)
        except ValueError:
            break
        if size <= 0:
            break  # terminal chunk; trailers dropped
        chunk = body[j + 2:j + 2 + size]
        out.append(chunk)
        if len(chunk) < size:
            break  # data truncated mid-chunk
        i = j + 2 + size + 2  # past the chunk and its CRLF
    return b"".join(out)


def _inflate(body: bytes, wbits: int) -> bytes | None:
    """Bounded best-effort decompress (the capped decompressobj pattern
    of ``_gzip_members``): output capped at ``_MAX_HTTP_DECODE`` so
    peak memory never depends on the compression ratio; corrupt streams
    yield what decoded cleanly; ``None`` when nothing decodes."""
    d = _zlib.decompressobj(wbits)
    out, total, tail = [], 0, body
    try:
        while tail and total < _MAX_HTTP_DECODE:
            piece = d.decompress(tail, _WARC_CHUNK)
            if piece:
                out.append(piece)
                total += len(piece)
            if d.eof:
                break
            tail = d.unconsumed_tail
            if not tail:
                break  # truncated stream: keep the clean prefix
    except _zlib.error:
        pass
    return b"".join(out) if out else None


def _decode_http_payload(body: bytes) -> bytes:
    """WARC response payload -> entity bytes. Real Common-Crawl response
    records store the raw HTTP bytes, so beyond dropping the status line
    and headers this undoes ``Transfer-Encoding: chunked`` (chunk-size
    framing would otherwise sit embedded in the html) and
    ``Content-Encoding: gzip/x-gzip/deflate`` (the html would otherwise
    be compressed bytes). Best-effort and bounded; never raises."""
    http_end = body.find(b"\r\n\r\n")
    if http_end == -1:
        return body
    head, payload = body[:http_end], body[http_end + 4:]
    if not head.startswith(b"HTTP/"):
        return payload
    te = ce = b""
    for line in head.split(b"\r\n")[1:]:
        k, _, v = line.partition(b":")
        k = k.strip().lower()
        if k == b"transfer-encoding":
            te = v.strip().lower()
        elif k == b"content-encoding":
            ce = v.strip().lower()
    if b"chunked" in te:
        payload = _dechunk(payload)
    if ce in (b"gzip", b"x-gzip"):
        dec = _inflate(payload, 31)
        payload = dec if dec is not None else payload
    elif ce == b"deflate":
        # zlib-wrapped per RFC 9110, but raw-deflate servers are common
        dec = _inflate(payload, 15)
        if dec is None:
            dec = _inflate(payload, -15)
        payload = dec if dec is not None else payload
    return payload


def _parse_warc_stream(chunks):
    """Incremental WARC/1.0 record parser over an iterator of
    decompressed byte chunks. Buffers at most one record (plus one scan
    chunk) at a time. Never raises on malformed input (corrupt archives
    yield fewer records, not failed tasks): a missing or garbage
    Content-Length resynchronizes on the ``\\r\\n\\r\\nWARC/`` record
    delimiter instead of scanning raw body bytes (so a page ABOUT the
    WARC format can't fabricate records with attacker-controlled
    target-URIs), and the cursor strictly advances so no header shape
    can loop forever."""
    buf = bytearray()
    it = iter(chunks)
    eof = False

    def pull() -> bool:
        nonlocal eof
        if eof:
            return False
        try:
            buf.extend(next(it))
            return True
        except StopIteration:
            eof = True
            return False

    def find_pulling(needle: bytes, start: int) -> int:
        """Find ``needle`` at/after ``start``, pulling chunks as needed;
        -1 at stream end. Resumes each scan near the buffer tail so a
        long record costs O(record), not O(record^2)."""
        lo = start
        while True:
            j = buf.find(needle, lo)
            if j != -1:
                return j
            lo = max(start, len(buf) - len(needle) + 1)
            if not pull():
                return -1

    while True:
        j = find_pulling(b"WARC/", 0)
        if j == -1:
            return
        del buf[:j]  # drop inter-record garbage; record header at 0
        head_end = find_pulling(b"\r\n\r\n", 0)
        if head_end == -1:
            return
        headers = {}
        for line in bytes(buf[:head_end]).split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            headers[k.strip().lower()] = v.strip()
        body_start = head_end + 4
        try:
            length = int(headers[b"content-length"])
            if length < 0:
                raise ValueError(length)
        except (KeyError, ValueError):
            length = None
        if length is not None:
            while len(buf) < body_start + length and pull():
                pass
            body = bytes(buf[body_start:body_start + length])
            consumed = min(body_start + length, len(buf))
        else:
            # unusable Content-Length: resync on the record delimiter
            k = find_pulling(b"\r\n\r\nWARC/", head_end)
            if k == -1:
                body = bytes(buf[body_start:])
                # per WARC spec the content block EXCLUDES the trailing
                # CRLFCRLF record delimiter; when resync finds no next
                # record (stream end, or a member parsed in isolation by
                # the indexed reader) the delimiter is still sitting at
                # the tail — strip it so the indexed and streaming
                # parsers agree byte-for-byte on damaged records.
                if body.endswith(b"\r\n\r\n"):
                    body = body[:-4]
                consumed = len(buf)
            else:
                body = bytes(buf[body_start:k])
                consumed = k + 4
        del buf[:max(consumed, 5)]  # strict progress past 'WARC/'
        if headers.get(b"warc-type") != b"response":
            continue
        uri = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", errors="replace")
        date = headers.get(b"warc-date", b"").decode("ascii",
                                                     errors="replace")
        # payload is an HTTP response: drop its status line + headers,
        # then undo chunked framing and gzip/deflate content coding
        html = _decode_http_payload(body)
        if uri:
            yield uri, date, html


def _parse_warc_records(data: bytes):
    """Yield (target_uri, warc_date, html_bytes) for each WARC/1.0
    ``response`` record in ``data`` (gzip-transparent; see
    ``_parse_warc_stream`` for the malformed-input contract and
    ``_gzip_members`` for the bounded-memory decode)."""
    yield from _parse_warc_stream(
        piece for _start, piece, end in _gzip_members(data) if end is None)


def _iter_warc_records_indexed(data: bytes):
    """Yield (offset, length, uri, date, html) per response record,
    where offset/length locate the record's COMPRESSED gzip member —
    the CDX index contract for per-record-gzip archives: the slice
    ``data[offset:offset+length]`` alone decodes back to the record,
    which is what lets a wayback/range-request reader fetch one page
    out of a 1 GB segment. Whole-file-gzip and raw layouts fall back
    to offset 0 / whole-file length (no sub-file addressing exists
    there). Unlike the streaming parser this buffers one member's
    decoded pieces and parses the member in isolation — production CC
    members hold ONE record, so the envelope is O(largest record). A
    member truncated at EOF still parses; a corrupt one yields
    nothing."""
    pieces = []
    for start, piece, end in _gzip_members(data):
        if end is None:
            pieces.append(piece)
            continue
        for uri, date, html in _parse_warc_stream(iter(pieces)):
            yield start, end - start, uri, date, html
        pieces = []


def _explode_warcs(batches):
    """mapInArrow generator: binaryFile ``content`` batches -> one
    RecordBatch(url, warc_date, html) per WARC file."""
    import pyarrow as pa
    schema = pa.schema([("url", pa.string()), ("warc_date", pa.string()),
                        ("html", pa.binary())])
    for rb in batches:
        for blob in rb.column(0).to_pylist():
            records = list(_parse_warc_records(blob))
            yield pa.RecordBatch.from_arrays(
                [pa.array([r[i] for r in records], schema.field(i).type)
                 for i in range(3)], schema=schema)


def _as_pages(df: DataFrame, *extra) -> DataFrame:
    """(url, warc_date string, html, ...) -> the pages schema, plus
    ``extra`` columns."""
    # try_cast, not to_timestamp: under Spark 4's default ANSI mode a
    # missing or non-conforming WARC-Date (WARC 1.1 allows fractional
    # seconds) must become null, not kill the ingest job on one record.
    # The trailing 'Z' is passed through to the cast — WARC-Date is
    # always UTC per spec, and try_cast interprets the designator as
    # the UTC offset, so the stored instant is correct on any cluster
    # regardless of spark.sql.session.timeZone (stripping the 'Z' would
    # silently reinterpret every timestamp in local time).
    return df.select(
        "url",
        F.expr("try_cast(warc_date as timestamp)").alias("warc_ts"),
        "html",
        F.lit("").alias("text"),
        F.lit("").alias("lang"),
        *extra)


def warc_pages(raw: DataFrame) -> DataFrame:
    """binaryFile rows (batch or streaming) -> the pages schema (url,
    warc_ts, html, text, lang): one Arrow pass per WARC file, the same
    ``mapInArrow`` boundary the extraction stage uses."""
    ensure_package_shipped(raw.sparkSession)
    return _as_pages(raw.select("content").mapInArrow(
        _explode_warcs, "url string, warc_date string, html binary"))


def read_pages_warc(spark: SparkSession, path_glob: str) -> DataFrame:
    """Read WARC files into the pages schema (url, warc_ts, html, text,
    lang). One Arrow batch pass per file row; the scan parallelizes
    across files (binaryFile), which is the right grain for ~1 GB
    Common-Crawl segments."""
    return warc_pages(spark.read.format("binaryFile").load(path_glob))

# --- robots.txt gating (crawl-politeness layer) ---------------------------------
#
# A 10^12-page crawl pipeline filters URLs through per-host robots.txt
# BEFORE fetch/extraction. The kernel (readability/robots.py) implements
# RFC 9309 matching; here the corpus joins its per-host robots table and
# the gate runs in Arrow batches. At web scale the robots table has one
# row per host (~1e8-1e9 rows) — far past broadcast — so the join is a
# host-key shuffle join by design; at test scale (97 hosts) AQE will
# broadcast it on its own.

ROBOTS_AGENT = "nrsbot"


def robots_txt_py(host: int) -> str | None:
    """Deterministic per-host robots.txt: wildcard+anchor rules against
    the /articles/<doc_id> url space, a specific-agent group on every
    3rd host, malformed content on every 13th, and NO robots file at
    all on every 17th (missing -> allow-all per the REP default)."""
    if host % 17 == 0:
        return None
    if host % 13 == 0:
        return "###garbage\x00[[\nDisallow: /orphan-no-group\n"
    d = host % 10
    txt = (f"User-agent: *\n"
           f"Disallow: /articles/*{d}$\n"
           f"Allow: /articles/*{d}{d}$\n"
           f"Crawl-delay: {1 + host % 5}\n")
    if host % 3 == 0:
        e = (host // 3) % 10
        txt += (f"\nUser-agent: {ROBOTS_AGENT}\n"
                f"Disallow: /\n"
                f"Allow: /articles/*{e}$\n")
    return txt


def synthesize_robots(spark: SparkSession) -> DataFrame:
    """(host, robots_txt) — one row per hostname that HAS a robots
    file, keyed exactly like the corpus urls' hosts."""
    rows = [(f"host{h}.example.org", robots_txt_py(h))
            for h in range(N_HOSTS)]
    return spark.createDataFrame(
        [(h, t) for h, t in rows if t is not None],
        "host string, robots_txt string")


def _read_per_host_dir(spark: SparkSession, path: str, ext: str,
                       value_col: str) -> DataFrame:
    """Load a directory of per-host fetch payloads named
    ``<host>.<ext>`` (the layout a fetcher spools robots.txt / sitemap
    blobs into) as (host, <value_col>). binaryFile parallelizes across
    files — the right grain, one small payload per host — and the host
    key is decoded from the filename JVM-side."""
    raw = (spark.read.format("binaryFile")
           .load(os.path.join(path, f"*.{ext}"))
           .select("path", "content"))
    return raw.select(
        F.regexp_extract("path", rf"([^/]+)\.{ext}$", 1).alias("host"),
        F.decode(F.col("content"), "UTF-8").alias(value_col))


def read_robots_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of ``<host>.txt`` robots payloads -> (host, robots_txt)
    — the external-fetch shape ``robots_filter`` / ``robots_verdicts``
    consume (``jobs/build_corpus --robots <dir>``)."""
    return _read_per_host_dir(spark, path, "txt", "robots_txt")


def read_sitemap_dir(spark: SparkSession, path: str) -> DataFrame:
    """Directory of ``<host>.xml`` sitemap payloads -> (host, xml) — the
    external-fetch shape ``ops.parse_sitemaps`` consumes
    (``jobs/build_corpus --sitemaps <dir>``)."""
    return _read_per_host_dir(spark, path, "xml", "xml")


def robots_verdicts(pages: DataFrame, robots: DataFrame,
                    agent: str = ROBOTS_AGENT) -> DataFrame:
    """Per-url crawl-gate verdict over CALLER-SUPPLIED tables — the
    production shape: ``pages`` is any DataFrame with a ``url`` column
    (all other columns pass through), ``robots`` is (host, robots_txt)
    as fetched. Appends ``allowed boolean`` and ``delay_ms long``.

    The host key comes out of the url by regex (JVM-side), the join
    shuffles on it (one robots row per host — broadcast at test scale
    via AQE, a plain shuffle join at web scale), and the RFC 9309
    verdict runs in Arrow batches with the parsed robots cached per
    distinct host text. Urls whose host has no robots row get
    (allowed=true, delay_ms=null) — the REP default."""
    ensure_package_shipped(pages.sparkSession)
    cols = pages.columns
    joined = (pages.withColumn("_host", host_of_url("url"))
              .join(robots.withColumnRenamed("host", "_host")
                    .withColumnRenamed("robots_txt", "_robots_txt"),
                    "_host", "left"))
    passthrough = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in joined.drop("_host", "_robots_txt").schema.fields)
    schema_out = f"{passthrough}, allowed boolean, delay_ms long"

    def gate(batches):
        from urllib.parse import urlsplit

        import pyarrow as pa

        from nreadability_spark.readability.robots import (crawl_delay,
                                                           is_allowed,
                                                           parse_robots)
        cache: dict = {}
        for rb in batches:
            allowed_col, delay_col = [], []
            for url, txt in zip(rb.column("url").to_pylist(),
                                rb.column("_robots_txt").to_pylist()):
                if txt is None:
                    allowed_col.append(True)
                    delay_col.append(None)
                    continue
                r = cache.get(txt)
                if r is None:
                    r = cache[txt] = parse_robots(txt)
                try:
                    sp = urlsplit(url or "")
                    path = (sp.path or "/") + \
                        (("?" + sp.query) if sp.query else "")
                except ValueError:
                    path = "/"
                allowed_col.append(bool(is_allowed(r, agent, path)))
                d = crawl_delay(r, agent)
                delay_col.append(int(d * 1000) if d is not None else None)
            # passthrough columns stay Arrow: a round trip through
            # Python objects would shift timestamps by the session zone
            keep = [n for n in rb.schema.names
                    if n not in ("_host", "_robots_txt")]
            yield pa.RecordBatch.from_arrays(
                [rb.column(n) for n in keep]
                + [pa.array(allowed_col, pa.bool_()),
                   pa.array(delay_col, pa.int64())],
                names=keep + ["allowed", "delay_ms"])

    return joined.mapInArrow(gate, schema_out).select(
        *cols, "allowed", "delay_ms")


def robots_check(spark: SparkSession, sf_dir: str,
                 agent: str = ROBOTS_AGENT) -> DataFrame:
    """Per-document crawl-gate verdict: (doc_id, url, allowed, delay_ms)
    for the corpus's template urls against their hosts' robots.txt —
    the driver-facing composition of ``synthesize_robots`` (fetched-blob
    stand-ins) and ``robots_verdicts`` (the production gate)."""
    import os as _os

    from .ops import _spread

    # documents is a single-row-group file (1-2 scan splits); without
    # the spread the per-url Python gate downstream runs on that many
    # cores (the robots join broadcasts, so nothing else re-splits)
    docs = _spread(spark.read.parquet(
        _os.path.join(sf_dir, "documents.parquet")).select("doc_id"))
    doc_id = F.col("doc_id").cast("long")
    pages = docs.select(doc_id.alias("doc_id"),
                        template_url_expr(doc_id).alias("url"))
    return robots_verdicts(pages, synthesize_robots(spark), agent=agent)


def host_of_url(url: str | Column) -> Column:
    """The host of the absolute url in column ``url``, lower-cased: any
    userinfo is stripped and the capture stops at port, path, query or
    fragment, so one real host is one key; '' when there is no host."""
    return F.lower(F.regexp_extract(
        url, r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)", 1))


def robots_filter(pages: DataFrame, robots: DataFrame,
                  agent: str = ROBOTS_AGENT) -> DataFrame:
    """Drop pages whose url their host's robots.txt disallows for
    ``agent`` — the pre-fetch politeness stage of a crawl pipeline:
    ``robots_verdicts`` filtered on ``allowed``, columns unchanged.
    Pages with no robots row pass (the REP default); pages whose url
    has no parseable host also pass (gating them is the fetcher's
    concern)."""
    return (robots_verdicts(pages, robots, agent).where("allowed")
            .select(*pages.columns))


_WARC_DATE_FRACTION = re.compile(r"\.[0-9]+(?=Z\Z)")


def _warc_epoch(date: str):
    """WARC-Date -> UTC epoch seconds (int) or None — the same parse on
    the Spark and oracle sides of the index. WARC 1.1 fractional
    seconds are floored, as ``unix_timestamp(warc_ts)`` does."""
    import datetime as _dt
    whole = _WARC_DATE_FRACTION.sub("", date, count=1)
    try:
        return int(_dt.datetime.strptime(whole, "%Y-%m-%dT%H:%M:%SZ")
                   .replace(tzinfo=_dt.timezone.utc).timestamp())
    except ValueError:
        return None


def warc_index(spark: SparkSession, warc_dir: str) -> DataFrame:
    """CDX-style URL index over WARC segments: one row per response
    record with its SURT key, UTC capture epoch, and the (file, offset,
    length) triple addressing the record's own gzip member — the
    web-archive lookup contract (pywb/OpenWayback/CC index): sort by
    (surt, warc_epoch) and a domain's whole history is a range scan,
    each hit fetchable with one ranged read. File-grain parallel like
    every WARC pass here."""
    raw = (spark.read.format("binaryFile").load(warc_dir)
           .select("path", "content"))
    return map_rows(
        raw, "surt string, url string, warc_epoch long, file string, "
             "offset long, length long, html_md5 string", _index_rows)


def _index_rows(path: str, blob: bytes):
    from nreadability_spark.readability.surt import surt_key
    fname = os.path.basename(path)
    for off, length, uri, date, html in _iter_warc_records_indexed(blob):
        yield {"surt": surt_key(uri), "url": uri,
               "warc_epoch": _warc_epoch(date), "file": fname,
               "offset": off, "length": length,
               "html_md5": hashlib.md5(html).hexdigest()}


def warc_index_write(spark: SparkSession, warc_dir: str, out_dir: str,
                     n_shards: int | None = None) -> None:
    """Materialize the CDX index in its serving layout: globally
    range-partitioned and sorted by (surt, warc_epoch), so a domain
    lookup binary-searches one shard and scans a contiguous run — the
    layout pywb/CC's index server assumes. One RangePartitioning
    exchange (sampled split points) + in-partition sort; shard count
    defaults to the cluster's parallelism."""
    df = warc_index(spark, warc_dir)
    if n_shards is None:
        n_shards = spark.sparkContext.defaultParallelism
    (df.repartitionByRange(n_shards, "surt", "warc_epoch")
     .sortWithinPartitions("surt", "warc_epoch")
     .write.mode("overwrite").parquet(out_dir))


def read_pages_warc_indexed(spark: SparkSession, index_dir: str,
                            warc_dir: str, predicate=None,
                            with_stats: bool = False) -> DataFrame:
    """Selective re-extraction: read ONLY the WARC records a CDX-index
    predicate selects, with the index's (file, offset, length) members
    as the work units instead of whole segment files.

    This is the path that re-processes one host or one snapshot diff
    without scanning 100 TB: the index scan prunes with parquet min/max
    statistics, each task then seek()+read()s just its members' byte
    ranges (a ranged GET on an object store), and a 1 GB segment no
    longer serializes on one task — parallelism is record-grain, fixing
    the per-file grain of ``read_pages_warc``. The member bytes decode
    through the same bounded streaming parser as the full-scan path, so
    selected pages come back byte-identical to it.

    ``predicate`` is a SQL string or Column over the index columns
    (surt, url, warc_epoch, file, offset, length, html_md5). A member
    holding several records decodes once; only records matching a
    selected (url, html_md5) identity are emitted, so selection
    semantics equal "filter the full-scan output", including duplicate
    captures. ``with_stats`` appends (file, offset, length, bytes_read)
    for IO accounting; bytes_read == length proves nothing outside the
    member was touched."""
    idx = spark.read.parquet(index_dir)
    if predicate is not None:
        idx = idx.where(predicate)
    # shuffle only the tiny index rows: file-key partitions + offset
    # order give each task sequential forward reads in few files; the
    # member grouping reuses the file partitioning (no second exchange)
    members = (idx.repartition("file")
               .groupBy("file", "offset", "length")
               .agg(F.collect_set(F.struct("url", "html_md5")).alias("want"))
               .sortWithinPartitions("file", "offset"))

    def decode(f, off, ln, want):
        with open(os.path.join(warc_dir, f), "rb") as fh:
            fh.seek(off)
            data = fh.read(ln)
        want = {(w["url"], w["html_md5"]) for w in want}
        for uri, date, html in _parse_warc_records(data):
            if (uri, hashlib.md5(html).hexdigest()) in want:
                yield {"url": uri, "warc_date": date, "html": html,
                       "file": f, "offset": off, "length": ln,
                       "bytes_read": len(data)}

    pages = map_rows(
        members, "url string, warc_date string, html binary, "
                 "file string, offset long, length long, bytes_read long",
        decode)
    extra = ("file", "offset", "length", "bytes_read") if with_stats else ()
    return _as_pages(pages, *extra)


def warc_lookup(spark: SparkSession, index_dir: str, url: str) -> DataFrame:
    """Serve one URL's capture history from the materialized index:
    canonicalize the query to its SURT key and read the range-ordered
    shards with the equality predicate PUSHED to the parquet scan —
    min/max statistics skip every shard and row group outside the key's
    range, so a lookup touches ~one shard of the whole index (the
    ranged-read analog of a wayback query). Returns (surt, url,
    warc_epoch, file, offset, length) rows, newest first."""
    from nreadability_spark.readability.surt import surt_key
    key = surt_key(url)
    return (spark.read.parquet(index_dir)
            .where(F.col("surt") == key)
            .orderBy(F.col("warc_epoch").desc_nulls_last()))


def write_pages_warc(pages: DataFrame, out_dir: str,
                     num_files: int | None = None) -> DataFrame:
    """Distributed WARC sink: materialize a pages table as per-record-
    gzip WARC/1.0 segments — the export half of the archive lifecycle
    (re-sharding a crawl, handing a filtered sub-corpus to a tool that
    speaks WARC, or writing a recrawl delta as its own segment set).
    The reference has no archive format at all (its input is a decoded
    string, Carbon.Readability/TranscodeRequest.cs:5-39); this is the
    raw-crawl ambition's write side, mirroring ``read_pages_warc``.

    Each record is one independently-decodable gzip member (the CC/CDX
    layout every reader here relies on: ``warc_index`` can index the
    output, ``warc_lookup``/``read_pages_warc_indexed`` can range-read
    it), html goes behind a plain HTTP/1.1 envelope with no transfer or
    content coding, and WARC-Date is rendered in UTC so the instant
    survives any cluster timezone. Round-trips byte-identically through
    ``read_pages_warc`` (pytest-locked).

    Scale shape: one optional repartition sizes the segments, then each
    task streams its partition straight to ONE segment file — no
    driver collect, no per-record files, memory O(largest record).
    ``out_dir`` must be task-reachable storage (shared FS / fuse mount;
    an object-store port swaps ``open`` for a multipart upload).
    A null url, or one holding CR or LF (it would inject WARC headers),
    fails the task with a ``ValueError`` naming it, and the task removes
    its unfinished segment. Returns the (file, records) manifest, one
    row per non-empty segment."""
    cols = pages.select(
        "url",
        F.expr("date_format(to_utc_timestamp(warc_ts, "
               "current_timezone()), \"yyyy-MM-dd'T'HH:mm:ss'Z'\")")
        .alias("warc_date"),
        "html")
    if num_files:
        cols = cols.repartition(num_files)

    def write_part(batches):
        import gzip

        import pyarrow as pa
        from pyspark import TaskContext
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        tmp = f"{path}.inprogress-{pid}"
        n = 0
        fh = None
        try:
            for rb in batches:
                for url, date, html in zip(*(c.to_pylist()
                                             for c in rb.columns)):
                    if url is None or "\r" in url or "\n" in url:
                        raise ValueError(
                            f"write_pages_warc: url {url!r} cannot be a "
                            "WARC-Target-URI (null or holds CR/LF)")
                    http = (b"HTTP/1.1 200 OK\r\nContent-Type: "
                            b"text/html; charset=utf-8\r\n\r\n"
                            + (html or b""))
                    head = (f"WARC/1.0\r\n"
                            f"WARC-Type: response\r\n"
                            f"WARC-Target-URI: {url}\r\n"
                            + (f"WARC-Date: {date}\r\n" if date else "")
                            + f"Content-Length: {len(http)}\r\n\r\n"
                            ).encode("utf-8")
                    if fh is None:
                        fh = open(tmp, "wb")
                    fh.write(gzip.compress(head + http + b"\r\n\r\n",
                                           mtime=0))
                    n += 1
        except BaseException:
            # a partial segment must not stay behind: warc_index(out_dir)
            # loads every file in the directory
            if fh is not None:
                fh.close()
                os.remove(tmp)
            raise
        if fh is not None:
            fh.close()
            os.replace(tmp, path)
            yield pa.RecordBatch.from_pydict(
                {"file": [os.path.basename(path)], "records": [n]},
                schema=pa.schema([("file", pa.string()),
                                  ("records", pa.int64())]))

    os.makedirs(out_dir, exist_ok=True)
    manifest = cols.mapInArrow(write_part, "file string, records long")
    # the action lives here so the sink call IS the write (like
    # DataFrame.write); the returned manifest is tiny (one row/segment)
    rows = manifest.collect()
    return pages.sparkSession.createDataFrame(
        rows or [], "file string, records long")
