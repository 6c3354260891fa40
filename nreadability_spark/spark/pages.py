"""Deterministic synthesis of the Common-Crawl-style ``pages`` table.

Input shape per BASELINE.json ``input_hint``:
    pages(url: string, warc_ts: timestamp, html: binary, text: string,
          lang: string)

Two deterministic row sources, no RNG, no wall clock:

* **fixture rows** — the reference's own saved sample pages
  (SampleInput_* / SampleWebInput_*), with the urls its test suite
  associates with them; these anchor behavioral parity;
* **template rows** — derived 1:1 from the driver-generated ``documents``
  table at the chosen scale factor: each document's text is wrapped in a
  seeded page skeleton that exercises every operator class (sidebar strip,
  div->p, double-br, conditional table cleanup, URL resolution, next-page
  link). ``doc_id % 97`` picks the host, creating the host-level clustering
  the salted repartition defuses. ``doc_id % 20 == 0`` rows get a truncated
  ``<script`` tail to exercise the parse-retry and failure paths.

The same synthesis exists in two forms: ``template_html_expr`` (Spark
column expressions — runs distributed, scales to any SF) and
``template_html_py`` (pure Python — the local oracle used by the
byte-identity tests). They must render identical bytes.
"""

from __future__ import annotations

import glob
import os
import warnings

from pyspark.sql import DataFrame, SparkSession, functions as F

from .job import map_rows

FIXTURE_DIR = "/root/reference/Carbon.Readability.Tests"

THEVERGE_URLS = {
    14: "http://www.theverge.com/2012/5/25/3042640/samsung-galaxy-s-iii-review",
    15: "http://www.theverge.com/2012/6/21/3032067/casio-bluetooth-g-shock-watch-gb6900-review",
}
_FIXTURE_LANGS = {2: "pl"}

_EPOCH = "2026-01-01 00:00:00"


def fixture_rows() -> list[tuple]:
    """(url, seq, html_bytes, text, lang) for the 42 reference pages;
    warns when ``FIXTURE_DIR`` holds none."""
    rows = []
    seq = 0
    for path in sorted(glob.glob(os.path.join(FIXTURE_DIR, "SampleInput",
                                              "SampleInput_*.html"))):
        num = int(os.path.basename(path)[12:14])
        url = THEVERGE_URLS.get(num, f"https://fixtures.local/sample/{num:02d}")
        with open(path, "rb") as f:
            html = f.read()
        rows.append((url, seq, html, "", _FIXTURE_LANGS.get(num, "en")))
        seq += 1
    for path in sorted(glob.glob(os.path.join(FIXTURE_DIR, "SampleWebInput",
                                              "*.html"))):
        name = os.path.basename(path)[:-5]
        url = f"https://fixtures.local/web/{name}"
        with open(path, "rb") as f:
            html = f.read()
        rows.append((url, seq, html, "", "en"))
        seq += 1
    if not rows:
        # callers union these into their corpus; say so instead of
        # silently running on the template rows alone
        warnings.warn(f"no reference fixture pages under {FIXTURE_DIR}; "
                      "the corpus holds template rows only", stacklevel=2)
    return rows


# --- template page (kept in one place so Spark and Python render match) ------

_PAGE_HEAD = (
    '<html><head><title>{title} | Site {host}</title>'
    '<meta name="viewport" content="width=1000" />'
    '<style>.x{{color:#000}}</style>'
    '<script src="/app.js">var x=1;</script></head><body>'
    '<div class="sidebar"><a href="/nav/1">Home</a><a href="/nav/2">News</a>'
    '<a href="/nav/3">Sports</a><a href="/nav/4">Tech</a></div>'
    '<div id="main" class="article content"><h1>{title}</h1>'
)
_PAGE_TAIL = (
    '<div>bare text inside a div<a href="/x">link</a>trailing text</div>'
    'intro line<br /><br />after the break'
    '<table class="widget"><tr><td><a href="/w1">w</a></td></tr></table>'
    '<p><img src="img/{doc_id}.jpg" /></p>'
    '<a href="/articles/{doc_id}?page=2">Next Page 2</a></div>'
    '<div class="footer comment">copyright junk links</div></body></html>'
)


def template_html_py(doc_id: int, text: str) -> str:
    """Local (oracle) renderer: must match template_html_expr byte-for-byte."""
    host = doc_id % 97
    title = f"Article {doc_id}"
    t = text or ""
    p1 = t
    p2 = (t[:220] + ", " + t[:120]) if t else ""
    p3 = t[:64]
    body = f"<p>{p1}</p><p>{p2}</p><p>{p3}</p>"
    page = (_PAGE_HEAD.format(title=title, host=host) + body
            + _PAGE_TAIL.format(doc_id=doc_id))
    if doc_id % 97 == 0:
        # contentless page: exercises the extracted=false path
        return f"<html><head><title>{title}</title></head><body></body></html>"
    if doc_id % 20 == 0:
        # hosed page: truncate mid-script to exercise the retry path
        page = page[:len(page) * 2 // 3] + "<script>var broken = '"
    return page


def template_html_expr(doc_id_col, text_col):
    """Spark-side renderer of the same template (distributed, any SF)."""
    host = doc_id_col % 97
    title = F.concat(F.lit("Article "), doc_id_col.cast("string"))
    t = F.coalesce(text_col, F.lit(""))
    p1 = t
    p2 = F.when(t == "", F.lit("")).otherwise(
        F.concat(F.substring(t, 1, 220), F.lit(", "), F.substring(t, 1, 120)))
    p3 = F.substring(t, 1, 64)
    body = F.concat(F.lit("<p>"), p1, F.lit("</p><p>"), p2,
                    F.lit("</p><p>"), p3, F.lit("</p>"))
    head = F.concat(
        F.lit('<html><head><title>'), title,
        F.lit(' | Site '), host.cast("string"),
        F.lit('</title><meta name="viewport" content="width=1000" />'
              '<style>.x{color:#000}</style>'
              '<script src="/app.js">var x=1;</script></head><body>'
              '<div class="sidebar"><a href="/nav/1">Home</a>'
              '<a href="/nav/2">News</a><a href="/nav/3">Sports</a>'
              '<a href="/nav/4">Tech</a></div>'
              '<div id="main" class="article content"><h1>'), title,
        F.lit("</h1>"))
    tail = F.concat(
        F.lit('<div>bare text inside a div<a href="/x">link</a>trailing text'
              '</div>intro line<br /><br />after the break'
              '<table class="widget"><tr><td><a href="/w1">w</a></td></tr>'
              '</table><p><img src="img/'), doc_id_col.cast("string"),
        F.lit('.jpg" /></p><a href="/articles/'), doc_id_col.cast("string"),
        F.lit('?page=2">Next Page 2</a></div>'
              '<div class="footer comment">copyright junk links</div>'
              "</body></html>"))
    page = F.concat(head, body, tail)
    return F.when(
        doc_id_col % 97 == 0,
        F.concat(F.lit("<html><head><title>"), title,
                 F.lit("</title></head><body></body></html>"))
    ).when(
        doc_id_col % 20 == 0,
        F.concat(F.substring(page, 1,
                             (F.length(page) * 2 / 3).cast("int")),
                 F.lit("<script>var broken = '"))
    ).otherwise(page)


def template_url_py(doc_id: int) -> str:
    return f"https://host{doc_id % 97}.example.org/articles/{doc_id}"


_LANG_CYCLE = ["en", "pl", "de", "fr"]


def chained_page_py(doc_id: int, text: str, page_no: int,
                    n_pages: int) -> tuple[str, str]:
    """(url, html) for page ``page_no`` of an ``n_pages`` article chain.
    Pages link forward via a next-page anchor the D2 detector scores >= 50."""
    base = template_url_py(doc_id)
    url = base if page_no == 1 else f"{base}?page={page_no}"
    title = f"Article {doc_id}"
    t = text or ""
    body = "".join(
        f"<p>Page {page_no} section {k}: {t[:200]}, {t[:90]}.</p>"
        for k in range(1, 4))
    next_link = ""
    if page_no < n_pages:
        next_link = (f'<a href="{base}?page={page_no + 1}">'
                     f"Next Page {page_no + 1}</a>")
    return url, (
        f"<html><head><title>{title} | Site {doc_id % 97}</title></head>"
        f'<body><div id="main" class="article content">'
        f"<h1>{title}</h1>{body}{next_link}</div>"
        f'<div class="footer comment">junk</div></body></html>')


def synthesize_chained_pages(spark: SparkSession, sf_dir: str,
                             n_pages: int = 3,
                             every: int = 5) -> DataFrame:
    """Multi-page chain corpus: every ``every``-th document becomes an
    ``n_pages`` article; all other documents stay single-page. Built in a
    distributed pass (one input row fans out to its chain pages)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")) \
        .select("doc_id", "text")

    def chain(doc_id, text):
        total = n_pages if doc_id % every == 0 else 1
        for k in range(1, total + 1):
            url, html = chained_page_py(doc_id, text, k, total)
            yield {"url": url, "html": html.encode("utf-8")}

    return map_rows(docs, "url string, html binary", chain)


# --- deterministic WARC corpus (raw-crawl ingest, pass-D path) ---------------
#
# The same template pages, but serialized as real WARC/1.0 archives with
# production Common-Crawl layout (one gzip member per record) so the
# driver's correctness gate exercises the ENTIRE raw-ingest path:
# binaryFile scan -> member-at-a-time gunzip -> streaming record parse ->
# HTTP envelope strip -> ANSI-safe UTC date cast. Deterministic parser
# stress is woven in: request/warcinfo records that must be dropped
# (doc_id % 50), a garbage Content-Length that must resynchronize on the
# record delimiter (doc_id % 61), a missing WARC-Date that must land
# as a null timestamp (doc_id % 83), and HTTP transfer/content codings
# (chunked / gzip / zlib+raw deflate / gzip-then-chunked, doc_id % 9)
# the payload decoder must undo.

_WARC_EPOCH_S = 1767225600  # 2026-01-01T00:00:00Z


def warc_date_py(doc_id: int) -> str:
    if doc_id % 83 == 0:
        return ""  # record carries no WARC-Date -> null warc_ts
    import datetime as _dt
    t = _dt.datetime.fromtimestamp(_WARC_EPOCH_S + doc_id * 137,
                                   _dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def _warc_head(wtype: str, uri: str, date: str, length) -> bytes:
    head = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
    if uri:
        head += f"WARC-Target-URI: {uri}\r\n"
    if date:
        head += f"WARC-Date: {date}\r\n"
    head += f"Content-Length: {length}\r\n\r\n"
    return head.encode("utf-8")


def _http_chunked(payload: bytes, size: int = 500) -> bytes:
    """Deterministic Transfer-Encoding: chunked framing."""
    out = []
    for i in range(0, len(payload), size):
        c = payload[i:i + size]
        out.append(b"%x\r\n" % len(c) + c + b"\r\n")
    out.append(b"0\r\n\r\n")
    return b"".join(out)


def warc_record_py(doc_id: int, text: str) -> bytes:
    """One WARC response record (html payload behind an HTTP envelope)
    for a template page, byte-deterministic in doc_id. Real CC response
    records carry raw HTTP bytes with transfer/content codings, so the
    envelope rotates through them (doc_id % 9): chunked framing (2),
    gzip (4), zlib-deflate (6), raw-deflate (7), and gzip-then-chunked
    (8) — the reader must undo all of them to recover the html bytes."""
    import gzip as _gzip
    import zlib as _zl
    url = template_url_py(doc_id)
    html = template_html_py(doc_id, text).encode("utf-8")
    head = b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n"
    body = html
    m = doc_id % 9
    if m == 2:
        head += b"Transfer-Encoding: chunked\r\n"
        body = _http_chunked(body)
    elif m == 4:
        head += b"Content-Encoding: gzip\r\n"
        body = _gzip.compress(body, mtime=0)
    elif m == 6:
        head += b"Content-Encoding: deflate\r\n"
        body = _zl.compress(body)
    elif m == 7:
        # raw deflate (no zlib wrapper) — common server misbehavior
        head += b"Content-Encoding: deflate\r\n"
        c = _zl.compressobj(wbits=-15)
        body = c.compress(body) + c.flush()
    elif m == 8:
        # content coding applies first, then transfer framing
        head += (b"Content-Encoding: gzip\r\n"
                 b"Transfer-Encoding: chunked\r\n")
        body = _http_chunked(_gzip.compress(body, mtime=0))
    http = head + b"\r\n" + body
    length = "botched" if doc_id % 61 == 0 else len(http)
    return (_warc_head("response", url, warc_date_py(doc_id), length)
            + http + b"\r\n\r\n")


def synthesize_warc_dir(sf_dir: str, n_files: int = 8,
                        out_dir: str | None = None) -> str:
    """Materialize the documents table as ``n_files`` per-record-gzip
    WARC segments under a content-addressed tmp dir (idempotent: a
    marker file keyed on the corpus signature skips the rewrite).
    Driver-side by design — this builds the INPUT fixture the
    distributed reader is tested against, exactly like fixture_rows()."""
    import gzip
    import hashlib
    import tempfile

    import pyarrow.parquet as pq
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    docs = sorted(zip(t["doc_id"].to_pylist(), t["text"].to_pylist()))
    # the signature folds in a CONTENT fingerprint, not just the corpus
    # shape — a regenerated corpus with identical ids but different text
    # must invalidate the cached fixture, never silently reuse it
    fp = hashlib.md5()
    for did, text in docs:
        fp.update(str(did).encode())
        fp.update((text or "").encode("utf-8", "surrogatepass"))
        fp.update(b"\x00")
    sig = hashlib.md5(
        f"{sf_dir}:{n_files}:{len(docs)}:{fp.hexdigest()}:v2"
        .encode()).hexdigest()
    if out_dir is None:
        out_dir = os.path.join(tempfile.gettempdir(), f"nrs_warc_{sig[:12]}")
    marker = os.path.join(out_dir, ".complete")
    if os.path.isfile(marker):
        with open(marker) as f:
            if f.read() == sig:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    gz = lambda rec: gzip.compress(rec, mtime=0)  # noqa: E731
    files: list[list[bytes]] = [[] for _ in range(n_files)]
    info = _warc_head("warcinfo", "", warc_date_py(1), 15) + \
        b"software: nrs\r\n\r\n\r\n"
    files[0].append(gz(info))
    for doc_id, text in docs:
        k = int(doc_id) % n_files
        files[k].append(gz(warc_record_py(int(doc_id), text)))
        if doc_id % 50 == 0:
            req = _warc_head("request", template_url_py(int(doc_id)),
                             warc_date_py(int(doc_id)), 5) + b"GET /\r\n\r\n"
            files[k].append(gz(req))
    for k, members in enumerate(files):
        with open(os.path.join(out_dir, f"seg-{k:05d}.warc.gz"), "wb") as f:
            f.write(b"".join(members))
    with open(marker, "w") as f:
        f.write(sig)
    return out_dir


def synthesize_pages(spark: SparkSession, sf_dir: str,
                     include_fixtures: bool = True,
                     replicate: int = 1) -> DataFrame:
    """Build the pages table: fixture rows + one template page per
    ``documents`` row at ``sf_dir``. ``replicate`` > 1 scales the corpus
    for benchmarking (urls get a ?rep=k suffix to stay unique)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    if replicate > 1:
        reps = spark.range(replicate).withColumnRenamed("id", "rep")
        docs = docs.crossJoin(F.broadcast(reps))
    else:
        docs = docs.withColumn("rep", F.lit(0).cast("long"))

    doc_id = F.col("doc_id").cast("long")
    url = F.concat(
        F.lit("https://host"), (doc_id % 97).cast("string"),
        F.lit(".example.org/articles/"), doc_id.cast("string"),
        F.when(F.col("rep") > 0,
               F.concat(F.lit("?rep="), F.col("rep").cast("string")))
        .otherwise(F.lit("")))
    templ = docs.select(
        url.alias("url"),
        F.to_timestamp(F.lit(_EPOCH)).alias("base_ts"),
        doc_id.alias("doc_id"),
        template_html_expr(doc_id, F.col("text")).alias("html_str"),
        F.col("text").alias("text"),
        F.element_at(F.array(*[F.lit(x) for x in _LANG_CYCLE]),
                     (doc_id % 4 + 1).cast("int")).alias("lang"),
    ).select(
        "url",
        (F.col("base_ts") + F.make_interval(secs=F.col("doc_id") * 137))
        .alias("warc_ts"),
        F.encode(F.col("html_str"), "UTF-8").alias("html"),
        "text", "lang",
    )

    if not include_fixtures:
        return templ

    fx = fixture_rows()
    fx_df = spark.createDataFrame(
        [(u, s, bytearray(h), t, lg) for (u, s, h, t, lg) in fx],
        "url string, seq long, html binary, text string, lang string",
    ).select(
        "url",
        (F.to_timestamp(F.lit(_EPOCH))
         + F.make_interval(secs=F.col("seq") * 137 + 7)).alias("warc_ts"),
        "html", "text", "lang",
    )
    return fx_df.unionByName(templ)
