"""Materialize pure-Python-kernel oracles for the non-SQL driver queries.

The readability kernel is deterministic pure Python, so running it locally
(no Spark) over the same deterministically-synthesized inputs yields an
independent oracle for the driver's DuckDB-vs-Spark hash gate: the driver
reads these parquet files via ``read_parquet('<abs path>')`` in
``oracle_sql()`` while the Spark side recomputes everything distributed.
Settings are read from the engine's constants, not restated; the stitch
replay, histogram and frame cut below are this script's own reference
copies. The byte-identity of the two page renderers (template_html_py
vs template_html_expr) is locked by tests/test_spark_job.py.

Regenerate after ANY kernel change:

    python scripts/gen_oracles.py [sf_dir ...]

Writes /root/repo/oracles/<sfname>/{extract_full,stitch_multipage,
media_features,media_frames}.parquet.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from nreadability_spark.spark.job import (_hooked_row,
                                           transcode_row)  # noqa: E402
from nreadability_spark.spark.multimodal import (_FEATURE_DIMS, _FRAME_BYTES,
                                                 _FRAME_EVERY, _KINDS,
                                                 _decode_payload,
                                                 _fake_payload)  # noqa: E402
from nreadability_spark.spark.pages import (N_HOSTS, chain_py,
                                            template_html_py,
                                            template_url_py)  # noqa: E402
from nreadability_spark.spark.stitch import MAX_PAGES  # noqa: E402

ORACLE_DIR = os.path.join(_REPO, "oracles")


def _md5(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _read_documents(sf_dir: str) -> list[tuple[int, str]]:
    t = pq.read_table(os.path.join(sf_dir, "documents.parquet"),
                      columns=["doc_id", "text"])
    return list(zip(t.column("doc_id").to_pylist(),
                    t.column("text").to_pylist()))


def gen_extract_full(docs: list[tuple[int, str]]) -> pa.Table:
    """Per-url kernel output matching _extract_articles' column contract,
    plus html_bytes/text_chars for the extract_metrics rollup."""
    cols: dict[str, list] = {k: [] for k in (
        "url", "extracted", "title", "next_page_url", "content_text",
        "content_md5", "content_len", "failed", "html_bytes", "text_chars")}
    for doc_id, text in docs:
        url = template_url_py(int(doc_id))
        html = template_html_py(int(doc_id), text).encode("utf-8")
        r = transcode_row(url, html)
        content = r["content"] or ""
        content_text = r["content_text"] or ""
        cols["url"].append(url)
        cols["extracted"].append(bool(r["extracted"]))
        cols["title"].append(r["title"] or "")
        cols["next_page_url"].append(r["next_page_url"] or "")
        cols["content_text"].append(content_text)
        cols["content_md5"].append(_md5(content))
        cols["content_len"].append(len(content))
        cols["failed"].append(r["error"] is not None)
        cols["html_bytes"].append(r["html_bytes"])
        cols["text_chars"].append(len(content_text))
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "extracted": pa.array(cols["extracted"], pa.bool_()),
        "title": pa.array(cols["title"], pa.string()),
        "next_page_url": pa.array(cols["next_page_url"], pa.string()),
        "content_text": pa.array(cols["content_text"], pa.string()),
        "content_md5": pa.array(cols["content_md5"], pa.string()),
        "content_len": pa.array(cols["content_len"], pa.int64()),
        "failed": pa.array(cols["failed"], pa.bool_()),
        "html_bytes": pa.array(cols["html_bytes"], pa.int64()),
        "text_chars": pa.array(cols["text_chars"], pa.int64()),
    })


def gen_extract_hooked(docs: list[tuple[int, str]]) -> pa.Table:
    """Kernel output with the demo Image/Anchor transformer hooks — the
    reference's extension points (origsrc/orighref attrs + CDN img
    rewrite) exercised through the same batch contract."""
    cols: dict[str, list] = {k: [] for k in (
        "url", "extracted", "title", "content_md5", "content_len",
        "failed")}
    for doc_id, text in docs:
        url = template_url_py(int(doc_id))
        html = template_html_py(int(doc_id), text).encode("utf-8")
        r = _hooked_row(url, html)
        content = r["content"] or ""
        cols["url"].append(url)
        cols["extracted"].append(bool(r["extracted"]))
        cols["title"].append(r["title"] or "")
        cols["content_md5"].append(_md5(content))
        cols["content_len"].append(len(content))
        cols["failed"].append(r["error"] is not None)
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "extracted": pa.array(cols["extracted"], pa.bool_()),
        "title": pa.array(cols["title"], pa.string()),
        "content_md5": pa.array(cols["content_md5"], pa.string()),
        "content_len": pa.array(cols["content_len"], pa.int64()),
        "failed": pa.array(cols["failed"], pa.bool_()),
    })


def gen_extract_links(docs: list[tuple[int, str]]) -> pa.Table:
    """Kernel link-graph edges: per page, distinct resolved anchor
    targets with occurrence counts (extract_links_row run locally)."""
    from nreadability_spark.spark.job import extract_links_row
    cols: dict[str, list] = {"url": [], "link_url": [], "n": []}
    for doc_id, text in docs:
        url = template_url_py(int(doc_id))
        html = template_html_py(int(doc_id), text).encode("utf-8")
        for target, n in extract_links_row(url, html):
            cols["url"].append(url)
            cols["link_url"].append(target)
            cols["n"].append(n)
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "link_url": pa.array(cols["link_url"], pa.string()),
        "n": pa.array(cols["n"], pa.int64()),
    })


def gen_stitch(docs: list[tuple[int, str]]) -> pa.Table:
    """Local replay of stitch_multipage: kernel next-page edges, BFS from
    unpointed roots, WebTranscoder stitch per multi-page chain."""
    from nreadability_spark.readability.webtranscoder import WebTranscoder

    page_map: dict[str, str] = {}
    for doc_id, text in docs:
        page_map.update(chain_py(int(doc_id), text))
    links: dict[str, str] = {}
    for u, h in page_map.items():
        r = transcode_row(u, h.encode("utf-8"))
        if r["next_page_url"]:
            links[u] = r["next_page_url"]
    pointed = set(links.values())
    cols: dict[str, list] = {k: [] for k in (
        "root_url", "extracted", "title", "n_pages", "content_md5")}
    for root in page_map:
        if root in pointed:
            continue
        chain = [root]
        seen = {root}
        while (len(chain) < MAX_PAGES and chain[-1] in links
               and links[chain[-1]] not in seen):
            nxt = links[chain[-1]]
            chain.append(nxt)
            seen.add(nxt)
        members = [u for u in chain if u in page_map]
        if len(members) <= 1:
            continue
        wt = WebTranscoder(fetcher=page_map.get)
        result = wt.transcode(root)
        cols["root_url"].append(root)
        cols["extracted"].append(bool(result.content_extracted))
        cols["title"].append(result.title or "")
        cols["n_pages"].append(len(members))
        cols["content_md5"].append(_md5(result.content or ""))
    return pa.table({
        "root_url": pa.array(cols["root_url"], pa.string()),
        "extracted": pa.array(cols["extracted"], pa.bool_()),
        "title": pa.array(cols["title"], pa.string()),
        "n_pages": pa.array(cols["n_pages"], pa.int64()),
        "content_md5": pa.array(cols["content_md5"], pa.string()),
    })


def gen_media_features(docs: list[tuple[int, str]]) -> pa.Table:
    cols: dict[str, list] = {k: [] for k in (
        "media_id", "kind", "ok", "payload_bytes", "feature_q")}
    for doc_id, _text in docs:
        mid = int(doc_id)
        payload = _fake_payload(mid, _KINDS[mid % 3])
        kind, arr = _decode_payload(payload)
        hist = np.bincount(arr % _FEATURE_DIMS,
                           minlength=_FEATURE_DIMS).astype(np.float32)
        norm = float(np.linalg.norm(hist))
        feat = hist / norm if norm > 0 else hist
        # Spark stores the feature as float32; floor(double(f32)*10000)
        # is the exact quantization both engines see
        q = [int(math.floor(float(np.float32(float(x))) * 10000))
             for x in feat]
        cols["media_id"].append(mid)
        cols["kind"].append(kind)
        cols["ok"].append("ok")
        cols["payload_bytes"].append(len(payload))
        cols["feature_q"].append(",".join(str(v) for v in q))
    return pa.table({
        "media_id": pa.array(cols["media_id"], pa.int64()),
        "kind": pa.array(cols["kind"], pa.string()),
        "ok": pa.array(cols["ok"], pa.string()),
        "payload_bytes": pa.array(cols["payload_bytes"], pa.int64()),
        "feature_q": pa.array(cols["feature_q"], pa.string()),
    })


def gen_media_frames(docs: list[tuple[int, str]]) -> pa.Table:
    cols: dict[str, list] = {k: [] for k in ("media_id", "frame_no",
                                             "frame_md5")}
    for doc_id, _text in docs:
        mid = int(doc_id)
        kind = _KINDS[mid % 3]
        if kind != "video":
            continue
        body = _fake_payload(mid, kind)[16:]
        blocks = [body[i:i + _FRAME_BYTES]
                  for i in range(0, len(body), _FRAME_BYTES)]
        for frame_no, block in enumerate(blocks[::_FRAME_EVERY]):
            cols["media_id"].append(mid)
            cols["frame_no"].append(frame_no)
            cols["frame_md5"].append(hashlib.md5(block).hexdigest())
    return pa.table({
        "media_id": pa.array(cols["media_id"], pa.int64()),
        "frame_no": pa.array(cols["frame_no"], pa.int64()),
        "frame_md5": pa.array(cols["frame_md5"], pa.string()),
    })


def gen_pdf_extract(docs: list[tuple[int, str]]) -> pa.Table:
    """PDF corpus oracle: build_doc_pdf + extract_pdf_text run locally
    over the same documents rows the Spark op synthesizes from."""
    from nreadability_spark.readability.pdf import extract_pdf_text
    from nreadability_spark.spark.multimodal import build_doc_pdf
    cols: dict[str, list] = {k: [] for k in (
        "doc_id", "ok", "n_pages", "text_md5", "text_len")}
    for doc_id, text in docs:
        did = int(doc_id)
        r = extract_pdf_text(build_doc_pdf(did, text))
        text_out = r.text
        cols["doc_id"].append(did)
        cols["ok"].append("ok" if r.ok else f"error: {r.error}"[:100])
        cols["n_pages"].append(len(r.pages))
        cols["text_md5"].append(
            hashlib.md5(text_out.encode("utf-8")).hexdigest())
        cols["text_len"].append(len(text_out))
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "ok": pa.array(cols["ok"], pa.string()),
        "n_pages": pa.array(cols["n_pages"], pa.int64()),
        "text_md5": pa.array(cols["text_md5"], pa.string()),
        "text_len": pa.array(cols["text_len"], pa.int64()),
    })


def gen_robots_check(docs: list[tuple[int, str]]) -> pa.Table:
    """Crawl-gate oracle: the pure robots kernel over the same per-host
    deterministic robots.txt the Spark op joins."""
    from nreadability_spark.readability.robots import (crawl_delay,
                                                       is_allowed,
                                                       parse_robots)
    from nreadability_spark.spark.sources import (ROBOTS_AGENT,
                                                  robots_txt_py)
    parsed = {}
    cols: dict[str, list] = {k: [] for k in (
        "doc_id", "url", "allowed", "delay_ms")}
    for doc_id, _text in docs:
        did = int(doc_id)
        host = did % N_HOSTS
        txt = robots_txt_py(host)
        if txt is None:
            allowed, delay = True, None
        else:
            if host not in parsed:
                parsed[host] = parse_robots(txt)
            r = parsed[host]
            allowed = is_allowed(r, ROBOTS_AGENT, f"/articles/{did}")
            delay = crawl_delay(r, ROBOTS_AGENT)
        cols["doc_id"].append(did)
        cols["url"].append(template_url_py(did))
        cols["allowed"].append(bool(allowed))
        cols["delay_ms"].append(
            int(delay * 1000) if delay is not None else None)
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "url": pa.array(cols["url"], pa.string()),
        "allowed": pa.array(cols["allowed"], pa.bool_()),
        "delay_ms": pa.array(cols["delay_ms"], pa.int64()),
    })


def gen_warc_index(sf_dir: str) -> pa.Table:
    """CDX-index oracle: SURT + member addressing via the pure kernel
    over the same synthesized segments."""
    import glob as _glob

    from nreadability_spark.readability.surt import surt_key
    from nreadability_spark.spark.pages import synthesize_warc_dir
    from nreadability_spark.spark.sources import (_iter_warc_records_indexed,
                                                  _warc_epoch)
    warc_dir = synthesize_warc_dir(sf_dir)
    cols: dict[str, list] = {k: [] for k in (
        "surt", "url", "warc_epoch", "file", "offset", "length",
        "html_md5")}
    for path in sorted(_glob.glob(os.path.join(warc_dir, "*.warc.gz"))):
        with open(path, "rb") as f:
            data = f.read()
        for off, length, uri, date, html in \
                _iter_warc_records_indexed(data):
            cols["surt"].append(surt_key(uri))
            cols["url"].append(uri)
            cols["warc_epoch"].append(_warc_epoch(date))
            cols["file"].append(os.path.basename(path))
            cols["offset"].append(off)
            cols["length"].append(length)
            cols["html_md5"].append(hashlib.md5(html).hexdigest())
    return pa.table({
        "surt": pa.array(cols["surt"], pa.string()),
        "url": pa.array(cols["url"], pa.string()),
        "warc_epoch": pa.array(cols["warc_epoch"], pa.int64()),
        "file": pa.array(cols["file"], pa.string()),
        "offset": pa.array(cols["offset"], pa.int64()),
        "length": pa.array(cols["length"], pa.int64()),
        "html_md5": pa.array(cols["html_md5"], pa.string()),
    })


def gen_warc_pages(sf_dir: str) -> pa.Table:
    """Raw-ingest oracle: the pure streaming WARC parser run locally over
    the SAME deterministic per-record-gzip segments read_pages_warc scans
    distributed — url, UTC epoch (null when the record has no WARC-Date),
    payload md5/length after the HTTP-envelope strip."""
    import datetime
    import glob as _glob

    from nreadability_spark.spark.pages import synthesize_warc_dir
    from nreadability_spark.spark.sources import _parse_warc_records
    warc_dir = synthesize_warc_dir(sf_dir)
    cols: dict[str, list] = {k: [] for k in (
        "url", "warc_epoch", "html_md5", "html_len")}
    for path in sorted(_glob.glob(os.path.join(warc_dir, "*.warc.gz"))):
        with open(path, "rb") as f:
            data = f.read()
        for uri, date, html in _parse_warc_records(data):
            try:
                epoch = int(datetime.datetime.strptime(
                    date, "%Y-%m-%dT%H:%M:%SZ")
                    .replace(tzinfo=datetime.timezone.utc).timestamp())
            except ValueError:
                epoch = None
            cols["url"].append(uri)
            cols["warc_epoch"].append(epoch)
            cols["html_md5"].append(hashlib.md5(html).hexdigest())
            cols["html_len"].append(len(html))
    return pa.table({
        "url": pa.array(cols["url"], pa.string()),
        "warc_epoch": pa.array(cols["warc_epoch"], pa.int64()),
        "html_md5": pa.array(cols["html_md5"], pa.string()),
        "html_len": pa.array(cols["html_len"], pa.int64()),
    })


def generate(sf_dir: str) -> dict[str, str]:
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    out_dir = os.path.join(ORACLE_DIR, sf_name)
    os.makedirs(out_dir, exist_ok=True)
    docs = _read_documents(sf_dir)
    written = {}
    for name, table in (
            ("extract_full", gen_extract_full(docs)),
            ("extract_hooked", gen_extract_hooked(docs)),
            ("extract_links", gen_extract_links(docs)),
            ("stitch_multipage", gen_stitch(docs)),
            ("media_features", gen_media_features(docs)),
            ("media_frames", gen_media_frames(docs)),
            ("warc_pages", gen_warc_pages(sf_dir)),
            ("pdf_extract", gen_pdf_extract(docs)),
            ("robots_check", gen_robots_check(docs)),
            ("warc_index", gen_warc_index(sf_dir))):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        written[name] = path
        print(f"{path}: {table.num_rows} rows")
    return written


if __name__ == "__main__":
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.01"]
    for d in sf_dirs:
        generate(d)
