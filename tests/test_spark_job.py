"""Spark pipeline correctness: byte-identity against the local oracle,
metrics, resume idempotency. Runs at sf0.001 (500 docs + 42 fixtures)."""

import os
import shutil

import pytest

pyspark = pytest.importorskip("pyspark")

from py4j.protocol import Py4JJavaError  # noqa: E402
from nreadability_spark.readability import transcode  # noqa: E402
from nreadability_spark.spark.job import run_extraction, run_job  # noqa: E402
from nreadability_spark.spark import pages as pages_mod  # noqa: E402
from nreadability_spark.spark.pages import (  # noqa: E402
    synthesize_pages, template_html_py, template_url_py)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("nreadability-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def pages(spark):
    return synthesize_pages(spark, SF_DIR).cache()


def test_pages_schema(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang"]
    types = {f.name: f.dataType.simpleString() for f in pages.schema.fields}
    assert types["html"] == "binary"
    assert types["warc_ts"] == "timestamp"
    # the corpus is every documents row plus every fixture page (none
    # where the fixture directory is missing): nothing dropped, no dupes
    n_docs = pages.sparkSession.read.parquet(
        os.path.join(SF_DIR, "documents.parquet")).count()
    assert pages.count() == n_docs + len(pages_mod.fixture_rows())


def test_fixture_rows_warns_when_fixture_dir_is_empty(tmp_path, monkeypatch):
    """A missing or empty fixture directory must not shrink the corpus
    silently: fixture_rows() warns and names the directory."""
    import re

    monkeypatch.setattr(pages_mod, "FIXTURE_DIR", str(tmp_path))
    with pytest.warns(UserWarning, match=re.escape(str(tmp_path))):
        assert pages_mod.fixture_rows() == []


def test_template_renderers_match(spark, pages):
    """Spark-side template rendering == Python oracle rendering, byte for
    byte (prerequisite for the extraction byte-identity check)."""
    import duckdb
    docs = duckdb.sql(
        f"select doc_id, text from '{SF_DIR}/documents.parquet' "
        "order by doc_id").fetchall()
    expected = {template_url_py(d): template_html_py(d, t) for d, t in docs}
    got = {r["url"]: bytes(r["html"]).decode("utf-8")
           for r in pages.collect() if "example.org" in r["url"]}
    assert set(got) == set(expected)
    mismatches = [u for u in expected if got[u] != expected[u]]
    assert mismatches == [], f"template mismatch for {mismatches[:3]}"


def test_extraction_byte_identity_vs_local_oracle(spark, pages):
    """The core invariant: Spark pipeline output per url == pure-Python
    single-doc transcoder output on the same html, 100% of rows."""
    out = run_extraction(spark, pages, num_partitions=8)
    results = {r["url"]: r for r in out.collect()}
    inputs = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    assert set(results) == set(inputs)

    from nreadability_spark.readability.encoding import decode_html_bytes
    checked = 0
    for url, html in inputs.items():
        row = results[url]
        try:
            oracle = transcode(decode_html_bytes(html), url)
            assert row["error"] is None, f"{url}: spark errored, oracle not"
            assert row["content_text"] == oracle.content_text, url
            assert row["content"] == oracle.content, url
            assert row["title"] == oracle.title, url
            assert row["next_page_url"] == oracle.next_page_url, url
            assert row["extracted"] == oracle.content_extracted, url
        except (ValueError,) as exc:
            assert row["error"] is not None, f"{url}: oracle raised {exc}"
        checked += 1
    assert checked == len(inputs)


def test_extraction_deterministic(spark, pages):
    a = run_extraction(spark, pages, num_partitions=4)
    b = run_extraction(spark, pages, num_partitions=16)
    ah = a.selectExpr("sum(hash(url, content, content_text, title)) h") \
        .collect()[0]["h"]
    bh = b.selectExpr("sum(hash(url, content, content_text, title)) h") \
        .collect()[0]["h"]
    assert ah == bh, "partitioning changed extraction output"


def test_run_job_metrics_and_resume(spark, pages, tmp_path_factory):
    out_dir = str(tmp_path_factory.mktemp("job_out"))
    total = pages.count()

    # first run over a half-slice simulates an interrupted job
    from pyspark.sql import functions as F
    half = pages.where(F.xxhash64("url") % 2 == 0)
    r1 = run_job(spark, half, out_dir, run_id="r1", num_partitions=4)
    assert r1["docs"] == half.count()

    # resume run over the full input must only process the remainder
    r2 = run_job(spark, pages, out_dir, run_id="r2", num_partitions=4)
    assert r2["docs"] == total - r1["docs"]

    written = spark.read.parquet(os.path.join(out_dir, "extracted"))
    assert written.count() == total
    assert written.select("url").distinct().count() == total  # no dupes

    # the extracted sink is hive-partitioned by run_id: the metrics
    # rollup and summary scan only the current run's files
    extracted_entries = os.listdir(os.path.join(out_dir, "extracted"))
    assert any(e.startswith("run_id=") for e in extracted_entries)
    assert not any(e.endswith(".parquet") for e in extracted_entries)

    metrics = spark.read.parquet(os.path.join(out_dir, "metrics"))
    mrows = metrics.collect()
    assert {m["run_id"] for m in mrows} == {"r1", "r2"}
    assert sum(m["docs"] for m in mrows) == total
    assert all(m["max_doc_bytes"] > 0 for m in mrows)

    # rerun with nothing left: idempotent no-op
    r3 = run_job(spark, pages, out_dir, run_id="r3", num_partitions=4)
    assert r3["docs"] == 0
    assert spark.read.parquet(os.path.join(out_dir, "extracted")) \
        .count() == total

    # rerun of a COMPLETED run_id must not double-append its metrics
    n_metrics = spark.read.parquet(os.path.join(out_dir, "metrics")).count()
    run_job(spark, pages, out_dir, run_id="r2", num_partitions=4)
    metrics2 = spark.read.parquet(os.path.join(out_dir, "metrics"))
    assert metrics2.count() == n_metrics
    assert metrics2.groupBy("run_id", "partition_id").count() \
        .where("count > 1").isEmpty()
    shutil.rmtree(out_dir, ignore_errors=True)


def test_run_job_rejects_flat_legacy_layout(spark, pages, tmp_path_factory):
    """An out_dir holding flat (pre-run_id-partitioned) parquet files must
    fail with a clear message instead of mixing layouts."""
    out_dir = str(tmp_path_factory.mktemp("job_flat"))
    legacy = os.path.join(out_dir, "metrics")
    os.makedirs(legacy)
    with open(os.path.join(legacy, "part-00000.parquet"), "wb") as f:
        f.write(b"PAR1 not really parquet")
    with pytest.raises(ValueError, match="pre-run_id-partitioned"):
        run_job(spark, pages, out_dir, run_id="rX", num_partitions=2)
    shutil.rmtree(out_dir, ignore_errors=True)


def test_run_job_resume_read_error_surfaces(spark, pages, tmp_path):
    """A committed sink that cannot be read must fail the resume read
    instead of turning resume off: re-extracting would append every url
    a second time."""
    out_dir = str(tmp_path)
    old = os.path.join(out_dir, "extracted", "run_id=old")
    os.makedirs(old)
    with open(os.path.join(old, "part-0.parquet"), "wb") as f:
        f.write(b"PAR1 not really parquet")
    with pytest.raises(Py4JJavaError):
        run_job(spark, pages.limit(8), out_dir, run_id="new",
                num_partitions=2)
    assert not os.path.exists(
        os.path.join(out_dir, "extracted", "run_id=new"))


def test_run_job_resumes_from_uncommitted_sink(spark, pages, tmp_path):
    """An extracted/ that a crashed first run left holding only
    _temporary has nothing committed: the resume read turns resume off
    and the run processes every page."""
    out_dir = str(tmp_path)
    os.makedirs(os.path.join(out_dir, "extracted", "_temporary", "0"))
    few = pages.limit(4)
    assert run_job(spark, few, out_dir, run_id="r1",
                   num_partitions=2)["docs"] == 4


def test_read_pages_table_ref_and_parquet_path(spark, pages, tmp_path):
    """A table ref falls back from the (absent) Iceberg source to the
    session catalog; a parquet path reads directly; a missing table ref
    surfaces the catalog's error instead of a fallback's."""
    from pyspark.errors import AnalysisException

    from nreadability_spark.spark.sources import read_pages
    sample = pages.select("url", "lang").orderBy("url").limit(5)
    want = sorted(map(tuple, sample.collect()))
    table = "t_read_pages"
    spark.sql(f"drop table if exists {table}")
    sample.write.saveAsTable(table)
    try:
        assert sorted(map(tuple, read_pages(spark, table).collect())) == want
    finally:
        spark.sql(f"drop table if exists {table}")
    path = str(tmp_path / "pages.parquet")
    sample.write.parquet(path)
    assert sorted(map(tuple, read_pages(spark, path).collect())) == want
    with pytest.raises(AnalysisException) as err:
        read_pages(spark, "t_read_pages_missing")
    assert err.value.getCondition() == "TABLE_OR_VIEW_NOT_FOUND"


def test_failure_rows_are_counted(spark, pages):
    """doc_id % 97 == 0 pages are contentless (extracted=false) and
    doc_id % 20 == 0 pages are truncated mid-script (retry path); neither
    may crash the job and every input row must come out."""
    out = run_extraction(spark, pages, num_partitions=4).cache()
    assert out.where("extracted = false").count() > 0
    assert out.count() == pages.count()
    # hosed-but-recoverable pages still extract (script-strip retry)
    import duckdb
    n_hosed = duckdb.sql(
        f"select count(*) from '{SF_DIR}/documents.parquet' "
        "where doc_id % 20 = 0 and doc_id % 97 != 0").fetchone()[0]
    recovered = out.where(
        "url like '%example.org%' and extracted = true").count()
    assert recovered >= n_hosed  # retry path recovered the truncated pages
    out.unpersist()


def test_arrow_extractors_match_schema_contract():
    """The mapInArrow generators must emit their schema's columns in
    order, and the fingerprint row must hash the full row's content."""
    import hashlib

    import pyarrow as pa
    from nreadability_spark.spark.job import (FINGERPRINT_SCHEMA,
                                              OUT_SCHEMA,
                                              _extract_batches_arrow,
                                              _extract_batches_arrow_fp)
    from nreadability_spark.spark.pages import template_html_py

    html = template_html_py(3, "some words to extract, truly. " * 30)
    batch = pa.RecordBatch.from_pydict(
        {"url": ["https://h.example.org/articles/3"],
         "html": [html.encode("utf-8")]})
    full = next(_extract_batches_arrow(iter([batch])))
    fp = next(_extract_batches_arrow_fp(iter([batch])))
    assert full.schema.names == [f.name for f in OUT_SCHEMA.fields]
    assert fp.schema.names == [f.name for f in FINGERPRINT_SCHEMA.fields]
    content = full.column("content")[0].as_py()
    assert content
    want = hashlib.md5(content.encode("utf-8")).hexdigest()
    assert fp.column("content_md5")[0].as_py() == want
    assert fp.column("content_len")[0].as_py() == len(content)


def test_extract_links_matches_local_kernel(spark, pages):
    """Spark-distributed link extraction must equal the local kernel run
    page-for-page (same parser, same ResolveElementUrl), and resolve
    relative hrefs against the page url."""
    from nreadability_spark.spark.job import extract_links, extract_links_row
    out = extract_links(spark, pages).collect()
    got = {}
    for r in out:
        got.setdefault(r["url"], []).append((r["link_url"], r["n"]))
    local_pages = [(r["url"], bytes(r["html"])) for r in
                   pages.select("url", "html").collect()]
    for u, h in local_pages:
        want = extract_links_row(u, h)
        assert sorted(got.get(u, [])) == want, u
    # links resolved absolute against the page host (mailto kept as-is,
    # matching ResolveElementUrl)
    assert all("://" in link or link.startswith("mailto:")
               for links in got.values() for link, _n in links)
    assert any(links for links in got.values())


def _linkgraph_pages(spark):
    """Four hosts with absolute cross-host anchors, one same-host link,
    a repeated target, and one anchor whose host is upper-cased and
    carries userinfo and a port."""
    def page(url, *hrefs):
        body = "".join(f"<a href='{h}'>l</a>" for h in hrefs)
        return url, f"<html><body>{body}</body></html>".encode()

    return spark.createDataFrame([
        page("https://a.example/1", "https://b.example/x",
             "https://b.example/y", "https://U@B.Example:8080/z",
             "https://c.example/", "/local"),
        page("https://b.example/x", "https://a.example/1",
             "https://c.example/p"),
        page("https://c.example/", "https://a.example/2"),
        page("https://d.example/q", "https://a.example/1",
             "https://a.example/1"),
    ], "url string, html binary")


def test_build_linkgraph_job(spark, tmp_path_factory):
    """The linkgraph job builds the exact host graph of its pages (hosts
    lower-cased, userinfo and port stripped, same-host links dropped)
    with damped integer PageRank mass and a stable top list."""
    import sys as _sys
    _sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "jobs"))
    from build_linkgraph import build_linkgraph
    pages = _linkgraph_pages(spark)
    out = str(tmp_path_factory.mktemp("linkgraph"))
    s = build_linkgraph(spark, pages, out, iters=5)
    edges = spark.read.parquet(os.path.join(out, "edges.parquet"))
    assert sorted(map(tuple, edges.select(
        "src_host", "dst_host", "weight").collect())) == [
        ("a.example", "b.example", 3), ("a.example", "c.example", 1),
        ("b.example", "a.example", 1), ("b.example", "c.example", 1),
        ("c.example", "a.example", 1), ("d.example", "a.example", 2)]
    assert s["edges"] == 6 and s["hosts"] == 4
    assert s["top_hosts"][0][0] == "a.example"
    ranks = spark.read.parquet(os.path.join(out, "host_ranks.parquet"))
    from pyspark.sql import functions as F
    row = ranks.agg(F.min("pr").alias("lo"),
                    F.countDistinct("pr").alias("d")).collect()[0]
    assert row["lo"] >= 150_000
    assert row["d"] >= 1
    # deterministic: a second run yields identical ranks
    out2 = str(tmp_path_factory.mktemp("linkgraph2"))
    s2 = build_linkgraph(spark, pages, out2, iters=5)
    assert s2["top_hosts"] == s["top_hosts"]


def test_extract_links_row_navigational_allowlist():
    """Only resolved http/https targets are edges: javascript: in any
    casing, data:, mailto:, tel: and fragment-only hrefs never reach
    the edge table (ADVICE r4 — case-varied javascript: URLs counted
    as graph edges before)."""
    from nreadability_spark.spark.job import extract_links_row
    html = (b"<html><body>"
            b"<a href='page2.html'>rel</a>"
            b"<a href='https://other.example/x'>abs</a>"
            b"<a href='#frag'>frag</a>"
            b"<a href='javascript:void(0)'>js</a>"
            b"<a href='JavaScript:alert(1)'>JS</a>"
            b"<a href='data:text/html,hi'>data</a>"
            b"<a href='mailto:a@example.com'>mail</a>"
            b"<a href='tel:+15551234'>tel</a>"
            b"<a href='page2.html'>rel again</a>"
            b"</body></html>")
    out = dict(extract_links_row("http://site.example/dir/page1.html",
                                 html))
    assert out == {"http://site.example/dir/page2.html": 2,
                   "https://other.example/x": 1}
