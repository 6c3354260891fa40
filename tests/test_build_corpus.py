"""End-to-end corpus-build funnel (jobs/build_corpus.py): extraction ->
staging -> language ID -> dedup representatives -> quality filter ->
stratified sample -> sequence packing, all chained through the ops'
documents.parquet directory contract. Asserts funnel monotonicity and
the packing invariants a training loader relies on."""

import os
import sys

import pytest

pyspark = pytest.importorskip("pyspark")

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "jobs"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("build-corpus-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def summary_and_dir(spark, tmp_path_factory):
    from nreadability_spark.spark.pages import synthesize_pages
    from build_corpus import build_corpus
    out = str(tmp_path_factory.mktemp("corpus_out"))
    pages = synthesize_pages(spark, SF_DIR)
    return build_corpus(spark, pages, out), out


def test_funnel_monotonic(summary_and_dir):
    s, _ = summary_and_dir
    assert s["extracted"] <= s["pages"]
    assert s["extracted"] > 0
    # each gate only removes docs; the intersection is at most the
    # smallest gate
    assert s["final_docs"] <= min(s["after_dedup"], s["after_quality"],
                                  s["after_sample"])
    assert 0 < s["final_docs"] < s["extracted"]
    assert s["packed_docs"] == s["final_docs"]


def test_staged_layout_and_lang(summary_and_dir, spark):
    _, out = summary_and_dir
    corpus = spark.read.parquet(
        os.path.join(out, "corpus", "documents.parquet"))
    assert set(corpus.columns) == {"doc_id", "text", "lang", "source",
                                   "n_chars", "page_md5"}
    langs = {r["lang"] for r in corpus.select("lang").distinct().collect()}
    assert langs <= {"en", "es", "de", "fr"} and langs


def test_packing_invariants(summary_and_dir, spark):
    from pyspark.sql import functions as F
    _, out = summary_and_dir
    packed = spark.read.parquet(os.path.join(out, "packed.parquet"))
    row = packed.agg(
        F.min("bin_offset").alias("min_off"),
        F.max("bin_offset").alias("max_off"),
        F.min("n_tokens").alias("min_tok"),
        F.min("bin").alias("min_bin")).collect()[0]
    # offsets live inside the fixed budget; every packed doc is non-empty
    from nreadability_spark.spark.ops import _PACK_BUDGET
    assert 0 <= row["min_off"] and row["max_off"] < _PACK_BUDGET
    assert row["min_tok"] > 0 and row["min_bin"] == 0
    # within every stream the concat-and-chunk stream has no holes: the
    # highest start-bin lies inside the stream's total token span (a doc
    # longer than the budget spans bins no later doc STARTS in, so
    # distinct start-bins may legitimately be fewer than maxbin+1)
    per_stream = (packed.groupBy("stream")
                  .agg(F.sum("n_tokens").alias("total"),
                       F.max("bin").alias("maxbin")).collect())
    for r in per_stream:
        assert r["maxbin"] * _PACK_BUDGET <= r["total"] - 1


def test_robots_filter_gates_pages(spark):
    """robots_filter must drop exactly the urls the kernel disallows,
    pass hosts with no robots row, and preserve the pages schema."""
    from pyspark.sql import functions as F
    from nreadability_spark.readability.robots import (is_allowed,
                                                       parse_robots)
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.sources import (ROBOTS_AGENT,
                                                  robots_filter,
                                                  robots_txt_py,
                                                  synthesize_robots)
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False)
    robots = synthesize_robots(spark)
    kept = robots_filter(pages, robots)
    assert kept.columns == pages.columns
    kept_urls = {r["url"] for r in kept.select("url").collect()}
    all_urls = [r["url"] for r in pages.select("url").collect()]
    assert 0 < len(kept_urls) < len(all_urls)
    parsed = {}
    for url in all_urls:
        host = int(url.split("host")[1].split(".")[0])
        txt = robots_txt_py(host)
        if txt is None:
            want = True
        else:
            if host not in parsed:
                parsed[host] = parse_robots(txt)
            path = "/" + url.split(".org/", 1)[1]
            want = is_allowed(parsed[host], ROBOTS_AGENT, path)
        assert (url in kept_urls) == want, url
    # fixture hosts (fixtures.local / theverge.com) have no robots row:
    # REP default keeps them
    fx = synthesize_pages(spark, SF_DIR, include_fixtures=True)
    kept_fx = robots_filter(fx, robots)
    n_fx = (kept_fx.where(~F.col("url").rlike("example[.]org")).count())
    assert n_fx == fx.where(~F.col("url").rlike("example[.]org")).count()


def test_robots_filter_passes_columns_through_unchanged(spark):
    """Columns other than url must come out of the gate exactly as they
    went in, under a session time zone that is not UTC: a timestamp
    rebuilt from Python objects would come back shifted by the zone's
    offset."""
    from nreadability_spark.spark.pages import synthesize_pages
    from nreadability_spark.spark.sources import (robots_filter,
                                                  synthesize_robots)
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        pages = synthesize_pages(spark, SF_DIR, include_fixtures=False)
        cols = ["url", "unix_timestamp(warc_ts) as ts", "md5(html) as h"]
        kept = robots_filter(pages, synthesize_robots(spark))
        got = {tuple(r) for r in kept.selectExpr(*cols).collect()}
        want = {tuple(r) for r in pages.selectExpr(*cols).collect()}
        assert got and got <= want
        assert all(ts is not None for _, ts, _ in got)
    finally:
        spark.conf.set(key, old)


def test_robots_filter_survives_empty_and_tiny_partitions(spark):
    """Empty Arrow batches (empty partitions / fully-filtered batches)
    must not break the gate's row mask (regression: an empty boolean
    keep-list inferred dtype object and pandas read it as column
    labels)."""
    from nreadability_spark.spark.sources import (robots_filter,
                                                  synthesize_robots)
    tiny = spark.createDataFrame(
        [("https://host3.example.org/articles/3",),
         ("https://host17.example.org/articles/17",)],
        "url string").repartition(16)
    robots = synthesize_robots(spark)
    out = robots_filter(tiny, robots)
    urls = {r["url"] for r in out.collect()}
    # host17 has no robots file -> allowed; host3's nrsbot group only
    # allows ids ending in (3//3)%10 = 1 -> /articles/3 is dropped
    assert urls == {"https://host17.example.org/articles/17"}
    empty = spark.createDataFrame([], "url string")
    assert robots_filter(empty, robots).count() == 0
