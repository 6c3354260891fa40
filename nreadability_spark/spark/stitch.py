"""Dataset-level multi-page article stitching (W1 at scale).

The single-node reference follows next-page links by HTTP fetch
(ReadabilityWebTranscoder.cs:190-270). At dataset scale every page is
already a row, so stitching becomes:

1. extract ``next_page_url`` per page (the D2 operator, already part of
   the extraction pass);
2. discover chains with an iterative frontier join over
   (url -> next_page_url) edges, capped at MAX_PAGES rounds — the frontier
   shrinks geometrically, and each round anti-joins the accumulated
   membership so link cycles terminate;
3. group each chain's pages and run the *same* single-document
   WebTranscoder kernel per chain inside ``applyInArrow`` (one Arrow
   table in, one row out), with a dict-backed fetcher — output is
   byte-identical to the single-node multi-page transcoder on the same
   pages.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BooleanType, IntegerType, StringType,
                               StructField, StructType)

from .job import ensure_package_shipped
from .ops import _cut_lineage

MAX_PAGES = 30

STITCH_SCHEMA = StructType([
    StructField("root_url", StringType()),
    StructField("extracted", BooleanType()),
    StructField("title", StringType()),
    StructField("content", StringType()),
    StructField("n_pages", IntegerType()),
    StructField("error", StringType()),
])


def page_links(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """(url, next_page_url) edges from the extraction pass."""
    from .job import run_extraction
    return (run_extraction(spark, pages)
            .where(F.col("next_page_url").isNotNull())
            .select("url", "next_page_url"))


def chain_membership(spark: SparkSession, pages: DataFrame,
                     links: DataFrame) -> DataFrame:
    """(root_url, url, page_no): BFS over next-page edges from chain roots.

    Roots are pages that no other page points to. Each round joins the
    frontier to the edge set; membership anti-join kills cycles.
    """
    links = links.cache()
    roots = (pages.select("url")
             .join(links.select(F.col("next_page_url").alias("url")),
                   "url", "left_anti"))
    frontier = roots.select(F.col("url").alias("root_url"),
                            F.col("url"),
                            F.lit(1).alias("page_no"))
    chains = frontier
    for round_no in range(2, MAX_PAGES + 1):
        nxt = (frontier.join(links, "url")
               .select("root_url",
                       F.col("next_page_url").alias("url"),
                       F.lit(round_no).alias("page_no")))
        # drop urls already in this chain (cycle guard) and keep one
        # root per url per round
        nxt = (nxt.join(chains.select("root_url", "url").distinct(),
                        ["root_url", "url"], "left_anti")
               .dropDuplicates(["root_url", "url"]))
        # cut iterative lineage (reliable checkpoint() when configured —
        # see ops._cut_lineage)
        nxt = _cut_lineage(nxt)
        if nxt.isEmpty():
            break
        chains = chains.unionByName(nxt)
        frontier = nxt
    # materialize the result before releasing the edge cache (chains'
    # lineage still references `links` through the roots anti-join);
    # without this the cached edge table stays pinned in executor
    # memory for the lifetime of the session
    chains = _cut_lineage(chains)
    links.unpersist()
    return chains


def _stitch_group(chain: pa.Table) -> pa.Table:
    """applyInArrow group fn: one chain's (root_url, url, html) rows ->
    one STITCH_SCHEMA row, stitched from the root by WebTranscoder over
    a dict fetcher of the chain's own pages."""
    import sys
    sys.setrecursionlimit(40000)
    from pyspark.sql.pandas.types import to_arrow_schema

    from nreadability_spark.readability.encoding import decode_html_bytes
    from nreadability_spark.readability.webtranscoder import WebTranscoder

    root = chain.column("root_url")[0].as_py()
    page_map = {url: decode_html_bytes(html)
                for url, html in zip(chain.column("url").to_pylist(),
                                     chain.column("html").to_pylist())
                if html is not None}
    row = {"root_url": root, "n_pages": chain.num_rows}
    try:
        result = WebTranscoder(fetcher=page_map.get).transcode(root)
        row.update(extracted=bool(result.content_extracted),
                   title=result.title, content=result.content, error=None)
    except Exception as exc:
        row.update(extracted=False, title=None, content=None,
                   error=f"{type(exc).__name__}: {exc}"[:500])
    return pa.Table.from_pylist([row], schema=to_arrow_schema(STITCH_SCHEMA))


def stitch_multipage(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """pages(url, html) -> one stitched article per chain root."""
    ensure_package_shipped(spark)
    links = page_links(spark, pages)
    chains = chain_membership(spark, pages, links)
    # only multi-page chains need the stitcher; single pages are covered
    # by the plain extraction pass
    multi_roots = (chains.groupBy("root_url")
                   .agg(F.count("*").alias("n"))
                   .where(F.col("n") > 1)
                   .select("root_url"))
    members = (chains.join(multi_roots, "root_url")
               .join(pages.select("url", "html"), "url"))
    return (members
            .repartition(F.xxhash64("root_url"))
            .groupBy("root_url")
            .applyInArrow(_stitch_group, STITCH_SCHEMA))
