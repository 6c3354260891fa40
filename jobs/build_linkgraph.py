"""spark-submit entry point for link-graph construction + host scoring.

Chains the engine's link extraction into graph analytics the way a crawl
pipeline does:

    pages -> extract_links (kernel-parity anchor resolution)
          -> host-level edge aggregation (src_host -> dst_host, weight)
          -> weight-proportional integer-ppm PageRank over the host graph
          -> edges.parquet + host_ranks.parquet + one-line JSON summary

The PageRank loop is ``ops.pagerank_edges`` — the same oracle-checked
propagation ``host_pagerank`` pins against DuckDB, here running over
real edges. Host ids are xxhash64 of the lowercased host so the edge
table stays a compact bigint graph at web scale; the host string rides
along in a side table.

Cluster:
    spark-submit --py-files nreadability_spark.zip jobs/build_linkgraph.py \
        --input iceberg_catalog.web.pages --output /warehouse/linkgraph_v1

Local smoke:
    python jobs/build_linkgraph.py --input /root/testdata/sf0.001 \
        --synthesize --output /tmp/linkgraph_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

def build_linkgraph(spark, pages, out_dir: str, iters: int = 10) -> dict:
    """Run extraction->edges->pagerank; returns the summary dict."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark import ops
    from nreadability_spark.spark.job import extract_links
    from nreadability_spark.spark.sources import host_of_url

    links = extract_links(spark, pages)
    edges = (links
             .select(
                 host_of_url("url").alias("src_host"),
                 host_of_url("link_url").alias("dst_host"),
                 F.col("n"))
             .where("src_host != '' and dst_host != '' "
                    "and src_host != dst_host")
             .groupBy("src_host", "dst_host")
             .agg(F.sum("n").cast("long").alias("weight")))
    edges_path = os.path.join(out_dir, "edges.parquet")
    edges.write.mode("overwrite").parquet(edges_path)
    edges = spark.read.parquet(edges_path)

    hosts = (edges.selectExpr("src_host as host")
             .union(edges.selectExpr("dst_host as host")).distinct()
             .withColumn("host_id", F.xxhash64("host")))
    id_edges = (edges
                .join(hosts.selectExpr("host as src_host",
                                       "host_id as src"), "src_host")
                .join(hosts.selectExpr("host as dst_host",
                                       "host_id as dst"), "dst_host")
                .selectExpr("src", "dst", "weight"))
    ranks = ops.pagerank_edges(id_edges, iters=iters)
    named = (ranks.join(hosts.selectExpr("host_id as host", "host as name"),
                        "host")
             .selectExpr("name as host", "pr"))
    ranks_path = os.path.join(out_dir, "host_ranks.parquet")
    named.write.mode("overwrite").parquet(ranks_path)
    named = spark.read.parquet(ranks_path)

    top = named.orderBy(F.desc("pr"), "host").limit(5).collect()
    # no pages.count(): that would re-scan (and for --warc, re-parse)
    # the whole raw input a second time just for one summary integer
    return {
        "edges": edges.count(),
        "hosts": named.count(),
        "top_hosts": [[r["host"], int(r["pr"])] for r in top],
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--iters", type=int, default=10)
    ap.add_argument("--warc", action="store_true",
                    help="treat --input as a directory/glob of WARC files")
    ap.add_argument("--synthesize", action="store_true",
                    help="treat --input as a testdata sf dir")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from nreadability_spark.spark.session import get_spark
    from nreadability_spark.spark.sources import read_pages

    spark = get_spark("nreadability-linkgraph", master=args.master)
    try:
        if args.synthesize:
            from nreadability_spark.spark.pages import synthesize_pages
            pages = synthesize_pages(spark, args.input)
        elif args.warc:
            from nreadability_spark.spark.sources import read_pages_warc
            pages = read_pages_warc(spark, args.input)
        else:
            pages = read_pages(spark, args.input)
        print(json.dumps(build_linkgraph(spark, pages, args.output,
                                         iters=args.iters)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
