"""spark-submit entry point for the full training-corpus build.

Chains the engine end-to-end the way a pretraining data pipeline does:

    pages -> readability extraction -> documents staging (+ language ID)
          -> near-dup dedup (MinHash LSH -> connected components ->
             representatives) -> Gopher-style quality filter ->
             deterministic stratified sampling -> sequence packing

Every stage after extraction is one of the oracle-checked operators in
``nreadability_spark.spark.ops``, reused unchanged: the ops' contract is
"a directory containing documents.parquet", so the job simply stages the
extracted corpus in that shape and points the operators at it. Output is
the packed corpus plus a one-line JSON funnel summary (doc counts after
every stage — the numbers a data-pipeline dashboard tracks).

Cluster:
    spark-submit --py-files nreadability_spark.zip jobs/build_corpus.py \
        --input iceberg_catalog.web.pages --output /warehouse/corpus_v1

Local smoke:
    python jobs/build_corpus.py --input /root/testdata/sf0.001 \
        --synthesize --output /tmp/corpus_out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _crawl_prelude(spark, pages, out_dir: str, robots, sitemaps,
                   summary: dict):
    """The crawl side of a build; returns the pages it may extract.

    Sitemaps parse into the frontier seed table (next cycle's fetch
    list): a side output, not a gate on this cycle's pages. Robots gate
    urls through per-host robots.txt BEFORE any extraction work is spent
    on them (REP default: hosts without a robots row pass).
    """
    from nreadability_spark.spark import ops
    from nreadability_spark.spark.sources import robots_filter

    if sitemaps is not None:
        frontier = ops.parse_sitemaps(sitemaps)
        frontier.write.mode("overwrite").parquet(
            os.path.join(out_dir, "frontier.parquet"))
        summary["frontier_urls"] = spark.read.parquet(
            os.path.join(out_dir, "frontier.parquet")).count()
    if robots is not None:
        pages = robots_filter(pages, robots)
        summary["robots_allowed"] = pages.count()
    return pages


def _doc_id():
    """doc_id = abs(xxhash64(url)): stable per run, which is all the
    downstream ops need (a production pipeline would carry url as the
    key; 64-bit collisions at 1e12 docs affect ~1e-7 of pairs and only
    merge their dedup identity)."""
    from pyspark.sql import functions as F
    return F.abs(F.xxhash64("url"))


def _fingerprints(spark, pages, out_dir: str):
    """Write ``out_dir/fingerprints.parquet``: (doc_id, page_md5) of
    every page that reaches extraction, staged or not. page_md5
    fingerprints the RAW page bytes — the change-detection identity the
    next ``--incremental`` run diffs against, so a page that gave no
    usable text is not extracted again while its bytes stay the same.
    Returns the table as written."""
    from pyspark.sql import functions as F
    path = os.path.join(out_dir, "fingerprints.parquet")
    (pages.select(_doc_id().alias("doc_id"),
                  F.md5("html").alias("page_md5"))
     .write.mode("overwrite").parquet(path))
    return spark.read.parquet(path)


def _extract_and_stage(spark, pages, raw_dir: str, doc_dir: str,
                       summary: dict) -> None:
    """Extract ``pages`` and stage every usable result in the ops'
    documents shape: ``raw_dir`` with lang='' (pre language-ID), then
    ``doc_dir`` with the detected lang."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.job import run_extraction
    from nreadability_spark.spark import ops

    # the engine's hot path: pruned scan -> mapInArrow
    extracted = run_extraction(spark, pages)
    ok = extracted.where(
        F.col("extracted") & F.col("error").isNull()
        & (F.length(F.coalesce(F.col("content_text"), F.lit(""))) > 0))
    (ok.select(
        _doc_id().alias("doc_id"),
        F.col("content_text").alias("text"),
        F.lit("").alias("lang"),
        F.lit("extracted").alias("source"),
        F.length("content_text").cast("long").alias("n_chars"))
     .write.mode("overwrite")
     .parquet(os.path.join(raw_dir, "documents.parquet")))
    summary["extracted"] = spark.read.parquet(
        os.path.join(raw_dir, "documents.parquet")).count()

    lang = ops.lang_id(spark, raw_dir).select("doc_id", "detected_lang")
    (spark.read.parquet(os.path.join(raw_dir, "documents.parquet"))
     .drop("lang")
     .join(lang, "doc_id")
     .withColumnRenamed("detected_lang", "lang")
     .select("doc_id", "text", "lang", "source", "n_chars")
     .write.mode("overwrite")
     .parquet(os.path.join(doc_dir, "documents.parquet")))


def _gate(spark, doc_dir: str, reps):
    """The funnel over the documents staged in ``doc_dir``: near-dup
    representatives ``reps`` ∩ Gopher quality ∩ stratified sample, as
    three left-semi joins (the training_mix shape). Returns the kept
    documents and the quality and sample doc_id sets."""
    from nreadability_spark.spark import ops

    quality = ops.gopher_quality(spark, doc_dir) \
        .where("passes").select("doc_id")
    sampled = ops.stratified_sample(spark, doc_dir).select("doc_id")
    kept = (spark.read.parquet(os.path.join(doc_dir, "documents.parquet"))
            .join(reps, "doc_id", "left_semi")
            .join(quality, "doc_id", "left_semi")
            .join(sampled, "doc_id", "left_semi"))
    return kept, quality, sampled


def _pack(spark, final_dir: str, out_dir: str, summary: dict) -> None:
    """Pack the final corpus into fixed-budget training sequences
    (``packed.parquet``) and record the packing stats."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark import ops

    packed = ops.pack_sequences(spark, final_dir)
    packed_path = os.path.join(out_dir, "packed.parquet")
    packed.write.mode("overwrite").parquet(packed_path)
    stats = spark.read.parquet(packed_path).agg(
        F.count("*").alias("docs"),
        F.sum("n_tokens").alias("tokens"),
        F.countDistinct("stream", "bin").alias("bins")).collect()[0]
    summary["packed_docs"] = stats["docs"]
    summary["packed_tokens"] = int(stats["tokens"] or 0)
    summary["packed_bins"] = stats["bins"]


def build_corpus(spark, pages, out_dir: str, robots=None,
                 sitemaps=None, index_table: str | None = None) -> dict:
    """Run the full funnel; returns the stage-count summary dict.

    Staged layout under ``out_dir``:
      fingerprints.parquet      (doc_id, page_md5) of every page sent to
                                extraction: what --incremental diffs
                                against
      raw/documents.parquet     extracted text, lang='' (pre language-ID)
      corpus/documents.parquet  + detected lang (the ops' working corpus)
      final/documents.parquet   after dedup ∩ quality ∩ sample
      packed.parquet            (stream, doc_id, n_tokens, bin, bin_offset)

    ``index_table``: also persist the corpus's full MinHash band index
    under that Spark-catalog table name, so later ``--incremental`` runs
    dedup their delta against it without re-self-joining the corpus.
    """
    from nreadability_spark.spark import ops

    summary: dict = {"pages": pages.count()}
    pages = _crawl_prelude(spark, pages, out_dir, robots, sitemaps, summary)
    _fingerprints(spark, pages, out_dir)
    corpus_dir = os.path.join(out_dir, "corpus")
    _extract_and_stage(spark, pages, os.path.join(out_dir, "raw"),
                       corpus_dir, summary)

    # demo_dups=False: dedup the extracted corpus AS-IS — the driver
    # demos inject synthetic near/exact dups, which a production funnel
    # must not (after_dedup would count clusters of fabricated variants,
    # and an injected doc_id could collide with a real one at scale).
    reps = ops.dedup_keep_representatives(spark, corpus_dir,
                                          demo_dups=False) \
        .select("doc_id")
    final, quality, sampled = _gate(spark, corpus_dir, reps)
    final_dir = os.path.join(out_dir, "final")
    final.write.mode("overwrite").parquet(
        os.path.join(final_dir, "documents.parquet"))

    summary["after_dedup"] = reps.count()
    summary["after_quality"] = quality.count()
    summary["after_sample"] = sampled.count()
    summary["final_docs"] = spark.read.parquet(
        os.path.join(final_dir, "documents.parquet")).count()
    _pack(spark, final_dir, out_dir, summary)

    # persist the corpus's band index for later --incremental
    if index_table:
        ops.minhash_index_build_full(spark, corpus_dir, table=index_table)
        summary["index_table"] = index_table
    return summary


def build_corpus_incremental(spark, pages, out_dir: str, prev_dir: str,
                             robots=None, sitemaps=None,
                             index_table: str = "minhash_idx_corpus") -> dict:
    """Snapshot-over-snapshot corpus build: extraction and the funnel
    run ONLY on pages whose raw bytes changed since ``prev_dir`` (or are
    new); unchanged docs are carried over from the previous snapshot's
    staging, and the delta dedups against the PERSISTED band index
    instead of re-self-joining the corpus — the production recrawl
    lifecycle at 100 TB, where snapshot churn is a few percent and a
    full rebuild would re-pay extraction for the other ~97%.

    Mechanics:
      * ``ops.snapshot_diff`` over raw-page fingerprints (the previous
        snapshot's ``fingerprints.parquet``, which a full and an
        incremental build both write for every page they sent to
        extraction, vs the incoming pages) classifies every doc_id; only
        added/changed urls reach extraction. A page whose extraction
        gave no usable text is classed unchanged, not added, while its
        bytes stay the same.
      * the delta runs the full build's stages: staged under
        ``out_dir/delta_raw`` and ``out_dir/delta`` (the ops' directory
        contract) for language ID, quality, and sampling — all per-doc
        deterministic, so gating just the delta equals a full rerun.
      * near-dup: ``ops._incremental_pairs`` checks the delta against
        ``index_table`` (zero exchange on the index side); a delta doc
        drops if it pairs with any indexed doc or a smaller-id delta doc
        (greedy keep-first — the streaming-ingest analog of the full
        run's connected-component representatives). Survivors' bands are
        appended via ``ops.band_index_append`` so the NEXT increment
        sees this one. If the index table does not exist yet it is built
        once from the previous snapshot's corpus (one scan, still no
        re-extraction).
      * docs the new crawl no longer contains are dropped from the new
        snapshot; stale index bands of changed/removed docs persist
        until the next full build (tombstone-less append lifecycle).
      * packing is global bin-packing, so ``packed.parquet`` is rebuilt
        over the merged final corpus — one cheap pass versus re-paying
        extraction.
    """
    from pyspark.sql import functions as F
    from nreadability_spark.spark import ops

    prev_fp = os.path.join(prev_dir, "fingerprints.parquet")
    if not os.path.exists(prev_fp):
        # snapshots from before fingerprints.parquet kept page_md5 in
        # corpus/ and lack this file; their corpus no longer unions with
        # a new delta either
        raise ValueError(
            f"previous snapshot {prev_dir} has no fingerprints.parquet: "
            "it predates the fingerprint layout and cannot seed an "
            "incremental build; run a full build first")

    summary: dict = {"pages": pages.count()}
    pages = _crawl_prelude(spark, pages, out_dir, robots, sitemaps, summary)

    # 1. classify against the previous snapshot by raw-page fingerprint;
    # every page here reaches extraction or is carried as unchanged, so
    # this snapshot's fingerprints are all of its pages'
    old_fp = spark.read.parquet(prev_fp)
    new_fp = _fingerprints(spark, pages, out_dir)
    diff = ops.snapshot_diff(
        old_fp.withColumnRenamed("page_md5", "h_old"),
        new_fp.withColumnRenamed("page_md5", "h_new"))
    by_status = {r["status"]: r["n"] for r in
                 diff.groupBy("status").agg(
                     F.count("*").alias("n")).collect()}
    for s in ("added", "changed", "unchanged", "removed"):
        summary[s] = int(by_status.get(s, 0))

    # 2. extract and language-ID ONLY the added/changed pages, then
    # merge with the carried-over rows to form the new working corpus
    # (unchanged docs keep their staged text/lang — nothing re-extracts,
    # nothing re-classifies)
    todo = diff.where("status in ('added','changed')").select("doc_id")
    delta_pages = (pages
                   .withColumn("doc_id", _doc_id())
                   .join(todo, "doc_id", "left_semi")
                   .drop("doc_id"))
    delta_dir = os.path.join(out_dir, "delta")
    _extract_and_stage(spark, delta_pages, os.path.join(out_dir, "delta_raw"),
                       delta_dir, summary)
    delta_corpus = spark.read.parquet(
        os.path.join(delta_dir, "documents.parquet"))
    keep_ids = diff.where("status = 'unchanged'").select("doc_id")
    carried = spark.read.parquet(
        os.path.join(prev_dir, "corpus", "documents.parquet")) \
        .join(keep_ids, "doc_id", "left_semi")
    corpus_dir = os.path.join(out_dir, "corpus")
    (carried.unionByName(delta_corpus)
     .write.mode("overwrite")
     .parquet(os.path.join(corpus_dir, "documents.parquet")))

    # 3. delta-only funnel gates
    spark_catalog_has = spark.catalog.tableExists(index_table)
    if not spark_catalog_has:
        ops.minhash_index_build_full(
            spark, os.path.join(prev_dir, "corpus"), table=index_table)
    batch_bands = ops._minhash_bands(
        ops.minhash_signatures(spark, delta_dir, demo_dups=False))
    pairs = ops._incremental_pairs(spark, batch_bands, table=index_table)
    delta_ids = delta_corpus.select("doc_id")
    # a delta doc drops when its pair partner is an ALREADY-INGESTED doc
    # (whichever side of the ordered pair it landed on — doc_ids are url
    # hashes, so order says nothing about ingest time), or when it is
    # the larger id of a delta-delta pair (greedy keep-first)
    d1 = delta_ids.withColumnRenamed("doc_id", "doc1")
    d2 = delta_ids.withColumnRenamed("doc_id", "doc2")
    drop_vs_index = (pairs.join(d1, "doc1", "left_semi")
                     .join(d2, "doc2", "left_anti")
                     .select(F.col("doc1").alias("doc_id")))
    drop_as_larger = (pairs.join(d2, "doc2", "left_semi")
                      .select(F.col("doc2").alias("doc_id")))
    dropped = drop_vs_index.unionByName(drop_as_larger).distinct()
    reps = delta_ids.join(dropped, "doc_id", "left_anti")
    summary["delta_dups_dropped"] = dropped.count()
    final_delta, _, _ = _gate(spark, delta_dir, reps)
    summary["delta_final"] = final_delta.count()

    # 4. new final = previous final minus churn, plus the delta's
    # survivors; fold the survivors' bands into the index for the NEXT
    # increment
    prev_final = spark.read.parquet(
        os.path.join(prev_dir, "final", "documents.parquet"))
    final = (prev_final.join(keep_ids, "doc_id", "left_semi")
             .unionByName(final_delta))
    final_dir = os.path.join(out_dir, "final")
    final.write.mode("overwrite").parquet(
        os.path.join(final_dir, "documents.parquet"))
    summary["final_docs"] = spark.read.parquet(
        os.path.join(final_dir, "documents.parquet")).count()
    ops.band_index_append(
        spark, batch_bands.join(reps, "doc_id", "left_semi"),
        table=index_table)
    summary["index_table"] = index_table

    # 5. repack the merged corpus
    _pack(spark, final_dir, out_dir, summary)
    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="pages Iceberg table / parquet path, or an sf dir "
                         "with --synthesize")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--warc", action="store_true",
                    help="treat --input as a directory/glob of WARC files\n"
                         "(Common Crawl segment layout)")
    ap.add_argument("--synthesize", action="store_true",
                    help="treat --input as a testdata sf dir and synthesize "
                         "the pages table from its documents")
    ap.add_argument("--robots", default=None,
                    help="robots table (Iceberg/parquet, host+robots_txt) "
                         "OR a directory of <host>.txt fetch payloads "
                         "to gate urls through; 'synthesize' uses the "
                         "deterministic per-host corpus robots")
    ap.add_argument("--sitemaps", default=None,
                    help="directory of <host>.xml sitemap fetch payloads "
                         "(or a host+xml table) to parse into the "
                         "frontier seed table (frontier.parquet)")
    ap.add_argument("--incremental", action="store_true",
                    help="snapshot-over-snapshot build: extract only "
                         "pages whose raw bytes changed vs --prev, "
                         "dedup the delta against the persisted index")
    ap.add_argument("--prev", default=None,
                    help="previous snapshot's --output directory "
                         "(required with --incremental)")
    ap.add_argument("--index-table", default="minhash_idx_corpus",
                    help="Spark-catalog table holding the corpus band "
                         "index (built by a full run with --index, "
                         "appended to by each --incremental run)")
    ap.add_argument("--index", action="store_true",
                    help="on a full build, also persist the corpus "
                         "band index to --index-table")
    ap.add_argument("--checkpoint-dir", default=None,
                    help="reliable-checkpoint dir for the iterative dedup "
                         "ops (sets spark.nreadability.checkpointDir)")
    ap.add_argument("--master", default=None)
    args = ap.parse_args()

    from nreadability_spark.spark.session import get_spark
    from nreadability_spark.spark.sources import read_pages

    extra = {}
    if args.checkpoint_dir:
        extra["spark.nreadability.checkpointDir"] = args.checkpoint_dir
    spark = get_spark("nreadability-build-corpus", master=args.master,
                      extra_conf=extra or None)
    try:
        if args.synthesize:
            from nreadability_spark.spark.pages import synthesize_pages
            pages = synthesize_pages(spark, args.input)
        elif args.warc:
            from nreadability_spark.spark.sources import read_pages_warc
            pages = read_pages_warc(spark, args.input)
        else:
            pages = read_pages(spark, args.input)
        robots = None
        if args.robots == "synthesize":
            from nreadability_spark.spark.sources import synthesize_robots
            robots = synthesize_robots(spark)
        elif args.robots and os.path.isdir(args.robots):
            from nreadability_spark.spark.sources import read_robots_dir
            robots = read_robots_dir(spark, args.robots)
        elif args.robots:
            robots = read_pages(spark, args.robots)
        sitemaps = None
        if args.sitemaps and os.path.isdir(args.sitemaps):
            from nreadability_spark.spark.sources import read_sitemap_dir
            sitemaps = read_sitemap_dir(spark, args.sitemaps)
        elif args.sitemaps:
            sitemaps = read_pages(spark, args.sitemaps)
        if args.incremental:
            if not args.prev:
                ap.error("--incremental requires --prev")
            print(json.dumps(build_corpus_incremental(
                spark, pages, args.output, args.prev, robots=robots,
                sitemaps=sitemaps, index_table=args.index_table)))
        else:
            print(json.dumps(build_corpus(
                spark, pages, args.output, robots=robots,
                sitemaps=sitemaps,
                index_table=args.index_table if args.index else None)))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
