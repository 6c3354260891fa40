"""Two-snapshot incremental corpus build (VERDICT r5 task 6): the
snapshot-over-snapshot production lifecycle — fingerprint diff ->
extract only the churn -> delta-only funnel gates -> dedup against the
persisted band index -> merge + repack. The funnel counts prove no
re-extraction of unchanged docs."""

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
    s = get_spark("incremental-build-tests", master="local[4]",
                  shuffle_partitions=8)
    yield s
    s.stop()


def _perturb(pages):
    """Snapshot 2 from snapshot 1's pages: drop the %11==3 articles
    (removed), mutate the html of the %7==2 articles (changed), and
    re-url the %13==5 articles as second captures with identical
    content (added exact-dups — must be caught by the index)."""
    from pyspark.sql import functions as F
    art = F.regexp_extract("url", r"/articles/(\d+)$", 1)
    did = F.when(art != F.lit(""), art.cast("long")).otherwise(F.lit(-1))
    kept = pages.where(~(did % 11 == F.lit(3)))
    changed = kept.withColumn(
        "html",
        F.when(did % 7 == F.lit(2),
               F.encode(F.regexp_replace(
                   F.decode("html", "UTF-8"),
                   "</p>", " recrawl-delta-token</p>"), "UTF-8"))
        .otherwise(F.col("html")))
    added = (pages.where(did % 13 == F.lit(5))
             .withColumn("url", F.concat("url", F.lit("?capture=2"))))
    return changed.unionByName(added)


@pytest.fixture(scope="module")
def snapshots(spark, tmp_path_factory):
    from build_corpus import build_corpus, build_corpus_incremental
    from nreadability_spark.spark.pages import synthesize_pages
    base = tmp_path_factory.mktemp("inc")
    out1 = str(base / "snap1")
    out2 = str(base / "snap2")
    pages1 = synthesize_pages(spark, SF_DIR)
    s1 = build_corpus(spark, pages1, out1, index_table="minhash_idx_e2e")
    pages2 = _perturb(pages1)
    s2 = build_corpus_incremental(spark, pages2, out2, out1,
                                  index_table="minhash_idx_e2e")
    return s1, s2, out1, out2, pages1, pages2


def test_no_reextraction_of_unchanged(snapshots):
    s1, s2, *_ = snapshots
    # the diff saw every previous doc exactly once
    assert s2["unchanged"] + s2["changed"] + s2["removed"] \
        == s1["extracted"]
    assert s2["removed"] > 0 and s2["changed"] > 0 and s2["added"] > 0
    # THE invariant: extraction ran only on the churn, never on the
    # carried-over majority
    assert s2["extracted"] <= s2["added"] + s2["changed"]
    assert s2["extracted"] < s1["extracted"] / 3
    assert s2["unchanged"] > s1["extracted"] * 0.6


def test_added_exact_dups_drop_against_index(snapshots, spark):
    """The ?capture=2 re-urls carry byte-identical content to docs
    already in the index: every one that extracts must pair with its
    original and be dropped by the incremental dedup."""
    s1, s2, out1, out2, pages1, pages2 = snapshots
    from pyspark.sql import functions as F
    delta = spark.read.parquet(
        os.path.join(out2, "delta", "documents.parquet"))
    corpus1 = spark.read.parquet(
        os.path.join(out1, "corpus", "documents.parquet"))
    dup_rows = (delta.alias("d")
                .join(corpus1.alias("c"),
                      F.md5(F.col("d.text")) == F.md5(F.col("c.text")))
                .where("d.doc_id != c.doc_id")
                .select("d.doc_id").distinct())
    n_dup = dup_rows.count()
    assert n_dup > 0
    assert s2["delta_dups_dropped"] >= n_dup
    # none of them reached the final corpus
    final2 = spark.read.parquet(
        os.path.join(out2, "final", "documents.parquet"))
    assert final2.join(dup_rows, "doc_id", "left_semi").count() == 0


def test_merged_corpus_matches_full_rebuild(snapshots, spark,
                                            tmp_path_factory):
    """The incremental working corpus must EQUAL what a from-scratch
    build over snapshot 2's pages produces (same doc_ids, same text
    fingerprints, same langs) — the carried-over rows are
    indistinguishable from re-extracted ones."""
    from pyspark.sql import functions as F
    from build_corpus import build_corpus
    _, _, _, out2, _, pages2 = snapshots
    out_full = str(tmp_path_factory.mktemp("inc_full") / "full2")
    build_corpus(spark, pages2, out_full)

    def corpus_key(d):
        return {(r["doc_id"], r["h"], r["lang"]) for r in
                spark.read.parquet(
                    os.path.join(d, "corpus", "documents.parquet"))
                .select("doc_id", F.md5("text").alias("h"), "lang")
                .collect()}

    assert corpus_key(out2) == corpus_key(out_full)


def test_removed_docs_leave_the_snapshot(snapshots, spark):
    _, _, out1, out2, pages1, pages2 = snapshots
    from pyspark.sql import functions as F
    gone_urls = (pages1.select("url")
                 .subtract(pages2.select("url"))
                 .select(F.abs(F.xxhash64("url")).alias("doc_id")))
    for stage in ("corpus", "final"):
        df = spark.read.parquet(
            os.path.join(out2, stage, "documents.parquet"))
        assert df.join(gone_urls, "doc_id", "left_semi").count() == 0


def test_noop_increment_is_identity(spark, snapshots, tmp_path_factory):
    """Re-ingesting an identical snapshot touches nothing: zero
    extraction, zero churn, and the final/packed outputs reproduce the
    previous snapshot exactly."""
    from build_corpus import build_corpus_incremental
    s1, _, out1, _, pages1, _ = snapshots
    out3 = str(tmp_path_factory.mktemp("inc_noop") / "snap3")
    s3 = build_corpus_incremental(spark, pages1, out3, out1,
                                  index_table="minhash_idx_e2e_noop")
    assert s3["extracted"] == 0
    assert s3["changed"] == 0 and s3["removed"] == 0
    assert s3["final_docs"] == s1["final_docs"]
    assert s3["packed_tokens"] == s1["packed_tokens"]
    assert s3["packed_bins"] == s1["packed_bins"]


def test_increment_over_an_increment(spark, snapshots, tmp_path_factory):
    """An incremental snapshot is a valid --prev: re-ingesting snapshot
    2's pages over it (with a fresh index table, built from its corpus)
    extracts nothing, sees no churn, and reproduces its final and packed
    outputs."""
    from build_corpus import build_corpus_incremental
    _, s2, _, out2, _, pages2 = snapshots
    out4 = str(tmp_path_factory.mktemp("inc_chain") / "snap4")
    s4 = build_corpus_incremental(spark, pages2, out4, out2,
                                  index_table="minhash_idx_e2e_chain")
    assert s4["extracted"] == 0
    assert s4["changed"] == 0 and s4["removed"] == 0
    assert s4["final_docs"] == s2["final_docs"]
    assert s4["packed_tokens"] == s2["packed_tokens"]
