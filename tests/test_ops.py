"""Spark-vs-DuckDB parity for every SQL-expressible dataset op — a local
replica of the driver's correctness gate (row count + schema + sorted
values)."""

import math
import os

import pytest

pyspark = pytest.importorskip("pyspark")
import duckdb  # noqa: E402

from nreadability_spark.spark.ops import SQL_OPS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("ops-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from "
            f"'{SF_DIR}/{t}.parquet'")
    return con


def normalize(rows, columns):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = f"{v:.6g}"
            vals.append(str(v))
        out.append(tuple(vals))
    out.sort()
    return [columns[i] for i in order], out


@pytest.mark.parametrize("name", sorted(SQL_OPS))
def test_op_parity(spark, duck, name):
    fn, oracle_sql = SQL_OPS[name]
    sdf = fn(spark, SF_DIR)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle_sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}")
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}")

    _, s_norm = normalize(spark_rows, spark_cols)
    _, d_norm = normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(s_norm, d_norm) if a != b]
    assert not mismatches, (
        f"{name}: {len(mismatches)} row mismatches; first 3: "
        f"{mismatches[:3]}")


def test_dedup_lines_removes_boilerplate(spark):
    """The segment-dedup pass must actually discriminate: some segments
    removed (the corpus repeats 3-token runs across docs by construction),
    most kept, and reassembled text length consistent with the kept
    count."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import dedup_lines
    agg = dedup_lines(spark, SF_DIR).agg(
        F.sum("n_segs").alias("segs"), F.sum("n_kept").alias("kept"),
        F.sum((F.col("n_kept") > F.col("n_segs")).cast("int")).alias("bad"))
    row = agg.collect()[0]
    assert row["bad"] == 0
    assert 0 < row["kept"] < row["segs"]


def test_gopher_quality_discriminates(spark):
    """The rule filter must pass some docs and fail others on the
    synthetic corpus (all-pass or all-fail would mean dead rules)."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import gopher_quality
    row = gopher_quality(spark, SF_DIR).agg(
        F.sum(F.col("passes").cast("int")).alias("p"),
        F.count("*").alias("n")).collect()[0]
    assert 0 < row["p"] < row["n"]


def test_ops_nonempty(spark):
    """Guard against trivially-empty results hiding broken ops."""
    must_be_nonempty = ["pages_by_host", "dedup_exact", "token_counts",
                        "token_counts_bpe",
                        "doc_fingerprint", "lang_id", "quality_score",
                        "simhash", "dedup_simhash", "minhash_signatures",
                        "dedup_minhash_lsh", "ngram_jaccard",
                        "dedup_clusters", "ann_topk", "ann_ivf_topk",
                        "ann_lsh_buckets", "events_hourly", "sessionize",
                        "orders_by_nation", "top_spenders"]
    for name in must_be_nonempty:
        fn, _ = SQL_OPS[name]
        assert fn(spark, SF_DIR).limit(1).count() == 1, f"{name} is empty"


def test_lang_mix_weight_ppm_unit(spark, tmp_path):
    """weight_ppm is parts-per-million: a corpus whose actual language
    shares exactly equal the target mixture must weight every language
    at 1_000_000 (neither up- nor downsampled)."""
    from nreadability_spark.spark.ops import _MIX_TARGET, lang_mix_weights
    rows, doc_id = [], 0
    total = 20  # 20 docs at per-mille targets -> integral counts
    for lang, permille in _MIX_TARGET.items():
        for _ in range(permille * total // 1000):
            rows.append((doc_id, f"doc {doc_id}", lang))
            doc_id += 1
    assert doc_id == total
    (spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
     .write.mode("overwrite")
     .parquet(os.path.join(str(tmp_path), "documents.parquet")))
    out = lang_mix_weights(spark, str(tmp_path)).collect()
    assert len(out) == len(_MIX_TARGET)
    for r in out:
        assert r["weight_ppm"] == 1_000_000, r


def test_dedup_demo_dups_flag(spark):
    """demo_dups=False must cluster the documents table as-is: no
    injected variant ids (>= 1_000_000) anywhere, one cluster row per
    real doc — the jobs/build_corpus.py production path."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _read, dedup_clusters
    clusters = dedup_clusters(spark, SF_DIR, demo_dups=False)
    n_docs = _read(spark, SF_DIR, "documents").count()
    agg = clusters.agg(F.count("*").alias("n"),
                       F.max("doc_id").alias("max_id")).collect()[0]
    assert agg["n"] == n_docs
    assert agg["max_id"] < 1_000_000


def test_dedup_lines_join_modes_agree(spark, monkeypatch):
    """The broadcast/shuffle size-gate is a strategy choice only: both
    modes must produce identical reassembled corpora."""
    from nreadability_spark.spark import ops
    bc = sorted(tuple(r) for r in ops.dedup_lines(spark, SF_DIR).collect())
    monkeypatch.setattr(ops, "_SEG_BC_MAX_ROWS", 0)
    sh = sorted(tuple(r) for r in ops.dedup_lines(spark, SF_DIR).collect())
    assert bc == sh


def test_host_pagerank_discriminates_and_conserves(spark):
    """The rank vector must differentiate hosts (a uniform vector means
    the propagation never ran) and stay within the damped-mass bounds
    every true PageRank iteration preserves."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _PR_BASE, host_pagerank
    pr = host_pagerank(spark, SF_DIR)
    row = pr.agg(F.countDistinct("pr").alias("d"),
                 F.min("pr").alias("lo"),
                 F.count("*").alias("n"),
                 F.sum("pr").alias("total")).collect()[0]
    assert row["d"] > 1
    assert row["lo"] >= _PR_BASE
    # total damped mass can't exceed the undamped total (floor() only
    # ever removes mass)
    assert row["total"] <= row["n"] * 1_000_000


def test_events_funnel_order_is_strict(spark):
    """Funnel depth must respect strict event ordering: every user with
    steps >= 2 has t2 > t1, steps = 3 implies t3 > t2, and a user whose
    only clicks precede their first view must not count as converted."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import events_funnel
    f = events_funnel(spark, SF_DIR)
    bad = f.where("(t2_us is not null and t2_us <= t1_us) or "
                  "(t3_us is not null and t3_us <= t2_us) or "
                  "(steps >= 2) != (t2_us is not null) or "
                  "(steps = 3) != (t3_us is not null)").count()
    assert bad == 0
    # sf0.001's dense synthetic events make every viewer convert; assert
    # the bounds rather than drop-off (CORRECTNESS compares exact values)
    dist = {r["steps"]: r["n"] for r in
            f.groupBy("steps").agg(F.count("*").alias("n")).collect()}
    assert dist and set(dist) <= {1, 2, 3} and 3 in dist


def test_pagerank_edges_huge_weights_no_int64_overflow(spark):
    """Real linkgraph weights are raw link-count sums; pr*w must not hit
    ANSI bigint overflow nor lose exactness through double division
    (ADVICE r4). With w ~ 1e13 and pr starting at 1e6 ppm the product
    passes 2^63 in round 1 — the decimal(38,0) path must stay exact."""
    from nreadability_spark.spark.ops import _PR_BASE, pagerank_edges
    w = 10_000_000_000_000  # 1e13
    edges = spark.createDataFrame(
        [(1, 2, 9 * w), (1, 3, w), (2, 1, w), (3, 1, w)],
        "src long, dst long, weight long")
    pr = {r["host"]: r["pr"] for r in pagerank_edges(edges).collect()}
    assert set(pr) == {1, 2, 3}
    # node 2 receives 9x node 3's share of node 1's rank each round:
    # exact floor arithmetic keeps the ordering strict, and every rank
    # holds the damped-base floor
    assert pr[2] > pr[3] >= _PR_BASE


def _sketch_index(spark, sketch):
    """(index builder, the corpus band frame, batch-vs-index pair query)
    of one sketch family."""
    from nreadability_spark.spark import ops
    if sketch == "minhash":
        return (ops.minhash_index_build,
                ops._minhash_bands(ops.minhash_signatures(spark, SF_DIR)),
                lambda batch, table: ops._incremental_pairs(
                    spark, batch, table=table))
    return (ops.simhash_index_build,
            ops._simhash_bands_of(ops.simhash(spark, SF_DIR)),
            lambda batch, table: ops._hamming_pairs(
                ops._index_pairs(spark, batch, table)))


@pytest.mark.parametrize("sketch", ["minhash", "simhash"])
def test_incremental_append_cycle(spark, sketch):
    """The per-batch ingest cycle: check the batch against the persisted
    index, then append its bands. A later query must see the appended
    batch through the same bucketed layout (no rebuild), yield no
    self-pairs, and reproduce the original pair set exactly (hamming
    values included for simhash)."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import _cut_lineage, band_index_append
    build, bands, pairs_of = _sketch_index(spark, sketch)
    table = f"t_{sketch}_inc_cycle"
    try:
        build(spark, SF_DIR, table=table)
        idx_rows = spark.table(table).count()
        batch = _cut_lineage(bands.where(F.col("doc_id") % 10 == 0))
        pairs1 = sorted(map(tuple, pairs_of(batch, table).collect()))
        assert pairs1  # demo corpus guarantees batch-touching dups
        band_index_append(spark, batch, table=table)
        # appended bands are visible and the counts delta sums correctly
        assert spark.table(table).count() == idx_rows + batch.count()
        total_n = spark.table(f"{table}_counts") \
            .agg(F.sum("n").alias("s")).collect()[0]["s"]
        assert total_n == idx_rows + batch.count()
        # the combined table now holds every document of the corpus
        assert (spark.table(table).select("doc_id").distinct().count()
                == bands.select("doc_id").distinct().count())
        # re-checking the same batch now ALSO matches it inside the
        # index: no self-pairs, and the pair set is unchanged (its
        # new-new pairs are found through the index instead)
        pairs2 = sorted(map(tuple, pairs_of(batch, table).collect()))
        assert all(p[0] != p[1] for p in pairs2)
        assert pairs2 == pairs1
    finally:
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}_counts")


def test_bpe_merges_matches_pure_python_reference(spark):
    """Independent oracle beyond the DuckDB window program: classic
    sequential BPE training (dict counting + left-to-right scan merge)
    in plain Python over the same corpus must produce the identical
    merge table — proving the window/island compilation implements real
    BPE, not merely the same SQL twice."""
    import re as _re
    from collections import Counter

    import pyarrow.parquet as pq
    from nreadability_spark.spark.ops import (_BPE_MERGE_ROUNDS, _BPE_PAT,
                                              bpe_merges)

    texts = pq.read_table(os.path.join(SF_DIR, "documents.parquet"),
                          columns=["text"])["text"].to_pylist()
    pat = _re.compile(_BPE_PAT)
    vocab = Counter()
    for t in texts:
        vocab.update(pat.findall((t or "").lower()))
    words = {w: (tuple(w), c) for w, c in vocab.items()}
    expected = []
    for rnd in range(1, _BPE_MERGE_ROUNDS + 1):
        pairs = Counter()
        for syms, c in words.values():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (a, b), c = min(pairs.items(),
                        key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
        expected.append((rnd, a, b, c))
        for key, (syms, cnt) in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[key] = (tuple(out), cnt)
    got = sorted(tuple(r) for r in bpe_merges(spark, SF_DIR).collect())
    assert got == sorted(expected)


def test_bpe_round_plan_one_pair_exchange(spark):
    """Each training round's pair count must be a map-side-partial
    aggregation with ONE pair-key exchange feeding a TakeOrdered top-1
    (a global sort of the pair table would be a scale regression)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import (_bpe_best_pair,
                                              _bpe_initial_syms,
                                              _cut_lineage)
    syms = _cut_lineage(_bpe_initial_syms(spark, SF_DIR))
    w = W.partitionBy("word").orderBy("pos")
    plan = _bpe_best_pair(syms, w)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "partial_sum" in plan
    # two exchanges total: the word-window's and the pair count's —
    # nothing else (no global Sort node outside the TakeOrdered)
    assert plan.count("+- Exchange") + plan.count(":- Exchange") == 2


def test_fused_sketch_kernels_match_expression_forms(spark):
    """r7 A/B lock: the fused Python kernels (tokenize + cached md5 +
    numpy fold) must be byte-identical to the JVM expression forms they
    replaced, over the corpus AND over tokenizer edge cases (unicode
    whitespace/case, ASCII-only \\s split class, space-only trim)."""
    from nreadability_spark.spark.ops import (_corpus, _minhash_base,
                                              _minhash_fold_expr,
                                              _minhash_fused_arrow,
                                              _simhash_base,
                                              _simhash_fold_expr,
                                              _simhash_fused_arrow,
                                              minhash_signatures, simhash)
    fused = sorted(tuple(r) for r in
                   minhash_signatures(spark, SF_DIR).collect())
    expr = sorted(tuple(r) for r in _minhash_fold_expr(
        _minhash_base(_corpus(spark, SF_DIR))).collect())
    assert fused == expr
    fused_s = sorted(tuple(r) for r in simhash(spark, SF_DIR).collect())
    ref_s = sorted(tuple(r) for r in _simhash_fold_expr(
        _simhash_base(_corpus(spark, SF_DIR))).collect())
    assert fused_s == ref_s

    # tokenizer edge cases: NBSP/line-sep are NOT Java \s; vertical tab
    # is; trim strips only 0x20; unicode case mapping (final sigma,
    # dotted I, sharp s); numerals/punctuation; multi-space runs
    edge = [
        "a b c d",
        "  lead and trail  ",
        "\ttabs\tand\nnewlines\x0bvt\fff\rcr end",
        "nbsp\xa0joined stays one\xa0token x",
        "line\u2028sep is not ws here y z",
        "UPPER Case MiXeD lower case",
        "İstanbul DİCKENS straße tokens",
        "ΣΙΣΥΦΟΣ ΑΣ end x",
        "1 2 3 4.5 6,7 a-b c_d",
        " x  y   z    w ",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(edge)], "doc_id long, text string")
    guarded = df.where(r"text rlike '\\S+\\s+\\S+\\s+\\S'") \
        .selectExpr("cast(doc_id as bigint) as doc_id", "text")
    fused_e = sorted(tuple(r) for r in
                     _minhash_fused_arrow(guarded).collect())
    expr_e = sorted(tuple(r) for r in
                    _minhash_fold_expr(_minhash_base(df)).collect())
    assert fused_e == expr_e
    guard_s = df.where(r"text rlike '\\S'").selectExpr(
        "cast(doc_id as bigint) as doc_id", "text")
    fused_se = sorted(tuple(r) for r in
                      _simhash_fused_arrow(guard_s).collect())
    ref_se = sorted(tuple(r) for r in
                    _simhash_fold_expr(_simhash_base(df)).collect())
    assert fused_se == ref_se
