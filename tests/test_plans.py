"""Physical-plan regression tests: the scale-critical plan properties
(column pruning reaching the scan, exactly one exchange in the extraction
path, broadcast joins for small dims, map-side partial aggregation) must
not silently regress."""

import contextlib
import io
import os

import pytest

pyspark = pytest.importorskip("pyspark")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def spark():
    from nreadability_spark.spark.session import get_spark
    s = get_spark("plan-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_count(plan: str, node: str) -> int:
    """Count physical nodes by their '(n) NodeName' detail headers."""
    import re
    return len(re.findall(rf"^\(\d+\) {node}", plan, re.MULTILINE))


def key_exchange_count(plan: str) -> int:
    """Exchange nodes excluding the scale-adaptive round-robin _spread
    (r7): a compact single-row-group input file otherwise pins the map
    side to 1-2 tasks, so heavy per-doc ops re-split it; the lock's
    point — no unexpected KEY shuffles — is preserved by counting only
    non-round-robin exchanges."""
    import re
    total = node_count(plan, "Exchange")
    rr = len(re.findall(r"Arguments: ROUND_ROBIN|"
                        r"Arguments: RoundRobinPartitioning|"
                        r"roundrobinpartitioning", plan))
    return total - rr


def test_extraction_plan_shape(spark):
    from nreadability_spark.spark.job import run_extraction
    from nreadability_spark.spark.pages import synthesize_pages
    pages = synthesize_pages(spark, SF_DIR, include_fixtures=False)
    plan = plan_of(run_extraction(spark, pages))
    # the Python stage is fed by exactly one exchange (the salted
    # repartition); no second shuffle sneaks in
    assert node_count(plan, "Exchange") == 1
    assert "MapInArrow" in plan or "MapInPandas" in plan
    assert "xxhash64" in plan


def test_extraction_scan_prunes_columns(spark):
    """Reading from a materialized pages table must only scan url+html."""
    from nreadability_spark.spark.job import run_extraction
    from nreadability_spark.spark.pages import synthesize_pages
    import tempfile
    path = os.path.join(tempfile.mkdtemp(prefix="plan_prune_"),
                        "pages.parquet")
    synthesize_pages(spark, SF_DIR, include_fixtures=False) \
        .write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    plan = plan_of(run_extraction(spark, pages))
    assert "ReadSchema: struct<url:string,html:binary>" in plan
    # the unused columns never leave the scan
    assert "warc_ts" not in plan
    assert "lang" not in plan


def test_presalted_extraction_plan_is_shuffle_free(spark):
    """num_partitions=0 (pre-salted corpus layout) must produce a plan
    with NO exchange: scan -> project -> mapInArrow only."""
    from nreadability_spark.spark.job import run_extraction
    from nreadability_spark.spark.pages import synthesize_pages
    import tempfile
    path = os.path.join(tempfile.mkdtemp(prefix="plan_presalt_"),
                        "pages.parquet")
    from pyspark.sql import functions as F
    synthesize_pages(spark, SF_DIR, include_fixtures=False) \
        .repartition(8, F.xxhash64("url")) \
        .write.mode("overwrite").parquet(path)
    plan = plan_of(run_extraction(spark, spark.read.parquet(path),
                                  num_partitions=0))
    assert node_count(plan, "Exchange") == 0
    assert "MapInArrow" in plan or "MapInPandas" in plan


def test_broadcast_join_for_small_dims(spark):
    from nreadability_spark.spark.ops import orders_by_nation
    plan = plan_of(orders_by_nation(spark, SF_DIR))
    assert node_count(plan, "BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan
    assert "partial_count" in plan  # map-side combine before the exchange


def test_ann_topk_broadcasts_query_side(spark):
    from nreadability_spark.spark.ops import ann_topk
    plan = plan_of(ann_topk(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_lsh_band_join_is_bucket_capped(spark):
    """The oversized-bucket guard (skew defuse) must stay in the plan: a
    broadcast anti-join removes mega-bucket rows before the band self-join,
    so one hot (band_id, band_sig) key can't produce O(n^2) join output.
    dedup_embedding carries the same guard on its (bucket) key — at web
    scale near-zero/boilerplate embeddings pile into one LSH bucket."""
    from nreadability_spark.spark.ops import (dedup_embedding,
                                              dedup_minhash_lsh,
                                              dedup_simhash)
    for q in (dedup_minhash_lsh, dedup_simhash, dedup_embedding):
        plan = plan_of(q(spark, SF_DIR))
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, q.__name__


def test_ivf_cells_scale_with_knob(spark):
    """ann_ivf_topk's cell join key cardinality must follow n_cells (the
    round-2 shape hard-coded 16 — at 100 TB the exchange would hash the
    whole candidate corpus into <=16 partitions), and the centroids must
    be literal arrays in the plan, not per-row LCG re-expansions."""
    from nreadability_spark.spark.ops import ann_ivf_topk
    df64 = ann_ivf_topk(spark, SF_DIR, n_cells=64, n_probe=8)
    from nreadability_spark.spark.ops import _ivf_scores
    # plan contains the literal centroid arrays (constant-folded vectors)
    plan = plan_of(df64)
    assert "sequence(0, 63" not in plan  # no per-row LCG expansion
    # distinct cell count grows with the knob
    from nreadability_spark.spark.ops import _QVEC, _N_QUERIES
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    n16 = (emb.where(f"vec_id >= {_N_QUERIES}")
           .selectExpr(f"{_QVEC} as cv")
           .selectExpr(f"-array_max({_ivf_scores('cv', 'spark', 16)}).nj "
                       "as cell").select("cell").distinct().count())
    n64 = (emb.where(f"vec_id >= {_N_QUERIES}")
           .selectExpr(f"{_QVEC} as cv")
           .selectExpr(f"-array_max({_ivf_scores('cv', 'spark', 64)}).nj "
                       "as cell").select("cell").distinct().count())
    assert n64 > n16 >= 8


def test_ivf_index_search_uses_dynamic_partition_pruning(spark, tmp_path):
    """ann_ivf_build writes a cell-partitioned index; ann_ivf_search's
    probe join must reach the scan as a dynamic partition filter (the
    IO-side realization of 'each query touches nprobe/ncells of the
    corpus'), and results must equal the self-contained ann_ivf_topk."""
    from nreadability_spark.spark.ops import (ann_ivf_build,
                                              ann_ivf_search, ann_ivf_topk)
    idx = str(tmp_path / "ivf_index")
    ann_ivf_build(spark, SF_DIR, idx)
    df = ann_ivf_search(spark, SF_DIR, idx)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower()
    got = sorted(map(tuple, df.collect()))
    base = sorted(map(tuple, ann_ivf_topk(spark, SF_DIR).collect()))
    assert got == base


def test_reliable_checkpoint_path(spark, tmp_path):
    """With spark.nreadability.checkpointDir set, iterative ops cut
    lineage via reliable checkpoint() files instead of executor-local
    blocks (the recoverable 100 TB path); results are unchanged."""
    from nreadability_spark.spark.ops import dedup_minhash_lsh
    base = dedup_minhash_lsh(spark, SF_DIR).collect()
    cdir = str(tmp_path / "reliable_ckpt")
    spark.conf.set("spark.nreadability.checkpointDir", cdir)
    try:
        rel = dedup_minhash_lsh(spark, SF_DIR).collect()
    finally:
        spark.conf.unset("spark.nreadability.checkpointDir")
    assert sorted(map(tuple, rel)) == sorted(map(tuple, base))
    ckpt_files = []
    for dirpath, _dirs, files in os.walk(cdir):
        ckpt_files.extend(files)
    assert ckpt_files, "no reliable checkpoint files were written"


def test_ngram_jaccard_prunes_shingles_before_pair_join(spark):
    """The shingle table must be semi-joined down to candidate docs
    BEFORE tokenize/explode (r7: previously the full corpus exploded
    and distinct-shuffled first) — the prune lives in the checkpointed
    subplan, so lock its own plan: LeftSemi below the Generate."""
    from nreadability_spark.spark.ops import (_corpus, _jaccard_shingles,
                                              dedup_minhash_lsh)
    cand = dedup_minhash_lsh(spark, SF_DIR)
    cand_docs = (cand.selectExpr("doc1 as doc_id")
                 .union(cand.selectExpr("doc2 as doc_id")).distinct())
    plan = plan_of(_jaccard_shingles(_corpus(spark, SF_DIR), cand_docs))
    assert "LeftSemi" in plan
    assert "Generate" in plan  # the explode
    assert plan.index("Generate") < plan.index("LeftSemi"), \
        "semi-join must run below (before) the explode"


def test_host_cap_is_single_shuffle_bounded_window(spark):
    """host_cap must be one exchange (the window's host partition) with
    a PARTIAL WindowGroupLimit before it: each map task pre-prunes to
    its own top-K per host, so the exchange moves <=K rows per (host,
    map-partition) and no mega-host ever sorts its full footprint in one
    task. A second explicit ranking phase would only add an exchange —
    Spark's WindowGroupLimit already IS the two-phase top-K."""
    from nreadability_spark.spark.ops import host_cap
    plan = plan_of(host_cap(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 1
    assert "Window" in plan
    import re
    assert re.search(r"WindowGroupLimit[\s\S]*?row_number\(\), 5, Partial",
                     plan), "map-side partial top-K missing"


def test_training_mix_uses_semi_joins(spark):
    """The composition query must reach its dedup/lang legs through
    left-semi joins (set membership, not row multiplication)."""
    from nreadability_spark.spark.ops import training_mix
    plan = plan_of(training_mix(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_vocab_build_has_mapside_partial_agg(spark):
    """The document-frequency count must partial-aggregate before its
    exchange (map-side combine on the exploded token stream), and the
    global top-k must compile to TakeOrderedAndProject (per-partition
    partial top-K, tiny driver merge) — NEVER a single-partition
    exchange of the whole aggregated vocabulary. The only exchange in
    the plan is the token-key hash exchange; the rank window runs over
    the <=K top-k output, whose single-partition property is already
    satisfied (no Exchange SinglePartition node). The only KEY exchange
    is the token-key hash exchange (the round-robin _spread of the
    under-split scan is not a key shuffle)."""
    from nreadability_spark.spark.ops import vocab_top_terms
    plan = plan_of(vocab_top_terms(spark, SF_DIR))
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan
    assert key_exchange_count(plan) == 1


def test_decontaminate_broadcasts_benchmark_ngrams(spark):
    """The benchmark n-gram table must broadcast (eval suites are KBs
    against a TB-scale corpus): the corpus-side shingle stream joins it
    without shuffling; the only exchange keys on doc_id for the hit
    count."""
    from nreadability_spark.spark.ops import decontaminate
    plan = plan_of(decontaminate(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_quality_repetition_has_mapside_partial_agg(spark):
    """Both gram counts must partial-aggregate before their exchanges
    (map-side combine on the exploded gram stream) — at corpus scale the
    exploded grams are ~100x the document bytes."""
    from nreadability_spark.spark.ops import quality_repetition
    plan = plan_of(quality_repetition(spark, SF_DIR))
    assert "partial_count" in plan


def test_pii_redact_is_single_stage(spark):
    """PII scrub is a pure JVM regex projection: no exchange, no Python
    workers in the plan."""
    from nreadability_spark.spark.ops import pii_redact
    plan = plan_of(pii_redact(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 0
    assert "Python" not in plan  # no ArrowEvalPython / BatchEvalPython


def test_events_asof_is_joinless_single_user_shuffle(spark):
    """The as-of join must compile to the union+window shape: ZERO join
    nodes (a per-user equi-join would amplify |errors_u| x |clicks_u|
    rows before the max-filter), just a window over the user_id
    exchange."""
    from nreadability_spark.spark.ops import events_asof
    plan = plan_of(events_asof(spark, SF_DIR))
    assert "Join" not in plan
    assert "Window" in plan


def test_events_range_join_is_bucketed_equijoin(spark):
    """The range join must run as a hash equi-join on (user_id, bucket)
    with the range predicate inside — never a nested-loop/cartesian
    product over the inequality."""
    from nreadability_spark.spark.ops import events_range_counts
    plan = plan_of(events_range_counts(spark, SF_DIR))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan \
        or "ShuffledHashJoin" in plan


def test_stratified_sample_is_zero_shuffle_pruned_scan(spark):
    """Hash sampling must stay a pure filter projection: no exchange, no
    Python, and only (doc_id, lang) leave the scan — at 100 TB this is
    one pass fused into whatever reads the table next."""
    from nreadability_spark.spark.ops import stratified_sample
    plan = plan_of(stratified_sample(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 0
    assert "Python" not in plan
    assert "ReadSchema: struct<doc_id:bigint,lang:string>" in plan


def test_pack_sequences_is_single_stream_shuffle(spark):
    """Sequence packing must shuffle exactly once (the stream key) and
    scan only (doc_id, text); the running sum is one window pass per
    independent stream."""
    from nreadability_spark.spark.ops import pack_sequences
    plan = plan_of(pack_sequences(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 1
    assert "Window" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_pack_sequences_stream_count_scales(spark):
    """The parallelism ceiling is a knob, not a constant: the default
    derives the stream count from the cluster (defaultParallelism), and
    an explicit n_streams changes the stream-key cardinality while the
    plan stays the same single exchange."""
    from pyspark.sql import functions as F
    from nreadability_spark.spark.ops import pack_sequences
    # explicit knob: 64 populated streams, still one exchange
    df64 = pack_sequences(spark, SF_DIR, n_streams=64)
    assert node_count(plan_of(df64), "Exchange") == 1
    n64 = df64.select(F.countDistinct("stream")).collect()[0][0]
    assert n64 == 64
    # parallelism-derived default (local[4] fixture -> 4 streams)
    ndef = (pack_sequences(spark, SF_DIR)
            .select(F.countDistinct("stream")).collect()[0][0])
    assert ndef == spark.sparkContext.defaultParallelism


def test_lang_mix_weights_aggregates_before_single_partition(spark):
    """The scalar-total window runs AFTER the per-language aggregation:
    the single-partition exchange only ever sees #languages rows, never
    the corpus (map-side partial_count before the first exchange)."""
    from nreadability_spark.spark.ops import lang_mix_weights
    plan = plan_of(lang_mix_weights(spark, SF_DIR))
    assert "partial_count" in plan


def test_dedup_lines_broadcasts_boilerplate_set(spark):
    """The corpus-frequency ("boilerplate") set must come back to the
    exploded segment table as a BROADCAST join — the big exploded side
    reaches the join with zero exchanges of its own; the only big-side
    shuffle is the final per-doc reassembly. Only (doc_id, text) leave
    the scan."""
    from nreadability_spark.spark.ops import dedup_lines
    plan = plan_of(dedup_lines(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the boilerplate set is checkpointed before the join, so the only
    # KEY exchange left in this plan is the doc_id reassembly (the
    # round-robin _spread of the under-split scan is not a key shuffle);
    # the exploded big side itself never key-shuffles before the join
    assert key_exchange_count(plan) == 1
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    # the segmentation expression must be evaluated ONCE per branch: the
    # posexplode_outer + output-column filter keeps the (non-codegen)
    # higher-order segmentation out of any pushed-down Filter condition
    # (a plain posexplode re-evaluates it 2x more per row there —
    # measured 2.6x slower end-to-end)
    import re
    for cond in re.findall(r"^Condition : .*$", plan, re.MULTILINE):
        assert "transform(sequence" not in cond


def test_dedup_lines_size_gate_degrades_to_shuffle_join(spark):
    """Above the broadcast threshold the boilerplate set must join as a
    SHUFFLED hash join on the segment hash — the forced broadcast of a
    corpus-derived (potentially 1e9+-row) set would OOM the driver
    instead of degrading. max_broadcast_rows=0 forces the big-set mode;
    the result itself is strategy-independent (parity-checked by the
    default-mode oracle test)."""
    from nreadability_spark.spark.ops import dedup_lines
    plan = plan_of(dedup_lines(spark, SF_DIR, max_broadcast_rows=0))
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_gopher_quality_is_zero_shuffle_projection(spark):
    """The rule filter must stay a pure scan-fused projection: no
    exchange, no Python — one pass at any corpus size."""
    from nreadability_spark.spark.ops import gopher_quality
    plan = plan_of(gopher_quality(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 0
    assert "Python" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_token_split_evaluated_once_per_branch(spark):
    """Interpreted higher-order expressions get no common-subexpression
    elimination: every textual occurrence of the tokenization split in
    the plan is a full per-row re-parse. The token ops hoist the split
    into its own projection (CollapseProject keeps a non-cheap alias
    referenced more than once), so each plan carries exactly one split
    per corpus branch."""
    from nreadability_spark.spark import ops
    expected = {"token_counts": 1, "quality_score": 1,
                "gopher_quality": 1, "token_counts_bpe": 0,
                # the freq branch is checkpointed before the join (size
                # gate), so the visible plan carries only the big
                # branch's tokenization
                "dedup_lines": 1,
                # r7: the sketch ops tokenize inside the fused Python
                # kernel (guide §4.2) — zero JVM split expressions; the
                # non-empty guards remain cheap text regexes before the
                # Python boundary
                "simhash": 0, "minhash_signatures": 0}
    for name, n in expected.items():
        fn, _sql = ops.SQL_OPS[name]
        plan = plan_of(fn(spark, SF_DIR))
        assert plan.count("split(lower") == n, name
        # token_counts_bpe tokenizes via regexp_extract_all; its lower()
        # and main-pattern extraction must also be single-evaluation
        if name == "token_counts_bpe":
            assert plan.count("lower(") == 1


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")) \
        .where("o_custkey = 42").select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]" \
        in plan


def test_dedup_lines_within_doc_keys_contain_doc_id(spark):
    """The intra-doc pass has no corpus-wide table at all: both
    exchanges key on composites containing doc_id (first-occurrence
    ranking on (doc_id, h), reassembly on doc_id), so no reducer ever
    sees more than one document's worth of a segment. No joins, no
    broadcast, segmentation evaluated once (output-column filter)."""
    from nreadability_spark.spark.ops import dedup_lines_within_doc
    plan = plan_of(dedup_lines_within_doc(spark, SF_DIR))
    assert "Join" not in plan
    assert key_exchange_count(plan) == 2
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    import re
    for cond in re.findall(r"^Condition : .*$", plan, re.MULTILINE):
        assert "transform(sequence" not in cond


def test_lm_bigram_score_model_joins_by_shuffle(spark):
    """The corpus bigram model aggregates on top of the per-doc tf
    output (partial_count before the first exchange; the raw gram
    stream is read once), and the model joins back by SHUFFLE — a
    corpus-derived table must never be forced broadcast (the dedup_lines
    lesson); at test scale AQE may still pick broadcast at runtime, so
    pin the static plan with autoBroadcastJoinThreshold off."""
    from nreadability_spark.spark.ops import lm_bigram_score
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(lm_bigram_score(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
    assert "partial_count" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_stratified_sample_fixed_is_partial_topk(spark):
    """The fixed-K sampler must compile like host_cap: one language-key
    exchange with a Partial WindowGroupLimit before it, so no stratum
    sorts its full footprint in one task."""
    from nreadability_spark.spark.ops import stratified_sample_fixed
    plan = plan_of(stratified_sample_fixed(spark, SF_DIR))
    assert node_count(plan, "Exchange") == 1
    import re
    assert re.search(r"WindowGroupLimit[\s\S]*?row_number\(\), \d+, Partial",
                     plan)


@pytest.mark.parametrize("sketch", ["minhash", "simhash"])
def test_incremental_index_side_has_no_exchange(spark, sketch):
    """The incremental-ingest contract: the persisted band index and its
    count table are read through their bucket layout with ZERO exchange
    above either FileScan — only the (small) batch side shuffles. A
    regression here means every batch re-shuffles the corpus index."""
    import re
    from nreadability_spark.spark import ops
    table = f"t_{sketch}_inc_plan"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = getattr(ops, f"dedup_{sketch}_incremental")(spark, SF_DIR,
                                                          table=table)
        # the indented toString tree (not 'formatted'): scan attributes
        # and tree shape in one text so the walk below can pair them
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_exchanges = node_count(plan_of(df), "Exchange")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760b")
        spark.sql(f"drop table if exists {table}")
        spark.sql(f"drop table if exists {table}_counts")
    # the batch side: the distinct agg and the count joins, nothing more
    assert n_exchanges <= 4
    scans = [m.start() for m in
             re.finditer(rf"FileScan parquet [^\n]*{table}", plan)]
    assert scans, "index table scans missing from the plan"
    assert plan.count("SelectedBucketsCount") == len(scans)
    # no Exchange may sit between an index scan and the operator that
    # consumes it: walk upward from each scan line through its
    # indentation and fail on any Exchange before a Join/Aggregate
    lines = plan.splitlines()
    for ln, line in enumerate(lines):
        if "FileScan parquet" not in line or table not in line:
            continue
        depth = len(line) - len(line.lstrip(" :+-"))
        for k in range(ln - 1, -1, -1):
            up = lines[k]
            udepth = len(up) - len(up.lstrip(" :+-"))
            if udepth >= depth:
                continue
            assert "Exchange" not in up, (
                f"Exchange above index scan:\n{up}\n{line}")
            if "Join" in up or "HashAggregate" in up:
                break
            depth = udepth


def test_corpus_diff_is_single_fullouter_join(spark):
    """Snapshot diff must be ONE full-outer join on the key with hashed
    fingerprints computed map-side — no content column survives past
    the scan projections and nothing joins twice."""
    from nreadability_spark.spark.ops import corpus_diff
    plan = plan_of(corpus_diff(spark, SF_DIR))
    assert node_count(plan, "SortMergeJoin") == 1
    assert "FullOuter" in plan
    assert node_count(plan, "Exchange") <= 3  # two sides + AQE final
    # fingerprints, not text, cross the exchanges
    import re
    exch = re.findall(r"\(\d+\) Exchange[\s\S]*?Arguments: [^\n]*", plan)
    assert exch and all("text" not in e for e in exch)


def test_spread_size_gate(spark):
    """_spread is input-size-adaptive (r7): a scan below
    _SPREAD_MIN_BYTES of estimated input is left alone (the re-split
    shuffle costs more than the parallelism it buys — measured 2-3x
    slower at sf0.1 for every light consumer), above it the round-robin
    re-split engages, heavy=True (per-row work dwarfs any shuffle, e.g.
    the PDF build kernel) bypasses the gate, and a failing size probe
    falls back to spreading."""
    from nreadability_spark.spark import ops
    docs = ops._read(spark, SF_DIR, "documents").select("doc_id", "text")
    n_scan = docs.rdd.getNumPartitions()
    target = spark.sparkContext.defaultParallelism
    assert n_scan < target  # single-row-group input: the gated scenario
    # tiny scan: gate leaves it alone
    assert ops._spread(docs).rdd.getNumPartitions() == n_scan
    # heavy callers bypass the size gate
    assert ops._spread(docs, heavy=True).rdd.getNumPartitions() == target

    # the size probe is a private JVM API: when it raises, _spread
    # degrades to the pre-gate behaviour instead of failing the query
    from py4j.protocol import Py4JError

    class NoPlanStats:
        def __init__(self, jdf):
            self._jdf = jdf

        def queryExecution(self):
            raise Py4JError("Method queryExecution([]) does not exist")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    no_probe = type(docs)(NoPlanStats(docs._jdf), docs.sparkSession)
    assert ops._spread(no_probe).rdd.getNumPartitions() == target
    # above the threshold the re-split engages (waves multiply it)
    old = ops._SPREAD_MIN_BYTES
    ops._SPREAD_MIN_BYTES = 0
    try:
        assert ops._spread(docs).rdd.getNumPartitions() == target
        assert ops._spread(docs, waves=2).rdd.getNumPartitions() == 2 * target
    finally:
        ops._SPREAD_MIN_BYTES = old
