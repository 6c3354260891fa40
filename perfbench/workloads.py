"""The benchmark workloads.

Each workload writes its seeded inputs under a run directory. A set-up
starts a session, loads the inputs and runs an untimed warm-up over a
small slice of them, which forks the Python workers and imports the code
they run. In the set-up that launched the JVM (``warmup(spark,
first=True)``) the warm-up is the timed action itself, so that the first
timed pass does not compile its plans: a pass runs many small Spark jobs,
and a new JVM plans and compiles them several times slower. Then come the
timed passes. A
pass is one full-consumption action: an order-independent aggregate over
an md5 of every non-timing output column, whose value is also the
output digest the pass is checked against (``digests.json``).
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

import corpus

# extraction output columns covered by the digest (elapsed_us is timing)
EXTRACT_COLS = ("url", "extracted", "title", "content", "content_text",
                "next_page_url", "error", "html_bytes")
OPS = ("training_mix", "ngram_jaccard", "dedup_minhash_incremental",
       "lm_bigram_score")
_SEP, _NULL = "\x1f", "\x00"


@dataclass
class PassResult:
    docs: int                  # input documents the pass completed
    wall_s: float
    failed: int = 0            # error rows + missing rows + digest mismatches
    latencies_us: list = field(default_factory=list)
    query_s: dict = field(default_factory=dict)
    mismatches: list = field(default_factory=list)


# --- digests ------------------------------------------------------------------

def digest_aggs(cols):
    """Spark aggregates: row count and two sums of 32-bit slices of
    md5(row), so any changed, lost or extra row moves the digest."""
    from pyspark.sql import functions as F
    parts = [F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
    h = F.md5(F.concat_ws(_SEP, *parts))
    slice32 = lambda k: F.conv(F.substring(h, k, 8), 16, 10).cast("long")  # noqa: E731
    return [F.count(F.lit(1)).alias("rows"), F.sum(slice32(1)).alias("lo"),
            F.sum(slice32(9)).alias("hi")]


def digest_of(row) -> str:
    return f"{row['rows']}:{row['lo'] or 0}:{row['hi'] or 0}"


def py_digest(rows) -> str:
    """The same digest over extraction rows computed in-process."""
    n = lo = hi = 0
    for r in rows:
        vals = []
        for c in EXTRACT_COLS:
            v = r[c]
            vals.append(_NULL if v is None else
                        ("true" if v else "false") if isinstance(v, bool)
                        else str(v))
        h = hashlib.md5(_SEP.join(vals).encode("utf-8")).hexdigest()
        n, lo, hi = n + 1, lo + int(h[:8], 16), hi + int(h[8:16], 16)
    return f"{n}:{lo}:{hi}"


def perturbed(df, target_url: str):
    """``df`` with one byte of one row's content changed (``--perturb``)."""
    from pyspark.sql import functions as F
    content = F.when(F.col("url") == target_url,
                     F.concat(F.lit("#"), F.expr("substring(content, 2)"))
                     ).otherwise(F.col("content"))
    return df.withColumn("content", content)


def _count(rows: list, want: int) -> int:
    """The generated input size, checked: a corpus never silently shrinks."""
    if len(rows) != want:
        raise RuntimeError(f"generated {len(rows)} documents, expected {want}")
    return want


def check_aggs():
    """Digest, error count and per-document latencies of extraction rows."""
    from pyspark.sql import functions as F
    return [*digest_aggs(EXTRACT_COLS),
            F.sum(F.col("error").isNotNull().cast("long")).alias("errors"),
            F.collect_list("elapsed_us").alias("lat")]


def _check(res: PassResult, row, want: str, expected_rows: int) -> PassResult:
    got = digest_of(row)
    res.failed += (row["errors"] or 0) + max(0, expected_rows - row["rows"])
    if got != want:
        res.failed += 1
        res.mismatches.append(f"digest {got} != pinned {want}")
    return res


class WarcJob:
    """read_pages_warc -> run_job (salted exchange, parquet sink, rollup)
    over small template pages plus a long-tailed set of tag-soup pages."""
    name = "warc_job"
    n_small, n_heavy, n_files = 1500, 320, 8
    n_warmup_heavy = 8
    setups = 3

    def __init__(self, seed: int, perturb: bool = False):
        self.seed, self.perturb = seed, perturb
        self.passes = 0

    def pages(self) -> list[tuple[str, bytes]]:
        return (corpus.small_pages(self.n_small)
                + corpus.heavy_pages(self.n_heavy))

    def kernel_sample(self) -> list[tuple[str, bytes]]:
        """A fixed, seed-independent sample for the in-process trace: 200
        template pages and every 4th tag-soup page by size."""
        pages = self.pages()
        heavy = sorted(pages[self.n_small:], key=lambda p: len(p[1]))
        return pages[:200] + heavy[::4]

    def prepare(self, run_dir: str) -> None:
        pages = self.pages()
        self.expected_rows = _count(pages, self.n_small + self.n_heavy)
        self.target_url = pages[len(pages) // 2][0]
        self.run_dir = run_dir
        self.input_dir = os.path.join(run_dir, "warc")
        corpus.write_warc(self.input_dir, pages, self.seed, self.n_files)
        # every 50th template page and the smallest tag-soup pages: the
        # warm-up runs the tag-soup paths as well as the template ones
        heavy = sorted(pages[self.n_small:], key=lambda p: len(p[1]))
        self.warmup_dir = os.path.join(run_dir, "warc-warmup")
        corpus.write_warc(self.warmup_dir,
                          pages[:self.n_small:50] + heavy[:self.n_warmup_heavy],
                          self.seed, self.n_files)

    def _job(self, spark, pages) -> tuple[dict, str]:
        from nreadability_spark.spark.job import run_job
        self.passes += 1
        out_dir = os.path.join(self.run_dir, f"out-{self.passes}")
        summary = run_job(spark, pages, out_dir, run_id=f"pass{self.passes}")
        return summary, out_dir

    def warmup(self, spark, first: bool = False) -> None:
        """Load both WARC sets into the session and extract the warm-up
        set: through the whole job in a new JVM, else to an aggregate."""
        from nreadability_spark.spark.job import run_extraction
        from nreadability_spark.spark.sources import read_pages_warc
        self.inputs = read_pages_warc(spark, self.input_dir + "/*.warc.gz")
        warmup_inputs = read_pages_warc(spark, self.warmup_dir + "/*.warc.gz")
        if first:
            _, out_dir = self._job(spark, warmup_inputs)
            shutil.rmtree(out_dir, ignore_errors=True)
        else:
            run_extraction(spark, warmup_inputs).agg(*check_aggs()).collect()

    def run_pass(self, spark, expected: dict, group: str) -> PassResult:
        from pyspark.sql import functions as F
        t0 = time.perf_counter()
        summary, out_dir = self._job(spark, self.inputs)
        wall = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(group + ".check", "digest")
        written = spark.read.parquet(summary["extracted_path"]).where(
            F.col("run_id") == summary["run_id"])
        if self.perturb:
            written = perturbed(written, self.target_url)
        row = written.agg(*check_aggs()).collect()[0]
        shutil.rmtree(out_dir, ignore_errors=True)
        return _check(PassResult(self.expected_rows, wall,
                                 latencies_us=list(row["lat"])),
                      row, expected["digest"], self.expected_rows)


class CorpusOps:
    """Four spark.ops queries over a row-permuted documents table."""
    name = "corpus_ops"
    n_docs = corpus.N_DOCS
    n_warmup_docs = 250
    setups = 5  # a warm set-up takes about 1 s here

    def __init__(self, seed: int, perturb: bool = False):
        self.seed, self.perturb = seed, perturb

    def kernel_sample(self):
        return None

    def prepare(self, run_dir: str) -> None:
        docs = corpus.documents(self.n_docs)
        rows = [docs[i] for i in corpus.permutation(len(docs), self.seed)]
        schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                            ("lang", pa.string()), ("source", pa.string()),
                            ("n_chars", pa.int64())])
        self.sf_dir = os.path.join(run_dir, "sf")
        self.warmup_dir = os.path.join(run_dir, "sf-warmup")
        for d, part in ((self.sf_dir, rows),
                        (self.warmup_dir, rows[:self.n_warmup_docs])):
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(part, schema=schema),
                           os.path.join(d, "documents.parquet"))
        self.expected_rows = _count(rows, self.n_docs)

    def _query(self, spark, q: str, sf_dir: str | None = None):
        from pyspark.sql import functions as F

        from nreadability_spark.spark.ops import SQL_OPS
        df = SQL_OPS[q][0](spark, sf_dir or self.sf_dir)
        if self.perturb and q == OPS[-1]:
            df = df.withColumn(df.columns[-1], F.col(df.columns[-1]) + 1)
        return df.agg(*digest_aggs(df.columns)).collect()[0]

    def warmup(self, spark, first: bool = False) -> None:
        """Queries over the warm-up table (the queries read their input
        themselves): in a new JVM all four, at the same time, else one."""
        if not first:
            self._query(spark, OPS[-1], self.warmup_dir)
            return
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(len(OPS)) as pool:
            list(pool.map(lambda q: self._query(spark, q, self.warmup_dir),
                          OPS))

    def run_pass(self, spark, expected: dict, group: str) -> PassResult:
        res = PassResult(self.expected_rows, 0.0)
        for q in OPS:
            spark.sparkContext.setJobGroup(f"{group}.{q}", q)
            t0 = time.perf_counter()
            row = self._query(spark, q)
            res.query_s[q] = time.perf_counter() - t0
            got, want = digest_of(row), expected[q]
            if got != want:
                res.failed += 1
                res.mismatches.append(f"{q}: digest {got} != pinned {want}")
        res.wall_s = sum(res.query_s.values())
        return res


WORKLOADS = {w.name: w for w in (WarcJob, CorpusOps)}
