"""Dataset-level extraction pipeline.

Plan shape (SURVEY.md §2.X):

    scan -> select(url, html)            # column pruning reaches the scan
         -> [left-anti resume join]      # checkpoint/resume
         -> repartition(P, xxhash64(url))  # salted: defuses host clustering
         -> mapInArrow(extract, SCHEMA)  # Arrow batches; the only Python hop
         -> sink (parquet/Iceberg append) + per-partition metrics rollup

Design notes for 100 TB:
* the extraction stage has no shuffle after the single salted repartition;
  everything downstream is narrow;
* Arrow batch rows are capped in the session config (html blobs are large);
* per-row elapsed_us + partition id flow with the rows, so the metrics
  rollup is a cheap columnar agg over the already-materialized sink —
  extraction is never recomputed for metrics;
* resume is a left-anti join against the sink's committed urls — with AQE
  skew handling on; idempotent appends keyed by (url, run_id).
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import time
import zipfile
from typing import Optional

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (BooleanType, LongType, StringType,
                               StructField, StructType)

OUT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("extracted", BooleanType()),
    StructField("title", StringType()),
    StructField("content", StringType()),
    StructField("content_text", StringType()),
    StructField("next_page_url", StringType()),
    StructField("error", StringType()),
    StructField("html_bytes", LongType()),
    StructField("elapsed_us", LongType()),
])

_SHIPPED: set[int] = set()


def ensure_package_shipped(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the local-mode
    equivalent of ``spark-submit --py-files dist.zip``). Without it the
    extraction UDF only imports when the driver happens to run from the
    repo root."""
    key = id(spark.sparkContext)
    if key in _SHIPPED:
        return
    import nreadability_spark
    pkg_dir = os.path.dirname(os.path.abspath(nreadability_spark.__file__))
    root = os.path.dirname(pkg_dir)
    hasher = hashlib.sha256()
    names = []
    for dirpath, _dirs, files in os.walk(pkg_dir):
        for fn in sorted(files):
            if fn.endswith(".py"):
                p = os.path.join(dirpath, fn)
                names.append(p)
                with open(p, "rb") as f:
                    hasher.update(p.encode())
                    hasher.update(f.read())
    zip_path = os.path.join(tempfile.gettempdir(),
                            f"nreadability_spark_{hasher.hexdigest()[:16]}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for p in names:
                zf.write(p, os.path.relpath(p, root))
        os.replace(tmp, zip_path)
    spark.sparkContext.addPyFile(zip_path)
    _SHIPPED.add(key)


def demo_image_transformer(value: str, element) -> tuple:
    """Sample ImageSourceTransformer (reference hook contract,
    ReadabilityTranscoder.cs:1716-1729): rewrite the resolved src to a
    CDN indirection and record the original under ``origsrc``."""
    return "https://cdn.example.org/t?u=" + value, "origsrc"


def demo_anchor_transformer(value: str, element) -> tuple:
    """Sample AnchorHrefTransformer: keep the resolved href (so
    next-page detection is unaffected) but record it under
    ``orighref``."""
    return value, "orighref"


def transcode_row(url: Optional[str], html: Optional[bytes],
                  image_transformer=None, anchor_transformer=None) -> dict:
    """Extract one document; never raises (failures become rows)."""
    from nreadability_spark.readability import transcode
    from nreadability_spark.readability.encoding import decode_html_bytes
    t0 = time.perf_counter_ns()
    nbytes = len(html) if html is not None else 0
    try:
        text = decode_html_bytes(bytes(html)) if html is not None else ""
        if image_transformer is None and anchor_transformer is None:
            result = transcode(text, url or None)
        else:
            from nreadability_spark.readability.transcoder import Transcoder
            t = Transcoder()
            t.image_source_transformer = image_transformer
            t.anchor_href_transformer = anchor_transformer
            result = t.transcode(text, url or None)
        return {
            "url": url,
            "extracted": bool(result.content_extracted),
            "title": result.title,
            "content": result.content,
            "content_text": result.content_text,
            "next_page_url": result.next_page_url,
            "error": None,
            "html_bytes": nbytes,
            "elapsed_us": (time.perf_counter_ns() - t0) // 1000,
        }
    except Exception as exc:  # parse/serialize failure -> failed row
        return {
            "url": url,
            "extracted": False,
            "title": None,
            "content": None,
            "content_text": None,
            "next_page_url": None,
            "error": f"{type(exc).__name__}: {exc}"[:500],
            "html_bytes": nbytes,
            "elapsed_us": (time.perf_counter_ns() - t0) // 1000,
        }


# fingerprint output: ship a hash + length instead of the rendered HTML
# and text blobs — the serde-narrow shape for consumers that only
# deduplicate / audit (cuts Python->JVM Arrow traffic ~50x per row)
FINGERPRINT_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("extracted", BooleanType()),
    StructField("title", StringType()),
    StructField("content_md5", StringType()),
    StructField("content_len", LongType()),
    StructField("next_page_url", StringType()),
    StructField("error", StringType()),
    StructField("html_bytes", LongType()),
    StructField("elapsed_us", LongType()),
])


def _fingerprint_of(row: dict) -> dict:
    content = row["content"] or ""
    out = {c: row[c] for c in ("url", "extracted", "title",
                               "next_page_url", "error", "html_bytes",
                               "elapsed_us")}
    out["content_md5"] = hashlib.md5(content.encode("utf-8")).hexdigest()
    out["content_len"] = len(content)
    return out


def _make_arrow_extractor(out_schema, rows_of):
    """Build a mapInArrow generator: one RecordBatch(out_schema) out per
    RecordBatch in; ``rows_of(*row)`` gets one input row's values, one
    per input column, and yields its output rows as dicts keyed by
    column. This is the one place Python rows cross the Arrow boundary."""

    def gen(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        sys.setrecursionlimit(40000)
        schema = to_arrow_schema(out_schema)
        cols = schema.names
        for rb in batches:
            data: dict[str, list] = {c: [] for c in cols}
            for row in zip(*(col.to_pylist() for col in rb.columns)):
                for out in rows_of(*row):
                    for c in cols:
                        data[c].append(out[c])
            yield pa.RecordBatch.from_arrays(
                [pa.array(data[f.name], type=f.type) for f in schema],
                schema=schema)

    return gen


def map_rows(df: DataFrame, out_schema, rows_of) -> DataFrame:
    """``df`` -> the rows ``rows_of(*row)`` yields for each input row,
    as dicts keyed by the columns of ``out_schema`` (a StructType or a
    DDL string): the Arrow row boundary of every stateless Python
    stage."""
    ensure_package_shipped(df.sparkSession)
    if isinstance(out_schema, str):
        out_schema = StructType.fromDDL(out_schema)
    return df.mapInArrow(_make_arrow_extractor(out_schema, rows_of),
                         out_schema)


def _hooked_row(url, html):
    return transcode_row(url, html,
                         image_transformer=demo_image_transformer,
                         anchor_transformer=demo_anchor_transformer)


_extract_batches_arrow = _make_arrow_extractor(
    OUT_SCHEMA, lambda u, h: [transcode_row(u, h)])
_extract_batches_arrow_fp = _make_arrow_extractor(
    FINGERPRINT_SCHEMA, lambda u, h: [_fingerprint_of(transcode_row(u, h))])
_extract_batches_arrow_hooked = _make_arrow_extractor(
    OUT_SCHEMA, lambda u, h: [_hooked_row(u, h)])


def _salted(spark: SparkSession, df: DataFrame,
            num_partitions: Optional[int]) -> DataFrame:
    """The salted exchange ahead of the kernel: ``None`` means 4 waves
    per core, fine enough that one slow partition (huge documents
    cluster) can't stretch the stage tail; ``0`` skips the exchange."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 4
    if num_partitions:
        # salt by full-url hash: pages of one host arrive clustered in
        # input order; xxhash64(url) spreads them uniformly
        df = df.repartition(num_partitions, F.xxhash64("url"))
    return df


def run_extraction(spark: SparkSession, pages: DataFrame,
                   num_partitions: Optional[int] = None,
                   done_urls: Optional[DataFrame] = None,
                   output: str = "full") -> DataFrame:
    """pages(url, html [, ...]) -> extraction results DataFrame.

    ``num_partitions=0`` skips the salted exchange: only valid when the
    input is already uniformly mixed (e.g. a corpus previously written
    through the salted path); saves a full shuffle of the html bytes.
    ``output='fingerprint'`` ships content_md5/content_len instead of the
    content/content_text blobs. ``output='hooked'`` runs the full schema
    with the demo ImageSourceTransformer/AnchorHrefTransformer hooks
    (the reference's extension points, exercised dataset-level).
    """
    ensure_package_shipped(spark)
    df = pages.select("url", "html")  # column pruning before any exchange
    if done_urls is not None:
        df = df.join(done_urls.select("url"), "url", "left_anti")
    schema = FINGERPRINT_SCHEMA if output == "fingerprint" else OUT_SCHEMA
    fn = {"fingerprint": _extract_batches_arrow_fp,
          "hooked": _extract_batches_arrow_hooked} \
        .get(output, _extract_batches_arrow)
    return _salted(spark, df, num_partitions).mapInArrow(fn, schema)


LINKS_SCHEMA = StructType([
    StructField("url", StringType()),
    StructField("link_url", StringType()),
    StructField("n", LongType()),
])


def extract_links_row(url: Optional[str],
                      html: Optional[bytes]) -> list[tuple[str, int]]:
    """All anchor hrefs of one page, resolved against the page url with
    the kernel's own ResolveElementUrl parity (uri.py — the same
    resolution the transcoder's C1 stage applies), counted per distinct
    resolved target. Parse failures yield no links (the extraction row
    already records the error). This is the link-graph builder: its
    output joined on (src_host, dst_host) feeds crawl-frontier scoring
    and host_pagerank with real edges."""
    from nreadability_spark.readability.encoding import decode_html_bytes
    from nreadability_spark.readability.parser import build_document
    from nreadability_spark.readability.uri import resolve_element_url
    try:
        text = decode_html_bytes(bytes(html)) if html is not None else ""
        doc = build_document(text)
    except Exception:
        return []
    counts: dict[str, int] = {}
    for a in doc.get_elements_by_tag_name("a"):
        href = (a.get_attribute("href") or "").strip()
        # fragment-only hrefs are same-page, never edges
        if not href or href.startswith("#"):
            continue
        target = resolve_element_url(href, url or "")
        # navigational allowlist, checked case-insensitively AFTER
        # resolution (relative hrefs inherit the page's scheme): keeps
        # http/https only, so javascript:/JavaScript:/data:/mailto:/tel:
        # pseudo-links never enter the edge table in any casing
        if not target.lower().startswith(("http://", "https://")):
            continue
        counts[target] = counts.get(target, 0) + 1
    return sorted(counts.items())


_links_batches_arrow = _make_arrow_extractor(
    LINKS_SCHEMA, lambda u, h: ({"url": u, "link_url": t, "n": n}
                                for t, n in extract_links_row(u, h)))


def extract_links(spark: SparkSession, pages: DataFrame,
                  num_partitions: Optional[int] = None) -> DataFrame:
    """pages(url, html) -> (url, link_url, n) link-graph edges, same
    partitioning contract as run_extraction (salted exchange unless the
    corpus is pre-salted and num_partitions=0)."""
    ensure_package_shipped(spark)
    return _salted(spark, pages.select("url", "html"),
                   num_partitions).mapInArrow(_links_batches_arrow,
                                              LINKS_SCHEMA)


def _assert_partitioned_layout(path: str, what: str) -> None:
    """Fail loudly when a sink directory holds flat parquet files from a
    pre-run_id-partitioned layout: mixing flat files with run_id=
    directories breaks partition discovery on read. (Local-fs check; on
    object stores the first partitioned read fails with Spark's own
    mixed-layout error instead.)"""
    if not os.path.isdir(path):
        return
    flat = [e for e in os.listdir(path)
            if e.endswith(".parquet") and not e.startswith((".", "_"))]
    if flat:
        raise ValueError(
            f"{what} sink at {path} contains flat parquet files "
            f"({flat[:3]}...) from a pre-run_id-partitioned layout; "
            "clear the directory or migrate the files under run_id= "
            "subdirectories before rerunning")


def run_job(spark: SparkSession, pages: DataFrame, out_dir: str,
            run_id: str, num_partitions: Optional[int] = None,
            resume: bool = True) -> dict:
    """Full job: extract -> parquet sink -> metrics rollup sink.

    Both sinks are hive-partitioned by run_id: the extracted sink so the
    metrics rollup and summary scan ONLY the current run's files (instead
    of every historic run's), the metrics sink so reruns dynamically
    overwrite their own rollup. Flat-layout out_dirs from older versions
    are rejected with a clear error.

    Returns summary counters. Idempotent per url: rerunning after a partial
    failure anti-joins the committed urls and appends only the remainder.
    """
    extracted_path = os.path.join(out_dir, "extracted")
    metrics_path = os.path.join(out_dir, "metrics")
    _assert_partitioned_layout(extracted_path, "extracted")
    _assert_partitioned_layout(metrics_path, "metrics")

    done = None
    if resume:
        try:
            done = spark.read.parquet(extracted_path)
        except AnalysisException as e:
            # nothing committed yet: a fresh out_dir, or an extracted/
            # holding no parquet (empty, or only _temporary). Any other
            # read error must not silently re-extract and re-append
            # every url.
            if e.getCondition() not in ("PATH_NOT_FOUND",
                                        "UNABLE_TO_INFER_SCHEMA"):
                raise

    out = run_extraction(spark, pages, num_partitions, done_urls=done)
    out = (out
           .withColumn("run_id", F.lit(run_id))
           .withColumn("partition_id", F.spark_partition_id()))
    out.write.mode("append").partitionBy("run_id").parquet(extracted_path)

    # partition pruning: only run_id=<this run> files are scanned here
    written = spark.read.parquet(extracted_path).where(
        F.col("run_id") == run_id)
    metrics = (written.groupBy("run_id", "partition_id").agg(
        F.count("*").alias("docs"),
        F.sum(F.col("extracted").cast("long")).alias("extracted"),
        F.sum((F.col("error").isNotNull()).cast("long"))
        .alias("parse_failures"),
        F.avg(F.length("content")).alias("avg_content_len"),
        F.max("html_bytes").alias("max_doc_bytes"),
        (F.sum("elapsed_us") / 1000).cast("long").alias("elapsed_ms"),
    ))
    # dynamic partition overwrite keyed by run_id: re-running a completed
    # job recomputes this run's rollup in place instead of appending a
    # duplicate copy (keeps the job idempotent for metrics consumers too)
    (metrics.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("run_id").parquet(metrics_path))

    summary = written.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("extracted").cast("long")).alias("extracted"),
        F.sum((F.col("error").isNotNull()).cast("long")).alias("failures"),
    ).collect()[0]
    return {"docs": summary["docs"], "extracted": summary["extracted"],
            "failures": summary["failures"], "run_id": run_id,
            "extracted_path": extracted_path, "metrics_path": metrics_path}
