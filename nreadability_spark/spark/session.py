"""SparkSession factory with the engine's scale-oriented defaults."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nreadability",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build a session tuned for the extraction workload.

    * AQE on (runtime coalesce / skew handling for the metrics agg and
      resume anti-join);
    * Arrow batches capped small: HTML blobs run 3 KB-450 KB each, so the
      default 10k rows/batch would blow Python-worker memory; 256 rows
      bounds a batch at ~100 MB worst-case, ~5 MB typical (override
      through ``extra_conf``);
    * shuffle partition count defaults to 4x cores so url-hash
      repartitioning spreads host-skewed inputs.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        n = master[master.find("[") + 1:master.find("]")] if "[" in master \
            else str(cpus)
        shuffle_partitions = (cpus if n == "*" else int(n)) * 4

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let the planner pick shuffled-hash join when its size checks
        # pass (guide §3.1): no sort of either side; measured r7 A/B at
        # sf1.0 — ngram_jaccard 15.8->12.9s, dedup_minhash_lsh
        # 7.8->6.7s, lm_bigram_score 8.4->5.9s, dedup_clusters
        # 11.3->10.2s, no query slower. Bucket-capped self-joins bound
        # the build side, so the SHJ OOM risk the default guards
        # against does not apply to these plans.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "256")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
