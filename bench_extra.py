"""Extra benchmarks for the optimization rounds (bench.py is FROZEN for
the driver's measurement; this file is free).

Modes:
  python bench_extra.py noop [query ...]     time queries via the noop sink
  python bench_extra.py plans [query ...]    dump explain('formatted') to
                                             plans/<tag>/<query>.txt
  python bench_extra.py stages               per-stage breakdown of the
                                             minhash/LSH family

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), PLANS_TAG (default r07), N_RUNS (default 2: first run warms
the JVM, best-of is reported alongside all samples).

The noop sink (guide 1.4) computes every column of every row and discards
the result, so timings cover the real computation without count(*) column
pruning and without sink cost.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
N_RUNS = int(os.environ.get("N_RUNS", "2"))
PLANS_TAG = os.environ.get("PLANS_TAG", "r07")


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return round(time.perf_counter() - t0, 3)


def _explain_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _query_df(spark, name: str):
    """Build the DataFrame for a declared query name (SQL op or kernel)."""
    from nreadability_spark.spark.ops import SQL_OPS
    if name in SQL_OPS:
        return SQL_OPS[name][0](spark, SF_DIR)
    import __spark_entry__ as entry
    return entry.queries()[name](spark, SF_DIR)


def cmd_noop(spark, names: list[str]) -> None:
    out = {}
    for name in names:
        samples = []
        for i in range(N_RUNS):
            spark.sparkContext.setJobDescription(f"noop:{name}#{i}")
            df = _query_df(spark, name)
            samples.append(_noop(df))
        out[name] = {"best": min(samples), "samples": samples}
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps({"sf": SF_DIR, "cpus": CPUS, "noop": out}))


def cmd_plans(spark, names: list[str]) -> None:
    d = os.path.join(_REPO, "plans", PLANS_TAG)
    os.makedirs(d, exist_ok=True)
    suffix = os.environ.get("PLANS_SUFFIX", "")
    for name in names:
        df = _query_df(spark, name)
        p = os.path.join(d, f"{name}{suffix}.txt")
        with open(p, "w") as f:
            f.write(_explain_text(df))
        print(f"wrote {p}")


def cmd_stages(spark) -> None:
    """Per-stage breakdown of the minhash/LSH-family pipeline."""
    from nreadability_spark.spark import ops as O
    t = {}

    spark.sparkContext.setJobDescription("stage: corpus scan")
    t0 = time.perf_counter()
    O._corpus(spark, SF_DIR).write.format("noop").mode("overwrite").save()
    t["corpus_scan"] = round(time.perf_counter() - t0, 3)

    spark.sparkContext.setJobDescription("stage: minhash base (md5 shingles)")
    t0 = time.perf_counter()
    O._minhash_base(O._corpus(spark, SF_DIR)).write.format("noop") \
        .mode("overwrite").save()
    t["minhash_base"] = round(time.perf_counter() - t0, 3)

    spark.sparkContext.setJobDescription("stage: signatures (fused kernel)")
    t0 = time.perf_counter()
    O.minhash_signatures(spark, SF_DIR).write.format("noop") \
        .mode("overwrite").save()
    t["signatures"] = round(time.perf_counter() - t0, 3)

    spark.sparkContext.setJobDescription("stage: bands checkpoint")
    t0 = time.perf_counter()
    bands = O._cut_lineage(O._minhash_bands(
        O.minhash_signatures(spark, SF_DIR)))
    t["bands_checkpoint"] = round(time.perf_counter() - t0, 3)

    spark.sparkContext.setJobDescription("stage: cap + self-join + distinct")
    t0 = time.perf_counter()
    pairs = O._distinct_pairs(O._band_pairs(O._cap_buckets(bands)))
    pairs.write.format("noop").mode("overwrite").save()
    t["cap_join_distinct"] = round(time.perf_counter() - t0, 3)

    print(json.dumps({"sf": SF_DIR, "stages": t}))


def main() -> None:
    from nreadability_spark.spark.session import get_spark
    mode = sys.argv[1] if len(sys.argv) > 1 else "noop"
    names = sys.argv[2:]
    spark = get_spark("nreadability-bench-extra", master=f"local[{CPUS}]")
    try:
        if mode == "noop":
            cmd_noop(spark, names)
        elif mode == "plans":
            cmd_plans(spark, names)
        elif mode == "stages":
            cmd_stages(spark)
        else:
            raise SystemExit(f"unknown mode {mode}")
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
