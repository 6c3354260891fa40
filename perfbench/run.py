"""Extraction-engine benchmark: seeded workloads on local[N], N = cores.

    python3 perfbench/run.py --workload warc_job --seed 1 --seconds 14 --trace 0

Run from the repository root. Workloads (see ``workloads.py``): warc_job
and corpus_ops.

``--trace 0`` sets up the workload's ``setups`` times (session start,
input load, one warm-up pass) and reports the median as ``setup_s``. The
first set-up also launches the JVM; the timed passes run in its session.
Then the others restart the session in the same JVM, so the median is a
warm-JVM set-up, and the cold one is printed as ``setup_cold_s``. The
timed passes start until ``--seconds`` have passed and ``MIN_PASSES``
are done. It reports ``docs_per_s`` over the fastest run of each query
(``best_wall``) and ``peak_python_mb``, the peak resident memory of the
Python side (this process and the Python workers) during the timed
passes; the peaks of the JVM and of the whole process tree are printed
too. Spark runs with the engine's own session defaults (``get_spark``),
heap size included.

``--trace 1`` times the kernel's layers in-process over a fixed sample
(``kerneltrace.py``), then runs the passes with Spark's event log on and
splits them into the job, sources, exchange, sink and ops layers
(``eventlog.py``).

Every pass is checked against the digest pinned in ``digests.json``;
``--pin`` recomputes those digests (extraction ones with the kernel called
in-process, not through Spark). ``--perturb`` changes one output byte
before the digest, to show that the check fails the run.

A readable table goes to stdout; its last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. All runtime files
live under ``.perfbench-work/<pid>/`` in the repository root and are
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
from collections import defaultdict

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench-work")
DIGESTS = os.path.join(HERE, "digests.json")
DEADLINE_S = 90  # stop starting passes after this much time in the run
MIN_PASSES = 2  # the first pass of a run is still slowed by JIT compiling


def _descendants(root_pid: int) -> list[int]:
    """``root_pid`` and every process below it."""
    children = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(name))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident bytes with each shared page split
    among the processes that map it, so the forked Python workers' shared
    pages are counted once in a sum over the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler(threading.Thread):
    """Samples the resident memory (PSS) of this process tree every 100 ms
    and keeps the peaks of the whole tree, of the JVM and of the Python
    side (this process and the Python workers)."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = {"all": 0, "jvm": 0, "python": 0}
        self._done = threading.Event()
        self._lock = threading.Lock()

    def run(self):
        while not self._done.wait(0.1):
            now = dict.fromkeys(self.peak, 0)
            for p in _descendants(os.getpid()):
                pss, comm = _pss_bytes(p), _comm(p)
                now["all"] += pss
                # other commands the JVM starts (e.g. to set file modes)
                # count in the whole tree only
                if comm == "java":
                    now["jvm"] += pss
                elif comm.startswith("python"):
                    now["python"] += pss
            with self._lock:
                for k, v in now.items():
                    self.peak[k] = max(self.peak[k], v)

    def reset(self):
        with self._lock:
            self.peak = dict.fromkeys(self.peak, 0)

    def stop(self):
        self._done.set()
        self.join(timeout=5)


class Sessions:
    """Starts and stops Spark sessions; ``shutdown`` also ends the JVM."""

    def __init__(self, work: str, cpus: int):
        self.work, self.cpus, self.count = work, cpus, 0
        self.spark = None
        # Stopped contexts stay referenced: the engine records the contexts
        # it shipped its package to by id(), and a new context must not
        # reuse the id of a freed one.
        self._old = []

    def start(self, event_log_dir: str | None = None):
        from nreadability_spark.spark.session import get_spark
        self.count += 1
        conf = {
            "spark.sql.warehouse.dir":
                os.path.join(self.work, f"warehouse-{self.count}"),
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
            "spark.ui.showConsoleProgress": "false",
        }
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": event_log_dir,
                         "spark.eventLog.compress": "false",
                         "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", master=f"local[{self.cpus}]",
                               extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self):
        if self.spark is not None:
            self._old.append(self.spark.sparkContext)
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        self.stop()
        from pyspark import SparkContext
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        try:
            gateway.shutdown()
        finally:
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        SparkContext._gateway = SparkContext._jvm = None
        _reap_descendants()


def _reap_descendants(timeout: float = 30.0) -> None:
    """Wait for every process this run started (Python workers included)
    to end; terminate stragglers."""
    import signal
    end = time.time() + timeout
    while True:
        left = [p for p in _descendants(os.getpid()) if p != os.getpid()]
        if not left:
            return
        if time.time() > end:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
            end = time.time() + 5
        time.sleep(0.1)
        try:  # collect exited direct children
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass


def _pct(values: list, q: float) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def _cpu_jiffies() -> list[int]:
    """user, nice, system, idle, iowait, irq, softirq, steal (all CPUs)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _passes(wl, spark, expected, seconds: float, t_start: float,
            sampler=None) -> list:
    """Timed passes, started until ``seconds`` have passed and
    ``MIN_PASSES`` are done."""
    if sampler is not None:
        sampler.reset()
    out = []
    t_end = time.perf_counter() + seconds
    while not out or (time.perf_counter() - t_start < DEADLINE_S
                      and (len(out) < MIN_PASSES
                           or time.perf_counter() < t_end)):
        group = f"pass{len(out)}"
        spark.sparkContext.setJobGroup(group, group)
        out.append(wl.run_pass(spark, expected, group))
    spark.sparkContext.setJobGroup("after", "after")
    return out


def best_wall(passes: list) -> float:
    """Wall time of the timed action at its fastest: the fastest pass, or
    for a pass of several queries the sum of each query's fastest run.
    Interference from outside (other load on the host, stolen CPU) only
    ever slows a pass, and the passes of a run still speed up as the JVM
    compiles, so the fastest run of each query is the steadiest figure a
    few passes give."""
    if passes[0].query_s:
        return sum(min(p.query_s[q] for p in passes)
                   for q in passes[0].query_s)
    return min(p.wall_s for p in passes)


def _setup(wl, sessions, first: bool) -> float:
    t0 = time.perf_counter()
    wl.warmup(sessions.start(), first=first)
    return time.perf_counter() - t0


def timed_run(wl, sessions, expected, seconds, t_start, sampler):
    setups = [_setup(wl, sessions, first=True)]
    cpu0 = _cpu_jiffies()
    passes = _passes(wl, sessions.spark, expected, seconds, t_start, sampler)
    cpu = [b - a for a, b in zip(cpu0, _cpu_jiffies())]
    sampler.stop()  # the peaks are those of the timed passes
    # the warm set-ups come after the passes: right after the priming
    # warm-up the JVM is still compiling, which makes a restart's time
    # swing by half
    for _ in range(wl.setups - 1):
        sessions.stop()
        setups.append(_setup(wl, sessions, first=False))
    rates = [p.docs / p.wall_s for p in passes]
    lat = [us for p in passes for us in p.latencies_us]
    metrics = {"docs_per_s": (passes[0].docs / best_wall(passes), "docs/s"),
               "setup_s": (statistics.median(setups), "s")}
    extra = {"passes": (len(passes), "count"),
             "setup_cold_s": (setups[0], "s"),
             "setup_runs_s": (" ".join(f"{s:.3f}" for s in setups), "s"),
             "pass_docs_per_s": (" ".join(f"{r:.1f}" for r in rates), "docs/s"),
             # CPU time the host took from this machine during the passes:
             # a run with a high share reads slow for reasons outside the program
             "host_steal_frac": (cpu[7] / max(1, sum(cpu)), "fraction")}
    if lat:
        # the highest percentile with at least ten documents beyond it
        q = min(0.99, 1 - 10 / len(lat))
        extra["doc_ms_p50"] = (statistics.median(lat) / 1e3, "ms")
        extra["doc_ms_p99" if q == 0.99 else f"doc_ms_p{q * 100:.2f}"] = (
            _pct(lat, q) / 1e3, f"ms (n={len(lat)})")
    for q in passes[0].query_s:
        extra[f"{q}_s"] = (min(p.query_s[q] for p in passes), "s")
    return metrics, passes, extra


def trace_kernel(sample: list) -> dict:
    """Per-document kernel layer split over ``sample``, in-process."""
    from kerneltrace import KernelTracer

    from nreadability_spark.spark.job import transcode_row
    sys.setrecursionlimit(40000)  # as the Spark workers do

    def loop() -> float:
        t0 = time.perf_counter()
        for url, html in sample:
            transcode_row(url, html)
        return time.perf_counter() - t0

    # alternate untraced and traced loops; keep the faster of each
    untraced, traced = [], []
    for _ in range(2):
        untraced.append(loop())
        tracer = KernelTracer()  # spans of the last traced loop are kept
        with tracer:
            traced.append(loop())
    out = tracer.summary(len(sample))
    out["kernel.ms_per_doc"] = min(untraced) * 1e3 / len(sample)
    out["trace.overhead_frac"] = min(traced) / min(untraced) - 1
    return out


def spark_layers(log_path: str, passes: list, workload: str) -> dict:
    """Per-pass Spark layer metrics from the traced session's event log."""
    import eventlog
    stages, jobs = eventlog.read(log_path)
    acc = defaultdict(float)
    for i, p in enumerate(passes):
        group = f"pass{i}"
        pj = sorted((j for j in jobs.values()
                     if j.group == group or j.group.startswith(group + ".")
                     and not j.group.endswith(".check")),
                    key=lambda j: j.job_id)
        st_of = {j.job_id: [stages[s] for s in j.stage_ids
                            if s in stages and stages[s].completed_ms]
                 for j in pj}
        ps = [s for j in pj for s in st_of[j.job_id]]
        acc["spark.jobs"] += len(pj)
        acc["spark.sched_delay_s"] += sum(s.sched_delay_ms for s in ps) / 1e3
        acc["spark.deserialize_s"] += sum(s.deserialize_ms for s in ps) / 1e3
        acc["spark.gc_s"] += sum(s.gc_ms for s in ps) / 1e3
        acc["spark.peak_exec_mem_mb"] += max(
            (s.peak_exec_mem for s in ps), default=0) / 2**20
        acc["exchange.shuffle_write_bytes"] += sum(s.shuffle_write_bytes
                                                   for s in ps)
        acc["exchange.shuffle_read_bytes"] += sum(s.shuffle_read_bytes
                                                  for s in ps)
        acc["exchange.fetch_wait_s"] += sum(s.fetch_wait_ms for s in ps) / 1e3
        acc["exchange.spill_bytes"] += sum(s.spill_bytes for s in ps)
        # pass time outside every Spark job: query planning and the
        # driver's own Python, e.g. between the rounds of a fixpoint
        acc["spark.driver_s"] += max(0.0, p.wall_s - eventlog.union_ms(
            (j.submitted_ms, j.completed_ms) for j in pj) / 1e3)
        acc["trace.stage_cover_frac"] += eventlog.union_ms(
            (s.submitted_ms, s.completed_ms) for s in ps) / 1e3 / p.wall_s
        kernel = [s for s in ps if s.has_scope("MapInArrow")]
        if workload != "corpus_ops" and kernel:
            run_ms = [r for s in kernel for r in s.run_ms]
            acc["job.stage_run_s"] += sum(run_ms) / 1e3
            acc["job.stage_cpu_s"] += sum(s.cpu_ns for s in kernel) / 1e9
            acc["job.python_bytes_sent"] += sum(
                s.sql.get("data sent to Python workers", 0) for s in kernel)
            acc["job.python_bytes_received"] += sum(
                s.sql.get("data returned from Python workers", 0)
                for s in kernel)
            acc["job.python_run_s"] += sum(
                s.sql.get("time to run Python workers", 0) for s in kernel) / 1e3
            acc["job.tasks"] += len(run_ms)
            acc["job.task_skew"] += eventlog.skew(run_ms)
        if workload == "warc_job":
            scan = [s for s in ps if s.has_scope("Scan binaryFile")]
            acc["sources.scan_s"] += sum(sum(s.run_ms) for s in scan) / 1e3
            acc["sources.input_bytes"] += sum(s.input_bytes for s in scan)
            acc["sources.records"] += sum(s.shuffle_write_records
                                          for s in scan)
            write = [s for s in ps if s.has_scope("WriteFiles")]
            acc["sink.write_s"] += sum(
                s.sql.get("task commit time", 0) + s.sql.get("job commit time", 0)
                for s in write) / 1e3
            acc["sink.bytes_written"] += sum(s.output_bytes for s in ps)
            last = max((j.job_id for j in pj
                        if any(s.has_scope("MapInArrow")
                               for s in st_of[j.job_id])), default=None)
            acc["sink.rollup_s"] += eventlog.union_ms(
                (j.submitted_ms, j.completed_ms) for j in pj
                if last is not None and j.job_id > last) / 1e3
        for q, wall in p.query_s.items():
            qj = [j for j in pj if j.group == f"{group}.{q}"]
            acc[f"ops.{q}_s"] += wall
            acc[f"ops.{q}_jobs"] += len(qj)
            acc[f"ops.{q}_shuffle_bytes"] += sum(
                s.shuffle_write_bytes for j in qj for s in st_of[j.job_id])
    return {k: v / len(passes) for k, v in acc.items()}


def traced_run(wl, sessions, expected, seconds, t_start, work, per_layer):
    metrics = dict.fromkeys(per_layer, 0.0)
    sample = wl.kernel_sample()
    if sample:
        metrics.update(trace_kernel(sample))
    log_dir = os.path.join(work, "eventlog")
    spark = sessions.start(event_log_dir=log_dir)
    wl.warmup(spark, first=True)
    passes = _passes(wl, spark, expected, seconds, t_start)
    sessions.stop()  # completes the event log
    (log_name,) = os.listdir(log_dir)
    metrics.update(spark_layers(os.path.join(log_dir, log_name), passes,
                                wl.name))
    return {k: (metrics[k], per_layer[k]) for k in per_layer}, passes


def pin(cpus: int, work: str) -> None:
    """Recompute digests.json: the extraction workloads with the kernel
    called in-process over their pages, corpus_ops through Spark."""
    import workloads as W

    from nreadability_spark.spark.job import transcode_row
    sys.setrecursionlimit(40000)
    out = {}
    rows = [transcode_row(u, h) for u, h in W.WarcJob(0).pages()]
    out[W.WarcJob.name] = {"digest": W.py_digest(rows)}
    print(W.WarcJob.name, out[W.WarcJob.name], flush=True)
    wl = W.CorpusOps(0)
    wl.prepare(work)
    sessions = Sessions(work, cpus)
    try:
        spark = sessions.start()
        out[wl.name] = {q: W.digest_of(wl._query(spark, q)) for q in W.OPS}
    finally:
        sessions.shutdown()
    print(wl.name, out[wl.name])
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=2, sort_keys=True)
        f.write("\n")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", action="store_true",
                    help="change one output byte; the run must fail")
    ap.add_argument("--pin", action="store_true",
                    help="recompute the pinned digests and exit")
    args = ap.parse_args()
    t_start = time.perf_counter()

    if not os.path.isfile(os.path.join(ROOT, "nreadability_spark",
                                       "__init__.py")):
        print(f"perfbench: no nreadability_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if not args.pin and args.workload not in {w["name"]
                                              for w in spec["workloads"]}:
        ap.error(f"--workload must be one of "
                 f"{[w['name'] for w in spec['workloads']]}")

    # every runtime byte (inputs, Spark local dirs, temp files, warehouse,
    # event log, sinks) lives under this run's own directory
    work = os.path.join(WORK_ROOT, str(os.getpid()))
    os.environ.update({
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    sys.path[:0] = [HERE, ROOT]
    cpus = len(os.sched_getaffinity(0))
    try:
        for d in ("tmp", "local"):
            os.makedirs(os.path.join(work, d))
        if args.pin:
            pin(cpus, work)
            return 0
        import workloads as W
        with open(DIGESTS) as f:
            expected = json.load(f)[args.workload]
        wl = W.WORKLOADS[args.workload](args.seed, args.perturb)
        wl.prepare(work)
        sampler = RssSampler()
        sampler.start()
        sessions = Sessions(work, cpus)
        try:
            if args.trace:
                per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
                metrics, passes = traced_run(wl, sessions, expected,
                                             args.seconds, t_start, work,
                                             per_layer)
                extra = {}
            else:
                metrics, passes, extra = timed_run(wl, sessions, expected,
                                                   args.seconds, t_start,
                                                   sampler)
        finally:
            sessions.shutdown()
            sampler.stop()
        if not args.trace:
            metrics["peak_python_mb"] = (sampler.peak["python"] / 2**20, "MiB")
            extra["peak_rss_mb"] = (sampler.peak["all"] / 2**20, "MiB")
            extra["peak_jvm_mb"] = (sampler.peak["jvm"] / 2**20, "MiB")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_ROOT) and not os.listdir(WORK_ROOT):
            os.rmdir(WORK_ROOT)

    attempted = sum(p.docs for p in passes)
    failed = sum(p.failed for p in passes)
    extra["error_rate"] = (failed / attempted, "fraction")
    print(f"workload {args.workload}  seed {args.seed}  local[{cpus}]  "
          f"passes {len(passes)}")
    for name, (value, unit) in {**metrics, **extra}.items():
        shown = f"{value:.6g}" if isinstance(value, float) else value
        print(f"  {name:<44} {shown:>14} {unit}")
    for msg in sorted({m for p in passes for m in p.mismatches}):
        print(f"  MISMATCH {msg}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
