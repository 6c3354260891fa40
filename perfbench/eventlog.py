"""Read an uncompressed Spark event log into per-stage and per-job tables.

The log is the JSON-lines file Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false``.
Stage rows fold the ``SparkListenerTaskEnd`` metrics of their successful
tasks together with the SQL metrics Spark reports in the stage's
accumulables (Python bytes, write commit times). Jobs carry their job group
(``spark.jobGroup.id``), which is how the benchmark tells its passes and
queries apart.

Run ``python3 perfbench/eventlog.py <event log file>`` for a per-stage
report of any such log.
"""

from __future__ import annotations

import json
import statistics
import sys
from dataclasses import dataclass, field


@dataclass
class Stage:
    stage_id: int
    scopes: tuple = ()
    submitted_ms: int = 0
    completed_ms: int = 0
    tasks: int = 0
    run_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    deserialize_ms: int = 0
    gc_ms: int = 0
    sched_delay_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_records: int = 0
    shuffle_read_bytes: int = 0
    fetch_wait_ms: int = 0
    spill_bytes: int = 0
    peak_exec_mem: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    sql: dict = field(default_factory=dict)  # SQL metric name -> summed value

    def has_scope(self, *needles: str) -> bool:
        return any(n in s for s in self.scopes for n in needles)

    @property
    def wall_ms(self) -> int:
        return max(0, self.completed_ms - self.submitted_ms)


@dataclass
class Job:
    job_id: int
    group: str
    stage_ids: list
    submitted_ms: int = 0
    completed_ms: int = 0


def _scope_name(rdd: dict) -> str:
    scope = rdd.get("Scope")
    if scope:
        try:
            return json.loads(scope).get("name", rdd.get("Name", ""))
        except ValueError:
            pass
    return rdd.get("Name", "")


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def read(path: str) -> tuple[dict, dict]:
    """-> (stages by id, jobs by id) for one event log."""
    stages: dict[int, Stage] = {}
    jobs: dict[int, Job] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            kind = line[:60]
            if "SparkListenerTaskEnd" in kind:
                _task_end(json.loads(line), stages)
            elif "SparkListenerStageCompleted" in kind:
                _stage_completed(json.loads(line)["Stage Info"], stages)
            elif "SparkListenerJobStart" in kind:
                e = json.loads(line)
                props = e.get("Properties") or {}
                jobs[e["Job ID"]] = Job(e["Job ID"],
                                        props.get("spark.jobGroup.id", ""),
                                        list(e.get("Stage IDs", [])),
                                        e.get("Submission Time", 0))
            elif "SparkListenerJobEnd" in kind:
                e = json.loads(line)
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].completed_ms = e.get("Completion Time", 0)
    return stages, jobs


def _task_end(e: dict, stages: dict) -> None:
    info, m = e.get("Task Info", {}), e.get("Task Metrics")
    if info.get("Failed") or info.get("Killed") or not m:
        return
    st = stages.setdefault(e["Stage ID"], Stage(e["Stage ID"]))
    run = m.get("Executor Run Time", 0)
    deser = m.get("Executor Deserialize Time", 0)
    getting = info.get("Getting Result Time", 0)
    finish = info.get("Finish Time", 0)
    fetch_result = finish - getting if getting else 0
    total = finish - info.get("Launch Time", finish)
    st.tasks += 1
    st.run_ms.append(run)
    st.cpu_ns += m.get("Executor CPU Time", 0)
    st.deserialize_ms += deser
    st.gc_ms += m.get("JVM GC Time", 0)
    st.sched_delay_ms += max(0, total - run - deser - fetch_result
                             - m.get("Result Serialization Time", 0))
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    st.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                              + sr.get("Local Bytes Read", 0))
    st.fetch_wait_ms += sr.get("Fetch Wait Time", 0)
    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    st.shuffle_write_records += sw.get("Shuffle Records Written", 0)
    st.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                       + m.get("Disk Bytes Spilled", 0))
    st.peak_exec_mem = max(st.peak_exec_mem, m.get("Peak Execution Memory", 0))
    st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    st.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)


def _stage_completed(info: dict, stages: dict) -> None:
    st = stages.setdefault(info["Stage ID"], Stage(info["Stage ID"]))
    st.scopes = tuple(_scope_name(r) for r in info.get("RDD Info", []))
    st.submitted_ms = info.get("Submission Time", 0)
    st.completed_ms = info.get("Completion Time", 0)
    for acc in info.get("Accumulables", []):
        name = acc.get("Name", "")
        if not name.startswith("internal."):
            st.sql[name] = st.sql.get(name, 0.0) + _num(acc.get("Value"))


def union_ms(intervals) -> int:
    """Length of the union of [start, end) intervals, in ms."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def skew(run_ms: list) -> float:
    """Slowest task over the median task, by executor run time."""
    med = statistics.median(run_ms) if run_ms else 0
    return max(run_ms) / med if med else 0.0


def report(path: str) -> str:
    stages, jobs = read(path)
    group_of = {sid: j.group for j in jobs.values() for sid in j.stage_ids}
    head = (f"{'stage':>5} {'group':<22} {'tasks':>5} {'wall_s':>7} "
            f"{'run_s':>7} {'cpu_s':>7} {'gc_s':>5} {'sched_s':>7} "
            f"{'shufW_MB':>8} {'shufR_MB':>8} {'fetch_s':>7} {'spill_MB':>8} "
            f"{'peak_MB':>7} {'pyOut_MB':>8} {'pyIn_MB':>8}  scopes")
    lines = [head]
    for sid in sorted(stages):
        s = stages[sid]
        lines.append(
            f"{sid:>5} {group_of.get(sid, '')[:22]:<22} {s.tasks:>5} "
            f"{s.wall_ms / 1e3:>7.2f} {sum(s.run_ms) / 1e3:>7.2f} "
            f"{s.cpu_ns / 1e9:>7.2f} {s.gc_ms / 1e3:>5.2f} "
            f"{s.sched_delay_ms / 1e3:>7.2f} "
            f"{s.shuffle_write_bytes / 2**20:>8.2f} "
            f"{s.shuffle_read_bytes / 2**20:>8.2f} {s.fetch_wait_ms / 1e3:>7.2f} "
            f"{s.spill_bytes / 2**20:>8.2f} {s.peak_exec_mem / 2**20:>7.1f} "
            f"{s.sql.get('data sent to Python workers', 0) / 2**20:>8.2f} "
            f"{s.sql.get('data returned from Python workers', 0) / 2**20:>8.2f}"
            f"  {','.join(dict.fromkeys(s.scopes))[:80]}")
    return "\n".join(lines)


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: python3 perfbench/eventlog.py <event log file>")
    print(report(sys.argv[1]))
