"""Measurement helpers shared by the workloads: latency summaries,
peak memory of the process tree, spans, and readers for Spark's event
log and ``StreamingQueryProgress``.

Nothing here imports PySpark, so the module loads before the session
starts and in the steadiness driver.
"""

from __future__ import annotations

import json
import math
import os
import select
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

# Percentiles a tail may be reported at, highest first.
TAIL_LADDER = (99.0, 95.0, 90.0, 75.0, 50.0)


def _rank(n: int, p: float) -> int:
    """1-based nearest rank of percentile ``p`` in ``n`` samples."""
    return max(1, min(n, math.ceil(p * n / 100.0)))


def latency_summary(samples: list[float], tail_cap: float) -> dict:
    """p50 and the tail: the highest ladder percentile, at most
    ``tail_cap``, that has at least ten samples beyond it.  The cap is
    fixed per workload so that a faster program, which collects more
    samples in the same time, keeps reporting the same percentile."""
    if not samples:
        raise ValueError("empty latency sample")
    s = sorted(samples)
    n = len(s)
    tail_p = 50.0
    for p in TAIL_LADDER:
        if p <= tail_cap and n - _rank(n, p) >= 10:
            tail_p = p
            break
    p50, tail = s[_rank(n, 50.0) - 1], s[_rank(n, tail_p) - 1]
    if tail < p50:
        raise AssertionError(f"tail p{tail_p:g} {tail} < p50 {p50}")
    return {"p50": p50, "tail": tail, "tail_p": tail_p, "n": n,
            "beyond": n - _rank(n, tail_p)}


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)``."""
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants,
    from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid() if root is None else root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_pss_kb(root: int, skip: int) -> int:
    """Summed proportional set size (``Pss`` in /proc/<pid>/smaps_rollup)
    of ``root``'s process tree without ``skip``, in kB.  Pss counts the
    pages forked Python workers share once rather than once per worker."""
    total = 0
    for pid in process_tree(root):
        if pid == skip:
            continue
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class PeakMemory:
    """Peak memory of this process and all its descendants (the JVM,
    the Python worker daemon and its forked workers), sampled every
    ``interval_s`` by a separate watcher process, so that sampling
    never holds this interpreter's GIL while the workload is timed.
    ``stop()`` closes the watcher's stdin; it takes a last sample,
    prints its peak and exits.  ``stop()`` returns megabytes."""

    def __init__(self, interval_s: float = 0.25):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), str(os.getpid()),
             str(interval_s)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        self._mb: float | None = None

    def stop(self) -> float:
        if self._mb is None:
            out, _ = self._proc.communicate(timeout=30)
            self._mb = int(out) / 1024.0 if out.strip() else 0.0
        return self._mb


def _watch(root: int, interval_s: float) -> None:
    """The watcher of ``PeakMemory``: sample until stdin closes."""
    me, peak = os.getpid(), 0
    while True:
        peak = max(peak, tree_pss_kb(root, skip=me))
        if select.select([sys.stdin], [], [], interval_s)[0]:
            break               # the parent never writes: this is EOF
    print(max(peak, tree_pss_kb(root, skip=me)), flush=True)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.
    A span has an id, a name, start and end (epoch seconds), its
    parent's id and the operation id it belongs to.  Spans may be
    recorded from Spark's callback threads too, hence the lock.
    ``Tracer(enabled=False)`` records nothing and costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []    # open spans of the main thread
        self._lock = threading.Lock()

    def _add(self, span: dict) -> dict:
        with self._lock:
            span["id"] = len(self.spans)
            self.spans.append(span)
        return span

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        span = self._add({"name": name, "op": op,
                          "parent": parent["id"] if parent else None,
                          "start": time.time(), "end": None})
        self._stack.append(span)
        try:
            yield
        finally:
            self._stack.pop()
            span["end"] = time.time()

    def record(self, name: str, start: float, end: float,
               op: str | None = None) -> None:
        """A span timed elsewhere, e.g. in a Spark callback thread."""
        if self.enabled:
            self._add({"name": name, "op": op, "parent": None,
                       "start": start, "end": end})

    def total_ms(self, name: str) -> float:
        return 1000.0 * sum(s["end"] - s["start"] for s in self.spans
                            if s["name"] == name)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict:
    """Jobs and per-job task totals from an uncompressed Spark event
    log.  Returns ``{job_id: {...}}`` with the job group, submission and
    completion times (epoch ms) and summed task metrics."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"], "t1": None,
                        "tasks": 0, "run_ms": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0}
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID")))
                    tm = ev.get("Task Metrics") or {}
                    if job is None:
                        continue
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    job["tasks"] += 1
                    job["run_ms"] += tm.get("Executor Run Time", 0)
                    job["gc_ms"] += tm.get("JVM GC Time", 0)
                    job["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                    job["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    job["spill"] += (tm.get("Memory Bytes Spilled", 0)
                                     + tm.get("Disk Bytes Spilled", 0))
    return jobs


def exec_metrics(jobs: list[dict], n_ops: int) -> dict:
    """Per-operation means of the ``exec.*`` layer metrics."""
    n = max(n_ops, 1)
    return {
        "exec.jobs": len(jobs) / n,
        "exec.tasks": sum(j["tasks"] for j in jobs) / n,
        "exec.run_ms": sum(j["run_ms"] for j in jobs) / n,
        "exec.gc_ms": sum(j["gc_ms"] for j in jobs) / n,
        "exec.shuffle_read_bytes": sum(j["shuffle_read"] for j in jobs) / n,
        "exec.shuffle_write_bytes": sum(j["shuffle_write"] for j in jobs) / n,
        "exec.spill_bytes": sum(j["spill"] for j in jobs) / n,
    }


def progress_metrics(progress: list[dict]) -> dict:
    """Per-trigger means of the streaming layer metrics, over triggers
    that read input, from ``StreamingQueryProgress`` JSON."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    n = max(len(busy), 1)

    def dur(key: str) -> float:
        return sum(p["durationMs"].get(key, 0) for p in busy) / n

    def state(key: str) -> float:
        return sum(sum(op.get(key, 0) for op in p.get("stateOperators", []))
                   for p in busy) / n

    last_state = progress[-1].get("stateOperators", []) if progress else []
    return {
        "sources.latest_offset_ms": dur("latestOffset"),
        "sources.get_batch_ms": dur("getBatch"),
        "streaming.trigger_ms": dur("triggerExecution"),
        "streaming.query_planning_ms": dur("queryPlanning"),
        "streaming.add_batch_ms": dur("addBatch"),
        "streaming.wal_commit_ms": dur("walCommit"),
        "streaming.commit_offsets_ms": dur("commitOffsets"),
        "streaming.rows_per_trigger":
            sum(p["numInputRows"] for p in busy) / n,
        "streaming.state_commit_ms": state("commitTimeMs"),
        "streaming.state_rows": sum(op.get("numRowsTotal", 0)
                                    for op in last_state),
        "streaming.state_bytes": sum(op.get("memoryUsedBytes", 0)
                                     for op in last_state),
    }


if __name__ == "__main__":
    _watch(int(sys.argv[1]), float(sys.argv[2]))
