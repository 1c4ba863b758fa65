"""Measurement plumbing shared by the workloads: spans, the Spark event-log
reader, process-tree RSS sampling and the host stamp.

Nothing here imports the program under test; the workloads call into it
and wrap those calls in spans.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    """In-memory spans (name, start, end, parent) written once at run end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield rec["id"]
        finally:
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float,
            parent: int | None = None, **attrs) -> int:
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "start": start, "end": end, **attrs}
        self.spans.append(rec)
        return rec["id"]

    def children_time(self, parent: int) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] == parent)

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps({"spans": self.spans, **extra}, indent=1))


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    values = sorted(values)
    rank = max(1, -(-len(values) * q // 100))  # ceil
    return values[int(rank) - 1]


# ---------------------------------------------------------------------------
# Spark event log: jobs, tasks, shuffle, spill and GC per operation
# ---------------------------------------------------------------------------
OP_PROPERTY = "perfbench.op"


def read_event_log(log_dir: Path) -> dict:
    """Parse the one event log under ``log_dir`` into jobs and tasks.

    Returns ``{"jobs": {job_id: {...}}, "tasks": [...]}`` where each job
    carries its submit/complete time (s), the operation label the workload
    set as a local property, and its Python call site; each task carries its
    job, stage, run time and shuffle/spill/GC counters.
    """
    # one application per directory; a rolling log splits it into
    # events_<n>_<app> files under eventlog_v2_<app>/
    files = sorted(
        (p for p in log_dir.rglob("*") if p.is_file()
         and not p.name.startswith((".", "appstatus"))),
        key=lambda p: [int(x) if x.isdigit() else x for x in p.name.split("_")],
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    events = []
    for path in files:
        with path.open() as fh:
            events += [json.loads(line) for line in fh]
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jid = ev["Job ID"]
            jobs[jid] = {
                "start": ev["Submission Time"] / 1000.0,
                "end": None,
                "op": props.get(OP_PROPERTY),
                "call_site": props.get("callSite.short", ""),
            }
            for st in ev.get("Stage Infos", []):
                stage_job.setdefault(st["Stage ID"], jid)
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "job": stage_job.get(ev["Stage ID"]),
                "stage": ev["Stage ID"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })
    return {"jobs": jobs, "tasks": tasks}


def call_site_module(call_site: str) -> str:
    """``collect at /x/doc2dataset_spark/operators/text_index.py:171`` →
    ``operators.text_index``; a call site outside the package (the
    benchmark's own action) → ``perfbench``; a job Spark starts with no
    Python call site (file listing, schema inference) → ``spark-internal``."""
    if not call_site:
        return "spark-internal"
    _, _, where = call_site.rpartition(" at ")
    path = where.rsplit(":", 1)[0]
    marker = "doc2dataset_spark/"
    if marker not in path:
        return "perfbench"
    rel = path.split(marker, 1)[1]
    return rel[:-3].replace("/", ".") if rel.endswith(".py") else rel


def spark_counters(log: dict, ops: set[str]) -> tuple[dict, dict]:
    """Per-operation Spark counters over the jobs labelled with ``ops``, and
    those jobs counted by the module that issued them."""
    jobs = {j: v for j, v in log["jobs"].items() if v["op"] in ops}
    tasks = [t for t in log["tasks"] if t["job"] in jobs]
    n = max(len(ops), 1)
    skews = []
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_ms"])
    for runs in by_stage.values():
        mid = statistics.median(runs)
        if len(runs) > 1 and mid > 0:
            skews.append(max(runs) / mid)
    modules: dict[str, int] = {}
    for v in jobs.values():
        mod = call_site_module(v["call_site"])
        modules[mod] = modules.get(mod, 0) + 1
    return {
        "spark.jobs_per_op": len(jobs) / n,
        "spark.tasks_per_op": len(tasks) / n,
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks) / n,
        "spark.spill_bytes": sum(t["spill"] for t in tasks) / n,
        "spark.gc_s": sum(t["gc_ms"] for t in tasks) / 1000.0 / n,
        "spark.task_skew": median(skews) if skews else 1.0,
    }, modules


# ---------------------------------------------------------------------------
# Memory: peak RSS summed over this process and all its descendants
# ---------------------------------------------------------------------------
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background thread recording the peak process-tree RSS."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# Host context, recorded for diagnosis only (never used to rescale)
# ---------------------------------------------------------------------------
def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def calibration_s() -> float:
    """Best of three runs of a fixed pure-Python loop."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc += i * i % 7
        best = min(best, time.perf_counter() - t0)
    return best


class HostStamp:
    """loadavg at start and end, steal % over the run, calibration loop."""

    def __enter__(self):
        self.cpu0 = _cpu_times()
        self.load0 = os.getloadavg()[0]
        self.calib = calibration_s()
        return self

    def __exit__(self, *exc) -> None:
        cpu1 = _cpu_times()
        delta = [b - a for a, b in zip(self.cpu0, cpu1)]
        total = sum(delta[:8]) or 1
        self.steal_pct = 100.0 * (delta[7] if len(delta) > 7 else 0) / total
        self.load1 = os.getloadavg()[0]

    def as_dict(self) -> dict:
        return {
            "loadavg_start": self.load0,
            "loadavg_end": self.load1,
            "steal_pct": round(self.steal_pct, 3),
            "calibration_s": round(self.calib, 5),
            "cpus": len(os.sched_getaffinity(0)),
        }
