"""Measurement helpers: spans, order statistics, the Spark event-log
reader, streaming-progress summaries and the resident-memory sampler.

Spans are recorded by the benchmark's own code around each call into a
layer of the package; nothing inside the package is instrumented.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from statistics import median


class Tracer:
    """In-memory span recorder. A span is (id, name, start, end, parent,
    rep); spans of one repetition share ``rep``. Written out once, at the
    end of the run."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, rep: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if rep is None and parent is not None:
            rep = self.spans[parent]["rep"]
        rec = {"id": len(self.spans), "name": name, "parent": parent,
               "rep": rep, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def duration(self, span_id: int) -> float:
        s = self.spans[span_id]
        return s["end"] - s["start"]

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its direct children cover."""
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own


def tail(xs: list[float]) -> tuple[str, float]:
    """The highest percentile with at least ten samples beyond it, as
    (name, value). Below eleven samples no percentile has that support,
    and the maximum is reported as ``p100``."""
    s = sorted(xs)
    n = len(s)
    if n < 11:
        return "p100", s[-1]
    pct = 100.0 * (n - 10) / n
    return f"p{pct:.1f}", s[n - 11]


# -- Spark event log -------------------------------------------------------

def read_event_log(path: str) -> list[dict]:
    """Events of one application's log: a single file, or a rolling-log
    directory of ``events_<n>_<app>`` files read in order."""
    if os.path.isdir(path):
        parts = sorted((n for n in os.listdir(path) if n.startswith("events_")),
                       key=lambda n: int(n.split("_")[1]))
        files = [os.path.join(path, n) for n in parts]
    else:
        files = [path]
    events = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def scheduler_counters(events: list[dict], t0_ms: float, t1_ms: float,
                       cores: int) -> dict[str, float]:
    """Counters for the jobs submitted inside ``[t0_ms, t1_ms]`` (wall
    clock, ms since the epoch): jobs, stages, tasks, failed tasks, shuffle
    bytes, worst-stage task skew (max task time over median), executor
    busy fraction (task run time over window x cores) and task GC time."""
    jobs = [e for e in events if e["Event"] == "SparkListenerJobStart"
            and t0_ms <= e["Submission Time"] <= t1_ms]
    stage_ids = {sid for j in jobs for sid in j["Stage IDs"]}
    tasks = [e for e in events if e["Event"] == "SparkListenerTaskEnd"
             and e["Stage ID"] in stage_ids]
    ran_stages = {e["Stage ID"] for e in tasks}
    run_ms, gc_ms, sw, sr, failed = 0, 0, 0, 0, 0
    per_stage: dict[int, list[int]] = {}
    for e in tasks:
        info = e["Task Info"]
        if info.get("Failed") or e["Task End Reason"]["Reason"] != "Success":
            failed += 1
        m = e.get("Task Metrics") or {}
        run_ms += m.get("Executor Run Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        sw += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        rd = m.get("Shuffle Read Metrics", {})
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        per_stage.setdefault(e["Stage ID"], []).append(
            info["Finish Time"] - info["Launch Time"])
    skew = 1.0
    for durs in per_stage.values():
        if len(durs) >= 2:
            skew = max(skew, max(durs) / max(statistics.median(durs), 1))
    window_ms = max(t1_ms - t0_ms, 1)
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran_stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": failed,
        "spark.shuffle_write_bytes": sw,
        "spark.shuffle_read_bytes": sr,
        "spark.task_skew": skew,
        "spark.executor_busy_frac": run_ms / (window_ms * cores),
        "spark.gc_s": gc_ms / 1000.0,
    }


# -- Structured Streaming progress -----------------------------------------

STREAM_PARTS = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.latest_offset_ms": "latestOffset",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
}


def data_epochs(progress: list[dict]) -> list[dict]:
    """Progress entries of micro-batches that carried input rows."""
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def stream_layers(epochs: list[dict]) -> dict[str, float]:
    """Per-epoch medians of the trigger's duration parts, plus the
    non-``addBatch`` overhead and the epoch count."""
    out = {k: median([p["durationMs"].get(v, 0) for p in epochs])
           for k, v in STREAM_PARTS.items()}
    out["stream.overhead_ms"] = median(
        [p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
         for p in epochs])
    out["stream.epochs"] = len(epochs)
    return out


# -- resident memory --------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    """Resident memory of ``root`` (the driver JVM) and all its descendants
    (the PySpark daemon and its Python workers), summed as Pss: pages the
    forked workers share with the daemon are split between them rather
    than counted once per process."""
    kids = _children_map()
    todo, total = [root], 0
    while todo:
        pid = todo.pop()
        total += _pss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


class PssSampler:
    """Samples the process-tree Pss on a background thread while active;
    ``peak_mb`` is the largest sum seen."""

    def __init__(self, root_pid: int, interval_s: float = 0.2) -> None:
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root_pid))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root_pid))
