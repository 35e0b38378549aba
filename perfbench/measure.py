"""Measurement helpers for the benchmark: output checks, spans, process-tree
memory sampling and Spark event-log stage metrics. Nothing here imports
Spark, so the helpers can be tested without a session."""

from __future__ import annotations

import hashlib
import json
import os
import threading
import time
from contextlib import contextmanager

PREDICATES = frozenset({"mentions", "has_type", "found_in_repo", "same_as", "co_occurs_with"})


# ---------------- output checks ----------------

def triple_digest(triples) -> str:
    """Order-insensitive sha256 over the distinct (subj, pred, obj) rows."""
    h = hashlib.sha256()
    for row in sorted({tuple("\0" if v is None else str(v) for v in t) for t in triples}):
        h.update("\x1f".join(row).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def span_prf(predicted: set, gold: set) -> tuple[float, float, float]:
    """Precision, recall and F1 of a predicted mention set against gold."""
    tp = len(predicted & gold)
    p = tp / len(predicted) if predicted else 0.0
    r = tp / len(gold) if gold else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


# ---------------- spans ----------------

class Tracer:
    """Spans kept in memory: name, start, end, parent and run id. A span's
    self time is its duration minus the time its child spans cover."""

    def __init__(self, run_id: str, on_enter=None):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._on_enter = on_enter  # called with the span name on entry

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run_id": self.run_id,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        if self._on_enter is not None:
            self._on_enter(name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, name: str) -> float:
        """Summed duration of all spans called `name`."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[int, float]:
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def write(self, path: str) -> None:
        own = self.self_times()
        with open(path, "w") as f:
            json.dump([dict(s, self_s=own[s["id"]]) for s in self.spans], f, indent=1)


# ---------------- memory ----------------

def _children() -> dict[int, list[int]]:
    """Parent pid -> child pids, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we listed
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def descendants(root: int) -> list[int]:
    children = _children()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _descendants_rss(root: int) -> dict[int, int]:
    """Resident bytes of each descendant of `root` (not `root` itself)."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                out[pid] = int(f.read().split()[1]) * page
        except OSError:
            pass  # exited since it was listed
    return out


class RssSampler:
    """Samples the summed RSS of a process's descendants every `interval`
    seconds on a background thread; `peak_mb` is the largest sample since
    start(). Given the benchmark's own pid, that is the driver JVM it
    launched plus the JVM's Python workers."""

    def __init__(self, root_pid: int, interval: float = 0.1):
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            sample = _descendants_rss(self.root_pid)
            if sum(sample.values()) > self.peak:
                self.peak = sum(sample.values())
                self.peak_by_pid = sample
            self._stop.wait(self.interval)

    def peak_breakdown(self) -> str:
        """'<command> <MB>' for each process of the peak sample."""
        parts = []
        for pid, rss in sorted(self.peak_by_pid.items()):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                name = "exited"
            parts.append(f"{name}:{pid} {rss / 2**20:.0f}")
        return ", ".join(parts)

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------- Spark event log ----------------

def stage_metrics(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Per job-description label: shuffle bytes written, bytes spilled
    (memory + disk), summed task run time and job count, parsed from the
    JSON event logs under `event_log_dir` (single-file or rolling layout).
    Unlabelled jobs are skipped."""
    stage_label: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(label: str) -> dict[str, float]:
        return out.setdefault(label, {"shuffle_write_bytes": 0, "spill_bytes": 0,
                                      "task_s": 0.0, "jobs": 0})

    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(event_log_dir)
                   for n in names if n.startswith(("events", "local-", "app-")))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    label = (ev.get("Properties") or {}).get("spark.job.description")
                    if not label:
                        continue
                    bucket(label)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_label.setdefault(sid, label)
                elif kind == "SparkListenerTaskEnd":
                    label = stage_label.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if label is None or not tm:
                        continue
                    b = bucket(label)
                    b["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0)
                    b["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0)
                    b["task_s"] += tm.get("Executor Run Time", 0) / 1000.0
    return out
