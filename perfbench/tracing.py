"""Tracing for the per-layer ledger: spans kept in memory, peak RSS sampled
from /proc, and Spark's own event log parsed after the session stops.

Nothing here runs in an untraced run.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager


class Spans:
    """In-memory spans: (name, start, end, parent). A layer's self time is
    its span minus the time its child spans cover."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"name": s["name"], "start": s["start"] - t0, "end": s["end"] - t0, "parent": s["parent"]}
                        for s in self.spans
                    ],
                    "self_s": self.self_times(),
                },
                f,
                indent=1,
            )


def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        out[int(d)] = (ppid, comm)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak RSS of this process's descendants: the driver JVM (``java``)
    and the Python workers (every ``python*`` descendant, summed)."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.driver_peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        table = _proc_table()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            children.setdefault(ppid, []).append(pid)
        todo, desc = [os.getpid()], []
        while todo:
            for c in children.get(todo.pop(), []):
                desc.append(c)
                todo.append(c)
        jvm = sum(_rss_mb(p) for p in desc if table[p][1] == "java")
        workers = sum(_rss_mb(p) for p in desc if table[p][1].startswith("python"))
        self.driver_peak_mb = max(self.driver_peak_mb, jvm)
        self.workers_peak_mb = max(self.workers_peak_mb, workers)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


PHASE_PROP = "perfbench.phase"


def event_log_metrics(log_dir: str, phase: str) -> dict[str, float]:
    """Sum the task metrics of every job whose ``perfbench.phase`` local
    property equals ``phase``, from the event log Spark wrote to
    ``log_dir`` (read after the session stopped)."""
    stage_phase: dict[int, str] = {}
    tot = {
        "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
        "shuffle_write_bytes": 0.0, "shuffle_read_bytes": 0.0, "spill_bytes": 0.0,
        "tasks": 0.0, "stages": 0.0,
    }
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    ph = (ev.get("Properties") or {}).get(PHASE_PROP)
                    for sid in ev.get("Stage IDs", []):
                        stage_phase[sid] = ph
                elif kind == "SparkListenerStageCompleted":
                    if stage_phase.get(ev["Stage Info"]["Stage ID"]) == phase:
                        tot["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if stage_phase.get(ev.get("Stage ID")) != phase:
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tot["tasks"] += 1
                    tot["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    tot["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    tot["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return tot
