"""Measurement plumbing: layer spans, Spark event-log counters, CPU
time and peak RSS. Nothing here reaches into the engine; spans wrap
the benchmark's own calls into each layer's public functions."""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"


class Tracer:
    """In-memory span recorder: (name, start, end, parent, run id).

    Disabled tracers still time ``span`` blocks for the caller (the
    end-to-end numbers need the wall time either way) but record
    nothing and never touch Spark."""

    def __init__(self, enabled: bool, run_id: str, sc=None):
        self.enabled = enabled
        self.run_id = run_id
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Yields a dict whose ``dt`` is set to the block's wall time."""
        rec = {"name": name, "dt": 0.0}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["dt"] = time.perf_counter() - t0
            return
        sid = len(self.spans)
        rec.update(id=sid, run=self.run_id,
                   parent=self._stack[-1] if self._stack else None,
                   start=time.time())
        self.spans.append(rec)
        self._stack.append(sid)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROP, str(sid))
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dt"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dt"]
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty(
                    SPAN_PROP, str(self._stack[-1]) if self._stack else None)

    def count(self, name: str, value: float) -> None:
        self.counts[name] += value

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["dt"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["dt"] - child[s["id"]]
        return dict(out)

    def descendants(self, name: str) -> set[int]:
        """Ids of every span named ``name`` and of all spans below them."""
        ids = {s["id"] for s in self.spans if s["name"] == name}
        for s in self.spans:  # parents precede children
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), "counts": self.counts}, fh)


# ------------------------------------------------------------ Spark event log
def eventlog_conf(evdir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{evdir}",
        "spark.eventLog.rolling.enabled": "false",
        "spark.eventLog.compress": "false",
    }


def read_eventlog(evdir: str) -> dict:
    """Jobs and tasks of every application logged under ``evdir``.

    Returns ``{"jobs": [{span, stages}], "tasks": [{stage, ...}]}``;
    a job's ``span`` is the tracer span id that was active when the
    job was submitted (None outside any span)."""
    jobs, tasks = [], []
    for entry in sorted(os.listdir(evdir)):
        path = os.path.join(evdir, entry)
        files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
                 if os.path.isdir(path) else [path])
        for fp in files:
            with open(fp) as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    et = ev.get("Event")
                    if et == "SparkListenerJobStart":
                        span = (ev.get("Properties") or {}).get(SPAN_PROP)
                        jobs.append({
                            "span": int(span) if span not in (None, "") else None,
                            "stages": [f"{entry}:{s}" for s in ev.get("Stage IDs", [])],
                        })
                    elif et == "SparkListenerTaskEnd":
                        info = ev.get("Task Info") or {}
                        m = ev.get("Task Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        sw = m.get("Shuffle Write Metrics") or {}
                        run = m.get("Executor Run Time", 0)
                        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                        tasks.append({
                            "stage": f"{entry}:{ev.get('Stage ID')}",
                            "run_ms": run,
                            "sched_ms": max(
                                0, dur - run - m.get("Executor Deserialize Time", 0)
                                - m.get("Result Serialization Time", 0)
                                - info.get("Getting Result Time", 0)),
                            "gc_ms": m.get("JVM GC Time", 0),
                            "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                            "sr_b": sr.get("Local Bytes Read", 0)
                            + sr.get("Remote Bytes Read", 0),
                            "sw_b": sw.get("Shuffle Bytes Written", 0),
                            "spill_b": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        })
    return {"jobs": jobs, "tasks": tasks}


def spark_counters(log: dict, span_ids: set[int]) -> dict[str, float]:
    """Sum job/task counters over the jobs submitted under ``span_ids``."""
    jobs = [j for j in log["jobs"] if j["span"] in span_ids]
    stages = {s for j in jobs for s in j["stages"]}
    tasks = [t for t in log["tasks"] if t["stage"] in stages]
    out = {"jobs": float(len(jobs)), "tasks": float(len(tasks))}
    for k in ("run_ms", "sched_ms", "gc_ms", "in_b", "sr_b", "sw_b", "spill_b"):
        out[k] = float(sum(t[k] for t in tasks))
    return out


# -------------------------------------------------------------------- memory
def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(_children(pid))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) of this
    process and every process below it. Unlike wall time, CPU time does
    not grow while the host runs another guest on our cores."""
    ticks = 0
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """Peak resident memory (the kernel's high-water mark, VmHWM) of this
    Python driver plus its direct children (the Spark JVM), in MB. The
    JVM's forked Python workers share most of their pages with their
    parent, so their RSS is left out rather than counted once per fork."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *_children(me)]) / 1024.0
