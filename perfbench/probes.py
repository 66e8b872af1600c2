"""Timing and attribution for the benchmark, all from outside the program.

- ``Tracer``: spans (name, start, end, parent) recorded by the benchmark
  around calls into the engine's public functions; self time per span is
  derived at write-out.
- ``SparkProbe``: per-step Spark job groups, Catalyst phase durations of a
  step's final DataFrame, and Janino codegen deltas, read over py4j.
- ``read_event_log``: task CPU, GC, shuffle, spill and job/stage/task counts
  from the Spark event log, attributed to the step whose job group (or, for
  jobs launched from helper threads, whose time window) launched them.
- ``TreeRss``: peak resident memory of this process and all descendants
  (JVM, Python workers), sampled from /proc.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def with_self_time(self) -> list[dict]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s, c in zip(self.spans, child):
            dur = (s["end"] or s["start"]) - s["start"]
            out.append({**s, "dur_s": dur, "self_s": dur - c})
        return out


class SparkProbe:
    """Cheap py4j reads: codegen counters and job groups around each step
    phase (traced passes only), JVM heap after every pass."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        cls = jvm.java.lang.Class.forName(
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
        )
        self._codegen = cls.getField("MODULE$").get(None)
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._runtime = jvm.java.lang.Runtime.getRuntime()

    def codegen(self) -> tuple[float, int]:
        """(cumulative Janino compile ms, cumulative compiled units)."""
        return self._codegen.compileTime() / 1e6, int(self._compiles.getCount())

    def heap_used_mb(self) -> float:
        return (self._runtime.totalMemory() - self._runtime.freeMemory()) / 2**20

    def set_group(self, group: str, description: str) -> None:
        self.sc.setJobGroup(group, description, False)

    def clear_group(self) -> None:
        self.sc.setJobGroup("", "")

    @staticmethod
    def phases_ms(obj) -> dict[str, float]:
        """Catalyst analysis/optimization/planning ms of a DataFrame that has
        been executed (``queryExecution().tracker().phases()``)."""
        jdf = getattr(obj, "_jdf", None)
        if jdf is None:
            return {}
        ph = jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            opt = ph.get(name)
            if opt.isDefined():
                out[name] = float(opt.get().durationMs())
        return out


def read_event_log(log_dir: Path, windows: list[tuple[float, float, str]]) -> dict[str, dict]:
    """Per-attribution-key Spark totals from every uncompressed event log in
    ``log_dir``. A job is attributed to its ``spark.jobGroup.id`` when that
    names a benchmark group, otherwise to the benchmark window (start, end,
    key) its submission time falls in — jobs launched from a helper thread
    (e.g. concurrent CV folds) do not inherit the caller's job group."""
    jobs: dict[tuple, dict] = {}
    stage_job: dict[tuple, tuple] = {}
    totals: dict[str, dict] = {}

    def key_for(props: dict, submit_ms: float) -> str | None:
        g = props.get("spark.jobGroup.id") or ""
        if g.startswith("pb|"):
            return g
        t = submit_ms / 1000.0
        for a, b, k in windows:
            if a <= t <= b:
                return k
        return None

    def acc(key: str) -> dict:
        return totals.setdefault(
            key,
            {
                "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "last_job_end": 0.0,
            },
        )

    # Spark 4 writes rolling logs: one directory per application holding
    # numbered ``events_<n>_<app>`` parts (plus an ``appstatus`` marker), read
    # in part order so every job start precedes its tasks
    files = sorted(
        (f for f in log_dir.rglob("*")
         if f.is_file() and (f.name.startswith("events_") or f.parent == log_dir)),
        key=lambda f: (str(f.parent), int(f.name.split("_")[1]) if f.name.startswith("events_") else 0),
    )
    for f in files:
        app = f.parent.name if f.parent != log_dir else f.name
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    k = key_for(ev.get("Properties") or {}, ev["Submission Time"])
                    jobs[(app, ev["Job ID"])] = {"key": k}
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault((app, sid), (app, ev["Job ID"]))
                    if k:
                        acc(k)["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get((app, ev["Job ID"]))
                    if j and j["key"]:
                        a = acc(j["key"])
                        a["last_job_end"] = max(a["last_job_end"], ev["Completion Time"] / 1000.0)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    j = jobs.get(stage_job.get((app, sid)))
                    if j and j["key"]:
                        acc(j["key"])["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get((app, ev["Stage ID"])))
                    if not (j and j["key"]):
                        continue
                    a = acc(j["key"])
                    m = ev.get("Task Metrics") or {}
                    a["tasks"] += 1
                    a["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sw = (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    a["shuffle_write_mb"] += sw / 2**20
                    spill = m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    a["spill_mb"] += spill / 2**20
    return totals


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") / 2**20
    except OSError:
        return 0.0


class TreeRss:
    """Background sampler of the process tree's summed RSS; ``peak_mb`` is
    the largest sum seen outside ``paused()`` windows (the benchmark's own
    output checks)."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval, self.peak_mb = interval, 0.0
        self._stop, self._paused = threading.Event(), threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    @contextmanager
    def paused(self):
        self._paused.set()
        try:
            yield
        finally:
            self._paused.clear()

    def sample(self) -> float:
        me = os.getpid()
        total = _rss_mb(me) + sum(_rss_mb(p) for p in descendants(me))
        self.peak_mb = max(self.peak_mb, total)
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if not self._paused.is_set():
                self.sample()

    def __enter__(self):
        self.sample()
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join()
