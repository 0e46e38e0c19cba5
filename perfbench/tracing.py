"""Measurement taken from outside the engine.

- ``ProcTree``: CPU seconds and peak resident memory of this process and
  every descendant (the JVM the session launches and its Python workers),
  read from ``/proc``.
- ``Py4jCounter``: counts driver-to-JVM round trips by wrapping the
  gateway client's ``send_command`` in this process.
- ``SparkMeters``: Hadoop filesystem bytes written, and the jobs and
  stages the status store holds (serialized to JSON inside the JVM, one
  round trip each).
- ``Tracer``: a span per call into a layer (name, start, end, parent,
  run id). Spans stay in memory; ``attach`` gives each span its jobs,
  stages and round trips once the run has ended.

The benchmark is a closed loop with one caller, so the jobs submitted
while a span is open are that span's jobs, including jobs a streaming
query runs on its own thread under its own job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU and memory of ``root`` and all its descendants."""

    def __init__(self, root: int | None = None) -> None:
        self.root = root or os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    stat = fh.read()
            except OSError:
                continue  # exited while listing
            ppid = int(stat.rsplit(")", 1)[1].split()[1])
            children.setdefault(ppid, []).append(int(entry))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User + system seconds of the tree, reaped children included."""
        ticks = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            # utime, stime, cutime, cstime (fields 14-17 of proc(5))
            ticks += sum(int(x) for x in fields[11:15])
        return ticks / _CLK

    def reset_peak_rss(self) -> None:
        """Restart each process's peak resident set from its current one
        (``clear_refs`` value 5, see proc(5))."""
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                continue

    def peak_rss_mb(self) -> float:
        """Sum over the tree of each process's peak resident set since the
        last ``reset_peak_rss``."""
        kb = 0
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
                            break
            except OSError:
                continue
        return kb / 1024.0


class Py4jCounter:
    """Counts py4j round trips made through the session's gateway."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._send = self._client.send_command
        self._lock = threading.Lock()
        self.calls = 0
        self._client.send_command = self._counted

    def _counted(self, *args, **kwargs):
        with self._lock:
            self.calls += 1
        return self._send(*args, **kwargs)

    def close(self) -> None:
        del self._client.send_command


class SparkMeters:
    """JVM-side counters of one session."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc
        jvm = sc._jvm
        self._fs = jvm.org.apache.hadoop.fs.FileSystem
        self._mapper = None
        self._jvm = jvm

    def bytes_written(self) -> int:
        """Bytes written through Hadoop's local filesystem: output files,
        streaming state and checkpoints (shuffle files do not go through
        it)."""
        return sum(
            s.getBytesWritten()
            for s in self._fs.getAllStatistics()
            if s.getScheme() == "file"
        )

    def _json(self, obj) -> list[dict]:
        if self._mapper is None:
            scala = self._jvm.com.fasterxml.jackson.module.scala
            self._mapper = self._jvm.com.fasterxml.jackson.databind.ObjectMapper()
            self._mapper.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._sc._jsc.sc().statusStore().jobsList(None))

    def stages(self) -> list[dict]:
        store = self._sc._jsc.sc().statusStore()
        gw = self._sc._gateway
        return self._json(store.stageList(
            None, False, False, gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList(),
        ))


@dataclass
class Span:
    name: str
    run_id: str
    start: float
    parent: int | None
    attrs: dict = field(default_factory=dict)
    end: float = 0.0
    py4j_start: int = 0
    py4j_calls: int = 0
    extra: dict = field(default_factory=dict)  # stats the caller measured
    stats: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans around calls into layers.

    Spans are always timed (two clock reads each), because the
    end-to-end metrics are sums of them. Round-trip counting and stage
    metrics are on only when ``counter`` is given.
    """

    def __init__(self, counter: Py4jCounter | None = None) -> None:
        self.counter = counter
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, run_id: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, run_id, time.time(), parent, attrs)
        if self.counter is not None:
            sp.py4j_start = self.counter.calls
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()
            if self.counter is not None:
                sp.py4j_calls = self.counter.calls - sp.py4j_start

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def attach(self, jobs: list[dict], stages: list[dict], cores: int) -> None:
        """Give every span its jobs and stages (by submission time) and
        derive self time, driver time and utilization."""
        jobs = [j for j in jobs if j.get("submissionTime")]
        stages = [s for s in stages if s.get("submissionTime")]
        for i, sp in enumerate(self.spans):
            lo, hi = sp.start * 1000.0, sp.end * 1000.0
            mine = [j for j in jobs if lo <= j["submissionTime"] <= hi]
            st = [s for s in stages if lo <= s["submissionTime"] <= hi]
            covered = _union_ms(
                (j["submissionTime"], j.get("completionTime") or hi) for j in mine
            )
            exec_run = sum(s.get("executorRunTime", 0) for s in st) / 1000.0
            wall = max(sp.wall_s, 1e-9)
            sp.stats = {
                "wall_s": sp.wall_s,
                "self_s": sp.wall_s - sum(c.wall_s for c in self.children(i)),
                "driver_s": max(0.0, sp.wall_s - covered / 1000.0),
                "jobs": len(mine),
                "tasks": sum(s.get("numCompleteTasks", 0) for s in st),
                "exec_run_s": exec_run,
                "core_util": exec_run / (wall * cores),
                "shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in st),
                "spill_bytes": sum(s.get("diskBytesSpilled", 0) for s in st),
                "written_bytes": sum(s.get("outputBytes", 0) for s in st),
                "py4j_calls": sp.py4j_calls,
                **sp.extra,
            }

    def dump(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                {
                    "meta": meta,
                    "spans": [
                        {
                            "name": s.name, "run_id": s.run_id, "start": s.start,
                            "end": s.end, "parent": s.parent, "attrs": s.attrs,
                            "stats": s.stats,
                        }
                        for s in self.spans
                    ],
                },
                fh,
                indent=1,
            )


def _union_ms(intervals) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
