"""Measurement from outside the program: spans at the benchmark's call
boundaries, Py4J gateway call counts, Spark's own status counters, and
sampled resident memory.

Spans stay in memory and are written when the run ends. A layer's self
time is its spans' duration minus the part covered by child spans.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans (id, parent, name, layer, start, end, attrs) in memory.

    Disabled tracers record nothing and add one branch per boundary;
    the untraced run uses one so both runs execute the same code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = next(self._ids)
        pid = parent if parent is not None else (stack[-1] if stack else None)
        rec = {"id": sid, "parent": pid, "name": name, "layer": layer,
               "start": time.time(), **attrs}
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> int:
        """Record a span measured elsewhere (e.g. a trigger from
        Spark's progress events)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "layer": layer, "start": start, "end": end,
                               **attrs})
        return sid

    def self_time_by_layer(self, root: dict) -> dict[str, float]:
        """Self time per layer inside ``root``'s interval: each span
        overlapping it, clipped to it, minus what its children cover."""
        lo, hi = root["start"], root["end"]

        def clip(s: dict) -> tuple[float, float]:
            return max(s["start"], lo), min(s["end"], hi)

        inside = [s for s in self.spans if clip(s)[1] > clip(s)[0]]
        kids: dict[int | None, list[dict]] = {}
        for s in inside:
            kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in inside:
            a, z = clip(s)
            covered = union_length(
                [(max(c[0], a), min(c[1], z))
                 for c in map(clip, kids.get(s["id"], []))]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, z - a - covered)
        return out

    def coverage(self, root: dict) -> float:
        """Share of the root span covered by its direct children."""
        cov = union_length(
            [(max(c["start"], root["start"]), min(c["end"], root["end"]))
             for c in self.spans if c["parent"] == root["id"]]
        )
        return cov / max(1e-9, root["end"] - root["start"])

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s, default=str) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class GatewayCounter:
    """Counts Py4J round trips by wrapping the gateway client's
    ``send_command`` (all threads share the client)."""

    def __init__(self, spark) -> None:
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self._lock = threading.Lock()
        self.n = 0

        def counting(*a, **kw):
            with self._lock:
                self.n += 1
            return self._orig(*a, **kw)

        self._client.send_command = counting

    def close(self) -> None:
        self._client.send_command = self._orig


class SparkStatus:
    """Reads jobs and stages from Spark's AppStatusStore over Py4J, the
    way the package's ``plans/metrics.py`` reads stage shuffle bytes."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()

    def drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty(30_000)

    def jobs(self) -> list[dict]:
        """Every retained job: submission time (epoch seconds), duration
        and summed stage counters (tasks, shuffle write, spill)."""
        jvm = self.spark._jvm
        gw = self.sc._gateway
        store = self._jsc.statusStore()
        stages = {}
        it = store.stageList(jvm.java.util.ArrayList(), False, False,
                             gw.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            s = it.next()
            stages[s.stageId()] = (
                s.numCompleteTasks(),
                s.shuffleWriteBytes(),
                s.memoryBytesSpilled() + s.diskBytesSpilled(),
            )
        out = []
        it = store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            sub, done = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and done.isDefined()):
                continue
            t0 = sub.get().getTime() / 1000.0
            ids = j.stageIds()
            tasks = shuffle = spill = 0
            for k in range(ids.length()):
                t, sh, sp = stages.get(ids.apply(k), (0, 0, 0))
                tasks, shuffle, spill = tasks + t, shuffle + sh, spill + sp
            out.append({"t": t0, "s": done.get().getTime() / 1000.0 - t0,
                        "tasks": tasks, "shuffle": shuffle, "spill": spill})
        return out

    @staticmethod
    def between(jobs: list[dict], t0: float, t1: float) -> list[dict]:
        """Jobs submitted inside [t0, t1] (one client thread at a time
        runs jobs, so a call's interval attributes its jobs)."""
        return [j for j in jobs if t0 <= j["t"] <= t1]

    def cached_tables(self) -> int:
        return len(self._jsc.getRDDStorageInfo())


def _parent_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with pages shared between
    processes (forked Python workers) split among them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_java(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


class RssSampler:
    """Samples, every ``INTERVAL_S``, the resident memory of this process
    and its descendants (JVM, Python workers) as a PSS sum, excluding
    pids in ``skip`` (the load generator)."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.skip: set[int] = set()
        self.peak_kb = 0
        self.peak_jvm_kb = 0  # the JVM's share at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        kids = _parent_map()
        total = jvm = 0
        todo = [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.skip:
                continue
            kb = _pss_kb(pid)
            total += kb
            if pid in kids.get(os.getpid(), []) and _is_java(pid):
                jvm += kb
            todo.extend(kids.get(pid, []))
        if total > self.peak_kb:
            self.peak_kb, self.peak_jvm_kb = total, jvm
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> None:
        """Take a last sample and stop; later calls do nothing."""
        if not self._stop.is_set():
            self._stop.set()
            self._thread.join(timeout=5)
            self.sample()
