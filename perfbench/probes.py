"""Measurement probes that live outside the package: a span recorder, Spark
stage counters read from Spark's status store, and a ``/proc``-based
RSS sampler for the whole process tree (``psutil`` is not available)."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class SpanRecorder:
    """In-memory spans ``(name, start, end, parent, run)``; written out once at
    the end. Times are ``time.time()`` seconds so they line up with Spark's
    stage submission timestamps."""

    def __init__(self, run_id: str) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = run_id

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of the interval its child spans cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ---------------------------------------------------------------------------
# Spark stage counters
# ---------------------------------------------------------------------------


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


class StageCounters:
    """Per-stage counters from ``SparkContext.statusStore()`` via py4j. Works
    with the UI disabled; uses the 5-argument ``stageList`` overload
    ``(java.util.List, bool, bool, double[], java.util.List)``."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._quantiles = sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def stages_in(self, rec: dict) -> list[dict]:
        """Completed stages submitted inside span ``rec``."""
        lst = self._jvm.java.util.ArrayList
        stages = self._store.stageList(lst(), False, False, self._quantiles, lst())
        lo, hi = rec["start"] * 1000.0, rec["end"] * 1000.0
        out = []
        for s in _seq(stages):
            sub = s.submissionTime()
            if not sub.isDefined():
                continue
            t = sub.get().getTime()
            if not (lo <= t <= hi):
                continue
            out.append(
                {
                    "stage": s.stageId(),
                    "attempt": s.attemptId(),
                    "run_ms": s.executorRunTime(),
                    "cpu_ns": s.executorCpuTime(),
                    "input_records": s.inputRecords(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "peak_exec_bytes": s.peakExecutionMemory(),
                }
            )
        return out

    def task_skew(self, stage: dict) -> float:
        """Slowest task's run time over the median task's."""
        summary = self._store.taskSummary(stage["stage"], stage["attempt"], self._quantiles)
        if not summary.isDefined():
            return 1.0
        med, top = _seq(summary.get().executorRunTime())
        return float(top) / max(float(med), 1.0)


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[tuple[int, str]]]:
    """ppid -> [(pid, comm)] from ``/proc/<pid>/stat``."""
    out: dict[int, list[tuple[int, str]]] = {}
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
        out.setdefault(ppid, []).append((int(d), comm))
    return out


def descendants(root: int) -> list[int]:
    children, out, todo = _children(), [], [root]
    while todo:
        kids = [pid for pid, _ in children.get(todo.pop(), ())]
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """RSS summed over ``root`` and all its descendants (JVM, Python daemon
    and workers). Of the JVM's children only Python processes count: the
    JVM's other children are short-lived helpers (``chmod``, ``rm``,
    ``bash``) that, between fork and exec, share the JVM's pages and would
    count them twice."""
    children = _children()
    total, todo = 0, [(root, "")]
    while todo:
        pid, comm = todo.pop()
        kids = children.get(pid, ())
        if comm == "java":
            kids = [k for k in kids if k[1].startswith("python")]
        todo.extend(kids)
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Background thread tracking the peak of :func:`tree_rss_bytes`."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
