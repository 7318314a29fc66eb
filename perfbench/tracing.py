"""Measurement plumbing: spans, the Spark job census and memory sampling.

`Tracer` records spans (name, start, end, parent, cycle id) in memory
around the benchmark's calls into the engine's public API. When tracing
is on, every closed span is also joined with the Spark jobs that ran
inside it: job, stage and task counts and executor busy time, read from
the status tracker and the application status store. A census runs at
every span start and end; Spark job ids are sequential and the benchmark
is a closed loop with one client, so the jobs submitted between two
census points belong to the innermost span open in between (jobs outside
every span are not attributed). Streaming jobs carry the query's runId
as their job group, which the census uses to count them separately.

The status store is filled asynchronously by the listener bus: when a
call returns, its jobs' end, stage and task events may still be queued.
Each census therefore first waits until the bus is empty; if it cannot
(timeout, or the private API is gone), that census and every span it
touches report their Spark figures as missing, never as an undercount.

With tracing off, `Tracer.span` only times (the end-to-end numbers come
from such runs); the census is skipped entirely.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

DRAIN_MS = 10_000  # longest wait for the listener bus to empty


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._next_job = 0
        self._stream_groups: set[str] = set()
        #: seconds the census itself took (the tracer's own cost)
        self.self_s = 0.0
        if enabled:
            self._drain()
            self._next_job = self._first_unseen_job(0)

    def add_stream_group(self, run_id: str) -> None:
        self._stream_groups.add(run_id)

    @contextmanager
    def span(self, name: str, cycle: int | None = None, **attrs):
        if self.enabled:  # jobs so far belong to the enclosing span
            self._credit(self.spans[self._stack[-1]] if self._stack
                         else None)
        rec = {"id": len(self.spans), "name": name, "cycle": cycle,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self._credit(rec)

    def _credit(self, rec: dict | None) -> None:
        """Add the jobs submitted since the previous census to `rec`'s
        own counts (None: outside every span, not attributed)."""
        t0 = time.perf_counter()
        counts = self._census()
        self.self_s += time.perf_counter() - t0
        if rec is None:
            return
        for k, v in counts.items():
            if k not in rec:
                rec[k] = v
            elif rec[k] is None or v is None:
                rec[k] = None
            else:
                rec[k] += v

    @staticmethod
    def seconds(rec: dict) -> float:
        return rec["end"] - rec["start"]

    def total(self, rec: dict, key: str) -> float | None:
        """Census field `key` summed over `rec` and every span nested
        in it (each census counts only jobs since the previous one);
        None when any of them is missing."""
        ids, vals = {rec["id"]}, [rec.get(key)]
        for s in self.spans[rec["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                vals.append(s.get(key))
        if any(v is None for v in vals):
            return None
        return sum(vals)

    # -- Spark census --

    def _first_unseen_job(self, start: int) -> int:
        tracker = self.spark.sparkContext.statusTracker()
        j = start
        while tracker.getJobInfo(j) is not None:
            j += 1
        return j

    def _drain(self) -> bool:
        """Wait until the listener bus has delivered every queued event
        to the status store; False when it did not empty in time."""
        try:
            self.spark.sparkContext._jsc.sc().listenerBus() \
                .waitUntilEmpty(DRAIN_MS)
            return True
        except Exception:  # noqa: BLE001 - timeout or no such API
            return False

    def _census(self) -> dict:
        """Jobs submitted since the previous census: counts plus summed
        executor run time. An undrained bus makes every figure None
        (missing), and a failed executor-time read makes `task_busy_s`
        None — never a partial sum that would read as a plausible
        number."""
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        drained = self._drain()
        end = self._first_unseen_job(self._next_job)
        jobs = list(range(self._next_job, end))
        self._next_job = end
        if not drained:
            return dict.fromkeys(("jobs", "stream_jobs", "tasks",
                                  "task_busy_s"))
        stream_ids: set[int] = set()
        for g in self._stream_groups:
            stream_ids.update(tracker.getJobIdsForGroup(g))
        stages: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran: list[int] = []
        for s in sorted(stages):
            info = tracker.getStageInfo(s)
            if info is None or info.numCompletedTasks == 0:
                continue  # skipped stage (shuffle reuse)
            tasks += info.numCompletedTasks
            ran.append(s)
        busy_ms: float | None = 0.0
        for s in ran:
            ms = self._stage_run_ms(s)
            if ms is None:
                busy_ms = None
                break
            busy_ms += ms
        return {"jobs": len(jobs),
                "stream_jobs": len(stream_ids.intersection(jobs)),
                "tasks": tasks,
                "task_busy_s": None if busy_ms is None else busy_ms / 1e3}

    def _stage_run_ms(self, stage: int) -> float | None:
        sc = self.spark.sparkContext
        try:
            store = sc._jsc.sc().statusStore()
            empty = sc._jvm.java.util.Collections.emptyList()
            quantiles = sc._gateway.new_array(sc._jvm.double, 0)
            it = store.stageData(stage, False, empty, False,
                                 quantiles).iterator()
            total = 0
            while it.hasNext():
                total += it.next().executorRunTime()
            return float(total)
        except Exception:  # noqa: BLE001 - the status store is optional
            return None

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------- memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_rss_bytes(root_pid: int) -> int:
    """Summed resident memory of `root_pid` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root_pid]
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue  # exited between listing and read
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory (this
    Python process, the Spark JVM and its Python workers)."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="rss-sampler")

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
