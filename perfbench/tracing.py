"""Tracing for the per-layer run: spans recorded around calls into the
package's layers, plus counters read from Spark's own status store and
streaming progress events. Nothing here changes the package; every span
wraps a call made from the benchmark's files.

A span is (id, name, start, end, parent, run_id); spans stay in memory
and are written once at the end. Self time is a span's duration minus
the part of it that its child spans cover.
"""

from __future__ import annotations

import itertools
import json
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    return statistics.median(values) if values else 0.0


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    enabled = False

    def span(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent reading counters, not working
        self.root: int | None = None  # parent for spans opened on other threads
        self._t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        start = time.perf_counter() - self._t0
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            end = time.perf_counter() - self._t0
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "run_id": self.run_id}
                )

    @contextmanager
    def bookkeeping(self):
        t = time.perf_counter()
        try:
            yield
        finally:
            with self._lock:
                self.bookkeeping_s += time.perf_counter() - t

    def with_self_time(self) -> list[dict]:
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            kids.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            covered, cur_end = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cur_end), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cur_end = hi
            out.append({**s, "self": s["end"] - s["start"] - covered})
        return out

    def write(self, path: str, metrics: dict) -> None:
        spans = self.with_self_time()
        by_name: dict[str, dict] = {}
        for s in spans:
            agg = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += s["end"] - s["start"]
            agg["self_s"] += s["self"]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "metrics": metrics,
                       "self_time_by_span": by_name, "spans": spans}, f, indent=1)


class StatusStore:
    """Jobs, stages and task counters from ``sc.statusStore()``.

    The store is fed asynchronously by the listener bus, so every read
    first waits for the bus to drain. Job ids are dense and
    ``jobsList`` returns newest first, so the jobs since a mark are the
    head of that list.
    """

    def __init__(self, spark, tracer: Tracer):
        jsc = spark.sparkContext._jsc.sc()
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self.cores = spark.sparkContext.defaultParallelism
        self._tracer = tracer

    def mark(self) -> int:
        """Id the next job will get."""
        with self._tracer.bookkeeping():
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
            return jobs.apply(0).jobId() + 1 if jobs.size() else 0

    def since(self, mark: int) -> dict:
        """Counters of every job submitted since ``mark``."""
        with self._tracer.bookkeeping():
            self._bus.waitUntilEmpty()
            jobs = self._store.jobsList(None)
            out = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0.0,
                   "cpu_ms": 0.0, "shuffle_write": 0, "shuffle_read": 0,
                   "spill": 0, "intervals": []}
            for i in range(jobs.size()):
                job = jobs.apply(i)
                if job.jobId() < mark:
                    break
                out["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                    )
                ids = job.stageIds()
                for k in range(ids.size()):
                    st = self._store.lastStageAttempt(ids.apply(k))
                    if st.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += st.numTasks()
                    out["run_ms"] += st.executorRunTime()
                    out["cpu_ms"] += st.executorCpuTime() / 1e6
                    out["shuffle_write"] += st.shuffleWriteBytes()
                    out["shuffle_read"] += st.shuffleReadBytes()
                    out["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            return out


def outside_jobs_s(start: float, end: float, intervals) -> float:
    """Wall time in [start, end] (epoch seconds) not covered by any job's
    submit-to-complete interval."""
    covered, cur = 0.0, start
    for lo, hi in sorted(intervals):
        lo, hi = max(lo, cur), min(hi, end)
        if hi > lo:
            covered += hi - lo
            cur = hi
    return max(end - start - covered, 0.0)


class ProgressListener(StreamingQueryListener):
    """Keeps every data-carrying progress event of the streaming queries.

    ``numInputRows`` counts every scan of the epoch's input (the sink reads
    it more than once), so rows per epoch come from the checkpoint instead.
    """

    def __init__(self):
        self.progress: list = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        if p.numInputRows > 0:
            with self._lock:
                self.progress.append(
                    (str(p.id), p.batchId, p.numInputRows, dict(p.durationMs))
                )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def metrics(self, query_id: str) -> dict:
        with self._lock:
            rows = [p for p in self.progress if p[0] == query_id]
        d = [r[3] for r in rows]
        return {
            "streaming.epochs": len(rows),
            "streaming.trigger_ms_p50": median([x.get("triggerExecution", 0) for x in d]),
            "streaming.protocol_ms_p50": median(
                [x.get("triggerExecution", 0) - x.get("addBatch", 0) for x in d]
            ),
            "streaming.wal_commit_ms_p50": median([x.get("walCommit", 0) for x in d]),
            "sources.offset_ms_p50": median(
                [x.get("latestOffset", 0) + x.get("getBatch", 0) for x in d]
            ),
        }
