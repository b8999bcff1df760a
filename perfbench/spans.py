"""Span recorder and the Spark counters read from outside the engine.

``Recorder`` keeps spans in memory: name, start, end, parent, op id, the
Spark job-id range the span covered and free-form attributes. Jobs are
counted by job-id delta across a span, because streaming micro-batch
jobs do not carry the driver thread's job group. ``Tracer`` installs the
recorder around the public functions of each engine layer by replacing
module attributes, and puts the originals back on ``uninstall``.

``StageMetrics`` sums executor run time, shuffle and spill per job range
from the Spark UI REST API, which listens on loopback only.
``StreamProbe`` is a ``StreamingQueryListener`` that keeps the progress
events of the bronze streams.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

__all__ = ["Recorder", "Tracer", "StageMetrics", "StreamProbe", "self_times", "sum_jobs",
           "next_job_id"]


def next_job_id(spark) -> int:
    """The id the next Spark job will get (one py4j call, no job)."""
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    op: int | None
    job0: int
    end: float = 0.0
    job1: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent, "op": self.op, "jobs": [self.job0, self.job1],
                **({"attrs": self.attrs} if self.attrs else {})}


class Recorder:
    """In-memory span recorder. Parents are tracked per thread (some
    queries build on helper threads); a span opened on a helper thread
    has no parent but still carries the current op id."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1].id if stack else None
        s = Span(next(self._ids), name, time.perf_counter(), parent, self.op,
                 next_job_id(self.spark), attrs=dict(attrs))
        self.spans.append(s)
        stack.append(s)
        try:
            yield s
        finally:
            s.job1 = next_job_id(self.spark)
            s.end = time.perf_counter()
            stack.pop()

    def of_op(self, op: int, name: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.op == op and (name is None or s.name == name)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.to_json() for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed self time: a span's duration minus the
    part of its interval that its child spans cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - covered)
    return out


class Tracer:
    """Wraps public engine functions in spans; ``uninstall`` restores them.

    ``wrap`` takes the (owner, attribute) pairs of every place the
    function is looked up at call time: a class, or each module that
    imported the function by name.
    """

    def __init__(self, recorder: Recorder):
        self.recorder = recorder
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, name: str, owners: list[tuple[object, str]], on_result=None) -> None:
        rec = self.recorder
        original = getattr(*owners[0])

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with rec.span(name) as s:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(s, result)
                return result

        for owner, attr in owners:
            self._saved.append((owner, attr, getattr(owner, attr)))
            setattr(owner, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._saved):
            setattr(owner, attr, original)
        self._saved.clear()


class StageMetrics:
    """Executor time, shuffle and spill per job range, from the UI REST API."""

    FIELDS = ("executorRunTime", "shuffleReadBytes", "shuffleWriteBytes",
              "memoryBytesSpilled", "diskBytesSpilled")

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def collect(self, job0: int, job1: int, settle_s: float = 5.0) -> dict:
        """Stage ids per job in [job0, job1) and metrics per completed
        stage. Waits until the status store has seen every job of the
        range finish."""
        deadline = time.monotonic() + settle_s
        while True:
            jobs = {j["jobId"]: j.get("stageIds", []) for j in self._get("/jobs")
                    if job0 <= j["jobId"] < job1 and j["status"] != "RUNNING"}
            if len(jobs) == job1 - job0 or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        stages: dict[int, dict] = {}
        for st in self._get("/stages?status=complete"):
            cur = stages.setdefault(st["stageId"], dict.fromkeys(self.FIELDS, 0))
            for f in self.FIELDS:
                cur[f] += st.get(f, 0)
        return {"jobs": jobs, "stages": stages}


def sum_jobs(snapshot: dict, job0: int, job1: int) -> dict:
    """Task seconds, shuffle bytes (read + write) and spill bytes over
    the distinct stages of the jobs in [job0, job1)."""
    sids = {sid for jid in range(job0, job1) for sid in snapshot["jobs"].get(jid, [])}
    task_ms = shuffle = spill = 0
    for sid in sids:
        m = snapshot["stages"].get(sid)
        if m:
            task_ms += m["executorRunTime"]
            shuffle += m["shuffleReadBytes"] + m["shuffleWriteBytes"]
            spill += m["memoryBytesSpilled"] + m["diskBytesSpilled"]
    return {"task_s": task_ms / 1000.0, "shuffle_bytes": shuffle, "spill_bytes": spill}


class StreamProbe(StreamingQueryListener):
    """Keeps stream progress events; ``wait_idle`` blocks until every
    started stream has reported termination."""

    def __init__(self):
        self.started = 0
        self.terminated = 0
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event):
        p = event.progress
        with self._lock:
            self.progress.append({"durationMs": dict(p.durationMs),
                                  "numInputRows": int(p.numInputRows)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated += 1

    def wait_idle(self, timeout_s: float = 5.0) -> None:
        deadline = time.monotonic() + timeout_s
        while self.terminated < self.started and time.monotonic() < deadline:
            time.sleep(0.02)

    def drain(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out
