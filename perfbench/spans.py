"""Tracing for the benchmark's traced run, kept entirely in the
benchmark's own files.

- :class:`Tracer` records spans (name, start, end, parent) in memory. A span
  tags the Spark jobs its thread submits with ``setJobGroup(name)`` and
  counts the py4j round-trips its thread makes, so the engine's work is
  attributed to the innermost open span.
- :class:`SourceProxy` / :class:`TargetProxy` wrap the client objects handed
  to ``SyncClient.sync``. The sync protocol accepts any object, so the
  proxies time each protocol call without touching the program. A target
  proxy opens its span inside the call, on the fan-out thread the program
  runs it on.
- :func:`spark_jobs` reads Spark's own status store once, after the run.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass

#: Spark job-group value for jobs run outside any span
UNTRACED = "-"


@dataclass(frozen=True)
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float


class Tracer:
    """Spans plus per-span py4j call counts. A disabled tracer's
    :meth:`span` does nothing, so timed code reads the same either way."""

    def __init__(self, spark=None, enabled: bool = False):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.py4j_calls: Counter = Counter()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._stacks: dict[int, list[tuple[int, str]]] = defaultdict(list)
        self._main = threading.main_thread().ident
        self._quiet = threading.local()
        self._client = self._send = None
        if enabled and spark is not None:
            self._install_py4j_counter()

    # -- spans -------------------------------------------------------------

    def _stack(self) -> list:
        return self._stacks[threading.get_ident()]

    def current(self) -> tuple[int, str] | None:
        """Innermost open span of this thread; a worker thread with no span
        of its own falls back to the main thread's innermost span."""
        stack = self._stack() or self._stacks.get(self._main) or []
        return stack[-1] if stack else None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self.current()
        sid = next(self._ids)
        stack = self._stack()
        stack.append((sid, name))
        self._set_job_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            self._set_job_group(stack[-1][1] if stack else None)
            with self._lock:
                self.spans.append(Span(sid, name, parent[0] if parent else None, start, end))

    def timed(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    # -- engine hooks ------------------------------------------------------

    @contextmanager
    def quiet(self):
        """Make py4j calls that the tracer itself needs without counting them."""
        self._quiet.on = True
        try:
            yield
        finally:
            self._quiet.on = False

    def _set_job_group(self, name: str | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        with self.quiet():
            if name is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            else:
                sc.setJobGroup(name, name)

    def _install_py4j_counter(self) -> None:
        from py4j.protocol import MEMORY_COMMAND_NAME

        client = self.spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(command, *args, **kwargs):
            # object releases follow Python's garbage collector, not the
            # program's calls, so they are left out
            if not getattr(self._quiet, "on", False) and not command.startswith(
                MEMORY_COMMAND_NAME
            ):
                cur = self.current()
                with self._lock:
                    self.py4j_calls[cur[1] if cur else UNTRACED] += 1
            return send(command, *args, **kwargs)

        self._client, self._send = client, send
        client.send_command = counted

    def close(self) -> None:
        """Remove the py4j counter."""
        if self._client is not None:
            self._client.send_command = self._send
            self._client = None


class SourceProxy:
    """A ``SourceClient`` that times each protocol call under ``sync.*``."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._t = inner, tracer

    def current_snapshot(self):
        return self._t.timed("sync.source.snapshot", self._inner.current_snapshot)

    def is_incremental_sync_safe_from(self, millis):
        return self._t.timed(
            "sync.safety_check", self._inner.is_incremental_sync_safe_from, millis
        )

    def inflight_instants(self, millis, pending):
        return self._t.timed(
            "sync.source.inflight", self._inner.inflight_instants, millis, pending
        )

    def changes_since(self, millis, pending):
        # a generator: time each step, the sync applies targets in between
        it = iter(self._inner.changes_since(millis, pending))
        while True:
            with self._t.span("sync.source.changes"):
                change = next(it, None)
            if change is None:
                return
            yield change


class TargetProxy:
    """A ``TargetClient`` that times each protocol call. The apply span is
    named after the target's format: ``sync.target.<format>.apply``."""

    def __init__(self, inner, tracer: Tracer):
        self._inner, self._t = inner, tracer
        self.table_format = inner.table_format
        self._apply = f"sync.target.{str(inner.table_format.value).lower()}.apply"

    def get_sync_metadata(self):
        return self._t.timed("sync.watermark", self._inner.get_sync_metadata)

    def sync_snapshot(self, snapshot, metadata):
        return self._t.timed(self._apply, self._inner.sync_snapshot, snapshot, metadata)

    def sync_change(self, change, metadata):
        return self._t.timed(self._apply, self._inner.sync_change, change, metadata)


def spark_jobs(spark) -> list[dict]:
    """Every job Spark still holds, joined with its stages: group, tasks,
    submission and completion time (epoch seconds), executor CPU seconds and
    shuffle bytes written. Read as two JSON documents, through the writer
    Spark's own REST API uses, rather than field by field over py4j."""
    jvm = spark._jvm
    store = spark.sparkContext._jsc.sc().statusStore()
    mapper = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(
        mapper.writeValueAsString(
            store.stageList(
                None,
                False,
                False,
                getattr(store, "stageList$default$4")(),
                getattr(store, "stageList$default$5")(),
            )
        )
    )
    by_stage: dict[int, dict] = {}
    for st in stages:
        agg = by_stage.setdefault(st["stageId"], {"cpu_ns": 0, "shuffle": 0})
        agg["cpu_ns"] += st.get("executorCpuTime", 0)
        agg["shuffle"] += st.get("shuffleWriteBytes", 0)
    out = []
    for j in jobs:
        sids = j.get("stageIds", [])
        out.append(
            {
                "id": j["jobId"],
                "group": j.get("jobGroup") or UNTRACED,
                "tasks": j.get("numTasks", 0),
                "start": _epoch(j.get("submissionTime")),
                "end": _epoch(j.get("completionTime")),
                "executor_cpu_s": sum(by_stage.get(s, {}).get("cpu_ns", 0) for s in sids) / 1e9,
                "shuffle_bytes": sum(by_stage.get(s, {}).get("shuffle", 0) for s in sids),
            }
        )
    return out


def _epoch(stamp) -> float | None:
    """Spark's REST dates (``2026-01-02T03:04:05.678GMT``) as epoch seconds."""
    if not stamp:
        return None
    from datetime import datetime, timezone

    dt = datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()
