"""``--trace 1``: spans around the benchmark's calls into the engine.

Spans are ``(name, start, end, parent, request)`` kept in memory and
written out at the end. The request id is the micro-batch id for
streaming bodies and sink calls, the query name for catalog queries.
Streaming bodies run on py4j callback threads, so the open-span stack is
per thread. While installed, the tracer wraps, from the benchmark's side
and only in this process:

- every ``foreachBatch`` body a stage registers (``streaming.<stage>.body``;
  the stage is the one being started when the body is registered),
- the ``sinks.batch`` writers the workloads reach
  (``IdempotentBatchWriter``, ``upsert_parquet``).

The engine's code is not changed. Spark's own event log (jobs, tasks,
shuffle and spill) is switched on through ``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[str, float, float, int | None, str]] = []
        self.event_log_dir: str | None = None
        self.progress: dict[str, list[dict]] = {}  # stage -> progress reports
        self._lock = threading.Lock()
        self._local = threading.local()
        self._stage: str | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- spans --------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, request: str = ""):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.time(), 0.0, parent, request))
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            with self._lock:
                n, t0, _, p, r = self.spans[idx]
                self.spans[idx] = (n, t0, time.time(), p, r)

    def wrap(self, name: str, fn, request_arg: int):
        def traced(*args, **kw):
            with self.span(name, str(args[request_arg]) if len(args) > request_arg else ""):
                return fn(*args, **kw)
        return traced

    def totals(self, since: float = 0.0) -> dict[str, tuple[float, float, int]]:
        """name -> (total duration, total self time, count) over the spans
        that start at or after ``since``; self time is a span's duration
        minus the time its direct children cover."""
        with self._lock:
            spans = list(self.spans)
        child = [0.0] * len(spans)
        for _, t0, t1, p, _ in spans:
            if p is not None:
                child[p] += t1 - t0
        out: dict[str, list] = {}
        for i, (n, t0, t1, _, _) in enumerate(spans):
            if t0 < since:
                continue
            a = out.setdefault(n, [0.0, 0.0, 0])
            a[0] += t1 - t0
            a[1] += t1 - t0 - child[i]
            a[2] += 1
        return {k: (v[0], v[1], v[2]) for k, v in out.items()}

    def dump(self, path: str) -> None:
        """Spans, then every recorded streaming progress report, one JSON
        record per line."""
        with open(path, "w") as fh:
            for name, t0, t1, parent, request in self.spans:
                fh.write(json.dumps({"span": name, "start": t0, "end": t1,
                                     "parent": parent, "request": request}) + "\n")
            for stage, reports in self.progress.items():
                for p in reports:
                    fh.write(json.dumps({"stage": stage, "progress": p}) + "\n")

    # -- Spark event log ----------------------------------------------------

    def spark_conf(self, sandbox) -> dict[str, str]:
        self.event_log_dir = sandbox.fresh("eventlog")
        return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": self.event_log_dir,
                "spark.eventLog.rolling.enabled": "false", "spark.eventLog.compress": "false"}

    def spark_totals(self, since: float = 0.0) -> dict[str, float]:
        """Jobs, tasks, shuffle bytes written and bytes spilled, from the
        event log records at or after ``since``."""
        since_ms = since * 1000
        jobs = tasks = shuffle = spill = 0
        files = [os.path.join(r, f) for r, _, fs in os.walk(self.event_log_dir) for f in fs]
        for f in files:
            with open(f) as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        jobs += json.loads(line)["Submission Time"] >= since_ms
                    elif '"SparkListenerTaskEnd"' in line:
                        e = json.loads(line)
                        if e["Task Info"]["Launch Time"] < since_ms:
                            continue
                        tm = e.get("Task Metrics") or {}
                        tasks += 1
                        shuffle += (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                        spill += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        return {"spark.jobs": jobs, "spark.tasks": tasks,
                "spark.shuffle_bytes": shuffle, "spark.spill_bytes": spill}

    # -- wrapping the engine's entry points ---------------------------------

    @contextlib.contextmanager
    def stage(self, name: str):
        """Bodies registered inside this block are traced as ``name``."""
        self._stage = name
        try:
            yield
        finally:
            self._stage = None

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from sparkstreaming_gmall_scala_spark.sinks import batch as B
        from sparkstreaming_gmall_scala_spark.streaming import pipelines as P

        tracer = self
        register = DataStreamWriter.foreachBatch

        def foreachBatch(writer, func):
            if tracer._stage is not None:
                func = tracer.wrap(f"streaming.{tracer._stage}.body", func, 1)
            return register(writer, func)

        self._patch(DataStreamWriter, "foreachBatch", foreachBatch)
        self._patch(B.IdempotentBatchWriter, "__call__",
                    self.wrap("sinks.batch_write", B.IdempotentBatchWriter.__call__, 2))
        upsert = self.wrap("sinks.upsert", B.upsert_parquet, 99)
        self._patch(B, "upsert_parquet", upsert)
        self._patch(P, "upsert_parquet", upsert)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)
