"""Shared plumbing: per-run sandbox, Spark session, memory sampling, the
generator process, statistics, streaming lineage and the metric list."""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
import uuid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# The workloads' data and state are a few MB; a small fixed heap keeps
# peak memory from tracking GC timing (the engine defaults to 16g).
DRIVER_MEM = "1g"


class Sandbox:
    """Fresh TMPDIR, Spark local dir, warehouse and data root for one run,
    all inside the checkout and all removed on close, so nothing a
    previous run left under a shared temp dir can read as a cache hit."""

    def __init__(self) -> None:
        self.root = os.path.join(REPO, ".perfbench_runs", uuid.uuid4().hex)
        self.tmp = os.path.join(self.root, "tmp")
        self.local = os.path.join(self.root, "local")
        for d in (self.tmp, self.local):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # no hsperfdata file under the system /tmp either
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new empty directory (one per set-up attempt or phase)."""
        self._n += 1
        d = os.path.join(self.root, f"{self._n:03d}-{name}")
        os.makedirs(d)
        return d

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(self.root))


def new_spark(app: str, cores: int | None = None, extra: dict[str, str] | None = None):
    """``session.get_spark`` with the run's local dirs; ``cores`` pins a
    smaller ``local[n]`` (the single-thread baseline)."""
    from sparkstreaming_gmall_scala_spark.session import get_spark

    conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"], **(extra or {})}
    if cores is None:
        return get_spark(app, extra_conf=conf)
    return get_spark(app, master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf)


def stop_spark(spark) -> None:
    for q in spark.streams.active:
        with contextlib.suppress(Exception):
            q.stop()
    spark.stop()


def stop_jvm() -> None:
    """End the JVM pyspark launched (it exits when its stdin closes, and
    its Python workers with it), then wait for every process this run
    started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 20
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    """parent pid -> child pids, for every process on the host."""
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak resident memory of this process plus its descendants (the
    JVM and its Python workers), sampled every 0.5 s; ``exclude`` drops
    the generator processes, which are not part of the system. Each
    process counts its proportional set size, so pages the forked Python
    workers share are counted once."""

    def __init__(self) -> None:
        self.peak_kb = 0
        self.exclude: set[int] = set()
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)
        self._t.start()

    def sample(self) -> None:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(0.5):
            self.sample()

    def close(self) -> float:
        self._stop.set()
        self._t.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# generator process
# ---------------------------------------------------------------------------

class Generator:
    """One generator process per phase; see gen.py."""

    def __init__(self, sandbox: Sandbox, rss: RssSampler, spec: dict) -> None:
        self.spec = dict(spec)
        path = os.path.join(sandbox.fresh("genspec"), "spec.json")
        with open(path, "w") as fh:
            json.dump(self.spec, fh)
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(REPO, "perfbench", "gen.py"), path])
        rss.exclude.add(self.proc.pid)

    def wait(self, timeout: float) -> None:
        try:
            rc = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.kill()
            raise RuntimeError("generator overran its schedule") from None
        if rc != 0:
            raise RuntimeError(f"generator exited {rc}")

    def kill(self) -> None:
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


def read_manifest(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh]


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100)."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    return float(v[max(0, math.ceil(q / 100.0 * len(v)) - 1)])


# ---------------------------------------------------------------------------
# streaming progress and lineage
# ---------------------------------------------------------------------------

def progress_listener(spark):
    """Register a listener that keeps every ``StreamingQueryProgress``
    (as a dict) per query id, with a running count of input rows."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self) -> None:
            self.by_query: dict[str, list[dict]] = {}
            self.rows: dict[str, int] = {}
            self._lock = threading.Lock()

        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = json.loads(event.progress.json)
            with self._lock:
                self.by_query.setdefault(p["id"], []).append(p)
                self.rows[p["id"]] = self.rows.get(p["id"], 0) + p["numInputRows"]

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

        def of(self, query) -> list[dict]:
            with self._lock:
                return list(self.by_query.get(str(query.id), []))

        def input_rows(self, query) -> int:
            with self._lock:
                return self.rows.get(str(query.id), 0)

    log = ProgressLog()
    spark.streams.addListener(log)
    return log


def parse_ts(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


def batch_end_times(prog: list[dict]) -> dict[int, float]:
    """batch id -> wall time its trigger finished (sink written and
    offsets committed), from the progress reports."""
    out = {}
    for p in prog:
        if p.get("numInputRows", 0) or p["durationMs"].get("addBatch"):
            out[p["batchId"]] = parse_ts(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0
    return out


def source_files(checkpoint: str, source: int = 0) -> dict[str, int]:
    """file basename -> source batch id, for every file the query's file
    source read, from the metadata log in its checkpoint (compacted logs
    included; Spark part-file names carry a per-write UUID, so basenames
    are unique). The source's batch ids follow the query's only while the
    query runs no batch without new files, true of a stateless query such
    as the ADS stage."""
    out = {}
    for f in glob.glob(os.path.join(checkpoint, "sources", str(source), "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def wait_until(pred, timeout: float, what: str, poll: float = 0.05) -> float:
    """Poll ``pred`` until true; return the time it first held."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return time.time()
        time.sleep(poll)
    raise TimeoutError(f"timed out waiting for {what}")


def check_queries(queries) -> None:
    for q in queries:
        if q.exception() is not None:
            raise RuntimeError(f"streaming query failed: {q.exception()}")


def no_span(name: str, request: str = ""):
    return contextlib.nullcontext()


# ---------------------------------------------------------------------------
# metric catalogue (BENCHMARK.json lists the same names; test_gen.py checks)
# ---------------------------------------------------------------------------

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}

STREAM_STAGES = ("order_info", "order_detail", "order_wide", "allocation", "trademark_stat")


def _per_layer() -> dict[str, tuple[str, str]]:
    m: dict[str, tuple[str, str]] = {}
    for s in STREAM_STAGES:
        m[f"streaming.{s}.add_batch_ms"] = ("ms", "lower")
        m[f"streaming.{s}.busy_share"] = ("share", "lower")
        m[f"streaming.{s}.body_s"] = ("s", "lower")
        m[f"streaming.{s}.planning_ms"] = ("ms", "lower")
        m[f"streaming.{s}.commit_ms"] = ("ms", "lower")
        m[f"operators.{s}.self_s"] = ("s", "lower")
    for s in ("order_wide", "allocation"):
        m[f"streaming.{s}.state_rows"] = ("count", "lower")
        m[f"streaming.{s}.state_bytes"] = ("bytes", "lower")
        m[f"streaming.{s}.late_rows_dropped"] = ("count", "lower")
    m.update({
        "sources.latest_offset_ms": ("ms", "lower"),
        "sources.get_batch_ms": ("ms", "lower"),
        "sources.input_rows": ("count", "higher"),
        "sinks.batch_write_s": ("s", "lower"),
        "sinks.rows_written": ("count", "higher"),
        "sinks.upsert_s": ("s", "lower"),
        "sinks.dim_rows": ("count", "higher"),
        "sinks.bytes_written": ("bytes", "lower"),
        "spark.jobs_per_batch": ("count", "lower"),
        "spark.jobs_per_query": ("count", "lower"),
        "spark.tasks": ("count", "lower"),
        "spark.shuffle_bytes": ("bytes", "lower"),
        "spark.spill_bytes": ("bytes", "lower"),
        "plans.build_s": ("s", "lower"),
        "plans.exec_s": ("s", "lower"),
        "plans.parity.exec_s": ("s", "lower"),
        "plans.llm.exec_s": ("s", "lower"),
        "session.start_s": ("s", "lower"),
        "gen.lag_p99_s": ("s", "lower"),
        "gen.events": ("count", "higher"),
        "e2e.latency_samples": ("count", "higher"),
        "order_stream.drain_eps_1core": ("1/s", "higher"),
        "order_stream.drain_speedup": ("x", "higher"),
    })
    for k, u in END_TO_END.items():
        m[f"traced.{k}"] = (u, "higher" if k == "throughput_per_s" else "lower")
    return m


PER_LAYER = _per_layer()


def result(failed: int, attempted: int, metrics: dict[str, float], trace: bool) -> dict:
    """The benchmark's JSON line: every end-to-end metric, or with
    ``trace`` every per-layer metric (0 where the workload never enters
    that layer)."""
    if trace:
        units = {k: u for k, (u, _) in PER_LAYER.items()}
        values = {k: float(metrics.get(k, 0.0)) for k in units}
    else:
        units = END_TO_END
        values = {k: float(metrics[k]) for k in units}
    return {"correct": failed == 0, "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
