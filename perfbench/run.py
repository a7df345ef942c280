"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Prints one JSON object as the last line of stdout: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). Diagnostics go
to stderr. Exits 2 when the engine package is not next to ``perfbench/``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common as C  # noqa: E402
from perfbench import order_stream, warehouse  # noqa: E402

WORKLOADS = {"order_stream": order_stream.main, "warehouse_queries": warehouse.main}
DEADLINE_S = 165
TRACE_DIR = os.path.join(C.REPO, ".perfbench_traces")


class Ctx:
    """What a workload gets: seed, measuring time, the run's sandbox, the
    memory sampler and, for ``--trace 1``, the tracer."""

    def __init__(self, args, sandbox, rss, tracer) -> None:
        self.seed, self.seconds = args.seed, args.seconds
        self.sandbox, self.rss, self.tracer = sandbox, rss, tracer
        # waits give up (and the run fails) rather than overrun the
        # 180 s a run may take
        self.deadline = time.time() + DEADLINE_S

    def time_left(self) -> float:
        return self.deadline - time.time()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if importlib.util.find_spec("sparkstreaming_gmall_scala_spark") is None:
        print("perfbench: sparkstreaming_gmall_scala_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    sandbox = C.Sandbox()  # sets the env the engine reads at import
    try:
        rss = C.RssSampler()
        tracer = None
        if args.trace:
            from perfbench import trace

            tracer = trace.Tracer()
        result = WORKLOADS[args.workload](Ctx(args, sandbox, rss, tracer))
        if tracer:
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.dump(os.path.join(TRACE_DIR, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        if "pyspark" in sys.modules:
            C.stop_jvm()
        sandbox.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
