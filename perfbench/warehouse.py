"""``warehouse_queries``: one analyst running the catalog's marts.

A closed loop with one client over a generated TPC-H-shaped warehouse
(the ``sources.tables`` schemas at about the size of the sf0.01 fixture,
fixed across seeds). The mix is every ``parity`` catalog entry that
aggregates (the marts) plus one ``llm`` entry per family (dedup,
similarity probe, text quality); the seed sets the query order of each
pass. Set-up ends with one untimed pass, so the timed loop measures warm
queries: passes back to back until ``--seconds`` have passed. Each
query's warm-up result is compared with its DuckDB oracle after the
timed loop.
The workload loads ``plans`` / ``operators`` / ``functions`` /
``sources.tables`` and never touches ``streaming`` or ``sinks``.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from . import common as C

LLM_PICKS = ("line_dedup", "knn_sq8", "gopher_quality")
DATA_SEED = 42
NAMES = {
    "region": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    "segment": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
    "priority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
    "ptype": ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
    "pword1": ["blue", "cold", "hot", "large", "new", "old", "red", "small"],
    "pword2": ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"],
    "event": ["click", "error", "purchase", "signup", "view"],
    "lang": ["en", "en", "en", "zh", "es", "de", "fr"],
    "words": ("a agg batch big column customer data dup fast filter group hash join key "
              "line merge order part query row scan slow small sort spark stream table "
              "the value vector window").split(),
}


def _money(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _days(rng, start: dt.datetime, span_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_tables(out_dir: str, seed: int = DATA_SEED) -> None:
    """The ten ``sources.tables`` tables, same column names and types as
    the repo's fixtures (timestamps naive microseconds)."""
    rng = np.random.default_rng(seed)
    pick = lambda k, n: np.array(NAMES[k])[rng.integers(0, len(NAMES[k]), n)]  # noqa: E731
    n_cust, n_ord, n_line, n_part, n_supp, n_ev, n_doc, n_vec = (
        1500, 15000, 60000, 2000, 100, 10000, 500, 500)
    odate = _days(rng, dt.datetime(1995, 1, 1), 2404, n_ord)
    l_order = rng.integers(0, n_ord, n_line)
    docs = []
    for i in range(n_doc):
        lines = []
        for _ in range(int(rng.integers(1, 4))):
            if lines and rng.random() < 0.2:
                lines.append(lines[0])  # repeated lines for the dedup entries
            else:
                lines.append(" ".join(pick("words", int(rng.integers(8, 40)))))
        docs.append("\n".join(lines))
    emb = rng.standard_normal((n_vec, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": NAMES["region"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": pick("segment", n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(pick("pword1", n_part), pick("pword2", n_part))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": pick("ptype", n_part),
                 "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": _money(rng, 900, 999.9, n_part)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   # every 10th customer never orders
                   "o_custkey": rng.integers(0, n_cust // 10, n_ord) * 10 + rng.integers(1, 10, n_ord),
                   "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
                   "o_totalprice": _money(rng, 1000, 500000, n_ord),
                   "o_orderdate": odate,
                   "o_orderpriority": pick("priority", n_ord)},
        "lineitem": {"l_orderkey": l_order,
                     "l_partkey": rng.integers(0, n_part, n_line),
                     "l_suppkey": rng.integers(0, n_supp, n_line),
                     "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                     "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 105000, n_line),
                     "l_discount": rng.integers(0, 11, n_line) / 100.0,
                     "l_tax": rng.integers(0, 9, n_line) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
                     "l_shipdate": odate[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")},
        "events": {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.datetime64("2024-01-01", "us")
                   + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
                   "user_id": rng.integers(0, 150, n_ev),
                   "event_type": pick("event", n_ev),
                   "value": _money(rng, 0.01, 490.02, n_ev),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        "documents": {"doc_id": np.arange(n_doc, dtype=np.int64), "text": docs,
                      "lang": pick("lang", n_doc),
                      "source": [f"src{i % 20}" for i in range(n_doc)],
                      "n_chars": np.array([len(t) for t in docs], dtype=np.int64)},
        "embeddings": {"vec_id": np.arange(n_vec, dtype=np.int64),
                       "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
                       "label": (np.arange(n_vec) % 10).astype(np.int32)},
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def mix(registry) -> list[str]:
    """The marts (parity entries that aggregate) plus the llm picks."""
    marts = sorted(n for n, q in registry.items() if {"parity", "agg"} <= set(q.tags))
    return marts + list(LLM_PICKS)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(repr)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def matches(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same rows, columns and values, order-insensitive and exact."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    try:
        pd.testing.assert_frame_equal(canon(got), canon(want), check_dtype=False,
                                      check_exact=True)
    except AssertionError:
        return False
    return True


def main(ctx) -> dict:
    from sparkstreaming_gmall_scala_spark.plans.catalog import load_all
    from sparkstreaming_gmall_scala_spark.sources.tables import TABLES

    tracer = ctx.tracer
    span = tracer.span if tracer else C.no_span
    t0 = time.time()
    with span("session.start"):
        spark = C.new_spark("perfbench-warehouse",
                            extra=tracer.spark_conf(ctx.sandbox) if tracer else None)
    session_s = time.time() - t0
    data = ctx.sandbox.fresh("warehouse")
    write_tables(data)
    registry = load_all()
    names = mix(registry)
    rng = random.Random(ctx.seed)
    first: dict[str, pd.DataFrame] = {}
    errors: dict[str, str] = {}

    def run_query(name: str) -> tuple[float, pd.DataFrame | None]:
        q0 = time.time()
        try:
            with span("plans.build", name):
                df = registry[name].builder(spark, data)
            with span(f"plans.{'llm' if name in LLM_PICKS else 'parity'}.exec", name):
                out = df.toPandas()
        except Exception as e:  # a failed query counts, the loop goes on
            errors[name] = repr(e)[:200]
            return 0.0, None
        return time.time() - q0, out

    def passes():
        """Query names pass after pass, each pass in a seeded order."""
        while True:
            order = [n for n in names if n not in errors]
            if not order:
                return
            rng.shuffle(order)
            yield from order

    # Set-up ends with a warm-up pass: every query once (cold code
    # generation), four at a time, keeping the results the oracle check
    # compares after the timed loop.
    with ThreadPoolExecutor(4) as pool:
        for name, (_, out) in zip(names, pool.map(run_query, names)):
            if out is not None:
                first[name] = out
    setup_s = time.time() - t0
    lat: dict[str, list[float]] = {n: [] for n in names}
    start = time.time()
    # back to back until --seconds have passed; the query running then
    # finishes and counts
    for name in passes():
        if time.time() - start >= ctx.seconds:
            break
        t, out = run_query(name)
        if out is not None:
            lat[name].append(t)
    loop_s = time.time() - start
    C.stop_spark(spark)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    for name, got in first.items():
        oracle = registry[name].oracle
        if oracle is not None and not matches(got, con.execute(oracle).fetchdf()):
            errors[name] = "result differs from the DuckDB oracle"
    con.close()

    samples = [v for vs in lat.values() for v in vs]
    attempted = len(samples) + len(errors)
    # The tail is taken across the mix: each query's median over its timed
    # runs, then the 90th percentile of those, so one slow run of one query
    # does not set it; a run has too few samples for a 90th percentile of
    # the samples themselves.
    typical = [statistics.median(vs) for vs in lat.values() if vs]
    deciles = statistics.quantiles(typical, n=10)
    print(f"warehouse_queries: session {session_s:.1f}s setup {setup_s:.1f}s loop {loop_s:.1f}s "
          f"{len(samples)} queries, errors {errors}", file=sys.stderr)
    metrics = {
        "setup_s": setup_s,
        "latency_p50_s": statistics.median(samples),
        "latency_p90_s": deciles[8],
        # the mix's rate: its queries over the sum of their medians
        "throughput_per_s": len(typical) / sum(typical),
        "peak_rss_mb": ctx.rss.close(),
    }
    if tracer:
        # per-layer numbers cover the timed passes only
        spans = tracer.totals(since=start)
        spark_totals = tracer.spark_totals(since=start)
        traced = {f"traced.{k}": v for k, v in metrics.items()}
        metrics = {
            "session.start_s": session_s,
            "plans.build_s": spans.get("plans.build", (0.0,))[0],
            "plans.parity.exec_s": spans.get("plans.parity.exec", (0.0,))[0],
            "plans.llm.exec_s": spans.get("plans.llm.exec", (0.0,))[0],
            "spark.jobs_per_query": spark_totals.pop("spark.jobs") / len(samples),
            "e2e.latency_samples": len(samples),
            **spark_totals, **traced,
        }
        metrics["plans.exec_s"] = metrics["plans.parity.exec_s"] + metrics["plans.llm.exec_s"]
    return C.result(len(errors), attempted, metrics, trace=bool(tracer))
