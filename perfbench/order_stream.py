"""``order_stream``: the reference's fact path as five chained streams.

order headers ─► order_info (first-order flag + user_status state +
                 province/user dim enrichment)            ─┐
order details ─► order_detail (sku dim enrichment)        ─┴► order_wide
(stream-stream join, 20 s horizon) ─► allocation (stateful, per order)
─► trademark_stat (ADS revenue per trademark, exactly-once sink)

Each stage's sink directory is the next stage's source and every query
uses the default as-soon-as-possible trigger. A run stages a fixed
backlog, starts the queries and times how fast the freshly started chain
drains it (the catch-up after a restart); once every stage is idle, the
generator feeds the two input directories on a fixed schedule (an open
loop).
"""

from __future__ import annotations

import contextlib
import math
import os
import sys
import time

import duckdb
import pyarrow as pa

from . import common as C
from . import gen

# One orders file and one details file per tick. Every stage pays a few
# seconds of fixed work per micro-batch, so with ticks much shorter than
# this the five stages keep all cores busy and queue behind each other,
# and freshness then follows the stages' cycles more than the program.
INTERVAL = 8.0
ORDERS_PER_TICK = 320  # offered rate 40 orders/s, ~100 details/s
BACKLOG_TICKS, BACKLOG_PER_TICK = 2, 400  # 800 orders, ~2 000 details
N_USERS, N_SKUS = 20_000, 2_000
ALL_FILES = 1_000_000  # maxFilesPerTrigger for stages fed by sink dirs


def batches(sink_dir: str) -> str:
    """Source path for a stage fed by an ``IdempotentBatchWriter`` dir:
    the glob keeps the file source from discovering ``batch_id`` as a
    partition column the stage's schema does not have."""
    return os.path.join(sink_dir, "batch_id=*")
STAGES = C.STREAM_STAGES
INPUTS = ("orders", "details")


def _schemas():
    from pyspark.sql import types as T

    from sparkstreaming_gmall_scala_spark.streaming import pipelines as P

    money = T.DoubleType()
    order_in = T.StructType(
        list(P.ORDER_INFO_SCHEMA.fields)
        + [T.StructField("original_total", money), T.StructField("final_total", money)]
    )
    wide_orders = T.StructType([
        T.StructField("order_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("original_total", money),
        T.StructField("final_total", money),
    ])
    wide_details = T.StructType([
        T.StructField("detail_id", T.LongType()),
        T.StructField("order_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("amount", money),
        T.StructField("tm_id", T.LongType()),
        T.StructField("tm_name", T.StringType()),
    ])
    alloc_in = T.StructType(list(P.ALLOC_SCHEMA.fields) + [
        T.StructField("tm_id", T.LongType()),
        T.StructField("tm_name", T.StringType()),
    ])
    return order_in, wide_orders, wide_details, alloc_in


ALLOC_OUT = (("tm_id", "bigint"), ("tm_name", "string"), ("amount", "double"),
             ("order_id", "bigint"), ("detail_id", "bigint"))


def _empty(schema) -> pa.Table:
    """A zero-row table with ``schema`` (a StructType or (name, type)
    pairs)."""
    types = {"bigint": pa.int64(), "double": pa.float64(), "string": pa.string(),
             "timestamp": gen.TS}
    fields = schema if isinstance(schema, tuple) else [
        (f.name, f.dataType.simpleString()) for f in schema.fields]
    return pa.table({n: pa.array([], types[t]) for n, t in fields})


class Chain:
    """Pre-seeded dims, directories and the five running queries."""

    def __init__(self, spark, root: str, seed: int) -> None:
        self.spark, self.root, self.seed = spark, root, seed
        d = self.dirs = {n: os.path.join(root, n) for n in (
            "orders", "details", "province", "user", "sku", "user_status",
            "dwd_info", "dwd_detail", "dws_wide", "dws_alloc", "ads")}
        for n in d:
            os.makedirs(d[n])
        self.manifest = os.path.join(root, "manifest.jsonl")
        for name, table in (
            ("province", gen.province_dim()),
            ("user", gen.user_dim(seed, N_USERS)),
            ("sku", gen.sku_dim(seed, N_SKUS)),
        ):
            gen.write_atomic(table, os.path.join(d[name], "seed.parquet"))
        self.queries = {}

    def start(self, tracer=None) -> None:
        from pyspark.sql import functions as F

        from sparkstreaming_gmall_scala_spark.sinks.batch import IdempotentBatchWriter
        from sparkstreaming_gmall_scala_spark.streaming import pipelines as P
        from sparkstreaming_gmall_scala_spark.streaming.allocation import allocate_stateful
        from sparkstreaming_gmall_scala_spark.streaming.join import windowed_equi_join
        from sparkstreaming_gmall_scala_spark.streaming.sources import file_stream

        spark, d = self.spark, self.dirs
        order_in, wide_orders, wide_details, alloc_in = _schemas()
        # An empty committed batch in each intermediate sink lets every
        # stage run its first (cold) micro-batch at once instead of one
        # after another as the first data reaches it.
        for sink, schema in (("dwd_info", wide_orders), ("dwd_detail", wide_details),
                             ("dws_wide", alloc_in), ("dws_alloc", ALLOC_OUT)):
            os.makedirs(os.path.join(d[sink], "batch_id=-1"))
            gen.write_atomic(_empty(schema), os.path.join(d[sink], "batch_id=-1", "empty.parquet"))
        ck = lambda s: os.path.join(self.root, "ckpt", s)  # noqa: E731
        stage = tracer.stage if tracer else (lambda s: contextlib.nullcontext())
        q = self.queries

        with stage("order_info"):
            body = P.order_info_batch(
                spark, d["user_status"], IdempotentBatchWriter(d["dwd_info"]),
                dim_dirs=((d["province"], "province_id", "province_id"),
                          (d["user"], "user_id", "user_id")))
            q["order_info"] = (
                file_stream(spark, d["orders"], order_in, max_files_per_trigger=ALL_FILES)
                .writeStream
                .foreachBatch(body).option("checkpointLocation", ck("order_info"))
                .outputMode("append").start())
        with stage("order_detail"):
            q["order_detail"] = P.order_detail_pipeline(
                spark, d["details"], d["sku"], d["dwd_detail"], ck("order_detail"))
        with stage("order_wide"):
            wide = windowed_equi_join(
                file_stream(spark, batches(d["dwd_info"]), wide_orders, max_files_per_trigger=ALL_FILES),
                file_stream(spark, batches(d["dwd_detail"]), wide_details, max_files_per_trigger=ALL_FILES),
                left_key="order_id", right_key="order_id", horizon="20 seconds",
            ).select(
                F.col("l.order_id").alias("order_id"),
                F.col("r.detail_id").alias("detail_id"),
                F.col("r.ts").alias("ts"),
                F.col("r.amount").alias("amount"),
                F.col("l.original_total").alias("original_total"),
                F.col("l.final_total").alias("final_total"),
                F.col("r.tm_id").alias("tm_id"),
                F.col("r.tm_name").alias("tm_name"),
            )
            q["order_wide"] = (
                wide.writeStream.foreachBatch(IdempotentBatchWriter(d["dws_wide"]))
                .option("checkpointLocation", ck("order_wide"))
                .outputMode("append").start())
        with stage("allocation"):
            alloc_sink = IdempotentBatchWriter(d["dws_alloc"])

            def allocated_with_trademark(batch_df, batch_id):
                # allocate_stateful emits (order_id, detail_id, share);
                # the trademark the ADS stage groups by comes back from
                # the wide rows. One output file per batch: the ADS
                # pipeline's file source reads one file per trigger.
                tm = spark.read.schema(alloc_in).parquet(d["dws_wide"]).select(
                    "order_id", "detail_id", "tm_id", "tm_name")
                out = batch_df.join(tm, ["order_id", "detail_id"]).select(
                    *[n for n, _ in ALLOC_OUT[:2]],
                    F.col("final_detail_amount").alias("amount"),
                    *[n for n, _ in ALLOC_OUT[3:]])
                alloc_sink(out.coalesce(1), batch_id)

            q["allocation"] = (
                allocate_stateful(file_stream(spark, batches(d["dws_wide"]), alloc_in,
                                              max_files_per_trigger=ALL_FILES))
                .writeStream.foreachBatch(allocated_with_trademark)
                .option("checkpointLocation", ck("allocation"))
                .outputMode("append").start())
        with stage("trademark_stat"):
            q["trademark_stat"] = P.trademark_stat_pipeline(
                spark, batches(d["dws_alloc"]), d["ads"], ck("trademark_stat"))

    def generator(self, sandbox, rss, phase: str, n_ticks: int, per_tick: int,
                  schedule_interval: float):
        return C.Generator(sandbox, rss, {
            "seed": self.seed, "phase": phase,
            "n_ticks": n_ticks, "per_tick": per_tick, "n_users": N_USERS,
            "n_skus": N_SKUS, "interval": INTERVAL,
            "schedule_interval": schedule_interval, "manifest": self.manifest,
            "dirs": {s: self.dirs[s] for s in INPUTS},
        })

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()

    def await_details(self, log, expected: int, timeout: float) -> bool:
        """Wait until the ADS stage has consumed ``expected`` allocated
        rows (one per detail); False on timeout."""
        if timeout <= 0:
            return False
        ads = self.queries["trademark_stat"]
        try:
            C.wait_until(lambda: log.input_rows(ads) >= expected
                         or C.check_queries(self.queries.values()),
                         timeout, "the chain to commit every detail", poll=0.2)
            return True
        except TimeoutError:
            return False

    def quiesce(self, timeout: float) -> None:
        """Wait (at most ``timeout``) until no stage has a batch running or
        data waiting, twice in a row half a second apart, so the open loop
        starts from the same idle chain on every run (after the drain the
        stateful stages still run their watermark-driven no-data batches)."""
        def idle() -> bool:
            return all(not st["isTriggerActive"] and not st["isDataAvailable"]
                       for st in (q.status for q in self.queries.values()))

        deadline = time.time() + timeout
        while time.time() < deadline:
            if idle():
                time.sleep(0.5)
                if idle():
                    return
            time.sleep(0.2)


def run(ctx, cores: int | None = None, tracer=None, open_loop: bool = True) -> dict:
    """Set-up (session, dim pre-seed, query start) with a backlog already
    staged, the backlog drain, a wait for an idle chain, then the open
    loop for ``ctx.seconds``; returns everything ``analyse`` needs."""
    span = tracer.span if tracer else C.no_span
    t0 = time.time()
    with span("session.start"):
        spark = C.new_spark("perfbench-order_stream", cores=cores,
                            extra=tracer.spark_conf(ctx.sandbox) if tracer else None)
    session_s = time.time() - t0
    log = C.progress_listener(spark)
    chain = Chain(spark, ctx.sandbox.fresh("order_stream"), ctx.seed)
    setup_s = time.time() - t0
    expected = 0
    windows = {}

    def phase(name, n_ticks, per_tick, schedule_interval):
        nonlocal expected
        g = chain.generator(ctx.sandbox, ctx.rss, name, n_ticks, per_tick, schedule_interval)
        g.wait(n_ticks * schedule_interval + 30)
        man = [m for m in C.read_manifest(chain.manifest) if m["phase"] == name]
        expected += sum(m["events"]["details"] for m in man)
        return man[0]["due"]

    phase("backlog", BACKLOG_TICKS, BACKLOG_PER_TICK, 0)
    t1 = time.time()
    chain.start(tracer)
    setup_s += time.time() - t1
    ok = chain.await_details(log, expected, ctx.time_left() - 15)
    windows["backlog"] = (t1, time.time())
    if open_loop and ok:
        q0 = time.time()
        chain.quiesce(10)
        windows["quiesce"] = (q0, time.time())
        # events are due over ctx.seconds: tick k holds those of the
        # INTERVAL before its file is written
        due = phase("open", math.ceil(ctx.seconds / INTERVAL), ORDERS_PER_TICK, INTERVAL)
        ok = chain.await_details(log, expected, ctx.time_left() - 15)
        windows["open"] = (due, time.time())
    prog = {s: log.of(q) for s, q in chain.queries.items()}
    chain.stop()
    print(f"order_stream: cores {cores or 'all'} session {session_s:.1f}s setup {setup_s:.1f}s "
          + " ".join(f"{k} {b - a:.1f}s" for k, (a, b) in windows.items()), file=sys.stderr)
    return {"spark": spark, "chain": chain, "prog": prog, "setup_s": setup_s,
            "session_s": session_s, "ok": ok, "windows": windows}


def analyse(chain: Chain, prog: dict) -> dict:
    """Freshness per event from the chain's lineage, drain rate, and the
    correctness checks, all in DuckDB over the generated inputs and the
    committed outputs."""
    d = chain.dirs
    con = duckdb.connect()
    ads_end = C.batch_end_times(prog["trademark_stat"])
    src = C.source_files(os.path.join(chain.root, "ckpt", "trademark_stat"))
    con.execute("CREATE TABLE ads_file(f VARCHAR, t DOUBLE)")
    con.executemany("INSERT INTO ads_file VALUES (?, ?)",
                    [(f, ads_end[b]) for f, b in src.items() if b in ads_end])
    con.execute("CREATE TABLE due(phase VARCHAR, tick INT, due DOUBLE)")
    con.executemany("INSERT INTO due VALUES (?, ?, ?)",
                    [(m["phase"], m["tick"], m["due"]) for m in C.read_manifest(chain.manifest)])
    con.execute(f"""
        CREATE VIEW o AS SELECT *, split_part(parse_filename(filename, true), '-', 1) AS phase,
          CAST(split_part(parse_filename(filename, true), '-', 2) AS INT) AS tick
        FROM read_parquet('{d["orders"]}/*.parquet', filename=true);
        CREATE VIEW dt AS SELECT *, split_part(parse_filename(filename, true), '-', 1) AS phase,
          CAST(split_part(parse_filename(filename, true), '-', 2) AS INT) AS tick
        FROM read_parquet('{d["details"]}/*.parquet', filename=true);
        CREATE VIEW a AS SELECT * FROM read_parquet('{d["dws_alloc"]}/*/*.parquet', filename=true, union_by_name=true);
        CREATE VIEW i AS SELECT * FROM read_parquet('{d["dwd_info"]}/*/*.parquet', union_by_name=true);
        CREATE VIEW s AS SELECT * FROM read_parquet('{d["ads"]}/*/*.parquet', union_by_name=true);
        CREATE VIEW k AS SELECT * FROM read_parquet('{d["sku"]}/*.parquet');
        CREATE TABLE done AS
          SELECT a.detail_id, a.order_id, f.t FROM a
          JOIN ads_file f ON f.f = parse_filename(a.filename);
    """)
    # An event is due at its own moment inside the interval its file
    # closes: the file of tick k is written at due(k) and holds the
    # events of [due(k) - INTERVAL, due(k)); the moment is the event-time
    # offset within the tick on the generator's logical clock.
    created = (f"due.due - {INTERVAL} + ((epoch_us({{t}}.ts) - {gen.EPOCH0_US}) "
               f"% {int(INTERVAL * 1e6)}) / 1e6")
    fresh = con.execute(f"""
        SELECT dt.phase, done.t - ({created.format(t="dt")}) FROM dt JOIN done USING (detail_id)
          JOIN due ON due.phase = dt.phase AND due.tick = dt.tick
        UNION ALL
        SELECT o.phase, max(done.t) - any_value({created.format(t="o")}) FROM o
          JOIN done USING (order_id)
          JOIN due ON due.phase = o.phase AND due.tick = o.tick
        GROUP BY o.order_id, o.phase
    """).fetchall()
    open_fresh = [f for p, f in fresh if p == "open"]
    drain_end = con.execute("SELECT max(t) FROM done JOIN dt USING (detail_id) "
                            "WHERE dt.phase = 'backlog'").fetchone()[0]
    n_backlog = con.execute(
        "SELECT (SELECT count(*) FROM o WHERE phase='backlog') + "
        "(SELECT count(*) FROM dt WHERE phase='backlog')").fetchone()[0]

    checks = {
        # every detail allocated exactly once (exactly-once to DWS)
        "alloc_missing": "SELECT count(*) FROM dt ANTI JOIN a USING (detail_id)",
        "alloc_extra": "SELECT count(*) FROM a ANTI JOIN dt USING (detail_id)",
        "alloc_dup": "SELECT coalesce(sum(n - 1), 0) FROM "
                     "(SELECT count(*) n FROM a GROUP BY detail_id HAVING n > 1)",
        # per order, the allocated shares sum to final_total to the cent
        "alloc_sum": """SELECT count(*) FROM o JOIN
            (SELECT order_id, sum(round(amount * 100)) c FROM a GROUP BY 1) USING (order_id)
            WHERE c <> round(final_total * 100)""",
        # exactly one first order per user, every order flagged once
        "first_order": """SELECT count(*) FROM (SELECT user_id,
            count(*) FILTER (WHERE if_first_order = '1') n FROM i GROUP BY 1) WHERE n <> 1""",
        "dwd_orders": """SELECT (SELECT count(*) FROM o ANTI JOIN i USING (order_id))
            + (SELECT count(*) - count(DISTINCT order_id) FROM i)""",
        # ADS revenue per trademark equals the allocated inputs, with the
        # trademark resolved from the generated sku dim
        "ads_per_tm": """SELECT count(*) FROM
            (SELECT k.tm_id, sum(round(a.amount * 100)) c FROM a
               JOIN dt USING (detail_id) JOIN k ON k.sku_id = dt.sku_id GROUP BY 1) e
            FULL JOIN (SELECT tm_id, sum(round(amount * 100)) c FROM s GROUP BY 1) g
            USING (tm_id) WHERE e.c IS DISTINCT FROM g.c""",
        "ads_total": """SELECT CAST((SELECT sum(round(amount * 100)) FROM s)
            <> (SELECT sum(round(final_total * 100)) FROM o) AS INT)""",
    }
    failures = {name: con.execute(sql).fetchone()[0] for name, sql in checks.items()}
    attempted = con.execute("SELECT (SELECT count(*) FROM o) + (SELECT count(*) FROM dt)").fetchone()[0]
    con.close()
    return {"fresh": open_fresh, "drain_end": drain_end, "n_backlog": n_backlog,
            "failures": failures, "attempted": attempted}


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ran(p: dict) -> bool:
    """A trigger that executed a batch (data or no-data), not an idle poll."""
    return bool(p["numInputRows"] or "addBatch" in p["durationMs"])


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def drain_eps(r: dict, a: dict) -> float:
    """Backlog events per second, from query start to the last backlog
    event committed at the ADS sink."""
    return a["n_backlog"] / (a["drain_end"] - r["windows"]["backlog"][0])


def e2e(r: dict, a: dict) -> dict:
    return {
        "setup_s": r["setup_s"],
        "latency_p50_s": C.pct(a["fresh"], 50),
        "latency_p90_s": C.pct(a["fresh"], 90),
        "throughput_per_s": drain_eps(r, a),
    }


def layer_metrics(r: dict, a: dict, tracer) -> dict:
    """Per-layer metrics of a traced run (see METRICS.md)."""
    prog, chain = r["prog"], r["chain"]
    spans = tracer.totals()
    open_a, open_b = r["windows"]["open"]
    m: dict[str, float] = {}
    batches = {s: [p for p in prog[s] if _ran(p)] for s in STAGES}
    for s in STAGES:
        ps = batches[s]
        dur = lambda k: [p["durationMs"].get(k, 0) for p in ps]  # noqa: E731
        m[f"streaming.{s}.add_batch_ms"] = _mean(dur("addBatch"))
        m[f"streaming.{s}.planning_ms"] = _mean(dur("queryPlanning"))
        m[f"streaming.{s}.commit_ms"] = _mean(
            p["durationMs"].get("walCommit", 0) + p["durationMs"].get("commitOffsets", 0) for p in ps)
        busy = sum(p["durationMs"]["triggerExecution"] for p in ps
                   if open_a <= C.parse_ts(p["timestamp"]) < open_b) / 1000.0
        m[f"streaming.{s}.busy_share"] = busy / (open_b - open_a)
        body = spans.get(f"streaming.{s}.body", (0.0, 0.0, 0))
        m[f"streaming.{s}.body_s"] = body[0]
        m[f"operators.{s}.self_s"] = body[1]
    for s in ("order_wide", "allocation"):
        ops = [o for p in batches[s] for o in p.get("stateOperators", [])]
        per_batch = [sum(o["numRowsTotal"] for o in p["stateOperators"]) for p in batches[s]]
        m[f"streaming.{s}.state_rows"] = max(per_batch, default=0)
        m[f"streaming.{s}.state_bytes"] = max(
            (sum(o["memoryUsedBytes"] for o in p["stateOperators"]) for p in batches[s]), default=0)
        m[f"streaming.{s}.late_rows_dropped"] = sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)
    all_ps = [p for s in STAGES for p in batches[s]]
    src = [x for p in all_ps for x in p["sources"]]
    m["sources.latest_offset_ms"] = _mean(p["durationMs"].get("latestOffset", 0) for p in all_ps)
    m["sources.get_batch_ms"] = _mean(p["durationMs"].get("getBatch", 0) for p in all_ps)
    m["sources.input_rows"] = sum(x["numInputRows"] for x in src)
    d = chain.dirs
    con = duckdb.connect()
    m["sinks.rows_written"] = sum(
        con.execute(f"SELECT count(*) FROM read_parquet('{d[k]}/*/*.parquet', "
                    "union_by_name=true)").fetchone()[0]
        for k in ("dwd_info", "dwd_detail", "dws_wide", "dws_alloc", "ads"))
    m["sinks.dim_rows"] = con.execute(
        f"SELECT count(*) FROM read_parquet('{d['user_status']}/*.parquet')").fetchone()[0]
    con.close()
    m["sinks.bytes_written"] = sum(_du(d[k]) for k in (
        "dwd_info", "dwd_detail", "dws_wide", "dws_alloc", "ads", "user_status"))
    m["sinks.batch_write_s"] = spans.get("sinks.batch_write", (0.0,))[0]
    m["sinks.upsert_s"] = spans.get("sinks.upsert", (0.0,))[0]
    m.update(tracer.spark_totals())
    m["spark.jobs_per_batch"] = m.pop("spark.jobs") / max(1, len(all_ps))
    m["session.start_s"] = r["session_s"]
    man = [x for x in C.read_manifest(chain.manifest) if x["phase"] == "open"]
    m["gen.lag_p99_s"] = C.pct([x["written"] - x["due"] for x in man], 99)
    m["gen.events"] = a["attempted"]
    m["e2e.latency_samples"] = len(a["fresh"])
    return m


def main(ctx) -> dict:
    tracer = ctx.tracer
    if tracer:
        tracer.install()
    r = run(ctx, tracer=tracer)
    a = analyse(r["chain"], r["prog"])
    C.stop_spark(r["spark"])
    failed = sum(a["failures"].values()) + (0 if r["ok"] else 1)
    print(f"order_stream: checks {a['failures']} freshness samples {len(a['fresh'])}",
          file=sys.stderr)
    metrics = e2e(r, a)
    metrics["peak_rss_mb"] = ctx.rss.close()
    attempted = a["attempted"]
    if tracer:
        tracer.uninstall()
        tracer.progress = r["prog"]
        traced = {f"traced.{k}": v for k, v in metrics.items()}
        metrics = layer_metrics(r, a, tracer)
        # Single-thread baseline: the same set-up and backlog drain at
        # local[1] and then on every core, both in the JVM the traced run
        # has warmed, so the pair differs only in cores.
        if ctx.time_left() > 75:
            drains = {}
            for cores in (1, os.cpu_count()):
                rc = run(ctx, cores=cores, open_loop=False)
                ac = analyse(rc["chain"], rc["prog"])
                C.stop_spark(rc["spark"])
                failed += sum(ac["failures"].values()) + (0 if rc["ok"] else 1)
                attempted += ac["attempted"]
                drains[cores] = drain_eps(rc, ac)
            metrics["order_stream.drain_eps_1core"] = drains[1]
            metrics["order_stream.drain_speedup"] = drains[os.cpu_count()] / drains[1]
        else:
            print("order_stream: no time left for the local[1] baseline", file=sys.stderr)
        metrics.update(traced)
    return C.result(failed, attempted, metrics, trace=bool(tracer))
