"""Seeded input generator for the ``order_stream`` workload.

Runs as its own process (``python3 perfbench/gen.py <spec.json>``), apart
from Spark, so a stalled engine cannot slow the schedule: tick ``k`` of a
phase is due at ``start + k * interval`` whatever the consumers are doing
(an open loop). Every tick writes one parquet file per stream with an
atomic rename (``.name.tmp`` -> ``name.parquet``; the file source skips
dot-files) and appends a manifest line with the tick's due time and the
wall time the file became visible. Each event is due at its own moment
in the interval before its file's due time: the event-time offset of its
``ts`` within the tick (``order_stream.analyse`` reads it back that way).

File contents are a pure function of (seed, phase, tick): the
event-time column ``ts`` runs on a logical clock that starts at a fixed
epoch and advances ``interval`` per tick, so the same seed writes
identical files on every run (``test_gen.py`` checks this).
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
TS = pa.timestamp("us", tz="UTC")
PHASES = {"backlog": 0, "open": 1}  # event time runs in this order
N_PROVINCES = 34
N_TM, N_C3, N_SPU = 50, 200, 800
ZIPF_S = 1.1
# A delayed detail lands at most this many ticks after its order; with
# the 8 s tick that keeps it inside the 20 s join horizon.
MAX_DETAIL_DELAY = 1
DELAY_P = [0.7, 0.3]  # share of details 0 .. MAX_DETAIL_DELAY ticks late


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def zipf_cdf(n: int, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** s
    return np.cumsum(w) / w.sum()


def zipf_ids(rng: np.random.Generator, cdf: np.ndarray, perm: np.ndarray, n: int) -> np.ndarray:
    """``n`` ids drawn Zipf(s) by rank; ``perm`` maps rank -> id so the
    hot keys are scattered over the id space, not ids 0, 1, 2..."""
    ranks = np.minimum(np.searchsorted(cdf, rng.random(n)), len(cdf) - 1)
    return perm[ranks]


def _ts_col(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.int64()).cast(TS)


def _tick_ts_us(phase: str, tick: int, interval: float) -> int:
    # phases sit 10 000 ticks apart on the logical clock
    return EPOCH0_US + int((PHASES[phase] * 10_000 + tick) * interval * 1e6)


# ---------------------------------------------------------------------------
# dims (pre-seeded in set-up, never streamed)
# ---------------------------------------------------------------------------

def province_dim() -> pa.Table:
    ids = np.arange(1, N_PROVINCES + 1, dtype=np.int64)
    return pa.table({
        "province_id": ids,
        "province_name": [f"province_{i}" for i in ids],
        "area_code": [f"{100000 + i}" for i in ids],
    })


def sku_dim(seed: int, n_skus: int) -> pa.Table:
    """The sku dim as ``sku_dim_pipeline`` materializes it: sku columns
    denormalized with the trademark / category3 / spu names."""
    rng = _rng(seed, 7)
    sku = np.arange(n_skus, dtype=np.int64)
    spu = rng.integers(0, N_SPU, n_skus)
    tm = rng.integers(0, N_TM, n_skus)
    c3 = rng.integers(0, N_C3, n_skus)
    return pa.table({
        "sku_id": sku,
        "spu_id": spu,
        "tm_id": tm,
        "category3_id": c3,
        "sku_name": [f"sku_{i}" for i in sku],
        "price": rng.integers(100, 100_000, n_skus) / 100.0,
        "ts": _ts_col(np.full(n_skus, EPOCH0_US - 1_000_000)),
        "tm_name": [f"tm_{i}" for i in tm],
        "category3_name": [f"c3_{i}" for i in c3],
        "spu_name": [f"spu_{i}" for i in spu],
    })


USER_LEVELS = np.array(["1", "2", "3", "4"])
GENDERS = np.array(["M", "F"])


def user_dim(seed: int, n_users: int) -> pa.Table:
    rng = _rng(seed, 8)
    return pa.table({
        "user_id": np.arange(n_users, dtype=np.int64),
        "user_level": USER_LEVELS[rng.integers(0, 4, n_users)],
        "gender": GENDERS[rng.integers(0, 2, n_users)],
    })


# ---------------------------------------------------------------------------
# order_stream: order headers + details, details out of order
# ---------------------------------------------------------------------------

def order_phase(seed: int, phase: str, n_ticks: int, orders_per_tick: int,
                n_users: int, n_skus: int, interval: float) -> list[dict[str, pa.Table]]:
    """One phase of the order stream, tick by tick: ``{"orders": ...,
    "details": ...}``. Orders are consistent (original_total = sum of
    detail amounts, final_total <= original_total, all in whole cents);
    ~30% of details arrive one tick after their order, and rows
    inside a file are shuffled. Every detail of the phase is emitted by
    its last tick."""
    base = PHASES[phase] * 10_000_000
    cdf = zipf_cdf(n_users)
    perm = _rng(seed, 1).permutation(n_users).astype(np.int64)
    sku_cdf = zipf_cdf(n_skus)
    sku_perm = _rng(seed, 2).permutation(n_skus).astype(np.int64)
    pending: list[list[dict[str, np.ndarray]]] = [[] for _ in range(n_ticks)]
    orders_out = []
    for tick in range(n_ticks):
        rng = _rng(seed, PHASES[phase], tick)
        n = orders_per_tick
        oid = base + tick * orders_per_tick + np.arange(n, dtype=np.int64)
        t_us = _tick_ts_us(phase, tick, interval)
        o_ts = t_us + rng.integers(0, int(interval * 1e6), n)
        n_det = rng.integers(1, 5, n)
        total = int(n_det.sum())
        d_order = np.repeat(np.arange(n), n_det)
        amount_c = rng.integers(100, 50_000, total)
        orig_c = np.bincount(d_order, weights=amount_c, minlength=n).astype(np.int64)
        disc_c = (rng.random(n) * 0.2 * orig_c).astype(np.int64)
        disc_c[rng.random(n) < 0.3] = 0
        final_c = orig_c - disc_c
        orders_out.append(pa.table({
            "order_id": oid,
            "user_id": zipf_ids(rng, cdf, perm, n),
            "province_id": rng.integers(1, N_PROVINCES + 1, n).astype(np.int64),
            "ts": _ts_col(o_ts),
            "total": final_c / 100.0,
            "original_total": orig_c / 100.0,
            "final_total": final_c / 100.0,
        }))
        det_id = base * 10 + tick * orders_per_tick * 4 + np.arange(total, dtype=np.int64)
        delay = rng.choice(MAX_DETAIL_DELAY + 1, total, p=DELAY_P)
        det = {
            "detail_id": det_id,
            "order_id": oid[d_order],
            "sku_id": zipf_ids(rng, sku_cdf, sku_perm, total),
            "ts": o_ts[d_order] + rng.integers(0, 500_000, total),
            "amount": amount_c / 100.0,
        }
        for d in range(MAX_DETAIL_DELAY + 1):
            sel = delay == d
            pending[min(tick + d, n_ticks - 1)].append({k: v[sel] for k, v in det.items()})
    out = []
    for tick in range(n_ticks):
        rng = _rng(seed, PHASES[phase], tick, 1)
        parts = pending[tick]
        cols = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
        order = rng.permutation(len(cols["detail_id"]))
        cols = {k: v[order] for k, v in cols.items()}
        cols["ts"] = _ts_col(cols["ts"])
        out.append({"orders": orders_out[tick], "details": pa.table(cols)})
    return out


def write_atomic(table: pa.Table, path: str) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def run(spec: dict) -> None:
    """Write the phase's ticks to ``spec["dirs"][stream]`` on schedule;
    ``schedule_interval == 0`` stages the whole phase at once (a backlog)."""
    batches = order_phase(spec["seed"], spec["phase"], spec["n_ticks"], spec["per_tick"],
                          spec["n_users"], spec["n_skus"], spec["interval"])
    start = time.time()  # the schedule starts once the batches are built
    interval = spec["schedule_interval"]
    with open(spec["manifest"], "a") as man:
        for tick, tables in enumerate(batches):
            due = start + tick * interval
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            for stream, table in tables.items():
                path = os.path.join(spec["dirs"][stream], f"{spec['phase']}-{tick:05d}.parquet")
                write_atomic(table, path)
            man.write(json.dumps({
                "phase": spec["phase"], "tick": tick, "due": due,
                "written": time.time(),
                "events": {s: t.num_rows for s, t in tables.items()},
            }) + "\n")
            man.flush()


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        run(json.load(fh))
