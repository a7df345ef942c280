"""Checks on the benchmark's own parts. Run from the repo root:

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa

from perfbench import common as C
from perfbench import gen


def _spec(root, seed: int) -> dict:
    dirs = {s: str(root / s) for s in ("orders", "details")}
    for d in dirs.values():
        os.makedirs(d)
    return {"seed": seed, "phase": "open", "n_ticks": 4, "per_tick": 50,
            "n_users": 1000, "n_skus": 100, "interval": 2.0,
            "schedule_interval": 0, "manifest": str(root / "manifest.jsonl"), "dirs": dirs}


def _files(spec: dict) -> dict:
    out = {}
    for stream, d in spec["dirs"].items():
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                out[(stream, f)] = fh.read()
    return out


def test_same_seed_writes_identical_batches(tmp_path):
    a, b, c = (_spec(tmp_path / n, s) for n, s in (("a", 7), ("b", 7), ("c", 8)))
    for spec in (a, b, c):
        gen.run(spec)
    assert len(_files(a)) == 8
    assert _files(a) == _files(b)
    assert _files(a) != _files(c)


def test_orders_consistent_skewed_and_details_late_within_horizon():
    ticks = gen.order_phase(3, "open", 6, 200, 5000, 100, 2.0)
    orders = pa.concat_tables([t["orders"] for t in ticks]).to_pandas()
    parts = []
    for i, t in enumerate(ticks):
        d = t["details"].to_pandas()
        d["tick"] = i
        parts.append(d)
    det = pd.concat(parts)
    orders["tick"] = np.repeat(np.arange(len(ticks)), 200)

    cents = (det.assign(c=(det.amount * 100).round()).groupby("order_id").c.sum())
    o = orders.set_index("order_id")
    assert (cents == (o.original_total * 100).round()).all()
    assert (o.final_total <= o.original_total).all()
    assert (o.total == o.final_total).all()
    assert det.detail_id.is_unique and set(det.order_id) == set(o.index)

    delay = det.tick.values - o.loc[det.order_id, "tick"].values
    assert delay.min() == 0 and delay.max() == gen.MAX_DETAIL_DELAY
    assert (delay > 0).mean() > 0.1  # details arrive out of order
    lag = (det.ts.values - o.loc[det.order_id, "ts"].values) / np.timedelta64(1, "s")
    assert (np.abs(lag) < 20).all()  # inside the order_wide join horizon

    share = orders.user_id.value_counts().iloc[0] / len(orders)
    assert share > 20 / 5000  # the hottest user is far above uniform


def test_benchmark_json_lists_the_printed_metrics():
    with open(os.path.join(C.REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == C.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} == C.PER_LAYER
