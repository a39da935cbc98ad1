"""Seeded generator for the daily_pipeline input.

Writes an events table with exactly the schema of the test tables'
events.parquet (event_id BIGINT, ts TIMESTAMP, user_id BIGINT,
event_type VARCHAR, value DOUBLE, props VARCHAR), where user_id is the
device and event_type the spatial cell, as the engine's interactions
pipeline reads them.

Every device gets a Zipf-drawn home cell. Night pings (22:00-06:00) are
at home with probability night_at_home; every other ping goes to a
Zipf-drawn cell. Devices are generated in fixed blocks, each from its own
generator seeded by (seed, block), so the rows depend only on the seed:
the partition count only decides how the blocks are split into files.

The volume and shape parameters are those of the repository's sf0.1 test
events: 1,500 devices over 30 days, Poisson(2.22) pings per device and day
at a uniform time of day (100,000 rows), and 5 distinct event_type values,
so 5 cells. sf0.1 has no spatial structure: its event types are uniform
and no device has a home. zipf_s and night_at_home add the skew and the
homes; they are assumptions, not measurements (see README.md).

  python3 perfbench/gen_events.py --stats DIR   # statistics of DIR/events.parquet
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PARAMS = {
    "devices": 1500,              # sf0.1: 1,500 distinct user_id
    "days": 30,                   # sf0.1: 30 days; covers the 15-day NTL lookback
    "run_date": "2024-01-30",     # the last generated day, as in sf0.1
    "pings_per_device_day": 2.22,  # sf0.1: 100,000 rows / 1,500 / 30
    "cells": 5,                   # sf0.1: 5 distinct event_type values
    "zipf_s": 1.0,                # assumed: Zipf's law in its plain form
    "night_at_home": 0.9,         # assumed: a night ping is at home 9 times in 10
    "block_devices": 1000,
}
GROUP_CAP = 1024  # graft.operators.Interactions.GroupCap
BUCKET_US = 600 * 1_000_000

SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def cell_names(p):
    return np.array([f"cell{i:03d}" for i in range(p["cells"])], dtype=object)


def zipf_pmf(p):
    w = 1.0 / np.arange(1, p["cells"] + 1) ** p["zipf_s"]
    return w / w.sum()


def block(seed, b, p):
    """Rows for devices [b*block_devices, (b+1)*block_devices)."""
    rng = np.random.default_rng([seed, b])
    lo = b * p["block_devices"]
    n = min(p["block_devices"], p["devices"] - lo)
    pmf = zipf_pmf(p)
    home = rng.choice(p["cells"], size=n, p=pmf)
    per_day = rng.poisson(p["pings_per_device_day"], size=(n, p["days"]))
    dev = np.repeat(np.arange(n), per_day.sum(axis=1))
    day = np.concatenate([np.repeat(np.arange(p["days"]), r) for r in per_day]) \
        if n else np.zeros(0, dtype=np.int64)
    k = len(dev)
    sec = rng.integers(0, 86400, size=k)
    micros = rng.integers(0, 1_000_000, size=k)
    hour = sec // 3600
    night = (hour >= 22) | (hour < 6)
    at_home = night & (rng.random(size=k) < p["night_at_home"])
    roam = rng.choice(p["cells"], size=k, p=pmf)
    cell = np.where(at_home, home[dev], roam)
    start = dt.date.fromisoformat(p["run_date"]) - dt.timedelta(days=p["days"] - 1)
    epoch_us = (dt.datetime(start.year, start.month, start.day)
                - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    ts = epoch_us + day * 86_400_000_000 + sec * 1_000_000 + micros
    # index of each ping within its device, for a stable unique event_id
    first = np.concatenate([[0], np.cumsum(per_day.sum(axis=1))[:-1]]) if n else []
    seq = np.arange(k) - np.repeat(first, per_day.sum(axis=1))
    user = lo + dev
    return pa.table({
        "event_id": pa.array(user * 4096 + seq, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(user, pa.int64()),
        "event_type": pa.array(cell_names(p)[cell], pa.string()),
        "value": pa.array(np.round(rng.random(size=k) * 500.0, 2), pa.float64()),
        "props": pa.array([f'{{"k": {v}}}' for v in rng.integers(0, 100, size=k)],
                          pa.string()),
    }, schema=SCHEMA)


def stats(table):
    """Co-location group statistics, bucketed exactly as the engine does
    (600-second buckets anchored at the global minimum timestamp)."""
    ts = table.column("ts").cast(pa.timestamp("us")).cast(pa.int64()).to_numpy()
    tw = (ts - ts.min()) // BUCKET_US
    cells = np.unique(table.column("event_type").to_numpy(zero_copy_only=False),
                      return_inverse=True)[1]
    user = table.column("user_id").to_numpy()
    users = user.max() + 1
    group = cells * (tw.max() + 1) + tw
    present = np.unique(group * users + user)
    _, sizes = np.unique(present // users, return_counts=True)
    return {
        "rows": table.num_rows,
        "devices": int(np.unique(user).size),
        "cells": int(cells.max() + 1),
        "days": int((ts.max() // 86_400_000_000) - (ts.min() // 86_400_000_000) + 1),
        "groups": int(sizes.size),
        "mean_group": round(float(sizes.mean()), 2),
        "max_group": int(sizes.max()),
        "pairs": int((sizes * (sizes - 1) // 2).sum()),
    }


def generate(out_dir, seed, parts=1, params=PARAMS):
    """Writes OUT_DIR/events.parquet/part-*.parquet, OUT_DIR/run_date and
    OUT_DIR/params.json; returns the recorded parameters and statistics."""
    p = dict(params)
    nblocks = -(-p["devices"] // p["block_devices"])
    blocks = [block(seed, b, p) for b in range(nblocks)]
    ev = os.path.join(out_dir, "events.parquet")
    os.makedirs(ev, exist_ok=True)
    for i, chunk in enumerate(np.array_split(np.arange(nblocks), parts)):
        t = pa.concat_tables([blocks[b] for b in chunk]) if len(chunk) \
            else SCHEMA.empty_table()
        pq.write_table(t, os.path.join(ev, f"part-{i:05d}.parquet"))
    s = stats(pa.concat_tables(blocks))
    if s["max_group"] >= GROUP_CAP:
        raise SystemExit(f"largest co-location group {s['max_group']} reaches "
                         f"the engine's cap {GROUP_CAP}")
    meta = {"seed": seed, "params": p, "stats": s}
    with open(os.path.join(out_dir, "run_date"), "w") as f:
        f.write(p["run_date"] + "\n")
    with open(os.path.join(out_dir, "params.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


if __name__ == "__main__":
    import sys
    if len(sys.argv) != 3 or sys.argv[1] != "--stats":
        raise SystemExit("usage: gen_events.py --stats DIR")
    print(json.dumps(stats(pq.read_table(os.path.join(sys.argv[2], "events.parquet"))),
                     sort_keys=True))
