"""Seeded input generator for the benchmark workloads.

Every table is written with pyarrow from a NumPy generator keyed by
(seed, table), so the same seed yields byte-identical files and one
table's draw never depends on another's.  Schemas, physical types and
value distributions are the ones measured on the engine's sf0.1 tables
(`SF01` below; README.md lists the figures): `events.ts` is
TIMESTAMP(MICROS) without zone (Spark reads timestamp_ntz), dimension
keys keep their int32/int64 widths, and event users are the first
1500 customers.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Measured on sf0.1 (README.md, "Inputs"); every generator below draws
# from these and nothing else, except the heavy clickers of the click
# log (write_click_log).
SF01 = {
    "events": 100_000,  # over Jan 1-30 2024, uniform in time, ts-sorted
    "event_users": 1500,  # c_custkey 0..1499, uniform
    "event_types": ("view", "click", "purchase", "signup", "error"),  # uniform
    "props_k": 100,  # {"k": 0..99}, uniform
    "value_mean": 50.0,  # exponential, rounded to cents
    "customers": 15_000,
    "parts": 20_000,
}
EVENT_TYPES = SF01["event_types"]
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
PART_WORDS = ("red", "small", "hot", "cold", "old", "new", "large", "blue")
PART_NOUNS = ("gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod")
PART_TYPES = ("LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD")

JAN1 = dt.datetime(2024, 1, 1)
JAN1_US = int(JAN1.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000
EVENTS_PER_DAY = SF01["events"] // 30
# every task spans this many days, so tasks scan alike and one task's
# wall time is comparable with another's
TASK_DAYS = 18


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, sum(map(ord, table)) * 7919 + len(table)])


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)


def write_dims(seed: int, out: str) -> None:
    """region, nation, customer and part as in sf0.1."""
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                "r_name": list(REGIONS),
            }
        ),
        f"{out}/region.parquet",
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        f"{out}/nation.parquet",
    )
    n = SF01["customers"]
    r = _rng(seed, "customer")
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
                "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
                "c_mktsegment": [SEGMENTS[i] for i in r.integers(0, 5, n)],
            }
        ),
        f"{out}/customer.parquet",
    )
    n = SF01["parts"]
    r = _rng(seed, "part")
    a, b = r.integers(0, 8, n), r.integers(0, 8, n)
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n), pa.int64()),
                "p_name": [f"{PART_WORDS[i]} {PART_NOUNS[j]}" for i, j in zip(a, b)],
                "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n)],
                "p_type": [PART_TYPES[i] for i in r.integers(0, 6, n)],
                "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
                "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2),
            }
        ),
        f"{out}/part.parquet",
    )


def _events(r: np.random.Generator, n: int, days: int) -> dict:
    """`n` events over the first `days` days of January in the sf0.1
    distribution, as unsorted columns."""
    return {
        "ts": r.integers(0, days * DAY_US, n) + JAN1_US,
        "user": r.integers(0, SF01["event_users"], n),
        "kind": r.integers(0, len(EVENT_TYPES), n),
        "k": r.integers(0, SF01["props_k"], n),
        "value": np.round(r.exponential(SF01["value_mean"], n), 2),
    }


def _events_table(cols: dict) -> pa.Table:
    """Sorted by ts, event_id in ts order, as in sf0.1."""
    order = np.argsort(cols["ts"], kind="stable")
    return pa.table(
        {
            "event_id": pa.array(np.arange(len(order)), pa.int64()),
            "ts": pa.array(cols["ts"][order], pa.int64()).cast(pa.timestamp("us")),
            "user_id": pa.array(cols["user"][order], pa.int64()),
            "event_type": [EVENT_TYPES[i] for i in cols["kind"][order]],
            "value": cols["value"][order],
            "props": [f'{{"k": {i}}}' for i in cols["k"][order]],
        }
    )


def write_events(seed: int, out: str, n_events: int) -> dict:
    """The batch events table: sf0.1's span and distributions (and its
    size, at full scale), one row group."""
    tbl = _events_table(_events(_rng(seed, "events"), n_events, 30))
    _write(tbl, f"{out}/events.parquet")
    return {"events": tbl.num_rows}


def task_params(seed: int, n: int) -> list[str]:
    """`n` reference-format task_param JSON strings (every value a
    one-element string array, lists comma-joined).  Each parameter
    ranges between the reference's documented example (10-day range,
    ages 20-50, two cities, three category ids) and the registry's
    run_task_* tasks (Jan 3-28, ages 10-55, two keywords, a four-step
    page flow); every range is TASK_DAYS long, within Jan 1-30."""
    r = _rng(seed, "tasks")
    out = []
    for _ in range(n):
        length = TASK_DAYS
        start = int(r.integers(1, 32 - length))
        flow = r.permutation(len(EVENT_TYPES))[:4]
        p = {
            "startDate": [f"2024-01-{start:02d}"],
            "endDate": [f"2024-01-{start + length - 1:02d}"],
            "startAge": [str(int(r.integers(10, 21)))],
            "endAge": [str(int(r.integers(50, 56)))],
            "sex": [("male", "female")[int(r.integers(0, 2))]],
            "cities": [",".join(f"NATION_{i}" for i in r.choice(25, 2, replace=False))],
            "keywords": [",".join(EVENT_TYPES[i] for i in r.choice(5, 2, replace=False))],
            "categoryIds": [",".join(str(i) for i in sorted(r.choice(100, 3, replace=False)))],
            "targetPageFlow": [",".join(EVENT_TYPES[i] for i in flow)],
        }
        out.append(json.dumps(p))
    return out


def write_click_log(
    seed: int, out: str, n_days: int, heavy_users: int, heavy_clicks: int
) -> dict:
    """Module-4 click replay: `n_days` days of sf0.1 events (its
    per-day volume and mix), plus `heavy_users` users who each click
    one ad `heavy_clicks` times every day.  sf0.1's busiest
    user-ad-day has 6 clicks, so without them the reference's
    100-click blacklist would never fire.  The log is written whole
    (events.parquet, the correctness gate's input) and as one file
    per day with increasing mtimes."""
    r = _rng(seed, "clicks")
    cols = _events(r, EVENTS_PER_DAY * n_days, n_days)
    heavy = r.choice(SF01["event_users"], heavy_users, replace=False)
    m = heavy_users * heavy_clicks * n_days
    extra = {
        "ts": np.repeat(np.arange(n_days) * DAY_US, heavy_users * heavy_clicks)
        + r.integers(0, DAY_US, m)
        + JAN1_US,
        "user": np.tile(np.repeat(heavy, heavy_clicks), n_days),
        "kind": np.full(m, EVENT_TYPES.index("click")),
        "k": np.tile(np.repeat(r.integers(0, SF01["props_k"], heavy_users), heavy_clicks), n_days),
        "value": np.round(r.exponential(SF01["value_mean"], m), 2),
    }
    tbl = _events_table({c: np.concatenate([cols[c], extra[c]]) for c in cols})
    _write(tbl, f"{out}/events.parquet")
    day = (tbl.column("ts").cast(pa.int64()).to_numpy() - JAN1_US) // DAY_US
    bounds = np.searchsorted(day, np.arange(n_days + 1))
    for i in range(n_days):
        path = f"{out}/replay/part-{i:03d}.parquet"
        _write(tbl.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
    clicks = int(np.sum(np.asarray(tbl.column("event_type")) == "click"))
    return {"events": tbl.num_rows, "clicks": clicks, "replay_files": n_days}


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )
