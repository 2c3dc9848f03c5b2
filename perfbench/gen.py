"""Seeded inputs for every workload.

Everything the program reads is generated here from ``--seed``: the same
seed gives byte-identical files. The generators follow the shapes of the
repository's own test tables (a TPC-H-like star schema and an ``events``
table over one month) but live in the benchmark's directory, so a later
change to the program's tools cannot move the benchmark's inputs.

Properties the workloads depend on:

* log keys (user ids) are Zipf-skewed, as real traffic is;
* quiz attempts draw from at most 30 question ids per knowledge point
  (the reference's fixed denominator);
* a small share of log lines is malformed (wrong arity, a non-numeric
  id, broken JSON), so the decoders' drop paths run;
* parquet files are written in many row groups, so scans split into
  several tasks instead of one.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROW_GROUPS = 32

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

# sf0.1 cardinalities of the repository's test tables
BATCH_SIZES = {
    "events": 100_000,
    "customer": 15_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "supplier": 1_000,
    "nation": 25,
    "region": 5,
}
N_EVENT_USERS = 1_500


def _zipf_keys(rng: np.random.Generator, n_keys: int, size: int, s: float = 1.1) -> np.ndarray:
    """`size` draws from `n_keys` keys with P(rank r) ∝ r^-s; ranks are
    shuffled so the hot keys are not simply the smallest ids."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    w /= w.sum()
    perm = rng.permutation(n_keys)
    return perm[rng.choice(n_keys, size=size, p=w)]


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, row_group_size=max(table.num_rows // ROW_GROUPS, 1))


# ---------------------------------------------------------------------------
# batch_reference: tables shaped like the repository's test data
# ---------------------------------------------------------------------------

def gen_events(rng: np.random.Generator, n: int) -> pa.Table:
    base = np.datetime64("2024-01-01", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 1_000_000, size=n))
    k = rng.integers(0, 100, size=n)
    shape = rng.random(n)
    # 98% {"k": n}, the rest carry no `k` key, so the decode default runs
    props = [
        f'{{"k": {int(v)}}}' if s < 0.98 else ('{}' if s < 0.99 else f'{{"j": {int(v)}}}')
        for v, s in zip(k, shape)
    ]
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        # TIMESTAMP(NANOS), as the program's loader expects of events.ts;
        # whole microseconds, so its ns -> us conversion loses nothing
        "ts": pa.array((base + offs.astype("timedelta64[us]")).astype("datetime64[ns]"), type=pa.timestamp("ns")),
        "user_id": pa.array(_zipf_keys(rng, N_EVENT_USERS, n, 0.8).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), type=pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 500, size=n), 2)),
        "props": pa.array(props, type=pa.string()),
    })


def gen_region() -> pa.Table:
    return pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS, type=pa.string()),
    })


def gen_nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table({
        "n_nationkey": pa.array(keys),
        "n_name": pa.array([f"NATION_{k}" for k in keys], type=pa.string()),
        "n_regionkey": pa.array(keys % 5),
    })


def gen_customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array([f"Customer#{k:09d}" for k in keys], type=pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n), type=pa.string()),
    })


def gen_supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], type=pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, size=n), 2)),
    })


def gen_orders(rng: np.random.Generator, n: int, n_cust: int) -> tuple[pa.Table, np.ndarray]:
    days = rng.integers(0, 2404, size=n)  # 1995-01-01 .. 2001-08-01
    base = np.datetime64("1995-01-01", "s")
    table = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(_zipf_keys(rng, n_cust, n, 0.5).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], size=n), type=pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(900.0, 400000.0, size=n), 2)),
        "o_orderdate": pa.array(
            base + days.astype("timedelta64[D]").astype("timedelta64[s]"), type=pa.timestamp("us")
        ),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n), type=pa.string()),
    })
    return table, days


def gen_lineitem(rng: np.random.Generator, n: int, order_days: np.ndarray, n_supp: int) -> pa.Table:
    okeys = rng.integers(0, len(order_days), size=n)
    ship = order_days[okeys] + rng.integers(1, 122, size=n)
    base = np.datetime64("1995-01-01", "s")
    return pa.table({
        "l_orderkey": pa.array(okeys.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20_000, size=n).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=n).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, size=n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n), type=pa.string()),
        "l_linestatus": pa.array(rng.choice(["O", "F"], size=n), type=pa.string()),
        "l_shipdate": pa.array(
            base + ship.astype("timedelta64[D]").astype("timedelta64[s]"), type=pa.timestamp("us")
        ),
    })


def write_batch_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """The tables the batch_reference queries read: sf0.1-sized at
    scale 1; smaller scales shrink every table but region and nation.
    Returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    s = {k: max(int(v * scale), 25) for k, v in BATCH_SIZES.items()}
    orders, order_days = gen_orders(rng, s["orders"], s["customer"])
    tables = {
        "events": gen_events(rng, s["events"]),
        "region": gen_region(),
        "nation": gen_nation(),
        "customer": gen_customer(rng, s["customer"]),
        "supplier": gen_supplier(rng, s["supplier"]),
        "orders": orders,
        "lineitem": gen_lineitem(rng, s["lineitem"], order_days, s["supplier"]),
    }
    for name, t in tables.items():
        write_parquet(t, f"{out_dir}/{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------------------
# stream_reference: log-file backlogs, one file per micro-batch
# ---------------------------------------------------------------------------

MALFORMED_SHARE = 0.005
N_LOG_USERS = 5_000
N_COURSES = 20
N_POINTS = 50
QUESTIONS_PER_POINT = 30


def _clock(file_no: int, r: int) -> str:
    # one file per 3-second batch interval, starting 2026-08-13 10:00:00
    sec = file_no * 3 + r % 3
    return f"2026-08-13 {10 + sec // 3600:02d}:{sec // 60 % 60:02d}:{sec % 60:02d}"


def register_lines(rng: np.random.Generator, file_no: int, n: int) -> list[str]:
    users = _zipf_keys(rng, N_LOG_USERS, n)
    plat = rng.integers(1, 4, size=n)
    bad = rng.random(n) < MALFORMED_SHARE
    return [
        f"{u}\t{p}" if b else f"{u}\t{p}\t{_clock(file_no, r)}"  # arity 2 → dropped
        for r, (u, p, b) in enumerate(zip(users, plat, bad))
    ]


def qz_lines(rng: np.random.Generator, file_no: int, n: int) -> list[str]:
    users = _zipf_keys(rng, N_LOG_USERS, n)
    course = rng.integers(0, N_COURSES, size=n)
    point = rng.integers(0, N_POINTS, size=n)
    q = rng.integers(0, QUESTIONS_PER_POINT, size=n)
    ok = rng.integers(0, 2, size=n)
    bad = rng.random(n) < MALFORMED_SHARE
    return [
        (f"u{u}" if b else f"{u}")  # non-numeric uid → dropped by try_cast
        + f"\t{c}\t{p}\tq{p}_{qq}\t{o}\t{_clock(file_no, r)}"
        for r, (u, c, p, qq, o, b) in enumerate(zip(users, course, point, q, ok, bad))
    ]


def page_lines(rng: np.random.Generator, file_no: int, n: int) -> list[str]:
    users = _zipf_keys(rng, N_LOG_USERS, n)
    page = rng.integers(0, 40, size=n)
    step = rng.integers(1, 4, size=n)
    bad = rng.random(n) < MALFORMED_SHARE
    out = []
    for r, (u, p, s, b) in enumerate(zip(users, page, step, bad)):
        rec = {
            "uid": str(u),
            "app_id": "1",
            "device_id": f"d{u % 997}",
            "ip": f"10.{u % 256}.{p}.{s}",
            "last_page_id": str(max(p - s, 0)),
            "page_id": str(p),
            "next_page_id": str(p + s),
        }
        if r % 17 == 0:
            del rec["app_id"]  # missing key → decoded as ""
        line = json.dumps(rec, separators=(",", ":"))
        out.append(line[: len(line) // 2] if b else line)  # truncated JSON → dropped
    return out


def write_log_backlog(topic_dir: str, kind: str, seed: int, n_files: int, rows_per_file: int) -> int:
    """Write files 0..n_files-1 of one topic. File
    names sort in arrival order and every file has its own mtime, so the
    file source takes them oldest first, one per trigger. Returns the
    number of lines written."""
    make = {"register": register_lines, "qz": qz_lines, "page": page_lines}
    os.makedirs(topic_dir, exist_ok=True)
    base_ns = time.time_ns() - 600 * 1_000_000_000
    lines_total = 0
    for f in range(n_files):
        rng = np.random.default_rng([seed, 7, ["register", "qz", "page", "raw"].index(kind), f])
        if kind == "raw":
            # the archive job takes every topic's raw lines
            lines = [
                ln
                for k in ("register", "qz", "page")
                for ln in make[k](rng, f, rows_per_file // 3)
            ]
        else:
            lines = make[kind](rng, f, rows_per_file)
        path = os.path.join(topic_dir, f"part-{f:05d}.log")
        tmp = os.path.join(topic_dir, f".part-{f:05d}.tmp")
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, path)
        # distinct, increasing mtimes: the file source orders by them
        stamp = base_ns + f * 1_000_000
        os.utime(path, ns=(stamp, stamp))
        lines_total += len(lines)
    return lines_total
