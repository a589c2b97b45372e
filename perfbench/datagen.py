"""Seeded generator for the warehouse tables the benchmark feeds the engine.

Produces the star schema the package reads (``region nation customer
supplier part orders lineitem events``) with the column names, types
and value ranges of the repository's sf-scaled test tables, so every
registry query and streaming pipeline runs unchanged on it. Everything
is a pure function of ``(seed, sf)``: the same pair writes the same
bytes' worth of rows, and the engine sees only the written files.

Row counts at ``sf`` (sf0.1 in brackets): events 1e6·sf [100k],
orders 1.5e6·sf [150k], lineitem 6e6·sf [600k], customer 1.5e5·sf
[15k], part 2e5·sf [20k], supplier 1e4·sf [1k]; nation 25, region 5.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["error", "view", "signup", "purchase", "click"])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_ADJ = np.array(["red", "blue", "cold", "hot", "old", "new", "large", "small"])
P_NOUN = np.array(["widget", "gear", "anvil", "gizmo", "plate", "ring", "bolt", "spring"])
P_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: event log spans these 30 days; orders/lineitem dates span the
#: TPC-H-like 1995..2001 range at day granularity
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_DAYS = 30
ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # through 2001-08-01
SHIP_START = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2499  # through 2001-11-04


def sizes(sf: float) -> dict[str, int]:
    n = lambda k: max(int(round(k * sf)), 1)  # noqa: E731
    return {
        "events": n(1_000_000),
        "users": n(15_000),
        "orders": n(1_500_000),
        "lineitem": n(6_000_000),
        "customer": n(150_000),
        "part": n(200_000),
        "supplier": n(10_000),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events(rng: np.random.Generator, n: int, users: int, days: int = EVENTS_DAYS) -> pa.Table:
    """Time-ordered event log over ``days`` days: ``event_id`` increases
    with ``ts``."""
    span_us = days * 86_400 * 1_000_000
    offs = np.sort(rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EVENTS_START + offs.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
            "props": pa.array(
                np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
            ),
        }
    )


def orders(rng: np.random.Generator, n: int, customers: int) -> pa.Table:
    days = rng.integers(0, ORDER_DAYS, n)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, customers, n, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
            "o_orderdate": pa.array((ORDER_START + days).astype("datetime64[us]")),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
        }
    )


def lineitem(
    rng: np.random.Generator, n: int, n_orders: int, parts: int, suppliers: int
) -> pa.Table:
    days = rng.integers(0, SHIP_DAYS, n)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, parts, n, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, suppliers, n, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
            "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100.0, 2)),
            "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100.0, 2)),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array((SHIP_START + days).astype("datetime64[us]")),
        }
    )


def customer(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": pa.array(keys),
            "c_name": pa.array([f"Customer#{k:09d}" for k in keys]),
            "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
            "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n)]),
        }
    )


def part(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    names = np.char.add(
        np.char.add(P_ADJ[rng.integers(0, 8, n)], " "), P_NOUN[rng.integers(0, 8, n)]
    )
    return pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str))),
            "p_type": pa.array(P_TYPES[rng.integers(0, 6, n)]),
            "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2)),
        }
    )


def supplier(rng: np.random.Generator, n: int) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "s_suppkey": pa.array(keys),
            "s_name": pa.array([f"Supplier#{k:09d}" for k in keys]),
            "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        }
    )


def nation() -> pa.Table:
    keys = np.arange(25, dtype=np.int32)
    return pa.table(
        {
            "n_nationkey": pa.array(keys),
            "n_name": pa.array([f"NATION_{k}" for k in keys]),
            "n_regionkey": pa.array(keys % 5),
        }
    )


def region() -> pa.Table:
    return pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )


def generate(seed: int, sf: float, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """Build the named tables. Each table draws from its own child
    stream of ``seed``, so asking for a subset yields the same rows
    as asking for all of them."""
    s = sizes(sf)
    streams = dict(
        zip(
            ("events", "orders", "lineitem", "customer", "part", "supplier"),
            np.random.SeedSequence(seed).spawn(6),
        )
    )
    rng = {k: np.random.default_rng(v) for k, v in streams.items()}
    build = {
        "events": lambda: events(rng["events"], s["events"], s["users"]),
        "orders": lambda: orders(rng["orders"], s["orders"], s["customer"]),
        "lineitem": lambda: lineitem(
            rng["lineitem"], s["lineitem"], s["orders"], s["part"], s["supplier"]
        ),
        "customer": lambda: customer(rng["customer"], s["customer"]),
        "part": lambda: part(rng["part"], s["part"]),
        "supplier": lambda: supplier(rng["supplier"], s["supplier"]),
        "nation": nation,
        "region": region,
    }
    return {name: build[name]() for name in names}


def live_events(seed: int, n: int, days: int) -> pa.Table:
    """``n`` events over ``days`` days for a stream that plays a few days
    in one run. Users are as many as keep the sf tables' density of
    events per user per day (1e6 events over 15k users and 30 days, about
    2.2), so the day's distinct users keep growing as the day goes on."""
    users = max(int(round(n * sizes(1.0)["users"] * EVENTS_DAYS / (sizes(1.0)["events"] * days))), 1)
    return events(np.random.default_rng(np.random.SeedSequence([seed, days])), n, users, days)


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    """One ``<name>.parquet`` file per table, the layout
    ``sources.files.read_table`` reads."""
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
