"""Seeded input generators.

Everything the program reads is written here, from the ``--seed`` argument
alone: the same seed gives byte-identical files.  Generation uses NumPy and
pyarrow, not Spark, so it neither warms the engine nor shows up in its
status store.  Tables carry the schemas that ``catalog.SCHEMAS`` declares,
so every load goes through the program's own validation gate.

Three families:

- ``write_star_schema``: the eight relational tables the warehouse registry
  rows read, with the value domains the registry's literal predicates
  expect (orders 1995-01-01..2001-08-01, events in January 2024,
  ``NATION_<i>`` names and so on).
- ``EtlSource``: one source directory per business day for
  ``pipelines.run_daily_etl`` (orders, lineitem, customer, supplier).  Day 0
  is the bulk load; every later day churns a fixed share of existing
  customer keys and adds a few new ones.
- ``write_event_chunks``: one day of events as chronological parquet chunk
  files for the streaming pipeline, with +-4 min event-time jitter and 2 %
  exact redeliveries; the workload moves them into the stream's source
  directory when the day starts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "gizmo", "plate", "gear", "rod", "anvil", "bolt"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]

_US_PER_DAY = 86_400_000_000


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _epoch_us(day: str) -> int:
    d = dt.datetime.fromisoformat(day).replace(tzinfo=dt.timezone.utc)
    return int(d.timestamp()) * 1_000_000


def _ts(us: np.ndarray, tz: str | None = None) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us", tz))


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """SplitMix64 finalizer of ``x`` salted with ``seed`` (uint64, wraps)."""
    z = x.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(path: str, columns: dict[str, pa.Array | np.ndarray | list]) -> None:
    pq.write_table(pa.table(columns), path)


# ---------------------------------------------------------------------------
# warehouse star schema
# ---------------------------------------------------------------------------


def write_star_schema(out_dir: str, seed: int, scale: float) -> None:
    """Write region..events at ``scale`` (1.0 = 600k lineitem rows) into
    ``out_dir/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_orders = int(1_500_000 * scale)
    n_line = 4 * n_orders
    n_events = int(1_000_000 * scale)
    p = lambda t: os.path.join(out_dir, f"{t}.parquet")  # noqa: E731

    _write(p("region"), {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    keys = np.arange(25)
    _write(p("nation"), {
        "n_nationkey": pa.array(keys, pa.int32()),
        "n_name": [f"NATION_{i}" for i in keys],
        "n_regionkey": pa.array(keys % 5, pa.int32()),
    })

    r = _rng(seed, 1)
    keys = np.arange(n_cust)
    _write(p("customer"), {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in keys],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, n_cust)],
    })

    r = _rng(seed, 2)
    keys = np.arange(n_supp)
    _write(p("supplier"), {
        "s_suppkey": pa.array(keys, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in keys],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
    })

    r = _rng(seed, 3)
    keys = np.arange(n_part)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write(p("part"), {
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": names[r.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[r.integers(0, len(PART_TYPES), n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    })

    r = _rng(seed, 4)
    lo, hi = _epoch_us("1995-01-01"), _epoch_us("2001-08-01")
    days = r.integers(0, (hi - lo) // _US_PER_DAY + 1, n_orders)
    _write(p("orders"), {
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
        "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _ts(lo + days * _US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
    })

    r = _rng(seed, 5)
    lo, hi = _epoch_us("1995-01-02"), _epoch_us("2001-11-04")
    days = r.integers(0, (hi - lo) // _US_PER_DAY + 1, n_line)
    flags = r.integers(0, 6, n_line)
    _write(p("lineitem"), {
        "l_orderkey": pa.array(r.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["F", "O"])[flags % 2],
        "l_shipdate": _ts(lo + days * _US_PER_DAY),
    })

    r = _rng(seed, 6)
    lo = _epoch_us("2024-01-01")
    ts = np.sort(lo + r.integers(0, 30 * _US_PER_DAY, n_events))
    _write(p("events"), {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(r.integers(0, max(1, n_events // 66), n_events), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n_events)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)],
    })


# ---------------------------------------------------------------------------
# daily ETL sources
# ---------------------------------------------------------------------------


class EtlSource:
    """Per-day source directories for ``run_daily_etl``.

    Day 0 lands one order per customer key (the bulk initial load).  Each
    later day lands one order for each of ``churn * n_keys`` existing keys,
    whose tracked ``c_acctbal`` changes that day, plus one order for each of
    ``new * n_keys`` brand-new keys.  The customer and supplier tables are
    full snapshots as of the day.  ``day_facts[d]`` records what the day
    should do to the warehouse, for the output checks."""

    START = dt.date(2024, 6, 1)

    def __init__(self, seed: int, n_keys: int, churn: float = 0.10, new: float = 0.001):
        self.seed = seed
        self.n_churn = int(n_keys * churn)
        self.n_new = max(1, int(n_keys * new))
        self.n_supp = max(10, n_keys // 100)
        r = _rng(seed, 10)
        self._acctbal = _money(r, -999.99, 9999.99, n_keys)
        self._nation = r.integers(0, 25, n_keys)
        self._segment = r.integers(0, 5, n_keys)
        self._next_order = 0
        self.day_facts: dict[int, dict] = {}

    def run_date(self, day: int) -> str:
        return (self.START + dt.timedelta(days=day)).isoformat()

    def write_day(self, root: str, day: int) -> str:
        """Write day ``day``'s source (days must be written in order);
        returns its directory."""
        src = os.path.join(root, f"etl_day{day:02d}")
        os.makedirs(src, exist_ok=True)
        r = _rng(self.seed, 100 + day)
        n_old = len(self._acctbal)
        if day == 0:
            cust = np.arange(n_old)
            churned = np.empty(0, dtype=np.int64)
        else:
            churned = np.sort(r.choice(n_old, self.n_churn, replace=False))
            # a strictly positive drift, so every staged existing key changes
            self._acctbal[churned] = np.round(
                self._acctbal[churned] + r.integers(1, 1000, len(churned)) / 100.0, 2
            )
            new_keys = np.arange(n_old, n_old + self.n_new)
            self._acctbal = np.concatenate([self._acctbal, _money(r, -999.99, 9999.99, self.n_new)])
            self._nation = np.concatenate([self._nation, r.integers(0, 25, self.n_new)])
            self._segment = np.concatenate([self._segment, r.integers(0, 5, self.n_new)])
            cust = np.concatenate([churned, new_keys])
        n_cust = len(self._acctbal)
        keys = np.arange(n_cust)
        _write(os.path.join(src, "customer.parquet"), {
            "c_custkey": pa.array(keys, pa.int64()),
            "c_name": [f"cust_{i}" for i in keys],
            "c_nationkey": pa.array(self._nation, pa.int32()),
            "c_acctbal": self._acctbal,
            "c_mktsegment": np.array(SEGMENTS)[self._segment],
        })
        rs = _rng(self.seed, 11)
        skeys = np.arange(self.n_supp)
        _write(os.path.join(src, "supplier.parquet"), {
            "s_suppkey": pa.array(skeys, pa.int64()),
            "s_name": [f"supp_{i}" for i in skeys],
            "s_nationkey": pa.array(rs.integers(0, 25, self.n_supp), pa.int32()),
            "s_acctbal": _money(rs, -999.99, 9999.99, self.n_supp),
        })

        n_orders = len(cust)
        okeys = self._next_order + np.arange(n_orders)
        self._next_order += n_orders
        day_us = _epoch_us(self.run_date(day))
        _write(os.path.join(src, "orders.parquet"), {
            "o_orderkey": pa.array(okeys, pa.int64()),
            "o_custkey": pa.array(r.permutation(cust), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_orders)],
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_orders),
            "o_orderdate": _ts(np.full(n_orders, day_us)),
            "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, n_orders)],
        })
        per_order = r.integers(1, 8, n_orders)
        n_line = int(per_order.sum())
        flags = r.integers(0, 6, n_line)
        _write(os.path.join(src, "lineitem.parquet"), {
            "l_orderkey": pa.array(np.repeat(okeys, per_order), pa.int64()),
            "l_partkey": pa.array(r.integers(0, 1000, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, self.n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(
                np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()
            ),
            "l_quantity": r.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
            "l_linestatus": np.array(["F", "O"])[flags % 2],
            "l_shipdate": _ts(np.full(n_line, day_us + _US_PER_DAY)),
        })
        self.day_facts[day] = {
            "run_date": self.run_date(day),
            "orders": n_orders,
            "order_keys": (int(okeys[0]), int(okeys[-1])),
            "churned": len(churned),
            "n_keys": n_cust,
        }
        return src


# ---------------------------------------------------------------------------
# event stream chunks
# ---------------------------------------------------------------------------

STREAM_EVENT_TYPES = ["ping", "move", "scan", "drop"]


def write_event_chunks(
    out_dir: str, seed: int, day: int, run_date: str, n_events: int, n_users: int, n_chunks: int
) -> None:
    """Write one day of events into ``out_dir`` as ``n_chunks``
    chronological parquet files (one micro-batch each).  Event ids continue
    across days; every 50th event re-emits its predecessor byte for byte (a
    redelivery); consecutive ids come in bursts of four types per user, so
    every user sees every type."""
    os.makedirs(out_dir, exist_ok=True)
    base = day * n_events
    ids = base + np.arange(n_events, dtype=np.int64)
    eid = np.where(ids % 50 == 49, ids - 1, ids)
    # jitter and value are functions of (seed, event id), so a redelivery
    # is an exact copy of its original
    jitter_s = (_mix(eid, seed) % 481).astype(np.int64) - 240
    value = np.round(-12.0 * np.log1p(-(_mix(eid, seed + 1) % 10_000) / 10_000.0), 2)
    day_us = _epoch_us(run_date)
    ts = day_us + (eid - base) * (_US_PER_DAY // n_events) + jitter_s * 1_000_000
    ts = np.clip(ts, day_us, day_us + _US_PER_DAY - 1)
    per = n_events // n_chunks
    for c in range(n_chunks):
        lo, hi = c * per, (c + 1) * per if c < n_chunks - 1 else n_events
        e = eid[lo:hi]
        _write(os.path.join(out_dir, f"day{day:02d}_chunk{c:02d}.parquet"), {
            "event_id": pa.array(e, pa.int64()),
            "ts": _ts(ts[lo:hi], "UTC"),
            "user_id": pa.array((e // 4) % n_users, pa.int64()),
            "event_type": np.array(STREAM_EVENT_TYPES)[e % 4],
            "value": value[lo:hi],
            "props": [f'{{"seq": {int(i)}}}' for i in e],
        })
