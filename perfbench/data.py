"""Seeded inputs: the batch tables the reference suites read, and the
stamped event files of the streaming workloads.

The same seed gives the same rows.  Only the creation stamps of
streamed events (``gen_ns``) come from the wall clock, because they
are the times the open-loop generator was due to create each event.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts of the sf0.1 tables the reference suites read.
SF01_ROWS = {"customer": 15_000, "orders": 150_000, "lineitem": 600_000,
             "events": 100_000}

_US_PER_DAY = 86_400_000_000
_JAN_2024_US = 1_704_067_200_000_000


def _days(rng, n, first_year, last_year):
    lo = (np.datetime64(f"{first_year}-01-01") - np.datetime64("1970-01-01"))
    hi = (np.datetime64(f"{last_year}-12-31") - np.datetime64("1970-01-01"))
    d = rng.integers(lo.astype(int), hi.astype(int) + 1, n)
    return pa.array(d * _US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def write_batch_tables(out_dir: str, seed: int) -> None:
    """customer, orders, lineitem and events as ``<out_dir>/<name>.parquet``
    with the row counts, column names, arrow types and key ranges of the
    repo's sf0.1 test tables (TESTDATA.md), one row group each; events.ts
    is TIMESTAMP(MICROS), as in those files."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = SF01_ROWS
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                         "HOUSEHOLD", "MACHINERY"])
    tables = {
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"], dtype=np.int32),
            "c_acctbal": _money(rng, n["customer"], -999.99, 9999.99),
            "c_mktsegment": segments[rng.integers(0, 5, n["customer"])],
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": np.array(["O", "F", "P"])[
                rng.integers(0, 3, n["orders"])],
            "o_totalprice": _money(rng, n["orders"], 800.0, 500_000.0),
            "o_orderdate": _days(rng, n["orders"], 1992, 2001),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                 "5-LOW"])[rng.integers(0, 5, n["orders"])],
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, 20_000, n["lineitem"]),
            "l_suppkey": rng.integers(0, 1_000, n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"], dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(float),
            "l_extendedprice": _money(rng, n["lineitem"], 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100.0,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[
                rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": np.array(["O", "F"])[
                rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _days(rng, n["lineitem"], 1995, 2001),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": pa.array(np.sort(_JAN_2024_US + rng.integers(
                0, 30 * _US_PER_DAY, n["events"])), pa.timestamp("us")),
            "user_id": rng.integers(0, 1_500, n["events"]),
            "event_type": np.array(["view", "click", "purchase", "signup",
                                    "error"])[rng.integers(0, 5, n["events"])],
            "value": np.round(rng.exponential(60.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}'
                      for k in rng.integers(0, 100, n["events"])],
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# Streamed events
# ---------------------------------------------------------------------------

STREAM_SCHEMA = ("event_id long, ad_id long, user_id long, "
                 "event_type string, ts timestamp, gen_ns long")
EVENT_TYPES = np.array(["view", "click", "purchase"])
N_ADS, N_CAMPAIGNS = 1_000, 100
# Event time of file 0; every file advances it by the spec's span.
STREAM_T0_US = 1_735_689_600_000_000


class StreamSpec:
    """Shape of one workload's event files.  File ``i`` holds
    ``rows`` events whose event times lie in
    ``[T0 + i*span, T0 + (i+1)*span)``, so files written in order never
    carry events behind the watermark of earlier ones."""

    def __init__(self, rows: int, span_us: int, n_users: int):
        self.rows, self.span_us, self.n_users = rows, span_us, n_users

    def file_table(self, rng, i: int, gen_ns: np.ndarray) -> pa.Table:
        n = self.rows
        offs = np.sort(rng.integers(0, self.span_us, n))
        return pa.table({
            "event_id": np.arange(i * n, (i + 1) * n, dtype=np.int64),
            "ad_id": rng.integers(0, N_ADS, n),
            "user_id": rng.integers(0, self.n_users, n),
            "event_type": EVENT_TYPES[rng.integers(0, 3, n)],
            "ts": pa.array(STREAM_T0_US + i * self.span_us + offs,
                           pa.timestamp("us")),
            "gen_ns": gen_ns.astype(np.int64),
        })


def write_file(table: pa.Table, out_dir: str, i: int) -> None:
    """Write, then rename into place, so the file source never lists a
    partial file."""
    tmp = os.path.join(out_dir, f".part-{i:06d}.tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(out_dir, f"part-{i:06d}.parquet"))


def write_campaigns(path: str) -> None:
    ads = np.arange(N_ADS, dtype=np.int64)
    pq.write_table(pa.table({"ad_id": ads, "campaign_id": ads % N_CAMPAIGNS}),
                   path)


def write_backlog(spec: StreamSpec, out_dir: str, seed: int, first: int,
                  count: int) -> None:
    """Files ``first .. first+count-1``, all stamped now."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, first])
    now = np.full(spec.rows, time.time_ns())
    for i in range(first, first + count):
        write_file(spec.file_table(rng, i, now), out_dir, i)


class OpenLoopGenerator(threading.Thread):
    """Writes files ``first, first+1, ...`` into ``out_dir`` on a fixed
    schedule that does not slow when the query slows: file ``k`` of the
    run is due ``(k+1)*interval`` after the start, and its events are
    stamped with the times they were due to be created, spread evenly
    over the preceding interval.  ``log`` keeps, per written file, its
    index, due time and the time it landed (``time.time_ns``)."""

    def __init__(self, spec: StreamSpec, out_dir: str, seed: int, first: int,
                 count: int, interval_s: float):
        super().__init__(daemon=True, name="open-loop-generator")
        self.spec, self.out_dir, self.first = spec, out_dir, first
        self.count, self.interval_ns = count, int(interval_s * 1e9)
        self._rng = np.random.default_rng([seed, first])
        self._stop_evt = threading.Event()
        self.log: list[tuple[int, int, int]] = []
        self.tables: dict[int, pa.Table] = {}
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            start = time.time_ns()
            frac = (np.arange(self.spec.rows) + 1) / self.spec.rows
            for k in range(self.count):
                i = self.first + k
                due = start + (k + 1) * self.interval_ns
                stamps = due - self.interval_ns + frac * self.interval_ns
                table = self.spec.file_table(self._rng, i, stamps)
                wait = (due - time.time_ns()) / 1e9
                if wait > 0 and self._stop_evt.wait(wait):
                    return
                write_file(table, self.out_dir, i)
                self.tables[i] = table
                self.log.append((i, due, time.time_ns()))
        except BaseException as e:  # surfaced by the workload as a failure
            self.error = e

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=30)
