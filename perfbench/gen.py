"""Seeded input generator: the rotated binlog chain of ``cdc_bulk`` and a
ledger of what it wrote (counts per table and operation, and the expected
final rows) for the correctness oracle. The binlog is encoded by the
repository's independent test-side writer, ``tests/binlog_writer.py``."""

from __future__ import annotations

import os
import random

from binlog_writer import LONG, LONGLONG, NEWDECIMAL, VARCHAR, BinlogWriter, Col

from common import SCHEMA

# table -> (columns, Spark DDL of the registered target schema, pk)
BULK_TABLES = {
    "lineitem": (
        [Col("l_id", LONGLONG), Col("l_orderkey", LONGLONG),
         Col("l_quantity", LONG), Col("l_extendedprice", NEWDECIMAL, (12, 2)),
         Col("l_shipmode", VARCHAR, (10,))],
        "l_id long, l_orderkey long, l_quantity int, "
        "l_extendedprice decimal(12,2), l_shipmode string",
        "l_id",
    ),
    "orders": (
        [Col("o_orderkey", LONGLONG), Col("o_custkey", LONGLONG),
         Col("o_status", VARCHAR, (1,)), Col("o_totalprice", NEWDECIMAL, (12, 2)),
         Col("o_comment", VARCHAR, (40,))],
        "o_orderkey long, o_custkey long, o_status string, "
        "o_totalprice decimal(12,2), o_comment string",
        "o_orderkey",
    ),
    "customer": (
        [Col("c_custkey", LONGLONG), Col("c_name", VARCHAR, (25,)),
         Col("c_acctbal", NEWDECIMAL, (12, 2)), Col("c_segment", VARCHAR, (10,))],
        "c_custkey long, c_name string, c_acctbal decimal(12,2), c_segment string",
        "c_custkey",
    ),
}
# on the binlog, but excluded by the task's selection rule
EXCLUDED_TABLE = "tmp_audit"
EXCLUDED_COLS = [Col("a_id", LONGLONG), Col("a_note", VARCHAR, (40,))]
ALTER_TABLE = "orders"
ALTER_SQL = "ALTER TABLE orders ADD COLUMN o_shippriority INT DEFAULT 0"
ALTER_COL = Col("o_shippriority", LONG)

SHIPMODES = ["AIR", "RAIL", "SHIP", "TRUCK", "MAIL", "FOB"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def money(rng: random.Random) -> str:
    cents = rng.randrange(100, 10_000_000)
    return f"{cents // 100}.{cents % 100:02d}"


def _row(rng: random.Random, table: str, key: int, altered: bool) -> dict:
    if table == "lineitem":
        return {"l_id": key, "l_orderkey": rng.randrange(1, 1 << 20),
                "l_quantity": rng.randrange(1, 51),
                "l_extendedprice": money(rng),
                "l_shipmode": rng.choice(SHIPMODES)}
    if table == "orders":
        row = {"o_orderkey": key, "o_custkey": rng.randrange(1, 1 << 16),
               "o_status": rng.choice("FOP"), "o_totalprice": money(rng),
               "o_comment": f"order {rng.randrange(1 << 30):x}"}
        if altered:
            row["o_shippriority"] = rng.randrange(1, 6)
        return row
    if table == "customer":
        return {"c_custkey": key, "c_name": f"Customer#{key:09d}",
                "c_acctbal": money(rng), "c_segment": rng.choice(SEGMENTS)}
    return {"a_id": key, "a_note": f"audit {rng.randrange(1 << 30):x}"}


class Ledger:
    """What a generator committed: event counts per (table, op) and the
    final row per primary key, per table."""

    def __init__(self) -> None:
        self.counts: dict[tuple[str, str], int] = {}
        self.rows: dict[str, dict[int, dict]] = {}
        self.events = 0

    def add(self, table: str, op: str, n: int = 1) -> None:
        self.counts[(table, op)] = self.counts.get((table, op), 0) + n
        self.events += n


def make_bulk_chain(dirpath: str, seed: int, n_events: int,
                    events_per_file: int, tail_from: int) -> tuple[str, Ledger]:
    """Write a rotated binlog chain of about ``n_events`` committed change
    events: ~60/30/10 % inserts/updates/deletes over three tables in
    multi-row transactions (updates and deletes hit earlier keys), ~10 % of
    events on ``EXCLUDED_TABLE``, and one ALTER ADD COLUMN midway.
    From event ``tail_from`` on, the chain is a lineitem-only burst of the
    same operation mix. The chain's shape (tables, operations, rows per event,
    file boundaries) is the same for every seed; the seed draws the keys
    updated or deleted and every value, so runs on different seeds do the
    same amount of work. Returns the head file and the ledger."""
    shape = random.Random(0)
    rng = random.Random(seed)
    os.makedirs(dirpath, exist_ok=True)
    led = Ledger()
    cols = {t: list(c) for t, (c, _, _) in BULK_TABLES.items()}
    cols[EXCLUDED_TABLE] = EXCLUDED_COLS
    live: dict[str, list[int]] = {t: [] for t in cols}
    state: dict[str, dict[int, dict]] = {t: {} for t in cols}
    next_key = dict.fromkeys(cols, 1)
    tables = ["lineitem", "orders", "customer", EXCLUDED_TABLE]
    mixed, tail = (50, 25, 15, 10), (1, 0, 0, 0)
    altered = False

    file_no = 1
    name = lambda k: f"mariadb-bin.{k:06d}"  # noqa: E731
    head = os.path.join(dirpath, name(1))
    w = BinlogWriter(head)
    while led.events < n_events:
        if not altered and led.events >= n_events // 2:
            w.query(SCHEMA, ALTER_SQL)
            cols[ALTER_TABLE].append(ALTER_COL)
            for row in state[ALTER_TABLE].values():
                row["o_shippriority"] = 0  # the column default
            led.add(ALTER_TABLE, "alter-table")
            altered = True
        w.begin(SCHEMA)
        for _ in range(shape.randint(1, 3)):
            t = shape.choices(tables, mixed if led.events < tail_from else tail)[0]
            n = shape.randint(1, 8)
            r = shape.random()
            if r < 0.6 or len(live[t]) < n:
                rows = []
                for _ in range(n):
                    k = next_key[t]
                    next_key[t] += 1
                    row = _row(rng, t, k, altered)
                    rows.append(row)
                    live[t].append(k)
                    state[t][k] = row
                w.write_rows(SCHEMA, t, cols[t], rows)
                led.add(t, "insert", n)
            elif r < 0.9:
                keys = rng.sample(live[t], n)
                pairs = []
                for k in keys:
                    after = _row(rng, t, k, altered)
                    pairs.append((state[t][k], after))
                    state[t][k] = after
                w.update_rows(SCHEMA, t, cols[t], pairs)
                led.add(t, "update", n)
            else:
                idx = sorted(rng.sample(range(len(live[t])), n), reverse=True)
                keys = [live[t][i] for i in idx]
                for i in idx:
                    live[t][i] = live[t][-1]
                    live[t].pop()
                w.delete_rows(SCHEMA, t, cols[t], [state[t].pop(k) for k in keys])
                led.add(t, "delete", n)
        w.xid()
        in_file = led.events - (file_no - 1) * events_per_file
        if in_file >= events_per_file and led.events < n_events:
            file_no += 1
            w.rotate(name(file_no))
            w.flush()
            w = BinlogWriter(os.path.join(dirpath, name(file_no)))
    w.flush()
    led.rows = {t: state[t] for t in BULK_TABLES}
    return head, led

