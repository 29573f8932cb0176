"""Correctness oracle: each check compares the engine's public outputs with
the generator's ledger and returns the number of operations it found wrong
(0 = pass), printing what differed to stderr."""

from __future__ import annotations

import hashlib
import os
import sys
from decimal import Decimal

from pyspark.sql import functions as F

from common import SCHEMA

EXCEPTIONS_TABLE = "awsdms_apply_exceptions"


def _report(check: str, detail) -> None:
    print(f"oracle: {check} mismatch: {detail}", file=sys.stderr)


def _canon(v) -> str:
    if isinstance(v, Decimal):
        return format(v, "f")
    return str(v)


def checksum(rows, columns: list[str]) -> tuple[int, int]:
    """Order-independent (count, sum of row digests mod 2^64)."""
    acc = n = 0
    for r in rows:
        line = "\x01".join(_canon(r.get(c)) for c in columns)
        acc += int.from_bytes(hashlib.blake2b(line.encode(), digest_size=8).digest(), "big")
        n += 1
    return n, acc % (1 << 64)


def stream_records(eng):
    """(table, operation, file) per stream record, grouped with counts."""
    recs = eng.spark.read.parquet(os.path.join(eng.store.path, "records"))
    return (
        recs.select(
            F.get_json_object("Data", "$.metadata.table-name").alias("t"),
            F.get_json_object("Data", "$.metadata.operation").alias("op"),
            F.input_file_name().alias("f"),
        )
        .groupBy("t", "op", "f")
        .count()
        .collect()
    )


def check_stream_counts(grouped, expected: dict[tuple[str, str], int]) -> int:
    got: dict[tuple[str, str], int] = {}
    for r in grouped:
        got[(r["t"], r["op"])] = got.get((r["t"], r["op"]), 0) + r["count"]
    bad = sum(abs(got.get(k, 0) - expected.get(k, 0)) for k in set(got) | set(expected))
    if bad:
        _report("stream counts", {"expected": expected, "got": got})
    return bad


def file_mtimes(grouped) -> list[tuple[float, int]]:
    """(mtime of the record file, record count) per file in ``grouped``."""
    per_file: dict[str, int] = {}
    for r in grouped:
        per_file[r["f"]] = per_file.get(r["f"], 0) + r["count"]
    return [
        (os.path.getmtime(f.removeprefix("file:")), n) for f, n in per_file.items()
    ]


def check_statistics(eng, task_id: str, expected: dict[tuple[str, str], int]) -> int:
    fields = {"insert": "Inserts", "update": "Updates", "delete": "Deletes",
              "load": "FullLoadRows"}
    want: dict[tuple[str, str], int] = {}
    for (t, op), n in expected.items():
        fld = fields.get(op, "Ddls")
        want[(t, fld)] = want.get((t, fld), 0) + n
    got = {}
    for e in eng.describe_table_statistics(task_id):
        for fld in ("FullLoadRows", "Inserts", "Updates", "Deletes", "Ddls"):
            if e[fld]:
                got[(e["TableName"], fld)] = e[fld]
    bad = sum(abs(got.get(k, 0) - want.get(k, 0)) for k in set(got) | set(want))
    if bad:
        _report("table statistics", {"expected": want, "got": got})
    return bad


def check_schema(eng, table: str, expected: list[dict]) -> int:
    got = eng.describe_table(SCHEMA, table)
    if got != expected:
        _report(f"describe_table({table})", {"expected": expected, "got": got})
        return 1
    return 0


def check_state(eng, table: str, expected_rows: dict) -> int:
    """Materialized table vs the ledger's final rows (by checksum); the
    wrong-row count is the size of the symmetric difference."""
    df = eng.materializer.table(SCHEMA, table)
    cols = df.columns
    got_rows = [r.asDict() for r in df.collect()]
    want = checksum(expected_rows.values(), cols)
    got = checksum(got_rows, cols)
    if want == got:
        return 0
    canon = lambda rows: {"\x01".join(_canon(r.get(c)) for c in cols) for r in rows}  # noqa: E731
    diff = canon(expected_rows.values()) ^ canon(got_rows)
    _report(f"state of {table}", {"rows_expected": want[0], "rows_got": got[0],
                                  "differing": len(diff)})
    return max(1, len(diff))


def check_no_apply_exceptions(eng) -> int:
    if eng.materializer.exists(SCHEMA, EXCEPTIONS_TABLE):
        n = eng.materializer.table(SCHEMA, EXCEPTIONS_TABLE).count()
        if n:
            _report("apply exceptions", n)
            return n
    return 0
