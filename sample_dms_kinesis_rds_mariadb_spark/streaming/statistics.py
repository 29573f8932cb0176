"""Per-table replication statistics (SURVEY §2.6 A2).

The reference exposes DMS ``TableStatistics`` — FullLoadRows,
FullLoadErrorRows, Inserts, Updates, Deletes, Ddls, TableState per
(SchemaName, TableName), ordered by the two keys (reference run.py:202-209;
asserted tests/test_infra.py:584-643).

Counters are accumulated from ``(schema, table, operation, n)`` rows, at most
|tables|×|operations| per batch, never from per-record driver work, and the
task paths add no Spark job for them. A CDC micro-batch passes the counts its
one batch summary already holds (the task's ``groupBy(schema, table, op)``
collect, limited to the operations the envelope encoder emits). A full load
passes the counts observed on its envelope write (one conditional count per
table and full-load operation, ``snapshot.full_load_operations``).
:meth:`StatisticsService.record_batch` serves a caller holding only an
envelope frame: it reduces the frame executor-side and collects the
aggregate, an extra pass over the frame.
"""

from __future__ import annotations

import threading
from dataclasses import asdict, dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATS_COLUMNS = [
    "SchemaName",
    "TableName",
    "FullLoadRows",
    "FullLoadErrorRows",
    "Inserts",
    "Updates",
    "Deletes",
    "Ddls",
    "TableState",
]

_OP_TO_FIELD = {
    "load": "FullLoadRows",
    "insert": "Inserts",
    "update": "Updates",
    "delete": "Deletes",
    "create-table": "Ddls",
    "drop-table": "Ddls",
    "alter-table": "Ddls",
}


@dataclass
class TableStats:
    SchemaName: str
    TableName: str
    FullLoadRows: int = 0
    FullLoadErrorRows: int = 0
    Inserts: int = 0
    Updates: int = 0
    Deletes: int = 0
    Ddls: int = 0
    TableState: str = "Before load"

    def as_dict(self) -> dict:
        return asdict(self)


@dataclass
class StatisticsService:
    """Rolling counters per (task, schema, table)."""

    _stats: dict[tuple[str, str, str], TableStats] = field(default_factory=dict)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def _entry(self, task_id: str, schema: str, table: str) -> TableStats:
        key = (task_id, schema, table)
        if key not in self._stats:
            self._stats[key] = TableStats(SchemaName=schema, TableName=table)
        return self._stats[key]

    def record_batch(self, task_id: str, env_df: DataFrame) -> None:
        """Accumulate from an envelope batch; only the per-(table, op) counts
        are collected (bounded by table count, not row count)."""
        agg = (
            env_df.groupBy(
                F.col("metadata.`schema-name`").alias("s"),
                F.col("metadata.`table-name`").alias("t"),
                F.col("metadata.operation").alias("op"),
            )
            .count()
            .collect()
        )
        self.record_operation_counts(
            task_id, [(r["s"], r["t"], r["op"], r["count"]) for r in agg]
        )

    def record_operation_counts(
        self, task_id: str, counts: list[tuple[str, str, str, int]]
    ) -> None:
        """The one accumulator: add ``(schema, table, operation, n)`` rows
        (operations without a counter are ignored)."""
        with self._lock:
            for schema, table, op, n in counts:
                fld = _OP_TO_FIELD.get(op)
                if fld is None:
                    continue
                e = self._entry(task_id, schema, table)
                setattr(e, fld, getattr(e, fld) + n)
                if op == "load":
                    e.TableState = "Full load"
                elif e.TableState == "Before load":
                    e.TableState = "Table completed"

    def mark_table_state(self, task_id: str, schema: str, table: str, state: str) -> None:
        with self._lock:
            self._entry(task_id, schema, table).TableState = state

    def table_statistics(self, task_id: str) -> list[dict]:
        """Sorted by (SchemaName, TableName) — reference run.py:206-208 (O1)."""
        with self._lock:
            entries = [
                v.as_dict()
                for (t, _, _), v in self._stats.items()
                if t == task_id
            ]
        return sorted(entries, key=lambda x: (x["SchemaName"], x["TableName"]))

    def table_statistics_df(self, spark: SparkSession, task_id: str) -> DataFrame:
        rows = self.table_statistics(task_id)
        schema = (
            "SchemaName STRING, TableName STRING, FullLoadRows LONG, "
            "FullLoadErrorRows LONG, Inserts LONG, Updates LONG, Deletes LONG, "
            "Ddls LONG, TableState STRING"
        )
        df = spark.createDataFrame(
            [tuple(r[c] for c in STATS_COLUMNS) for r in rows], schema
        )
        return df.orderBy("SchemaName", "TableName")
