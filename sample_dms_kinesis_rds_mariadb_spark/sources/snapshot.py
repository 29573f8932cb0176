"""Full-table snapshot scan — the "full load" source (SURVEY §2.1 S1).

The reference's full-load task reads every row of each selected table once
and emits drop-table + create-table control events followed by one ``load``
event per row, then ends in ``stopped`` (reference dms_sample/stack.py:
141-186; count contracts run.py:247-248, 257-258).

Spark-first: the snapshot is a plain batch scan (parquet / JDBC / in-memory
view) — Catalyst prunes columns and pushes predicates; the envelope
projection is all built-in expressions, so the whole per-table pipeline is
one WholeStageCodegen span and parallelizes by input split. Per-table event
order (controls first, then rows) is established by a cheap ``_order``
column, never a global sort: control events get fixed ranks 0 and 1, data
rows rank ≥ 2 via ``monotonically_increasing_id`` (partition-local, no
shuffle) — sufficient because the contract orders controls before data, not
data rows among themselves.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
from sample_dms_kinesis_rds_mariadb_spark.envelope import (
    control_events,
    encode_data_events,
)
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import observed_metrics
from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings


# Per-table order band: table k's events get _order in [k*2^55, (k+1)*2^55).
# monotonically_increasing_id() = partitionId*2^33 + offset, so with the scan
# capped at < 2^21 (~2M) input partitions the ids top out below 2^54 —
# half a band of headroom over the +2 control-rank offset (the exact-corner
# overlap at a 2^22 cap was caught by tests/test_properties.py). 2M splits is
# far beyond any single table's partition count; enforced in
# snapshot_table_events. 2^63/2^55 = 256 bands caps one full-load TASK at
# 255 tables (asserted in snapshot_task_events); larger inventories split
# into multiple tasks, which is also the reference's operational model (its
# 4 tasks each select a handful of tables). The whole task stays ONE
# DataFrame → one write job, not 2×T driver-scheduled jobs.
_ORDER_BAND = 1 << 55
_MAX_TABLES_PER_TASK = 255
_MAX_SCAN_PARTITIONS = 1 << 21


def snapshot_table_events(
    spark: SparkSession,
    catalog: SourceCatalog,
    endpoint: str,
    schema_name: str,
    table_name: str,
    settings: TaskSettings,
    band: int = 0,
    pk_column: str | None = None,
) -> DataFrame:
    """Envelope stream for one table's full load: drop-table + create-table
    controls then one ``load`` event per row (run.py:247-248 contract shape),
    with ``_order`` marking within-table emission order.

    ``pk_column`` routes each row's partition key by primary key in
    ``primary-key`` partition mode — REQUIRED for the sink to parallelize a
    single table's load across shards (without it, one table = one key = one
    shard = serial).
    """
    df = catalog.load(endpoint, schema_name, table_name)
    # metadata-only partition count check (no job): the band arithmetic is
    # only collision-free while mono-ids stay under the band width
    n_parts = df.rdd.getNumPartitions()
    if n_parts >= _MAX_SCAN_PARTITIONS:
        raise ValueError(
            f"{schema_name}.{table_name}: {n_parts} scan partitions exceeds "
            f"the order-band capacity ({_MAX_SCAN_PARTITIONS}); coalesce the "
            "input or split the table across tasks"
        )
    base = band * _ORDER_BAND

    rows = encode_data_events(
        df, schema_name, table_name, "load", settings, pk_column=pk_column
    ).withColumn("_order", F.lit(base + 2) + F.monotonically_increasing_id())
    control_ops = [op for op in full_load_operations(settings) if op != "load"]
    if not control_ops:
        return rows

    controls = control_events(
        spark, [(schema_name, table_name, op) for op in control_ops], settings
    ).withColumn("_order", (F.col("_order") + F.lit(base)).cast("long"))
    return controls.unionByName(rows)


def full_load_operations(settings: TaskSettings) -> tuple[str, ...]:
    """The operations a full load emits envelopes for under ``settings``, in
    per-table emission order. The full-load statistics count exactly these,
    so the stream's record counts and the per-table statistics cannot drift
    apart."""
    controls = ("drop-table", "create-table")
    return (controls if settings.include_control_records else ()) + ("load",)


def snapshot_task_events(
    spark: SparkSession,
    catalog: SourceCatalog,
    endpoint: str,
    tables: list[tuple[str, str]],
    settings: TaskSettings,
    pk_by_table: dict[tuple[str, str], str] | None = None,
) -> tuple[DataFrame, Callable[[], list[tuple[str, str, str, int]]]]:
    """All selected tables' full-load events as ONE DataFrame, ordered
    drop → create → rows per table, tables in sorted order (the task-level
    emission order observed in run.py:247-248).

    Also returns ``operation_counts``: once an action has run the frame, it
    gives ``(schema, table, operation, records)`` for every selected table
    and every operation in :func:`full_load_operations`. A table's ``load``
    records are one ``observe()`` count of its events' ``data`` on that
    action (control records carry none), so they cost no pass of their
    own; its control records are constants, one of each control operation.
    """
    if len(tables) > _MAX_TABLES_PER_TASK:
        raise ValueError(
            f"{len(tables)} tables exceeds the per-task band capacity "
            f"({_MAX_TABLES_PER_TASK}); split the selection across tasks"
        )
    pk_by_table = pk_by_table or {}
    observations = [Observation() for _ in tables]
    parts = [
        snapshot_table_events(
            spark,
            catalog,
            endpoint,
            schema_name,
            table_name,
            settings,
            band=i,
            pk_column=pk_by_table.get((schema_name, table_name)),
        ).observe(obs, F.count("data").alias("load"))
        for i, ((schema_name, table_name), obs) in enumerate(zip(tables, observations))
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)

    def operation_counts() -> list[tuple[str, str, str, int]]:
        return [
            (
                schema_name,
                table_name,
                op,
                int(metrics.get("load", 0)) if op == "load" else 1,
            )
            for (schema_name, table_name), metrics in zip(
                tables, map(observed_metrics, observations)
            )
            for op in full_load_operations(settings)
        ]

    return out, operation_counts
