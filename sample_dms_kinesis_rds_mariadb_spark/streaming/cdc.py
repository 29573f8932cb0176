"""CDC micro-batch → envelope transformation (SURVEY §2.2 K1-K5, §2.10).

Each micro-batch of change-feed records (sources/changefeed.py shape) becomes
envelope rows: data events for INSERT/UPDATE/DELETE with before-images
(reference dms_sample/stack.py:331-336) and transaction details (:218),
control events for DDL (:214,217). All expression-level work is Spark
built-ins over maps/structs — no Python row loop — so a micro-batch is one
codegen'd stage regardless of its size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_kinesis_rds_mariadb_spark.envelope import (
    CONTROL_OPERATIONS,
    DATA_OPERATIONS,
    partition_key_col,
)
from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings


def _metadata(
    settings: TaskSettings, record_type: str, pk_value: Column | None = None
) -> Column:
    ts = F.coalesce(F.to_timestamp(F.col("commit_ts")), F.current_timestamp())
    txn = (
        F.col("txn_id").cast("string")
        if settings.include_transaction_details
        else F.lit(None).cast("string")
    )
    include_pk = settings.include_partition_value and pk_value is not None
    return F.struct(
        F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").alias("timestamp"),
        F.lit(record_type).alias("record-type"),
        F.col("op").alias("operation"),
        F.lit(settings.partition_key_type).alias("partition-key-type"),
        (pk_value.cast("string") if include_pk else F.lit(None).cast("string")).alias(
            "partition-key-value"
        ),
        F.col("schema").alias("schema-name"),
        F.col("table").alias("table-name"),
        txn.alias("transaction-id"),
    )


def _pk_lookup_expr(pk_by_table: dict[tuple[str, str], str]) -> Column:
    """MAP<'schema.table', pk_column_name> lookup keyed by the batch row's
    (schema, table) — resolves each row's primary-key column name JVM-side."""
    pairs: list[Column] = []
    for (s, t), pk in pk_by_table.items():
        pairs.append(F.lit(f"{s}.{t}"))
        pairs.append(F.lit(pk))
    return F.element_at(
        F.create_map(*pairs), F.concat_ws(".", F.col("schema"), F.col("table"))
    )


def emitted_operations(settings: TaskSettings) -> tuple[str, ...]:
    """The operations :func:`encode_change_batch` emits envelopes for under
    ``settings``. The CDC statistics count exactly these, so the stream's
    record counts and the per-table statistics cannot drift apart."""
    return DATA_OPERATIONS + tuple(
        op
        for op in CONTROL_OPERATIONS
        if settings.include_control_records
        and (op != "alter-table" or settings.include_table_alter_operations)
    )


def encode_change_batch(
    batch: DataFrame,
    settings: TaskSettings,
    pk_by_table: dict[tuple[str, str], str] | None = None,
) -> DataFrame:
    """Envelope rows for one change-feed micro-batch, ordered by ``seq``
    (binlog commit order → ``_order``; single-shard sink reproduces it as
    arrival order, SURVEY §4 X2).

    ``pk_by_table`` feeds the ``pk-only`` before-image variant noted at
    reference stack.py:335: the before map is filtered to the table's primary
    key column.
    """
    null_map = F.lit(None).cast(T.MapType(T.StringType(), T.StringType()))

    data_map = F.col("data")
    if not settings.include_null_and_empty:
        data_map = F.map_filter(data_map, lambda k, v: v.isNotNull() & (v != F.lit("")))

    before_map: Column = null_map
    if settings.before_image:
        before_map = F.when(F.col("op").isin("update", "delete"), F.col("before"))
        if settings.before_image_type == "pk-only" and pk_by_table:
            pk_lookup = _pk_lookup_expr(pk_by_table)
            before_map = F.when(
                F.col("op").isin("update", "delete"),
                F.map_filter(F.col("before"), lambda k, v: k == pk_lookup),
            )

    # each row's PK value, pulled from its own data map by the table's PK
    # column name — feeds partition-key-value metadata and the primary-key
    # routing mode (one expression, codegen'd; no per-table branching)
    pk_value: Column | None = None
    if pk_by_table:
        pk_value = F.element_at(F.col("data"), _pk_lookup_expr(pk_by_table))

    data_events = batch.filter(F.col("op").isin(*DATA_OPERATIONS)).select(
        data_map.alias("data"),
        before_map.alias("before-image"),
        _metadata(settings, "data", pk_value=pk_value).alias("metadata"),
        F.col("seq").alias("_order"),
        *([pk_value.cast("string").alias("_pk")] if pk_value is not None else []),
    )

    control_ops = [
        op for op in emitted_operations(settings) if op in CONTROL_OPERATIONS
    ]
    control_events = batch.filter(F.col("op").isin(*control_ops)).select(
        null_map.alias("data"),
        null_map.alias("before-image"),
        _metadata(settings, "control").alias("metadata"),
        F.col("seq").alias("_order"),
        *(
            [F.lit(None).cast("string").alias("_pk")]
            if pk_value is not None
            else []
        ),
    )

    out = data_events.unionByName(control_events)
    out = out.withColumn(
        "partition_key",
        partition_key_col(
            settings, F.col("_pk") if pk_value is not None else None
        ),
    )
    return out.drop("_pk") if pk_value is not None else out
