"""Change-event envelope: the stream's wire format, schema + encode/decode.

This module owns the wire format. The full load, every CDC micro-batch and
the control records all encode through one projection (``_encode``) over
change-feed-shaped rows, so their envelopes cannot drift apart.

The stream's record type is the DMS-style JSON envelope (public AWS contract),
configured in the reference at dms_sample/stack.py:210-220 and observed at
run.py:196-198:

    {"data": {col: val, ...},
     "before-image": {col: val, ...},          # CDC update/delete only
     "metadata": {"timestamp": ..., "record-type": "data"|"control",
                  "operation": "load"|"insert"|"update"|"delete"|
                               "create-table"|"drop-table"|"alter-table",
                  "partition-key-type": "schema-table",
                  "schema-name": ..., "table-name": ...,
                  "transaction-id": ...}}

Because ``data``'s fields vary per table and evolve under DDL (SURVEY §1.2),
the transport representation is ``MAP<STRING,STRING>`` — one stable schema for
every table — and the typed per-table StructType is applied at the apply layer
(streaming/apply.py). Encoding stays entirely JVM-side: ``create_map`` +
``to_json`` + ``concat_ws``, no Python UDFs, so it whole-stage-codegens and
scales linearly with executors.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings

# Operations (reference dms_sample/stack.py:217, README.md:119-148)
DATA_OPERATIONS = ("load", "insert", "update", "delete")
CONTROL_OPERATIONS = ("create-table", "drop-table", "alter-table")

_STRING_MAP = T.MapType(T.StringType(), T.StringType())

METADATA_SCHEMA = T.StructType(
    [
        T.StructField("timestamp", T.StringType()),
        T.StructField("record-type", T.StringType()),
        T.StructField("operation", T.StringType()),
        T.StructField("partition-key-type", T.StringType()),
        # populated when include_partition_value and the row's PK is known
        # (stack.py:216); null otherwise — from_json tolerates absence
        T.StructField("partition-key-value", T.StringType()),
        T.StructField("schema-name", T.StringType()),
        T.StructField("table-name", T.StringType()),
        T.StructField("transaction-id", T.StringType()),
    ]
)

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("data", _STRING_MAP),
        T.StructField("before-image", _STRING_MAP),
        T.StructField("metadata", METADATA_SCHEMA),
    ]
)


def _row_as_map(
    columns: list[str],
    prefix: str | None = None,
    binary_columns: set[str] | None = None,
) -> Column:
    """MAP<col_name, string_value> over the given columns (JVM-side).

    Null values are preserved in the map (``include_null_and_empty``,
    reference stack.py:215). Binary columns are base64-encoded — the DMS
    JSON envelope encodes BLOBs as base64; a raw string cast would attempt a
    UTF-8 decode of arbitrary bytes.
    """
    pairs: list[Column] = []
    for c in columns:
        ref = F.col(f"{prefix}.{c}") if prefix else F.col(c)
        if binary_columns and c in binary_columns:
            pairs.append(F.lit(c))
            pairs.append(F.base64(ref))
        else:
            pairs.append(F.lit(c))
            pairs.append(ref.cast("string"))
    return F.create_map(*pairs)


def table_lookup(values: dict[tuple[str, str], Column]) -> Column:
    """Each change-feed row's entry of ``values``, keyed by the row's
    ``(schema, table)`` as a struct, so dotted names cannot collide (schema
    ``a.b`` table ``c`` vs schema ``a`` table ``b.c``); NULL for a table
    outside ``values``. Resolved JVM-side."""
    return F.element_at(
        F.create_map(
            *[
                c
                for (s, t), v in values.items()
                for c in (F.struct(F.lit(s).alias("s"), F.lit(t).alias("t")), v)
            ]
        ),
        F.struct(F.col("schema").alias("s"), F.col("table").alias("t")),
    )


def partition_key_col(
    settings: TaskSettings, schema: Column, table: Column, pk_value: Column | None
) -> Column:
    """Stream routing key (SURVEY §2.2 K2; reference stack.py:216,219).

    - ``schema-table`` mode: ``schema.table`` — all of a table's changes hash
      to one shard (total order per table, serial per table at the sink).
    - ``primary-key`` mode: the row's PK value, prefixed ``schema.table.``
      when ``partition_include_schema_table`` — a single table's rows fan out
      across every shard (the scale mode; per-PK changes stay FIFO because
      equal keys hash to the same shard).
    """
    base = F.concat_ws(".", schema, table)
    if settings.partition_key_type == "primary-key" and pk_value is not None:
        if settings.partition_include_schema_table:
            return F.concat_ws(".", base, pk_value)
        # control events and rows whose table has no known PK carry a null
        # pk_value; fall back to schema.table routing for them (a real
        # Kinesis put rejects empty partition keys, and DMS keys control
        # records by schema/table) instead of collapsing every such event
        # onto the single shard xxhash64(null) hashes to
        return F.coalesce(pk_value, base)
    return base


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


def _encode(
    frame: DataFrame, settings: TaskSettings, pk_name: Column | None, **feed: Column
) -> DataFrame:
    """Envelope rows for change-feed-shaped rows (``seq, schema, table, op,
    txn_id, commit_ts, data, before``; sources/changefeed.py) in one
    projection, ``_order`` = ``seq``. The one builder of the wire format:
    the full load, the CDC micro-batch and the control records all encode
    here. ``feed`` gives a field as an expression over ``frame`` in place of
    the column of that name, so a typed table encodes in the same single
    projection as a change feed.

    ``pk_name`` is each row's primary-key column name (NULL when unknown):
    its ``data`` value feeds ``partition-key-value`` (stack.py:216) and the
    ``primary-key`` routing mode, and the ``pk-only`` before-image keeps only
    that key (stack.py:335). Control operations (stack.py:214,217) carry no
    data, before-image or partition value.
    """
    seq, schema, table, op, txn_id, commit_ts, data, before = (
        feed.get(name, F.col(name))
        for name in ("seq", "schema", "table", "op", "txn_id", "commit_ts", "data", "before")
    )
    control = op.isin(*CONTROL_OPERATIONS)
    null_string = F.lit(None).cast("string")

    data_map = data
    if not settings.include_null_and_empty:
        data_map = F.map_filter(data_map, lambda k, v: v.isNotNull() & (v != F.lit("")))

    before_map = F.lit(None).cast(_STRING_MAP)
    if settings.before_image:
        before_map = before
        if settings.before_image_type == "pk-only" and pk_name is not None:
            before_map = F.map_filter(before_map, lambda k, v: k == pk_name)
        before_map = F.when(op.isin("update", "delete"), before_map)

    pk_value = (
        F.when(~control, data[pk_name]) if pk_name is not None else None
    )
    # a record without a commit time is stamped with the encode time. The
    # stamp is formatted from a literal, which the optimizer folds to a
    # string literal in the session time zone; generated code references a
    # string literal instead of inlining it, so the next batch reuses the
    # compiled stage (current_timestamp() folds to an inlined long)
    stamp_format = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    stamp = F.coalesce(
        F.date_format(F.to_timestamp(commit_ts), stamp_format),
        F.date_format(F.lit(datetime.now(timezone.utc)), stamp_format),
    )
    metadata = F.struct(
        stamp.alias("timestamp"),
        F.when(control, "control").otherwise("data").alias("record-type"),
        op.alias("operation"),
        F.lit(settings.partition_key_type).alias("partition-key-type"),
        (
            pk_value
            if settings.include_partition_value and pk_value is not None
            else null_string
        ).alias("partition-key-value"),
        schema.alias("schema-name"),
        table.alias("table-name"),
        (
            txn_id.cast("string") if settings.include_transaction_details else null_string
        ).alias("transaction-id"),
    )
    return frame.select(
        F.when(~control, data_map).alias("data"),
        before_map.alias("before-image"),
        metadata.alias("metadata"),
        seq.alias("_order"),
        partition_key_col(settings, schema, table, pk_value).alias("partition_key"),
    )


def encode_change_batch(
    batch: DataFrame,
    settings: TaskSettings,
    pk_by_table: dict[tuple[str, str], str] | None = None,
) -> DataFrame:
    """Envelope rows for one change-feed micro-batch, ``_order`` = ``seq``
    (binlog commit order; single-shard sink reproduces it as arrival order,
    SURVEY §4 X2): data events for INSERT/UPDATE/DELETE with before-images
    (reference stack.py:331-336) and transaction details (:218), control
    events for DDL (:214,217).

    ``pk_by_table`` names each table's primary key: it feeds the partition
    value, the ``primary-key`` routing mode and the ``pk-only`` before-image.
    """
    emitted = batch.filter(F.col("op").isin(*emitted_operations(settings)))
    pk_name = (
        table_lookup({k: F.lit(pk) for k, pk in pk_by_table.items()})
        if pk_by_table
        else None
    )
    return _encode(emitted, settings, pk_name)


def encode_data_events(
    df: DataFrame,
    schema_name: str,
    table_name: str,
    operation: str,
    settings: TaskSettings,
    txn_id: Column | None = None,
    before_columns: list[str] | None = None,
    pk_column: str | None = None,
) -> DataFrame:
    """Project a typed table DataFrame into envelope rows (record-type=data).

    ``before_columns`` names struct-prefixed columns ``before.<col>`` in
    ``df`` that form the row's before-image, attached under the CDC rules
    (``settings.before_image``, update/delete only; reference
    stack.py:331-336). ``pk_column`` names the table's primary key: it feeds
    the ``partition-key-value`` metadata field (stack.py:216) and, in
    ``primary-key`` partition mode, the routing key itself — without it a
    whole table is one partition key, i.e. one shard, i.e. serial at the
    sink. Returns columns: envelope fields + ``partition_key``.
    """
    if operation not in DATA_OPERATIONS:
        raise ValueError(f"not a data operation: {operation!r}")
    # exclude the CDC-attached transport columns from the data map — but
    # "before" only when it IS the attached image (struct/map typed): a
    # USER column named before is real data and must ship. The
    # underscore-prefixed _txn_id/_commit_ts stay reserved transport names.
    def _is_attached(name: str) -> bool:
        if name not in df.columns:
            return False
        if name == "before":
            return isinstance(
                df.schema[name].dataType, (T.StructType, T.MapType)
            )
        return True

    attached = {c for c in ("before", "_txn_id", "_commit_ts") if _is_attached(c)}
    data_cols = [c for c in df.columns if c not in attached]
    binary_cols = {
        f.name for f in df.schema.fields if isinstance(f.dataType, T.BinaryType)
    }
    before = (
        _row_as_map(before_columns, prefix="before", binary_columns=binary_cols)
        if before_columns
        else F.lit(None).cast(_STRING_MAP)
    )
    return _encode(
        df,
        settings,
        F.lit(pk_column) if pk_column is not None else None,
        seq=F.lit(None).cast("long"),
        schema=F.lit(schema_name),
        table=F.lit(table_name),
        op=F.lit(operation),
        txn_id=txn_id if txn_id is not None else F.lit(None),
        commit_ts=F.lit(None).cast("string"),
        data=_row_as_map(data_cols, binary_columns=binary_cols),
        before=before,
    ).drop("_order")


def control_events(
    spark: SparkSession,
    items: list[tuple[str, str, str]],
    settings: TaskSettings,
) -> DataFrame:
    """Control records (record-type=control) for DDL, interleaved with data
    events in the stream (reference stack.py:214,217; SURVEY §2.2 K3).

    ``items`` = [(schema_name, table_name, operation), ...] in emission order
    (``_order``). Emitted whatever ``settings.include_control_records`` says:
    the caller decides which control records a stream carries.
    """
    for _, _, op in items:
        if op not in CONTROL_OPERATIONS:
            raise ValueError(f"not a control operation: {op!r}")
    # pure-JVM construction (range + literal array explode) — a Python-list
    # createDataFrame would put a Python-worker scan in every downstream
    # evaluation of the envelope stream
    null_map = F.lit(None).cast(_STRING_MAP)
    items_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("seq"),
                F.lit(s).alias("schema"),
                F.lit(t).alias("table"),
                F.lit(o).alias("op"),
                F.lit(None).cast("string").alias("txn_id"),
                F.lit(None).cast("string").alias("commit_ts"),
                null_map.alias("data"),
                null_map.alias("before"),
            )
            for i, (s, t, o) in enumerate(items)
        ]
    )
    feed = spark.range(1).select(F.explode(items_arr).alias("it")).select("it.*")
    # no sort: ``_order`` carries the emission order and the sink orders by it
    return _encode(feed, settings, None)


def to_json_records(df: DataFrame) -> DataFrame:
    """Serialize envelope rows to the wire shape: ``Data`` JSON bytes-as-string
    + ``PartitionKey`` (reference stack.py:212; run.py:196-198; K1).
    """
    return df.select(
        F.to_json(
            F.struct("data", "`before-image`", "metadata"),
            # null columns/fields stay in the wire JSON — the reference's
            # include-null-and-empty envelope setting (stack.py:215)
            {"ignoreNullFields": "false"},
        ).alias("Data"),
        F.col("partition_key").alias("PartitionKey"),
        *[c for c in df.columns if c.startswith("_")],
    )


def parse_json_records(df: DataFrame) -> DataFrame:
    """Inverse of to_json_records: parse ``Data`` and splice in the partition
    key — the reference consumer's ``{**json.loads(r["Data"]),
    "partition_key": r["PartitionKey"]}`` (run.py:196-198; SURVEY §2.4 P3).
    """
    parsed = df.withColumn("_env", F.from_json(F.col("Data"), ENVELOPE_SCHEMA))
    keep = [c for c in df.columns if c not in ("Data", "PartitionKey", "_env")]
    return parsed.select(
        F.col("_env.data").alias("data"),
        F.col("_env.`before-image`").alias("before-image"),
        F.col("_env.metadata").alias("metadata"),
        F.col("PartitionKey").alias("partition_key"),
        *keep,
    )
