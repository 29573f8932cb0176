"""Envelope codec unit tests: encode → JSON wire shape → parse roundtrip
(reference stack.py:210-220, run.py:196-198)."""

import json
import re

import pytest
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.envelope import (
    control_events,
    encode_change_batch,
    encode_data_events,
    parse_json_records,
    to_json_records,
)
from sample_dms_kinesis_rds_mariadb_spark.fixtures import seed_df
from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings


def test_load_event_shape(spark):
    df = seed_df(spark, "authors")
    env = encode_data_events(df, "testdb", "authors", "load", TaskSettings())
    rows = env.collect()
    assert len(rows) == 1
    r = rows[0].asDict(recursive=True)
    assert r["data"]["first_name"] == "John"
    assert r["data"]["author_id"] == "1"
    assert r["before-image"] is None
    assert r["metadata"]["record-type"] == "data"
    assert r["metadata"]["operation"] == "load"
    assert r["metadata"]["schema-name"] == "testdb"
    assert r["metadata"]["table-name"] == "authors"
    assert r["partition_key"] == "testdb.authors"


def test_null_columns_included_by_default(spark):
    # include_null_and_empty (stack.py:215): profile_picture is NULL in seed
    df = seed_df(spark, "accounts")
    env = encode_data_events(df, "testdb", "accounts", "load", TaskSettings())
    r = env.collect()[0].asDict(recursive=True)
    assert "profile_picture" in r["data"]
    assert r["data"]["profile_picture"] is None

    env2 = encode_data_events(
        df, "testdb", "accounts", "load", TaskSettings(include_null_and_empty=False)
    )
    r2 = env2.collect()[0].asDict(recursive=True)
    assert "profile_picture" not in r2["data"]


def test_control_events_order_and_shape(spark):
    env = control_events(
        spark,
        [("testdb", "authors", "drop-table"), ("testdb", "authors", "create-table")],
        TaskSettings(),
    )
    rows = [r.asDict(recursive=True) for r in env.orderBy("_order").collect()]
    assert [r["metadata"]["operation"] for r in rows] == ["drop-table", "create-table"]
    assert all(r["metadata"]["record-type"] == "control" for r in rows)
    assert all(r["data"] is None for r in rows)



def test_control_events_plan_has_no_exchange(spark):
    """Control records are literal rows whose ``_order`` already carries
    their emission order: building them plans no shuffle and no sort."""
    env = control_events(
        spark,
        [("testdb", "authors", "drop-table"), ("testdb", "authors", "create-table")],
        TaskSettings(),
    )
    plan = env._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Sort" not in plan, plan

def test_json_roundtrip(spark):
    df = seed_df(spark, "novels")
    env = encode_data_events(df, "testdb", "novels", "insert", TaskSettings())
    wire = to_json_records(env)
    w = wire.collect()[0]
    payload = json.loads(w["Data"])
    assert set(payload.keys()) == {"data", "before-image", "metadata"}
    assert w["PartitionKey"] == "testdb.novels"

    back = parse_json_records(wire)
    r = back.orderBy(F.col("data.novel_id")).collect()[0].asDict(recursive=True)
    assert r["data"]["title"] == "The Great Adventure"
    assert r["metadata"]["operation"] == "insert"
    assert r["partition_key"] == "testdb.novels"


def test_binary_column_base64(spark):
    """BLOB columns travel base64 in the envelope (the DMS JSON wire rule),
    not a lossy UTF-8 cast."""
    import base64

    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\xff\x10binary"))], "id INT, blob BINARY"
    )
    env = encode_data_events(df, "db", "t", "load", TaskSettings())
    r = env.collect()[0].asDict(recursive=True)
    assert r["data"]["blob"] == base64.b64encode(b"\x00\xff\x10binary").decode()
    assert r["data"]["id"] == "1"  # non-binary untouched


def test_transaction_details_toggle(spark):
    df = seed_df(spark, "authors")
    env = encode_data_events(
        df,
        "testdb",
        "authors",
        "insert",
        TaskSettings(include_transaction_details=True),
        txn_id=F.lit("txn-42"),
    )
    assert env.collect()[0]["metadata"]["transaction-id"] == "txn-42"

    env2 = encode_data_events(
        df,
        "testdb",
        "authors",
        "insert",
        TaskSettings(include_transaction_details=False),
        txn_id=F.lit("txn-42"),
    )
    assert env2.collect()[0]["metadata"]["transaction-id"] is None


def test_primary_key_mode_null_pk_falls_back_to_table_key(spark):
    """primary-key routing with partition_include_schema_table=False: control
    events (null _pk) and rows whose table has no known PK must fall back to
    schema.table — a NULL PartitionKey would collapse every such event onto
    the one shard xxhash64(null) hashes to, and real Kinesis rejects empty
    partition keys."""
    settings = TaskSettings(
        partition_key_type="primary-key", partition_include_schema_table=False
    )
    batch = (
        spark.createDataFrame(
            [
                (1, "insert", {"id": "7", "v": "x"}, None),
                (2, "drop-table", None, None),
                (3, "insert", {"k": "9"}, None),  # table absent from pk_by_table
            ],
            "seq LONG, op STRING, data MAP<STRING,STRING>, before MAP<STRING,STRING>",
        )
        .withColumn("schema", F.lit("testdb"))
        .withColumn("table", F.when(F.col("seq") == 3, "orphan").otherwise("novels"))
        .withColumn("commit_ts", F.lit("2024-01-01T00:00:00Z"))
        .withColumn("txn_id", F.lit(None).cast("string"))
    )
    env = encode_change_batch(batch, settings, pk_by_table={("testdb", "novels"): "id"})
    keys = {r["_order"]: r["partition_key"] for r in env.collect()}
    assert keys[1] == "7"  # PK routing for the known table
    assert keys[2] == "testdb.novels"  # control event falls back to table key
    assert keys[3] == "testdb.orphan"  # unknown-PK table falls back too
    assert all(k is not None for k in keys.values())


def test_json_roundtrip_adversarial_strings(spark):
    """Envelope values survive the JSON wire byte-for-byte: quotes,
    backslashes, control chars, newlines, unicode (CJK/emoji/RTL),
    JSON-shaped strings, and long payloads must all parse back identical
    (the DMS wire is JSON — escaping bugs corrupt replicated data)."""
    nasty = [
        'quote " inside',
        "backslash \\ and \\\\ double",
        "newline\nand\ttab\rand\fformfeed",
        "control \x01\x02\x1f chars",
        "unicode: é中文 \U0001f600 שלום",
        '{"looks":"like json","n":[1,2]}',
        "trailing space  ",
        "",
        "x" * 5000,
        "null",
        "slash / and <html> & amp",
    ]
    rows = [(i, s) for i, s in enumerate(nasty)]
    df = spark.createDataFrame(rows, "id INT, v STRING")
    env = encode_data_events(df, "db", "t", "load", TaskSettings())
    back = parse_json_records(to_json_records(env))
    got = {
        int(r["data"]["id"]): r["data"]["v"]
        for r in back.collect()
    }
    for i, s in enumerate(nasty):
        assert got[i] == s, f"row {i} corrupted: {got[i]!r} != {s!r}"


def test_user_column_named_before_ships_in_data(spark):
    """A source table whose OWN column is literally named 'before' (plain
    string, not the CDC-attached image struct) must keep it in the data
    map — the unconditional exclusion silently truncated such rows."""
    from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_data_events
    from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings

    df = spark.createDataFrame(
        [(1, "prior-value")], "id LONG, before STRING"
    )
    env = encode_data_events(
        df, "db", "t", "load", TaskSettings(), pk_column="id"
    ).collect()
    assert env[0]["data"]["before"] == "prior-value"


def test_pk_only_before_image_selects_pk_by_name(spark):
    """pk-only before images must carry the PRIMARY KEY whatever the
    caller's before_columns ordering (the old [:1] truncation kept the
    first listed column instead)."""
    from pyspark.sql import functions as F

    from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_data_events
    from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings

    df = spark.createDataFrame(
        [(2, "new-name")], "id LONG, name STRING"
    ).select(
        "id",
        "name",
        F.struct(
            F.lit("old-name").alias("name"), F.col("id").alias("id")
        ).alias("before"),  # pk listed SECOND
    )
    env = encode_data_events(
        df,
        "db",
        "t",
        "update",
        TaskSettings(before_image=True, before_image_type="pk-only"),
        before_columns=["name", "id"],  # pk listed SECOND
        pk_column="id",
    ).collect()
    assert env[0]["before-image"] == {"id": "2"}


# After-images and before-images of one table ``db.t`` (PK ``id``), with a
# NULL and an empty value so the null/empty filter has work to do.
_AFTER = [
    {"id": 1, "name": "ann", "note": None},
    {"id": 2, "name": "", "note": "x"},
    {"id": 3, "name": None, "note": ""},
]
_BEFORE = [
    {"id": 1, "name": "old-ann", "note": "n"},
    {"id": 2, "name": "bo", "note": None},
    {"id": 3, "name": "cy", "note": ""},
]
_CONTROL_OPS = ["drop-table", "create-table", "alter-table"]


def _as_strings(image):
    return json.dumps({k: None if v is None else str(v) for k, v in image.items()})


def _feed(spark, records):
    """Change-feed rows (sources/changefeed.py shape) from
    (seq, op, txn_id, after, before) tuples, the maps parsed from JSON as
    the feed files carry them."""
    rows = [
        (seq, op, txn, after and _as_strings(after), before and _as_strings(before))
        for seq, op, txn, after, before in records
    ]
    df = spark.createDataFrame(
        rows, "seq LONG, op STRING, txn_id STRING, data_json STRING, before_json STRING"
    )
    return df.select(
        "seq",
        F.lit("db").alias("schema"),
        F.lit("t").alias("table"),
        "op",
        "txn_id",
        F.lit(None).cast("string").alias("commit_ts"),
        F.from_json("data_json", "map<string,string>").alias("data"),
        F.from_json("before_json", "map<string,string>").alias("before"),
    )


def _wire(env):
    """(Data without its timestamp, PartitionKey) per record, in ``_order``
    when the envelope carries one."""
    rows = to_json_records(env).collect()
    if "_order" in env.columns:
        rows = sorted(rows, key=lambda r: r["_order"])
    return [
        (re.sub(r'"timestamp":"[^"]*"', "", r["Data"]), r["PartitionKey"])
        for r in rows
    ]


@pytest.mark.parametrize(
    "settings",
    [
        TaskSettings(),
        TaskSettings(include_null_and_empty=False),
        TaskSettings(partition_key_type="primary-key"),
        TaskSettings(
            partition_key_type="primary-key", partition_include_schema_table=False
        ),
        TaskSettings(include_partition_value=False),
        TaskSettings(include_transaction_details=False),
        TaskSettings(before_image=True),
        TaskSettings(before_image=True, before_image_type="pk-only"),
    ],
    ids=[
        "defaults",
        "no-null-and-empty",
        "primary-key",
        "primary-key-no-prefix",
        "no-partition-value",
        "no-transaction-details",
        "before-image",
        "before-image-pk-only",
    ],
)
def test_typed_and_change_feed_encoders_agree_on_the_wire(spark, settings):
    """The same rows encoded from a typed table (full load) and from the
    change feed (CDC) give the same wire records, timestamp aside; control
    records likewise."""
    cols = list(_AFTER[0])
    typed = spark.createDataFrame(
        [
            (*a.values(), tuple(b.values()))
            for a, b in zip(_AFTER, _BEFORE)
        ],
        "id LONG, name STRING, note STRING, "
        "before STRUCT<id: LONG, name: STRING, note: STRING>",
    )
    from_typed = encode_data_events(
        typed,
        "db",
        "t",
        "update",
        settings,
        txn_id=F.lit("txn-7"),
        before_columns=cols if settings.before_image else None,
        pk_column="id",
    )
    from_feed = encode_change_batch(
        _feed(
            spark,
            [(i, "update", "txn-7", a, b) for i, (a, b) in enumerate(zip(_AFTER, _BEFORE))],
        ),
        settings,
        {("db", "t"): "id"},
    )
    assert sorted(_wire(from_typed)) == sorted(_wire(from_feed))

    controls = control_events(spark, [("db", "t", op) for op in _CONTROL_OPS], settings)
    from_feed = encode_change_batch(
        _feed(spark, [(i, op, None, None, None) for i, op in enumerate(_CONTROL_OPS)]),
        settings,
        {("db", "t"): "id"},
    )
    assert _wire(controls) == _wire(from_feed)


def test_change_batch_scans_its_batch_once(spark):
    """A persisted micro-batch is read by one in-memory scan: data and
    control records come out of one projection, not two filtered branches
    and a union."""
    batch = _feed(
        spark,
        [
            (1, "insert", "txn-1", _AFTER[0], None),
            (2, "alter-table", None, None, None),
            (3, "update", "txn-2", _AFTER[1], _BEFORE[1]),
        ],
    ).persist()
    try:
        batch.count()
        wire = to_json_records(
            encode_change_batch(batch, TaskSettings(), {("db", "t"): "id"})
        )
        plan = wire._jdf.queryExecution().executedPlan().toString()
        assert plan.count("InMemoryTableScan") == 1, plan
        assert "Union" not in plan, plan
        assert wire.count() == 3
    finally:
        batch.unpersist()


def test_pk_lookup_keeps_dotted_names_apart(spark):
    """Schema ``a.b`` table ``c`` and schema ``a`` table ``b.c`` are two
    tables with two primary keys: each row's partition value comes from
    its own table's key (a dotted-name key made them one duplicate key)."""
    batch = spark.createDataFrame(
        [
            (1, "a.b", "c", "insert", {"k1": "1", "k2": "x"}),
            (2, "a", "b.c", "insert", {"k1": "y", "k2": "2"}),
        ],
        "seq LONG, schema STRING, table STRING, op STRING, data MAP<STRING,STRING>",
    ).select(
        "seq",
        "schema",
        "table",
        "op",
        F.lit(None).cast("string").alias("txn_id"),
        F.lit(None).cast("string").alias("commit_ts"),
        "data",
        F.lit(None).cast("map<string,string>").alias("before"),
    )
    env = encode_change_batch(
        batch, TaskSettings(), {("a.b", "c"): "k1", ("a", "b.c"): "k2"}
    )
    got = {
        (r["metadata"]["schema-name"], r["metadata"]["table-name"]): r["metadata"][
            "partition-key-value"
        ]
        for r in env.collect()
    }
    assert got == {("a.b", "c"): "1", ("a", "b.c"): "2"}
