"""File-based binlog ROW-event decoder: fixture binlogs synthesized by the
INDEPENDENT writer in tests/binlog_writer.py, decoded by
sources/binlog.py, driving the engine's existing CDC contracts — the
reference's actual CDC wire format (stack.py:372-376 ROW/Full) closed
end-to-end."""

import time

import pytest
from pyspark.sql import types as T

from binlog_writer import (
    BLOB,
    DATE,
    DATETIME2,
    DOUBLE,
    FLOAT,
    INT24,
    LONG,
    LONGLONG,
    NEWDECIMAL,
    SHORT,
    TIMESTAMP2,
    TINY,
    VARCHAR,
    YEAR,
    BinlogWriter,
    Col,
)
from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
from sample_dms_kinesis_rds_mariadb_spark.fixtures import (
    DB_NAME,
    TABLES,
    reference_pipeline,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.binlog import (
    BinlogTail,
    decode_binlog,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed


def test_decode_roundtrip_all_types(tmp_path):
    cols = [
        Col("c_tiny", TINY),
        Col("c_short", SHORT),
        Col("c_int24", INT24),
        Col("c_long", LONG),
        Col("c_ll", LONGLONG),
        Col("c_f", FLOAT),
        Col("c_d", DOUBLE),
        Col("c_year", YEAR),
        Col("c_date", DATE),
        Col("c_dt", DATETIME2, (0,)),
        Col("c_dt6", DATETIME2, (6,)),
        Col("c_ts", TIMESTAMP2, (0,)),
        Col("c_v", VARCHAR, (80,)),
        Col("c_vlong", VARCHAR, (400,)),
        Col("c_blob", BLOB, (2,)),
        Col("c_text", BLOB, (2,)),
        Col("c_dec", NEWDECIMAL, (10, 2)),
        Col("c_null", VARCHAR, (10,)),
    ]
    row = {
        "c_tiny": -5,
        "c_short": 1234,
        "c_int24": -70000,
        "c_long": 2**31 - 1,
        "c_ll": -(2**40),
        "c_f": 1.5,
        "c_d": 60.5,
        "c_year": 1999,
        "c_date": (1980, 1, 31),
        "c_dt": (2021, 1, 1, 12, 0, 0),
        "c_dt6": (2021, 6, 30, 23, 59, 59, 123456),
        "c_ts": (1_600_000_000,),
        "c_v": "héllo",
        "c_vlong": "x" * 300,
        "c_blob": b"\x00\xff\x01",
        "c_text": "plain text",
        "c_dec": "-12345.67",
        "c_null": None,
    }
    path = str(tmp_path / "b.bin")
    w = BinlogWriter(path)
    w.begin("testdb")
    w.write_rows("testdb", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _pos = decode_binlog(path)
    assert len(recs) == 1
    r = recs[0]
    assert (r["schema"], r["table"], r["op"]) == ("testdb", "t", "insert")
    assert r["txn_id"] == "xid-1"
    assert r["before"] is None
    d = r["data"]
    assert d["c_tiny"] == "-5"
    assert d["c_short"] == "1234"
    assert d["c_int24"] == "-70000"
    assert d["c_long"] == str(2**31 - 1)
    assert d["c_ll"] == str(-(2**40))
    assert d["c_f"] == "1.5"
    assert d["c_d"] == "60.5"
    assert d["c_year"] == "1999"
    assert d["c_date"] == "1980-01-31"
    assert d["c_dt"] == "2021-01-01 12:00:00"
    assert d["c_dt6"] == "2021-06-30 23:59:59.123456"
    assert d["c_ts"] == "2020-09-13 12:26:40"  # UTC
    assert d["c_v"] == "héllo"
    assert d["c_vlong"] == "x" * 300
    assert d["c_blob"] == "0x00ff01"  # non-UTF8 BLOB -> hex
    assert d["c_text"] == "plain text"  # TEXT (BLOB-coded) -> utf-8
    assert d["c_dec"] == "-12345.67"
    assert d["c_null"] is None


def test_decimal_corner_cases(tmp_path):
    cols = [
        Col("a", NEWDECIMAL, (20, 4)),
        Col("b", NEWDECIMAL, (9, 0)),
        Col("c", NEWDECIMAL, (5, 5)),
    ]
    rows = [
        {"a": "1234567890123456.7890", "b": "42", "c": "0.00001"},
        {"a": "-0.0001", "b": "-999999999", "c": "0.99999"},
        {"a": "0.0000", "b": "0", "c": "0.00000"},
    ]
    path = str(tmp_path / "d.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, rows)
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    got = [r["data"] for r in recs]
    assert got[0] == {"a": "1234567890123456.7890", "b": "42", "c": "0.00001"}
    assert got[1] == {"a": "-0.0001", "b": "-999999999", "c": "0.99999"}
    assert got[2] == {"a": "0.0000", "b": "0", "c": "0.00000"}


@pytest.mark.parametrize("v2", [False, True])
def test_update_and_delete_images(tmp_path, v2):
    """UPDATE_ROWS paired (before, after) images -> before/data maps;
    DELETE_ROWS image -> before only. Identical in v1 (MariaDB) and v2
    (MySQL 5.6+) framing."""
    cols = [Col("id", LONG), Col("name", VARCHAR, (40,))]
    path = str(tmp_path / "u.bin")
    w = BinlogWriter(path, v2=v2)
    w.begin("db")
    w.update_rows(
        "db", "t", cols,
        [
            ({"id": 1, "name": "old"}, {"id": 1, "name": "new"}),
            ({"id": 2, "name": "x"}, {"id": 2, "name": None}),
        ],
    )
    w.delete_rows("db", "t", cols, [{"id": 3, "name": "gone"}])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["op"] for r in recs] == ["update", "update", "delete"]
    assert recs[0]["before"] == {"id": "1", "name": "old"}
    assert recs[0]["data"] == {"id": "1", "name": "new"}
    assert recs[1]["data"] == {"id": "2", "name": None}
    assert recs[2]["before"] == {"id": "3", "name": "gone"}
    assert recs[2]["data"] is None
    # one commit covers all three
    assert len({r["txn_id"] for r in recs}) == 1


def test_column_name_sources(tmp_path):
    """Names come from the optional-metadata TLV when present, the caller
    registry when not, positional col_i as last resort; a wrong-arity
    registry fails loudly."""
    cols = [Col("id", LONG), Col("v", VARCHAR, (10,))]
    row = {"id": 7, "v": "a"}

    with_md = str(tmp_path / "md.bin")
    w = BinlogWriter(with_md, with_names=True)
    w.begin("db")
    w.write_rows("db", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(with_md)
    assert recs[0]["data"] == {"id": "7", "v": "a"}

    bare = str(tmp_path / "bare.bin")
    w = BinlogWriter(bare, with_names=False)
    w.begin("db")
    w.write_rows("db", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(bare, column_names={("db", "t"): ["id", "v"]})
    assert recs[0]["data"] == {"id": "7", "v": "a"}
    recs, _ = decode_binlog(bare, column_names={"t": ["id", "v"]})
    assert recs[0]["data"] == {"id": "7", "v": "a"}
    recs, _ = decode_binlog(bare)
    assert recs[0]["data"] == {"col_0": "7", "col_1": "a"}
    with pytest.raises(ValueError, match="2 columns"):
        decode_binlog(bare, column_names={("db", "t"): ["only_one"]})


def test_crc32_validation(tmp_path):
    cols = [Col("id", LONG)]
    path = str(tmp_path / "c.bin")
    w = BinlogWriter(path, checksum=True)
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 1}])
    w.xid()
    w.flush()
    blob = bytearray(open(path, "rb").read())
    blob[-30] ^= 0xFF  # corrupt a committed event body
    open(path, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="CRC32 mismatch"):
        decode_binlog(path)


def test_no_checksum_files_decode(tmp_path):
    cols = [Col("id", LONG)]
    path = str(tmp_path / "n.bin")
    w = BinlogWriter(path, checksum=False)
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 5}])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs[0]["data"] == {"id": "5"}


def test_ddl_control_records(tmp_path):
    path = str(tmp_path / "ddl.bin")
    w = BinlogWriter(path)
    w.query("testdb", "CREATE TABLE authors (author_id INT PRIMARY KEY)")
    w.query("testdb", "ALTER TABLE novels ADD COLUMN is_stock boolean DEFAULT true")
    w.query("testdb", "ALTER TABLE accounts DROP COLUMN profile_picture")
    w.query("testdb", "ALTER TABLE authors MODIFY COLUMN email varchar(100)")
    w.query("testdb", "DROP TABLE IF EXISTS legacy")
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["op"] for r in recs] == [
        "create-table", "alter-table", "alter-table", "alter-table",
        "drop-table",
    ]
    assert recs[0]["table"] == "authors"
    assert recs[1]["ddl"] == {
        "action": "add-column", "column": "is_stock", "type": "boolean",
        "default": "true",
    }
    assert recs[2]["ddl"] == {
        "action": "drop-column", "column": "profile_picture",
    }
    assert recs[3]["ddl"] == {
        "action": "modify-column", "column": "email", "type": "varchar(100)",
    }
    assert recs[4]["table"] == "legacy"
    assert all(r["schema"] == "testdb" for r in recs)


def test_tail_resume_and_uncommitted_holdback(tmp_path, spark):
    """BinlogTail pumps only newly-COMMITTED events: a transaction without
    its XID yet (binlog still being written) is held back and re-read after
    the commit lands; state_path survives agent restarts."""
    cols = [Col("id", LONG), Col("v", VARCHAR, (20,))]
    path = str(tmp_path / "t.bin")
    state = str(tmp_path / "t.state")
    feed = ChangeFeed(spark, str(tmp_path / "feed"))

    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    w.xid()
    w.flush()
    tail = BinlogTail(path, state_path=state)
    assert tail.pump(feed) == 2

    # an OPEN transaction at EOF: held back entirely
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 3, "v": "c"}])
    w.flush()
    assert tail.pump(feed) == 0

    # commit lands -> exactly the one held-back row, even after a restart
    w.xid()
    w.flush()
    restarted = BinlogTail(path, state_path=state)
    assert restarted.pump(feed) == 1
    assert restarted.pump(feed) == 0  # quiescent: no redelivery
    rows = feed.read_batch().collect()
    assert sorted(r["data"]["id"] for r in rows) == ["1", "2", "3"]
    assert len(rows) == 3


def test_rollback_discards_rows(tmp_path):
    cols = [Col("id", LONG)]
    path = str(tmp_path / "r.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 1}])
    w.query("db", "ROLLBACK")
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 2}])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["data"]["id"] for r in recs] == ["2"]


# -- e2e: fixture binlog drives the reference CDC contract ------------------

AUTHOR_COLS = [
    Col("author_id", LONG),
    Col("first_name", VARCHAR, (80,)),
    Col("last_name", VARCHAR, (80,)),
    Col("date_of_birth", DATE),
    Col("nationality", VARCHAR, (80,)),
    Col("biography", VARCHAR, (400,)),
    Col("email", VARCHAR, (120,)),
    Col("phone_number", VARCHAR, (40,)),
    Col("active", TINY),
    Col("created_at", DATETIME2, (0,)),
]
AUTHOR_ROW = {
    "author_id": 1,
    "first_name": "John",
    "last_name": "Doe",
    "date_of_birth": (1980, 1, 1),
    "nationality": "American",
    "biography": "Biography of John Doe.",
    "email": "john.doe@example.com",
    "phone_number": "123-456-7890",
    "active": 1,
    "created_at": (2021, 1, 1, 12, 0, 0),
}
ACCOUNT_COLS = [
    Col("id", LONG),
    Col("name", VARCHAR, (80,)),
    Col("age", SHORT),
    Col("birth_date", DATE),
    Col("account_balance", NEWDECIMAL, (10, 2)),
    Col("is_active", TINY),
    Col("signup_time", DATETIME2, (0,)),
    Col("last_login", DATETIME2, (0,)),
    Col("bio", VARCHAR, (400,)),
    Col("profile_picture", BLOB, (2,)),
    Col("favorite_color", VARCHAR, (40,)),
    Col("height", DOUBLE),
    Col("weight", DOUBLE),
]
ACCOUNT_ROW = {
    "id": 1,
    "name": "Alice",
    "age": 30,
    "birth_date": (1991, 5, 21),
    "account_balance": "1500.00",
    "is_active": 1,
    "signup_time": (2021, 1, 8, 9, 0, 0),
    "last_login": (2021, 3, 10, 8, 0, 0),
    "bio": "Bio of Alice",
    "profile_picture": None,
    "favorite_color": "red",
    "height": 1.5,
    "weight": 60.5,
}
NOVEL_COLS = [
    Col("novel_id", LONG),
    Col("title", VARCHAR, (200,)),
    Col("author_id", LONG),
    Col("publish_date", DATE),
    Col("isbn", VARCHAR, (40,)),
    Col("genre", VARCHAR, (40,)),
    Col("page_count", LONG),
    Col("publisher", VARCHAR, (80,)),
    Col("language", VARCHAR, (40,)),
    Col("available_copies", LONG),
    Col("total_copies", LONG),
    Col("created_at", DATETIME2, (0,)),
]
NOVEL_ROWS = [
    {
        "novel_id": 1,
        "title": "The Great Adventure",
        "author_id": 1,
        "publish_date": (2020, 6, 1),
        "isbn": "978-3-16-148410-0",
        "genre": "Adventure",
        "page_count": 300,
        "publisher": "Adventure Press",
        "language": "English",
        "available_copies": 10,
        "total_copies": 20,
        "created_at": (2021, 1, 2, 10, 0, 0),
    },
    {
        "novel_id": 2,
        "title": "Journey to the Stars",
        "author_id": 1,
        "publish_date": (2021, 4, 10),
        "isbn": "978-0-11-322456-7",
        "genre": "Science Fiction",
        "page_count": 350,
        "publisher": "SciFi Universe",
        "language": "English",
        "available_copies": 12,
        "total_copies": 25,
        "created_at": (2021, 4, 11, 10, 0, 0),
    },
]


@pytest.fixture()
def engine(spark, tmp_path):
    spec = reference_pipeline(str(tmp_path / "feed"))
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for table, (schema, _, pk, defaults) in TABLES.items():
        eng.register_table(
            "mariadb-source", DB_NAME, table,
            spark.createDataFrame([], schema), pk, defaults,
        )
    yield eng
    for t in ("cdc-task-1", "cdc-task-2"):
        try:
            eng.stop_task(t)
        except Exception:
            pass


def test_binlog_file_drives_cdc_contract(engine, tmp_path):
    """The 5/4/3 reference contract (run.py:271-329) fed ENTIRELY from a
    binlog file: create phase 5 events, insert phase 4 data events with
    xid txn grouping, alter phase 3 control events + registry evolution,
    then UPDATE_ROWS paired before-images materialized."""
    feed = engine.changefeed("mariadb-source")
    path = str(tmp_path / "mariadb-bin.000001")
    tail = BinlogTail(path, state_path=str(tmp_path / "tail.state"))
    w = BinlogWriter(path)

    # Phase A: CREATEs land in the binlog before the tasks start
    ts_create = time.time() - 1
    for t in ("authors", "accounts", "novels"):
        w.query(DB_NAME, f"CREATE TABLE {t} (dummy INT)")
    w.flush()
    assert tail.pump(feed) == 3
    engine.start_task("cdc-task-1")
    engine.start_task("cdc-task-2")
    engine.wait_for_task_status("cdc-task-1", "running")
    engine.wait_for_task_status("cdc-task-2", "running")
    events = engine.consume(after_ts=ts_create, expected_count=5, retries=120)
    assert len(events) == 5  # 2 bootstrap + 3 CREATE
    assert all(e["metadata"]["record-type"] == "control" for e in events)

    # Phase B: row events in two transactions -> 4 data events
    time.sleep(0.3)
    ts_insert = time.time()
    w.begin(DB_NAME)
    w.write_rows(DB_NAME, "authors", AUTHOR_COLS, [AUTHOR_ROW])
    w.write_rows(DB_NAME, "accounts", ACCOUNT_COLS, [ACCOUNT_ROW])
    w.xid()
    w.begin(DB_NAME)
    w.write_rows(DB_NAME, "novels", NOVEL_COLS, NOVEL_ROWS)
    w.xid()
    w.flush()
    assert tail.pump(feed) == 4
    events = engine.consume(after_ts=ts_insert, expected_count=4, retries=120)
    assert len(events) == 4
    by_table = {}
    for e in events:
        by_table.setdefault(e["metadata"]["table-name"], []).append(e)
    assert {t: len(v) for t, v in by_table.items()} == {
        "authors": 1, "accounts": 1, "novels": 2,
    }
    assert all(e["before-image"] is None for e in events)
    # xid commit grouping: both rows of txn 1 share the id, novels differ
    assert (
        by_table["authors"][0]["metadata"]["transaction-id"]
        == by_table["accounts"][0]["metadata"]["transaction-id"]
        == "xid-1"
    )
    assert by_table["novels"][0]["metadata"]["transaction-id"] == "xid-2"

    # Phase C: ALTERs via QUERY events -> 3 control events + evolution
    time.sleep(0.3)
    ts_alter = time.time()
    w.query(DB_NAME, "ALTER TABLE authors MODIFY COLUMN email varchar(100)")
    w.query(DB_NAME, "ALTER TABLE accounts DROP COLUMN profile_picture")
    w.query(DB_NAME, "ALTER TABLE novels ADD COLUMN is_stock boolean DEFAULT true")
    w.flush()
    assert tail.pump(feed) == 3
    events = engine.consume(after_ts=ts_alter, expected_count=3, retries=120)
    assert len(events) == 3
    assert all(e["metadata"]["operation"] == "alter-table" for e in events)
    accounts_fields = [
        d["Field"] for d in engine.registry.describe(DB_NAME, "accounts")
    ]
    assert "profile_picture" not in accounts_fields
    novels = engine.registry.get(DB_NAME, "novels")
    assert novels.struct["is_stock"].dataType == T.BooleanType()
    assert novels.defaults["is_stock"] == "true"

    # materialized state from binlog-decoded strings
    assert (
        engine.query("SELECT COUNT(*) AS c FROM novels").collect()[0]["c"] == 2
    )
    names = engine.query_result("SELECT first_name, last_name FROM authors")
    assert names == [{"first_name": "John", "last_name": "Doe"}]

    # Phase D: UPDATE_ROWS paired images + DELETE_ROWS through the engine
    time.sleep(0.3)
    ts_mut = time.time()
    after = dict(AUTHOR_ROW, first_name="Jane")
    w.begin(DB_NAME)
    w.update_rows(DB_NAME, "authors", AUTHOR_COLS, [(AUTHOR_ROW, after)])
    w.delete_rows(DB_NAME, "novels", NOVEL_COLS, [NOVEL_ROWS[1]])
    w.xid()
    w.flush()
    assert tail.pump(feed) == 2
    events = engine.consume(after_ts=ts_mut, expected_count=2, retries=120)
    upd = next(e for e in events if e["metadata"]["operation"] == "update")
    assert upd["data"]["first_name"] == "Jane"
    assert upd["before-image"]["first_name"] == "John"  # paired image (K4)
    dele = next(e for e in events if e["metadata"]["operation"] == "delete")
    assert dele["before-image"]["title"] == "Journey to the Stars"
    assert (
        engine.query("SELECT COUNT(*) AS c FROM novels").collect()[0]["c"] == 1
    )
    assert engine.query_result("SELECT first_name FROM authors") == [
        {"first_name": "Jane"}
    ]


def test_char_and_enum_decode(tmp_path):
    """MYSQL_TYPE_STRING columns: CHAR(n) text (length-prefixed, with the
    high length bits folded into metadata byte 0) and ENUM (real type in
    the metadata pair, packed 1/2-byte index)."""
    from binlog_writer import ENUM, STRING

    cols = [
        Col("code", STRING, (8,)),       # CHAR(8)
        Col("wide", STRING, (300,)),     # CHAR > 255: 2-byte length prefix
        Col("status", ENUM, (1,)),       # 1-byte enum index
        Col("bigenum", ENUM, (2,)),      # 2-byte enum index
    ]
    rows = [
        {"code": "AB", "wide": "y" * 280, "status": 3, "bigenum": 400},
        {"code": "", "wide": "", "status": 1, "bigenum": 1},
    ]
    path = str(tmp_path / "s.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, rows)
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs[0]["data"] == {
        "code": "AB", "wide": "y" * 280, "status": "3", "bigenum": "400",
    }
    assert recs[1]["data"] == {
        "code": "", "wide": "", "status": "1", "bigenum": "1",
    }


def test_time2_decode(tmp_path):
    from binlog_writer import TIME2

    cols = [Col("t0", TIME2, (0,)), Col("t6", TIME2, (6,))]
    row = {"t0": (13, 45, 9), "t6": (2, 3, 4, 567890)}
    path = str(tmp_path / "t2.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs[0]["data"] == {"t0": "13:45:09", "t6": "02:03:04.567890"}


def test_rotate_follows_the_file_chain(tmp_path, spark):
    """A file ending in ROTATE links to its successor: pump follows the
    chain when the successor exists, holds a pending rotation when it has
    not shipped yet, and a restarted tail resumes inside the successor."""
    cols = [Col("id", LONG)]
    f1 = str(tmp_path / "bin.000001")
    f2 = str(tmp_path / "bin.000002")
    state = str(tmp_path / "chain.state")
    feed = ChangeFeed(spark, str(tmp_path / "feed"))

    w1 = BinlogWriter(f1)
    w1.begin("db")
    w1.write_rows("db", "t", cols, [{"id": 1}])
    w1.xid()
    w1.rotate("bin.000002")
    w1.flush()

    tail = BinlogTail(f1, state_path=state)
    assert tail.pump(feed) == 1  # successor not shipped: rotation pending
    assert tail.pump(feed) == 0

    w2 = BinlogWriter(f2)
    w2.begin("db")
    w2.write_rows("db", "t", cols, [{"id": 2}, {"id": 3}])
    w2.xid()
    w2.flush()
    assert tail.pump(feed) == 2  # chain followed into the new file

    # restart from state: lands on file 2, no redelivery, still tailing
    restarted = BinlogTail(f1, state_path=state)
    assert restarted.pump(feed) == 0
    w2.begin("db")
    w2.write_rows("db", "t", cols, [{"id": 4}])
    w2.xid()
    w2.flush()
    assert restarted.pump(feed) == 1
    ids = sorted(r["data"]["id"] for r in feed.read_batch().collect())
    assert ids == ["1", "2", "3", "4"]

    # a different head is rejected (wrong chain)
    with pytest.raises(ValueError, match="chain head"):
        BinlogTail(f2, state_path=state)


def test_rotate_chain_in_one_pump(tmp_path, spark):
    """Both files already on disk: ONE pump walks the whole chain."""
    cols = [Col("id", LONG)]
    f1 = str(tmp_path / "a.000001")
    f2 = str(tmp_path / "a.000002")
    w1 = BinlogWriter(f1)
    w1.begin("db")
    w1.write_rows("db", "t", cols, [{"id": 1}])
    w1.xid()
    w1.rotate("a.000002")
    w1.flush()
    w2 = BinlogWriter(f2)
    w2.begin("db")
    w2.write_rows("db", "t", cols, [{"id": 2}])
    w2.xid()
    w2.flush()
    feed = ChangeFeed(spark, str(tmp_path / "feed"))
    tail = BinlogTail(f1)
    assert tail.pump(feed) == 2
    assert tail.pump(feed) == 0


def test_ddl_regex_edges(tmp_path):
    """Backticked identifiers, IF (NOT) EXISTS, mixed case, and non-DDL
    statements (which must NOT emit control records)."""
    path = str(tmp_path / "edge.bin")
    w = BinlogWriter(path)
    w.query("db", "create table if not exists `Orders` (id INT)")
    w.query("db", "ALTER TABLE `Orders` ADD `note` varchar(20) DEFAULT 'n/a'")
    w.query("db", "alter table Orders drop column `note`")
    w.query("db", "DROP TABLE `Orders`")
    w.query("db", "ANALYZE TABLE Orders")       # not DDL we track
    w.query("db", "GRANT SELECT ON db.* TO x")  # ignored
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["op"] for r in recs] == [
        "create-table", "alter-table", "alter-table", "drop-table",
    ]
    assert recs[0]["table"] == "Orders"
    assert recs[1]["ddl"]["action"] == "add-column"
    assert recs[1]["ddl"]["column"] == "note"
    assert recs[1]["ddl"]["default"] == "n/a"
    assert recs[2]["ddl"] == {"action": "drop-column", "column": "note"}


def test_ddl_index_clauses_emit_nothing(tmp_path):
    """ALTER clauses that do not change the row schema — ADD INDEX / KEY /
    PRIMARY KEY / UNIQUE / CONSTRAINT / FOREIGN KEY and their DROP twins —
    must NOT emit alter-table records (a bogus add-column named 'INDEX'
    would evolve a garbage column into the registry)."""
    path = str(tmp_path / "idx.bin")
    w = BinlogWriter(path)
    w.query("db", "ALTER TABLE t ADD INDEX idx_name (col)")
    w.query("db", "ALTER TABLE t ADD PRIMARY KEY (id)")
    w.query("db", "ALTER TABLE t ADD UNIQUE KEY uq (a, b)")
    w.query("db", "ALTER TABLE t ADD CONSTRAINT fk FOREIGN KEY (a) REFERENCES o(id)")
    w.query("db", "ALTER TABLE t ADD FULLTEXT INDEX ft (body)")
    w.query("db", "ALTER TABLE t DROP INDEX idx_name")
    w.query("db", "ALTER TABLE t DROP PRIMARY KEY")
    w.query("db", "ALTER TABLE t DROP FOREIGN KEY fk")
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs == []


def test_ddl_multi_clause_alter(tmp_path):
    """A multi-clause ALTER emits one record per schema-changing clause,
    in clause order, all sharing the statement's txn_id; index clauses
    interleaved among them are skipped; commas inside type parentheses
    (decimal(10,2), enum('a','b')) do not split clauses."""
    path = str(tmp_path / "multi.bin")
    w = BinlogWriter(path)
    w.query(
        "db",
        "ALTER TABLE t ADD COLUMN c1 INT, ADD INDEX ix (c1), "
        "ADD COLUMN c2 decimal(10,2) DEFAULT 0, DROP COLUMN old1, "
        "MODIFY COLUMN e enum('a','b')",
    )
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["ddl"]["action"] for r in recs] == [
        "add-column", "add-column", "drop-column", "modify-column",
    ]
    assert recs[0]["ddl"] == {"action": "add-column", "column": "c1", "type": "int"}
    assert recs[1]["ddl"] == {
        "action": "add-column", "column": "c2", "type": "decimal(10,2)",
        "default": "0",
    }
    assert recs[2]["ddl"] == {"action": "drop-column", "column": "old1"}
    assert recs[3]["ddl"] == {
        "action": "modify-column", "column": "e", "type": "enum('a','b')",
    }
    assert len({r["txn_id"] for r in recs}) == 1


def test_ddl_backticked_keyword_column(tmp_path):
    """A column genuinely named like an index keyword arrives backticked
    (or with an explicit COLUMN keyword) and must parse as a column."""
    path = str(tmp_path / "kw.bin")
    w = BinlogWriter(path)
    w.query("db", "ALTER TABLE t ADD `key` int")
    w.query("db", "ALTER TABLE t ADD COLUMN `index` varchar(10)")
    w.query("db", "ALTER TABLE t DROP COLUMN `key`")
    w.flush()
    recs, _ = decode_binlog(path)
    assert [r["ddl"]["column"] for r in recs] == ["key", "index", "key"]
    assert [r["ddl"]["action"] for r in recs] == [
        "add-column", "add-column", "drop-column",
    ]


def test_savepoint_in_open_txn_does_not_poison_resume(tmp_path, spark):
    """A non-DDL QUERY (SAVEPOINT/SET) inside an open transaction must not
    advance the resume offset: the held-back transaction must be re-read
    FROM ITS BEGIN — including its TABLE_MAP — once the commit lands.
    Before the fix, the resume offset landed past the TABLE_MAP and every
    later pump crashed with 'ROWS event for unknown table id'."""
    cols = [Col("id", LONG)]
    path = str(tmp_path / "sp.bin")
    state = str(tmp_path / "sp.state")
    feed = ChangeFeed(spark, str(tmp_path / "feed"))

    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [{"id": 1}])
    w.query("db", "SAVEPOINT s1")
    w.flush()
    tail = BinlogTail(path, state_path=state)
    assert tail.pump(feed) == 0  # open txn held back

    w.xid()
    w.flush()
    restarted = BinlogTail(path, state_path=state)
    assert restarted.pump(feed) == 1
    assert restarted.pump(feed) == 0


def test_time2_negative_values(tmp_path):
    """Negative TIME2 stores the complement over the combined (int, frac)
    quantity — the borrow propagates from the fraction into the int part.
    Covers fsp 0 / 2 / 6 and the -0:00:00.5 case a signed hour cannot
    express (writer encodes signed total microseconds)."""
    from binlog_writer import TIME2

    cols = [
        Col("t0", TIME2, (0,)),
        Col("t2", TIME2, (2,)),
        Col("t6", TIME2, (6,)),
    ]
    row = {
        "t0": -(1 * 3600 + 2 * 60 + 3) * 1_000_000,      # -01:02:03
        "t2": -500_000,                                   # -00:00:00.50
        "t6": -((2 * 3600 + 3 * 60 + 4) * 1_000_000 + 567_890),
    }
    path = str(tmp_path / "tneg.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs[0]["data"] == {
        "t0": "-01:02:03",
        "t2": "-00:00:00.50",
        "t6": "-02:03:04.567890",
    }


def test_time2_positive_int_encoding_matches_tuple(tmp_path):
    """The writer's signed-int input and tuple input agree for positive
    times (guards the shared encode path)."""
    from binlog_writer import TIME2

    cols = [Col("a", TIME2, (2,)), Col("b", TIME2, (2,))]
    row = {"a": (13, 45, 9, 120_000), "b": (13 * 3600 + 45 * 60 + 9) * 1_000_000 + 120_000}
    path = str(tmp_path / "tpos.bin")
    w = BinlogWriter(path)
    w.begin("db")
    w.write_rows("db", "t", cols, [row])
    w.xid()
    w.flush()
    recs, _ = decode_binlog(path)
    assert recs[0]["data"]["a"] == recs[0]["data"]["b"] == "13:45:09.12"


def test_rotation_cycle_fails_loudly(tmp_path, spark):
    """A rotation CYCLE (A→B→A, a corrupt/misnamed chain) must raise
    instead of re-decoding the same files forever and appending duplicate
    records on every pump."""
    cols = [Col("id", LONG)]
    f1 = str(tmp_path / "c.000001")
    f2 = str(tmp_path / "c.000002")
    feed = ChangeFeed(spark, str(tmp_path / "feed"))

    w1 = BinlogWriter(f1)
    w1.begin("db")
    w1.write_rows("db", "t", cols, [{"id": 1}])
    w1.xid()
    w1.rotate("c.000002")
    w1.flush()
    w2 = BinlogWriter(f2)
    w2.begin("db")
    w2.write_rows("db", "t", cols, [{"id": 2}])
    w2.xid()
    w2.rotate("c.000001")  # cycle back
    w2.flush()

    tail = BinlogTail(f1)
    with pytest.raises(ValueError, match="rotation cycle"):
        tail.pump(feed)


def test_binlog_tail_under_task_lifecycle(spark, tmp_path):
    """BinlogTail under the ReplicationTask lifecycle: the task's pumper
    duck-types its capture (anything with pump(feed)), so a binlog FILE
    drives a first-class CDC task — reaches RUNNING, newly-committed
    binlog events materialize on schedule, stop() lands STOPPED with no
    straggler pump, restart resumes from the persisted byte offset (no
    re-delivery)."""
    import time as _time

    from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import (
        StreamStore,
    )
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        SelectionRule,
        TaskSpec,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
        TableMaterializer,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
        TableRegistry,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import (
        StatisticsService,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import (
        PollingReplicationTask,
    )

    cols = [Col("id", LONG), Col("balance", LONG)]
    path = str(tmp_path / "bin.000001")
    state = str(tmp_path / "tail.state")
    feed = ChangeFeed(spark, str(tmp_path / "feed"))

    w = BinlogWriter(path)
    w.begin("appdb")
    w.write_rows("appdb", "accounts", cols,
                 [{"id": 1, "balance": 100}, {"id": 2, "balance": 200}])
    w.xid()
    w.flush()

    spec = TaskSpec(
        "binlog-task-1", "binlog-src", "cdc",
        [SelectionRule("%", "%", "include")],
    )
    store = StreamStore(spark, str(tmp_path / "stream"))
    stats = StatisticsService()
    registry = TableRegistry()
    shape = spark.createDataFrame([], "id long, balance long")
    registry.register_from_df("appdb", "accounts", shape, primary_key="id")
    mat = TableMaterializer(spark, registry, str(tmp_path / "state"))
    mat.overwrite("appdb", "accounts", shape)

    def mk_task(tail):
        return PollingReplicationTask(
            spark, spec, SourceCatalog(spark), store, stats, registry,
            materializer=mat, changefeed=feed,
            capture=tail, poll_interval=0.3,
        )

    def wait_for(pred, timeout=60):
        deadline = _time.time() + timeout
        while _time.time() < deadline:
            if pred():
                return
            _time.sleep(0.2)
        raise TimeoutError("condition not met")

    task = mk_task(BinlogTail(path, state_path=state))
    task.start()
    task.wait_for_status("running")
    wait_for(lambda: task.polls >= 2)
    wait_for(lambda: mat.table("appdb", "accounts").count() == 2)

    # new commits land in the file mid-run and materialize on schedule
    w.begin("appdb")
    w.update_rows("appdb", "accounts", cols,
                  [({"id": 2, "balance": 200}, {"id": 2, "balance": 250})])
    w.xid()
    w.flush()
    wait_for(lambda: {
        (r["id"], r["balance"])
        for r in mat.table("appdb", "accounts").collect()
    } == {(1, 100), (2, 250)})

    task.stop()
    assert task.status == "stopped"
    polls_at_stop = task.polls
    _time.sleep(1.0)
    assert task.polls == polls_at_stop

    # restart resumes from the persisted byte offset: events committed
    # while stopped deliver exactly once, nothing re-delivers
    w.begin("appdb")
    w.write_rows("appdb", "accounts", cols, [{"id": 3, "balance": 300}])
    w.xid()
    w.flush()
    task2 = mk_task(BinlogTail(path, state_path=state))
    task2.start()
    task2.wait_for_status("running")
    wait_for(lambda: mat.table("appdb", "accounts").count() == 3)
    task2.stop()
    assert task2.status == "stopped"
    ops = [r["op"] for r in feed.read_batch().collect()]
    assert ops.count("insert") == 3  # 2 initial + 1 after restart, no dups
    assert ops.count("update") == 1

    by_name = {
        r["TableName"]: r for r in stats.table_statistics("binlog-task-1")
    }
    assert by_name["accounts"]["Inserts"] == 3
    assert by_name["accounts"]["Updates"] == 1


def test_rotated_chain_checksumless_mid_file_resume_contract(engine, tmp_path):
    """VERDICT r7 item 7: the 5/4/3 reference contract driven across a
    THREE-file rotated binlog chain written by a checksum-DISABLED server
    (binlog_checksum=NONE — the FDE advertises algorithm 0 and events
    carry no CRC32 suffix), with the tail RESTARTED from a mid-file
    offset between the two transactions of the insert phase. Every
    record must deliver exactly once across rotations and the restart."""
    feed = engine.changefeed("mariadb-source")
    f1 = str(tmp_path / "mariadb-bin.000001")
    f2 = str(tmp_path / "mariadb-bin.000002")
    f3 = str(tmp_path / "mariadb-bin.000003")
    state = str(tmp_path / "tail.state")
    tail = BinlogTail(f1, state_path=state)

    # Phase A (file 1): CREATEs, then the server rotates
    ts_create = time.time() - 1
    w1 = BinlogWriter(f1, checksum=False)
    for t in ("authors", "accounts", "novels"):
        w1.query(DB_NAME, f"CREATE TABLE {t} (dummy INT)")
    w1.rotate("mariadb-bin.000002")
    w1.flush()
    assert tail.pump(feed) == 3
    engine.start_task("cdc-task-1")
    engine.start_task("cdc-task-2")
    engine.wait_for_task_status("cdc-task-1", "running")
    engine.wait_for_task_status("cdc-task-2", "running")
    events = engine.consume(after_ts=ts_create, expected_count=5, retries=120)
    assert len(events) == 5  # 2 bootstrap + 3 CREATE
    assert all(e["metadata"]["record-type"] == "control" for e in events)

    # Phase B first half (file 2): txn 1 only, then STOP the tail
    time.sleep(0.3)
    ts_insert = time.time()
    w2 = BinlogWriter(f2, checksum=False)
    w2.begin(DB_NAME)
    w2.write_rows(DB_NAME, "authors", AUTHOR_COLS, [AUTHOR_ROW])
    w2.write_rows(DB_NAME, "accounts", ACCOUNT_COLS, [ACCOUNT_ROW])
    w2.xid()
    w2.flush()
    assert tail.pump(feed) == 2
    mid_file_pos = tail._pos
    assert mid_file_pos > 0 and tail.path == f2  # mid-file, inside file 2

    # RESTART from persisted state: must land mid-file in file 2
    del tail
    restarted = BinlogTail(f1, state_path=state)
    assert restarted.path == f2 and restarted._pos == mid_file_pos
    assert restarted.pump(feed) == 0  # nothing new, nothing redelivered

    # Phase B second half: txn 2, then rotate to file 3 with the ALTERs
    w2.begin(DB_NAME)
    w2.write_rows(DB_NAME, "novels", NOVEL_COLS, NOVEL_ROWS)
    w2.xid()
    w2.rotate("mariadb-bin.000003")
    w2.flush()
    w3 = BinlogWriter(f3, checksum=False)
    w3.query(DB_NAME, "ALTER TABLE authors MODIFY COLUMN email varchar(100)")
    w3.flush()
    # one pump: finishes file 2, follows the rotation, decodes file 3
    assert restarted.pump(feed) == 3
    events = engine.consume(after_ts=ts_insert, expected_count=4, retries=120)
    by_table = {}
    for e in events:
        if e["metadata"]["record-type"] != "data":
            continue
        by_table.setdefault(e["metadata"]["table-name"], []).append(e)
    assert {t: len(v) for t, v in by_table.items()} == {
        "authors": 1, "accounts": 1, "novels": 2,
    }
    assert (
        by_table["authors"][0]["metadata"]["transaction-id"]
        == by_table["accounts"][0]["metadata"]["transaction-id"]
    )
    assert (
        by_table["novels"][0]["metadata"]["transaction-id"]
        != by_table["authors"][0]["metadata"]["transaction-id"]
    )

    # Phase C (file 3): the remaining ALTERs -> 3 alter-table events total
    time.sleep(0.3)
    w3.query(DB_NAME, "ALTER TABLE accounts DROP COLUMN profile_picture")
    w3.query(
        DB_NAME,
        "ALTER TABLE novels ADD COLUMN is_stock boolean DEFAULT true",
    )
    w3.flush()
    assert restarted.pump(feed) == 2
    alters = [
        e
        for e in engine.consume(after_ts=ts_create, expected_count=12, retries=120)
        if e["metadata"]["operation"] == "alter-table"
    ]
    # exactly-once across 2 rotations + 1 mid-file restart: 3 ALTERs
    assert len(alters) == 3
    # ...and the registry evolved from the rotated, checksum-less chain
    accounts_fields = [
        d["Field"] for d in engine.registry.describe(DB_NAME, "accounts")
    ]
    assert "profile_picture" not in accounts_fields

    # chain state survives one more restart at the file-3 tail
    again = BinlogTail(f1, state_path=state)
    assert again.path == f3
    assert again.pump(feed) == 0
