"""CDC e2e: the reference's streaming flow (SURVEY §3.2) with its golden
contracts — create phase 5 events (2 bootstrap + 3 CREATE), insert phase 4
data events, alter phase 3 control events (reference run.py:271-329;
tests/test_infra.py:649-714) — plus update/delete with before-images and
materialized query-surface checks the reference implies (J1, A1, P1)."""

import threading
import time
from collections import Counter

import pytest

from pyspark.sql import types as T
from pyspark.sql.classic.dataframe import DataFrame
from pyspark.sql.streaming import DataStreamWriter

from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
from sample_dms_kinesis_rds_mariadb_spark.fixtures import (
    DB_NAME,
    TABLES,
    reference_pipeline,
)
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
from sample_dms_kinesis_rds_mariadb_spark.spec import (
    EndpointSpec,
    PipelineSpec,
    SelectionRule,
    TaskSettings,
    TaskSpec,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import TableMaterializer


@pytest.fixture()
def engine(spark, tmp_path):
    spec = reference_pipeline(str(tmp_path / "feed"))
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    # CDC starts from empty recreated tables (run.py:283-285): register the
    # schemas (create) with no rows.
    for table, (schema, _, pk, defaults) in TABLES.items():
        eng.register_table(
            "mariadb-source",
            DB_NAME,
            table,
            spark.createDataFrame([], schema),
            pk,
            defaults,
        )
    yield eng
    for t in ("cdc-task-1", "cdc-task-2"):
        try:
            eng.stop_task(t)
        except Exception:
            pass


AUTHOR_INSERT = {
    "schema": DB_NAME,
    "table": "authors",
    "op": "insert",
    "txn_id": "txn-1",
    "commit_ts": "2024-01-01T00:00:01",
    "data": {
        "author_id": "1",
        "first_name": "John",
        "last_name": "Doe",
        "date_of_birth": "1980-01-01",
        "nationality": "American",
        "biography": "Biography of John Doe.",
        "email": "john.doe@example.com",
        "phone_number": "123-456-7890",
        "active": "true",
        "created_at": "2021-01-01 12:00:00",
    },
}

ACCOUNT_INSERT = {
    "schema": DB_NAME,
    "table": "accounts",
    "op": "insert",
    "txn_id": "txn-1",
    "commit_ts": "2024-01-01T00:00:01",
    "data": {
        "id": "1",
        "name": "Alice",
        "age": "30",
        "birth_date": "1991-05-21",
        "account_balance": "1500.00",
        "is_active": "true",
        "signup_time": "2021-01-08 09:00:00",
        "last_login": "2021-03-10 08:00:00",
        "bio": "Bio of Alice",
        "profile_picture": None,
        "favorite_color": "red",
        "height": "1.70",
        "weight": "60.5",
    },
}

NOVEL_INSERTS = [
    {
        "schema": DB_NAME,
        "table": "novels",
        "op": "insert",
        "txn_id": "txn-2",
        "commit_ts": "2024-01-01T00:00:02",
        "data": {
            "novel_id": "1",
            "title": "The Great Adventure",
            "author_id": "1",
            "publish_date": "2020-06-01",
            "isbn": "978-3-16-148410-0",
            "genre": "Adventure",
            "page_count": "300",
            "publisher": "Adventure Press",
            "language": "English",
            "available_copies": "10",
            "total_copies": "20",
            "created_at": "2021-01-02 10:00:00",
        },
    },
    {
        "schema": DB_NAME,
        "table": "novels",
        "op": "insert",
        "txn_id": "txn-2",
        "commit_ts": "2024-01-01T00:00:02",
        "data": {
            "novel_id": "2",
            "title": "Journey to the Stars",
            "author_id": "1",
            "publish_date": "2021-04-10",
            "isbn": "978-0-11-322456-7",
            "genre": "Science Fiction",
            "page_count": "350",
            "publisher": "SciFi Universe",
            "language": "English",
            "available_copies": "12",
            "total_copies": "25",
            "created_at": "2021-04-11 10:00:00",
        },
    },
]

CREATES = [
    {"schema": DB_NAME, "table": t, "op": "create-table", "commit_ts": "2024-01-01T00:00:00"}
    for t in ("authors", "accounts", "novels")
]

ALTERS = [
    {
        "schema": DB_NAME,
        "table": "authors",
        "op": "alter-table",
        "commit_ts": "2024-01-01T00:00:03",
        "ddl": {"action": "modify-column", "column": "email", "type": "varchar(100)"},
    },
    {
        "schema": DB_NAME,
        "table": "accounts",
        "op": "alter-table",
        "commit_ts": "2024-01-01T00:00:03",
        "ddl": {"action": "drop-column", "column": "profile_picture"},
    },
    {
        "schema": DB_NAME,
        "table": "novels",
        "op": "alter-table",
        "commit_ts": "2024-01-01T00:00:03",
        "ddl": {
            "action": "add-column",
            "column": "is_stock",
            "type": "boolean",
            "default": "true",
        },
    },
]


def _ops(events):
    return [e["metadata"]["operation"] for e in events]


def test_cdc_three_phase_contracts(engine):
    feed = engine.changefeed("mariadb-source")

    # Phase A — creates issued BEFORE tasks start are still captured (CDC
    # starts from a binlog position, not "now": run.py:295-298)
    ts_create = time.time() - 1
    feed.append_changes(CREATES)
    engine.start_task("cdc-task-1")
    engine.start_task("cdc-task-2")
    engine.wait_for_task_status("cdc-task-1", "running")
    engine.wait_for_task_status("cdc-task-2", "running")
    events = engine.consume(after_ts=ts_create, expected_count=5, retries=120)
    assert len(events) == 5  # 2 bootstrap + 3 CREATE (run.py:296-297)
    ops = _ops(events)
    assert ops.count("create-table") == 5
    bootstrap = [
        e for e in events
        if e["metadata"]["table-name"] == "awsdms_apply_exceptions"
    ]
    assert len(bootstrap) == 2
    assert all(e["metadata"]["record-type"] == "control" for e in events)

    # Phase B — inserts ⇒ 4 data events (run.py:305-306)
    time.sleep(0.3)
    ts_insert = time.time()
    feed.append_changes([AUTHOR_INSERT, ACCOUNT_INSERT, *NOVEL_INSERTS])
    events = engine.consume(after_ts=ts_insert, expected_count=4, retries=120)
    assert len(events) == 4
    assert _ops(events).count("insert") == 4
    by_table = {}
    for e in events:
        by_table.setdefault(e["metadata"]["table-name"], []).append(e)
    assert {t: len(v) for t, v in by_table.items()} == {
        "authors": 1,
        "accounts": 1,
        "novels": 2,
    }
    # before-image null on inserts; txn details carried (K5)
    assert all(e["before-image"] is None for e in events)
    assert by_table["authors"][0]["metadata"]["transaction-id"] == "txn-1"

    # Phase C — 3 ALTERs ⇒ 3 control events (run.py:313-314)
    time.sleep(0.3)
    ts_alter = time.time()
    feed.append_changes(ALTERS)
    events = engine.consume(after_ts=ts_alter, expected_count=3, retries=120)
    assert len(events) == 3
    assert _ops(events).count("alter-table") == 3
    assert all(e["metadata"]["record-type"] == "control" for e in events)

    # statistics (A2): inserts counted per table per task
    stats1 = engine.describe_table_statistics("cdc-task-1")
    by_name = {s["TableName"]: s for s in stats1}
    assert by_name["authors"]["Inserts"] == 1
    assert by_name["accounts"]["Inserts"] == 1
    assert by_name["authors"]["Ddls"] >= 1  # create + alter
    stats2 = engine.describe_table_statistics("cdc-task-2")
    assert {s["TableName"]: s["Inserts"] for s in stats2 if s["TableName"] == "novels"} == {
        "novels": 2
    }

    # post-ALTER schemas (tests/test_infra.py:693-707)
    authors_fields = {
        d["Field"]: d["Type"] for d in engine.registry.describe(DB_NAME, "authors")
    }
    assert authors_fields["email"] == "string"  # varchar(100) → string
    accounts_fields = [d["Field"] for d in engine.registry.describe(DB_NAME, "accounts")]
    assert "profile_picture" not in accounts_fields
    novels = engine.registry.get(DB_NAME, "novels")
    assert novels.struct["is_stock"].dataType == T.BooleanType()
    assert novels.defaults["is_stock"] == "true"

    # materialized query surface (M5): counts (A1), projection (P1), FK join (J1)
    assert engine.query("SELECT COUNT(*) AS count FROM authors").collect()[0]["count"] == 1
    assert engine.query("SELECT COUNT(*) AS count FROM novels").collect()[0]["count"] == 2
    names = engine.query_result("SELECT first_name, last_name FROM authors")
    assert names == [{"first_name": "John", "last_name": "Doe"}]
    joined = engine.query_result(
        "SELECT n.title, a.first_name FROM novels n JOIN authors a USING (author_id) "
        "ORDER BY n.novel_id"
    )
    assert [j["title"] for j in joined] == [
        "The Great Adventure",
        "Journey to the Stars",
    ]
    # added-with-default column materializes as TRUE (C6)
    stock = engine.query_result("SELECT novel_id, is_stock FROM novels ORDER BY novel_id")
    assert all(r["is_stock"] is True for r in stock)


def test_cdc_checkpoint_restart(engine):
    """T1/T4: a stopped CDC task restarted with its checkpoint resumes from
    the committed offset — no duplicate bootstrap control event, no replay
    of already-delivered changes."""
    feed = engine.changefeed("mariadb-source")
    ts0 = time.time() - 1
    feed.append_changes([AUTHOR_INSERT])
    engine.start_task("cdc-task-1")
    engine.wait_for_task_status("cdc-task-1", "running")
    first = engine.consume(after_ts=ts0, expected_count=2, retries=120)
    assert len(first) == 2  # bootstrap + insert
    engine.stop_task("cdc-task-1")

    feed.append_changes([ACCOUNT_INSERT])
    engine.start_task("cdc-task-1")
    engine.wait_for_task_status("cdc-task-1", "running")
    allev = engine.consume(after_ts=ts0, expected_count=3, retries=120)
    # exactly one new event: the account insert; no second bootstrap
    assert len(allev) == 3
    ops = [(e["metadata"]["operation"], e["metadata"]["table-name"]) for e in allev]
    assert ops.count(("create-table", "awsdms_apply_exceptions")) == 1
    assert ("insert", "accounts") in ops
    engine.stop_task("cdc-task-1")


def test_cdc_update_delete_before_image(engine):
    """UPDATE/DELETE carry full-column before-images (stack.py:331-336) and
    the materializer applies them (upsert/delete by PK)."""
    feed = engine.changefeed("mariadb-source")
    ts0 = time.time() - 1
    feed.append_changes([AUTHOR_INSERT, ACCOUNT_INSERT, *NOVEL_INSERTS])
    engine.start_task("cdc-task-1")
    engine.start_task("cdc-task-2")
    engine.consume(after_ts=ts0, expected_count=6, retries=120)  # 2 bootstrap + 4

    time.sleep(0.3)
    ts1 = time.time()
    updated = dict(AUTHOR_INSERT["data"], first_name="Jane")
    feed.append_changes(
        [
            {
                "schema": DB_NAME,
                "table": "authors",
                "op": "update",
                "txn_id": "txn-9",
                "commit_ts": "2024-01-01T00:01:00",
                "data": updated,
                "before": AUTHOR_INSERT["data"],
            },
            {
                "schema": DB_NAME,
                "table": "novels",
                "op": "delete",
                "txn_id": "txn-10",
                "commit_ts": "2024-01-01T00:01:01",
                "data": NOVEL_INSERTS[1]["data"],
                "before": NOVEL_INSERTS[1]["data"],
            },
        ]
    )
    events = engine.consume(after_ts=ts1, expected_count=2, retries=120)
    upd = next(e for e in events if e["metadata"]["operation"] == "update")
    assert upd["data"]["first_name"] == "Jane"
    assert upd["before-image"]["first_name"] == "John"  # full-column (K4)
    dele = next(e for e in events if e["metadata"]["operation"] == "delete")
    assert dele["before-image"]["title"] == "Journey to the Stars"

    # materialized state reflects the update and the delete
    assert (
        engine.query("SELECT first_name FROM authors").collect()[0]["first_name"]
        == "Jane"
    )
    assert engine.query("SELECT COUNT(*) AS c FROM novels").collect()[0]["c"] == 1

    stats1 = engine.describe_table_statistics("cdc-task-1")
    authors_stats = next(s for s in stats1 if s["TableName"] == "authors")
    assert authors_stats["Updates"] == 1
    stats2 = engine.describe_table_statistics("cdc-task-2")
    novels_stats = next(s for s in stats2 if s["TableName"] == "novels")
    assert novels_stats["Deletes"] == 1


def _all_tables_engine(spark, tmp_path, settings):
    """One CDC task over every table of the reference schema, which starts
    registered and empty."""
    ep = "mariadb-source"
    spec = PipelineSpec(
        endpoints=[
            EndpointSpec(
                ep,
                "memory",
                {"schema_name": DB_NAME, "changefeed_path": str(tmp_path / "feed")},
            )
        ],
        tasks=[TaskSpec("cdc-all", ep, "cdc", [SelectionRule(DB_NAME, "%")], settings)],
        shards=1,
    )
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for table, (schema, _, pk, defaults) in TABLES.items():
        eng.register_table(
            ep, DB_NAME, table, spark.createDataFrame([], schema), pk, defaults
        )
    return eng


def _spy_batch_actions(monkeypatch) -> dict[int, list[str]]:
    """Record, per epoch, the DataFrame actions each foreachBatch call runs
    on its own thread."""
    local = threading.local()
    calls: dict[int, list[str]] = {}
    for name in ("collect", "isEmpty", "count"):
        orig = getattr(DataFrame, name)

        def spy(self, *args, _orig=orig, _name=name, **kwargs):
            epoch = getattr(local, "epoch", None)
            if epoch is not None:
                calls[epoch].append(_name)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, spy)
    orig_foreach = DataStreamWriter.foreachBatch

    def foreach_batch(writer, func):
        def spied(batch_df, epoch_id):
            local.epoch = epoch_id
            calls[epoch_id] = []
            try:
                return func(batch_df, epoch_id)
            finally:
                local.epoch = None

        return orig_foreach(writer, spied)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", foreach_batch)
    return calls


def test_data_batch_runs_one_collect(spark, tmp_path, monkeypatch):
    """A data micro-batch spanning 3 tables makes one driver round-trip:
    the batch summary answers emptiness, DDL, routing and statistics."""
    calls = _spy_batch_actions(monkeypatch)
    eng = _all_tables_engine(spark, tmp_path, TaskSettings(before_image=True))
    eng.changefeed("mariadb-source").append_changes(
        [AUTHOR_INSERT, ACCOUNT_INSERT, *NOVEL_INSERTS]
    )
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=5, retries=120)  # bootstrap + 4
    finally:
        eng.stop_task("cdc-all")
    assert list(calls.values()) == [["collect"]]
    assert eng.query("SELECT COUNT(*) AS c FROM novels").collect()[0]["c"] == 2


_STAT_FIELDS = {
    "insert": "Inserts",
    "update": "Updates",
    "delete": "Deletes",
    "create-table": "Ddls",
    "alter-table": "Ddls",
    "drop-table": "Ddls",
}


@pytest.mark.parametrize(
    "settings, n_events",
    [
        # bootstrap + 6 data events; creates and alters are not emitted
        (TaskSettings(before_image=True, include_control_records=False), 7),
        # bootstrap + 3 creates + 6 data events; alters are not emitted
        (TaskSettings(before_image=True, include_table_alter_operations=False), 10),
    ],
    ids=["no-control-records", "no-alter-operations"],
)
def test_statistics_match_stream_under_envelope_settings(
    spark, tmp_path, settings, n_events
):
    """The per-table statistics count exactly the records the stream
    carries, per table and operation, whichever records the settings
    leave out."""
    eng = _all_tables_engine(spark, tmp_path, settings)
    eng.changefeed("mariadb-source").append_changes(
        [
            *CREATES,
            AUTHOR_INSERT,
            ACCOUNT_INSERT,
            *NOVEL_INSERTS,
            dict(
                AUTHOR_INSERT,
                op="update",
                data=dict(AUTHOR_INSERT["data"], first_name="Jane"),
                before=AUTHOR_INSERT["data"],
            ),
            dict(
                NOVEL_INSERTS[1],
                op="delete",
                before=NOVEL_INSERTS[1]["data"],
            ),
            *ALTERS,
        ]
    )
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=n_events, retries=120)
    finally:
        eng.stop_task("cdc-all")
    events = eng.consume(after_ts=0)
    assert len(events) == n_events
    expected: dict[str, Counter] = {}
    for e in events:
        m = e["metadata"]
        expected.setdefault(m["table-name"], Counter())[
            _STAT_FIELDS[m["operation"]]
        ] += 1
    got = {
        s["TableName"]: {
            f: s[f] for f in ("Inserts", "Updates", "Deletes", "Ddls") if s[f]
        }
        for s in eng.describe_table_statistics("cdc-all")
    }
    assert got == {t: dict(c) for t, c in expected.items()}


AUTHOR_ID_TO_DECIMAL = {
    "schema": DB_NAME,
    "table": "authors",
    "op": "alter-table",
    "commit_ts": "2024-01-01T00:00:01",
    "ddl": {
        "action": "modify-column",
        "column": "author_id",
        "type": "decimal(10,2)",
    },
}


def _author(key: int, **fields) -> dict:
    return dict(
        AUTHOR_INSERT, data=dict(AUTHOR_INSERT["data"], author_id=str(key), **fields)
    )


def _retype_moved_keys(spark, eng, candidates) -> list[int]:
    """The candidate keys whose bucket changes when the key is retyped from
    int to decimal(10,2) (7 hashes as "7", 7.00 as "7.00")."""
    from pyspark.sql import functions as F

    bucket = eng.materializer._bucket_col
    k = F.col("k")
    rows = (
        spark.createDataFrame([(str(c),) for c in candidates], "k STRING")
        .select("k", (bucket(k) != bucket(F.concat(k, F.lit(".00")))).alias("moved"))
        .collect()
    )
    return [int(r["k"]) for r in rows if r["moved"]]


def test_alter_on_primary_key_reroutes_after_ddl(spark, tmp_path):
    """A batch whose alter-table retypes the PK column publishes its
    changes under the new key type: the typed key's string form, and so
    its bucket, can change (7 as int → 7.00 as decimal(10,2)); a publish
    limited to the buckets routed before the DDL would lose the row."""
    eng = _all_tables_engine(spark, tmp_path, TaskSettings(before_image=True))
    key = _retype_moved_keys(spark, eng, range(1, 100))[0]
    eng.changefeed("mariadb-source").append_changes(
        [AUTHOR_ID_TO_DECIMAL, _author(key)]
    )
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=3, retries=120)  # bootstrap + 2
    finally:
        eng.stop_task("cdc-all")
    got = eng.query_result("SELECT author_id FROM authors")
    assert [float(r["author_id"]) for r in got] == [float(key)]


def test_pk_retype_keeps_every_row(spark, tmp_path):
    """A batch that retypes the PK rewrites every bucket of the table, so
    each stored row moves to its bucket under the new key type: neither
    that batch's update nor a later one of another moved key loses or
    duplicates a row."""
    eng = _all_tables_engine(spark, tmp_path, TaskSettings(before_image=True))
    first, second = _retype_moved_keys(spark, eng, range(20))[:2]

    def update(key):
        return dict(
            _author(key, first_name="Jane"), op="update", before=_author(key)["data"]
        )

    feed = eng.changefeed("mariadb-source")
    feed.append_changes([_author(k) for k in range(20)])
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=21, retries=120)  # bootstrap + 20
        feed.append_changes([AUTHOR_ID_TO_DECIMAL, update(first)])
        eng.consume(after_ts=0, expected_count=23, retries=120)
        feed.append_changes([update(second)])
        eng.consume(after_ts=0, expected_count=24, retries=120)
    finally:
        eng.stop_task("cdc-all")
    got = eng.query_result("SELECT author_id, first_name FROM authors")
    assert sorted(int(r["author_id"]) for r in got) == list(range(20))
    assert {int(r["author_id"]): r["first_name"] for r in got} == {
        k: "Jane" if k in (first, second) else "John" for k in range(20)
    }


def test_dropping_batch_runs_one_collect(spark, tmp_path, monkeypatch):
    """A batch that drops a table between its changes still makes one
    driver round-trip: the drop is a seq floor on the dropped table's
    changes, so only the novel inserted after it survives, and the other
    tables apply in the same call."""
    calls = _spy_batch_actions(monkeypatch)
    eng = _all_tables_engine(spark, tmp_path, TaskSettings(before_image=True))
    eng.changefeed("mariadb-source").append_changes(
        [
            _author(1),
            NOVEL_INSERTS[0],
            {
                "schema": DB_NAME,
                "table": "novels",
                "op": "drop-table",
                "commit_ts": "2024-01-01T00:00:03",
            },
            NOVEL_INSERTS[1],
            _author(2),
        ]
    )
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=6, retries=120)  # bootstrap + 5
    finally:
        eng.stop_task("cdc-all")
    assert list(calls.values()) == [["collect"]]
    assert eng.query_result("SELECT novel_id FROM novels") == [{"novel_id": 2}]
    assert sorted(
        r["author_id"] for r in eng.query_result("SELECT author_id FROM authors")
    ) == [1, 2]


def test_replayed_epoch_replaces_its_delta(spark, tmp_path, monkeypatch):
    """Spark replays an epoch whose commit a crash lost: the task's
    foreachBatch applying the same epoch again replaces that epoch's delta
    instead of adding a second one, so the materialized state equals a
    single run."""
    processes = []
    orig_foreach = DataStreamWriter.foreachBatch

    def foreach_batch(writer, func):
        processes.append(func)
        return orig_foreach(writer, func)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", foreach_batch)
    eng = _all_tables_engine(spark, tmp_path, TaskSettings(before_image=True))
    feed = eng.changefeed("mariadb-source")
    feed.append_changes(
        [
            AUTHOR_INSERT,
            ACCOUNT_INSERT,
            *NOVEL_INSERTS,
            dict(NOVEL_INSERTS[1], op="delete", before=NOVEL_INSERTS[1]["data"]),
        ]
    )
    eng.start_task("cdc-all")
    try:
        eng.consume(after_ts=0, expected_count=6, retries=120)  # bootstrap + 5
    finally:
        eng.stop_task("cdc-all")

    def state():
        return {
            t: sorted(map(str, eng.query_result(f"SELECT * FROM {t}")))
            for t in ("authors", "accounts", "novels")
        }

    once = state()
    assert [len(v) for v in once.values()] == [1, 1, 1]
    (name,) = eng.materializer._deltas
    epoch = int(name.rsplit("-", 1)[1])
    (process,) = processes
    process(feed.read_batch(), epoch)
    assert list(eng.materializer._deltas) == [name]
    assert state() == once


def test_envelopes_publish_only_after_the_apply(spark, engine, monkeypatch):
    """A batch's apply and envelope write run concurrently: the write
    finishes while the apply is still running, yet none of the batch's
    records is readable until the apply returns. The apply's Spark jobs run
    in the streaming query's job group, so a stop cancels them too."""
    written, release = threading.Event(), threading.Event()
    groups = []
    orig_apply = TableMaterializer.apply_change_batch
    orig_append = StreamStore.append

    def apply(self, *args, **kwargs):
        groups.append(spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        out = orig_apply(self, *args, **kwargs)
        assert release.wait(120)
        return out

    def append(self, wire_df, after=None):
        def write_done():
            written.set()
            return after()

        return orig_append(self, wire_df, after=after and write_done)

    monkeypatch.setattr(TableMaterializer, "apply_change_batch", apply)
    monkeypatch.setattr(StreamStore, "append", append)
    engine.start_task("cdc-task-1")
    task = engine.tasks["cdc-task-1"]
    assert engine.store.read().count() == 1  # the bootstrap
    engine.changefeed("mariadb-source").append_changes([AUTHOR_INSERT])
    try:
        assert written.wait(120)
        time.sleep(1.0)
        assert engine.store.read().count() == 1
        release.set()
        engine.consume(after_ts=0, expected_count=2, retries=120)
        assert engine.query("SELECT * FROM authors").count() == 1
        assert groups == [str(task._query.runId)]
    finally:
        release.set()
        engine.stop_task("cdc-task-1")
