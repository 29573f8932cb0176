"""Merge-on-read materializer: one delta per batch, reads that merge the
deltas onto the base exactly as a per-batch base rewrite would have stored
them, compaction into one new base version, superseded-version vacuum,
pk-changing updates, and crash points that restart exactly."""

import json
import os
from dataclasses import replace

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import FEED_SCHEMA
from sample_dms_kinesis_rds_mariadb_spark.streaming import apply
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
    BatchSummary,
    TableMaterializer,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableRegistry,
)

@pytest.fixture()
def mat(spark, tmp_path):
    registry = TableRegistry()
    base = spark.createDataFrame(
        [(i, f"name-{i}", i * 10) for i in range(100)], "id LONG, name STRING, v LONG"
    ).cache()
    base.count()
    registry.register_from_df("testdb", "items", base, primary_key="id")
    m = TableMaterializer(spark, registry, str(tmp_path / "state"))
    m.overwrite("testdb", "items", base)
    return m


def _batch(spark, rows, table="items"):
    """rows: list of (seq, op, data_dict, before_dict|None)."""
    payload = [
        {
            "seq": seq,
            "schema": "testdb",
            "table": table,
            "op": op,
            "txn_id": f"t{seq}",
            "commit_ts": "2024-01-01T00:00:00",
            "data": data,
            "before": before,
            "ddl": None,
        }
        for seq, op, data, before in rows
    ]
    df = spark.createDataFrame(payload, FEED_SCHEMA).cache()
    df.count()
    return df


def _version_snapshot(mat, table="items"):
    """(base version, has_data)."""
    return mat._bases[("testdb", table)]


def _state(mat, table="items"):
    return sorted(map(tuple, mat.table("testdb", table).collect()))


def _live_deltas(mat, table="items"):
    return [n for n, d in mat._deltas.items() if f"testdb\t{table}" in d["tables"]]


def _compact(mat, table="items"):
    mat._compact_if_due(("testdb", table), force=True)


def test_overwrite_writes_one_base_version(spark, tmp_path):
    """A baseline is one unpartitioned write: one version directory holding
    at most one parquet file per input partition, listed as the table's one
    manifest entry."""
    registry = TableRegistry()
    base = spark.range(1000).selectExpr("id", "cast(id AS STRING) AS name").repartition(4)
    registry.register_from_df("testdb", "items", base, primary_key="id")
    m = TableMaterializer(spark, registry, str(tmp_path / "state"))
    m.overwrite("testdb", "items", base)
    tdir = os.path.join(m.path, "testdb.items")
    versions = [
        os.path.join(root, d)
        for root, dirs, _ in os.walk(tdir)
        for d in dirs
        if d.startswith("v")
    ]
    assert versions == [os.path.join(tdir, "b0000", "v000001")]
    files = [f for f in os.listdir(versions[0]) if f.endswith(".parquet")]
    assert 1 <= len(files) <= 4, files
    with open(os.path.join(m.path, TableMaterializer.MANIFEST_FILE)) as f:
        assert json.load(f) == {"testdb\titems": {"0": [1, True]}}
    assert m.table("testdb", "items").count() == 1000


def test_upsert_writes_a_delta_and_compaction_writes_one_base_version(spark, mat):
    """An apply rewrites no base: it adds one delta, which reads merge.
    Compacting it publishes the next base version."""
    before = _version_snapshot(mat)
    mat.apply_change_batch(
        _batch(spark, [(1, "update", {"id": "5", "name": "renamed", "v": "50"}, None)])
    )
    assert _version_snapshot(mat) == before
    assert len(_live_deltas(mat)) == 1
    merged = _state(mat)
    got = {r[0]: r[1] for r in merged}
    assert len(got) == 100
    assert got[5] == "renamed"
    _compact(mat)
    assert _version_snapshot(mat) == (before[0] + 1, True)
    assert not _live_deltas(mat)
    assert _state(mat) == merged


def test_vacuum_reaps_superseded_versions(spark, tmp_path, monkeypatch):
    registry = TableRegistry()
    base = spark.createDataFrame(
        [(i, f"name-{i}", i * 10) for i in range(100)], "id LONG, name STRING, v LONG"
    ).cache()
    base.count()
    registry.register_from_df("testdb", "items", base, primary_key="id")
    # zero grace: superseded versions reap at the next publish (the default
    # 60 s grace protects concurrent readers — see test below)
    mat = TableMaterializer(
        spark, registry, str(tmp_path / "state"), vacuum_grace_sec=0
    )
    mat.overwrite("testdb", "items", base)
    # the third delta passes the limit and compacts the table
    monkeypatch.setattr(apply, "MAX_DELTAS", 2)
    for seq in range(1, 4):
        mat.apply_change_batch(
            _batch(
                spark,
                [(seq, "update", {"id": "5", "name": f"n{seq}", "v": "50"}, None)],
            )
        )
    assert not _live_deltas(mat)
    # on disk: exactly ONE base version directory, and the folded deltas
    # are gone
    tdir = os.path.join(mat.path, "testdb.items")
    assert os.listdir(tdir) == ["b0000"]
    assert os.listdir(os.path.join(tdir, "b0000")) == ["v000002"]
    assert os.listdir(os.path.join(mat.path, "_deltas")) == []
    got = {r["id"]: r["name"] for r in mat.table("testdb", "items").collect()}
    assert got[5] == "n3"


def test_vacuum_grace_protects_inflight_readers(spark, mat):
    """A plan built before a compaction still collects after it: the
    superseded base version and the folded delta survive for
    vacuum_grace_sec (the fixture uses the 60 s default), then an explicit
    vacuum(all_versions=True) reaps them."""
    mat.apply_change_batch(
        _batch(spark, [(1, "update", {"id": "5", "name": "bumped", "v": "50"}, None)])
    )
    stale_plan = mat.table("testdb", "items")  # plan holds current paths
    _compact(mat)
    assert stale_plan.count() == 100  # old files still on disk
    assert len(mat._retired) == 2  # one base version, one delta
    mat.vacuum(all_versions=True)
    assert not mat._retired


def test_pk_changing_update_removes_stale_row(spark, mat):
    """ADVICE item: an UPDATE whose after-image carries a NEW pk must remove
    the old-pk row (from the before-image), not leave a stale duplicate."""
    mat.apply_change_batch(
        _batch(
            spark,
            [
                (
                    1,
                    "update",
                    {"id": "105", "name": "moved", "v": "50"},
                    {"id": "5", "name": "name-5", "v": "50"},
                )
            ],
        )
    )
    rows = {r["id"]: r["name"] for r in mat.table("testdb", "items").collect()}
    assert 105 in rows and rows[105] == "moved"
    assert 5 not in rows, "stale old-pk row survived a pk-changing update"
    assert len(rows) == 100


def test_delete_every_row_then_reinsert_reads_clean(spark, mat):
    mat.apply_change_batch(
        _batch(
            spark,
            [
                (i + 1, "delete", {"id": str(i), "name": f"name-{i}", "v": str(i * 10)}, None)
                for i in range(100)
            ],
        )
    )
    assert mat.table("testdb", "items").count() == 0
    # re-insert works after full emptying
    mat.apply_change_batch(
        _batch(spark, [(200, "insert", {"id": "1", "name": "back", "v": "10"}, None)])
    )
    got = mat.table("testdb", "items").collect()
    assert [(r["id"], r["name"]) for r in got] == [(1, "back")]

def test_cross_process_restart_restores_manifest(spark, tmp_path, mat):
    """ADVICE item: the base manifest must survive a process restart — a
    fresh materializer over the same workdir previously started empty, so
    CDC applied onto nothing and queries silently lost pre-restart rows."""
    mat.apply_change_batch(
        _batch(spark, [(1, "update", {"id": "5", "name": "pre-restart", "v": "50"}, None)])
    )
    # "new process": fresh registry + materializer over the same directory
    registry2 = TableRegistry()
    registry2.register_from_df(
        "testdb",
        "items",
        spark.createDataFrame([], "id LONG, name STRING, v LONG"),
        primary_key="id",
    )
    mat2 = TableMaterializer(spark, registry2, mat.path)
    assert mat2.restore() == [("testdb", "items")]
    got = {r["id"]: r["name"] for r in mat2.table("testdb", "items").collect()}
    assert len(got) == 100
    assert got[5] == "pre-restart"
    # CDC keeps applying on the restored state
    mat2.apply_change_batch(
        _batch(spark, [(2, "insert", {"id": "500", "name": "post", "v": "1"}, None)])
    )
    assert mat2.table("testdb", "items").count() == 101
    # second restore is a no-op (state already loaded)
    assert mat2.restore() == []


def test_restore_rejects_a_bucketed_manifest(spark, tmp_path):
    """A manifest listing more than one base bucket per table cannot be
    read as one base version: restore raises instead of reading a part of
    the table."""
    path = tmp_path / "state"
    path.mkdir()
    (path / TableMaterializer.MANIFEST_FILE).write_text(
        json.dumps({"testdb\titems": {"0": [1, True], "1": [1, True]}})
    )
    with pytest.raises(ValueError, match="2 base buckets"):
        TableMaterializer(spark, TableRegistry(), str(path)).restore()


def test_reapplying_same_batch_is_idempotent(spark, mat):
    """At-least-once delivery: a redelivered micro-batch (same change events,
    same seqs) must leave the materialized table exactly as a single apply
    did — last-change-per-pk upsert is naturally idempotent."""
    batch = _batch(
        spark,
        [
            (1, "update", {"id": "3", "name": "renamed", "v": "99"}, None),
            (2, "insert", {"id": "200", "name": "new", "v": "1"}, None),
            (3, "delete", {"id": "7", "name": "name-7", "v": "70"}, None),
        ],
    )
    assert mat.apply_change_batch(batch) == []
    once = sorted(
        (r["id"], r["name"], r["v"])
        for r in mat.table("testdb", "items").collect()
    )

    assert mat.apply_change_batch(batch) == []  # redelivery
    twice = sorted(
        (r["id"], r["name"], r["v"])
        for r in mat.table("testdb", "items").collect()
    )
    assert twice == once
    assert (3, "renamed", 99) in {(r[0], r[1], r[2]) for r in twice}
    ids = {r[0] for r in twice}
    assert 200 in ids and 7 not in ids and len(twice) == 100


def test_same_batch_pk_change_does_not_resurrect_old_key(spark, mat):
    """insert(id=200) then a pk-changing update 200→201 in ONE batch: only
    id=201 may survive — the after-image-partitioned window used to let
    both rows through (the superseded insert sat in its own partition)."""
    batch = _batch(
        spark,
        [
            (1001, "insert", {"id": "200", "name": "n", "v": "1"}, None),
            (
                1002,
                "update",
                {"id": "201", "name": "n", "v": "2"},
                {"id": "200", "name": "n", "v": "1"},
            ),
        ],
    )
    assert mat.apply_change_batch(batch) == []
    rows = {r["id"]: r["v"] for r in mat.table("testdb", "items").collect()}
    assert 200 not in rows
    assert rows[201] == 2


def test_null_data_delete_supersedes_same_batch_insert(spark, mat):
    """A MINIMAL-image delete (null after image, key only in before) must
    delete the key even when the same batch inserted it — the null _pk
    partition used to never outrank the insert's partition."""
    batch = _batch(
        spark,
        [
            (1101, "insert", {"id": "300", "name": "x", "v": "5"}, None),
            (1102, "delete", None, {"id": "300", "name": "x", "v": "5"}),
        ],
    )
    assert mat.apply_change_batch(batch) == []
    ids = {r["id"] for r in mat.table("testdb", "items").collect()}
    assert 300 not in ids


def test_same_batch_pk_chain_collapses(spark, mat):
    """A chain 400→401→402 in one batch leaves exactly the final key."""
    batch = _batch(
        spark,
        [
            (1201, "insert", {"id": "400", "name": "c", "v": "1"}, None),
            (1202, "update", {"id": "401", "name": "c", "v": "2"},
             {"id": "400", "name": "c", "v": "1"}),
            (1203, "update", {"id": "402", "name": "c", "v": "3"},
             {"id": "401", "name": "c", "v": "2"}),
        ],
    )
    assert mat.apply_change_batch(batch) == []
    rows = {r["id"]: r["v"] for r in mat.table("testdb", "items").collect()}
    assert 400 not in rows and 401 not in rows
    assert rows[402] == 3


def test_schema_qualified_views(spark, tmp_path):
    """Two schemas holding the same table name: the qualified views stay
    distinct (the bare view is last-writer-wins by documented rule)."""
    registry = TableRegistry()
    a = spark.createDataFrame([(1, "from-db1")], "id LONG, v STRING")
    b = spark.createDataFrame([(2, "from-db2")], "id LONG, v STRING")
    registry.register_from_df("db1", "orders", a, primary_key="id")
    registry.register_from_df("db2", "orders", b, primary_key="id")
    m = TableMaterializer(spark, registry, str(tmp_path / "st"))
    m.overwrite("db1", "orders", a)
    m.overwrite("db2", "orders", b)
    m.register_view("db1", "orders")
    m.register_view("db2", "orders")
    assert spark.sql("SELECT v FROM db1_orders").collect()[0]["v"] == "from-db1"
    assert spark.sql("SELECT v FROM db2_orders").collect()[0]["v"] == "from-db2"
    # bare name resolves to the most recently registered schema
    assert spark.sql("SELECT v FROM orders").collect()[0]["v"] == "from-db2"


def _last_job_id(spark):
    # ungrouped jobs only: nothing here sets a job group, and job ids are
    # sequential, so a larger max id means at least one job ran
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _file_scans(df):
    return _plan(df).count("FileScan parquet")


def test_table_plan_runs_no_job_and_scans_once(spark, mat):
    """Building the read plan of a table with no deltas needs only footer
    metadata: no schema-inference job, one parquet scan, and there is
    nothing to merge: no Window, no Exchange."""
    before = _last_job_id(spark)
    df = mat.table("testdb", "items")
    assert _last_job_id(spark) == before
    assert _file_scans(df) == 1
    assert "Window" not in _plan(df) and "Exchange" not in _plan(df)
    assert df.count() == 100


def test_table_with_deltas_builds_its_plan_without_a_job(spark, mat):
    """Deltas need no job to plan either: their TableDef is in the delta
    log, so the merged plan scans the base once and the deltas (one
    TableDef) for their keys and their latest rows."""
    for seq, name in ((1, "a"), (2, "b")):
        mat.apply_change_batch(
            _batch(spark, [(seq, "insert", {"id": "500", "name": name, "v": "1"}, None)])
        )
    before = _last_job_id(spark)
    df = mat.table("testdb", "items")
    assert _last_job_id(spark) == before
    assert _file_scans(df) == 3
    got = {r["id"]: r["name"] for r in df.collect()}
    assert len(got) == 101 and got[500] == "b"


def test_compaction_after_ddl_reads_one_scan(spark, mat):
    """After an add-column DDL, a compaction rewrites the whole base with
    the new column: the table reads as one scan again, rows the delta did
    not touch hold the default, and a later widening casts every row."""
    mat.registry.apply_ddl("testdb", "items", "add-column", "flag", "INT", "7")
    mat.apply_change_batch(
        _batch(spark, [(1, "update", {"id": "5", "name": "n5", "v": "50", "flag": "1"}, None)])
    )
    merged = _state(mat)
    _compact(mat)
    df = mat.table("testdb", "items")
    assert _file_scans(df) == 1
    assert "Window" not in _plan(df) and "Exchange" not in _plan(df)
    got = {r["id"]: r["flag"] for r in df.collect()}
    assert len(got) == 100 and got[5] == 1
    assert {f for k, f in got.items() if k != 5} == {7}
    assert _state(mat) == merged

    mat.registry.apply_ddl("testdb", "items", "modify-column", "flag", "BIGINT")
    df = mat.table("testdb", "items")
    assert df.schema["flag"].dataType.simpleString() == "bigint"
    got = {r["id"]: r["flag"] for r in df.collect()}
    assert got[5] == 1 and got[6] == 7


def test_standalone_apply_routes_with_one_collect(spark, tmp_path, monkeypatch):
    """apply_change_batch without a summary finds the tables a 3-table
    batch touches in one collect, not one per table plus one, and writes
    one delta for all three in at most two jobs (the per-key window's
    shuffle and the write)."""
    registry = TableRegistry()
    base = spark.createDataFrame(
        [(i, f"name-{i}", i * 10) for i in range(20)], "id LONG, name STRING, v LONG"
    ).cache()
    base.count()
    m = TableMaterializer(spark, registry, str(tmp_path / "state"))
    batch = None
    for t in ("t1", "t2", "t3"):
        registry.register_from_df("testdb", t, base, primary_key="id")
        m.overwrite("testdb", t, base)
        part = _batch(
            spark,
            [
                (1, "update", {"id": "3", "name": t, "v": "0"}, None),
                (2, "insert", {"id": "50", "name": t, "v": "0"}, None),
            ],
            table=t,
        )
        batch = part if batch is None else batch.unionByName(part)
    collects = []
    orig = DataFrame.collect

    def spy(self):
        collects.append(self)
        return orig(self)

    monkeypatch.setattr(DataFrame, "collect", spy)
    assert m.apply_change_batch(batch) == []
    monkeypatch.undo()
    assert len(collects) == 1
    summary = BatchSummary(batch)
    start = _last_job_id(spark)
    assert m.apply_change_batch(batch, summary, delta_id="again") == []
    assert _last_job_id(spark) - start <= 2
    assert len(m._deltas) == 2
    assert set(m._deltas["again"]["tables"]) == {f"testdb\t{t}" for t in ("t1", "t2", "t3")}
    for t in ("t1", "t2", "t3"):
        got = {r["id"]: r["name"] for r in m.table("testdb", t).collect()}
        assert len(got) == 21 and got[3] == t and got[50] == t


@pytest.mark.parametrize("pk_type", ["int", "bigint", "string", "decimal(20,0)"])
def test_compaction_over_typed_keys_reads_as_merged(spark, tmp_path, pk_type):
    """Over every PK type, compacting the deltas, including a PK-changing
    update, a delete and an insert, reads exactly as the merged read did. A
    key that fails its cast is an apply exception."""
    base = (
        spark.createDataFrame([(i, f"name-{i}") for i in range(40)], "id LONG, name STRING")
        .select(F.col("id").cast(pk_type).alias("id"), "name")
        .cache()
    )
    base.count()
    registry = TableRegistry()
    registry.register_from_df("testdb", "items", base, primary_key="id")
    mat = TableMaterializer(spark, registry, str(tmp_path / "state"))
    mat.overwrite("testdb", "items", base)
    rows = [
        (1, "insert", {"id": "120", "name": "new"}, None),
        (2, "update", {"id": "130", "name": "moved"}, {"id": "3", "name": "name-3"}),
        (3, "delete", {"id": "5", "name": "name-5"}, {"id": "5", "name": "name-5"}),
        (4, "update", {"id": "7", "name": "seven"}, {"id": "7", "name": "name-7"}),
    ]
    if pk_type != "string":  # every key casts to a string
        # the key that fails the cast fails the table's apply (it would
        # fail every read under ANSI casts): its state and deltas stay
        excs = mat.apply_change_batch(
            _batch(spark, rows + [(5, "insert", {"id": "not-a-key", "name": "x"}, None)])
        )
        assert [e["statement"] for e in excs] == ["apply change batch"]
        assert mat.table("testdb", "items").count() == 40
        assert not _live_deltas(mat)
    assert mat.apply_change_batch(_batch(spark, rows)) == []
    merged = _state(mat)
    _compact(mat)
    assert _version_snapshot(mat) == (2, True)
    assert _state(mat) == merged
    names = {str(k): v for k, v in merged}
    assert len(names) == 40 and "3" not in names and "5" not in names
    assert (names["130"], names["120"], names["7"]) == ("moved", "new", "seven")


def test_value_failing_its_cast_is_an_apply_exception(spark, mat):
    """A value that does not cast to its column's type fails its table's
    apply alone: the table keeps its state, the other table of the batch
    applies."""
    mat.registry.register_from_df(
        "testdb", "others", spark.createDataFrame([], "id LONG, name STRING"), "id"
    )
    batch = _batch(
        spark, [(1, "update", {"id": "5", "name": "n", "v": "not-a-number"}, None)]
    ).unionByName(
        _batch(spark, [(2, "insert", {"id": "1", "name": "ok"}, None)], table="others")
    )
    excs = mat.apply_change_batch(batch)
    assert [(e["table_name"], e["statement"]) for e in excs] == [
        ("items", "apply change batch")
    ]
    assert dict((r[0], r[1]) for r in _state(mat))[5] == "name-5"
    assert _state(mat, "others") == [(1, "ok")]


def _fresh_items(spark, path):
    registry = TableRegistry()
    base = spark.createDataFrame(
        [(i, f"name-{i}", i * 10) for i in range(100)], "id LONG, name STRING, v LONG"
    )
    registry.register_from_df("testdb", "items", base, primary_key="id")
    m = TableMaterializer(spark, registry, path)
    m.overwrite("testdb", "items", base)
    return m


def test_reads_after_each_delta_equal_copy_on_write(spark, tmp_path):
    """Reads after 1 to N deltas equal the per-batch base rewrite (the
    same batches, each compacted as it lands), across pk-changing updates,
    null-data deletes, ALTER add/modify-column between deltas and a drop
    in the middle of a batch; compacting the deltas reads the same."""
    mor = _fresh_items(spark, str(tmp_path / "mor"))
    cow = _fresh_items(spark, str(tmp_path / "cow"))

    def row(i, name, v, **extra):
        return {"id": str(i), "name": name, "v": str(v), **extra}

    steps = [
        [
            (1, "insert", row(200, "new", 1), None),
            (2, "update", row(5, "five", 50), row(5, "name-5", 50)),
            (3, "delete", row(7, "name-7", 70), row(7, "name-7", 70)),
        ],
        [
            (4, "update", row(103, "moved", 30), row(3, "name-3", 30)),
            (5, "delete", None, row(10, "name-10", 100)),
            (6, "insert", row(300, "gone", 1), None),
            (7, "delete", None, row(300, "gone", 1)),
        ],
        ("add-column", "flag", "INT", "7"),
        [
            (8, "update", row(5, "five", 51, flag="1"), row(5, "five", 50)),
            (9, "insert", row(400, "defaulted", 4), None),
        ],
        ("modify-column", "flag", "BIGINT", None),
        [
            (10, "update", row(103, "again", 31, flag="2"), row(103, "moved", 30)),
            (11, "insert", row(401, "x", 4, flag="3"), None),
        ],
        [
            (12, "insert", row(500, "pre-drop", 5), None),
            (13, "drop-table", None, None),
            (14, "insert", row(501, "post-drop", 5, flag="9"), None),
            (15, "update", row(501, "updated", 6, flag="9"), row(501, "post-drop", 5)),
        ],
        [
            (16, "insert", row(600, "six", 6), None),
            (17, "update", row(601, "renamed", 7, flag="1"), row(501, "updated", 6)),
            (18, "delete", None, row(600, "six", 6)),
        ],
    ]
    for step in steps:
        if isinstance(step, tuple):
            for m in (mor, cow):
                m.registry.apply_ddl("testdb", "items", *step)
            continue
        batch = _batch(spark, step)
        for m in (mor, cow):
            assert m.apply_change_batch(batch) == []
        _compact(cow)
        assert _state(mor) == _state(cow), step
    assert not _live_deltas(cow)
    # the drop retired the base and the deltas before it
    assert len(_live_deltas(mor)) == 2
    assert not _version_snapshot(mor)[1]
    final = _state(mor)
    assert final == [(601, "renamed", 7, 1)]
    _compact(mor)
    assert not _live_deltas(mor) and _state(mor) == final


def _restarted(spark, mat):
    """A new process's materializer over the same directory."""
    registry = TableRegistry()
    registry.register(replace(mat.registry.get("testdb", "items")))
    m = TableMaterializer(spark, registry, mat.path)
    assert m.restore() == [("testdb", "items")]
    return m


def _crash_on(monkeypatch, manifest):
    """Make the next save of ``manifest`` raise, as a crash would stop it."""
    orig = TableMaterializer._save_json_locked

    def save(self, name, data):
        if name == manifest:
            raise OSError(f"crash before {name}")
        return orig(self, name, data)

    monkeypatch.setattr(TableMaterializer, "_save_json_locked", save)


def test_crash_before_the_delta_flip_restarts_exactly(spark, mat, monkeypatch):
    """A crash between a delta's write and its flip leaves it unlisted: a
    restart reads the state before it, removes the unlisted delta directory
    (and a base publish's staging directory a crash left), and the
    replayed epoch applies it once."""
    mat.apply_change_batch(
        _batch(spark, [(1, "update", {"id": "5", "name": "first", "v": "50"}, None)]),
        delta_id="task-0",
    )
    prior = _state(mat)
    batch = _batch(
        spark,
        [
            (2, "update", {"id": "5", "name": "second", "v": "50"}, None),
            (3, "delete", None, {"id": "6", "name": "name-6", "v": "60"}),
        ],
    )
    _crash_on(monkeypatch, TableMaterializer.DELTA_LOG)
    with pytest.raises(OSError):
        mat.apply_change_batch(batch, delta_id="task-1")
    monkeypatch.undo()
    deltas_dir = os.path.join(mat.path, "_deltas")
    assert len(os.listdir(deltas_dir)) == 2
    staging = os.path.join(mat._table_dir("testdb", "items"), ".staging-crashed")
    os.makedirs(staging)
    m = _restarted(spark, mat)
    assert not os.path.exists(staging)
    assert os.listdir(deltas_dir) == [os.path.basename(m._deltas["task-0"]["path"])]
    assert _state(m) == prior
    assert m.apply_change_batch(batch, delta_id="task-1") == []
    got = dict((r[0], r[1]) for r in _state(m))
    assert len(got) == 99 and got[5] == "second" and 6 not in got
    assert sorted(m._deltas) == ["task-0", "task-1"]
    assert sorted(os.listdir(deltas_dir)) == sorted(
        os.path.basename(d["path"]) for d in m._deltas.values()
    )


@pytest.mark.parametrize(
    "crash", [TableMaterializer.MANIFEST_FILE, TableMaterializer.DELTA_LOG]
)
def test_crash_during_compaction_restarts_exactly(spark, mat, monkeypatch, crash):
    """A compaction flips the base manifest, then the delta log. A crash
    before either flip leaves the deltas over the old base; one between
    them leaves the deltas over a base that already holds them, which
    merges to the same rows. Either way a restart reads the state exactly
    and compacts it."""
    for seq, name in ((1, "a"), (2, "b")):
        mat.apply_change_batch(
            _batch(
                spark,
                [
                    (seq, "update", {"id": str(seq), "name": name, "v": "0"}, None),
                    (seq + 10, "insert", {"id": str(500 + seq), "name": name, "v": "0"}, None),
                ],
            )
        )
    expected = _state(mat)
    _crash_on(monkeypatch, crash)
    with pytest.raises(OSError):
        _compact(mat)
    monkeypatch.undo()
    m = _restarted(spark, mat)
    assert len(_live_deltas(m)) == 2
    assert _state(m) == expected
    _compact(m)
    assert not _live_deltas(m) and _state(m) == expected


def test_crash_between_a_drop_s_flips_restarts_exactly(spark, mat, monkeypatch):
    """A drop flips the delta log first: its delta hides the base until the
    base is retired, so a crash between the two reads exactly."""
    batch = _batch(
        spark,
        [
            (1, "drop-table", None, None),
            (2, "insert", {"id": "7", "name": "after", "v": "1"}, None),
        ],
    )
    _crash_on(monkeypatch, TableMaterializer.MANIFEST_FILE)
    with pytest.raises(OSError):
        mat.apply_change_batch(batch)
    monkeypatch.undo()
    m = _restarted(spark, mat)
    assert _version_snapshot(m)[1]
    assert _state(m) == [(7, "after", 1)]
    _compact(m)
    assert not _live_deltas(m) and _state(m) == [(7, "after", 1)]


def test_pk_retype_compacts_the_base(spark, mat):
    """A batch that retypes the PK folds the table's deltas into a new base
    version, each stored row now under the new key type."""
    mat.apply_change_batch(
        _batch(spark, [(1, "insert", {"id": "300", "name": "pre", "v": "3"}, None)])
    )
    mat.registry.apply_ddl("testdb", "items", "modify-column", "id", "decimal(20,2)")
    batch = _batch(
        spark, [(3, "update", {"id": "5.00", "name": "post", "v": "5"}, None)]
    ).unionByName(
        spark.createDataFrame(
            [
                {
                    "seq": 2, "schema": "testdb", "table": "items", "op": "alter-table",
                    "ddl": {"action": "modify-column", "column": "id", "type": "decimal(20,2)"},
                }
            ],
            FEED_SCHEMA,
        )
    )
    assert mat.apply_change_batch(batch) == []
    assert not _live_deltas(mat)
    v, has_data = _version_snapshot(mat)
    assert has_data
    stored = apply._stored_schema(mat._base_dir(("testdb", "items"), v))
    assert stored["id"].dataType.simpleString() == "decimal(20,2)"
    got = {float(r[0]): r[1] for r in _state(mat)}
    assert len(got) == 101 and got[300.0] == "pre" and got[5.0] == "post"
