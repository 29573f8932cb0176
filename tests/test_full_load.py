"""Full-load e2e: the reference's primary flow (SURVEY §3.1) with its exact
golden contracts — task(`a%`) ⇒ 6 events, task(`novels`) ⇒ 4 events
(reference run.py:247-248, 257-258; tests/test_infra.py:579-580, 625-626) and
the per-table statistics (tests/test_infra.py:596-618)."""

import threading
import time
from collections import Counter

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
from sample_dms_kinesis_rds_mariadb_spark.fixtures import (
    DB_NAME,
    TABLES,
    reference_pipeline,
    seed_df,
)
from sample_dms_kinesis_rds_mariadb_spark.spec import (
    EndpointSpec,
    PipelineSpec,
    SelectionRule,
    TaskSettings,
    TaskSpec,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.task import ReplicationTask


@pytest.fixture()
def engine(spark, tmp_path):
    spec = reference_pipeline(str(tmp_path / "feed"))
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for table, (_, _, pk, defaults) in TABLES.items():
        # cache: the Python-built local relation would otherwise re-launch a
        # Python worker scan on every downstream action
        df = seed_df(spark, table).cache()
        df.count()
        eng.register_table("mariadb-source", DB_NAME, table, df, pk, defaults)
    return eng


def _ops(events):
    return [e["metadata"]["operation"] for e in events]


def test_full_load_task1_six_events(engine):
    # contract: 2 drops, 2 creates, 1 authors row, 1 accounts row = 6
    ts = time.time() - 1
    engine.start_task("full-load-task-1")
    engine.wait_for_task_status("full-load-task-1", "stopped")
    events = engine.consume(after_ts=ts, expected_count=6)
    assert len(events) == 6
    ops = _ops(events)
    assert ops.count("drop-table") == 2
    assert ops.count("create-table") == 2
    assert ops.count("load") == 2
    tables = {e["metadata"]["table-name"] for e in events}
    assert tables == {"accounts", "authors"}  # novels never read (X1)
    # per-table order: drop, create, then rows (run.py:247 shape)
    by_table = {}
    for e in events:
        by_table.setdefault(e["metadata"]["table-name"], []).append(
            e["metadata"]["operation"]
        )
    for table_ops in by_table.values():
        assert table_ops[:2] == ["drop-table", "create-table"]
    # data payloads + partition keys (K2)
    loads = [e for e in events if e["metadata"]["operation"] == "load"]
    for e in loads:
        assert e["partition_key"] == f"testdb.{e['metadata']['table-name']}"
    authors_load = next(
        e for e in loads if e["metadata"]["table-name"] == "authors"
    )
    assert authors_load["data"]["first_name"] == "John"


def test_full_load_task2_four_events(engine):
    # contract: 1 drop, 1 create, 2 novels rows = 4
    ts = time.time() - 1
    engine.start_task("full-load-task-2")
    engine.wait_for_task_status("full-load-task-2", "stopped")
    events = engine.consume(after_ts=ts, expected_count=4)
    assert len(events) == 4
    ops = _ops(events)
    assert ops == ["drop-table", "create-table", "load", "load"] or (
        ops.count("load") == 2 and ops.count("drop-table") == 1
    )
    assert {e["metadata"]["table-name"] for e in events} == {"novels"}


def test_full_load_statistics(engine):
    # FullLoadRows: authors=1, accounts=1 (task 1), novels=2 (task 2);
    # ErrorRows=0, TableState="Table completed" (tests/test_infra.py:596-643)
    engine.start_task("full-load-task-1")
    engine.start_task("full-load-task-2")
    engine.wait_for_task_status("full-load-task-1", "stopped")
    engine.wait_for_task_status("full-load-task-2", "stopped")

    stats1 = engine.describe_table_statistics("full-load-task-1")
    assert [s["TableName"] for s in stats1] == ["accounts", "authors"]  # O1 sort
    for s in stats1:
        assert s["FullLoadRows"] == 1
        assert s["FullLoadErrorRows"] == 0
        assert s["TableState"] == "Table completed"

    stats2 = engine.describe_table_statistics("full-load-task-2")
    assert len(stats2) == 1
    assert stats2[0]["TableName"] == "novels"
    assert stats2[0]["FullLoadRows"] == 2
    assert stats2[0]["TableState"] == "Table completed"


def test_both_tasks_sequence(engine):
    """The full make-run flow: task 1 then task 2, arrival-ts thresholds
    separating the two reads (run.py:212-268)."""
    ts1 = time.time() - 0.5
    engine.start_task("full-load-task-1")
    engine.wait_for_task_status("full-load-task-1", "stopped")
    events1 = engine.consume(after_ts=ts1, expected_count=6)
    time.sleep(0.2)
    ts2 = time.time()
    engine.start_task("full-load-task-2")
    engine.wait_for_task_status("full-load-task-2", "stopped")
    events2 = engine.consume(after_ts=ts2, expected_count=4)
    assert len(events1) == 6
    assert len(events2) == 4
    # total stream (no threshold) holds everything in arrival order
    all_events = engine.consume()
    assert len(all_events) == 10


def _spy_full_load_actions(monkeypatch) -> list[str]:
    """Record the DataFrame persist/cache/collect calls made while a task
    runs its snapshot pass (on the task's own thread)."""
    local = threading.local()
    calls: list[str] = []
    for name in ("persist", "cache", "collect"):
        orig = getattr(DataFrame, name)

        def spy(self, *args, _orig=orig, _name=name, **kwargs):
            if getattr(local, "active", False):
                calls.append(_name)
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(DataFrame, name, spy)
    orig_once = ReplicationTask._full_load_once

    def full_load_once(task, tables):
        local.active = True
        try:
            return orig_once(task, tables)
        finally:
            local.active = False

    monkeypatch.setattr(ReplicationTask, "_full_load_once", full_load_once)
    return calls


_LOAD_FIELDS = {"load": "FullLoadRows", "drop-table": "Ddls", "create-table": "Ddls"}


@pytest.mark.parametrize(
    "controls", [True, False], ids=["control-records", "no-control-records"]
)
@pytest.mark.parametrize("migration_type", ["full-load", "full-load-and-cdc"])
def test_full_load_statistics_match_stream(
    spark, tmp_path, monkeypatch, migration_type, controls
):
    """The full-load statistics count exactly the records the stream
    carries, per table and operation, and ride the envelope write: the
    snapshot pass caches nothing and collects nothing."""
    calls = _spy_full_load_actions(monkeypatch)
    ep = "mariadb-source"
    spec = PipelineSpec(
        endpoints=[
            EndpointSpec(
                ep,
                "memory",
                {"schema_name": DB_NAME, "changefeed_path": str(tmp_path / "feed")},
            )
        ],
        tasks=[
            TaskSpec(
                "load-all",
                ep,
                migration_type,
                [SelectionRule(DB_NAME, "%")],
                TaskSettings(include_control_records=controls),
            )
        ],
        shards=1,
    )
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for table, (_, _, pk, defaults) in TABLES.items():
        df = seed_df(spark, table).cache()
        df.count()
        eng.register_table(ep, DB_NAME, table, df, pk, defaults)
    # 3 tables: 4 rows, plus a drop and a create per table when controls
    # are on; the CDC phase adds its exceptions-table bootstrap record
    n_events = (3 * 2 if controls else 0) + 4
    eng.start_task("load-all")
    if migration_type == "full-load":
        eng.wait_for_task_status("load-all", "stopped")
    else:
        n_events += 1
        eng.consume(after_ts=0, expected_count=n_events)
        eng.stop_task("load-all")
    events = eng.consume(after_ts=0)
    assert len(events) == n_events
    expected: dict[str, Counter] = {}
    for e in events:
        m = e["metadata"]
        expected.setdefault(m["table-name"], Counter())[
            _LOAD_FIELDS[m["operation"]]
        ] += 1
    stats = eng.describe_table_statistics("load-all")
    got = {
        s["TableName"]: {f: s[f] for f in ("FullLoadRows", "Ddls") if s[f]}
        for s in stats
    }
    assert got == {t: dict(c) for t, c in expected.items()}
    assert {s["TableState"] for s in stats} == {"Table completed"}
    assert calls == []
