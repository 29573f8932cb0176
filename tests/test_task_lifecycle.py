"""Task-lifecycle hardening: cross-process CDC restart state restore,
seq-ordered drop-table truncation, dead-query status reconciliation, DDL
fault isolation, the stop-during-snapshot race and the failed-start
contract."""

from __future__ import annotations

import time

import pytest

from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
from sample_dms_kinesis_rds_mariadb_spark.fixtures import (
    DB_NAME,
    TABLES,
    reference_pipeline,
)
from tests.test_cdc import ACCOUNT_INSERT, AUTHOR_INSERT, NOVEL_INSERTS


def _mk_engine(spark, tmp_path):
    spec = reference_pipeline(str(tmp_path / "feed"))
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for table, (schema, _, pk, defaults) in TABLES.items():
        eng.register_table(
            "mariadb-source",
            DB_NAME,
            table,
            spark.createDataFrame([], schema),
            pk,
            defaults,
        )
    return eng


def test_cdc_restart_new_process_restores_materialized_state(spark, tmp_path):
    """A pure-CDC task restarted in a NEW process (fresh engine over the
    same workdir) must restore the bucket manifest before applying: the
    first post-restart batch touching table B used to overwrite the
    manifest with B alone, erasing table A's materialized rows."""
    eng1 = _mk_engine(spark, tmp_path)
    feed = eng1.changefeed("mariadb-source")
    ts0 = time.time() - 1
    feed.append_changes([AUTHOR_INSERT])
    eng1.start_task("cdc-task-1")
    eng1.wait_for_task_status("cdc-task-1", "running")
    eng1.consume(after_ts=ts0, expected_count=2, retries=120)
    assert eng1.query("SELECT * FROM authors").count() == 1
    eng1.stop_task("cdc-task-1")

    # "new process": a fresh engine over the same feed + workdir
    eng2 = _mk_engine(spark, tmp_path)
    feed2 = eng2.changefeed("mariadb-source")
    ts1 = time.time()
    eng2.start_task("cdc-task-1")
    eng2.wait_for_task_status("cdc-task-1", "running")
    try:
        feed2.append_changes([ACCOUNT_INSERT])
        eng2.consume(after_ts=ts1, expected_count=1, retries=120)
        # the pre-restart author row survived the restart + accounts apply
        assert eng2.query("SELECT * FROM authors").count() == 1
        assert eng2.query("SELECT * FROM accounts").count() == 1
    finally:
        eng2.stop_task("cdc-task-1")


def test_drop_table_truncates_in_seq_order(spark, tmp_path):
    """insert(novel) then drop-table(novels) in ONE appended batch: the
    table must end EMPTY (truncate-before-all-data used to re-apply the
    pre-drop insert onto the truncated table)."""
    eng = _mk_engine(spark, tmp_path)
    feed = eng.changefeed("mariadb-source")
    ts0 = time.time() - 1
    eng.start_task("cdc-task-2")  # the novels-selecting task
    eng.wait_for_task_status("cdc-task-2", "running")
    try:
        feed.append_changes(
            [
                NOVEL_INSERTS[0],
                {
                    "schema": DB_NAME,
                    "table": "novels",
                    "op": "drop-table",
                    "commit_ts": "2024-01-01T00:00:09",
                },
            ]
        )
        eng.consume(after_ts=ts0, expected_count=3, retries=120)  # bootstrap+2
        assert eng.query("SELECT * FROM novels").count() == 0
    finally:
        eng.stop_task("cdc-task-2")


def test_dead_query_status_reconciles(spark, tmp_path):
    """A streaming query that dies outside stop() must not report
    'running' forever — task_status reconciles with query liveness."""
    eng = _mk_engine(spark, tmp_path)
    eng.start_task("cdc-task-1")
    eng.wait_for_task_status("cdc-task-1", "running")
    task = eng.tasks["cdc-task-1"]
    # kill the query out from under the task (crash stand-in)
    task._query.stop()
    deadline = time.time() + 30
    while time.time() < deadline:
        if eng.task_status("cdc-task-1") != "running":
            break
        time.sleep(0.2)
    assert eng.task_status("cdc-task-1") in ("stopped", "failed")


def test_alter_unregistered_table_is_isolated(spark, tmp_path):
    """An alter-table for a rule-matched but unregistered table lands in
    awsdms_apply_exceptions; the stream stays alive and later data events
    still apply (DMS conflict semantics extended to DDL)."""
    eng = _mk_engine(spark, tmp_path)
    feed = eng.changefeed("mariadb-source")
    ts0 = time.time() - 1
    eng.start_task("cdc-task-1")
    eng.wait_for_task_status("cdc-task-1", "running")
    try:
        feed.append_changes(
            [
                {
                    "schema": DB_NAME,
                    "table": "articles",  # matches a% rule, never registered
                    "op": "alter-table",
                    "commit_ts": "2024-01-01T00:00:05",
                    "ddl": {
                        "action": "modify-column",
                        "column": "title",
                        "type": "varchar(10)",
                    },
                },
                AUTHOR_INSERT,
            ]
        )
        eng.consume(after_ts=ts0, expected_count=3, retries=120)
        assert eng.task_status("cdc-task-1") == "running"  # stream survived
        assert eng.query("SELECT * FROM authors").count() == 1
        excs = eng.query(
            "SELECT * FROM awsdms_apply_exceptions WHERE table_name = 'articles'"
        ).collect()
        assert excs and "alter-table" in excs[0]["statement"]
    finally:
        eng.stop_task("cdc-task-1")


def test_stop_during_snapshot_phase_never_starts_cdc(spark, tmp_path):
    """stop() while the full-load phase of a full-load-and-cdc task is
    running must prevent the CDC query from starting afterwards."""
    from sample_dms_kinesis_rds_mariadb_spark.fixtures import seed_df
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        EndpointSpec,
        PipelineSpec,
        SelectionRule,
        TaskSettings,
        TaskSpec,
    )

    spec = PipelineSpec(
        endpoints=[
            EndpointSpec(
                "mariadb-source",
                "memory",
                {
                    "schema_name": DB_NAME,
                    "changefeed_path": str(tmp_path / "feed"),
                },
            )
        ],
        tasks=[
            TaskSpec(
                "flc-task",
                "mariadb-source",
                "full-load-and-cdc",
                [SelectionRule(DB_NAME, "novels")],
                TaskSettings(),
            )
        ],
        shards=1,
    )
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    _, _, pk, defaults = TABLES["novels"]
    df = seed_df(spark, "novels").cache()
    df.count()
    eng.register_table("mariadb-source", DB_NAME, "novels", df, pk, defaults)
    task = eng.tasks["flc-task"]
    # deterministic version of the race: stop is requested while the
    # snapshot runs; the load thread must honor it and never start CDC
    task._stop_requested.set()
    task._run()
    assert task._query is None
    assert task.status == "stopped"


def test_stop_racing_cdc_start_stops_the_started_query(spark, tmp_path):
    """The r5 advisory race: stop() arriving AFTER the load thread passed
    its flag-check but BEFORE _start_cdc() finished must still stop the
    query. The fix makes flag-check + query start atomic under the task
    lock and has stop() read _query under the same lock — so stop() either
    prevents the start or sees the started query; it can never thread the
    gap, mark STOPPED, and leave an unstoppable query running."""
    import threading

    from sample_dms_kinesis_rds_mariadb_spark.fixtures import seed_df
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        EndpointSpec,
        PipelineSpec,
        SelectionRule,
        TaskSettings,
        TaskSpec,
    )

    spec = PipelineSpec(
        endpoints=[
            EndpointSpec(
                "mariadb-source",
                "memory",
                {
                    "schema_name": DB_NAME,
                    "changefeed_path": str(tmp_path / "feed"),
                },
            )
        ],
        tasks=[
            TaskSpec(
                "flc-task",
                "mariadb-source",
                "full-load-and-cdc",
                [SelectionRule(DB_NAME, "novels")],
                TaskSettings(),
            )
        ],
        shards=1,
    )
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    _, _, pk, defaults = TABLES["novels"]
    df = seed_df(spark, "novels").cache()
    df.count()
    eng.register_table("mariadb-source", DB_NAME, "novels", df, pk, defaults)
    task = eng.tasks["flc-task"]

    entered = threading.Event()
    orig_start = task._start_cdc

    def slow_start(after_seq=0):
        # we are INSIDE the lock-guarded window the race targets: signal
        # the main thread to call stop() now, then dawdle so stop() is
        # provably concurrent with the query start
        entered.set()
        time.sleep(1.0)
        orig_start(after_seq=after_seq)

    task._start_cdc = slow_start
    t = threading.Thread(target=task._run, daemon=True)
    t.start()
    assert entered.wait(120)
    task.stop()  # races the in-flight _start_cdc for the lock
    t.join(120)
    assert not t.is_alive()
    assert task.status == "stopped"
    assert task._query is None


def test_stop_racing_pure_cdc_start_stops_the_started_query(spark, tmp_path):
    """The same start/stop atomicity for a PURE-CDC task: start() runs
    _start_cdc() under the task lock with a flag re-check, so a stop()
    racing it either prevents the start or stops the started query —
    never returns STOPPED while an unstoppable query spins up behind it."""
    import threading

    eng = _mk_engine(spark, tmp_path)
    task = eng.tasks["cdc-task-1"]

    entered = threading.Event()
    orig_start = task._start_cdc

    def slow_start(after_seq=0):
        entered.set()
        time.sleep(1.0)
        orig_start(after_seq=after_seq)

    task._start_cdc = slow_start
    t = threading.Thread(target=task.start, daemon=True)
    t.start()
    assert entered.wait(120)
    task.stop()
    t.join(120)
    assert not t.is_alive()
    assert task.status == "stopped"
    assert task._query is None


def test_polling_task_runs_a_cdc_migration_only():
    """A polling task starts through ``ReplicationTask.start``, which runs a
    ``cdc`` task's runner inline; any other migration type is refused at
    construction rather than started without its pumper."""
    from sample_dms_kinesis_rds_mariadb_spark.spec import SelectionRule, TaskSpec
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import (
        PollingReplicationTask,
    )

    spec = TaskSpec("poll-flc", "src", "full-load-and-cdc", [SelectionRule("%", "%")])
    with pytest.raises(ValueError, match="cdc migration only"):
        PollingReplicationTask(
            None, spec, None, None, None, None, None,
            changefeed=object(), capture=object(),
        )


@pytest.mark.parametrize("migration_type", ["cdc", "full-load-and-cdc"])
def test_failed_start_reports_failed(spark, tmp_path, migration_type):
    """A start that cannot run lands in FAILED whatever the migration type:
    ``start_task`` does not raise, ``error`` names the missing change feed,
    and a second start is accepted and fails the same way (not refused as
    'already starting')."""
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        EndpointSpec,
        PipelineSpec,
        SelectionRule,
        TaskSpec,
    )

    spec = PipelineSpec(
        endpoints=[EndpointSpec("mariadb-source", "memory", {"schema_name": DB_NAME})],
        tasks=[
            TaskSpec(
                "no-feed-task",
                "mariadb-source",
                migration_type,
                [SelectionRule(DB_NAME, "novels")],
            )
        ],
        shards=1,
    )
    eng = ReplicationEngine(spark, spec, str(tmp_path / "work"))
    for _ in range(2):
        eng.start_task("no-feed-task")
        with pytest.raises(RuntimeError, match="changefeed"):
            eng.wait_for_task_status("no-feed-task", "running", retries=60, sleep=0.1)
        assert eng.task_status("no-feed-task") == "failed"
        assert "changefeed" in eng.tasks["no-feed-task"].error
        assert eng.tasks["no-feed-task"]._query is None


def test_failed_batch_lands_in_failed_on_stop(spark, tmp_path, monkeypatch):
    """A micro-batch whose apply raises kills the query; the stop that
    drains it reports FAILED with the apply's error, and the batch
    published none of its envelopes."""
    from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
        TableMaterializer,
    )

    def boom(self, *args, **kwargs):
        raise RuntimeError("apply exploded")

    monkeypatch.setattr(TableMaterializer, "apply_change_batch", boom)
    eng = _mk_engine(spark, tmp_path)
    eng.changefeed("mariadb-source").append_changes([AUTHOR_INSERT])
    eng.start_task("cdc-task-1")
    eng.stop_task("cdc-task-1")
    assert eng.task_status("cdc-task-1") == "failed"
    assert "apply exploded" in eng.tasks["cdc-task-1"].error
    eng.stop_task("cdc-task-1")  # stopping a failed task keeps it failed
    assert eng.task_status("cdc-task-1") == "failed"
    tables = [e["metadata"]["table-name"] for e in eng.consume(after_ts=0)]
    assert tables == ["awsdms_apply_exceptions"]


def test_bootstrap_keeps_the_lowest_sequence_number(spark, tmp_path, monkeypatch):
    """The apply-exceptions bootstrap is written while the query starts.
    When batch 0's data is already in the feed, the bootstrap is held until
    that batch has started its apply; its envelope write waits for the
    bootstrap, so the bootstrap still takes sequence number 1."""
    import threading

    from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
        TableMaterializer,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import ReplicationTask

    applying = threading.Event()
    orig_apply = TableMaterializer.apply_change_batch
    orig_bootstrap = ReplicationTask._emit_exceptions_bootstrap

    def apply(self, *args, **kwargs):
        applying.set()
        return orig_apply(self, *args, **kwargs)

    def late_bootstrap(self):
        assert applying.wait(120)
        time.sleep(1.0)  # batch 0's envelope write is planned meanwhile
        orig_bootstrap(self)

    monkeypatch.setattr(TableMaterializer, "apply_change_batch", apply)
    monkeypatch.setattr(ReplicationTask, "_emit_exceptions_bootstrap", late_bootstrap)
    eng = _mk_engine(spark, tmp_path)
    eng.changefeed("mariadb-source").append_changes([AUTHOR_INSERT])
    eng.start_task("cdc-task-1")
    try:
        assert eng.task_status("cdc-task-1") == "running"
        eng.consume(after_ts=0, expected_count=2, retries=120)
    finally:
        eng.stop_task("cdc-task-1")
    rows = eng.store.read().orderBy("sequence_number").collect()
    assert [r["sequence_number"] for r in rows] == [1, 2]
    assert "awsdms_apply_exceptions" in rows[0]["Data"]
    assert '"authors"' in rows[1]["Data"]


def test_failed_bootstrap_leaves_no_live_query(spark, tmp_path, monkeypatch):
    """A bootstrap that fails after the query started stops that query: the
    task is FAILED with the bootstrap's error and no query of it runs."""
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import ReplicationTask

    def boom(self):
        raise RuntimeError("bootstrap failed")

    monkeypatch.setattr(ReplicationTask, "_emit_exceptions_bootstrap", boom)
    eng = _mk_engine(spark, tmp_path)
    active = {q.id for q in spark.streams.active}
    eng.start_task("cdc-task-1")
    task = eng.tasks["cdc-task-1"]
    assert eng.task_status("cdc-task-1") == "failed"
    assert "bootstrap failed" in task.error
    assert task._query is None
    assert {q.id for q in spark.streams.active} == active
