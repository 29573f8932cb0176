"""Replication task lifecycle (SURVEY §2.10 T3/T4/T6/T7).

Tasks are the system's "queries" (SURVEY §1.1 item 4). The reference drives
them through a status state machine — start-replication, poll
``describe_replication_tasks`` until running/stopped, stop-replication
(reference run.py:140-165) — with full-load tasks self-terminating to
``stopped`` and CDC tasks staying ``running`` until stopped (run.py:246,
292-293, 323-326).

Every migration type starts, resumes and fails through one runner,
:meth:`ReplicationTask._run`:

1. ``cdc`` and ``full-load-and-cdc`` check for a change feed, before any
   work.
2. ``cdc`` and ``full-load-and-cdc`` restore the materializer's persisted
   manifests (cross-process restart).
3. ``full-load`` and ``full-load-and-cdc`` run the full load: one envelope
   write over all selected tables, with the statistics observed on that
   write. ``full-load-and-cdc`` takes the feed position it streams after
   (binlog handoff) before its snapshot and runs that write and each
   loaded table's CDC baseline publish as concurrent Spark jobs. It
   records the position as soon as the envelope write has finished, marked
   pending until every baseline is published: a restart that finds the
   position publishes only the baselines still pending, then streams,
   and never writes the snapshot's envelopes twice.
4. ``full-load`` stops there, in ``stopped``.
5. The CDC query starts under the task lock, unless a stop arrived: a
   Structured Streaming query (micro-batch trigger) with a ``foreachBatch``
   sink that collects one summary of the batch and applies its ALTERs to
   the registry. It then runs two things as concurrent Spark jobs: the
   apply of the whole batch to materialized state, as one delta named by
   (task, epoch) — a replayed epoch replaces its delta
   (``streaming/apply.py``) — on a pool thread in the query's job group,
   and the envelope write to the stream store, which publishes only once
   the apply has returned (effects before visibility). Statistics are
   updated from the summary after both. A first start's apply-exceptions
   bootstrap record is written while the query starts; the runner joins it
   before the task reports the query running, and batch 0's envelope write
   joins it too, so it keeps the lowest sequence number.

Any exception lands the task in ``failed`` with the traceback in ``error``;
``start()`` never raises it. ``start()`` runs a ``cdc`` task's runner
inline, so it returns with the query live; the other types run on the task
thread, so the driver API is poll-based like the reference's. Multiple
tasks run concurrently on one SparkSession sharing one sink (T6), exactly
Spark's multi-StreamingQuery scheduler.
"""

from __future__ import annotations

import os
import threading
import time
import traceback
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor, as_completed
from datetime import datetime, timezone
from functools import partial

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
from sample_dms_kinesis_rds_mariadb_spark.envelope import (
    control_events,
    emitted_operations,
    encode_change_batch,
)
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed
from sample_dms_kinesis_rds_mariadb_spark.sources.snapshot import snapshot_task_events
from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSpec, select_tables
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import (
    BatchSummary,
    TableMaterializer,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableDef,
    TableRegistry,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import StatisticsService

# DMS-compatible task states (observed set: run.py:140-165, 246, 292)
READY = "ready"
STARTING = "starting"
RUNNING = "running"
STOPPED = "stopped"
FAILED = "failed"

EXCEPTIONS_TABLE = "awsdms_apply_exceptions"

# the position file's second word while a baseline publish is outstanding
_BASELINES_PENDING = "baselines-pending"

# The DMS apply-exceptions table shape (TASK_NAME/TABLE_OWNER/TABLE_NAME/
# ERROR_TIME/STATEMENT/ERROR in DMS terms) + a synthetic pk for the
# materializer's keyed storage.
_EXCEPTIONS_STRUCT = T.StructType(
    [
        T.StructField("exception_id", T.LongType(), False),
        T.StructField("task_name", T.StringType()),
        T.StructField("table_owner", T.StringType()),
        T.StructField("table_name", T.StringType()),
        T.StructField("error_time", T.TimestampType()),
        T.StructField("statement", T.StringType()),
        T.StructField("error", T.StringType()),
    ]
)


class ReplicationTask:
    def __init__(
        self,
        spark: SparkSession,
        spec: TaskSpec,
        catalog: SourceCatalog,
        store: StreamStore,
        stats: StatisticsService,
        registry: TableRegistry,
        materializer: TableMaterializer,
        changefeed: ChangeFeed | None = None,
        default_schema: str = "main",
    ) -> None:
        self.spark = spark
        self.spec = spec
        self.catalog = catalog
        self.store = store
        self.stats = stats
        self.registry = registry
        self.materializer = materializer
        self.changefeed = changefeed
        self.default_schema = default_schema
        self.status = READY
        self.error: str | None = None
        self._thread: threading.Thread | None = None
        self._query = None
        self._lock = threading.Lock()
        self._stop_requested = threading.Event()

    # -- lifecycle ----------------------------------------------------------
    def start(self) -> None:
        """start-replication (reference run.py:140-145). A ``cdc`` task
        returns with its query live; the other migration types run on the
        task thread. Starting a starting or running task raises; a claimed
        start that fails lands in FAILED instead of raising."""
        with self._lock:
            self._claim_start()
        if self.spec.migration_type == "cdc":
            self._run()
        else:
            self._thread = threading.Thread(target=self._run, daemon=True)
            self._thread.start()

    def _claim_start(self) -> None:
        """Move to STARTING and forget an earlier stop request; called under
        the task lock, so a start racing a running or starting task fails."""
        if self.status in (STARTING, RUNNING):
            raise RuntimeError(f"task {self.spec.task_id} already {self.status}")
        self.status = STARTING
        self._stop_requested.clear()

    def _run(self) -> None:
        """The one runner of every migration type (module docstring, steps
        1-5); a first start and a restart take the same path."""
        loads = self.spec.migration_type != "cdc"
        streams = self.spec.migration_type != "full-load"
        try:
            if streams and self.changefeed is None:
                raise RuntimeError(
                    f"{self.spec.migration_type} task requires a changefeed "
                    "on its endpoint"
                )
            if streams:
                # a restart in a new process: the manifests must be reloaded
                # BEFORE a baseline publish or the stream writes, or their
                # manifest save erases every other table's state (restore()
                # no-ops when state is live or no manifest exists)
                self.materializer.restore()
            position = 0
            if loads:
                self.status = RUNNING
                position = self._full_load(streams)
            if not streams:
                self.status = STOPPED  # full load self-terminates (run.py:246)
                return
            # flag check + query start are atomic under the lock, and stop()
            # reads _query under the same lock: a stop() either runs before
            # this block (the flag is seen and no query starts) or after it
            # (it sees the started query and stops it), never in between
            with self._lock:
                if self._stop_requested.is_set():
                    self.status = STOPPED
                    return
                self._start_cdc(after_seq=position)
        except Exception:
            self.error = traceback.format_exc()
            self.status = FAILED

    def stop(self) -> None:
        """stop-replication (reference run.py:148-151). Drains in-flight
        micro-batches first (processAllAvailable) so stop() never truncates a
        committed change mid-apply — matches DMS's stop-after-commit
        semantics. ``StreamingQuery.stop()`` returns with the query
        inactive. A query that ended with an exception, and a task already
        failed, stay in FAILED."""
        # signal first: a runner that has not started its CDC query yet
        # must not start it after we return
        self._stop_requested.set()
        with self._lock:
            q = self._query
        if q is not None:
            try:
                q.processAllAvailable()
            except Exception:
                pass  # the query's own exception is read below
            q.stop()
            self._query = None
            exc = q.exception()
            if exc is not None:
                self.error = str(exc)
                self.status = FAILED
        if self.status != FAILED:
            self.status = STOPPED

    def wait_for_status(self, status: str, retries: int = 240, sleep: float = 0.5) -> None:
        """Poll-with-retry-budget (reference run.py:154-165, budgets :23-24)."""
        for _ in range(retries):
            self._refresh_status()
            if self.status == status:
                return
            if self.status == FAILED:
                raise RuntimeError(
                    f"task {self.spec.task_id} failed: {self.error}"
                )
            time.sleep(sleep)
        raise TimeoutError(
            f"task {self.spec.task_id} did not reach {status!r} "
            f"(currently {self.status!r})"
        )

    # -- full load (S1) ------------------------------------------------------
    def _full_load(self, streams: bool) -> int:
        """The full load; returns the change-feed position the CDC query
        streams after. A task that streams afterwards (``full-load-and-cdc``)
        takes the position before its snapshot, then writes the envelopes
        and materializes each loaded table as the CDC baseline as concurrent
        Spark jobs. The position is persisted next to the checkpoint as soon
        as the envelope write has finished, marked pending until every
        baseline publish has persisted the materializer's manifest. A
        restart that finds it never writes the snapshot's envelopes again
        (never re-snapshots, never re-filters against a newer position): it
        publishes the baselines again while the mark is pending, then
        resumes CDC."""
        tables = select_tables(
            self.catalog.list_tables(self.spec.source), self.spec.rules
        )
        if not streams:
            self._full_load_once(tables)
            return 0
        pos_file = f"{self.store.path}/checkpoints/{self.spec.task_id}.position"

        def baseline(schema: str, table: str) -> None:
            source = self.catalog.load(self.spec.source, schema, table)
            self.materializer.overwrite(schema, table, source)

        baselines = [partial(baseline, s, t) for s, t in tables]
        if os.path.exists(pos_file):
            with open(pos_file) as f:
                position, *pending = f.read().split()
            if not pending:
                return int(position)
            self._run_jobs(baselines)
        else:
            # changes at or before the position are already in the
            # snapshot; serialized before any job, so a position that
            # cannot be written fails the start before the envelope write
            position = str(self.changefeed.current_position())

            def envelopes() -> None:
                self._full_load_once(tables)
                write_atomic(pos_file, f"{position} {_BASELINES_PENDING}")

            self._run_jobs([envelopes] + baselines)
        # atomic: a crash mid-write leaves no empty position file for
        # every restart to fail on
        write_atomic(pos_file, position)
        return int(position)

    def _run_jobs(self, jobs: list[Callable[[], None]]) -> None:
        """Run ``jobs`` concurrently from a pool of at most the session's
        default parallelism, so the Spark jobs of one fill cores the others
        leave idle (the baseline publishes are single-task stages, and the
        envelope write ends in one). Jobs are handed to the pool in list
        order; each submits its Spark jobs once its driver-side planning is
        done. On the first failure the jobs not yet started are cancelled,
        the running ones are waited for, and the error is re-raised, so no
        job writes after this returns."""
        workers = min(len(jobs), self.spark.sparkContext.defaultParallelism) or 1
        with ThreadPoolExecutor(
            max_workers=workers, thread_name_prefix=f"full-load-{self.spec.task_id}"
        ) as pool:
            futures = [pool.submit(job) for job in jobs]
            try:
                for future in as_completed(futures):
                    future.result()
            except BaseException:
                pool.shutdown(cancel_futures=True)
                raise

    def _full_load_once(self, tables: list[tuple[str, str]]) -> None:
        """One snapshot pass over ``tables`` (no status transitions)."""
        if not tables:
            return
        # one DataFrame → one distributed write job for the whole task; the
        # statistics ride that write as observe() metrics, so the envelopes
        # are neither cached nor read twice
        env, operation_counts = snapshot_task_events(
            self.spark,
            self.catalog,
            self.spec.source,
            tables,
            self.spec.settings,
            pk_by_table=self.registry.primary_keys(),
        )
        for schema_name, table_name in tables:
            self.stats.mark_table_state(
                self.spec.task_id, schema_name, table_name, "Full load"
            )
        self.store.append_envelopes(env)
        self.stats.record_operation_counts(self.spec.task_id, operation_counts())
        for schema_name, table_name in tables:
            self.stats.mark_table_state(
                self.spec.task_id, schema_name, table_name, "Table completed"
            )

    # -- CDC (S2) -------------------------------------------------------------
    def _start_cdc(self, after_seq: int = 0) -> None:
        checkpoint = f"{self.store.path}/checkpoints/{self.spec.task_id}"
        # the registry is session-scoped: (re)register the exceptions-table
        # schema on every start so conflict recording works after restarts
        self._ensure_exceptions_registered()
        first_start = not os.path.exists(checkpoint)
        stream = self.changefeed.read_stream(self.spec.rules)
        if after_seq:
            # binlog-position handoff (full-load-and-cdc): pre-snapshot
            # changes are already reflected in the loaded state
            stream = stream.filter(F.col("seq") > after_seq)
        pool = partial(
            ThreadPoolExecutor, 1, thread_name_prefix=f"cdc-{self.spec.task_id}"
        )

        def process(batch_df, epoch_id: int) -> None:
            batch_df = batch_df.persist()
            try:
                # the batch's one driver round-trip before it writes: the
                # summary answers whether it is empty, which DDL it holds,
                # which tables the apply writes, and the per-table statistics
                summary = BatchSummary(batch_df)
                if not summary.rows:
                    return
                # pks fresh per batch (cheap driver dict): a table registered
                # after task start encodes by its real pk instead of falling
                # back
                env = encode_change_batch(
                    batch_df, self.spec.settings, self.registry.primary_keys()
                )
                excs = self._apply_ddl(summary.controls)

                def apply() -> None:
                    found = excs + self.materializer.apply_change_batch(
                        batch_df, summary, delta_id=f"{self.spec.task_id}-{epoch_id}"
                    )
                    if found:
                        self._record_apply_exceptions(found)

                # effects-before-visibility: the apply and the envelope
                # write run as concurrent Spark jobs, the apply in the
                # query's job group (a stop cancels both), and the envelopes
                # publish only once the apply has returned, so a consumer
                # that has seen an event can rely on its side effects being
                # queryable (consume-then-query is race-free)
                with pool() as apply_pool:
                    applied = apply_pool.submit(
                        inheritable_thread_target(batch_df.sparkSession)(apply)
                    )
                    if bootstrap is not None:  # bound below, before the query starts
                        bootstrap.result()
                    self.store.append_envelopes(env, after=applied.result)
                emitted = emitted_operations(self.spec.settings)
                self.stats.record_operation_counts(
                    self.spec.task_id,
                    [
                        (r["schema"], r["table"], r["op"], r["n"])
                        for r in summary.rows
                        if r["op"] in emitted
                    ],
                )
            finally:
                batch_df.unpersist()

        with pool() as bootstrap_pool:
            # bootstrap control event only on FIRST start — a checkpointed
            # restart resumes the stream, it doesn't re-create the
            # exceptions table (T7); DMS likewise bootstraps once per task.
            # It is written while the query starts.
            bootstrap = (
                bootstrap_pool.submit(self._emit_exceptions_bootstrap)
                if first_start
                else None
            )
            self._query = (
                stream.writeStream.foreachBatch(process)
                .option("checkpointLocation", checkpoint)
                .trigger(processingTime="500 milliseconds")
                .start()
            )
            if bootstrap is not None:
                try:
                    bootstrap.result()
                except BaseException:
                    self._query.stop()
                    self._query = None
                    raise
        self.status = RUNNING

    def _refresh_status(self) -> None:
        """Reconcile ``status`` with the streaming query's liveness: a query
        killed by an executor/driver exception would otherwise leave the
        task claiming ``running`` forever (stop() nulls ``_query`` before
        setting stopped, so a clean stop never reaches this path)."""
        q = self._query
        if q is None or self.status != RUNNING:
            return
        try:
            if q.isActive:
                return
            exc = q.exception()
        except Exception:
            return
        if exc is not None:
            self.error = str(exc)
            self.status = FAILED
        else:
            self.status = STOPPED

    def _emit_exceptions_bootstrap(self) -> None:
        """Exception-table bootstrap control event at CDC task start (T7):
        the reference expects one ``awsdms_apply_exceptions`` create per CDC
        task ("2 create apply_dms_exception" for two tasks, run.py:296-297).
        """
        env = control_events(
            self.spark,
            [(self.default_schema, EXCEPTIONS_TABLE, "create-table")],
            self.spec.settings,
        )
        self.store.append_envelopes(env)
        self.stats.record_operation_counts(
            self.spec.task_id,
            [(self.default_schema, EXCEPTIONS_TABLE, "create-table", 1)],
        )

    def _ensure_exceptions_registered(self) -> None:
        """Register the exceptions-table schema so apply conflicts are
        QUERYABLE over SQL, the way DMS materializes them on the target."""
        try:
            self.registry.get(self.default_schema, EXCEPTIONS_TABLE)
        except KeyError:
            self.registry.register(
                TableDef(
                    schema_name=self.default_schema,
                    table_name=EXCEPTIONS_TABLE,
                    struct=_EXCEPTIONS_STRUCT,
                    primary_key="exception_id",
                )
            )

    def _record_apply_exceptions(self, excs: list[dict]) -> None:
        """Persist apply conflicts into ``awsdms_apply_exceptions`` (DMS
        semantics: a failing change never kills the task; it lands in the
        exceptions table for inspection). Bounded, rare, control-plane-sized
        writes."""
        now = datetime.now(timezone.utc)
        rows = [
            {
                "exception_id": time.time_ns() + i,
                "task_name": self.spec.task_id,
                "table_owner": e["schema_name"],
                "table_name": e["table_name"],
                "error_time": now,
                "statement": e["statement"],
                "error": e["error"],
            }
            for i, e in enumerate(excs)
        ]
        self.materializer.append_rows(self.default_schema, EXCEPTIONS_TABLE, rows)

    def _apply_ddl(self, controls: list) -> list[dict]:
        """Registry-side schema evolution (T5) over the batch's control
        records (``BatchSummary.controls``, seq order). Per-statement fault
        isolation, like data applies: a malformed/unknown-table DDL lands
        in the exceptions table instead of killing the streaming query
        (drop-table is applied by the materializer, as a ``seq`` floor on
        the dropped table's changes)."""
        excs: list[dict] = []
        for r in controls:
            if r["op"] != "alter-table":
                continue
            try:
                self.registry.apply_ddl(
                    r["schema"],
                    r["table"],
                    action=r["action"],
                    column=r["column"],
                    new_type=r["type"],
                    default=r["default"],
                )
            except Exception as exc:  # noqa: BLE001 — isolate per statement
                excs.append(
                    {
                        "schema_name": r["schema"],
                        "table_name": r["table"],
                        "statement": f"alter-table {r['action']} {r['column']}",
                        "error": f"{type(exc).__name__}: {exc}",
                    }
                )
        return excs


class PollingReplicationTask(ReplicationTask):
    """A CDC task whose source is a :class:`~...jdbc_poll.JdbcPollingCapture`
    run as a FIRST-CLASS task, not a manual pump loop: the reference's task
    state machine (start-replication → running → stop-replication,
    run.py:140-165) wrapped around polling capture (SURVEY §2.1 S2b).

    ``capture`` is duck-typed — anything with ``pump(feed) -> int`` and its
    own persistence qualifies: :class:`~...jdbc_poll.JdbcPollingCapture`,
    a :class:`~...jdbc_poll.PollCycleCoordinator` (multi-table cycles), or
    a :class:`~...binlog.BinlogTail` (a binlog FILE chain as a first-class
    CDC task — the reference's actual wire format under the same
    lifecycle).

    Composition: a daemon pumper thread calls ``capture.pump(changefeed)``
    every ``poll_interval`` seconds (the capture-agent role Debezium/DMS run
    as a dedicated process), while the inherited CDC streaming query
    consumes the feed — envelope encode, statistics, registry evolution
    (the capture's DDL control events), materialized apply all ride the
    same machinery as binlog-fed tasks.

    Lifecycle guarantees:
    - ``start()`` reaches RUNNING only after the streaming query is live;
      the pumper starts after it, so the first pump's events are consumed
      by a running stream.
    - ``stop()`` signals the pumper, JOINS it (an in-flight pump completes
      and its events are drained — no straggler pump can append after the
      stream stops), then drains + stops the query (stop-after-commit).
    - a pump exception lands the task in FAILED with the traceback in
      ``error`` (the scheduler-visible failure the reference polls for);
      the capture's own state persistence (``state_path``) makes a
      restarted task resume from the saved high-water mark instead of
      re-snapshotting.
    """

    def __init__(self, *args, capture, poll_interval: float = 1.0, **kwargs):
        super().__init__(*args, **kwargs)
        if self.changefeed is None:
            raise ValueError("PollingReplicationTask requires a changefeed")
        if self.spec.migration_type != "cdc":
            raise ValueError("PollingReplicationTask runs a cdc migration only")
        self.capture = capture
        self.poll_interval = poll_interval
        self.polls = 0  # completed pump count (observable by tests/monitors)
        self._pump_thread: threading.Thread | None = None
        self._pump_stop = threading.Event()

    def _claim_start(self) -> None:
        # reset under the task lock, with the status check: a start refused
        # while a stop() is joining the pumper must not clear its flag
        super()._claim_start()
        self._pump_stop.clear()

    def start(self) -> None:
        # the cdc runner returns with the query live, or without one when a
        # stop() arrived first or the start failed
        super().start()
        if self._query is None:
            return
        # pumper starts AFTER the query: its first append is consumed by a
        # live stream. A stop() racing this point has already set
        # _pump_stop, so the loop exits before its first pump.
        self._pump_thread = threading.Thread(target=self._pump_loop, daemon=True)
        self._pump_thread.start()

    def _pump_loop(self) -> None:
        try:
            while not self._pump_stop.is_set():
                self.capture.pump(self.changefeed)
                self.polls += 1
                self._pump_stop.wait(self.poll_interval)
        except Exception:
            self.error = traceback.format_exc()
            self.status = FAILED

    def stop(self) -> None:
        # order matters: pumper signalled AND JOINED before the query
        # drains, so every appended change is consumed and no pump runs
        # after STOPPED is reported
        self._pump_stop.set()
        t = self._pump_thread
        if t is not None:
            t.join()
            self._pump_thread = None
        super().stop()
