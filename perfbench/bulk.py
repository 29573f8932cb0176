"""``cdc_bulk``: catch-up drain of a rotated binlog chain (closed loop).

Set-up (untimed): the binlog chain, written from the seed, and a fresh
engine with the three target tables registered. Timed: ``BinlogTail.pump``
into the change feed, then a pure-CDC ``ReplicationTask`` with a
materializer, drained by ``stop()``. The drain is a fixed amount of work
that takes longer than the benchmark's run time, so ``seconds`` does not
apply here."""

from __future__ import annotations

import os
import time

import oracle
from common import SCHEMA, SOURCE, ProgressLog, cpu_seconds, peak_rss_mb, quantile
from gen import ALTER_TABLE, BULK_TABLES, EXCLUDED_TABLE, make_bulk_chain

TASK = "cdc-bulk"
N_EVENTS = 12_000
EVENTS_PER_FILE = 1_000
# the file source reads 8 files per micro-batch: the first batch carries
# the three-table mix (and the ALTER), the second a lineitem-only burst
# of inserts, updates and deletes onto the state the first one wrote
TAIL_FROM = 8 * EVENTS_PER_FILE


def _engine(spark, workdir: str):
    from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        EndpointSpec,
        PipelineSpec,
        SelectionRule,
        TaskSettings,
        TaskSpec,
    )

    spec = PipelineSpec(
        endpoints=[EndpointSpec(SOURCE, "memory", {
            "schema_name": SCHEMA,
            "changefeed_path": os.path.join(workdir, "feed"),
        })],
        tasks=[TaskSpec(TASK, SOURCE, "cdc", [
            SelectionRule(SCHEMA, "%"),
            SelectionRule(SCHEMA, "tmp%", "exclude"),
        ], TaskSettings(before_image=True))],
    )
    eng = ReplicationEngine(spark, spec, os.path.join(workdir, "engine"))
    for t, (_, ddl, pk) in BULK_TABLES.items():
        eng.register_table(SOURCE, SCHEMA, t, spark.createDataFrame([], ddl), pk)
    return eng


def expected_counts(led) -> dict[tuple[str, str], int]:
    want = {k: n for k, n in led.counts.items() if k[0] != EXCLUDED_TABLE}
    want[(oracle.EXCEPTIONS_TABLE, "create-table")] = 1
    return want


def expected_orders_schema() -> list[dict]:
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(BULK_TABLES[ALTER_TABLE][1])
    pk = BULK_TABLES[ALTER_TABLE][2]
    rows = [
        {"Field": f.name, "Type": f.dataType.simpleString(), "Null": "YES",
         "Key": "PRI" if f.name == pk else "", "Default": None}
        for f in struct.fields
    ]
    rows.append({"Field": "o_shippriority", "Type": "int", "Null": "YES",
                 "Key": "", "Default": "0"})
    return rows


def run(spark, work: str, seed: int, seconds: float, tracer) -> dict:
    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog import BinlogTail

    import layers

    t = time.perf_counter()
    head, led = make_bulk_chain(os.path.join(work, "binlog"), seed,
                                N_EVENTS, EVENTS_PER_FILE, TAIL_FROM)
    gen_s = time.perf_counter() - t
    t = time.perf_counter()
    eng = _engine(spark, work)
    preload_s = time.perf_counter() - t
    tail = BinlogTail(head, state_path=os.path.join(work, "tail.state"))
    feed = eng.changefeed(SOURCE)
    plog = tracer[1] if tracer else ProgressLog(spark)
    plog.clear()
    if tracer:
        tracer[0].reset()
        jobs0 = tracer[0].jobs()

    c0 = cpu_seconds()
    w0 = time.time()
    t0 = time.perf_counter()
    pumped = tail.pump(feed)
    t_pumped = time.time()
    eng.start_task(TASK)
    eng.stop_task(TASK)
    t1 = time.perf_counter()
    drain_cpu_s = cpu_seconds() - c0
    status = eng.task_status(TASK)
    # progress events reach the listener asynchronously: wait for the one
    # of the last committed batch. CPU per micro-batch is taken between the
    # progress events of batches that read data (the first one from the
    # start of the drain)
    commits = os.path.join(eng.store.path, "checkpoints", TASK, "commits")
    last = max(int(n) for n in os.listdir(commits) if n.isdigit())
    deadline = time.perf_counter() + 30
    while (not any(e["batchId"] == last for e in plog.events)
           and time.perf_counter() < deadline):
        time.sleep(0.05)
    marks = [c0] + [c for c, e in zip(plog.cpu, plog.events) if e.get("numInputRows", 0) > 0]
    batch_cpu_ms = [(b - a) * 1000.0 for a, b in zip(marks, marks[1:])]
    if not tracer:
        plog.close()

    if tracer:
        tables_path = eng.materializer.path
        buckets, rows_written = layers.rows_in_versions(
            tables_path, {}, layers.manifest_versions(tables_path))
        result_layers = dict(
            wall_s=t1 - t0, jobs=tracer[0].jobs() - jobs0,
            changes=sum(n for (t, op), n in led.counts.items()
                        if t != EXCLUDED_TABLE and op in ("insert", "update", "delete")),
            file_waits=layers.file_waits_ms(
                os.path.join(eng.store.path, "checkpoints", TASK), plog.events),
            rows_written=rows_written, buckets_rewritten=buckets,
            sink_files=sum(f.endswith(".parquet") for f in os.listdir(
                os.path.join(eng.store.path, "records"))),
            query_ms={}, refresh_views_s=0.0,
        )
    rss = peak_rss_mb()

    want_counts = expected_counts(led)
    grouped = oracle.stream_records(eng)
    bad = 0 if status == "stopped" and pumped == led.events else led.events
    bad += oracle.check_stream_counts(grouped, want_counts)
    bad += oracle.check_statistics(eng, TASK, want_counts)
    bad += oracle.check_schema(eng, ALTER_TABLE, expected_orders_schema())
    bad += oracle.check_no_apply_exceptions(eng)
    for tbl, rows in led.rows.items():
        bad += oracle.check_state(eng, tbl, rows)

    vis = oracle.file_mtimes(grouped)
    lat = []
    for mtime, n in vis:
        lat += [(mtime - w0) * 1000.0] * n
    result = {
        "throughput_per_cpu_s": pumped / drain_cpu_s,
        "op_cpu_p50_ms": quantile(batch_cpu_ms, 0.5),
        "op_cpu_tail_ms": max(batch_cpu_ms),
        "setup_parts": (gen_s, preload_s),
        "peak_rss_mb": rss,
        "attempted": led.events,
        "failed": min(bad, led.events),
        "wall": {
            "cdc_drain_events_per_s": pumped / (t1 - t0),
            "latency_p50_ms": quantile(lat, 0.5),
            "latency_p99_ms": quantile(lat, 0.99),
            "drain_lag_s": max(m for m, _ in vis) - t_pumped,
        },
        "notes": {"drain_cpu_s": drain_cpu_s, "batch_cpu_ms": batch_cpu_ms},
    }
    if tracer:
        result["layers"] = result_layers
    return result
