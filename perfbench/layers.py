"""Tracing set-up and the per-layer metrics derived from spans, Spark job
counts, streaming progress events and the files each layer leaves."""

from __future__ import annotations

import json
import os
from datetime import datetime

from common import JobCounter, ProgressLog, Tracer, quantile

QUERY_KINDS = ("pk_lookup", "group_count", "fk_join", "validate")


def install(spark) -> tuple[Tracer, ProgressLog]:
    """Wrap the package's public entry points of every layer."""
    from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
    from sample_dms_kinesis_rds_mariadb_spark.sources.binlog import BinlogTail
    from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed
    from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import TableMaterializer
    from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
        TableRegistry,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import (
        StatisticsService,
    )
    from sample_dms_kinesis_rds_mariadb_spark.streaming.task import ReplicationTask

    tr = Tracer(JobCounter(spark))
    tr.wrap(BinlogTail, "pump", "binlog.pump", count=lambda n: n)
    tr.wrap(ChangeFeed, "append_changes", "changefeed.append")
    tr.wrap(ReplicationTask, "start", "task.start")
    tr.wrap(StreamStore, "append_envelopes", "sink.append", count=lambda n: n)
    tr.wrap(TableMaterializer, "apply_change_batch", "apply.batch")
    tr.wrap(TableMaterializer, "overwrite", "apply.overwrite")
    tr.wrap(StatisticsService, "record_batch", "stats.record")
    tr.wrap(TableRegistry, "apply_ddl", "registry.apply_ddl")
    tr.wrap(ReplicationEngine, "refresh_views", "query.refresh_views")
    tr.wrap(ReplicationEngine, "validate_table", "query.validate")
    tr.wrap_foreach_batch()
    return tr, ProgressLog(spark)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def file_waits_ms(checkpoint: str, progress: list[dict]) -> list[float]:
    """Feed file publish (its mtime, as logged in the checkpoint's source
    log) → start of the micro-batch that read it."""
    starts = {e["batchId"]: _ts(e["timestamp"]) for e in progress}
    src = os.path.join(checkpoint, "sources", "0")
    waits = []
    if not os.path.isdir(src):
        return waits
    for name in os.listdir(src):
        if not name.isdigit() or int(name) not in starts:
            continue
        with open(os.path.join(src, name)) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                waits.append((starts[int(name)] - entry["timestamp"] / 1000.0) * 1000)
    return waits


def manifest_versions(tables_path: str) -> dict[tuple[str, str, str], int]:
    """(table, bucket) → published version, from the materializer's
    on-disk manifest."""
    mf = os.path.join(tables_path, "_manifest.json")
    if not os.path.exists(mf):
        return {}
    with open(mf) as f:
        data = json.load(f)
    return {
        (key, b): v for key, vers in data.items() for b, (v, _hd) in vers.items()
    }


def rows_in_versions(tables_path: str, before: dict, after: dict) -> tuple[int, int]:
    """(bucket versions published, rows they hold) between two manifests."""
    import pyarrow.parquet as pq

    published = rows = 0
    for (key, b), v in after.items():
        v0 = before.get((key, b), 0)
        published += v - v0
        for ver in range(v0 + 1, v + 1):
            d = os.path.join(
                tables_path, key.replace("\t", "."), f"b{int(b):04d}", f"v{ver:06d}"
            )
            if os.path.isdir(d):
                for name in os.listdir(d):
                    if name.endswith(".parquet"):
                        rows += pq.ParquetFile(os.path.join(d, name)).metadata.num_rows
    return published, rows


def metrics(tr: Tracer, plog: ProgressLog, *, wall_s: float, jobs: int,
            changes: int, file_waits: list[float], rows_written: int,
            buckets_rewritten: int, sink_files: int,
            query_ms: dict[str, list[float]], refresh_views_s: float) -> dict:
    """Per-layer metrics, as totals over the timed phase (or means per
    batch), plus tracing overhead and how much of the timed wall time the
    layer self times cover."""
    batches = tr.closed("task.batch")
    nb = max(len(batches), 1)
    progress = [e for e in plog.events if e.get("numInputRows", 0) > 0]
    dur = lambda e, k: e.get("durationMs", {}).get(k, 0)  # noqa: E731
    trigger_ms = [dur(e, "triggerExecution") - dur(e, "addBatch") for e in plog.events]
    waits = file_waits
    applies = tr.closed("apply.batch")
    appends = tr.closed("sink.append")
    layer_self = {
        "binlog.decode_s": tr.self_time("binlog.pump"),
        "changefeed.append_s": tr.total("changefeed.append"),
        "task.start_s": tr.self_time("task.start"),
        "task.self_s": tr.self_time("task.batch"),
        "task.trigger_s": sum(trigger_ms) / 1000.0,
        "sink.append_s": tr.total("sink.append"),
        "apply.s": tr.total("apply.batch"),
        "apply.overwrite_s": tr.total("apply.overwrite"),
        "stats.record_s": tr.total("stats.record"),
        "registry.apply_ddl_s": tr.total("registry.apply_ddl"),
        "query.refresh_views_s": refresh_views_s,
        # query wall time outside view refresh (refresh runs inside query())
        "query.exec_s": sum(sum(v) for v in query_ms.values()) / 1000.0
        - refresh_views_s,
    }
    covered = sum(layer_self.values())
    out = {k: (v, "s") for k, v in layer_self.items()}
    out.update({
        "binlog.events": (sum(s.get("count", 0) for s in tr.closed("binlog.pump")), "count"),
        "changefeed.files": (len(tr.closed("changefeed.append")), "count"),
        "changefeed.file_wait_p50_ms": (quantile(waits, 0.5) if waits else 0.0, "ms"),
        "task.batches": (len(batches), "count"),
        "task.rows_per_batch": (
            sum(e["numInputRows"] for e in progress) / max(len(progress), 1), "count"),
        "task.trigger_ms": (sum(trigger_ms) / max(len(trigger_ms), 1), "ms"),
        "task.add_batch_ms": (
            sum(dur(e, "addBatch") for e in progress) / max(len(progress), 1), "ms"),
        "task.self_ms": (tr.self_time("task.batch") * 1000 / nb, "ms"),
        "task.jobs_per_batch": (sum(s["jobs"] for s in batches) / nb, "count"),
        "sink.records": (sum(s.get("count", 0) for s in appends), "count"),
        "sink.files": (sink_files, "count"),
        "sink.jobs_per_append": (
            sum(s["jobs"] for s in appends) / max(len(appends), 1), "count"),
        "apply.jobs_per_batch": (
            sum(s["jobs"] for s in applies) / max(len(applies), 1), "count"),
        "apply.buckets_rewritten": (buckets_rewritten, "count"),
        "apply.rows_written_per_change": (rows_written / max(changes, 1), "ratio"),
        "registry.ddls": (len(tr.closed("registry.apply_ddl")), "count"),
        "spark.jobs": (jobs, "count"),
        "trace.wall_s": (wall_s, "s"),
        "trace.coverage": (covered / wall_s if wall_s else 0.0, "ratio"),
        "trace.overhead_s": (tr.overhead_s, "s"),
    })
    for kind in QUERY_KINDS:
        xs = query_ms.get(kind, [])
        out[f"query.exec_p50_ms.{kind}"] = (quantile(xs, 0.5) if xs else 0.0, "ms")
    return out
