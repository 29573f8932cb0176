"""Ordered envelope sink — the Kinesis-stream analog (SURVEY §2.2 K1-K3).

The reference's target is a 1-shard Kinesis stream: JSON ``Data`` +
``PartitionKey`` per record, sequence numbers, arrival timestamps, 24 h
retention, total arrival order (reference dms_sample/stack.py:354-360,
run.py:168-199). Here the stream is a parquet-backed append log:

- wire columns: ``Data`` (JSON envelope), ``PartitionKey``, ``shard_id``,
  ``sequence_number``, ``approximate_arrival_ts``;
- ``shards=1`` reproduces strict total order — inherently serial at the sink
  boundary, exactly like one Kinesis shard (the *reference's* scalability
  limit, kept for contract parity);
- ``shards>1`` is the scale mode: records hash-route by ``PartitionKey`` so
  each table's changes stay ordered within a shard (per-key FIFO, the real
  Kinesis model), and sequence numbers are per-shard. At 100 TB this is the
  only mode that parallelizes — writers scale with executors because ordering
  is established per shard via a hash-partitioned window, never a global sort.

Parquet (columnar, splittable, predicate-pushdown on ``sequence_number`` /
``approximate_arrival_ts``) rather than JSON-lines keeps the read-back path
scan-efficient at scale.

Every append is a staged publish: the write lands in a hidden
``records/_staging-<uuid>/`` (Spark's file index skips ``_``-prefixed
names), then its part files are renamed into ``records/`` with their mtime
set to the publish time. The store lock is held from sequence assignment to
publish, so records become visible in sequence order. An append's ``after``
callable runs between write and publish: the CDC task waits there for the
batch's apply, so a record is never visible before its side effects.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid
from collections.abc import Callable
from datetime import datetime, timedelta, timezone

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.envelope import parse_json_records, to_json_records

WIRE_COLUMNS = [
    "Data",
    "PartitionKey",
    "shard_id",
    "sequence_number",
    "approximate_arrival_ts",
]

ITERATOR_TYPES = (
    "TRIM_HORIZON",
    "LATEST",
    "AT_TIMESTAMP",
    "AT_SEQUENCE_NUMBER",
    "AFTER_SEQUENCE_NUMBER",
)

_STAGING = "_staging-"


def observed_metrics(obs: Observation) -> dict:
    """The metrics ``obs`` collected over the action that ran its frame, or
    ``{}`` when the frame's CollectMetrics node never ran: an empty input can
    elide the node (empty-relation propagation), and ``Observation.get``
    then raises. Callers read an absent count as zero rows."""
    try:
        return obs.get
    except Py4JJavaError:
        return {}


class StreamStore:
    """Append-only partitioned record stream with per-shard sequence numbers.

    Sequence offsets are driver-side metadata (one counter per shard), the
    same role Kinesis's shard sequence counter plays — per-record work stays
    distributed.
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        shards: int = 1,
        retention_hours: float | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.shards = shards
        self.retention_hours = retention_hours
        self._next_seq: dict[int, int] = dict.fromkeys(range(shards), 0)
        self._lock = threading.Lock()
        os.makedirs(self._records_path, exist_ok=True)
        # an append that crashed before its publish left its staged files
        for name in os.listdir(self._records_path):
            if name.startswith(_STAGING):
                shutil.rmtree(os.path.join(self._records_path, name))
        # A fresh store over an existing record log (cross-process restart)
        # must continue the per-shard sequence, not reissue from 0. Recovery
        # is one bounded groupBy over the log, deferred until the first
        # operation that actually needs the counters. The persisted sequence
        # floor (written at trim time) must ALSO trigger recovery: a store
        # whose every record file was retention-trimmed has no data files,
        # but reissuing from 0 would hand out duplicate sequence numbers
        # and strand AFTER_SEQUENCE_NUMBER checkpoints.
        self._offsets_recovered = not self._has_data() and not os.path.exists(
            self._seq_floor_path
        )

    @property
    def _records_path(self) -> str:
        return os.path.join(self.path, "records")

    @property
    def _seq_floor_path(self) -> str:
        return os.path.join(self.path, "_seq_floor.json")

    def _save_seq_floor_locked(self) -> None:
        import json as _json

        write_atomic(
            self._seq_floor_path,
            _json.dumps({str(k): v for k, v in self._next_seq.items()}),
        )

    def _has_data(self) -> bool:
        return any(f.endswith(".parquet") for f in os.listdir(self._records_path))

    def append_envelopes(
        self, env_df: DataFrame, after: Callable[[], object] | None = None
    ) -> int:
        """Serialize envelope rows (envelope.py shape) and append (``after``
        as in :meth:`append`).

        Rows may carry ``_order`` (within-batch emission order); otherwise
        batch order is unspecified within the append, matching at-least-once
        stream semantics (SURVEY §2.10 T1).
        """
        return self.append(to_json_records(env_df), after=after)

    def _recover_offsets(self) -> None:
        """Continue per-shard sequence counters after a cross-process restart.

        Caller must hold ``self._lock``. One control-plane aggregation over
        the record log (max sequence per shard — ≤ ``shards`` rows back to the
        driver), run at most once per store lifetime."""
        if self._offsets_recovered:
            return
        self._offsets_recovered = True
        if os.path.exists(self._seq_floor_path):
            import json as _json

            try:
                with open(self._seq_floor_path) as f:
                    floor = _json.load(f)
                for k, v in floor.items():
                    self._next_seq[int(k)] = max(
                        self._next_seq.get(int(k), 0), int(v)
                    )
            except (ValueError, OSError):
                pass  # corrupt floor: the record-log scan below still rules
        if not self._has_data():
            return
        rows = (
            self.spark.read.parquet(self._records_path)
            .groupBy("shard_id")
            .agg(F.max("sequence_number").alias("max_seq"))
            .collect()
        )
        for r in rows:
            # sequence_number = offset + row_number (1-based), so the stored
            # counter equals the max sequence already issued for the shard
            self._next_seq[r["shard_id"]] = max(
                self._next_seq.get(r["shard_id"], 0), r["max_seq"]
            )

    def append(
        self, wire_df: DataFrame, after: Callable[[], object] | None = None
    ) -> int:
        """Append ``Data``/``PartitionKey`` records; returns record count.

        A staged publish (module docstring). ``after`` runs between the
        write and the publish; if it raises, the staged files are deleted,
        the sequence counters stay where they were, and the error
        propagates."""
        # opportunistic trim: footer-stat metadata reads only, amortized here
        # so long-lived streams never accumulate unbounded history
        self.trim_expired()
        has_order = "_order" in wire_df.columns
        order_col = F.col("_order") if has_order else F.monotonically_increasing_id()
        df = wire_df.withColumn("_o", order_col).withColumn(
            "shard_id",
            F.pmod(F.xxhash64("PartitionKey"), F.lit(self.shards)).cast("int"),
        )
        # Per-shard sequencing: hash exchange on shard_id + per-shard sort —
        # parallel across shards. shards=1 (or a batch whose PartitionKey is
        # one constant, e.g. schema-table mode with a single table) folds to
        # a single window partition and runs serial BY DESIGN: per-key FIFO
        # over one key is inherently serial, exactly one Kinesis shard. The
        # scale mode is shards>1 + partition_key_type="primary-key" (see
        # envelope.partition_key_col), which spreads a single table's rows
        # over every shard; verified by the plan check in
        # tests/test_engine_misc.py::test_single_table_full_load_spreads_shards.
        w = Window.partitionBy("shard_id").orderBy("_o")
        df = df.withColumn("_rn", F.row_number().over(w))

        with self._lock:
            self._recover_offsets()
            arrival = F.lit(datetime.now(timezone.utc))
            # each shard's (offset, arrival) comes from one map literal
            # looked up by shard_id: generated code references a map literal
            # instead of inlining its values, so the next append reuses the
            # compiled stage (inlined literals recompile it every append)
            shard = F.element_at(
                F.create_map(
                    *[
                        c
                        for s, o in self._next_seq.items()
                        for c in (
                            F.lit(s),
                            F.struct(
                                F.lit(o).cast("long").alias("offset"),
                                arrival.alias("arrival"),
                            ),
                        )
                    ]
                ),
                F.col("shard_id"),
            )
            out = (
                df.withColumn(
                    "sequence_number", (F.col("_rn") + shard["offset"]).cast("long")
                )
                .withColumn("approximate_arrival_ts", shard["arrival"])
                .select(*WIRE_COLUMNS)
            )
            # ONE evaluation of the upstream lineage: the write. Per-shard
            # counts ride the write as observe() metrics (one conditional
            # count per shard, bounded by ``shards``), so an append runs no
            # job beyond the write itself and its cost is O(batch)
            # regardless of stream history. (A persist()-based second
            # aggregation pass is out: at 16 GB driver heap those caches
            # stacked up across appends and produced multi-x10 GC-bound
            # outliers in the sink benchmarks.)
            obs = Observation()
            staging = os.path.join(self._records_path, _STAGING + uuid.uuid4().hex)
            try:
                out.observe(
                    obs,
                    *[
                        F.count(F.when(F.col("shard_id") == s, 1)).alias(str(s))
                        for s in range(self.shards)
                    ],
                ).write.parquet(staging)
                if after is not None:
                    after()
                now = time.time()
                for name in os.listdir(staging):
                    if name.endswith(".parquet"):
                        dst = os.path.join(self._records_path, name)
                        os.rename(os.path.join(staging, name), dst)
                        os.utime(dst, (now, now))
            finally:
                shutil.rmtree(staging, ignore_errors=True)
            metrics = observed_metrics(obs)
            counts = {s: int(metrics.get(str(s), 0)) for s in range(self.shards)}
            for s, n in counts.items():
                self._next_seq[s] += n
            appended = sum(counts.values())
        return appended

    def read(
        self,
        after_ts: datetime | float | None = None,
        shard_id: int | None = None,
        from_seq: int | None = None,
    ) -> DataFrame:
        """Scan the stream in ARRIVAL order (ties: shard, then sequence;
        per-shard sequence order preserved), optionally filtered by arrival
        timestamp — the reference consumer's TRIM_HORIZON + threshold filter
        (run.py:175-188; SURVEY §2.3 F3) — and/or by starting sequence number
        (``from_seq`` inclusive, the AT_SEQUENCE_NUMBER analog). Filters push
        down to parquet (sequence_number is INT64 with row-group min/max, so
        resumed readers skip fully-consumed files at the footer level).
        """
        if not self._has_data():
            return self.spark.createDataFrame(
                [],
                "Data STRING, PartitionKey STRING, shard_id INT, "
                "sequence_number LONG, approximate_arrival_ts TIMESTAMP",
            )
        df = self.spark.read.parquet(self._records_path)
        if self.retention_hours is not None:
            # Kinesis semantics (reference stack.py:356, 24 h): records older
            # than the retention window are gone for every consumer,
            # including TRIM_HORIZON, whether or not the physical trim ran
            # yet. Pushed down to the parquet scan.
            horizon = datetime.now(timezone.utc) - timedelta(
                hours=self.retention_hours
            )
            df = df.filter(F.col("approximate_arrival_ts") > F.lit(horizon))
        if after_ts is not None:
            if isinstance(after_ts, (int, float)):
                after_ts = datetime.fromtimestamp(after_ts, tz=timezone.utc)
            df = df.filter(F.col("approximate_arrival_ts") > F.lit(after_ts))
        if shard_id is not None:
            df = df.filter(F.col("shard_id") == shard_id)
        if from_seq is not None:
            df = df.filter(F.col("sequence_number") >= from_seq)
        # ARRIVAL order across shards (ties -> shard, then sequence): the
        # old (shard_id, sequence_number) order returned ALL of shard 0 —
        # oldest first — before any shard-1 record, so a limited consume on
        # a multi-shard store could return stale shard-0 history while
        # newer-but-earlier-arriving records on other shards were omitted,
        # contradicting the documented arrival-order contract. Per-shard
        # sequence order is preserved (a shard's arrival ts is
        # non-decreasing in sequence; ties fall through to sequence).
        return df.orderBy(
            "approximate_arrival_ts", "shard_id", "sequence_number"
        )

    def trim_expired(self, now: datetime | None = None) -> int:
        """Physically delete record files whose every row is past retention —
        the file-level trim behind the read-side horizon filter. Uses parquet
        footer statistics (driver-side metadata only, no Spark job): a file
        goes when its max ``approximate_arrival_ts`` < horizon. Returns the
        number of files removed. No-op without a retention policy."""
        if self.retention_hours is None:
            return 0
        import pyarrow.parquet as pq

        now = now or datetime.now(timezone.utc)
        horizon = now - timedelta(hours=self.retention_hours)
        arrival_idx = WIRE_COLUMNS.index("approximate_arrival_ts")
        removed = 0
        with self._lock:
            # load the counters from the log WHILE its files still exist —
            # the persisted floor below is only as good as what we read here
            self._recover_offsets()
            for name in os.listdir(self._records_path):
                if not name.endswith(".parquet"):
                    continue
                fpath = os.path.join(self._records_path, name)
                file_max = None
                try:
                    meta = pq.ParquetFile(fpath).metadata
                    for rg in range(meta.num_row_groups):
                        stats = meta.row_group(rg).column(arrival_idx).statistics
                        if stats is None or not stats.has_min_max:
                            file_max = None
                            break
                        ts = stats.max
                        if ts.tzinfo is None:
                            ts = ts.replace(tzinfo=timezone.utc)
                        file_max = ts if file_max is None else max(file_max, ts)
                except Exception:
                    file_max = None
                if file_max is None:
                    # INT96 timestamps carry no parquet stats — fall back to
                    # the file's write time, which equals the batch's arrival
                    # timestamp (set at append)
                    file_max = datetime.fromtimestamp(
                        os.path.getmtime(fpath), tz=timezone.utc
                    )
                if file_max < horizon:
                    os.remove(fpath)
                    removed += 1
            if removed:
                # counters were recovered above while the files still
                # existed; persist them so a LATER process opening a fully
                # trimmed (file-less) store continues the sequence instead
                # of reissuing from 0
                self._save_seq_floor_locked()
        return removed

    def compact(self, min_files: int = 8) -> int:
        """Coalesce the record log: every append leaves one file per
        non-empty shuffle partition, so a long-lived stream's read cost
        grows O(appends). Compaction rewrites the current files into
        ``shards``-partitioned, sequence-sorted files — fewer files AND
        tight per-file ``sequence_number``/arrival row-group stats, so
        resumed iterators and retention trims prune harder afterwards.

        No-op below ``min_files``. Runs under the store lock (appends and
        trims are excluded); concurrent *readers* holding an open scan of
        the old files race with the swap — the single-driver engine model's
        equivalent of a Kinesis re-shard boundary. Returns the number of
        files removed by the rewrite (0 = no-op).
        """
        with self._lock:
            old = [
                f for f in os.listdir(self._records_path) if f.endswith(".parquet")
            ]
            if len(old) < min_files:
                return 0
            self._recover_offsets()  # sequence state must not depend on files
            staging = os.path.join(self.path, "_compact_staging")
            shutil.rmtree(staging, ignore_errors=True)
            (
                self.spark.read.parquet(
                    *[os.path.join(self._records_path, f) for f in old]
                )
                .repartition(self.shards, "shard_id")
                .sortWithinPartitions("shard_id", "sequence_number")
                .write.mode("overwrite")
                .parquet(staging)
            )
            new = [f for f in os.listdir(staging) if f.endswith(".parquet")]
            for f in old:
                os.remove(os.path.join(self._records_path, f))
            for i, f in enumerate(new):
                # all prior .parquet files were just removed — flat names
                # can't collide, and repeated compactions don't grow them
                os.rename(
                    os.path.join(staging, f),
                    os.path.join(self._records_path, f"compacted-{i:05d}.parquet"),
                )
            shutil.rmtree(staging, ignore_errors=True)
            return len(old) - len(new)

    def read_stream(self) -> DataFrame:
        """Structured Streaming reader over the stream (SURVEY §2.1 S5 as a
        stream: downstream consumers tail the sink like a Kinesis shard —
        `spark.readStream` on the record log, envelope-parseable with
        parse_json_records)."""
        df = (
            self.spark.readStream.schema(
                "Data STRING, PartitionKey STRING, shard_id INT, "
                "sequence_number LONG, approximate_arrival_ts TIMESTAMP"
            )
            .option("maxFilesPerTrigger", "8")
            .parquet(self._records_path)
        )
        if self.retention_hours is not None:
            # same horizon the batch reader enforces (fixed at stream start —
            # matching a TRIM_HORIZON subscription, which also evaluates the
            # horizon once at subscribe time)
            horizon = datetime.now(timezone.utc) - timedelta(
                hours=self.retention_hours
            )
            df = df.filter(F.col("approximate_arrival_ts") > F.lit(horizon))
        return df

    def read_envelopes(self, after_ts: datetime | float | None = None) -> DataFrame:
        """Parsed envelope view of the stream (run.py:196-198 projection)."""
        return parse_json_records(self.read(after_ts))

    def get_shard_iterator(
        self,
        shard_id: int = 0,
        iterator_type: str = "TRIM_HORIZON",
        starting_sequence_number: int | None = None,
        timestamp: datetime | float | None = None,
    ) -> "ShardIterator":
        """Kinesis ``GetShardIterator`` analog (the reference consumer uses
        TRIM_HORIZON only, run.py:175-179; the other iterator types generalize
        the same surface):

        - ``TRIM_HORIZON`` — oldest retained record onward;
        - ``LATEST`` — only records appended after this call (position is the
          driver-side shard counter, O(1) after offset recovery);
        - ``AT_TIMESTAMP`` — records with arrival ts > ``timestamp``;
        - ``AT_SEQUENCE_NUMBER`` / ``AFTER_SEQUENCE_NUMBER`` — resume from an
          exact checkpoint (inclusive / exclusive).

        The returned iterator is a cursor: each ``get_records`` reads forward
        from its position and advances it, so repeated calls page through the
        shard exactly once per record.
        """
        it = iterator_type.upper()
        if it not in ITERATOR_TYPES:
            raise ValueError(f"unknown iterator_type {iterator_type!r}")
        if shard_id not in range(self.shards):
            raise ValueError(f"shard_id {shard_id} out of range 0..{self.shards - 1}")
        from_seq: int | None = None
        after_ts: datetime | float | None = None
        if it == "LATEST":
            with self._lock:
                self._recover_offsets()
                from_seq = self._next_seq[shard_id] + 1
        elif it == "AT_TIMESTAMP":
            if timestamp is None:
                raise ValueError("AT_TIMESTAMP requires timestamp")
            after_ts = timestamp
        elif it == "AT_SEQUENCE_NUMBER":
            if starting_sequence_number is None:
                raise ValueError("AT_SEQUENCE_NUMBER requires starting_sequence_number")
            from_seq = starting_sequence_number
        elif it == "AFTER_SEQUENCE_NUMBER":
            if starting_sequence_number is None:
                raise ValueError(
                    "AFTER_SEQUENCE_NUMBER requires starting_sequence_number"
                )
            from_seq = starting_sequence_number + 1
        return ShardIterator(self, shard_id, from_seq=from_seq, after_ts=after_ts)

    def consume(
        self,
        after_ts: datetime | float | None = None,
        limit: int | None = None,
        page_size: int = 50,
    ) -> list[dict]:
        """Client-side consumption: parsed dicts in arrival order, mirroring
        ``wait_for_kinesis``'s paged shard scan (run.py:168-199, Limit=50 at
        :183 → ``page_size`` kept for API parity; paging is a no-op for a
        batch read).
        """
        df = self.read_envelopes(after_ts)
        rows = df.collect() if limit is None else df.take(limit)
        out = []
        for r in rows:
            d = r.asDict(recursive=True)
            env = {
                "data": d["data"],
                "before-image": d["before-image"],
                "metadata": d["metadata"],
                "partition_key": d["partition_key"],
            }
            out.append(env)
        return out


class ShardIterator:
    """Kinesis ``GetRecords`` cursor over one shard of a :class:`StreamStore`.

    Holds a (shard, next-sequence) position; ``get_records`` returns records
    at/after the position in sequence order and advances past what it
    returned. The position is plain driver-side metadata — record reads stay
    distributed, and the sequence predicate prunes consumed files at the
    parquet-footer level, so a long-lived tailing consumer pays per call only
    for the unread suffix of the shard.
    """

    def __init__(
        self,
        store: StreamStore,
        shard_id: int,
        from_seq: int | None = None,
        after_ts: datetime | float | None = None,
    ) -> None:
        self.store = store
        self.shard_id = shard_id
        self._from_seq = from_seq
        self._after_ts = after_ts

    def read(self) -> DataFrame:
        """The unread suffix of the shard as a DataFrame (does not advance)."""
        return self.store.read(
            after_ts=self._after_ts, shard_id=self.shard_id, from_seq=self._from_seq
        )

    PAGE_SIZE = 50  # the reference consumer's Limit (run.py:183)

    def get_records(self, limit: int | None = PAGE_SIZE) -> list[dict]:
        """Collect up to ``limit`` records from the current position and
        advance past them. Returns Kinesis-shaped dicts: parsed envelope under
        ``Data`` plus ``SequenceNumber`` / ``PartitionKey`` /
        ``ApproximateArrivalTimestamp`` so callers can checkpoint and resume
        via AT/AFTER_SEQUENCE_NUMBER.

        Defaults to a 50-record page (the reference consumer always pages,
        run.py:183) so a naive tailing loop can't accidentally materialize
        a long backlog on the driver; pass ``limit=None`` explicitly to
        drain the full unread suffix."""
        df = parse_json_records(self.read())
        rows = df.collect() if limit is None else df.take(limit)
        out = []
        for r in rows:
            d = r.asDict(recursive=True)
            out.append(
                {
                    "Data": {
                        "data": d["data"],
                        "before-image": d["before-image"],
                        "metadata": d["metadata"],
                        "partition_key": d["partition_key"],
                    },
                    "SequenceNumber": d["sequence_number"],
                    "PartitionKey": d["partition_key"],
                    "ApproximateArrivalTimestamp": d["approximate_arrival_ts"],
                }
            )
        if out:
            self._from_seq = out[-1]["SequenceNumber"] + 1
            # the arrival-ts floor is only the *starting* position; once the
            # cursor has a concrete sequence it alone defines progress
            self._after_ts = None
        return out
