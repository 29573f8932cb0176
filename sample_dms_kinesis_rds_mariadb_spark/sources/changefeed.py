"""CDC change-feed source — the binlog-tail analog (SURVEY §2.1 S2).

The reference's CDC tasks tail the MariaDB binlog (ROW format, Full row
image — reference dms_sample/stack.py:372-376, docker-compose.yml:31) and
capture committed INSERT/UPDATE/DELETE + DDL in commit order. The engine's
equivalent is a Structured Streaming source over a directory of JSON-lines
change records (Debezium-style shape; any Kafka/Kinesis feed carrying the
same fields plugs in identically via ``readStream.format(...)``):

    {"seq": 7, "schema": "testdb", "table": "authors", "op": "insert",
     "txn_id": "txn-3", "commit_ts": "2024-01-01T00:00:00",
     "data": {col: str, ...},      # after-image (ROW/Full ⇒ all columns)
     "before": {col: str, ...},    # before-image for update/delete
     "ddl": {"action": "add-column", "column": "is_stock",
             "type": "boolean", "default": "true"}}   # DDL ops only

``data``/``before`` are MAP<STRING,STRING> transport (schema-stable under
DDL drift, SURVEY §1.2). ``seq`` is the binlog position: commit order within
the feed. The file source is replayable from the beginning — the
TRIM_HORIZON semantics of SURVEY §2.10 T1 — and checkpointable.
"""

from __future__ import annotations

import json
import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_kinesis_rds_mariadb_spark.spec import SelectionRule

FEED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("txn_id", T.StringType()),
        T.StructField("commit_ts", T.StringType()),
        T.StructField("data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("before", T.MapType(T.StringType(), T.StringType())),
        T.StructField(
            "ddl",
            T.StructType(
                [
                    T.StructField("action", T.StringType()),
                    T.StructField("column", T.StringType()),
                    T.StructField("type", T.StringType()),
                    T.StructField("default", T.StringType()),
                ]
            ),
        ),
    ]
)


def rule_predicate(rules: list[SelectionRule]):
    """Row-level guard for the change stream: the streaming complement of the
    catalog-level selection pushdown (SURVEY §2.3 F1/F2). Include rules OR'd,
    exclude rules AND NOT'd, evaluated on (schema, table) columns with
    Spark-native LIKE, whose %/_ wildcards are the rules' own (JVM-side,
    codegen'd).
    """
    includes = [r for r in rules if r.action == "include"]
    excludes = [r for r in rules if r.action == "exclude"]
    pred = F.lit(False)
    for r in includes:
        pred = pred | (
            F.col("schema").like(r.schema_pattern)
            & F.col("table").like(r.table_pattern)
        )
    for r in excludes:
        pred = pred & ~(
            F.col("schema").like(r.schema_pattern)
            & F.col("table").like(r.table_pattern)
        )
    return pred


class ChangeFeed:
    """A directory-backed change feed: producer API (used by tests / local
    seeding, standing in for the binlog writer) + streaming/batch readers.
    """

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)
        self._seq = 0
        self._file_no = 0
        self._lock = threading.Lock()
        self._producer_recovered = False

    def _recover_producer_state(self) -> None:
        """A NEW producer over an EXISTING feed directory (capture-agent
        restart) must continue the commit order, not reissue seq 1..N —
        colliding seqs would let stale pre-restart events win the
        applier's last-writer-wins window. File numbering likewise
        continues so no committed file is overwritten. LAZY — run under
        the lock on the first ``append_changes`` only, so pure consumers
        (the engine constructs one feed per endpoint at startup) never
        pay the directory scan + aggregation."""
        if self._producer_recovered:
            return
        self._producer_recovered = True
        existing = [
            f
            for f in os.listdir(self.path)
            if f.startswith("changes-") and f.endswith(".json")
        ]
        if existing:
            self._file_no = (
                max(int(f[len("changes-") : -len(".json")]) for f in existing) + 1
            )
            self._seq = self.current_position()

    # -- producer (binlog-writer stand-in) ---------------------------------
    def append_changes(self, changes: list[dict]) -> None:
        """Write one JSON-lines file of change records, assigning commit-order
        ``seq`` numbers. Atomic per file (write temp, rename) so the
        streaming file source never sees partial files.
        """
        with self._lock:
            self._recover_producer_state()
            lines = []
            for c in changes:
                c = dict(c)
                if "seq" in c and c["seq"] is not None:
                    # keep the auto counter ahead of explicit seqs: a later
                    # auto-assigned seq BELOW a caller-supplied one would
                    # let the stale explicit event outrank newer changes in
                    # the applier's last-writer-per-key window
                    self._seq = max(self._seq, int(c["seq"]))
                else:
                    self._seq += 1
                    c["seq"] = self._seq
                lines.append(json.dumps(c))
            tmp = os.path.join(self.path, f".tmp-{self._file_no}.json")
            final = os.path.join(self.path, f"changes-{self._file_no:06d}.json")
            self._file_no += 1
            # write + rename stay UNDER the lock: releasing it first let a
            # concurrent producer publish a HIGHER-numbered (later-seq) file
            # before this one became visible, so the streaming file source
            # delivered newer changes in an earlier micro-batch and the
            # stale batch overwrote state (cross-batch, where the per-key
            # window can't see the newer seq)
            with open(tmp, "w") as f:
                f.write("\n".join(lines) + "\n")
            os.rename(tmp, final)

    def append_changes_df(self, changes_df: DataFrame, mono_col: str) -> int:
        """Distributed append: publish a batch of change records written
        EXECUTOR-SIDE — no row ever crosses the driver. This is the bulk
        path for table-sized batches (a polling capture's initial snapshot,
        a reconciliation diff); the driver-hop :meth:`append_changes` stays
        the increment path.

        ``changes_df`` must carry the feed record columns (schema, table,
        op, txn_id, commit_ts, data, before) plus ``mono_col`` holding
        ``monotonically_increasing_id()`` values computed on a PINNED frame
        (the caller owns pinning — localCheckpoint — so re-evaluation can't
        reshuffle ids between this method's aggregation and its write).

        Seqs are DENSE: ``base + 1 .. base + n`` in mono order, computed
        arithmetically from the mono ids' documented layout (partition id
        in the upper bits, per-partition record number in the lower 33) —
        one tiny per-partition-counts aggregation (collect bounded by the
        partition count), a broadcast-literal offset map, NO shuffle of the
        batch. Repeated bulk appends therefore advance the counter by row
        count, never by the ~2^33-per-partition stride of raw mono ids
        (which would silently walk the int64 range on wide frames). The same
        aggregation checks that layout: ids that are not dense per
        partition raise ``ValueError`` and publish nothing. Record order
        within the batch is partition order, not commit order — sound for
        what this path carries: snapshot / diff batches have
        per-key-unique records, so the applier's per-key max-seq verdict is
        order-independent. Files publish by atomic rename (same contract
        as :meth:`append_changes`), so the streaming reader never sees a
        partial file; the write job runs under the producer lock so no
        concurrent producer can interleave a lower-seq file afterwards.
        """
        import glob
        import shutil
        import uuid

        mask = (1 << 33) - 1
        with self._lock:
            self._recover_producer_state()
            base = self._seq
            per_pid = (
                changes_df.groupBy(
                    F.shiftright(F.col(mono_col), 33).alias("_pid")
                )
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.max(F.col(mono_col).bitwiseAND(F.lit(mask))).alias("_mx"),
                )
                .orderBy("_pid")
                .collect()
            )
            total = sum(int(r["_n"]) for r in per_pid)
            if total == 0:
                return 0
            if any(int(r["_mx"]) != int(r["_n"]) - 1 for r in per_pid):
                raise ValueError(
                    f"{mono_col} is not monotonically_increasing_id() of a "
                    "pinned frame: its per-partition record numbers are not "
                    "dense"
                )
            # seq = base + 1 + offset[pid] + row
            offsets, acc = {}, 0
            for r in per_pid:
                offsets[int(r["_pid"])] = acc
                acc += int(r["_n"])
            off_map = F.create_map(
                *[F.lit(x).cast("long") for kv in offsets.items() for x in kv]
            )
            dense = F.element_at(
                off_map, F.shiftright(F.col(mono_col), 33).cast("long")
            ) + F.col(mono_col).bitwiseAND(F.lit(mask))
            seq_expr = (F.lit(base + 1) + dense).cast("long")
            # leading _: invisible to the Spark readers scanning self.path
            stage = os.path.join(self.path, f"_stage-{uuid.uuid4().hex}")
            out = changes_df.withColumn("seq", seq_expr).select(
                "seq", "schema", "table", "op", "txn_id", "commit_ts",
                "data", "before",
            )
            # ignoreNullFields=false: explicit nulls, byte-shape parity with
            # the json.dumps records append_changes writes
            out.write.mode("overwrite").option(
                "ignoreNullFields", "false"
            ).json(stage)
            n_files = 0
            try:
                for p in sorted(glob.glob(os.path.join(stage, "part-*.json"))):
                    if os.path.getsize(p) == 0:
                        continue  # empty input partition
                    final = os.path.join(
                        self.path, f"changes-{self._file_no:06d}.json"
                    )
                    self._file_no += 1
                    os.rename(p, final)
                    n_files += 1
            finally:
                shutil.rmtree(stage, ignore_errors=True)
            self._seq = base + total
            return n_files

    # -- consumers ----------------------------------------------------------
    def read_stream(self, rules: list[SelectionRule] | None = None) -> DataFrame:
        """Structured Streaming reader (maxFilesPerTrigger bounds batch size,
        the analog of the reference's 50-record fetch pages, run.py:183)."""
        df = (
            self.spark.readStream.schema(FEED_SCHEMA)
            .option("maxFilesPerTrigger", "8")
            .json(self.path)
        )
        if rules:
            df = df.filter(rule_predicate(rules))
        return df

    def read_batch(self, rules: list[SelectionRule] | None = None) -> DataFrame:
        df = self.spark.read.schema(FEED_SCHEMA).json(self.path)
        if rules:
            df = df.filter(rule_predicate(rules))
        return df

    def current_position(self) -> int:
        """Max committed ``seq`` currently in the feed — the binlog-position
        handoff point a ``full-load-and-cdc`` task records at snapshot time
        (changes ≤ position are part of the snapshot; CDC applies only
        later ones). One bounded aggregation job, run once per task start."""
        if not any(f.endswith(".json") for f in os.listdir(self.path)):
            return 0
        row = self.read_batch().agg(F.max("seq")).first()
        return int(row[0]) if row[0] is not None else 0
