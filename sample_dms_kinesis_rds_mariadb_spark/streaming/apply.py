"""Materialize the change stream into queryable tables (SURVEY §7 M5).

The reference validates replication by querying the *source* tables over SQL
(run.py:231-241); the engine generalizes this: change events are applied to
per-table materialized state keyed on the primary key (insert/update upsert,
delete removes), registered as session views, and the full Spark SQL surface
runs on top (projections P1/P2, counts A1, the FK join J1, anything else).

Storage is hash-bucketed copy-on-write parquet: each table's rows live in
``n_buckets`` PK-hash buckets, each bucket versioned independently. Applying
a micro-batch rewrites ONLY the buckets holding touched keys — write
amplification is O(batch keys / n_buckets · table), not O(table) — and
superseded bucket versions are vacuumed immediately after publish. Two
DDL records widen that to every bucket of the table: a ``drop-table``,
applied as a ``seq`` floor in the per-key merge (the table restarts empty
with only the changes committed after its last drop), and an
``alter-table`` on the PK column, after which a stored key's bucket can
move. Either way one apply call covers the whole batch. At 100 TB
the identical logic is a Delta / Iceberg ``MERGE INTO`` (same plan shape:
hash join on pk + file rewrite limited to touched files); plain parquet +
a driver-side bucket→version manifest is used here to stay dependency-free.
State is re-projected through the evolving TableDef on every read, so schema
drift (T5) never invalidates stored files: buckets are grouped by the schema
stored in their parquet footers, each group is read in one scan with that
schema and conformed, so buckets written before/after a DDL can coexist.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sample_dms_kinesis_rds_mariadb_spark.envelope import table_lookup
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableDef,
    TableRegistry,
)


def conform(df: DataFrame, tdef: TableDef) -> DataFrame:
    """Project any stored/typed DataFrame onto the current evolved schema:
    add-column fills the default, drop-column prunes, modify-column casts
    (reference lib/query.py:59-66 semantics)."""
    cols = []
    for f in tdef.struct.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            # shared default interpretation (TableDef.default_column): the
            # map-transport and stored-parquet paths must fill identically
            cols.append(tdef.default_column(f.name, f.dataType).alias(f.name))
    return df.select(*cols)


# Spark writes its row schema as JSON into every parquet footer it writes
_SPARK_ROW_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def _stored_schema(parquet_dir: str) -> StructType:
    """The Spark schema a version directory was written with, read from one
    file footer on the driver (metadata only, no Spark job)."""
    import pyarrow.parquet as pq

    name = min(f for f in os.listdir(parquet_dir) if f.endswith(".parquet"))
    meta = pq.read_metadata(os.path.join(parquet_dir, name)).metadata
    return StructType.fromJson(json.loads(meta[_SPARK_ROW_SCHEMA_KEY]))


_DATA_OPS = ("insert", "update", "delete")
_DDL_OPS = ("alter-table", "drop-table")


@dataclass(frozen=True)
class BucketRouting:
    """Per-row PK bucket columns (:meth:`TableMaterializer.routing`), the PK
    column of each table registered in the registry snapshot they were
    built from, and the materializer's bucket count."""

    after: Column
    before: Column
    pks: dict[tuple[str, str], str]
    n_buckets: int


class BatchSummary:
    """One bounded aggregate of a change-feed batch, collected once: per
    ``(schema, table, op)`` the row count, the PK buckets its after-images
    and before-images touch, and its ``alter-table`` / ``drop-table``
    records. At most |tables|×|operations| rows reach the driver, each
    holding at most ``n_buckets`` ints plus the batch's (rare) DDL.

    The DDL makes two per-table decisions here, so a batch applies in one
    :meth:`TableMaterializer.apply_change_batch` call: a table the batch
    drops or whose PK column it alters rewrites every bucket (after a
    retype a stored key's bucket can move), and a dropped table's last
    drop ``seq`` becomes the floor below which its changes are ignored."""

    def __init__(self, batch: DataFrame, routing: BucketRouting) -> None:
        self.routing = routing
        self.rows = (
            batch.groupBy("schema", "table", "op")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_list(
                    F.when(
                        F.col("op").isin(*_DDL_OPS),
                        F.struct(
                            "seq", "ddl.action", "ddl.column", "ddl.type", "ddl.default"
                        ),
                    )
                ).alias("ddl"),
                F.array_union(
                    F.collect_set(routing.after), F.collect_set(routing.before)
                ).alias("buckets"),
            )
            .collect()
        )
        # the batch's DDL and drop-table records in commit (seq) order
        self.controls: list[dict] = sorted(
            (
                dict(schema=r["schema"], table=r["table"], op=r["op"], **c.asDict())
                for r in self.rows
                for c in r["ddl"]
            ),
            key=lambda c: c["seq"],
        )
        # (schema, table) → seq of the batch's last drop of it
        self.drops: dict[tuple[str, str], int] = {
            (c["schema"], c["table"]): c["seq"]
            for c in self.controls
            if c["op"] == "drop-table"
        }

    def routes(self) -> dict[tuple[str, str], tuple[int, list[int] | None]]:
        """(schema, table) → (insert/update/delete count, buckets to
        rewrite) for every table the batch changes, drops or re-keys; the
        buckets are None when the table was not registered in the routing
        snapshot."""
        pks = self.routing.pks
        rewrite_all = set(self.drops) | {
            (c["schema"], c["table"])
            for c in self.controls
            if c["op"] == "alter-table"
            and pks.get((c["schema"], c["table"])) == c["column"]
        }
        acc: dict[tuple[str, str], tuple[int, set[int]]] = {
            k: (0, set()) for k in rewrite_all & pks.keys()
        }
        for r in self.rows:
            if r["op"] in _DATA_OPS:
                key = (r["schema"], r["table"])
                n, buckets = acc.get(key, (0, set()))
                acc[key] = (n + r["n"], buckets | set(r["buckets"]))
        every = list(range(self.routing.n_buckets))
        return {
            k: (n, None if k not in pks else every if k in rewrite_all else sorted(b))
            for k, (n, b) in acc.items()
        }


class TableMaterializer:
    """Bucketed copy-on-write table state.

    Layout: ``<path>/<schema>.<table>/b<k>/v<NNNNNN>/*.parquet`` — bucket k's
    current contents are its highest published version (older versions are
    vacuumed at publish time). The driver-side manifest ``_buckets`` maps
    (schema, table) → {bucket: (version, has_data)}; an empty bucket keeps a
    version number but no directory.
    """

    MANIFEST_FILE = "_manifest.json"

    def __init__(
        self,
        spark: SparkSession,
        registry: TableRegistry,
        path: str,
        n_buckets: int = 16,
        vacuum_grace_sec: float = 60.0,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.path = path
        self.n_buckets = n_buckets
        # superseded versions survive this long before deletion: a reader
        # whose plan was built just before a publish can still collect()
        # against the old files (poor-man's snapshot isolation — Delta keeps
        # whole snapshot history for the same reason). 0 = reap immediately.
        self.vacuum_grace_sec = vacuum_grace_sec
        # (schema, table) -> {bucket: (version, has_data)}
        self._buckets: dict[tuple[str, str], dict[int, tuple[int, bool]]] = {}
        # retired version dirs awaiting vacuum: [(path, retired_at_monotonic)]
        self._retired: list[tuple[str, float]] = []
        # bumped on every state mutation (publish/restore); consumers cache
        # view registrations against it
        self.state_version = 0
        self._lock = threading.Lock()
        os.makedirs(path, exist_ok=True)

    # -- layout --------------------------------------------------------------
    def _table_dir(self, schema: str, table: str) -> str:
        return os.path.join(self.path, f"{schema}.{table}")

    def _bucket_dir(self, schema: str, table: str, bucket: int, version: int) -> str:
        return os.path.join(
            self._table_dir(schema, table), f"b{bucket:04d}", f"v{version:06d}"
        )

    def _bucket_col(self, pk_col) -> F.Column:
        # hash on the STRING form of the pk so bucket routing is stable under
        # modify-column DDL (int pk widened to bigint hashes identically)
        return F.pmod(F.xxhash64(pk_col.cast("string")), F.lit(self.n_buckets)).cast(
            "int"
        )

    # -- read ----------------------------------------------------------------
    def exists(self, schema: str, table: str) -> bool:
        return (schema, table) in self._buckets

    def table(self, schema: str, table: str) -> DataFrame:
        """Current typed state, conformed to the evolved schema."""
        return self._read_buckets(
            schema, table, list(range(self.n_buckets)),
            self.registry.get(schema, table),
        )

    def _read_buckets(
        self, schema: str, table: str, buckets: list[int], tdef: TableDef
    ) -> DataFrame:
        """One parquet scan per stored schema over the given buckets, each
        conformed to ``tdef``. The schema comes from the file footers, so
        building the plan runs no Spark job; there is one group unless a DDL
        has changed the schema and not every bucket has been rewritten
        since."""
        with self._lock:
            vers = dict(self._buckets.get((schema, table), {}))
        # keyed on names and types only: nullability never splits a group
        groups: dict[str, tuple[StructType, list[str]]] = {}
        for k in buckets:
            v, has_data = vers.get(k, (0, False))
            if has_data:
                d = self._bucket_dir(schema, table, k, v)
                st = _stored_schema(d)
                groups.setdefault(st.simpleString(), (st, []))[1].append(d)
        parts = [
            conform(self.spark.read.schema(st).parquet(*dirs), tdef)
            for st, dirs in groups.values()
        ]
        if not parts:
            return self.spark.createDataFrame([], tdef.struct)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def register_view(self, schema: str, table: str) -> None:
        """Register BOTH a schema-qualified view (``{schema}_{table}`` —
        temp views are single-part names) and the bare table name. With two
        schemas holding the same table name, the bare view is last-writer-
        wins; the qualified views stay unambiguous."""
        df = self.table(schema, table)
        df.createOrReplaceTempView(f"{schema}_{table}")
        df.createOrReplaceTempView(table)

    # -- write ---------------------------------------------------------------
    def _publish(
        self,
        schema: str,
        table: str,
        df: DataFrame,
        touched_buckets: list[int],
        pk: str,
    ) -> None:
        """One distributed write of ``df`` partitioned by PK bucket, then an
        atomic (driver-side) manifest flip of the touched buckets + vacuum of
        their superseded versions. Untouched buckets are never read, written,
        or listed."""
        tdir = self._table_dir(schema, table)
        staging = os.path.join(tdir, f".staging-{uuid.uuid4().hex}")
        try:
            (
                df.withColumn("pkbucket", self._bucket_col(F.col(pk)))
                .write.mode("overwrite")
                .partitionBy("pkbucket")
                .parquet(staging)
            )
            with self._lock:
                vers = self._buckets.setdefault((schema, table), {})
                now = time.monotonic()
                for k in touched_buckets:
                    old_v, old_has_data = vers.get(k, (0, False))
                    new_v = old_v + 1
                    src = os.path.join(staging, f"pkbucket={k}")
                    bdir = os.path.join(tdir, f"b{k:04d}")
                    if os.path.exists(src):
                        os.makedirs(bdir, exist_ok=True)
                        os.rename(src, os.path.join(bdir, f"v{new_v:06d}"))
                        vers[k] = (new_v, True)
                    else:
                        vers[k] = (new_v, False)  # bucket emptied
                    if old_has_data:
                        self._retired.append(
                            (os.path.join(bdir, f"v{old_v:06d}"), now)
                        )
                self._save_manifest_locked()
                self.state_version += 1
                self._vacuum_locked(now)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _save_manifest_locked(self) -> None:
        """Persist the bucket manifest atomically next to the data — the
        materializer's transaction-log tip. Without it the manifest is
        process-local and a cross-process restart would see every table
        empty even though the bucket files are on disk (caller holds the
        lock; one tiny JSON per publish)."""
        data = {
            f"{s}\t{t}": {str(k): [v, hd] for k, (v, hd) in vers.items()}
            for (s, t), vers in self._buckets.items()
        }
        tmp = os.path.join(self.path, f".manifest-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            json.dump(data, f)
        os.replace(tmp, os.path.join(self.path, self.MANIFEST_FILE))

    def restore(self) -> list[tuple[str, str]]:
        """Reload the persisted bucket manifest (cross-process restart: a new
        materializer over an existing workdir starts with an empty in-memory
        manifest — CDC would silently apply onto empty state). No-op when
        state is already loaded or no manifest exists. Session views are
        not registered here: the ``state_version`` bump makes the next
        query re-register them. Returns the restored (schema, table)
        pairs."""
        mf = os.path.join(self.path, self.MANIFEST_FILE)
        with self._lock:
            if self._buckets or not os.path.exists(mf):
                return []
            with open(mf) as f:
                data = json.load(f)
            self._buckets = {
                (key.split("\t")[0], key.split("\t")[1]): {
                    int(k): (int(v), bool(hd)) for k, (v, hd) in vers.items()
                }
                for key, vers in data.items()
            }
            restored = sorted(self._buckets)
            self.state_version += 1
        return restored

    def _vacuum_locked(self, now: float) -> None:
        """Reap retired version dirs older than the grace window (caller
        holds the lock)."""
        keep: list[tuple[str, float]] = []
        for path, retired_at in self._retired:
            if now - retired_at >= self.vacuum_grace_sec:
                shutil.rmtree(path, ignore_errors=True)
            else:
                keep.append((path, retired_at))
        self._retired = keep

    def vacuum(self, all_versions: bool = False) -> None:
        """Explicit vacuum: reap retired versions past the grace window, or
        everything retired when ``all_versions`` (safe once no readers hold
        pre-publish plans)."""
        with self._lock:
            self._vacuum_locked(
                time.monotonic() + (self.vacuum_grace_sec if all_versions else 0)
            )

    def overwrite(self, schema: str, table: str, df: DataFrame) -> None:
        """Replace the whole table (initial load): every bucket is touched
        by definition."""
        tdef = self.registry.get(schema, table)
        self._publish(
            schema,
            table,
            conform(df, tdef),
            list(range(self.n_buckets)),
            tdef.primary_key,
        )

    def append_rows(self, schema: str, table: str, rows: list[dict]) -> None:
        """Append driver-built rows (bounded, rare — e.g. apply-exception
        records): union with current state and republish. Row volume here is
        control-plane scale, never data scale."""
        if not rows:
            return
        tdef = self.registry.get(schema, table)
        new = self.spark.createDataFrame(rows, tdef.struct)
        current = (
            self.table(schema, table)
            if self.exists(schema, table)
            else self.spark.createDataFrame([], tdef.struct)
        )
        self.overwrite(schema, table, current.unionByName(new))

    def routing(self) -> BucketRouting:
        """The PK bucket of each change-feed row's after-image and
        before-image, from one registry snapshot. The PK column name is
        looked up per row; the key is cast with one CASE branch per
        distinct PK type and hashed by :meth:`_bucket_col`, so the buckets
        are those :meth:`_publish` writes the typed key to. A key that
        fails the cast hashes as the NULL the typed key would hold; a NULL
        key or a table outside the snapshot gives NULL."""
        keys = self.registry.primary_key_types()
        types = {dt.simpleString(): dt for _, dt in keys.values() if dt is not None}
        pks = {k: pk for k, (pk, _) in keys.items()}
        if not types:
            none = F.lit(None).cast("int")
            return BucketRouting(none, none, pks, self.n_buckets)
        entry = table_lookup(
            {
                k: F.struct(
                    F.lit(pk).alias("pk"),
                    F.lit(dt.simpleString() if dt else None)
                    .cast("string")
                    .alias("type"),
                )
                for k, (pk, dt) in keys.items()
            }
        )

        def bucket(image: str) -> Column:
            key = F.element_at(F.col(image), entry["pk"])
            by_type = None
            for name, dt in types.items():
                b = self._bucket_col(key.try_cast(dt))
                cond = entry["type"] == name
                by_type = F.when(cond, b) if by_type is None else by_type.when(cond, b)
            return F.when(key.isNotNull(), by_type)

        return BucketRouting(
            after=bucket("data"),
            before=F.when(F.col("op").isin("update", "delete"), bucket("before")),
            pks=pks,
            n_buckets=self.n_buckets,
        )

    def apply_change_batch(
        self, batch: DataFrame, summary: BatchSummary | None = None
    ) -> list[dict]:
        """Apply one change-feed micro-batch (sources/changefeed.py shape) to
        materialized state: per table, last change per primary key wins
        (window by pk ordered by commit ``seq`` desc — a hash-partitioned
        shuffle on pk, no global sort), then upsert = anti-join the
        rewritten buckets' current state on touched keys ∪ surviving
        after-images; delete drops the key. Touched keys include
        before-image PKs, so an UPDATE that changes the primary-key value
        removes the stale old-PK row as well as upserting the new one.

        The tables and buckets to rewrite come from ``summary`` (a
        :class:`BatchSummary` built over this batch with :meth:`routing`);
        without one, the batch is summarized here, in one bounded collect.
        A dropped table's last drop is a ``seq`` floor in the per-key merge:
        it starts from empty state and keeps only the changes committed
        after that drop, which equals truncating at every drop in commit
        order. A dropped or re-keyed table rewrites every bucket; a drop or
        re-key of a table never materialized, with no data changes, is a
        no-op.

        Returns apply exceptions — one dict per table whose changes could
        not be applied (unregistered target, apply failure) — which the task
        records into ``awsdms_apply_exceptions`` (the DMS conflict-logging
        contract behind the reference's bootstrap event, stack.py/T7). A
        failing table never blocks the other tables in the batch.
        """
        if summary is None:
            summary = BatchSummary(batch, self.routing())
        exceptions: list[dict] = []
        for (schema, table), (n, buckets) in sorted(summary.routes().items()):
            if buckets is None:
                exceptions.append(
                    {
                        "schema_name": schema,
                        "table_name": table,
                        "statement": f"apply {n} change event(s)",
                        "error": "table not registered in target schema registry",
                    }
                )
                continue
            if not n and not self.exists(schema, table):
                continue
            try:
                tdef = self.registry.get(schema, table)
                self._apply_table(
                    batch, schema, table, tdef, buckets,
                    summary.drops.get((schema, table)),
                )
            except Exception as exc:  # noqa: BLE001 — isolate per-table faults
                exceptions.append(
                    {
                        "schema_name": schema,
                        "table_name": table,
                        "statement": "apply change batch",
                        "error": f"{type(exc).__name__}: {exc}",
                    }
                )
        return exceptions

    def _apply_table(
        self,
        batch: DataFrame,
        schema: str,
        table: str,
        tdef: TableDef,
        touched_buckets: list[int],
        drop_seq: int | None,
    ) -> None:
        pk = tdef.primary_key
        pk_type = tdef.struct[pk].dataType
        changes = batch.filter(
            (F.col("schema") == schema)
            & (F.col("table") == table)
            & F.col("op").isin(*_DATA_OPS)
        )
        if drop_seq is not None:
            changes = changes.filter(F.col("seq") > drop_seq)
        changes = (
            changes.withColumn("_pk", F.col("data").getItem(pk))
            .withColumn(
                "_before_pk",
                F.when(
                    F.col("op").isin("update", "delete"),
                    F.col("before").getItem(pk),
                ),
            )
        )
        # per-KEY action model: each event acts on its after-image key
        # (upsert/delete at seq), and — when the before-image names a
        # DIFFERENT key (pk-changing update, or a delete whose after image
        # is null) — ALSO as a delete of that old key at the same seq. The
        # last action per key by seq then decides. Partitioning the window
        # on the after-image pk alone is wrong twice over: a same-batch
        # insert of key k survives its own pk-changing update away from k
        # (the two events sit in different partitions), and a null-data
        # delete's partition is NULL so it never outranks k's earlier
        # events — both resurrect rows the source no longer has.
        after_actions = changes.filter(F.col("_pk").isNotNull()).select(
            F.col("_pk").alias("_k"), "seq", "op", "data"
        )
        before_actions = (
            changes.filter(
                F.col("_before_pk").isNotNull()
                & (F.col("_pk").isNull() | (F.col("_before_pk") != F.col("_pk")))
            )
            .select(
                F.col("_before_pk").alias("_k"),
                "seq",
                F.lit("delete").alias("op"),
                "data",
            )
        )
        actions = after_actions.unionByName(before_actions)
        w = Window.partitionBy("_k").orderBy(F.col("seq").desc())
        last = actions.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        )
        survivors = last.filter(F.col("op") != "delete").select(
            *tdef.typed_projection("data")
        )
        if drop_seq is not None:
            # the drop emptied the table: only changes after it survive
            merged = survivors
        else:
            # removal set: every key any action touched. Duplicates stay:
            # the broadcast build side of an anti join ignores them, and a
            # distinct would cost a shuffle job per table
            keys = actions.select(F.col("_k").cast(pk_type).alias(pk))
            current = self._read_buckets(schema, table, touched_buckets, tdef)
            merged = current.join(F.broadcast(keys), pk, "left_anti").unionByName(
                survivors
            )
        self._publish(schema, table, merged, touched_buckets, pk)
