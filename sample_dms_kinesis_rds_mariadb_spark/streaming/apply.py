"""Materialize the change stream into queryable tables (SURVEY §7 M5).

The reference validates replication by querying the *source* tables over SQL
(run.py:231-241); the engine generalizes this: change events are applied to
per-table materialized state keyed on the primary key (insert/update upsert,
delete removes), registered as session views, and the full Spark SQL surface
runs on top (projections P1/P2, counts A1, the FK join J1, anything else).

Storage is merge-on-read. A table's base rows are one copy-on-write
version, written whole by a baseline load or a compaction. A CDC micro-batch
rewrites no base: it writes ONE delta for every table it changes, each key's
last action in change-feed shape (``schema, table, _k, seq, op, data`` as a
string map), so tables of any schema share one parquet write and write
amplification follows the batch, not the tables. Reads anti-join the base on
the deltas' keys and union each key's latest delta row; a delta is typed
through the TableDef in force when it was written, then conformed to the
current one, so schema drift (T5) never invalidates stored files. A table
holding more than :data:`MAX_DELTAS` deltas, or whose PK a batch retypes, is
compacted: its base and deltas merge into the next base version. At 100 TB
the identical logic is a Delta / Iceberg ``MERGE INTO`` (merge-on-read is
that path's other layout); plain parquet + driver-side manifests keep it
dependency-free.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time
import uuid
from functools import reduce

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.types import StructType

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.envelope import table_lookup
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import observed_metrics
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableDef,
    TableRegistry,
)


def conform(df: DataFrame, tdef: TableDef, keep: tuple[str, ...] = ()) -> DataFrame:
    """Project any stored/typed DataFrame onto the current evolved schema:
    add-column fills the default, drop-column prunes, modify-column casts
    (reference lib/query.py:59-66 semantics); ``keep`` columns lead."""
    cols = []
    for f in tdef.struct.fields:
        if f.name in df.columns:
            cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            # shared default interpretation (TableDef.default_column): the
            # map-transport and stored-parquet paths must fill identically
            cols.append(tdef.default_column(f.name, f.dataType).alias(f.name))
    return df.select(*keep, *cols)


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

# a table holding more deltas than this is compacted into its base
MAX_DELTAS = 8

# a delta row: one (table, key)'s last action. ``_ts`` is the apply time, which
# a ``current_timestamp`` default of a column absent from ``data`` takes
_DELTA_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in ("schema", "table", "_k")]
    + [
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("data", T.MapType(T.StringType(), T.StringType())),
        T.StructField("_ts", T.TimestampType()),
    ]
)


def _key(schema: str, table: str) -> str:
    return f"{schema}\t{table}"


def _unkey(key: str) -> tuple[str, str]:
    schema, table = key.split("\t")
    return schema, table


def _exception(key: tuple[str, str], statement: str, error: str) -> dict:
    return dict(schema_name=key[0], table_name=key[1], statement=statement, error=error)


class BatchSummary:
    """One bounded aggregate of a change-feed batch, collected once: per
    ``(schema, table, op)`` the row count and its ``alter-table`` /
    ``drop-table`` records. At most |tables|×|operations| rows reach the
    driver, plus the batch's (rare) DDL."""

    def __init__(self, batch: DataFrame) -> None:
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

    def changes(self) -> dict[tuple[str, str], int]:
        """(schema, table) → insert/update/delete count."""
        acc: dict[tuple[str, str], int] = {}
        for r in self.rows:
            if r["op"] in _DATA_OPS:
                key = (r["schema"], r["table"])
                acc[key] = acc.get(key, 0) + r["n"]
        return acc

    def rekeyed(self, pks: dict[tuple[str, str], str]) -> set[tuple[str, str]]:
        """The tables whose PK column (``pks``) an alter-table retypes."""
        return {
            (c["schema"], c["table"])
            for c in self.controls
            if c["op"] == "alter-table"
            and pks.get((c["schema"], c["table"])) == c["column"]
        }


class TableMaterializer:
    """Merge-on-read table state.

    Layout: a table's base is ``<path>/<schema>.<table>/b0000/v<NNNNNN>/
    *.parquet``, its highest published version; deltas are
    ``<path>/_deltas/<id>/*.parquet``. Two manifests, each flipped
    atomically, are the transaction-log tip: ``_manifest.json`` maps
    (schema, table) → {"0": (version, has_data)} (an empty base keeps a
    version number but no directory), and ``_deltas.json`` maps each live
    delta's name to its path, the TableDef of each table it holds, and the
    tables whose base and earlier deltas it retires (drops). A compaction
    flips the base manifest, then the delta log; re-merging a delta onto a
    base that already holds it reads the same rows, so every crash point
    reads exactly. The ``"0"`` entry and the ``b0000`` directory keep the
    layout of a one-bucket table, which perfbench's ``manifest_versions``
    and ``rows_in_versions`` parse.
    """

    MANIFEST_FILE = "_manifest.json"
    DELTA_LOG = "_deltas.json"

    def __init__(
        self,
        spark: SparkSession,
        registry: TableRegistry,
        path: str,
        vacuum_grace_sec: float = 60.0,
    ) -> None:
        self.spark = spark
        self.registry = registry
        self.path = path
        # superseded versions survive this long before deletion: a reader
        # whose plan was built just before a publish can still collect()
        # against the old files (poor-man's snapshot isolation — Delta keeps
        # whole snapshot history for the same reason). 0 = reap immediately.
        self.vacuum_grace_sec = vacuum_grace_sec
        # (schema, table) -> (base version, has_data)
        self._bases: dict[tuple[str, str], tuple[int, bool]] = {}
        # delta name -> its delta-log entry; entries are replaced, never
        # mutated, so a reader may keep one outside the lock
        self._deltas: dict[str, dict] = {}
        self._compacting: set[tuple[str, str]] = set()
        self._swept = False  # restore()'s sweep of unlisted directories
        # retired version dirs awaiting vacuum: [(path, retired_at_monotonic)]
        self._retired: list[tuple[str, float]] = []
        # bumped on every state mutation (publish/delta/restore); consumers
        # cache view registrations against it
        self.state_version = 0
        self._lock = threading.Lock()
        os.makedirs(path, exist_ok=True)

    # -- layout --------------------------------------------------------------
    def _table_dir(self, schema: str, table: str) -> str:
        return os.path.join(self.path, f"{schema}.{table}")

    def _base_dir(self, key: tuple[str, str], version: int) -> str:
        return os.path.join(self._table_dir(*key), "b0000", f"v{version:06d}")

    # -- read ----------------------------------------------------------------
    def exists(self, schema: str, table: str) -> bool:
        return (schema, table) in self._bases or bool(self._live((schema, table)))

    def _live(self, key: tuple[str, str]) -> dict[str, dict]:
        """The live deltas holding ``key``, by name."""
        k = _key(*key)
        with self._lock:
            return {n: d for n, d in self._deltas.items() if k in d["tables"]}

    def table(self, schema: str, table: str) -> DataFrame:
        """Current typed state, conformed to the evolved schema: the base,
        merged with the table's deltas when it has any."""
        key = (schema, table)
        tdef = self.registry.get(schema, table)
        deltas = list(self._live(key).values())
        base = self._base(key, tdef, deltas)
        if not deltas:
            return base
        return self._merge(base, self._delta_rows(key, deltas, tdef), tdef)

    def _base(
        self, key: tuple[str, str], tdef: TableDef, deltas: list[dict]
    ) -> DataFrame:
        """The base version conformed to ``tdef`` in one parquet scan, empty
        when the table has none or one of ``deltas`` drops it. The stored
        schema comes from a file footer, so building the plan runs no Spark
        job."""
        with self._lock:
            version, has_data = self._bases.get(key, (0, False))
        if not has_data or any(_key(*key) in d["drops"] for d in deltas):
            return self.spark.createDataFrame([], tdef.struct)
        d = self._base_dir(key, version)
        return conform(self.spark.read.schema(_stored_schema(d)).parquet(d), tdef)

    def _delta_rows(
        self, key: tuple[str, str], deltas: list[dict], tdef: TableDef
    ) -> DataFrame:
        """``key``'s rows of ``deltas`` as ``_k, seq, op`` plus the table's
        columns, typed through the TableDef each delta was written under
        and conformed to ``tdef``: one scan per distinct TableDef."""
        groups: dict[str, tuple[dict, list[str]]] = {}
        for d in deltas:
            t = d["tables"][_key(*key)]
            sig = json.dumps(t, sort_keys=True)
            path = os.path.join(self.path, d["path"])
            groups.setdefault(sig, (t, []))[1].append(path)
        parts = []
        for t, paths in groups.values():
            struct = StructType.fromJson(t["struct"])
            written = TableDef(*key, struct, t["pk"], t["defaults"])
            rows = self.spark.read.schema(_DELTA_SCHEMA).parquet(*paths).filter(
                (F.col("schema") == key[0]) & (F.col("table") == key[1])
            )
            typed = written.typed_projection("data", now=F.col("_ts"))
            keep = ("_k", "seq", "op")
            parts.append(conform(rows.select(*keep, *typed), tdef, keep))
        return reduce(DataFrame.unionByName, parts)

    @staticmethod
    def _merge(base: DataFrame, rows: DataFrame, tdef: TableDef) -> DataFrame:
        """``base`` without every key ``rows`` act on, plus each key's latest
        row unless it deletes; keys compare as the current PK type."""
        pk = tdef.primary_key
        key = F.col("_k").cast(tdef.struct[pk].dataType)
        w = Window.partitionBy(key).orderBy(F.col("seq").desc())
        latest = (
            rows.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_rn") == 1) & (F.col("op") != "delete"))
            .select(*tdef.struct.fieldNames())
        )
        # duplicate keys stay: the broadcast build side of an anti join
        # ignores them, and a distinct would cost a shuffle
        keys = rows.select(key.alias(pk))
        return base.join(F.broadcast(keys), pk, "left_anti").unionByName(latest)

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
        key: tuple[str, str],
        df: DataFrame,
        folded: list[str] | None = None,
    ) -> None:
        """One distributed write of ``df`` as the table's next base version,
        then an atomic (driver-side) manifest flip + vacuum of the
        superseded version, then a delta-log flip retiring the table's
        ``folded`` deltas (all of them when None)."""
        staging = os.path.join(self._table_dir(*key), f".staging-{uuid.uuid4().hex}")
        try:
            df.write.parquet(staging)
            has_data = any(f.endswith(".parquet") for f in os.listdir(staging))
            with self._lock:
                now = time.monotonic()
                old_v, old_has_data = self._bases.get(key, (0, False))
                if has_data:
                    dst = self._base_dir(key, old_v + 1)
                    # left by a publish that crashed before its manifest
                    # flip: no manifest lists it
                    shutil.rmtree(dst, ignore_errors=True)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(staging, dst)
                self._bases[key] = (old_v + 1, has_data)
                if old_has_data:
                    self._retired.append((self._base_dir(key, old_v), now))
                self._save_manifest_locked()
                if self._retire_deltas_locked(key, folded, now):
                    self._save_delta_log_locked()
                self.state_version += 1
                self._vacuum_locked(now)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    def _save_json_locked(self, name: str, data: dict) -> None:
        """Persist one manifest atomically next to the data. Without them
        the state is process-local and a cross-process restart would see
        every table empty even though the files are on disk (caller holds
        the lock; one tiny JSON per flip)."""
        write_atomic(os.path.join(self.path, name), json.dumps(data))

    def _save_manifest_locked(self) -> None:
        self._save_json_locked(
            self.MANIFEST_FILE,
            {_key(*key): {"0": [v, hd]} for key, (v, hd) in self._bases.items()},
        )

    def _save_delta_log_locked(self) -> None:
        self._save_json_locked(self.DELTA_LOG, self._deltas)

    def _retire_deltas_locked(
        self, key: tuple[str, str], names: list[str] | None, now: float
    ) -> bool:
        """Drop ``key`` from the named deltas (every delta when None),
        retiring a delta left with no table; returns whether any changed
        (caller holds the lock and saves the delta log)."""
        k = _key(*key)
        changed = False
        for n in list(self._deltas) if names is None else names:
            d = self._deltas.get(n)
            if d is None or k not in d["tables"]:
                continue
            changed = True
            tables = {t: v for t, v in d["tables"].items() if t != k}
            if tables:
                drops = [t for t in d["drops"] if t != k]
                self._deltas[n] = dict(d, tables=tables, drops=drops)
            else:
                del self._deltas[n]
                self._retired.append((os.path.join(self.path, d["path"]), now))
        return changed

    def restore(self) -> list[tuple[str, str]]:
        """Reload the persisted manifests (cross-process restart: a new
        materializer over an existing workdir starts with empty in-memory
        state — CDC would silently apply onto empty state). No-op when
        state is already loaded or no manifest exists. Session views are
        not registered here: the ``state_version`` bump makes the next
        query re-register them. The first call over empty state also
        removes what a crashed write left that no manifest lists: delta
        directories written before their delta-log flip and base-publish
        staging directories (a later call could race a write in flight).
        Returns the restored (schema, table) pairs."""
        mf = os.path.join(self.path, self.MANIFEST_FILE)
        dl = os.path.join(self.path, self.DELTA_LOG)
        with self._lock:
            if self._bases or self._deltas:
                return []
            found = os.path.exists(mf) or os.path.exists(dl)
            if os.path.exists(mf):
                with open(mf) as f:
                    for key, vers in json.load(f).items():
                        if list(vers) != ["0"]:
                            raise ValueError(
                                f"{mf}: {key!r} has {len(vers)} base buckets; "
                                "only a one-version base is read"
                            )
                        v, hd = vers["0"]
                        self._bases[_unkey(key)] = (int(v), bool(hd))
            if os.path.exists(dl):
                with open(dl) as f:
                    self._deltas = json.load(f)
            if not self._swept:
                self._swept = True
                live = {d["path"] for d in self._deltas.values()}
                for pattern in ("_deltas/*", "*/.staging-*"):
                    for path in glob.glob(os.path.join(self.path, pattern)):
                        if os.path.relpath(path, self.path) not in live:
                            shutil.rmtree(path, ignore_errors=True)
            if not found:
                return []
            restored = set(self._bases)
            restored.update(
                _unkey(t) for d in self._deltas.values() for t in d["tables"]
            )
            self.state_version += 1
        return sorted(restored)

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
        """Replace the whole table (initial load) and retire its deltas."""
        self._publish((schema, table), conform(df, self.registry.get(schema, table)))

    def append_rows(self, schema: str, table: str, rows: list[dict]) -> None:
        """Append driver-built rows (bounded, rare — e.g. apply-exception
        records) as a delta of inserts. Row volume here is control-plane
        scale, never data scale."""
        if not rows:
            return
        tdef = self.registry.get(schema, table)
        names = tdef.struct.fieldNames()
        delta = self.spark.createDataFrame(rows, tdef.struct).select(
            F.lit(schema).alias("schema"),
            F.lit(table).alias("table"),
            F.col(tdef.primary_key).cast("string").alias("_k"),
            F.lit(0).cast("long").alias("seq"),
            F.lit("insert").alias("op"),
            F.create_map(
                *[c for n in names for c in (F.lit(n), F.col(n).cast("string"))]
            ).alias("data"),
            F.current_timestamp().alias("_ts"),
        )
        self._write_delta(uuid.uuid4().hex, delta, {(schema, table): tdef}, {})
        self._compact_if_due((schema, table))

    def apply_change_batch(
        self,
        batch: DataFrame,
        summary: BatchSummary | None = None,
        delta_id: str | None = None,
    ) -> list[dict]:
        """Apply one change-feed micro-batch (sources/changefeed.py shape) to
        materialized state as ONE delta named ``delta_id`` (a fresh name
        when None); a delta written again under its name replaces the
        earlier one, so a replayed epoch applies once.

        The delta holds each (table, key)'s last action: one window
        partitioned by ``(schema, table, _k)``, ordered by commit ``seq``
        desc. An event acts on its after-image key and — when the
        before-image names a DIFFERENT key (pk-changing update, or a delete
        whose after image is null) — also as a delete of that old key at the
        same seq, so an UPDATE that changes the primary-key value removes
        the stale old-PK row as well as upserting the new one.

        The tables come from ``summary`` (a :class:`BatchSummary` built over
        this batch); without one, the batch is summarized here, in one
        bounded collect. A dropped table keeps only its changes committed
        after its last drop, and the delta retires its base and earlier
        deltas, which equals truncating at every drop in commit order; a
        drop of a table never materialized, with no data changes, is a
        no-op. A table holding more than :data:`MAX_DELTAS` deltas, or whose
        PK the batch retypes, is then compacted.

        Returns apply exceptions — one dict per table whose changes could
        not be applied (unregistered target, a key or value that does not
        cast to its type, a failed compaction) — which the task records into
        ``awsdms_apply_exceptions`` (the DMS conflict-logging contract behind
        the reference's bootstrap event, stack.py/T7). A failing table never
        blocks the other tables in the batch.
        """
        if summary is None:
            summary = BatchSummary(batch)
        exceptions: list[dict] = []
        changes = summary.changes()
        tables: dict[tuple[str, str], TableDef] = {}
        for key in sorted(changes.keys() | summary.drops.keys()):
            try:
                tdef = self.registry.get(*key)
            except KeyError:
                if changes.get(key):
                    exceptions.append(
                        _exception(
                            key,
                            f"apply {changes[key]} change event(s)",
                            "table not registered in target schema registry",
                        )
                    )
                continue
            if changes.get(key) or self.exists(*key):
                tables[key] = tdef
        bad: set[tuple[str, str]] = set()
        if tables:
            drops = {k: s for k, s in summary.drops.items() if k in tables}
            delta = self._last_actions(batch, tables, drops)
            bad = self._write_delta(delta_id or uuid.uuid4().hex, delta, tables, drops)
        for key in sorted(bad):
            exceptions.append(
                _exception(
                    key, "apply change batch", "a key or value does not cast to its type"
                )
            )
        rekeyed = summary.rekeyed(self.registry.primary_keys())
        for key in sorted((tables.keys() - bad) | rekeyed):
            try:
                self._compact_if_due(key, force=key in rekeyed)
            except Exception as exc:  # noqa: BLE001 — the deltas stay live
                exceptions.append(
                    _exception(key, "compact deltas", f"{type(exc).__name__}: {exc}")
                )
        return exceptions

    @staticmethod
    def _last_actions(
        batch: DataFrame,
        tables: dict[tuple[str, str], TableDef],
        drops: dict[tuple[str, str], int],
    ) -> DataFrame:
        """The delta rows of ``tables``: each key's last action in the
        batch, above the table's drop ``seq`` when it has one."""
        pk = table_lookup({k: F.lit(td.primary_key) for k, td in tables.items()})
        rows = batch.filter(F.col("op").isin(*_DATA_OPS) & pk.isNotNull())
        if drops:
            floor = table_lookup({k: F.lit(s) for k, s in drops.items()})
            rows = rows.filter(floor.isNull() | (F.col("seq") > floor))
        op = F.col("op")
        after = F.element_at(F.col("data"), pk)
        before = F.when(op.isin("update", "delete"), F.element_at(F.col("before"), pk))
        # per-KEY action model: the last action per key by seq decides.
        # Keying the window on the after-image pk alone is wrong twice over:
        # a same-batch insert of key k survives its own pk-changing update
        # away from k, and a null-data delete's key is NULL so it never
        # outranks k's earlier events — both resurrect rows the source no
        # longer has.
        actions = F.array(
            F.struct(
                after.alias("_k"),
                op.alias("op"),
                F.when(op != "delete", F.col("data")).alias("data"),
            ),
            F.struct(
                F.when(after.isNull() | (before != after), before).alias("_k"),
                F.lit("delete").alias("op"),
                F.lit(None).cast(_DELTA_SCHEMA["data"].dataType).alias("data"),
            ),
        )
        w = Window.partitionBy("schema", "table", "_k").orderBy(F.col("seq").desc())
        return (
            rows.select("schema", "table", "seq", F.inline(actions))
            .filter(F.col("_k").isNotNull())
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "schema", "table", "_k", "seq", "op", "data",
                F.current_timestamp().alias("_ts"),
            )
        )

    def _write_delta(
        self,
        name: str,
        delta: DataFrame,
        tables: dict[tuple[str, str], TableDef],
        drops: dict[tuple[str, str], int],
    ) -> set[tuple[str, str]]:
        """Write ``delta`` once and make it live as ``name`` for each of
        ``tables`` whose every key and value casts to its type (observed on
        the write: an ANSI cast error would fail every read of the table);
        returns the tables that do not, which stay as they were. The flip
        retires a dropped table's earlier deltas, then its base (the delta
        hides it until then)."""
        check = None
        for (schema, table), tdef in tables.items():
            cond = (F.col("schema") == schema) & (F.col("table") == table)
            ok = self._castable(tdef)
            check = F.when(cond, ok) if check is None else check.when(cond, ok)
        obs = Observation()
        rel = os.path.join("_deltas", uuid.uuid4().hex)
        path = os.path.join(self.path, rel)
        bad_rows = F.collect_set(F.when(~check, F.struct("schema", "table")))
        try:
            delta.observe(obs, bad_rows.alias("bad")).write.parquet(path)
        except BaseException:
            shutil.rmtree(path, ignore_errors=True)
            raise
        bad = {(r["schema"], r["table"]) for r in observed_metrics(obs).get("bad", [])}
        live = {k: td for k, td in tables.items() if k not in bad}
        dropped = [k for k in drops if k in live]
        entry = {
            "path": rel,
            "tables": {
                _key(*k): {
                    "struct": td.struct.jsonValue(),
                    "pk": td.primary_key,
                    "defaults": dict(td.defaults),
                }
                for k, td in live.items()
            },
            "drops": [_key(*k) for k in dropped],
        }
        with self._lock:
            now = time.monotonic()
            earlier = [n for n in self._deltas if n != name]
            for key in dropped:
                self._retire_deltas_locked(key, earlier, now)
            replaced = self._deltas.pop(name, None)
            if replaced is not None:
                self._retired.append((os.path.join(self.path, replaced["path"]), now))
            if live:
                self._deltas[name] = entry
            else:
                self._retired.append((path, now))
            self._save_delta_log_locked()
            emptied = [k for k in dropped if self._bases.get(k, (0, False))[1]]
            for key in emptied:
                v = self._bases[key][0]
                self._bases[key] = (v + 1, False)
                self._retired.append((self._base_dir(key, v), now))
            if emptied:
                self._save_manifest_locked()
            self.state_version += 1
            self._vacuum_locked(now)
        return bad

    @staticmethod
    def _castable(tdef: TableDef) -> Column:
        """A delta row's key casts to the PK type and, unless it deletes,
        every value to its column's type."""
        if tdef.primary_key not in tdef.struct.fieldNames():
            return F.lit(False)
        ok = F.col("_k").try_cast(tdef.struct[tdef.primary_key].dataType).isNotNull()
        for f in tdef.struct.fields:
            if not isinstance(f.dataType, T.StringType):
                v = F.col("data").getItem(f.name)
                fits = v.isNull() | v.try_cast(f.dataType).isNotNull()
                ok = ok & ((F.col("op") == "delete") | fits)
        return ok

    def _compact_if_due(self, key: tuple[str, str], force: bool = False) -> None:
        """Merge ``key``'s base and deltas into its next base version when
        it holds more than :data:`MAX_DELTAS` deltas, or when ``force``d (a
        PK retype, whose deltas hold keys written under the old type),
        unless another thread is compacting it."""
        folded = self._live(key)
        with self._lock:
            due = force or len(folded) > MAX_DELTAS
            if key in self._compacting or not folded or not due:
                return
            self._compacting.add(key)
        try:
            tdef = self.registry.get(*key)
            deltas = list(folded.values())
            rows = self._delta_rows(key, deltas, tdef)
            merged = self._merge(self._base(key, tdef, deltas), rows, tdef)
            self._publish(key, merged, folded=list(folded))
        finally:
            with self._lock:
                self._compacting.discard(key)
