"""Query-based incremental CDC over JDBC — the standard capture fallback
when binlog access is unavailable (managed databases without replication
privileges, or non-MySQL JDBC sources).

The reference's CDC tasks tail the MariaDB binlog (ROW/Full images,
``dms_sample/stack.py:372-376``); in environments where that is not
grantable, every replication product falls back to polling: select rows
whose monotonically-nondecreasing CURSOR column (an ``updated_at``
timestamp, a version counter, an auto-increment id) advanced past the last
high-water mark. ``JdbcPollingCapture`` implements that capture and PUMPS
the increments into a :class:`~...changefeed.ChangeFeed` — from there the
engine's entire CDC machinery (streaming tasks, envelope encode, apply,
statistics, before-image state) consumes them unchanged.

Delivery contract (the same one every polling capture offers):
- **steady state**: at-least-once capture of rows whose cursor advances;
  with ``lookback=None`` the boundary re-read + fingerprint skip also makes
  quiescent polls deliver nothing (effectively exactly-once as long as
  concurrent commits never land at-or-below an already-observed cursor).
- **coarse / non-transactional cursors** (e.g. statement-time timestamps,
  where a stalled transaction can COMMIT a row whose cursor is BELOW an
  already-observed maximum): set ``lookback`` to the maximum commit delay;
  each poll then re-reads the ``[hwm - lookback, ∞)`` window and skips rows
  already delivered by fingerprint — late commits inside the window are
  captured, duplicates are suppressed, and anything later than ``lookback``
  is out of contract (reconcile with a periodic snapshot diff).
- ``initial="now"`` treats everything committed before the start-up
  boundary read completes as history (including rows racing the two
  start-up queries — JDBC offers no snapshot isolation across queries).
- **NULL cursors are out of contract**: a NULL-cursor row is captured by
  the initial snapshot only and invisible to every later poll (the cursor
  predicate excludes NULL). Enforce ``NOT NULL`` on the cursor column.
- **source schema changes are CAPTURED by the next poll**: each pump
  fingerprints the JDBC frame's (column, type) list and diffs it against
  the previous poll's, emitting ``alter-table`` control events
  (add-column / drop-column / modify-column, the same structured ``ddl``
  payload the binlog QUERY path produces) BEFORE that poll's data rows —
  so the engine's schema-evolution contract (registry evolution + Ddls
  statistics, reference run.py:313-314) holds on the polling path too.
  Data-wise the ALTER also changes every window row's fingerprint, so
  the boundary skip re-arms: at-least-once under DDL (one window
  re-delivery), absorbed by the applier's upsert. Column DEFAULTs are
  not visible through the JDBC frame, so ``add-column`` events carry no
  default (registry evolution adds the column nullable).
- deletes and intermediate versions between polls are not captured —
  inherent to polling. The delete half is recoverable without binlog
  access: :meth:`JdbcPollingCapture.reconcile` key-diffs the source
  against the materialized replica and emits ``op=delete`` events for
  vanished primary keys (the standard snapshot-reconciliation recipe);
  intermediate versions remain out of contract.

Canonical payload format: every ``data`` value is the source column
rendered with Spark ``cast('string')`` semantics — booleans
``true``/``false``, timestamps ``yyyy-MM-dd HH:mm:ss`` (fractional part
only when nonzero, trailing zeros trimmed), decimals at declared scale —
on EVERY delivery path (initial snapshot, pump increments, reconcile);
one source row renders byte-identically no matter which path delivered
it, and the dedup fingerprints are computed from those same strings.
Persisted state stamps this rendering as ``fp_format`` — a state file
written under an older rendering restores fine, but its window
fingerprints cannot match newly-computed ones, so the first pump after
the upgrade re-delivers the re-read window once (at-least-once, absorbed
by the applier's upsert); ``fp_format_migrated`` flags that condition.

Restart: pass ``state_path`` to persist the high-water mark + delivered
fingerprints after every pump; a restarted agent resumes instead of
re-snapshotting. (``ChangeFeed`` likewise recovers its seq counter from an
existing feed directory, so post-restart events keep ascending commit
order.)

Scale shape: the cursor predicate pushes into the JDBC WHERE clause
(``PushedFilters`` on the JDBC relation — plan-asserted in tests), so each
poll transfers only the increment. The pump's driver hop is
increment-sized — the capture-agent role here is what Debezium/DMS run as
a dedicated process; at 100 TB the corpus never routes through this path,
only the change trickle does. The FIRST pump under ``initial="snapshot"``
is the exception that used to break the rule: it is table-sized, so it
routes through :meth:`ChangeFeed.append_changes_df` — an executor-side
encode + write with no driver hop; only the boundary window's rows (the
lookback-bounded fingerprint set every later poll needs) are collected.
``reconcile`` likewise diffs and writes distributed, collecting nothing.
"""

from __future__ import annotations

import json
import os
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed

# fingerprint rendering version stamped into persisted state: bump whenever
# the canonical _data string encoding changes (v2 = Spark cast('string')
# semantics on every path; v1, unstamped, was Python str())
_FP_FORMAT = "cast-string-v2"


class JdbcPollingCapture:
    """Capture agent for one (schema, table) over a registered JDBC
    endpoint (``catalog.SourceCatalog``). Call :meth:`pump` on a schedule;
    each call appends one increment to the feed and advances the
    high-water mark.

    ``initial``: ``"snapshot"`` emits every existing row as op
    ``insert`` on the first pump (initial-load semantics); ``"now"``
    starts the mark at the current maximum and captures only subsequent
    changes. ``lookback``: optional re-read margin subtracted from the
    mark (same type as the cursor's arithmetic — numeric delta for
    numeric cursors, ``datetime.timedelta`` for timestamps); see the
    module docstring for when it is required. ``state_path``: optional
    JSON file persisting capture state across agent restarts.
    """

    def __init__(
        self,
        catalog,
        endpoint: str,
        schema: str,
        table: str,
        cursor_col: str,
        initial: str = "snapshot",
        lookback=None,
        state_path: str | None = None,
    ) -> None:
        if initial not in ("snapshot", "now"):
            raise ValueError(f"initial must be 'snapshot' or 'now', got {initial!r}")
        self.catalog = catalog
        self.endpoint = endpoint
        self.schema = schema
        self.table = table
        self.cursor_col = cursor_col
        self.lookback = lookback
        self.state_path = state_path
        self._hwm = None
        # fingerprints of rows already delivered in the re-read window
        # ([hwm - lookback, ∞), or just the rows AT hwm when lookback is
        # None) — bounded by that window's row count
        self._window_fps: frozenset = frozenset()
        # True when a restored state predates the current fingerprint
        # rendering (see _FP_FORMAT) — its window fingerprints cannot match
        # the new rendering, so the first pump re-delivers the window once
        # (absorbed by the applier's upsert; at-least-once contract)
        self.fp_format_migrated = False
        self._initial = initial
        self._started = False
        # last observed (column, rendered type) list — the per-poll schema
        # fingerprint the DDL diff runs against; None until first observed
        self._schema_cols: list[list[str]] | None = None
        if state_path and os.path.exists(state_path):
            with open(state_path) as f:
                saved = json.load(f)
            if saved.get("identity") != self._identity():
                raise ValueError(
                    f"state file {state_path} belongs to capture "
                    f"{saved.get('identity')}, not {self._identity()} — a "
                    "reused state_path would silently skip history below "
                    "the wrong mark"
                )
            self._hwm = self._decode_hwm(saved["hwm"])
            self._window_fps = frozenset(saved["window_fps"])
            self._started = saved["started"]
            self._schema_cols = saved.get("schema_cols")
            self.fp_format_migrated = (
                bool(self._window_fps)
                and saved.get("fp_format") != _FP_FORMAT
            )

    def _identity(self) -> list:
        return [self.endpoint, self.schema, self.table, self.cursor_col]

    # hwm round-trips with a type tag: a datetime cursor restored as a bare
    # string would silently change the >= filter's comparison semantics.
    # Every JDBC-reachable cursor type is covered (datetime, date, Decimal
    # — e.g. BIGINT UNSIGNED maps to Decimal — and the JSON natives);
    # anything else fails HERE, not inside json.dump after the feed append
    # already happened (which would leave no state and force a re-snapshot
    # on restart).
    @staticmethod
    def _encode_hwm(v):
        if isinstance(v, datetime):
            return {"t": "dt", "v": v.isoformat()}
        if isinstance(v, date):
            return {"t": "d", "v": v.isoformat()}
        if isinstance(v, Decimal):
            return {"t": "dec", "v": str(v)}
        if isinstance(v, (int, float, str)):
            return {"t": "raw", "v": v}
        raise TypeError(
            f"unsupported cursor type for state persistence: {type(v).__name__}"
        )

    @staticmethod
    def _decode_hwm(e):
        if e is None:
            return None
        if e["t"] == "dt":
            return datetime.fromisoformat(e["v"])
        if e["t"] == "d":
            return date.fromisoformat(e["v"])
        if e["t"] == "dec":
            return Decimal(e["v"])
        return e["v"]

    # -- helpers ------------------------------------------------------------

    @staticmethod
    def _fingerprint(data: dict) -> str:
        return json.dumps(data, sort_keys=True, default=str)

    def _with_data_map(self, df):
        """Append ``_data``: every column rendered to the feed's canonical
        string form. ONE renderer — Spark ``cast('string')`` semantics
        (booleans ``true``/``false``, timestamps ``yyyy-MM-dd HH:mm:ss``
        with trailing fractional zeros trimmed, decimals at declared
        scale) — shared by every delivery path (initial snapshot, pump
        increments, boundary fingerprints, reconcile's vanished-row
        pruning), so the payload and the dedup fingerprint for a given
        source row are byte-identical no matter which path delivered it."""
        cols = df.columns
        for reserved in ("_data", "_mono"):
            if reserved in cols:
                raise ValueError(
                    f"{self.schema}.{self.table} has a column named "
                    f"{reserved!r}, which the capture encoder reserves — "
                    "rename it or view-project it away at the endpoint"
                )
        data = F.create_map(
            *[x for c in cols for x in (F.lit(c), F.col(c).cast("string"))]
        )
        return df.withColumn("_data", data)

    def _resolve_column(self, df, col_name: str, what: str = "column") -> str:
        """Spark resolves ``F.col(...)`` case-insensitively, but ``Row``
        access is case-sensitive — resolve once to the actual column name
        (Derby/MySQL return upper/lower-cased metadata) and fail clearly
        if absent."""
        for c in df.columns:
            if c.lower() == col_name.lower():
                return c
        raise ValueError(
            f"{what} {col_name!r} not found in "
            f"{self.schema}.{self.table} (columns: {df.columns})"
        )

    def _resolve_cursor(self, df) -> str:
        return self._resolve_column(df, self.cursor_col, what="cursor column")

    def _floor(self):
        """Lower bound of the re-read window."""
        if self._hwm is None:
            return None
        if self.lookback is None:
            return self._hwm
        return self._hwm - self.lookback

    def _save_state(self) -> None:
        if not self.state_path:
            return
        write_atomic(
            self.state_path,
            json.dumps(
                {
                    "identity": self._identity(),
                    "hwm": None if self._hwm is None else self._encode_hwm(self._hwm),
                    "window_fps": sorted(self._window_fps),
                    "started": self._started,
                    "schema_cols": self._schema_cols,
                    "fp_format": _FP_FORMAT,
                }
            ),
        )

    def _load(self):
        return self.catalog.load(self.endpoint, self.schema, self.table)

    # -- DDL capture --------------------------------------------------------

    @staticmethod
    def _render_type(dt) -> str:
        """Spark JDBC frame type → the MariaDB-style type name the engine's
        schema-evolution contract consumes (mariadb_type_to_spark is the
        inverse on the applier side)."""
        from pyspark.sql import types as T

        if isinstance(dt, T.BooleanType):
            return "boolean"
        if isinstance(dt, T.ByteType):
            return "tinyint"
        if isinstance(dt, T.ShortType):
            return "smallint"
        if isinstance(dt, T.IntegerType):
            return "int"
        if isinstance(dt, T.LongType):
            return "bigint"
        if isinstance(dt, T.FloatType):
            return "float"
        if isinstance(dt, T.DoubleType):
            return "double"
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision},{dt.scale})"
        if isinstance(dt, T.DateType):
            return "date"
        if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
            return "timestamp"
        if isinstance(dt, T.BinaryType):
            return "blob"
        return "text"  # strings and anything exotic transport as text

    def _capture_ddl(self, df) -> tuple[list[dict], list[list[str]]]:
        """Per-poll schema fingerprint diff: compare the JDBC frame's
        (column, type) list against the previous poll's and return
        ``(alter_table_records, now_cols)`` — one record per difference, in
        the feed's structured ``ddl`` shape (the same contract the binlog
        QUERY path emits — reference alter contract run.py:313-314). First
        observation emits nothing (the initial snapshot/'now' boundary
        already carries the starting schema).

        Does NOT mutate ``self._schema_cols`` — the caller commits
        ``now_cols`` only AFTER the records (and the poll's data) publish,
        so a failed cycle leaves the diff re-detectable and the control
        events re-emittable on retry (at-least-once, like every feed
        delivery; the registry's DDL application is idempotent)."""
        now_cols = [[f.name, self._render_type(f.dataType)] for f in df.schema.fields]
        if self._schema_cols is None or now_cols == self._schema_cols:
            return [], now_cols
        old = {n: t for n, t in self._schema_cols}
        new = {n: t for n, t in now_cols}
        ts = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")

        def _rec(action: str, column: str, type_str: str | None) -> dict:
            ddl = {"action": action, "column": column}
            if type_str is not None:
                ddl["type"] = type_str
            return {
                "schema": self.schema,
                "table": self.table,
                "op": "alter-table",
                "txn_id": f"poll-ddl-{action}-{column}",
                "commit_ts": ts,
                "ddl": ddl,
            }

        records = [
            _rec("add-column", n, t) for n, t in new.items() if n not in old
        ]
        records += [
            _rec("modify-column", n, t)
            for n, t in new.items()
            if n in old and old[n] != t
        ]
        records += [
            _rec("drop-column", n, None) for n in old if n not in new
        ]
        return records, now_cols

    # -- the capture --------------------------------------------------------

    def pump(self, feed: ChangeFeed) -> int:
        """One poll: capture rows in the re-read window not yet delivered,
        advance the mark, persist state, return rows captured. Rows are
        captured in cursor order so ``seq`` assignment preserves commit
        order between polls. Each captured row carries its full image as
        ``data`` (op ``update`` after the initial snapshot — polling
        cannot distinguish insert from update; the applier's per-PK
        upsert makes the distinction immaterial for state)."""
        ddl, staged, commit = self._stage(feed)
        if ddl:
            feed.append_changes(ddl)
        if staged is None:
            return commit  # first pump: published directly, commit = count
        if staged:
            feed.append_changes([rec for _cv, rec in staged])
        commit()
        return len(staged)

    def _stage(self, feed: ChangeFeed):
        """Capture one poll WITHOUT publishing the increment: returns
        ``(ddl_records, staged, commit)`` where ``staged`` is
        ``[(cursor_value, record), ...]`` in cursor order and ``commit()``
        applies the hwm/fingerprint/state mutation — the split that lets
        :class:`PollCycleCoordinator` merge several tables' increments
        into one cursor-ordered publish. First pumps (initial snapshot /
        ``'now'`` boundary) are per-table bulk loads, not orderable
        increments: they publish directly to ``feed`` and return
        ``staged=None`` with their row count in place of ``commit``."""
        df = self._load()
        cursor = self._resolve_cursor(df)
        # DDL capture first: control events precede this poll's data rows
        # (binlog order — the ALTER committed before the rows that follow);
        # the first poll just seeds the fingerprint. now_cols commits to
        # self._schema_cols only inside commit() / after first-pump publish
        ddl, now_cols = self._capture_ddl(df)
        first = not self._started
        # NB: _started flips only AFTER the first poll's queries succeed — a
        # transient JDBC failure here must leave the capture un-started, or
        # the scheduler's retry would treat the NEXT poll as non-first
        # (initial='now' would then deliver the entire table history it was
        # told to skip; initial='snapshot' would mislabel the snapshot ops)
        if first and self._initial == "now":
            # start-up boundary: one scan decides both the mark and the
            # already-history fingerprints (rows racing these queries are
            # history by the documented "now" contract)
            row = df.agg(F.max(cursor)).first()
            self._hwm = row[0]
            if self._hwm is not None:
                self._window_fps = frozenset(
                    self._fingerprint(dict(r["_data"]))
                    for r in self._with_data_map(
                        df.filter(F.col(cursor) >= F.lit(self._floor()))
                    )
                    .select("_data")
                    .collect()
                )
            self._started = True
            self._schema_cols = now_cols
            self._save_state()
            return ddl, None, 0
        if first and self._initial == "snapshot":
            self._schema_cols = now_cols
            return ddl, None, self._initial_snapshot(feed, df, cursor)
        floor = self._floor()
        if floor is not None:
            df = df.filter(F.col(cursor) >= F.lit(floor))
        # increment-sized hop; _data carries the canonical cast-string map
        # (project to cursor + _data before collect — the loop below reads
        # nothing else, and the raw typed columns would double the driver
        # transfer on wide tables)
        rows = (
            self._with_data_map(df)
            .select(F.col(cursor), "_data")
            .orderBy(cursor)
            .collect()
        )
        # polling cannot distinguish insert from update; the applier's
        # per-PK upsert makes the distinction immaterial for state
        op = "update"
        now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        staged = []  # (cursor_value, record) in cursor order
        delivered = []  # (cursor_value, fingerprint) of every row seen
        for r in rows:
            data = dict(r["_data"])
            fp = self._fingerprint(data)
            delivered.append((r[cursor], fp))
            if fp in self._window_fps:
                continue  # already delivered in a previous poll's window
            staged.append(
                (
                    r[cursor],
                    {
                        "schema": self.schema,
                        "table": self.table,
                        "op": op,
                        # canonical-string cursor value, same rendering as
                        # the snapshot path's cast-string txn_id
                        "txn_id": f"poll-{cursor}-"
                        + (data[cursor] if data[cursor] is not None else "None"),
                        "commit_ts": now,
                        "data": data,
                        "before": None,
                    },
                )
            )

        def commit() -> None:
            cursors = [c for c, _fp in delivered if c is not None]
            if cursors:
                # never LOWER the mark: under lookback, the max-cursor row
                # can vanish from the window (source delete) — a regressed
                # mark would slide the floor below rows whose fingerprints
                # were already discarded and re-deliver them as duplicates
                new_hwm = max(cursors)
                if self._hwm is not None:
                    new_hwm = max(new_hwm, self._hwm)
                self._hwm = new_hwm
                new_floor = self._floor()
                self._window_fps = frozenset(
                    fp
                    for c, fp in delivered
                    if c is not None and c >= new_floor
                )
            elif delivered:
                # no orderable cursor value observed yet (every row's cursor
                # is NULL): there is no floor to hide rows behind, so EVERY
                # such row stays permanently inside the re-read window —
                # remember their fingerprints or each poll re-collects and
                # re-delivers the whole table forever. The window set is
                # table-sized in this degenerate all-NULL phase (normally it
                # is lookback-bounded); it collapses back to the window once
                # a real cursor value appears.
                self._window_fps = self._window_fps | frozenset(
                    fp for _c, fp in delivered
                )
            self._started = True
            self._schema_cols = now_cols
            self._save_state()

        return ddl, staged, commit

    def _initial_snapshot(self, feed: ChangeFeed, df, cursor: str) -> int:
        """First pump, ``initial="snapshot"``: emit every existing row as op
        ``insert`` WITHOUT routing the table through the driver. The frame
        is pinned once (eager localCheckpoint — one consistent JDBC read
        serves sizing, the write, and the boundary fingerprints; executor
        storage is disk-backed, so a 100 GB table costs spill, not a driver
        OOM), encoded to change records with built-in expressions, and
        published executor-side via :meth:`ChangeFeed.append_changes_df`.
        The only collect is the boundary window (``cursor >= floor`` — the
        lookback-bounded set every subsequent poll re-reads anyway), taken
        from the SAME pinned frame so its fingerprints describe exactly the
        rows that were delivered.

        Within-snapshot seq order is partition order, not cursor order:
        snapshot rows are per-PK unique, so the applier's per-key max-seq
        verdict — and every later increment, whose seqs are all higher —
        is unaffected (the same contract as the S1 full-load encoder, which
        orders controls before data but not data rows among themselves).

        The degenerate all-NULL-cursor table keeps the driver path: its
        re-read window is permanently table-sized (module contract), so the
        fingerprint set is table-sized no matter where the encode runs.
        """
        now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        pinned = (
            self._with_data_map(df)
            .withColumn("_mono", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        agg = pinned.agg(
            F.max(F.col(cursor)).alias("m"),
            F.count(F.lit(1)).alias("n"),
            F.max("_mono").alias("mx"),
        ).first()
        hwm, total = agg["m"], agg["n"]
        if total == 0:
            self._started = True
            self._save_state()
            return 0
        if hwm is None:
            # all-NULL cursor: deliver driver-side and remember every
            # fingerprint (the permanent re-read window — see docstring);
            # payload is the same canonical _data map as every other path
            rows = pinned.select("_data").collect()
            changes, fps = [], []
            for r in rows:
                rec = dict(r["_data"])
                fps.append(self._fingerprint(rec))
                changes.append(
                    {
                        "schema": self.schema,
                        "table": self.table,
                        "op": "insert",
                        # every cursor is NULL in this branch
                        "txn_id": f"poll-{cursor}-None",
                        "commit_ts": now,
                        "data": rec,
                        "before": None,
                    }
                )
            feed.append_changes(changes)
            self._window_fps = frozenset(fps)
            self._started = True
            self._save_state()
            return len(changes)
        changes_df = pinned.select(
            F.lit(self.schema).alias("schema"),
            F.lit(self.table).alias("table"),
            F.lit("insert").alias("op"),
            # NULL-cursor rows keep the driver path's textual 'None'
            F.concat(
                F.lit(f"poll-{cursor}-"),
                F.coalesce(F.col(cursor).cast("string"), F.lit("None")),
            ).alias("txn_id"),
            F.lit(now).alias("commit_ts"),
            F.col("_data").alias("data"),
            F.lit(None).cast("map<string,string>").alias("before"),
            F.col("_mono"),
        )
        feed.append_changes_df(changes_df, "_mono", int(agg["mx"]))
        self._hwm = hwm
        # boundary fingerprints from the SAME pinned _data maps that were
        # delivered — byte-identical to what every later poll computes
        boundary = (
            pinned.filter(F.col(cursor) >= F.lit(self._floor()))
            .select("_data")
            .collect()
        )
        self._window_fps = frozenset(
            self._fingerprint(dict(r["_data"])) for r in boundary
        )
        self._started = True
        self._save_state()
        return int(total)

    def reconcile(self, feed: ChangeFeed, replica_df, pk_col: str) -> int:
        """Delete capture by snapshot key-diff: polling observes only rows
        that EXIST with an advanced cursor, so source deletes are invisible
        to :meth:`pump` (module contract; the reference's delete events —
        run.py:305 — flow through the binlog). ``reconcile`` closes the gap
        the way every polling replication product does: anti-join the
        materialized replica's primary-key set against the source's current
        keys and emit ``op=delete`` for each key the source no longer has.

        ``replica_df`` is the engine's materialized state for this table
        (``materializer.table(schema, table)``); ``pk_col`` its primary-key
        column. Events carry the key in ``before`` (Debezium/DMS delete
        shape: before-image key, no after image) — the applier's
        before-image leg turns that into a key delete.

        Fully distributed: both sides prune to the pk column (column
        pruning reaches the JDBC scan), the anti-join shuffles ids only,
        and the events publish executor-side via ``append_changes_df`` —
        a mass-delete reconciliation never touches the driver. Run it on a
        schedule coarser than the poll (deletes tolerate the window) or
        after any suspected mass-delete.

        Races are benign in the upsert model: a key deleted after the
        source read simply waits for the next reconcile; a key re-inserted
        after it gets re-captured by the next pump (higher cursor ⇒ higher
        seq than this delete, so the applier keeps the re-insert). Returns
        the number of delete events emitted.
        """
        df = self._load()
        # compare in the REPLICA's pk type (the registered target type):
        # string-space comparison would false-diff types whose text forms
        # differ (DECIMAL '100.00' vs INT '100')
        pk_type = replica_df.schema[pk_col].dataType
        source_keys = df.select(
            F.col(self._resolve_column(df, pk_col)).cast(pk_type).alias("_k")
        )
        replica_keys = replica_df.select(F.col(pk_col).alias("_k"))
        gone = (
            replica_keys.join(source_keys, "_k", "left_anti")
            .withColumn("_mono", F.monotonically_increasing_id())
            .localCheckpoint(eager=True)
        )
        agg = gone.agg(F.count(F.lit(1)).alias("n"), F.max("_mono").alias("mx")).first()
        if agg["n"] == 0:
            return 0
        now = datetime.now(timezone.utc).strftime("%Y-%m-%dT%H:%M:%S")
        changes_df = gone.select(
            F.lit(self.schema).alias("schema"),
            F.lit(self.table).alias("table"),
            F.lit("delete").alias("op"),
            F.concat(F.lit(f"reconcile-{pk_col}-"), F.col("_k")).alias("txn_id"),
            F.lit(now).alias("commit_ts"),
            F.lit(None).cast("map<string,string>").alias("data"),
            F.map_from_arrays(
                F.array(F.lit(pk_col)), F.array(F.col("_k").cast("string"))
            ).alias("before"),
            F.col("_mono"),
        )
        feed.append_changes_df(changes_df, "_mono", int(agg["mx"]))
        self._forget_vanished_fingerprints(df)
        return int(agg["n"])

    def _forget_vanished_fingerprints(self, df) -> None:
        """Drop re-read-window fingerprints whose rows the source no longer
        has. Without this, a row deleted and then re-inserted IDENTICALLY
        (same cursor value — e.g. a restore from backup) would be skipped
        by every later poll's fingerprint check while the reconcile-emitted
        delete had already removed it from the replica — a permanent silent
        divergence reconcile itself can never repair (it only diffs
        replica-minus-source). Pruning to the fingerprints still present
        re-arms delivery for exactly the vanished rows; the collect is the
        same window-bounded read every pump performs."""
        if not self._window_fps:
            return
        cursor = self._resolve_cursor(df)
        floor = self._floor()
        if floor is not None:
            df = df.filter(F.col(cursor) >= F.lit(floor))
        current = frozenset(
            self._fingerprint(dict(r["_data"]))
            for r in self._with_data_map(df).select("_data").collect()
        )
        self._window_fps = self._window_fps & current
        self._save_state()


class PollCycleCoordinator:
    """Cross-table commit-order coordination for multiple polled captures
    sharing one feed. The reference's binlog gives ONE global commit order
    across all tables of a task (SURVEY §2.1 S2); N independent captures
    pumping one feed interleave at pump granularity — table A's whole
    increment lands before table B's even when their commits interleaved.
    The coordinator closes that gap for each poll cycle: every capture
    STAGES its increment (:meth:`JdbcPollingCapture._stage` — no publish,
    no state mutation), the staged rows are merged and sorted by cursor
    value ACROSS tables, published in one append (so feed ``seq`` order
    matches cursor order), and only then does each capture commit its
    high-water mark.

    Requires all captures to share a comparable cursor domain — a global
    version counter or an ``updated_at`` timestamp, the standard
    cross-table ordering key (the binlog analog: one log, one position).
    Mixed cursor types fail the sort BEFORE any publish or state
    mutation, so a failed cycle leaves every capture un-advanced and
    retryable. Ties (equal cursors) keep per-capture order, captures in
    construction order.

    First pumps are exempt by design: an initial snapshot is a per-table
    bulk load whose rows are per-key-unique — cross-table order is
    immaterial (the applier's per-key max-seq verdict never compares rows
    of different tables from the same load), and it publishes
    executor-side where a driver-side merge would defeat the distributed
    path. DDL control events publish before the cycle's data rows, as on
    the binlog path.
    """

    def __init__(self, captures: list[JdbcPollingCapture]) -> None:
        self.captures = list(captures)

    def pump_cycle(self, feed: ChangeFeed) -> int:
        """One coordinated cycle across every capture; returns total rows
        published (first-pump bulk loads included)."""
        total = 0
        all_ddl: list[dict] = []
        staged_all: list[tuple] = []
        commits = []
        for cap in self.captures:
            ddl, staged, commit = cap._stage(feed)
            all_ddl.extend(ddl)
            if staged is None:
                total += commit  # first pump: already published, int count
            else:
                staged_all.extend(staged)
                commits.append(commit)
        # sort before ANY publish/state mutation: incomparable cursor
        # domains raise here and the cycle is cleanly retryable
        staged_all.sort(key=lambda cv_rec: (cv_rec[0] is not None, cv_rec[0]))
        if all_ddl:
            feed.append_changes(all_ddl)
        if staged_all:
            feed.append_changes([rec for _cv, rec in staged_all])
        for commit in commits:
            commit()
        return total + len(staged_all)

    def pump(self, feed: ChangeFeed) -> int:
        """Capture-compatible alias for :meth:`pump_cycle`, so a
        coordinator drops into anything that schedules a capture — in
        particular :class:`~...task.PollingReplicationTask`, which makes
        a coordinated multi-table cycle a first-class task."""
        return self.pump_cycle(feed)

    def reconcile(self, feed: ChangeFeed, replica_for, pk_cols) -> int:
        """Delete-reconcile every capture in one call: ``replica_for`` is
        ``(schema, table) -> replica_df`` (e.g. ``materializer.table``),
        ``pk_cols`` the matching pk column map (or one shared name).
        Returns total delete events emitted."""
        total = 0
        for cap in self.captures:
            pk = (
                pk_cols
                if isinstance(pk_cols, str)
                else pk_cols[(cap.schema, cap.table)]
            )
            total += cap.reconcile(feed, replica_for(cap.schema, cap.table), pk)
        return total
