"""Schema evolution: DDL-in-stream handling (SURVEY §2.10 T5 — custom logic,
no Spark builtin).

The reference replicates ALTERs issued during active CDC and the tests assert
the post-ALTER schemas (reference lib/query.py:59-66 — modify column type,
drop column, add column with default; tests/test_infra.py:693-707). Here a
``TableRegistry`` carries the authoritative per-table StructType; ``alter-table``
events mutate it (add with default / drop / retype-cast) and the apply layer
re-projects materialized state through the evolved schema.

Transport stays ``MAP<STRING,STRING>`` so mid-stream drift never breaks the
stream schema (SURVEY §1.2); typing happens per-table at apply time.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# MariaDB → Spark type mapping exercised by the reference's DDL
# (SURVEY §1.2 type table; lib/query.py:1-15,21-32,38-53)
_MARIADB_TYPES: list[tuple[str, T.DataType]] = [
    ("tinyint unsigned", T.ShortType()),
    ("tinyint(1)", T.BooleanType()),
    # unsigned integers widen one level: the same-width signed type would
    # overflow-to-NULL for values past the signed max (silent corruption);
    # bigint unsigned exceeds every integral Spark type, so exact decimal
    ("smallint unsigned", T.IntegerType()),
    ("mediumint unsigned", T.IntegerType()),
    ("int unsigned", T.LongType()),
    ("integer unsigned", T.LongType()),
    ("bigint unsigned", T.DecimalType(20, 0)),
    ("tinyint", T.ByteType()),
    ("smallint", T.ShortType()),
    ("bigint", T.LongType()),
    ("int", T.IntegerType()),
    ("varchar", T.StringType()),
    ("text", T.StringType()),
    ("enum", T.StringType()),
    ("char", T.StringType()),
    ("datetime", T.TimestampType()),
    ("timestamp", T.TimestampType()),
    ("date", T.DateType()),
    ("decimal", None),  # handled specially for precision/scale
    ("boolean", T.BooleanType()),
    ("bool", T.BooleanType()),
    ("double", T.DoubleType()),
    ("float", T.FloatType()),
    ("blob", T.BinaryType()),
]


def mariadb_type_to_spark(type_str: str) -> T.DataType:
    s = type_str.strip().lower()
    if "unsigned" in s and "(" in s and s.index("(") < s.index("unsigned"):
        # MariaDB DESCRIBE renders e.g. "int(10) unsigned" — drop the
        # display width so the "<base> unsigned" prefixes above match
        s = (s[: s.index("(")] + s[s.index(")") + 1 :]).strip()
        s = " ".join(s.split())
    if s.startswith("decimal"):
        if "(" in s:
            inner = s[s.index("(") + 1 : s.index(")")]
            p, _, sc = inner.partition(",")
            return T.DecimalType(int(p), int(sc or 0))
        return T.DecimalType(10, 0)
    for prefix, t in _MARIADB_TYPES:
        if s.startswith(prefix) and t is not None:
            return t
    raise ValueError(f"unmapped MariaDB type: {type_str!r}")


@dataclass
class TableDef:
    schema_name: str
    table_name: str
    struct: T.StructType
    primary_key: str  # single-column PKs in the reference (lib/query.py:2,22,39)
    # column name -> SQL-literal default, applied when the source omits the
    # column (DEFAULT TRUE / CURRENT_TIMESTAMP — lib/query.py:8,30,31,50,65)
    defaults: dict[str, str] = field(default_factory=dict)

    def default_column(self, name: str, dtype, now: Column | None = None) -> Column:
        """The typed default expression for a column — THE single
        interpretation of stored default strings (``current_timestamp``
        special-cased, as ``now`` when given, everything else a cast
        literal; NULL when no default). Both the map-transport projection
        below and the stored-parquet conform path (streaming/apply.py) use
        this, so a new default kind lands in one place."""
        d = self.defaults.get(name)
        if d is None:
            return F.lit(None).cast(dtype)
        if d.strip().lower() == "current_timestamp":
            return (F.current_timestamp() if now is None else now).cast(dtype)
        return F.lit(d).cast(dtype)

    def typed_projection(
        self, data_col: str = "data", now: Column | None = None
    ) -> list[Column]:
        """Project a MAP<STRING,STRING> transport column into typed columns,
        applying column defaults for absent keys (SURVEY §2.9 C6); ``now``
        is the time a ``current_timestamp`` default takes."""
        cols = []
        for f in self.struct.fields:
            c = F.col(data_col).getItem(f.name).cast(f.dataType)
            if f.name in self.defaults:
                c = F.coalesce(c, self.default_column(f.name, f.dataType, now))
            cols.append(c.alias(f.name))
        return cols


class TableRegistry:
    """Authoritative evolving per-table schemas + DDL application."""

    def __init__(self) -> None:
        self._tables: dict[tuple[str, str], TableDef] = {}
        self._lock = threading.Lock()
        # bumped on every mutation — consumers (engine view registration)
        # cache against it instead of rebuilding on every read
        self.version = 0

    def tables(self) -> list[tuple[str, str]]:
        """Registered (schema, table) pairs — the public listing (callers
        must not reach into ``_tables``)."""
        with self._lock:
            return sorted(self._tables)

    def primary_keys(self) -> dict[tuple[str, str], str]:
        """(schema, table) → primary-key column, snapshotted under the lock
        so a concurrent register() never breaks the iteration."""
        with self._lock:
            return {k: td.primary_key for k, td in self._tables.items()}

    def register(self, tdef: TableDef) -> None:
        with self._lock:
            self._tables[(tdef.schema_name, tdef.table_name)] = tdef
            self.version += 1

    def register_from_df(
        self,
        schema_name: str,
        table_name: str,
        df: DataFrame,
        primary_key: str | None = None,
        defaults: dict[str, str] | None = None,
    ) -> TableDef:
        tdef = TableDef(
            schema_name=schema_name,
            table_name=table_name,
            struct=df.schema,
            primary_key=primary_key or df.columns[0],
            defaults=defaults or {},
        )
        self.register(tdef)
        return tdef

    def get(self, schema_name: str, table_name: str) -> TableDef:
        with self._lock:
            return self._tables[(schema_name, table_name)]

    def drop(self, schema_name: str, table_name: str) -> None:
        with self._lock:
            self._tables.pop((schema_name, table_name), None)
            self.version += 1

    def describe(self, schema_name: str, table_name: str) -> list[dict]:
        """DESCRIBE-equivalent rows (SURVEY §2.1 S6; tests/test_infra.py:270-282)."""
        tdef = self.get(schema_name, table_name)
        return [
            {
                "Field": f.name,
                "Type": f.dataType.simpleString(),
                "Null": "YES" if f.nullable else "NO",
                "Key": "PRI" if f.name == tdef.primary_key else "",
                "Default": tdef.defaults.get(f.name),
            }
            for f in tdef.struct.fields
        ]

    def apply_ddl(
        self,
        schema_name: str,
        table_name: str,
        action: str,
        column: str | None = None,
        new_type: str | None = None,
        default: str | None = None,
    ) -> TableDef:
        """Apply one ALTER action (reference lib/query.py:59-66 semantics):

        - ``modify-column``: retype in place (email → VARCHAR(100), :61)
        - ``drop-column``: remove (profile_picture, :63)
        - ``add-column``: append with optional default (is_stock BOOLEAN
          DEFAULT TRUE, :65)

        Idempotent under re-delivery (the feed's at-least-once contract —
        a capture retrying a failed cycle re-emits its alter-table
        records): adding an already-present column retypes it in place
        instead of appending a duplicate field; dropping an absent column
        is a no-op.
        """
        with self._lock:
            tdef = self._tables[(schema_name, table_name)]
            fields = list(tdef.struct.fields)
            if action == "modify-column":
                fields = [
                    T.StructField(f.name, mariadb_type_to_spark(new_type), f.nullable)
                    if f.name == column
                    else f
                    for f in fields
                ]
            elif action == "drop-column":
                fields = [f for f in fields if f.name != column]
                tdef.defaults.pop(column, None)
            elif action == "add-column":
                if any(f.name == column for f in fields):
                    fields = [
                        T.StructField(
                            f.name, mariadb_type_to_spark(new_type), f.nullable
                        )
                        if f.name == column
                        else f
                        for f in fields
                    ]
                else:
                    fields.append(
                        T.StructField(column, mariadb_type_to_spark(new_type), True)
                    )
                if default is not None:
                    tdef.defaults[column] = default
            else:
                raise ValueError(f"unknown DDL action: {action!r}")
            tdef.struct = T.StructType(fields)
            self.version += 1
            return tdef
