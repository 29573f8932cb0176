"""Declarative pipeline specification.

The reference declares its pipeline as CDK IaC: source endpoints, a target
stream, a replication instance, and four replication tasks built from
(source endpoint, table-mapping selection rules, migration type, task
settings) — reference dms_sample/stack.py:92-186. Here the same information
is plain dataclasses compiled at session start into registered sources,
sinks, and unstarted ReplicationTask objects (SURVEY §3.3) — no infra.

Selection rules use SQL-LIKE wildcards exactly like the reference's
table-mappings (`a%`, `novels`, `%` — reference dms_sample/stack.py:100-113,
124-137,317-328).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field


@dataclass(frozen=True)
class SelectionRule:
    """One table-mapping selection rule (reference dms_sample/stack.py:103-113).

    ``schema_pattern`` / ``table_pattern`` are SQL-LIKE patterns where ``%``
    matches any run of characters and ``_`` any single character.
    ``action`` is ``include`` or ``exclude`` (reference uses only include,
    stack.py:110; exclude supported for generality).
    """

    schema_pattern: str
    table_pattern: str
    action: str = "include"

    def __post_init__(self) -> None:
        if self.action not in ("include", "exclude"):
            raise ValueError(f"invalid rule action: {self.action!r}")


def like_to_regex(pattern: str) -> re.Pattern[str]:
    """Compile a SQL-LIKE pattern (%, _) to an anchored regex."""
    out = []
    for ch in pattern:
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return re.compile("^" + "".join(out) + "$")


def like_match(pattern: str, value: str) -> bool:
    return like_to_regex(pattern).match(value) is not None


def select_tables(
    tables: list[tuple[str, str]], rules: list[SelectionRule]
) -> list[tuple[str, str]]:
    """Metadata-level predicate pushdown (SURVEY §2.3 F1/F2): evaluate the
    selection rules against the catalog's (schema, table) pairs so that
    non-matching tables are never read. Include rules admit; exclude rules
    veto; a table must match ≥1 include and 0 excludes.
    """
    includes = [r for r in rules if r.action == "include"]
    excludes = [r for r in rules if r.action == "exclude"]
    out = []
    for schema, table in tables:
        if not any(
            like_match(r.schema_pattern, schema) and like_match(r.table_pattern, table)
            for r in includes
        ):
            continue
        if any(
            like_match(r.schema_pattern, schema) and like_match(r.table_pattern, table)
            for r in excludes
        ):
            continue
        out.append((schema, table))
    return sorted(out)


@dataclass(frozen=True)
class EndpointSpec:
    """A source or target endpoint (reference dms_sample/stack.py:224-258).

    ``engine``: one of the source engines ``catalog.SourceCatalog`` accepts
    (``parquet``, ``orc``, ``memory``, ``jdbc``, ``jsonl``, ``csv``,
    ``avro``); ``jdbc`` options carry url/driver/credentials — credentials
    resolved via a config provider at task start, mirroring Secrets Manager
    resolution at stack.py:235-249.
    """

    name: str
    engine: str
    options: dict = field(default_factory=dict, hash=False)


@dataclass(frozen=True)
class TaskSettings:
    """Envelope/task settings (reference dms_sample/stack.py:210-220,331-336)."""

    include_control_records: bool = True  # stack.py:214
    include_null_and_empty: bool = True  # stack.py:215
    include_partition_value: bool = True  # stack.py:216
    include_table_alter_operations: bool = True  # stack.py:217
    include_transaction_details: bool = True  # stack.py:218
    partition_include_schema_table: bool = True  # stack.py:219
    before_image: bool = False  # CDC only; stack.py:331-336
    before_image_type: str = "all-columns"  # or "pk-only"; stack.py:335
    # Partition-key routing mode (the DMS Kinesis contract):
    # - "schema-table": PartitionKey = "schema.table" — one key per table,
    #   total order per table (the observed envelope's partition-key-type).
    # - "primary-key": PartitionKey = the row's PK value, prefixed with
    #   "schema.table." when partition_include_schema_table (its documented
    #   purpose: spread hot tables across shards). This is the scale mode —
    #   a single table's load fans out over every shard while per-row order
    #   (all changes of one PK) stays FIFO.
    # include_partition_value additionally surfaces the PK value as the
    # metadata field "partition-key-value" on data events (stack.py:216).
    partition_key_type: str = "schema-table"


@dataclass
class TaskSpec:
    """A replication task: the 'query' of this system (SURVEY §1.1 item 4).

    Mirrors reference dms_sample/stack.py:93-186 (4 task definitions):
    (source endpoint, selection rules, migration type, settings, target).
    """

    task_id: str
    source: str  # endpoint name
    # "full-load" | "cdc" | "full-load-and-cdc" (the three DMS migration
    # types; the reference uses only the first two — stack.py:147,99 — the
    # combined type is the standard generalization: snapshot, then apply
    # only changes committed after the snapshot position)
    migration_type: str
    rules: list[SelectionRule]
    settings: TaskSettings = field(default_factory=TaskSettings)
    target: str = "target-stream"

    def __post_init__(self) -> None:
        if self.migration_type not in ("full-load", "cdc", "full-load-and-cdc"):
            raise ValueError(f"invalid migration_type: {self.migration_type!r}")


@dataclass
class PipelineSpec:
    """The whole pipeline: endpoints + tasks + stream sizing.

    ``shards=1`` reproduces the reference's single-shard total-order stream
    (stack.py:356). Multi-shard mode keeps only per-key order, which is the
    scale path — pair it with ``TaskSettings.partition_key_type=
    "primary-key"`` so a single table's rows spread over every shard
    (schema-table keys put a whole table on one shard, stack.py:219).
    """

    endpoints: list[EndpointSpec] = field(default_factory=list)
    tasks: list[TaskSpec] = field(default_factory=list)
    shards: int = 1
    retention_hours: int = 24  # stack.py:356

    def endpoint(self, name: str) -> EndpointSpec:
        for e in self.endpoints:
            if e.name == name:
                return e
        raise KeyError(f"no endpoint named {name!r}")

    def task(self, task_id: str) -> TaskSpec:
        for t in self.tasks:
            if t.task_id == task_id:
                return t
        raise KeyError(f"no task named {task_id!r}")
