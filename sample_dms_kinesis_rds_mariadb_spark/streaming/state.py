"""Stateful before-image enrichment (SURVEY §2.2 K4, §2.11).

The reference's CDC feed carries full before-images because the source binlog
runs ROW/Full (dms_sample/stack.py:372-376). When a feed does NOT carry them
(binlog_row_image=MINIMAL, or a source that only emits after-images), DMS
still attaches before-images by tracking row state. This operator reproduces
that: a Structured Streaming stateful transform keyed on (schema, table, pk)
that remembers each key's last after-image and splices it in as the
before-image of the next update/delete.

Implementation: ``applyInPandasWithState`` — Arrow-batched per-key state,
partitioned by key hash across executors, bounded by a processing-time
timeout (state TTL), exactly the 'PK-keyed state store with TTL' called for
in SURVEY §7 hard-part (b). State size = one row-image per live key.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

ENRICHED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("schema", T.StringType()),
        T.StructField("table", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("txn_id", T.StringType()),
        T.StructField("commit_ts", T.StringType()),
        T.StructField("data_json", T.StringType()),
        T.StructField("before_json", T.StringType()),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("last_image_json", T.StringType())])


DEFAULT_TTL_MS = 24 * 3600 * 1000  # mirror the stream's 24 h retention


def _make_enrich_group(ttl_ms: int):
    def _enrich_group(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        """Per-key state function: replay this key's changes in commit order,
        attaching the remembered last after-image as the before-image where
        the feed didn't supply one."""
        # TTL eviction: Spark re-invokes the function for a timed-out key
        # with an EMPTY iterator and hasTimedOut=True. Falling through to
        # the normal path would re-update the state and re-arm the timeout
        # — the state would live forever and the TTL would be decorative.
        if state.hasTimedOut:
            state.remove()
            yield pd.DataFrame(
                [], columns=[f.name for f in ENRICHED_SCHEMA.fields]
            )
            return
        last_image: str | None = state.get[0] if state.exists else None
        out: list[dict[str, Any]] = []
        # concatenate ALL Arrow chunks before sorting: a key whose rows span
        # multiple chunks would otherwise replay out of commit order
        # (per-chunk sorts interleave) and splice wrong before-images
        chunks = [pdf for pdf in pdf_iter if len(pdf)]
        if chunks:
            merged = (
                pd.concat(chunks, ignore_index=True)
                if len(chunks) > 1
                else chunks[0]
            )
            for r in merged.sort_values("seq").itertuples(index=False):
                before = r.before_json
                if r.op in ("update", "delete") and (
                    before is None or before == ""
                ):
                    before = last_image
                if r.op == "delete":
                    last_image = None
                elif r.op in ("insert", "update", "load"):
                    last_image = r.data_json
                out.append(
                    {
                        "seq": r.seq,
                        "schema": r.schema,
                        "table": r.table,
                        "op": r.op,
                        "txn_id": r.txn_id,
                        "commit_ts": r.commit_ts,
                        "data_json": r.data_json,
                        "before_json": before,
                    }
                )
        if last_image is None:
            state.remove()
        else:
            state.update((last_image,))
            state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(out, columns=[f.name for f in ENRICHED_SCHEMA.fields])

    return _enrich_group


def enrich_before_images(
    feed_df: DataFrame, pk_expr, ttl_ms: int = DEFAULT_TTL_MS
) -> DataFrame:
    """Wire the stateful enrichment into a (streaming or batch-test) feed
    DataFrame of changefeed shape. ``pk_expr`` extracts the primary-key value
    from the ``data`` map (e.g. ``F.element_at(F.col("data"), "id")``).

    Returns the feed with ``before`` filled for update/delete ops. Maps are
    carried as JSON strings across the Arrow boundary (Arrow-friendly; maps
    with null values round-trip poorly as Arrow maps).

    TRIGGER CHOICE: run this under a processing-time trigger (the engine's
    CDC tasks do) and stop the query explicitly. Do NOT rely on
    ``Trigger.AvailableNow`` terminating: a stateful operator with a
    processing-time timeout reports "requires another batch" until its
    state empties, so an availableNow query spins EMPTY micro-batches for
    the remaining TTL instead of stopping — a silent CPU leak on a shared
    session. For bounded/backfill runs use
    :func:`enrich_before_images_batch` (identical semantics, one window),
    or drain the sink to the expected row count and ``stop()``.

    ``ttl_ms``: processing-time state TTL (must be > 0 — Spark's
    GroupState requires a positive duration, and an invalid value would
    otherwise kill the query per-task in the executors AFTER deployment
    instead of here at wiring time). A key idle that long is evicted
    (hasTimedOut path) — state size stays one image per RECENTLY LIVE key,
    matching the stream's retention window, instead of one per key ever
    seen. An update arriving after its key's eviction gets a NULL
    before-image — the same answer the reference gives past its retention
    horizon.
    """
    if ttl_ms <= 0:
        raise ValueError(f"ttl_ms must be > 0, got {ttl_ms}")
    ddl_t = "struct<action:string,column:string,type:string,default:string>"
    data_ops = ("insert", "update", "delete", "load")
    # ONLY data ops go through the stateful operator; control records
    # (alter-table/drop-table/create-table...) bypass it UNTOUCHED — the
    # fixed Arrow output schema has no ddl column, so routing them through
    # used to null out every DDL payload in the enriched feed, breaking
    # any downstream schema-evolution stage
    rest = feed_df.filter(~F.col("op").isin(*data_ops))
    prepared = feed_df.filter(F.col("op").isin(*data_ops)).select(
        "seq",
        "schema",
        "table",
        "op",
        "txn_id",
        "commit_ts",
        F.to_json(F.col("data")).alias("data_json"),
        F.to_json(F.col("before")).alias("before_json"),
        pk_expr.cast("string").alias("_pk"),
    )
    enriched = prepared.groupBy("schema", "table", "_pk").applyInPandasWithState(
        _make_enrich_group(ttl_ms),
        outputStructType=ENRICHED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
    map_t = "map<string,string>"
    out = enriched.select(
        "seq",
        "schema",
        "table",
        "op",
        "txn_id",
        "commit_ts",
        F.from_json(F.col("data_json"), map_t).alias("data"),
        F.from_json(F.col("before_json"), map_t).alias("before"),
        F.lit(None).cast(ddl_t).alias("ddl"),
    )
    passthrough = rest.select(
        "seq",
        "schema",
        "table",
        "op",
        "txn_id",
        "commit_ts",
        F.col("data").cast(map_t).alias("data"),
        F.col("before").cast(map_t).alias("before"),
        F.col("ddl").cast(ddl_t).alias("ddl"),
    )
    return out.unionByName(passthrough)


def enrich_before_images_batch(feed_df: DataFrame, pk_expr) -> DataFrame:
    """Batch-mode equivalent (for tests and backfills): the same last-image
    semantics expressed with a window — lag of the after-image per key in
    commit order. Demonstrates the batch/streaming duality of the operator."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy("schema", "table", "_pk")
        .orderBy("seq")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prepared = feed_df.withColumn("_pk", pk_expr.cast("string"))
    last_image = F.last(
        F.when(F.col("op").isin("insert", "update", "load"), F.col("data")), True
    ).over(w)
    return (
        prepared.withColumn(
            "before",
            F.when(
                F.col("op").isin("update", "delete")
                & F.col("before").isNull(),
                last_image,
            ).otherwise(F.col("before")),
        )
        .drop("_pk")
    )

