"""Training-shard export: the hand-off from the curation pipeline to a
training data loader.

Loaders want a fixed number of shards, stable shard membership (resumable
downloads, reproducible epoch order), and a manifest to verify against.
Shard assignment reuses the deterministic md5 bucketing from
``operators/sampling.py`` — a pure function of (key, salt), so re-exports
assign every row to the same shard and any engine can recompute the
mapping. The write is one hash-partitioned shuffle into ``shard=K/``
directories; the manifest is a per-shard count aggregate (n_shards rows —
control-plane sized, never row data).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import _pin
from sample_dms_kinesis_rds_mariadb_spark.operators.sampling import _hash_bucket

MANIFEST_FILE = "_manifest.json"


_FORMATS = {"parquet": ".parquet", "jsonl": ".json"}


def _has_data_files(path: str, ext: str = ".parquet") -> bool:
    """True when the written layout holds any data file (an all-filtered-out
    input writes only _SUCCESS — a valid empty corpus, not a read error)."""
    return any(
        f.endswith(ext) for _root, _dirs, files in os.walk(path) for f in files
    )


def _read_shards(spark, path: str, fmt: str):
    return (
        spark.read.json(path) if fmt == "jsonl" else spark.read.parquet(path)
    )


def shard_column(df: DataFrame, key_col: str, n_shards: int, salt: str = "shard"):
    """Deterministic shard id in [0, n_shards) from md5(salt|key)."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return df.withColumn(
        "shard", (_hash_bucket(F.col(key_col), salt) % n_shards).cast("int")
    )


def write_training_shards(
    df: DataFrame,
    path: str,
    key_col: str,
    n_shards: int = 64,
    salt: str = "shard",
    shuffle_seed: int | None = None,
    format: str = "parquet",
) -> dict:
    """Write ``df`` as ``path/shard=K/*`` with stable membership, one
    output file per shard (what data loaders expect), and a manifest.
    ``format``: ``parquet`` (columnar, the analytical default) or
    ``jsonl`` (one JSON object per line — what most training loaders and
    text-pipeline tools ingest directly); same layout, manifest, and
    verification either way.

    Returns the manifest dict: total rows plus per-shard row counts. The
    repartition targets one file per shard — at 100 TB pick ``n_shards``
    so a shard is a sensible file size (e.g. 1-4 GB); shard counts are
    md5-uniform so sizes stay balanced without a skew pass.

    ``shuffle_seed`` orders rows WITHIN each shard by ``md5(seed|key)``
    instead of by key — the deterministic global shuffle training runs
    want (a loader reading shards round-robin sees a seed-reproducible
    random document order, decorrelated from ingest/sort order). Same
    plan shape: the order rides the existing ``sortWithinPartitions``,
    no extra exchange; different seeds give independent epoch orders
    while shard MEMBERSHIP (and so the manifest) stays identical.
    """
    if format not in _FORMATS:
        raise ValueError(f"format must be one of {sorted(_FORMATS)}, got {format!r}")
    sharded = shard_column(df, key_col, n_shards, salt=salt)
    order_col = (
        _hash_bucket(F.col(key_col), f"epoch{shuffle_seed}")
        if shuffle_seed is not None
        else F.col(key_col)
    )
    (
        sharded.repartition(n_shards, "shard")
        # deterministic file content: key order, or seeded pseudo-random
        # order (ties under the 1e6-bucket hash resolve by key, keeping
        # the file byte-stable for a fixed seed)
        .sortWithinPartitions("shard", order_col, key_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .format("json" if format == "jsonl" else "parquet")
        .save(path)
    )
    # count from the files actually written, not by re-evaluating the lazy
    # input plan — a non-deterministic source (unseeded sampling, files
    # changing between the two jobs) would otherwise pin the manifest to
    # DIFFERENT data than the bytes on disk. An all-filtered-out input
    # writes no data files (just _SUCCESS); that is a valid empty corpus,
    # not a schema-inference error.
    spark = df.sparkSession
    has_files = _has_data_files(path, _FORMATS[format])
    counts = (
        {
            int(r["shard"]): r["n"]
            for r in _read_shards(spark, path, format)
            .groupBy("shard")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if has_files
        else {}
    )
    manifest = {
        "n_shards": n_shards,
        "key_col": key_col,
        "salt": salt,
        "shuffle_seed": shuffle_seed,
        "format": format,
        "total_rows": int(sum(counts.values())),
        "shard_rows": {str(k): int(v) for k, v in sorted(counts.items())},
    }
    with open(os.path.join(path, MANIFEST_FILE), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def verify_shards(spark, path: str) -> bool:
    """Recount the written shards against the manifest (the loader-side
    integrity check). Raises on mismatch, returns True when clean."""
    with open(os.path.join(path, MANIFEST_FILE)) as f:
        manifest = json.load(f)
    fmt = manifest.get("format", "parquet")  # pre-format manifests: parquet
    has_files = _has_data_files(path, _FORMATS[fmt])
    got = (
        {
            str(r["shard"]): r["n"]
            for r in _read_shards(spark, path, fmt)
            .groupBy("shard")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        if has_files
        else {}
    )
    want = manifest["shard_rows"]
    if got != want:
        raise ValueError(f"shard counts diverge from manifest: {got} != {want}")
    return True


def budget_shard_column(
    df: DataFrame,
    size_col: str,
    budget: int,
    order_col: str,
    n_partitions: int | None = None,
) -> DataFrame:
    """Assign contiguous token-budget shards: rows sorted by ``order_col``
    are packed sequentially so each ``shard`` holds ~``budget`` units of
    ``size_col`` (token counts, byte sizes). The sequence-pack loader's dual
    of :func:`shard_column` — hash shards balance ROW counts; training jobs
    budget TOKENS, and a shard is one loader work unit, so equal-token
    shards equalize step time.

    Assignment is by cumulative starting offset: a row whose running total
    (of all earlier rows in ``order_col`` order) is ``c`` lands in shard
    ``floor(c / budget)``. Invariants: shard ids are non-decreasing in
    ``order_col`` order, and a shard's total never exceeds ``budget`` plus
    its last row's size (a row straddling a boundary stays whole in the
    shard where it starts). A single row larger than ``budget`` owns its
    shard and skips the ids its width covers — numbering has gaps then,
    which loaders that list directories never notice.

    A global running sum is the textbook anti-pattern (one-partition
    ``Window.orderBy`` = the whole corpus through a single task), so this
    runs the classic two-pass distributed prefix sum instead:

    1. range-exchange on ``order_col`` and PIN (``localCheckpoint``) so the
       physical partition id becomes data — both passes must see the SAME
       row→partition map, and range boundaries are sampled per evaluation;
    2. per-partition size totals — a ``n_partitions``-row aggregate
       collected to the driver (control-plane), turned into exclusive
       prefix offsets;
    3. offsets rejoin via a broadcast on the partition id, and the
       within-partition running sum is a window over ``_pid`` — per-task
       data, never the global timeline, through any one sort.

    ``order_col`` must be unique (a doc id): it is the total order that
    makes the assignment deterministic. NULL sizes count as 0.
    """
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    spark = df.sparkSession
    parts = n_partitions or spark.sparkContext.defaultParallelism
    size = F.coalesce(F.col(size_col).cast("long"), F.lit(0))
    # the pin is NOT optional here (no materialize=False escape hatch):
    # both passes must see the same row->partition map, and range
    # boundaries are re-sampled per evaluation — an unpinned plan over a
    # non-deterministic source would assign WRONG shard ids silently, and
    # laziness buys nothing since the totals collect() runs a job anyway
    ranged = _pin(
        df.repartitionByRange(parts, F.col(order_col)).withColumn(
            "_pid", F.spark_partition_id()
        ),
        True,
    )
    totals = {
        r["_pid"]: r["t"]
        for r in ranged.groupBy("_pid").agg(F.sum(size).alias("t")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(totals):  # range partitions are ordered by order_col
        offsets.append((pid, acc))
        acc += totals[pid]
    offsets_df = spark.createDataFrame(
        offsets or [(0, 0)], ["_pid", "_offset"]
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranged.join(F.broadcast(offsets_df), "_pid", "left")
        .withColumn("_before", F.col("_offset") + F.sum(size).over(w) - size)
        .withColumn("shard", F.floor(F.col("_before") / F.lit(int(budget))).cast("int"))
        .drop("_pid", "_offset", "_before")
    )


def write_budget_shards(
    df: DataFrame,
    path: str,
    size_col: str,
    budget: int,
    order_col: str,
    n_partitions: int | None = None,
) -> dict:
    """Write token-budget-packed shards as ``path/shard=K/*.parquet`` plus a
    manifest carrying per-shard row AND token counts (the loader schedules
    by tokens). Rows inside each shard file are ``order_col``-sorted, so a
    loader streaming a shard sees the curriculum order the packing used."""
    sharded = budget_shard_column(
        df, size_col, budget, order_col, n_partitions=n_partitions
    )
    (
        sharded.repartition("shard")
        .sortWithinPartitions("shard", order_col)
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
    spark = df.sparkSession
    has_files = _has_data_files(path)
    stats = (
        {
            int(r["shard"]): (r["n"], r["tok"])
            for r in spark.read.parquet(path)
            .groupBy("shard")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.coalesce(F.col(size_col), F.lit(0))).alias("tok"),
            )
            .collect()
        }
        if has_files
        else {}
    )
    manifest = {
        "budget": int(budget),
        "size_col": size_col,
        "order_col": order_col,
        "total_rows": int(sum(n for n, _ in stats.values())),
        "total_size": int(sum(t for _, t in stats.values())),
        "shard_rows": {str(k): int(n) for k, (n, _) in sorted(stats.items())},
        "shard_sizes": {str(k): int(t) for k, (_, t) in sorted(stats.items())},
    }
    with open(os.path.join(path, MANIFEST_FILE), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


def write_range_layout(
    df: DataFrame,
    path: str,
    sort_col: str,
    n_files: int = 64,
) -> None:
    """Range-partitioned, sorted write: every output file covers a DISJOINT
    ``sort_col`` range — the zone-map layout for range-scanned corpora
    (time-series reads, id-range backfills).

    ``repartitionByRange`` samples range boundaries (one extra sampling
    pass + one range exchange) and ``sortWithinPartitions`` orders rows
    inside each file, so parquet footer min/max stats prune WHOLE FILES for
    a range predicate and row-group stats prune within the survivors. At
    100 TB this is the difference between a `ts BETWEEN` query scanning
    every file and scanning the handful whose range intersects.

    Contrast with :func:`write_training_shards`: hash sharding balances
    loader throughput (any key's rows spread evenly); range layout
    optimizes selective reads. Pick per consumer.
    """
    (
        df.repartitionByRange(n_files, F.col(sort_col))
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def zorder_column(
    df: DataFrame,
    cols: list[str],
    bits: int = 16,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> DataFrame:
    """Append ``_zorder``: the Morton (Z-order) interleaving of the given
    numeric/timestamp columns — sorting by it keeps rows close on EVERY
    listed dimension at once, the multi-column generalization of
    :func:`write_range_layout`'s single sort key.

    Each column is affine-mapped to a ``bits``-bit integer using its
    (min, max) — pass ``ranges`` to pin them (stable across incremental
    writes), else ONE control-plane aggregate computes them — then the
    bit-interleave is a pure codegen shift/or chain (``bits`` × ``len(cols)``
    foldable terms, no UDF, no shuffle). NULLs map to 0 (cluster at the
    low corner). Timestamp columns are interleaved on their epoch seconds.
    """
    if not 1 <= bits <= 21:
        raise ValueError(f"bits must be in [1, 21], got {bits}")
    if not 1 <= len(cols) <= 3:
        raise ValueError("zorder_column interleaves 1-3 columns")
    from pyspark.sql import types as T

    def numeric(c: str):
        col = F.col(c)
        if isinstance(df.schema[c].dataType, (T.TimestampType, T.TimestampNTZType)):
            return F.unix_micros(col.cast("timestamp")) / F.lit(1e6)
        return col.cast("double")

    if ranges is None:
        aggs = []
        for c in cols:
            aggs.append(F.min(numeric(c)).alias(f"lo_{c}"))
            aggs.append(F.max(numeric(c)).alias(f"hi_{c}"))
        row = df.agg(*aggs).first()
        ranges = {c: (row[f"lo_{c}"], row[f"hi_{c}"]) for c in cols}
    scale = (1 << bits) - 1
    quantized = []
    for c in cols:
        lo, hi = ranges[c]
        if lo is None or hi is None or hi <= lo:
            quantized.append(F.lit(0).cast("long"))
            continue
        q = F.floor((numeric(c) - F.lit(float(lo))) / F.lit(hi - lo) * scale)
        # NULL -> 0 BEFORE the clamp: greatest/least SKIP null arguments
        # (least(scale, NULL) = scale), so clamping first would send NULLs
        # to the HIGH corner — mixed into the max-value files' footer
        # stats — instead of the documented low corner
        quantized.append(
            F.greatest(
                F.lit(0), F.least(F.lit(scale), F.coalesce(q, F.lit(0)))
            ).cast("long")
        )
    # Column & / | are LOGICAL operators in PySpark — bitwise needs the
    # explicit methods (and matching integer widths for the mask)
    one = F.lit(1).cast("long")
    z = F.lit(0).cast("long")
    for b in range(bits - 1, -1, -1):
        for qcol in quantized:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(qcol, b).bitwiseAND(one)
            )
    return df.withColumn("_zorder", z)


def write_zorder_layout(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 64,
    bits: int = 16,
    ranges: dict[str, tuple[float, float]] | None = None,
) -> None:
    """Z-order clustered write: range-partition + sort on the Morton key so
    every file covers a compact hyper-rectangle of the listed columns, and
    parquet footer min/max stats on EACH column prune files for predicates
    on ANY of them — where a plain ``write_range_layout(sort_col=a)``
    prunes only on ``a`` and scans everything for a ``b``-only predicate.
    The standard multi-dimensional clustering trade: per-dimension ranges
    per file are ~sqrt-wider than a dedicated single-column sort."""
    (
        zorder_column(df, cols, bits=bits, ranges=ranges)
        .repartitionByRange(n_files, F.col("_zorder"))
        .sortWithinPartitions("_zorder")
        .drop("_zorder")
        .write.mode("overwrite")
        .parquet(path)
    )
