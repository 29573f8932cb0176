"""Structured Streaming unit tests: stateful before-image enrichment
(applyInPandasWithState), its batch/window dual, watermarked windowed
aggregation, and the sink's streaming read-back."""

import json
import os
import time

import pytest

from tests.conftest import await_finished, drain_memory_sink
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import FEED_SCHEMA
from sample_dms_kinesis_rds_mariadb_spark.streaming.state import (
    enrich_before_images,
    enrich_before_images_batch,
)

CHANGES = [
    {"seq": 1, "schema": "db", "table": "t", "op": "insert", "txn_id": "a",
     "commit_ts": "2024-01-01T00:00:00", "data": {"id": "1", "v": "one"}},
    {"seq": 2, "schema": "db", "table": "t", "op": "update", "txn_id": "b",
     "commit_ts": "2024-01-01T00:00:01", "data": {"id": "1", "v": "two"}},
    {"seq": 3, "schema": "db", "table": "t", "op": "update", "txn_id": "c",
     "commit_ts": "2024-01-01T00:00:02", "data": {"id": "1", "v": "three"}},
    {"seq": 4, "schema": "db", "table": "t", "op": "delete", "txn_id": "d",
     "commit_ts": "2024-01-01T00:00:03", "data": {"id": "1", "v": "three"}},
    {"seq": 5, "schema": "db", "table": "t", "op": "insert", "txn_id": "e",
     "commit_ts": "2024-01-01T00:00:04", "data": {"id": "2", "v": "x"}},
]


def _write_feed(path: str, changes: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "changes-000000.json"), "w") as f:
        f.write("\n".join(json.dumps(c) for c in changes) + "\n")


def _assert_enrichment(rows):
    by_seq = {r["seq"]: r for r in rows}
    assert by_seq[2]["before"] == {"id": "1", "v": "one"}
    assert by_seq[3]["before"] == {"id": "1", "v": "two"}
    assert by_seq[4]["before"] == {"id": "1", "v": "three"}
    assert by_seq[1]["before"] is None
    assert by_seq[5]["before"] is None


def test_stateful_before_image_streaming(spark, tmp_path):
    """K4 via applyInPandasWithState: a feed WITHOUT before-images gets them
    attached from per-key state."""
    feed_path = str(tmp_path / "feed")
    _write_feed(feed_path, CHANGES)
    stream = spark.readStream.schema(FEED_SCHEMA).json(feed_path)
    enriched = enrich_before_images(
        stream, F.element_at(F.col("data"), "id")
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("enriched_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    # stateful + ProcessingTimeTimeout: availableNow never self-terminates
    # (the operator requires batches until state empties) — drain and stop
    drain_memory_sink(spark, q, "enriched_sink", 5)
    rows = [r.asDict(recursive=True) for r in spark.sql("SELECT * FROM enriched_sink").collect()]
    assert len(rows) == 5
    _assert_enrichment(rows)


def test_stateful_enrichment_across_arrow_chunks(spark, tmp_path):
    """ADVICE regression: one key's rows spanning MULTIPLE Arrow chunks must
    still replay in seq order (the enrich function concatenates chunks before
    sorting; per-chunk sorting spliced wrong before-images)."""
    n = 40
    changes = [
        {
            "seq": i + 1,
            "schema": "db",
            "table": "t",
            "op": "insert" if i == 0 else "update",
            "txn_id": f"t{i}",
            "commit_ts": f"2024-01-01T00:00:{i:02d}",
            "data": {"id": "1", "v": str(i)},
        }
        # reversed on disk: chunk-local sorting would "fix" each chunk but
        # replay the chunks themselves out of order
        for i in reversed(range(n))
    ]
    feed_path = str(tmp_path / "feed")
    _write_feed(feed_path, changes)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        stream = spark.readStream.schema(FEED_SCHEMA).json(feed_path)
        enriched = enrich_before_images(stream, F.element_at(F.col("data"), "id"))
        q = (
            enriched.writeStream.format("memory")
            .queryName("chunked_sink")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        drain_memory_sink(spark, q, "chunked_sink", n)
        rows = [
            r.asDict(recursive=True)
            for r in spark.sql("SELECT * FROM chunked_sink").collect()
        ]
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert len(rows) == n
    by_seq = {r["seq"]: r for r in rows}
    for i in range(1, n):  # update seq=i+1 sees the i-th image
        assert by_seq[i + 1]["before"] == {"id": "1", "v": str(i - 1)}, (
            f"seq {i + 1} got before {by_seq[i + 1]['before']}"
        )


def test_before_image_batch_dual(spark):
    """The batch window-lag formulation produces identical enrichment."""
    df = spark.createDataFrame(
        [
            (c["seq"], c["schema"], c["table"], c["op"], c["txn_id"],
             c["commit_ts"], c["data"], None, None)
            for c in CHANGES
        ],
        FEED_SCHEMA,
    )
    out = enrich_before_images_batch(df, F.element_at(F.col("data"), "id"))
    rows = [r.asDict(recursive=True) for r in out.collect()]
    _assert_enrichment(rows)


def test_watermarked_window_agg(spark, tmp_path):
    """Streaming tumbling-window count with a watermark (SURVEY §2.10 T2
    generalized: event-time windowing for late data)."""
    src = str(tmp_path / "events")
    os.makedirs(src, exist_ok=True)
    events = [
        {"event_id": 1, "ts": "2024-01-01T00:00:10", "event_type": "click"},
        {"event_id": 2, "ts": "2024-01-01T00:00:50", "event_type": "click"},
        {"event_id": 3, "ts": "2024-01-01T00:01:10", "event_type": "click"},
        {"event_id": 4, "ts": "2024-01-01T00:01:20", "event_type": "view"},
    ]
    with open(os.path.join(src, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
    stream = (
        spark.readStream.schema("event_id LONG, ts STRING, event_type STRING")
        .json(src)
        .withColumn("event_time", F.to_timestamp("ts"))
        .withWatermark("event_time", "10 minutes")
        .groupBy(F.window("event_time", "1 minute"), F.col("event_type"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("win_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    rows = spark.sql(
        "SELECT window.start AS s, event_type, n FROM win_sink ORDER BY s, event_type"
    ).collect()
    got = [(str(r["s"]), r["event_type"], r["n"]) for r in rows]
    assert got == [
        ("2024-01-01 00:00:00", "click", 2),
        ("2024-01-01 00:01:00", "click", 1),
        ("2024-01-01 00:01:00", "view", 1),
    ]


def test_session_window_streaming(spark, tmp_path):
    """Streaming session windows (gap-based) — the streaming counterpart of
    the batch gaps-and-islands sessionization plan."""
    src = str(tmp_path / "sess")
    os.makedirs(src, exist_ok=True)
    events = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00"},   # same session (gap 10m < 30m)
        {"user_id": 1, "ts": "2024-01-01T02:00:00"},   # new session
        {"user_id": 2, "ts": "2024-01-01T00:00:00"},
    ]
    with open(os.path.join(src, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
    stream = (
        spark.readStream.schema("user_id LONG, ts STRING")
        .json(src)
        .withColumn("event_time", F.to_timestamp("ts"))
        .withWatermark("event_time", "1 hour")
        .groupBy(F.session_window("event_time", "30 minutes"), F.col("user_id"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    rows = spark.sql(
        "SELECT user_id, n FROM sess_sink ORDER BY user_id, session_window.start"
    ).collect()
    assert [(r["user_id"], r["n"]) for r in rows] == [(1, 2), (1, 1), (2, 1)]


def test_stream_store_read_stream(spark, tmp_path):
    """S5 streaming read-back: tail the sink as a stream and parse envelopes."""
    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        control_events,
        parse_json_records,
    )
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
    from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings

    store = StreamStore(spark, str(tmp_path / "stream"), shards=1)
    env = control_events(
        spark, [("db", "t", "drop-table"), ("db", "t", "create-table")], TaskSettings()
    ).withColumn("_order", F.col("_order").cast("long"))
    store.append_envelopes(env)

    q = (
        parse_json_records(store.read_stream())
        .writeStream.format("memory")
        .queryName("tail_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    rows = spark.sql(
        "SELECT metadata.operation AS op, sequence_number FROM tail_sink ORDER BY sequence_number"
    ).collect()
    assert [r["op"] for r in rows] == ["drop-table", "create-table"]
    assert [r["sequence_number"] for r in rows] == [1, 2]


def _wire_batch(spark, pairs):
    """Build a minimal wire-format batch: (PartitionKey, payload) pairs."""
    rows = [(json.dumps({"data": {"v": v}, "metadata": {}}), pk) for pk, v in pairs]
    return spark.createDataFrame(rows, "Data STRING, PartitionKey STRING")


def test_shard_iterator_types(spark, tmp_path):
    """Kinesis iterator surface: TRIM_HORIZON, LATEST, AT/AFTER_SEQUENCE_NUMBER
    (reference run.py:175-179 uses TRIM_HORIZON; the rest generalize it)."""
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"), shards=1)
    store.append(_wire_batch(spark, [("k", "a"), ("k", "b")]))

    latest = store.get_shard_iterator(0, "LATEST")  # position: after batch 1
    store.append(_wire_batch(spark, [("k", "c"), ("k", "d")]))

    # TRIM_HORIZON sees everything, in sequence order
    horizon = store.get_shard_iterator(0, "TRIM_HORIZON")
    recs = horizon.get_records()
    assert [r["Data"]["data"]["v"] for r in recs] == ["a", "b", "c", "d"]
    assert [r["SequenceNumber"] for r in recs] == [1, 2, 3, 4]
    assert recs[0]["PartitionKey"] == "k"
    # exhausted cursor returns nothing new
    assert horizon.get_records() == []

    # LATEST sees only records appended after iterator creation
    assert [r["Data"]["data"]["v"] for r in latest.get_records()] == ["c", "d"]

    # AT_SEQUENCE_NUMBER is inclusive, AFTER_ exclusive
    at = store.get_shard_iterator(0, "AT_SEQUENCE_NUMBER", starting_sequence_number=3)
    assert [r["SequenceNumber"] for r in at.get_records()] == [3, 4]
    after = store.get_shard_iterator(
        0, "AFTER_SEQUENCE_NUMBER", starting_sequence_number=3
    )
    assert [r["SequenceNumber"] for r in after.get_records()] == [4]

    # paged consumption advances the cursor (GetRecords limit)
    paged = store.get_shard_iterator(0, "TRIM_HORIZON")
    assert [r["SequenceNumber"] for r in paged.get_records(limit=3)] == [1, 2, 3]
    assert [r["SequenceNumber"] for r in paged.get_records(limit=3)] == [4]

    with pytest.raises(ValueError):
        store.get_shard_iterator(0, "AT_SEQUENCE_NUMBER")
    with pytest.raises(ValueError):
        store.get_shard_iterator(5, "LATEST")
    with pytest.raises(ValueError):
        store.get_shard_iterator(0, "BOGUS")


def test_sequence_offsets_recover_across_processes(spark, tmp_path):
    """A fresh StreamStore over an existing record log continues the per-shard
    sequence instead of reissuing from 0 (cross-process restart)."""
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    path = str(tmp_path / "stream")
    first = StreamStore(spark, path, shards=2)
    first.append(_wire_batch(spark, [("k1", "a"), ("k2", "b"), ("k1", "c")]))

    # simulate restart: new store object, same path
    second = StreamStore(spark, path, shards=2)
    second.append(_wire_batch(spark, [("k1", "d"), ("k2", "e")]))

    rows = second.read().collect()
    seqs = {}
    for r in rows:
        seqs.setdefault(r["shard_id"], []).append(r["sequence_number"])
    # per shard: strictly increasing, no duplicates
    for shard, ss in seqs.items():
        assert ss == sorted(ss), f"shard {shard} out of order: {ss}"
        assert len(ss) == len(set(ss)), f"shard {shard} duplicated seqs: {ss}"
    assert sum(len(s) for s in seqs.values()) == 5


def test_concurrent_appends_keep_sequences_dense(spark, tmp_path):
    """Two writers appending concurrently (T6: concurrent tasks share one
    stream) must interleave without losing or duplicating sequence numbers,
    and publish in sequence order: just before each publish, the records
    already visible hold a dense prefix of every shard's sequence."""
    import threading

    import pyarrow.parquet as pq

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"), shards=2)
    batches = [
        _wire_batch(spark, [(f"k{i}", f"w{w}b{b}") for i in range(6)])
        for w in range(2)
        for b in range(3)
    ]
    for df in batches:
        df.cache().count()  # materialize before the threads race

    errs = []

    def visible_is_dense():
        seqs = {}
        for f in _records(store):
            if f.endswith(".parquet"):
                cols = pq.read_table(
                    os.path.join(store._records_path, f),
                    columns=["shard_id", "sequence_number"],
                ).to_pydict()
                for shard, seq in zip(cols["shard_id"], cols["sequence_number"]):
                    seqs.setdefault(shard, []).append(seq)
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in seqs.values())

    def writer(dfs):
        try:
            for df in dfs:
                store.append(df, after=visible_is_dense)
        except Exception as e:  # pragma: no cover
            errs.append(e)

    t1 = threading.Thread(target=writer, args=(batches[:3],))
    t2 = threading.Thread(target=writer, args=(batches[3:],))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs

    rows = store.read().collect()
    assert len(rows) == 36
    per_shard = {}
    for r in rows:
        per_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    for ss in per_shard.values():
        assert sorted(ss) == list(range(1, len(ss) + 1))
    for df in batches:
        df.unpersist()


def _records(store):
    return sorted(os.listdir(store._records_path))


def test_append_publishes_only_after_its_after_callable(spark, tmp_path):
    """An append writes into a hidden staging directory and publishes when
    ``after`` returns: while ``after`` runs the write is done but no record
    is readable, and the published files carry the publish time."""
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"))
    seen = []

    def after():
        seen.append((store.read().count(), _records(store)))
        time.sleep(1.0)
        seen.append(time.time())

    batch = _wire_batch(spark, [("k", "a"), ("k", "b")])
    assert store.append(batch, after=after) == 2
    (count, names), published = seen
    assert count == 0 and [n[:9] for n in names] == ["_staging-"]
    files = _records(store)
    assert files and all(f.endswith(".parquet") for f in files)
    # written a second before ``after`` returned, stamped when published
    assert all(
        os.path.getmtime(os.path.join(store._records_path, f)) > published - 0.5
        for f in files
    )
    assert [r["sequence_number"] for r in store.read().collect()] == [1, 2]


def test_failed_after_publishes_nothing_and_keeps_sequences_dense(spark, tmp_path):
    """An ``after`` that raises deletes the staged files, leaves the
    counters where they were and re-raises; the next append continues the
    sequence without a gap."""
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"))
    store.append(_wire_batch(spark, [("k", "a")]))

    def fail():
        raise RuntimeError("apply failed")

    with pytest.raises(RuntimeError, match="apply failed"):
        store.append(_wire_batch(spark, [("k", "b"), ("k", "c")]), after=fail)
    assert not any(n.startswith("_staging-") for n in _records(store))
    assert store.read().count() == 1
    store.append(_wire_batch(spark, [("k", "d"), ("k", "e")]))
    rows = store.read().collect()
    assert [r["sequence_number"] for r in rows] == [1, 2, 3]
    assert [json.loads(r["Data"])["data"]["v"] for r in rows] == ["a", "d", "e"]


def test_crash_before_publish_shows_nothing_and_reopen_sweeps(
    spark, tmp_path, monkeypatch
):
    """A crash between an append's staged write and its publish leaves the
    staged files hidden from every reader; a store opened afterwards
    removes them and continues the sequence."""
    from types import SimpleNamespace

    from sample_dms_kinesis_rds_mariadb_spark.sinks import stream_sink

    path = str(tmp_path / "stream")
    store = stream_sink.StreamStore(spark, path)
    store.append(_wire_batch(spark, [("k", "a")]))

    def crash():
        raise RuntimeError("crash")

    # a crash stops the append after its write: no publish, no clean-up
    monkeypatch.setattr(
        stream_sink, "shutil", SimpleNamespace(rmtree=lambda *a, **k: None)
    )
    with pytest.raises(RuntimeError, match="crash"):
        store.append(_wire_batch(spark, [("k", "b"), ("k", "c")]), after=crash)
    monkeypatch.undo()
    assert sum(n.startswith("_staging-") for n in _records(store)) == 1
    assert store.read().count() == 1

    reopened = stream_sink.StreamStore(spark, path)
    assert not any(n.startswith("_staging-") for n in _records(reopened))
    reopened.append(_wire_batch(spark, [("k", "d")]))
    rows = reopened.read().collect()
    got = [(r["sequence_number"], json.loads(r["Data"])["data"]["v"]) for r in rows]
    assert got == [(1, "a"), (2, "d")]


def test_arrival_time_is_publish_time(spark, tmp_path):
    """A record arrives when its file is published, never earlier: a poll at
    T while the append's ``after`` runs sees nothing, and the same poll
    after the publish returns every record with an arrival time >= T. The
    append's files store the four record columns and carry one publish
    time, a whole millisecond."""
    import pyarrow.parquet as pq

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"), shards=2)
    polls = []

    def after():
        polls.append(time.time())
        polls.append(store.read(after_ts=polls[0]).count())
        time.sleep(1.0)

    batch = _wire_batch(spark, [(f"k{i}", f"v{i}") for i in range(8)])
    # one file per shard, not one coalesced file
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        assert store.append(batch, after=after) == 8
    finally:
        spark.conf.set(key, prev)
    t, seen = polls
    assert seen == 0
    rows = store.read(after_ts=t).collect()
    assert sorted(json.loads(r["Data"])["data"]["v"] for r in rows) == [
        f"v{i}" for i in range(8)
    ]
    assert all(r["approximate_arrival_ts"].timestamp() >= t for r in rows)

    files = [os.path.join(store._records_path, f) for f in _records(store)]
    mtimes = {os.stat(f).st_mtime_ns for f in files}
    assert len(files) >= 2 and len(mtimes) == 1
    assert mtimes.pop() % 1_000_000 == 0
    assert all(
        pq.read_schema(f).names
        == ["Data", "PartitionKey", "shard_id", "sequence_number"]
        for f in files
    )


def test_log_with_stored_arrival_column_still_reads(spark, tmp_path):
    """A record file that also stores an ``approximate_arrival_ts`` column
    (the earlier layout) reads with its mtime as the arrival time, and
    appends continue its sequence."""
    from datetime import datetime

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    path = tmp_path / "stream"
    spark.createDataFrame(
        [('{"data": {"v": "old"}}', "k", 0, 1, datetime(2000, 1, 1))],
        "Data STRING, PartitionKey STRING, shard_id INT, "
        "sequence_number LONG, approximate_arrival_ts TIMESTAMP",
    ).coalesce(1).write.parquet(str(path / "records"))
    store = StreamStore(spark, str(path))
    old = [f for f in _records(store) if f.endswith(".parquet")]
    assert len(old) == 1
    mtime = os.path.getmtime(os.path.join(store._records_path, old[0]))
    store.append(_wire_batch(spark, [("k", "new")]))
    rows = store.read().collect()
    assert [(r["sequence_number"], json.loads(r["Data"])["data"]["v"]) for r in rows] == [
        (1, "old"),
        (2, "new"),
    ]
    assert rows[0]["approximate_arrival_ts"].timestamp() == pytest.approx(
        mtime, abs=1e-3
    )


def test_shard_iterator_at_timestamp(spark, tmp_path):
    """AT_TIMESTAMP starts at an arrival-ts floor, then pages by sequence."""
    import time as _time

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "stream"), shards=1)
    store.append(_wire_batch(spark, [("k", "old1"), ("k", "old2")]))
    _time.sleep(0.05)
    ts = _time.time()
    _time.sleep(0.05)
    store.append(_wire_batch(spark, [("k", "new1"), ("k", "new2"), ("k", "new3")]))

    it = store.get_shard_iterator(0, "AT_TIMESTAMP", timestamp=ts)
    first = it.get_records(limit=2)
    assert [r["Data"]["data"]["v"] for r in first] == ["new1", "new2"]
    # after the first page the cursor is sequence-driven: the ts floor is
    # dropped but nothing re-delivers and nothing is skipped
    rest = it.get_records()
    assert [r["Data"]["data"]["v"] for r in rest] == ["new3"]
    assert it.get_records() == []

    with pytest.raises(ValueError):
        store.get_shard_iterator(0, "AT_TIMESTAMP")  # timestamp required


def test_streaming_session_window_with_watermark(spark, tmp_path):
    """Session windows on a STREAM (SURVEY §2.10; the batch dual is the
    `session_windows` catalog query): gap-based sessions merge incrementally
    under a watermark — Spark's MergingSessions operator, not a batch-only
    trick. Two users, one with a 2-event session and a later singleton."""
    src = str(tmp_path / "sess_events")
    os.makedirs(src, exist_ok=True)
    events = [
        {"user_id": 1, "ts": "2024-01-01T00:00:00"},
        {"user_id": 1, "ts": "2024-01-01T00:10:00"},  # same session (gap < 30m)
        {"user_id": 1, "ts": "2024-01-01T01:30:00"},  # new session
        {"user_id": 2, "ts": "2024-01-01T00:05:00"},
    ]
    with open(os.path.join(src, "e.json"), "w") as f:
        f.write("\n".join(json.dumps(e) for e in events))
    stream = (
        spark.readStream.schema("user_id LONG, ts STRING")
        .json(src)
        .withColumn("event_time", F.to_timestamp("ts"))
        .withWatermark("event_time", "1 hour")
        .groupBy("user_id", F.session_window("event_time", "30 minutes"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("sess_sink")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    rows = spark.sql(
        "SELECT user_id, session_window.start AS s, n FROM sess_sink ORDER BY user_id, s"
    ).collect()
    got = [(r["user_id"], str(r["s"]), r["n"]) for r in rows]
    assert got == [
        (1, "2024-01-01 00:00:00", 2),
        (1, "2024-01-01 01:30:00", 1),
        (2, "2024-01-01 00:05:00", 1),
    ]


def test_stateful_before_image_ttl_evicts_idle_keys(spark, tmp_path):
    """State TTL: an idle key's image is EVICTED on timeout (the
    hasTimedOut path must remove, not refresh — falling through to the
    normal path would re-arm the timeout and the state would live
    forever). After eviction, an update for the key gets a NULL
    before-image, like the reference past its retention horizon."""
    import time as _time

    def ch(seq, op, key, val):
        return {
            "seq": seq, "schema": "db", "table": "t", "op": op,
            "txn_id": f"t{seq}", "commit_ts": f"2024-01-01T00:00:{seq:02d}",
            "data": {"id": key, "v": val},
        }

    feed_path = str(tmp_path / "feed")
    _write_feed(feed_path, [ch(1, "insert", "1", "one")])
    stream = spark.readStream.schema(FEED_SCHEMA).json(feed_path)
    enriched = enrich_before_images(
        stream, F.element_at(F.col("data"), "id"), ttl_ms=500
    )
    q = (
        enriched.writeStream.format("memory")
        .queryName("ttl_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        def wait_rows(n):
            for _ in range(120):
                if spark.sql("SELECT * FROM ttl_sink").count() >= n:
                    return
                _time.sleep(0.5)
            raise AssertionError(f"sink never reached {n} rows")

        wait_rows(1)               # batch 1: key 1 insert -> state stored
        _time.sleep(1.5)           # let the 500 ms TTL elapse
        # batch 2 carries only key 2 -> key 1 gets the timeout invocation
        with open(os.path.join(feed_path, "changes-000001.json"), "w") as f:
            f.write(json.dumps(ch(2, "insert", "2", "two")) + "\n")
        wait_rows(2)
        _time.sleep(0.5)
        # batch 3: update for key 1 AFTER eviction -> NULL before-image
        with open(os.path.join(feed_path, "changes-000002.json"), "w") as f:
            f.write(json.dumps(ch(3, "update", "1", "three")) + "\n")
        wait_rows(3)
        rows = {
            r["seq"]: r.asDict(recursive=True)
            for r in spark.sql("SELECT * FROM ttl_sink").collect()
        }
        assert rows[3]["before"] is None  # state was evicted, not refreshed
        # (within-TTL splicing is covered by the other streaming tests,
        # which run at the default 24 h TTL — at a 500 ms TTL every idle
        # key legitimately evicts between micro-batches)
    finally:
        q.stop()


def test_enrichment_passes_ddl_events_through(spark, tmp_path):
    """Control records must survive the before-image enrichment UNTOUCHED:
    the stateful operator's fixed Arrow schema has no ddl column, so an
    alter-table routed through it used to come out with ddl=NULL —
    destroying the payload any downstream schema-evolution stage needs."""
    changes = [
        {
            "seq": 1,
            "schema": "db",
            "table": "t",
            "op": "insert",
            "txn_id": "t1",
            "commit_ts": "2024-01-01T00:00:01",
            "data": {"id": "1", "v": "a"},
        },
        {
            "seq": 2,
            "schema": "db",
            "table": "t",
            "op": "alter-table",
            "commit_ts": "2024-01-01T00:00:02",
            "ddl": {
                "action": "add-column",
                "column": "extra",
                "type": "varchar(10)",
                "default": "x",
            },
        },
        {
            "seq": 3,
            "schema": "db",
            "table": "t",
            "op": "update",
            "txn_id": "t3",
            "commit_ts": "2024-01-01T00:00:03",
            "data": {"id": "1", "v": "b"},
        },
    ]
    feed_path = str(tmp_path / "feed")
    _write_feed(feed_path, changes)
    stream = spark.readStream.schema(FEED_SCHEMA).json(feed_path)
    enriched = enrich_before_images(stream, F.element_at(F.col("data"), "id"))
    q = (
        enriched.writeStream.format("memory")
        .queryName("ddl_passthrough_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    drain_memory_sink(spark, q, "ddl_passthrough_sink", 3)
    rows = {
        r["seq"]: r.asDict(recursive=True)
        for r in spark.sql("SELECT * FROM ddl_passthrough_sink").collect()
    }
    assert len(rows) == 3
    ddl = rows[2]["ddl"]
    assert ddl == {
        "action": "add-column",
        "column": "extra",
        "type": "varchar(10)",
        "default": "x",
    }
    # and the data ops still enriched normally around it
    assert rows[3]["before"] == {"id": "1", "v": "a"}


def test_changefeed_explicit_seq_advances_counter(spark, tmp_path):
    """Caller-supplied seq values must pull the auto counter forward: a
    later auto-assigned seq BELOW an explicit one would let the stale
    explicit event outrank newer changes in last-writer-per-key applies."""
    from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed

    feed = ChangeFeed(spark, str(tmp_path / "feed"))
    feed.append_changes(
        [{"schema": "db", "table": "t", "op": "insert", "seq": 100,
          "commit_ts": "2024-01-01T00:00:00", "data": {"id": "1"}}]
    )
    feed.append_changes(
        [{"schema": "db", "table": "t", "op": "update",
          "commit_ts": "2024-01-01T00:00:01", "data": {"id": "1"}}]
    )
    seqs = sorted(r["seq"] for r in feed.read_batch().collect())
    assert seqs == [100, 101]


def test_sequence_floor_survives_full_retention_trim(spark, tmp_path):
    """All record files trimmed away + cross-process reopen: new appends
    must CONTINUE the per-shard sequence (duplicate sequence numbers would
    break AFTER_SEQUENCE_NUMBER checkpoints and Kinesis semantics)."""
    from datetime import datetime, timedelta, timezone

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    path = str(tmp_path / "store")
    s1 = StreamStore(spark, path, shards=1, retention_hours=1)
    df = spark.createDataFrame(
        [(f"d{i}", "k") for i in range(5)], "Data STRING, PartitionKey STRING"
    )
    s1.append(df)
    max_before = max(
        r["sequence_number"] for r in s1.read().collect()
    )
    # trim EVERYTHING (pretend far future)
    removed = s1.trim_expired(now=datetime.now(timezone.utc) + timedelta(days=10))
    assert removed >= 1
    # cross-process restart over the fully trimmed store
    s2 = StreamStore(spark, path, shards=1, retention_hours=1)
    s2.append(df)
    seqs = sorted(r["sequence_number"] for r in s2.read().collect())
    assert seqs[0] == max_before + 1  # continued, not reissued from 1
    assert len(seqs) == 5
