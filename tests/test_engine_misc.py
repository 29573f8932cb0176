"""Engine-surface tests that don't need a live stream: JDBC option assembly
(S3), multi-shard per-key ordering (X2 scale mode), CDC checkpoint restart
semantics, schema-evolution registry (T5), statistics service (A2)."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_data_events
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
from sample_dms_kinesis_rds_mariadb_spark.spec import EndpointSpec, TaskSettings
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import (
    TableRegistry,
    mariadb_type_to_spark,
)
from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import StatisticsService


def test_jdbc_option_assembly(spark):
    cat = SourceCatalog(spark)
    spec = EndpointSpec(
        "db1",
        "jdbc",
        {
            "url": "jdbc:mysql://host:3306/db",
            "secret_id": "db-secret",
            "tables": ["db.authors", "db.accounts"],
            "schema_name": "db",
        },
    )
    cat.register_endpoint(spec)
    assert cat.list_tables("db1") == [("db", "accounts"), ("db", "authors")]
    # credentials resolve at task start, like Secrets Manager (run.py:64-69)
    cat.credential_provider = lambda sid: {"user": f"u-{sid}", "password": "p"}
    opts = cat.resolve_jdbc_options(spec, "db", "authors")
    assert opts["user"] == "u-db-secret"
    assert opts["dbtable"] == "db.authors"
    assert "secret_id" not in opts and "tables" not in opts
    # malformed entries fail loudly at listing, not as a downstream
    # 1-tuple unpack error
    cat.register_endpoint(
        EndpointSpec("db2", "jdbc", {"url": "x", "tables": ["noschema"]})
    )
    with pytest.raises(ValueError, match="schema.table"):
        cat.list_tables("db2")


def test_jdbc_endpoint_end_to_end(spark, tmp_path):
    """S3 for real: seed an embedded Derby database over JVM JDBC, then read
    it back through resolve_jdbc_options → spark.read.jdbc, and run the
    full-load snapshot encode over the JDBC source (reference run.py:89-137
    analog — the MySQL source endpoint path, minus the network)."""
    from sample_dms_kinesis_rds_mariadb_spark.sources.snapshot import (
        snapshot_table_events,
    )

    db = str(tmp_path / "derbydb")
    jvm = spark._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", str(tmp_path / "derby.log")
    )
    conn = jvm.java.sql.DriverManager.getConnection(f"jdbc:derby:{db};create=true")
    st = conn.createStatement()
    st.executeUpdate(
        "CREATE TABLE authors (author_id INT PRIMARY KEY, "
        "first_name VARCHAR(50), last_name VARCHAR(50))"
    )
    st.executeUpdate(
        "INSERT INTO authors VALUES (1, 'John', 'Doe'), (2, 'Jane', 'Roe')"
    )
    st.close()
    conn.close()

    cat = SourceCatalog(spark)
    spec = EndpointSpec(
        "derby-src",
        "jdbc",
        {
            "url": f"jdbc:derby:{db}",
            "driver": "org.apache.derby.jdbc.EmbeddedDriver",
            "tables": ["APP.authors"],
            "schema_name": "APP",
        },
    )
    cat.register_endpoint(spec)
    assert cat.list_tables("derby-src") == [("APP", "authors")]

    df = cat.load("derby-src", "APP", "authors")
    rows = sorted((r[0], r[1]) for r in df.collect())
    assert rows == [(1, "John"), (2, "Jane")]

    # the engine's S1 path on a JDBC source: controls + one load event/row
    env = snapshot_table_events(
        spark, cat, "derby-src", "APP", "authors", TaskSettings(),
        pk_column="AUTHOR_ID",
    )
    ev = [r.asDict(recursive=True) for r in env.orderBy("_order").collect()]
    assert [e["metadata"]["operation"] for e in ev] == [
        "drop-table",
        "create-table",
        "load",
        "load",
    ]
    loads = [e for e in ev if e["metadata"]["operation"] == "load"]
    assert sorted(e["data"]["FIRST_NAME"] for e in loads) == ["Jane", "John"]
    assert sorted(e["metadata"]["partition-key-value"] for e in loads) == ["1", "2"]


def test_multi_shard_per_key_order(spark, tmp_path):
    """Scale mode (shards>1): global order is given up, per-key FIFO is kept
    — each partition key's records carry increasing sequence numbers in
    emission order within their shard."""
    store = StreamStore(spark, str(tmp_path / "s"), shards=4)
    rows = [(i, f"key-{i % 7}") for i in range(200)]
    df = spark.createDataFrame(rows, "i LONG, pk STRING").select(
        F.col("i").cast("string").alias("Data"),
        F.col("pk").alias("PartitionKey"),
        F.col("i").alias("_order"),
    )
    n = store.append(df)
    assert n == 200
    got = store.read().collect()
    assert len(got) == 200
    # within each key: Data payloads (emission order) must be increasing
    by_key: dict[str, list[int]] = {}
    for r in sorted(got, key=lambda r: (r["shard_id"], r["sequence_number"])):
        by_key.setdefault(r["PartitionKey"], []).append(int(r["Data"]))
    for key, vals in by_key.items():
        assert vals == sorted(vals), f"per-key order broken for {key}"
    # sequence numbers are per-shard contiguous from 1
    by_shard: dict[int, list[int]] = {}
    for r in got:
        by_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    for shard, seqs in by_shard.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1))
    assert len(by_shard) > 1  # keys actually spread across shards


def test_multi_shard_sequences_contiguous_across_appends(spark, tmp_path):
    """Per-shard sequence numbers run contiguous from 1 across successive
    appends: each append advances every shard's counter by exactly the
    records it wrote there."""
    store = StreamStore(spark, str(tmp_path / "s"), shards=4)
    for lo in (0, 120):
        df = spark.range(lo, lo + 120).select(
            F.col("id").cast("string").alias("Data"),
            F.concat(F.lit("key-"), (F.col("id") % 11).cast("string")).alias(
                "PartitionKey"
            ),
            F.col("id").alias("_order"),
        )
        assert store.append(df) == 120
    by_shard: dict[int, list[int]] = {}
    for r in store.read().collect():
        by_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    assert sum(len(v) for v in by_shard.values()) == 240
    assert len(by_shard) > 1
    for shard, seqs in by_shard.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), shard
        assert store._next_seq[shard] == len(seqs)


def test_equal_shaped_append_compiles_no_new_code(spark, tmp_path):
    """The encode and sink stages compile once: a second append of an
    equal-shaped CDC batch, with a later fallback stamp, later arrival time
    and higher per-shard offsets, compiles no new classes."""
    from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_change_batch

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    store = StreamStore(spark, str(tmp_path / "s"), shards=3)
    settings = TaskSettings(partition_key_type="primary-key")
    rows = [
        # records without a commit time take the encoder's fallback stamp
        (i, "db", "t", "insert", "x", None if i % 2 else "2024-01-01T00:00:00",
         {"id": str(i)}, None)
        for i in range(30)
    ]
    schema = (
        "seq LONG, schema STRING, table STRING, op STRING, txn_id STRING, "
        "commit_ts STRING, data MAP<STRING, STRING>, before MAP<STRING, STRING>"
    )
    compiled = []
    for _ in range(2):
        env = encode_change_batch(
            spark.createDataFrame(rows, schema), settings, {("db", "t"): "id"}
        )
        before = codegen.METRIC_COMPILATION_TIME().getCount()
        assert store.append_envelopes(env) == 30
        compiled.append(codegen.METRIC_COMPILATION_TIME().getCount() - before)
    assert compiled[0] > 0 and compiled[1] == 0, compiled
    by_shard: dict[int, list[int]] = {}
    for r in store.read().collect():
        by_shard.setdefault(r["shard_id"], []).append(r["sequence_number"])
    assert len(by_shard) > 1
    for seqs in by_shard.values():
        assert sorted(seqs) == list(range(1, len(seqs) + 1))


def test_empty_envelope_append_is_a_noop(spark, tmp_path):
    """Appending an empty envelope frame returns 0, leaves every per-shard
    counter as it was and does not block, whether the frame is empty at
    the source or filtered to nothing."""
    import threading

    store = StreamStore(spark, str(tmp_path / "s"), shards=4)
    rows = spark.createDataFrame([(1, "x"), (2, "y")], "id INT, v STRING")
    settings = TaskSettings(partition_key_type="primary-key")
    assert store.append_envelopes(
        encode_data_events(rows, "db", "t", "insert", settings, pk_column="id")
    ) == 2
    counters = dict(store._next_seq)
    for empty in (
        spark.createDataFrame([], "id INT, v STRING"),
        rows.filter(F.lit(False)),
    ):
        env = encode_data_events(empty, "db", "t", "insert", settings, pk_column="id")
        got = []
        t = threading.Thread(
            target=lambda: got.append(store.append_envelopes(env)), daemon=True
        )
        t.start()
        t.join(120)
        assert not t.is_alive(), "empty append blocked"
        assert got == [0]
        assert store._next_seq == counters
    assert store.read().count() == 2


def test_single_table_full_load_spreads_shards(spark, tmp_path):
    """Round-1 scale-killer regression: a ONE-table full load in primary-key
    partition mode must (a) carry the PK in the partition key, (b) spread
    records over many shards, and (c) never plan an Exchange SinglePartition
    — the schema-table constant key used to fold the sink window to one
    partition (one core for the whole table)."""
    import contextlib
    import io

    from sample_dms_kinesis_rds_mariadb_spark.envelope import to_json_records

    df = spark.range(2000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    settings = TaskSettings(partition_key_type="primary-key")
    env = encode_data_events(df, "main", "t", "load", settings, pk_column="k")
    wire = to_json_records(env)

    store = StreamStore(spark, str(tmp_path / "s"), shards=32)
    # plan check on the exact sequencing expression append() uses
    staged = wire.withColumn("_o", F.monotonically_increasing_id()).withColumn(
        "shard_id",
        F.pmod(F.xxhash64("PartitionKey"), F.lit(store.shards)).cast("int"),
    )
    from pyspark.sql import Window

    seq = staged.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy("shard_id").orderBy("_o")),
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        seq.explain("formatted")
    plan = buf.getvalue()
    assert "SinglePartition" not in plan, "sink window folded to one partition"

    n = store.append(wire)
    assert n == 2000
    got = store.read().collect()
    shards_used = {r["shard_id"] for r in got}
    assert len(shards_used) >= 16  # 32 shards, 2000 distinct keys
    # partition keys carry the PK value: schema.table.pk
    assert all(r["PartitionKey"].startswith("main.t.") for r in got)
    # metadata surfaces the partition value (stack.py:216)
    import json

    payload = json.loads(got[0]["Data"])
    assert payload["metadata"]["partition-key-value"] is not None
    assert payload["metadata"]["partition-key-type"] == "primary-key"


def test_stream_retention_trim_and_horizon(spark, tmp_path):
    """Reference stack.py:356: 24 h stream retention. Records past the
    horizon are invisible to every consumer (read-side filter) and their
    files are physically reaped (trim_expired)."""
    import os
    from datetime import datetime, timedelta, timezone

    store = StreamStore(spark, str(tmp_path / "s"), shards=2, retention_hours=24)
    df = spark.range(50).select(
        F.col("id").cast("string").alias("Data"),
        F.concat(F.lit("k-"), F.col("id").cast("string")).alias("PartitionKey"),
        F.col("id").alias("_order"),
    )
    assert store.append(df) == 50
    assert store.read().count() == 50  # fresh records inside the window

    # a consumer holding a 0-hour policy sees nothing (horizon == now)
    zero = StreamStore(spark, str(tmp_path / "s"), shards=2, retention_hours=0)
    assert zero.read().count() == 0

    # physical trim: 25 h later every file's newest record is expired
    n_files = len(
        [f for f in os.listdir(store._records_path) if f.endswith(".parquet")]
    )
    assert n_files > 0
    removed = store.trim_expired(
        now=datetime.now(timezone.utc) + timedelta(hours=25)
    )
    assert removed == n_files
    assert store.read().count() == 0
    # a retention-free store never trims
    free = StreamStore(spark, str(tmp_path / "s2"), shards=1)
    free.append(df)
    assert free.trim_expired() == 0


def test_mariadb_type_mapping():
    cases = {
        "INT": T.IntegerType(),
        "VARCHAR(100)": T.StringType(),
        "TINYINT UNSIGNED": T.ShortType(),
        "tinyint(1)": T.BooleanType(),
        "DECIMAL(10,2)": T.DecimalType(10, 2),
        "BOOLEAN": T.BooleanType(),
        "TIMESTAMP": T.TimestampType(),
        "DATETIME": T.TimestampType(),
        "TEXT": T.StringType(),
        "BLOB": T.BinaryType(),
        "ENUM('red','green','blue')": T.StringType(),
        "FLOAT": T.FloatType(),
        "DOUBLE": T.DoubleType(),
        "DATE": T.DateType(),
    }
    for s, t in cases.items():
        assert mariadb_type_to_spark(s) == t, s
    with pytest.raises(ValueError):
        mariadb_type_to_spark("geometry")


def test_registry_ddl_sequence(spark):
    """The reference's exact ALTER sequence (lib/query.py:59-66) applied to
    the registry, asserted like tests/test_infra.py:693-707."""
    reg = TableRegistry()
    df = spark.createDataFrame(
        [], "author_id INT, email STRING, profile_picture BINARY"
    )
    reg.register_from_df("db", "authors", df, primary_key="author_id")
    reg.apply_ddl("db", "authors", "modify-column", "email", "varchar(100)")
    reg.apply_ddl("db", "authors", "drop-column", "profile_picture")
    reg.apply_ddl("db", "authors", "add-column", "is_stock", "boolean", "true")
    d = {x["Field"]: x for x in reg.describe("db", "authors")}
    assert d["email"]["Type"] == "string"
    assert "profile_picture" not in d
    assert d["is_stock"]["Type"] == "boolean"
    assert d["is_stock"]["Default"] == "true"
    assert d["author_id"]["Key"] == "PRI"


def test_statistics_from_envelope_batch(spark):
    svc = StatisticsService()
    df = spark.createDataFrame(
        [(1, "x"), (2, "y")], "id INT, v STRING"
    )
    env = encode_data_events(df, "db", "t1", "insert", TaskSettings())
    svc.record_batch("task-a", env)
    svc.record_batch("task-a", encode_data_events(df, "db", "t1", "delete", TaskSettings()))
    svc.record_operation_counts("task-a", [("db", "a_table", "create-table", 1)])
    stats = svc.table_statistics("task-a")
    # sorted by (SchemaName, TableName) — run.py:206-208
    assert [s["TableName"] for s in stats] == ["a_table", "t1"]
    t1 = stats[1]
    assert t1["Inserts"] == 2 and t1["Deletes"] == 2 and t1["FullLoadRows"] == 0
    # task isolation
    assert svc.table_statistics("task-b") == []


def test_pk_only_before_image(spark):
    """The pk-only before-image variant noted at reference stack.py:335."""
    from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_change_batch

    batch = spark.createDataFrame(
        [
            (1, "db", "t", "update", "tx", "2024-01-01T00:00:00",
             {"id": "1", "v": "new"}, {"id": "1", "v": "old"}, None),
        ],
        "seq LONG, schema STRING, table STRING, op STRING, txn_id STRING, "
        "commit_ts STRING, data MAP<STRING,STRING>, before MAP<STRING,STRING>, "
        "ddl STRUCT<action:STRING,column:STRING,type:STRING,default:STRING>",
    )
    settings = TaskSettings(before_image=True, before_image_type="pk-only")
    out = encode_change_batch(batch, settings, {("db", "t"): "id"}).collect()
    assert out[0]["before-image"] == {"id": "1"}  # pk only, v dropped
    full = encode_change_batch(
        batch, TaskSettings(before_image=True), {("db", "t"): "id"}
    ).collect()
    assert full[0]["before-image"] == {"id": "1", "v": "old"}


def test_jsonl_and_csv_endpoints(spark, tmp_path):
    """File-format endpoints: the wire formats raw corpora arrive in.
    Explicit DDL is the production path (no inference scan); the snapshot
    encode (S1) runs over them exactly like parquet/JDBC sources."""
    import json as _json

    from sample_dms_kinesis_rds_mariadb_spark.sources.snapshot import (
        snapshot_table_events,
    )

    src = tmp_path / "drop"
    src.mkdir()
    with open(src / "docs.jsonl", "w") as f:
        for i, t in enumerate(["alpha beta", "gamma"]):
            f.write(_json.dumps({"doc_id": i, "text": t}) + "\n")
    with open(src / "ratings.csv", "w") as f:
        f.write("doc_id,stars\n0,4\n1,5\n")

    cat = SourceCatalog(spark)
    cat.register_endpoint(
        EndpointSpec(
            "corpus-drop",
            "jsonl",
            {
                "path": str(src),
                "schema_name": "raw",
                "schemas": {"docs": "doc_id LONG, text STRING"},
            },
        )
    )
    cat.register_endpoint(
        EndpointSpec(
            "ratings-drop",
            "csv",
            {
                "path": str(src),
                "schema_name": "raw",
                "schemas": {"ratings": "doc_id LONG, stars INT"},
            },
        )
    )
    # listing is metadata-only and suffix-scoped per engine
    assert cat.list_tables("corpus-drop") == [("raw", "docs")]
    assert cat.list_tables("ratings-drop") == [("raw", "ratings")]

    docs = cat.load("corpus-drop", "raw", "docs")
    assert docs.schema.simpleString() == "struct<doc_id:bigint,text:string>"
    assert sorted((r["doc_id"], r["text"]) for r in docs.collect()) == [
        (0, "alpha beta"),
        (1, "gamma"),
    ]
    ratings = cat.load("ratings-drop", "raw", "ratings")
    assert sorted((r["doc_id"], r["stars"]) for r in ratings.collect()) == [
        (0, 4),
        (1, 5),
    ]

    env = snapshot_table_events(
        spark, cat, "corpus-drop", "raw", "docs", TaskSettings(), pk_column="doc_id"
    )
    ev = [r.asDict(recursive=True) for r in env.orderBy("_order").collect()]
    assert [e["metadata"]["operation"] for e in ev] == [
        "drop-table",
        "create-table",
        "load",
        "load",
    ]
    # csv inference fallback still loads (convenience path)
    cat.register_endpoint(
        EndpointSpec("ratings-infer", "csv", {"path": str(src), "schema_name": "raw"})
    )
    inferred = cat.load("ratings-infer", "raw", "ratings")
    assert inferred.count() == 2


def test_engine_runs_a_full_load_over_a_csv_endpoint(spark, tmp_path):
    """The engine registers every endpoint its spec names: a full-load task
    over a csv endpoint streams its rows as ``load`` records, and an
    unknown engine fails when the engine is built, not when a task runs."""
    from sample_dms_kinesis_rds_mariadb_spark.engine import ReplicationEngine
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        PipelineSpec,
        SelectionRule,
        TaskSpec,
    )

    src = tmp_path / "drop"
    src.mkdir()
    (src / "ratings.csv").write_text("doc_id,stars\n0,4\n1,5\n")
    endpoint = EndpointSpec(
        "ratings-drop",
        "csv",
        {
            "path": str(src),
            "schema_name": "raw",
            "schemas": {"ratings": "doc_id LONG, stars INT"},
        },
    )
    task = TaskSpec("load-ratings", "ratings-drop", "full-load", [SelectionRule("raw", "%")])
    eng = ReplicationEngine(
        spark, PipelineSpec([endpoint], [task]), str(tmp_path / "work")
    )
    eng.start_task("load-ratings")
    eng.wait_for_task_status("load-ratings", "stopped")
    loads = [e for e in eng.consume() if e["metadata"]["operation"] == "load"]
    assert sorted((e["data"]["doc_id"], e["data"]["stars"]) for e in loads) == [
        ("0", "4"),
        ("1", "5"),
    ]

    xml = EndpointSpec("x", "xml", {})
    with pytest.raises(ValueError, match="unsupported"):
        ReplicationEngine(
            spark, PipelineSpec([xml], []), str(tmp_path / "work-xml")
        )


def test_unsupported_endpoint_engine_rejected(spark):
    cat = SourceCatalog(spark)
    # (avro graduated to a supported engine in r12 via the spec-derived
    # pure-Python OCF reader — sources/avro.py)
    with pytest.raises(ValueError, match="unsupported"):
        cat.register_endpoint(EndpointSpec("x", "xml", {}))


def test_orc_endpoint(spark, tmp_path):
    """ORC endpoint: Spark-builtin columnar alternative to parquet — same
    <table>.orc directory layout, listing is metadata-only, and the scan
    keeps pushdown/pruning (asserted via PushedFilters in the plan)."""
    src = tmp_path / "orcdrop"
    src.mkdir()
    spark.createDataFrame(
        [(1, "alpha", 10), (2, "beta", 20), (3, "gamma", 30)],
        "doc_id LONG, text STRING, score LONG",
    ).write.orc(str(src / "docs.orc"))

    cat = SourceCatalog(spark)
    cat.register_endpoint(
        EndpointSpec(
            "orc-drop", "orc", {"path": str(src), "schema_name": "raw"}
        )
    )
    assert cat.list_tables("orc-drop") == [("raw", "docs")]
    df = cat.load("orc-drop", "raw", "docs")
    assert {r["doc_id"] for r in df.collect()} == {1, 2, 3}
    # columnar scan characteristics survive: filter pushes to the ORC reader
    plan = (
        df.filter("score > 15")
        .select("doc_id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(score), GreaterThan(score,15)]" in plan


def test_observed_metrics_reads_an_elided_node_as_zero_rows(spark):
    """An empty local relation under a join lets the optimizer elide an
    observe()'s CollectMetrics node (empty-relation propagation); the shared
    helper then returns no metrics, which every caller reads as zero rows,
    instead of raising."""
    from pyspark.sql import Observation

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import (
        observed_metrics,
    )

    obs = Observation()
    empty = spark.createDataFrame([], "id LONG").observe(obs, F.count("*").alias("n"))
    assert empty.join(spark.range(3), "id", "full_outer").count() == 3
    metrics = observed_metrics(obs)
    assert metrics == {}
    assert metrics.get("n", 0) == 0

    obs = Observation()
    rows = spark.range(3).observe(obs, F.count("*").alias("n"))
    assert rows.count() == 3
    assert observed_metrics(obs) == {"n": 3}
