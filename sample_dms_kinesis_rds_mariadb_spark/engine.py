"""ReplicationEngine — the driver-facing facade (SURVEY §3).

One object plays the role of the reference's whole control plane: the CDK
stack compile (dms_sample/stack.py → PipelineSpec, SURVEY §3.3), the DMS task
APIs (start/stop/status/statistics — run.py:140-165, 202-209) and the Kinesis
consumer (run.py:168-199). All on a single SparkSession; tasks are batch jobs
or StreamingQueries, the target stream is a StreamStore, replicated tables
are materialized parquet registered as SQL views.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession

from sample_dms_kinesis_rds_mariadb_spark.catalog import SourceCatalog
from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import (
    StreamStore,
    observed_metrics,
)
from sample_dms_kinesis_rds_mariadb_spark.sources.changefeed import ChangeFeed
from sample_dms_kinesis_rds_mariadb_spark.spec import PipelineSpec
from sample_dms_kinesis_rds_mariadb_spark.streaming.apply import TableMaterializer
from sample_dms_kinesis_rds_mariadb_spark.streaming.schema_evolution import TableRegistry
from sample_dms_kinesis_rds_mariadb_spark.streaming.statistics import StatisticsService
from sample_dms_kinesis_rds_mariadb_spark.streaming.task import ReplicationTask


class ReplicationEngine:
    def __init__(self, spark: SparkSession, spec: PipelineSpec, workdir: str) -> None:
        self.spark = spark
        self.spec = spec
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)

        self.catalog = SourceCatalog(spark)
        self.registry = TableRegistry()
        self.stats = StatisticsService()
        self.store = StreamStore(
            spark,
            os.path.join(workdir, "stream"),
            spec.shards,
            retention_hours=spec.retention_hours,
        )
        self.materializer = TableMaterializer(
            spark, self.registry, os.path.join(workdir, "tables")
        )
        self._feeds: dict[str, ChangeFeed] = {}
        # (materializer.state_version, registry.version) behind the
        # currently registered SQL views — see query()
        self._views_version: tuple[int, int] | None = None

        for ep in spec.endpoints:
            self.catalog.register_endpoint(ep)
            if "changefeed_path" in ep.options:
                self._feeds[ep.name] = ChangeFeed(spark, ep.options["changefeed_path"])

        self.tasks: dict[str, ReplicationTask] = {}
        for t in spec.tasks:
            ep = spec.endpoint(t.source)
            self.tasks[t.task_id] = ReplicationTask(
                spark,
                t,
                self.catalog,
                self.store,
                self.stats,
                self.registry,
                materializer=self.materializer,
                changefeed=self._feeds.get(t.source),
                default_schema=ep.options.get("schema_name", "main"),
            )

    # -- source-side helpers -------------------------------------------------
    def changefeed(self, endpoint: str) -> ChangeFeed:
        return self._feeds[endpoint]

    def register_table(
        self,
        endpoint: str,
        schema_name: str,
        table_name: str,
        df: DataFrame,
        primary_key: str | None = None,
        defaults: dict[str, str] | None = None,
    ) -> None:
        """Seed a source table (the analog of the reference's
        ``run_queries_on_mysql`` CREATE+INSERT seeding, run.py:89-112)."""
        self.catalog.register_memory_table(endpoint, schema_name, table_name, df)
        self.registry.register_from_df(
            schema_name, table_name, df, primary_key=primary_key, defaults=defaults
        )

    def drop_table(self, endpoint: str, schema_name: str, table_name: str) -> None:
        self.catalog.drop_memory_table(endpoint, schema_name, table_name)
        self.registry.drop(schema_name, table_name)

    # -- task APIs (run.py:140-165) -------------------------------------------
    def start_task(self, task_id: str) -> None:
        self.tasks[task_id].start()

    def stop_task(self, task_id: str) -> None:
        self.tasks[task_id].stop()

    def task_status(self, task_id: str) -> str:
        t = self.tasks[task_id]
        t._refresh_status()  # a dead query must not report running forever
        return t.status

    def wait_for_task_status(
        self, task_id: str, status: str, retries: int = 240, sleep: float = 0.5
    ) -> None:
        self.tasks[task_id].wait_for_status(status, retries=retries, sleep=sleep)

    def describe_table(self, schema_name: str, table_name: str) -> list[dict]:
        """DESCRIBE-equivalent rows (SURVEY §2.1 S6; the analog of the
        reference's ``get_table_schemas``, tests/test_infra.py:270-282)."""
        return self.registry.describe(schema_name, table_name)

    # -- statistics (run.py:202-209) -------------------------------------------
    def describe_table_statistics(self, task_id: str) -> list[dict]:
        return self.stats.table_statistics(task_id)

    def table_statistics_df(self, task_id: str) -> DataFrame:
        return self.stats.table_statistics_df(self.spark, task_id)

    # -- consumer (run.py:168-199) ----------------------------------------------
    def consume(
        self,
        after_ts: float | None = None,
        expected_count: int | None = None,
        retries: int = 240,
        sleep: float = 0.5,
    ) -> list[dict]:
        """Poll the stream until ≥ expected_count records arrive after
        ``after_ts`` (wait_for_kinesis, run.py:168-199), returning parsed
        envelope dicts in arrival order.

        Polling runs a COUNT on the pruned record scan (no JSON parse, no
        row materialization — the arrival-ts filter pushes down to parquet);
        the full envelope collect happens exactly once, after the count
        threshold is met. Intended for bounded test/verification reads — a
        production consumer tails ``store.read_stream()`` instead of
        polling batch reads."""
        if expected_count is None:
            return self.store.consume(after_ts)
        seen = 0
        for _ in range(retries):
            seen = self.store.read(after_ts).count()
            if seen >= expected_count:
                return self.store.consume(after_ts)
            time.sleep(sleep)
        raise TimeoutError(
            f"expected {expected_count} records, saw {seen}"
        )

    def get_shard_iterator(
        self,
        shard_id: int = 0,
        iterator_type: str = "TRIM_HORIZON",
        starting_sequence_number: int | None = None,
        timestamp: float | None = None,
    ):
        """Kinesis ``GetShardIterator`` analog over the target stream — see
        :meth:`StreamStore.get_shard_iterator` for the iterator types."""
        return self.store.get_shard_iterator(
            shard_id=shard_id,
            iterator_type=iterator_type,
            starting_sequence_number=starting_sequence_number,
            timestamp=timestamp,
        )

    # -- validation (DMS table validation analog) -------------------------------
    def validate_table(self, endpoint: str, schema_name: str, table_name: str) -> dict:
        """DMS-style table validation: compare the SOURCE table against the
        replicated/materialized TARGET — row counts, an order-independent
        content checksum, and the number of PK-mismatched rows.

        Scale shape: one execution reads each side once. The mismatch probe
        is one hash join on the PK; each side's row count and xxhash64
        checksum fold ride its scan as ``observe()`` metrics.
        Returns ``{"ValidationState": "Validated" | "Mismatched records",
        "SourceRows": n, "TargetRows": m, "MismatchedRows": k}`` — the
        fields DMS surfaces in table statistics when validation is enabled.
        """
        from pyspark.sql import functions as F

        tdef = self.registry.get(schema_name, table_name)
        pk = tdef.primary_key
        if pk is None:
            raise ValueError(
                f"{schema_name}.{table_name} has no primary key; validation "
                "compares rows BY KEY — register the table with primary_key"
            )
        src = self.catalog.load(endpoint, schema_name, table_name)
        tgt = self.materializer.table(schema_name, table_name)

        def canonical(df: DataFrame):
            cols = sorted(df.columns)
            # null-safe canonical row string: concat_ws silently drops nulls,
            # which would make (NULL,'x') collide with ('x',NULL)
            parts = [
                F.coalesce(F.col(c).cast("string"), F.lit("\x00NULL")) for c in cols
            ]
            return df.select(
                F.col(pk).cast("string").alias("_pk"),
                F.xxhash64(F.concat_ws("\x01", *parts)).alias("_rowhash"),
            )

        # order-independent fold: XOR, not SUM — xxhash64 spans the full
        # signed-64 range, so a running SUM exits int64 almost surely once
        # row counts are non-trivial and throws ARITHMETIC_OVERFLOW under
        # the session's ANSI mode. XOR never overflows, stays a map-side
        # partial aggregate, and rows are distinct per PK (the hash covers
        # every column incl. the key), so XOR self-cancellation needs a
        # genuine duplicate row — impossible here.
        agg = [
            F.count("*").alias("n"),
            F.expr("bit_xor(_rowhash)").alias("checksum"),
        ]
        # the per-side row count and checksum ride the join's scans as
        # observe() metrics, counted before the join so a duplicate key
        # never fans them out: one execution reads each side once
        s_obs, t_obs = Observation(), Observation()
        s = canonical(src).observe(s_obs, *agg)
        t = canonical(tgt).observe(t_obs, *agg)
        mismatched = (
            s.join(t, "_pk", "full_outer")
            .filter(
                s["_rowhash"].isNull()
                | t["_rowhash"].isNull()
                | (s["_rowhash"] != t["_rowhash"])
            )
            .count()
        )
        # an elided side (empty relation) reads as the empty aggregate
        s_stats, t_stats = observed_metrics(s_obs), observed_metrics(t_obs)
        s_n, t_n = s_stats.get("n", 0), t_stats.get("n", 0)
        state = (
            "Validated"
            if mismatched == 0 and s_n == t_n
            and s_stats.get("checksum") == t_stats.get("checksum")
            else "Mismatched records"
        )
        return {
            "SchemaName": schema_name,
            "TableName": table_name,
            "ValidationState": state,
            "SourceRows": s_n,
            "TargetRows": t_n,
            "MismatchedRows": mismatched,
        }

    # -- query surface (S4; SURVEY §7 M5) ---------------------------------------
    def refresh_views(self) -> None:
        for schema_name, table_name in self.registry.tables():
            if self.materializer.exists(schema_name, table_name):
                self.materializer.register_view(schema_name, table_name)

    def query(self, sql: str) -> DataFrame:
        """Ad-hoc SQL over replicated/materialized tables — the analog of
        ``get_query_result`` (run.py:115-137), generalized to full Spark SQL.

        View registration is VERSIONED: views rebuild only when the
        materializer published/truncated/restored state or the registry's
        schemas changed since the last query — the common repeated-query
        case skips the per-table plan reconstruction entirely.
        """
        version = (self.materializer.state_version, self.registry.version)
        if version != self._views_version:
            self.refresh_views()
            self._views_version = version
        return self.spark.sql(sql)

    def query_result(self, sql: str) -> list[dict]:
        return [r.asDict(recursive=True) for r in self.query(sql).collect()]
