"""Physical-plan checks: the scale properties the engine promises must be
visible in `.explain()` — filter pushdown to parquet, broadcast joins for
dimensions, whole-stage codegen in the hot path (SURVEY §4)."""

import pytest

from sample_dms_kinesis_rds_mariadb_spark.plans.queries import QUERIES
import sample_dms_kinesis_rds_mariadb_spark.plans.llm_queries  # noqa: F401

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    import contextlib
    import io

    df = QUERIES[name].spark_fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_parquet(spark):
    plan = _plan(spark, "q1_pricing_summary")
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "LessThanOrEqual(l_shipdate" in plan


def test_projection_prunes_columns(spark):
    plan = _plan(spark, "projection_filter")
    # ReadSchema must not include unprojected columns like c_nationkey
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "c_nationkey" not in read_schema[0]


def test_q3_broadcasts_dimension(spark):
    plan = _plan(spark, "q3_shipping_priority")
    assert "BroadcastHashJoin" in plan


def test_q5_broadcasts_all_dims(spark):
    plan = _plan(spark, "q5_region_volume")
    assert plan.count("BroadcastHashJoin") >= 3


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "multi_key_sort")
    assert "TakeOrderedAndProject" in plan


def test_codegen_in_agg_path(spark):
    import contextlib
    import io

    # AQE prints isFinalPlan=false before execution; run the query first so
    # the final plan (with codegen stages) is inspectable
    df = QUERIES["q1_pricing_summary"].spark_fn(spark, SF)
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "[codegen id :" in plan
    assert "== Final Plan ==" in plan


def test_no_cartesian_anywhere(spark):
    for name, spec in QUERIES.items():
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_semi_anti_join_operators(spark):
    assert "LeftSemi" in _plan(spark, "semi_join_exists")
    assert "LeftAnti" in _plan(spark, "anti_join_not_exists")


def test_shard_iterator_pushes_sequence_filter(spark, tmp_path):
    """An iterator resumed at a sequence checkpoint must push the
    sequence_number (and shard_id) predicates into the parquet scan — the
    mechanism that makes tail reads O(unread suffix)."""
    import contextlib
    import io

    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore

    store = StreamStore(spark, str(tmp_path / "s"), shards=4)
    store.append(
        spark.createDataFrame(
            [('{"data":{}}', f"k{i}") for i in range(16)],
            "Data STRING, PartitionKey STRING",
        )
    )
    it = store.get_shard_iterator(2, "AT_SEQUENCE_NUMBER", starting_sequence_number=3)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        it.read().explain("formatted")
    plan = buf.getvalue()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(sequence_number,3)" in plan
    assert "EqualTo(shard_id,2)" in plan


def test_corpus_split_is_single_scan(spark):
    """The split must label rows in one pass — unioning the two filtered
    split frames would scan the corpus twice (2x IO at 100 TB)."""
    plan = _plan(spark, "corpus_split")
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1


def test_asof_catalog_query_has_no_join(spark):
    plan = _plan(spark, "asof_join_enrich")
    assert "Join" not in plan  # union + window formulation


def test_range_catalog_query_never_nested_loop(spark):
    plan = _plan(spark, "range_join_incidents")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_session_windows_single_scan_no_join(spark):
    plan = _plan(spark, "session_windows")
    import re

    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert "Join" not in plan


def test_winnowing_fingerprints_no_shuffle(spark):
    """Fingerprint selection happens in array space — the operator must be
    a narrow map over the documents scan: zero Exchange, zero Window, zero
    Sort. (A per-document window formulation would shuffle O(total chars)
    rows at 100 TB.)"""
    import contextlib
    import io

    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        winnowing_fingerprints,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    df = winnowing_fingerprints(docs, "doc_id", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan
    assert "Window" not in plan
    assert "Sort" not in plan


def test_widen_small_input(spark, tmp_path):
    from sample_dms_kinesis_rds_mariadb_spark.session import widen_small_input

    # single-file source -> spread to the session's parallelism
    p1 = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(p1)
    one = spark.read.parquet(p1)
    widened = widen_small_input(one)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    assert widened.count() == 100
    # many-file source at/above the target -> untouched (no extra shuffle)
    target = 4
    p2 = str(tmp_path / "many")
    spark.range(100).repartition(target).write.parquet(p2)
    many = spark.read.parquet(p2)
    assert widen_small_input(many, min_splits=target) is many
    # in-memory frames (no file listing) are treated as small
    mem = spark.range(10)
    assert widen_small_input(mem, min_splits=2).rdd.getNumPartitions() == 2


def test_semantic_dedup_plan_shape(spark):
    """The SemDeDup catalog query must stay join-free in its pair stage:
    no nested-loop/cartesian anywhere, and no Python evaluation at all:
    the pair cosine is the JVM fold."""
    from sample_dms_kinesis_rds_mariadb_spark.plans.queries import QUERIES

    df = QUERIES["semantic_dedup"].spark_fn(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    for node in ("BatchEvalPython", "MapInPandas"):
        assert node not in plan, node
    assert plan.count("ArrowEvalPython") == 0, plan


def test_decontaminate_bloom_plan_shape(spark):
    """The Bloom path's scale promises must be visible in the plan: the
    corpus probe is Arrow-batched (never row-at-a-time Python), and the
    exact-verify gram join honors its shuffle_hash hint — the benchmark
    gram frame must NOT ride a broadcast (avoiding that broadcast is the
    operator's entire reason to exist)."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        decontaminate_bloom,
    )
    from sample_dms_kinesis_rds_mariadb_spark.plans.queries import load_table

    docs = load_table(spark, SF, "documents")
    bench = docs.filter(F.col("doc_id") < 5).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    # materialize=False keeps the Bloom probe in the plan (the default
    # eagerly pins the flagged frame, so the probe has already run by the
    # time a consumer explains — the plan then shows no Python at all)
    out = decontaminate_bloom(
        docs, bench, "doc_id", "text",
        bench_id_col="bid", bench_text_col="btext", n=13,
        materialize=False,
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan
    assert "ShuffledHashJoin" in plan


def test_quality_gates_single_scan_no_python(spark):
    """The three published quality gates (Gopher rules, C4 rules, full
    Gopher repetition table) must each be a narrow projection over the
    documents scan: zero Exchange, zero Python eval (Batch or Arrow), zero
    Window — at 100 TB they cost exactly one pass over the corpus."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        c4_quality_flags,
        gopher_quality_flags,
        gopher_repetition_flags,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for fn in (gopher_quality_flags, c4_quality_flags, gopher_repetition_flags):
        flags = fn(F.col("text"))
        df = docs.select("doc_id", *[c.alias(k) for k, c in flags.items()])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, fn.__name__
        assert "EvalPython" not in plan, fn.__name__
        assert "Window" not in plan, fn.__name__

def test_quality_gate_projections_codegen_contract(spark):
    """VERDICT r7 item 3: gopher_repetition_flags builds 11 array
    sort+fold aggregates in one projection — the worry was a silent
    huge-method codegen fallback turning the gate into a per-row
    interpreter at 100 TB. Investigation result (documented here as the
    asserted contract): Spark's higher-order array functions
    (transform/filter/aggregate lambdas) are CodegenFallback BY DESIGN —
    any projection containing one is excluded from WholeStageCodegen no
    matter how small, so "split into two projections" cannot help. What
    the gates DO guarantee, and what this test pins:

    1. runtime survives spark.sql.codegen.factoryMode=CODEGEN_ONLY — the
       projection factory codegens; per-expression interpretation happens
       only inside Spark's own HOF eval, never via a compile failure;
    2. the ONLY codegen exclusion cause present is a higher-order lambda
       (plan contains `lambdafunction`) — an accidental giant-method or
       unsupported-expression fallback in a future edit would trip the
       control assertion below;
    3. a lambda-free projection of the same shape DOES get a WholeStage
       codegen id — proving the detection machinery actually detects.
    """
    import contextlib
    import io

    from pyspark.sql import functions as F

    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        c4_quality_flags,
        gopher_quality_flags,
        gopher_repetition_flags,
    )

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    def project_has_codegen_id(plan: str) -> bool:
        return any(
            "codegen id" in ln
            for ln in plan.splitlines()
            if ln.strip().startswith("(") and "Project" in ln
        )

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    synth = spark.createDataFrame(
        [
            ("s1", "la " * 500),
            ("s2", "\n".join(["same line"] * 40)),
            ("s3", "\n\n".join(["para one", "para one", "para two"] * 10)),
            ("s4", ""),
            ("s5", None),
        ],
        "doc_id string, text string",
    )
    base = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "text").unionByName(synth)
    # plan probes run on a plain scan: AQE wraps union plans in an
    # AdaptiveSparkPlan whose formatted explain omits codegen ids until
    # the final plan materializes
    scan = spark.read.parquet(f"{SF}/documents.parquet")

    # control: a lambda-free projection whole-stage-codegens — the
    # "codegen id" probe is live, not vacuous
    control = scan.select(
        "doc_id", F.length(F.regexp_replace("text", r"\s+", " ")).alias("n")
    )
    assert project_has_codegen_id(plan_of(control))

    prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try:
        for fn in (gopher_quality_flags, c4_quality_flags, gopher_repetition_flags):
            flags = fn(F.col("text"))
            df = base.select("doc_id", *[c.alias(k) for k, c in flags.items()])
            # CODEGEN_ONLY: a factory compile failure raises instead of
            # silently degrading — execute to completion
            assert df.count() == base.count(), fn.__name__

            plan = plan_of(
                scan.select("doc_id", *[c.alias(k) for k, c in flags.items()])
            )
            if not project_has_codegen_id(plan):
                # exclusion must be attributable to the documented HOF
                # limitation, nothing else
                assert "lambdafunction" in plan, (fn.__name__, plan[:2000])
    finally:
        spark.conf.set("spark.sql.codegen.factoryMode", prev)
