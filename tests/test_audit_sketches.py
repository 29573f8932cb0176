"""One-pass audited filter funnels and table/corpus profiles."""

import pytest

from tests.conftest import await_finished
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.operators.audit import (
    audited_filter,
    funnel_report,
)
from sample_dms_kinesis_rds_mariadb_spark.plans.queries import load_table

SF = "/root/testdata/sf0.001"


def test_audited_filter_funnel_counts_exact(spark):
    li = load_table(spark, SF, "lineitem")
    n = li.count()
    gates = {
        "qty": F.col("l_quantity") > 10,
        "price": F.col("l_extendedprice") < 50000,
        "flag": F.col("l_returnflag") != "R",
    }
    out, obs = audited_filter(li, gates)
    survivors = out.count()  # the one action; metrics ride it
    report = dict(funnel_report(obs))
    # exact cross-check with per-stage counts
    assert report["input_rows"] == n
    c1 = li.filter(gates["qty"]).count()
    c2 = li.filter(gates["qty"] & gates["price"]).count()
    c3 = li.filter(gates["qty"] & gates["price"] & gates["flag"]).count()
    assert report["after_qty"] == c1
    assert report["after_price"] == c2
    assert report["after_flag"] == c3 == survivors
    # funnel is monotone by construction
    vals = [v for _k, v in funnel_report(obs)]
    assert vals == sorted(vals, reverse=True)


def test_audited_filter_null_condition_counts_as_failed(spark):
    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 20)], "id int, v int"
    )
    out, obs = audited_filter(df, {"v_big": F.col("v") > 10})
    assert [r["id"] for r in out.collect()] == [3]
    assert dict(funnel_report(obs)) == {"input_rows": 3, "after_v_big": 1}


def test_audited_filter_requires_gates(spark):
    df = spark.range(3)
    with pytest.raises(ValueError, match="gates"):
        audited_filter(df, {})


def test_audited_filter_empty_input_reports_zeros(spark):
    """count(when) not sum(when): an empty frame must report a 0-funnel,
    not NULL metrics that crash the report."""
    df = spark.range(10).filter("id < 0")
    out, obs = audited_filter(df, {"pos": F.col("id") > 5})
    assert out.count() == 0
    assert dict(funnel_report(obs)) == {"input_rows": 0, "after_pos": 0}


def test_observed_gates_streaming_funnel(spark, tmp_path):
    """Streaming dual: the funnel of each micro-batch arrives in that
    trigger's progress event — per-trigger drop accounting with zero extra
    jobs on a live stream."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.audit import (
        observed_gates,
        streaming_funnel,
    )

    src = str(tmp_path / "src")
    df = spark.range(100).withColumn("v", F.col("id") % 10)
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("id long, v long").parquet(src)
    gated = observed_gates(
        stream, {"v_small": F.col("v") < 5, "id_low": F.col("id") < 50}
    )
    q = (
        gated.writeStream.format("memory")
        .queryName("funnel_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_finished(q)
    got = streaming_funnel(q)
    assert got == {"input_rows": 100, "after_v_small": 50, "after_id_low": 25}
    assert spark.sql("SELECT count(*) n FROM funnel_sink").first()["n"] == 25


def test_describe_corpus_summary_and_mix(spark):
    """Corpus profile: exact fields cross-checked against direct
    computations; duplicate-rate estimate within HLL error of truth."""
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        langid_heuristic,
        quality_columns,
    )
    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import (
        describe_corpus,
    )

    docs = load_table(spark, SF, "documents")
    # make real duplicates: 100 rows repeat an earlier text (ordered limit:
    # the frame is recomputed per action, so an unordered limit could pick
    # different rows across the cross-check jobs)
    dup = docs.orderBy("doc_id").limit(100).withColumn(
        "doc_id", F.col("doc_id") + 100000
    )
    corpus = docs.unionByName(dup)

    summary_df, lang_mix_df = describe_corpus(corpus, "text")
    s = summary_df.first()
    n = corpus.count()
    assert s["n_docs"] == n
    qcols = quality_columns(F.col("text"))
    direct_tokens = corpus.agg(F.sum(qcols["n_tokens"])).first()[0]
    assert s["n_tokens_total"] == direct_tokens
    direct_quality = corpus.filter(qcols["is_quality"]).count() / n
    assert abs(s["quality_share"] - direct_quality) < 1e-9
    exact_distinct = (
        corpus.select(
            F.md5(F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " "))))
        ).distinct().count()
    )
    assert abs(s["approx_distinct_docs"] - exact_distinct) / exact_distinct < 0.05
    assert 0.0 < s["dup_rate_est"] < 0.5  # ~100/600 injected dupes
    # quantiles are plausible rank stats: monotone, within observed range
    tq = s["token_quantiles"]
    assert list(tq) == sorted(tq)

    mix = {r["lang"]: r["n"] for r in lang_mix_df.collect()}
    direct_mix = {
        r["lang"]: r["n"]
        for r in corpus.groupBy(langid_heuristic(F.col("text")).alias("lang"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert mix == direct_mix
    assert abs(sum(r["share"] for r in lang_mix_df.collect()) - 1.0) < 1e-9


def test_describe_corpus_null_text_accounting(spark):
    """NULL-text docs fail the quality gate (they don't vanish from the
    denominator) and are never reported as duplicates."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import (
        describe_corpus,
    )

    rows = [(1, "a good document with plenty of words in it for the gate, "
                "long enough to pass every quality threshold easily today"),
            (2, None), (3, None), (4, "short"),]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    s = describe_corpus(df, "text")[0].first()
    assert s["n_docs"] == 4 and s["n_null_text"] == 2
    assert abs(s["quality_share"] - 0.25) < 1e-9  # 1 of ALL 4 docs
    assert s["dup_rate_est"] == 0.0  # 2 distinct non-null, no dupes

    empty = describe_corpus(df.filter("doc_id < 0"), "text")[0].first()
    assert empty["n_docs"] == 0
    assert empty["quality_share"] == 0.0 and empty["dup_rate_est"] == 0.0


def test_profile_table_one_pass_exact_fields(spark):
    """profile_table: per-column stats match direct computation; whole
    profile is ONE aggregate job (single scan in the plan); complex types
    profile nulls/distinct via their JSON image."""
    import contextlib
    import io
    import re

    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [
            (1, "a", 10.0, [1, 2]),
            (2, "b", None, [3]),
            (3, None, 30.0, None),
            (4, "b", 20.0, [1, 2]),
        ],
        "id long, s string, x double, arr array<int>",
    )
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert set(prof) == {"id", "s", "x", "arr"}
    for c in prof:
        assert prof[c]["n_rows"] == 4
    assert prof["s"]["n_nulls"] == 1 and prof["s"]["null_frac"] == 0.25
    assert prof["x"]["n_nulls"] == 1
    assert prof["arr"]["n_nulls"] == 1
    assert prof["id"]["min"] == "1" and prof["id"]["max"] == "4"
    assert prof["s"]["min"] == "a" and prof["s"]["max"] == "b"
    assert prof["x"]["mean"] == pytest.approx(20.0)
    assert prof["s"]["mean"] is None and prof["arr"]["mean"] is None
    assert prof["arr"]["min"] is None  # complex: no order stats
    # distinct estimates exact at this cardinality (HLL far below error)
    assert prof["id"]["approx_distinct"] == 4
    assert prof["s"]["approx_distinct"] == 2
    assert prof["arr"]["approx_distinct"] == 2  # [1,2] repeats

    plan_buf = io.StringIO()
    with contextlib.redirect_stdout(plan_buf):
        profile_table(df.select("id", "s")).explain("formatted")
    plan = plan_buf.getvalue()
    # one aggregate pass: a single scan feeds the whole profile
    assert len(re.findall(r"^\(\d+\) Scan", plan, re.M)) == 1

    with pytest.raises(ValueError, match="unknown columns"):
        profile_table(df, columns=["nope"])


def test_profile_table_empty_input(spark):
    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import profile_table

    df = spark.createDataFrame([], "id long, s string")
    prof = {r["column"]: r for r in profile_table(df).collect()}
    assert prof["id"]["n_rows"] == 0 and prof["id"]["null_frac"] == 0.0
    assert prof["s"]["min"] is None


def test_audited_filter_composes_in_one_plan(spark):
    """Two funnels composed into one action must not collide on the
    observation name (regression: a fixed name threw
    DUPLICATED_METRICS_NAME at analysis time)."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.audit import (
        audited_filter,
        funnel_report,
    )

    df = spark.range(100).withColumn("v", F.col("id") % 10)
    f1, o1 = audited_filter(df, {"low": F.col("v") < 8})
    f2, o2 = audited_filter(f1, {"even": F.col("v") % 2 == 0})
    assert f2.count() == 40
    assert funnel_report(o1) == [("input_rows", 100), ("after_low", 80)]
    assert funnel_report(o2) == [("input_rows", 80), ("after_even", 40)]


def test_write_data_card_roundtrip(spark, tmp_path):
    import json

    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import (
        write_data_card,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and runs far away today"),
        (2, "the quick brown fox jumps over the lazy dog and runs far away today"),
        (3, None),
        (4, "el rio mas largo la montana los valles y la costa del mar azul aqui"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    path = str(tmp_path / "cards" / "corpus.json")
    card = write_data_card(
        df, path, name="unit-corpus", extra={"rev": "abc123"}
    )
    on_disk = json.load(open(path))
    assert on_disk == card
    assert card["name"] == "unit-corpus" and card["extra"] == {"rev": "abc123"}
    assert card["n_docs"] == 4 and card["n_null_text"] == 1
    assert card["dup_rate_est"] > 0         # the verbatim duplicate shows up
    assert set(card["lang_mix"]) >= {"en", "es"}
    assert 0.0 <= card["quality_share"] <= 1.0
    assert len(card["token_quantiles"]) == 4
