"""Arrow cosine kernels (r14, guide §4.2): bit-parity with the
interpreted JVM folds on every reachable corner — plain vectors, zero
vectors, NULL vectors, NULL elements, length mismatches, empty arrays —
plus the dispatch gate itself (dim threshold, module toggle). The pair
operators stay on the JVM fold; their values are checked bit for bit
against a sequential-fold reference."""

from __future__ import annotations

import math
import struct

import pytest
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions import vectors as vec
from sample_dms_kinesis_rds_mariadb_spark.operators import similarity


def _bits(x):
    """Exact float64 identity (NaN-safe, -0.0-distinguishing)."""
    if x is None:
        return None
    return struct.pack("<d", float(x))


DIM = 32
CORNER_VECS = [
    (0, [float(i % 7) - 3.0 + 0.125 * i for i in range(DIM)]),
    (1, [0.0] * DIM),                       # zero norm -> NULL sim
    (2, None),                              # NULL vector -> NULL sim
    (3, [1e-160] * DIM),                    # tiny but nonzero norm
    (4, [float(i) for i in range(DIM - 1)]),  # length mismatch -> NULL
    (5, []),                                # empty -> zero norm -> NULL
    (6, [1.0] * (DIM // 2) + [None] * (DIM // 2)),  # NULL element -> NULL
    (7, [math.pi * (i + 1) for i in range(DIM)]),
]
PROBE = [math.sqrt(i + 2.0) * (-1.0 if i % 3 else 1.0) for i in range(DIM)]


def _corner_df(spark):
    return spark.createDataFrame(
        CORNER_VECS, "vec_id long, embedding array<double>"
    )


def test_probe_cosine_kernel_parity(spark, monkeypatch):
    """probe_cosine_arrow_udf vs the cosine_similarity fold, bit-exact
    per row (the embedding_topk_cosine / IVF-probe / LSH-probe path)."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    arrow = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", similarity._probe_sim(df, "embedding", PROBE).alias("s")
        ).collect()
    }
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    jvm = {
        r["vec_id"]: r["s"]
        for r in df.select(
            "vec_id", similarity._probe_sim(df, "embedding", PROBE).alias("s")
        ).collect()
    }
    assert set(arrow) == set(jvm)
    for k in jvm:
        assert _bits(arrow[k]) == _bits(jvm[k]), (k, arrow[k], jvm[k])
    # corners actually exercise the contract
    assert jvm[1] is None and jvm[2] is None and jvm[4] is None
    assert jvm[5] is None and jvm[6] is None
    assert jvm[0] is not None and jvm[3] is not None


def test_probe_cosine_zero_probe_is_all_null(spark, monkeypatch):
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    rows = df.select(
        similarity._probe_sim(df, "embedding", [0.0] * DIM).alias("s")
    ).collect()
    assert all(r["s"] is None for r in rows)


def _ref_dot(a, b):
    """The JVM ``dot`` fold restated: zip_with pads a length mismatch
    with NULL, and a NULL product makes the whole fold NULL."""
    if a is None or b is None or len(a) != len(b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def _ref_cosine(a, b):
    """``cosine_similarity`` restated in the same left-to-right IEEE-754
    op sequence, so the JVM result must match it bit for bit."""
    d, aa, bb = _ref_dot(a, b), _ref_dot(a, a), _ref_dot(b, b)
    if d is None or aa is None or bb is None:
        return None
    na, nb = math.sqrt(aa), math.sqrt(bb)
    if not (na > 0 and nb > 0):
        return None
    return d / (na * nb)


def test_pair_dot_kernel_parity_semantic_dedup(spark):
    """semantic_dedup_pairs' pair fold (staged norms, one dot per pair)
    vs the sequential-fold reference: bit-identical cosine_sim on every
    emitted pair (the SemDeDup quadratic path)."""
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(80)
    ]
    # plant near-dups so the threshold cut is non-trivial
    for i in range(0, 80, 9):
        rows[i] = (i, [x * 1.000001 for x in rows[(i + 9) % 80][1]])
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [rows[j][1] for j in (5, 23, 41, 59)]
    vecs = dict(rows)

    got = similarity.semantic_dedup_pairs(
        df, threshold=0.4, centroids=cents
    ).collect()
    assert len(got) > 0
    for r in got:
        want = _ref_cosine(vecs[r["id_a"]], vecs[r["id_b"]])
        assert _bits(r["cosine_sim"]) == _bits(want), (r, want)
        assert r["cosine_sim"] >= 0.4


def test_pair_cosine_kernel_parity_lsh_knn_join(spark):
    """lsh_knn_join (the dim-aware batched kNN) vs the sequential-fold
    reference: bit-identical cosine_sim per (probe, vector) row, incl.
    the NULL/zero/mismatch corners on the corpus side, and ranks that
    follow the similarity order."""
    corpus = _corner_df(spark)
    probe_rows = [(100, PROBE), (101, [1.0] * DIM)]
    probes = spark.createDataFrame(
        probe_rows, "probe_id long, embedding array<double>"
    )
    vecs, pvecs = dict(CORNER_VECS), dict(probe_rows)

    got = similarity.lsh_knn_join(
        corpus, probes, k=5, n_planes=2, dim=DIM
    ).collect()
    assert any(r["cosine_sim"] is not None for r in got)
    by_probe = {}
    for r in got:
        want = _ref_cosine(vecs[r["vec_id"]], pvecs[r["probe_id"]])
        assert _bits(r["cosine_sim"]) == _bits(want), (r, want)
        by_probe.setdefault(r["probe_id"], []).append(r)
    for rs in by_probe.values():
        rs.sort(key=lambda r: r["rank"])
        sims = [r["cosine_sim"] for r in rs if r["cosine_sim"] is not None]
        assert sims == sorted(sims, reverse=True)


def test_quantized_probe_kernel_parity(spark, monkeypatch):
    """quantized_topk_rerank coarse pass on/off: identical output frame
    (integer inputs widen exactly — every corner shared)."""
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-2, 2) for _ in range(DIM)]) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q8 = similarity.quantize_embeddings(df)
    probe = rows[7][1]

    def run():
        return [
            (r["vec_id"], _bits(r["cosine_sim"]))
            for r in similarity.quantized_topk_rerank(
                q8, probe, k=10, id_col="vec_id"
            ).collect()
        ]

    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    arrow = run()
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    jvm = run()
    assert arrow == jvm
    assert arrow[0][0] == 7  # self-probe ranks first


def test_dispatch_gate_dim_and_toggle(spark, monkeypatch):
    """Below COSINE_ARROW_MIN_DIM (and with the toggle off) the plan must
    stay pure JVM — no Python evaluation node; above it the kernel node
    appears."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    small = [1.0] * (vec.COSINE_ARROW_MIN_DIM - 1)
    plan_small = df.select(
        similarity._probe_sim(df, "embedding", small).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_small
    plan_big = df.select(
        similarity._probe_sim(df, "embedding", PROBE).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_big
    monkeypatch.setattr(vec, "COSINE_ARROW", False)
    plan_off = df.select(
        similarity._probe_sim(df, "embedding", PROBE).alias("s")
    )._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_off


def test_pair_gate_stays_jvm_below_min_dim(spark, monkeypatch):
    """Pair rows ship two vectors per row, so the pair operators never
    take the Arrow kernels: with the probe-kernel toggle on and the dim
    above COSINE_ARROW_MIN_DIM, the semantic_dedup_pairs plan stays pure
    JVM."""
    rows = [(i, [float(i + j) for j in range(DIM)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [rows[j][1] for j in (3, 21)]
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    assert DIM >= vec.COSINE_ARROW_MIN_DIM
    plan = (
        similarity.semantic_dedup_pairs(df, threshold=0.1, centroids=cents)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ArrowEvalPython" not in plan


def test_probe_kernel_single_evaluation_under_filter(spark, monkeypatch):
    """Guide §4.4: a filter over the kernel's output column must not
    duplicate the Python evaluation node in the optimized plan."""
    df = _corner_df(spark)
    monkeypatch.setattr(vec, "COSINE_ARROW", True)
    plan = (
        df.select(
            "vec_id",
            similarity._probe_sim(df, "embedding", PROBE).alias("s"),
        )
        .filter(F.col("s") > 0.1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
