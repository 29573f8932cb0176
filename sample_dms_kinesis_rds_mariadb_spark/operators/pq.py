"""Product quantization (PQ) for approximate nearest neighbor — the
memory-side compression companion to the IVF/LSH index families in
``operators/similarity.py`` (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011).

A D-dim vector is split into ``m`` contiguous subvectors; each subspace
gets its own ``k``-entry codebook (seeded per-subspace k-means, or
SQL-reproducible seed-medoid codebooks); a vector is stored as ``m``
small codes (k ≤ 256 → one byte each: a 768-dim float32 embedding
compresses 3072 → 16 bytes at m=16). Probes score compressed codes
ASYMMETRICALLY (ADC): the uncompressed probe builds an m×k lookup table
of partial distances, and a row's distance is the sum of m table hits —
exactly the distance from the probe to the row's RECONSTRUCTION, a
property the tests assert bit-for-bit.

Scale shape: codebooks are index-build artifacts (bounded: m·k·D/m
floats); encoding is a pure-JVM projection (``assign_to_centroids`` per
subspace — no UDF, no shuffle); ADC scoring is a narrow scan over the
code column (the full embedding column is NEVER read at probe time —
column pruning does the 100×-smaller read) + TakeOrdered. Rerank joins
the few candidates back to full vectors by id — a broadcast-able
semi-join, corpus never shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.operators.similarity import (
    _seq_dot,
    assign_to_centroids,
    brute_force_topk,
    embedding_dim,
    medoid_centroids,
    to_double_array,
)


def _check_dims(dim: int, m: int) -> int:
    if dim % m != 0:
        raise ValueError(f"embedding dim {dim} not divisible by m={m} subspaces")
    return dim // m


def train_pq(
    df: DataFrame,
    m: int = 4,
    k: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> list[list[list[float]]]:
    """Learn per-subspace codebooks: seeded Spark-ML KMeans on each of the
    ``m`` vector slices (FAISS's trainer shape — at 100 TB train on a
    ``sample_fraction`` sample; the codebooks are a bounded driver
    artifact, m·k·(D/m) floats). Returns codebooks[j][c] = centroid c of
    subspace j."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = embedding_dim(df, vec_col)
    dsub = _check_dims(dim, m)
    base = df.select(to_double_array(F.col(vec_col)).alias("_v"))
    if sample_fraction < 1.0:
        base = base.sample(sample_fraction, seed)
    # one cached pass feeds all m per-subspace fits
    base = base.cache()
    try:
        books: list[list[list[float]]] = []
        for j in range(m):
            sub = base.select(
                array_to_vector(
                    F.slice(F.col("_v"), j * dsub + 1, dsub)
                ).alias("features")
            )
            model = KMeans(k=k, seed=seed + j, featuresCol="features").fit(sub)
            books.append(
                [[float(x) for x in c] for c in model.clusterCenters()]
            )
        return books
    finally:
        base.unpersist()


def medoid_pq_codebooks(
    df: DataFrame,
    medoid_ids: list[int],
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Data-independent codebooks from FIXED rows: subspace j's codebook
    entry c is the j-th slice of row ``medoid_ids[c]``'s embedding. Like
    ``medoid_centroids``, an external engine (the DuckDB oracle)
    reconstructs these exactly from the same parquet — the
    SQL-reproducible path for cross-engine PQ parity."""
    full = medoid_centroids(df, medoid_ids, id_col=id_col, vec_col=vec_col)
    dsub = _check_dims(len(full[0]), m)
    return [
        [row[j * dsub : (j + 1) * dsub] for row in full] for j in range(m)
    ]


def _pq_encode_arrow_udf(spark, codebooks: list[list[list[float]]]):
    """ONE Arrow kernel computing all ``m`` subspace codes per vector —
    bit-identical to the per-subspace ``assign_to_centroids`` folds (the
    shared ``_np_assign`` cumsum/argmin kernel) with the slice semantics
    of the literal path: a subspace whose slice is shorter than ``dsub``
    (vector too short / NULL) folds to NULL d2 on the JVM and lands on
    cid 0. One vector transfer, one Python node, flat plan — vs m
    interpreted fold trees whose Catalyst analysis + per-element
    evaluation dominated the encode (guide §4.2)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from sample_dms_kinesis_rds_mariadb_spark.operators.similarity import (
        _np_assign,
    )

    m = len(codebooks)
    dsub = len(codebooks[0][0])
    mats = []
    for book in codebooks:
        C = np.asarray(
            [[float(x) for x in c] for c in book], dtype=np.float64
        )
        ccs = []
        for c in book:
            acc = 0.0
            for x in c:
                acc = acc + float(x) * float(x)
            ccs.append(acc)
        mats.append((C, np.asarray(ccs, dtype=np.float64)))
    bc = spark.sparkContext.broadcast((m, dsub, mats))

    def encode(vecs):
        import numpy as np

        m_, dsub_, mats_ = bc.value
        n = len(vecs)
        codes = np.zeros((n, m_), dtype=np.int32)
        lens = np.fromiter(
            (0 if v is None else len(v) for v in vecs), dtype=np.int64, count=n
        )
        for s in range(0, n, 4096):
            sel = np.arange(s, min(s + 4096, n))
            for j in range(m_):
                need = (j + 1) * dsub_
                ok = sel[lens[sel] >= need]
                if ok.size == 0:
                    continue
                V = np.stack(
                    [
                        np.asarray(
                            vecs[i][j * dsub_ : need], dtype=np.float64
                        )
                        for i in ok
                    ]
                )
                Cb, ccb = mats_[j]
                codes[ok, j] = _np_assign(V, Cb, ccb)
        return pd.Series(list(codes))

    encode.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf("array<int>")(encode)


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Attach the m-entry PQ code array. With an active SparkSession the
    codes come from ONE combined Arrow kernel over the full vector
    (:func:`_pq_encode_arrow_udf` — bit-identical to the fold path,
    asserted in tests); otherwise each subspace code is
    ``assign_to_centroids`` (bit-reproducible seq-fold d2 argmin, ties to
    lowest id) over the vector slice as a JVM expression. Either way: no
    shuffle; at scale this is the write-side pass that persists alongside
    (or instead of) the raw vectors."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is not None:
        return df.withColumn(
            code_col,
            _pq_encode_arrow_udf(spark, codebooks)(
                to_double_array(F.col(vec_col))
            ),
        )
    dsub = len(codebooks[0][0])
    v = to_double_array(F.col(vec_col))
    codes = [
        assign_to_centroids(F.slice(v, j * dsub + 1, dsub), book)
        for j, book in enumerate(codebooks)
    ]
    return df.withColumn(code_col, F.array(*codes))


def pq_reconstruct(
    code: list[int], codebooks: list[list[list[float]]]
) -> list[float]:
    """Driver-side decode: concatenate the coded centroids (the vector PQ
    actually scores against)."""
    out: list[float] = []
    for j, c in enumerate(code):
        out.extend(codebooks[j][int(c)])
    return out


def _adc_luts(
    probe: list[float], codebooks: list[list[list[float]]]
) -> tuple[list[list[float]], list[list[float]], float]:
    """(l2_lut, ip_lut, <p,p>) — lut[j][c] built with the same sequential
    left-fold dots the JVM fold would run, so ADC sums are bit-equal to
    scoring the reconstruction directly."""
    dsub = len(codebooks[0][0])
    l2, ip = [], []
    for j, book in enumerate(codebooks):
        p_j = [float(x) for x in probe[j * dsub : (j + 1) * dsub]]
        row_l2, row_ip = [], []
        for c in book:
            d = [a - b for a, b in zip(p_j, c)]
            row_l2.append(_seq_dot(d, d))
            row_ip.append(_seq_dot(p_j, c))
        l2.append(row_l2)
        ip.append(row_ip)
    return l2, ip, _seq_dot(probe, probe)


def _lut_sum(lut: list[list[float]], code_col: Column) -> Column:
    """Σ_j lut[j][code_j] as a JVM expression: per-subspace element_at over
    an array literal — m adds, no UDF."""
    total = None
    for j, row in enumerate(lut):
        term = F.element_at(
            F.lit([float(x) for x in row]).cast("array<double>"),
            F.element_at(code_col, j + 1) + 1,
        )
        total = term if total is None else total + term
    return total


def pq_adc_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    probe: list[float],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes.

    ``metric``: 'l2' (ascending squared distance), 'ip' (descending inner
    product), or 'cosine' (descending; the reconstruction norm is exact
    because subspaces are disjoint: ||recon||² = Σ_j ||c_j||², computed
    through a second LUT whose probe is the zero vector's complement —
    here simply ip-of-centroid-with-itself folded into the l2/ip tables).

    Plan shape: narrow scan of (id, code) only — the embedding column is
    pruned away — m element_at adds, then TakeOrdered(k). The probe's
    LUTs are literals: nothing broadcast, nothing shuffled.
    """
    l2_lut, ip_lut, pp = _adc_luts(probe, codebooks)
    scored = codes_df.select(F.col(id_col), F.col(code_col))
    if metric == "l2":
        out = scored.withColumn("adc_dist", _lut_sum(l2_lut, F.col(code_col)))
        return (
            out.select(id_col, "adc_dist")
            .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
            .limit(k)
        )
    ip = _lut_sum(ip_lut, F.col(code_col))
    if metric == "ip":
        return (
            scored.withColumn("adc_ip", ip)
            .select(id_col, "adc_ip")
            .orderBy(F.col("adc_ip").desc(), F.col(id_col).asc())
            .limit(k)
        )
    if metric != "cosine":
        raise ValueError(f"unknown metric {metric!r} (l2|ip|cosine)")
    # ||recon||² per row: <c,c> = <p-c,p-c> - <p,p> + 2<p,c> subspace-wise,
    # so cc_lut[j][c] = l2[j][c] - pp_j + 2·ip[j][c] — but simpler and
    # clearer: build it directly from the books
    dsub = len(codebooks[0][0])
    cc_lut = [
        [_seq_dot(c, c) for c in book] for book in codebooks
    ]
    del dsub
    rec_norm2 = _lut_sum(cc_lut, F.col(code_col))
    cos = ip / (F.sqrt(F.lit(pp)) * F.sqrt(rec_norm2))
    return (
        scored.withColumn("adc_cosine", cos)
        .select(id_col, "adc_cosine")
        .orderBy(F.col("adc_cosine").desc(), F.col(id_col).asc())
        .limit(k)
    )


def pq_adc_batch_topk(
    codes_df: DataFrame,
    codebooks: list[list[list[float]]],
    probes: dict[object, list[float]],
    k: int = 10,
    metric: str = "cosine",
    id_col: str = "vec_id",
    code_col: str = "pq_code",
) -> DataFrame:
    """Asymmetric-distance top-``k`` for EVERY probe in ONE codes scan —
    the batch dual of :func:`pq_adc_topk`, the same eval-set shape as
    ``search.bm25_batch_search`` / ``similarity.knn_join``.

    :func:`pq_adc_topk` inlines the probe's m×k LUT into the plan as
    literals, so a Q-probe eval set costs Q Catalyst compiles + Q jobs
    (8.2 s cold per probe measured at sf0.1 — a driver-side bottleneck at
    exactly the workload PQ exists for). Here the LUTs travel as DATA: a
    (probe_id, lut, <p,p>) frame (Q·m·k doubles — an eval batch is small
    by contract) broadcasts onto the codes scan, every (probe, row) score
    is m element_at adds in codegen, and a per-probe window takes the
    top-``k``. One plan compile, one scan, regardless of Q.

    Returns (probe_id, id_col, <score>, rank), rank 1 = best, score
    column named exactly as the per-probe op (adc_dist / adc_ip /
    adc_cosine); probe ids come back stringified. Scores are BIT-EQUAL to
    :func:`pq_adc_topk` (same left-fold add order, same double values —
    asserted in tests/test_pq.py).

    Scale shape: the corpus never shuffles — only the (probe_id, id,
    score) rows move into the per-probe window, bounded by Q × |codes|;
    batch probes accordingly (the same contract as ``knn_join``, whose
    LSH-bucketed dual applies when the product is too large).
    """
    if metric not in ("l2", "ip", "cosine"):
        raise ValueError(f"unknown metric {metric!r} (l2|ip|cosine)")
    spark = codes_df.sparkSession
    m = len(codebooks)
    rows = []
    for qid, p in probes.items():
        pv = [float(x) for x in p]
        l2_lut, ip_lut, pp = _adc_luts(pv, codebooks)
        lut = l2_lut if metric == "l2" else ip_lut
        rows.append((str(qid), [[float(x) for x in r] for r in lut], pp))
    pdf = spark.createDataFrame(
        rows, "probe_id string, _lut array<array<double>>, _pp double"
    )
    scored = codes_df.select(F.col(id_col), F.col(code_col)).join(
        F.broadcast(pdf)
    )
    # Σ_j lut[j][code_j], left-fold add in the SAME j order as _lut_sum so
    # batch scores bit-match the per-probe literal path
    total = None
    for j in range(m):
        term = F.element_at(
            F.element_at(F.col("_lut"), j + 1),
            F.element_at(F.col(code_col), j + 1) + 1,
        )
        total = term if total is None else total + term
    if metric == "l2":
        score, name, asc = total, "adc_dist", True
    elif metric == "ip":
        score, name, asc = total, "adc_ip", False
    else:
        # reconstruction norm is probe-INDEPENDENT: keep it a plan literal
        # (one m×k table shared by every probe — a single compile)
        cc_lut = [[_seq_dot(c, c) for c in book] for book in codebooks]
        rec_norm2 = _lut_sum(cc_lut, F.col(code_col))
        score = total / (F.sqrt(F.col("_pp")) * F.sqrt(rec_norm2))
        name, asc = "adc_cosine", False
    from pyspark.sql import Window

    order = F.col(name).asc() if asc else F.col(name).desc()
    w = Window.partitionBy("probe_id").orderBy(order, F.col(id_col).asc())
    return (
        scored.withColumn(name, score)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("probe_id", id_col, name, "rank")
    )


def pq_batch_topk_rerank(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    probes: dict[object, list[float]],
    k: int = 10,
    coarse_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Batch two-stage PQ search: ONE ADC pass over the code column picks
    ``k·coarse_factor`` candidates per probe, then only the (probe,
    candidate) pairs are re-scored with exact cosine against full
    vectors. Output (probe_id, id_col, cosine_sim, rank) — the
    ``knn_join`` contract; per-probe results equal running
    :func:`pq_topk_rerank` probe-by-probe (asserted in tests).

    Scale shape: coarse output is Q·k·factor rows → broadcast onto the
    corpus (an id hash probe per row, corpus never shuffles); the exact
    fold runs on survivors only; the probe-vector frame (Q·D doubles)
    broadcasts onto those."""
    if codes_df is None:
        codes_df = pq_encode(corpus, codebooks, vec_col=vec_col)
    coarse = pq_adc_batch_topk(
        codes_df, codebooks, probes, k=k * coarse_factor, metric="cosine",
        id_col=id_col,
    )
    spark = corpus.sparkSession
    pv = spark.createDataFrame(
        [(str(qid), [float(x) for x in p]) for qid, p in probes.items()],
        "probe_id string, _p array<double>",
    )
    from sample_dms_kinesis_rds_mariadb_spark.functions.vectors import (
        cosine_similarity,
    )

    cand = corpus.select(F.col(id_col), F.col(vec_col)).join(
        F.broadcast(coarse.select("probe_id", id_col)), id_col
    )
    scored = cand.join(F.broadcast(pv), "probe_id").select(
        "probe_id",
        F.col(id_col),
        cosine_similarity(
            to_double_array(F.col(vec_col)), F.col("_p")
        ).alias("cosine_sim"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("probe_id", id_col, "cosine_sim", "rank")
    )


def pq_topk_rerank(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    probe: list[float],
    k: int = 10,
    coarse_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codes_df: DataFrame | None = None,
) -> DataFrame:
    """Two-stage PQ search: ADC over compressed codes selects
    ``k·coarse_factor`` candidates (cheap, code column only), then the
    candidates ONLY are re-scored with exact cosine against their full
    vectors — the same coarse→exact discipline as
    ``quantized_topk_rerank``. The rerank join is an id semi-join on a
    k·factor-row side: broadcast, corpus never shuffles."""
    if codes_df is None:
        codes_df = pq_encode(corpus, codebooks, vec_col=vec_col)
    coarse = pq_adc_topk(
        codes_df, codebooks, probe, k=k * coarse_factor, metric="cosine",
        id_col=id_col,
    )
    cand = corpus.join(
        F.broadcast(coarse.select(id_col)), on=id_col, how="inner"
    )
    return brute_force_topk(cand, probe, k=k, id_col=id_col, vec_col=vec_col)


def save_pq_codebooks(
    codebooks: list[list[list[float]]], path: str, metric_note: str | None = None
) -> None:
    """Persist codebooks as driver-side JSON (the IvfIndex centroid
    convention): build once, probe from any later session. repr-precision
    floats round-trip bit-exactly, so a reloaded book encodes and scores
    identically."""
    import json

    m = len(codebooks)
    k = len(codebooks[0]) if m else 0
    dsub = len(codebooks[0][0]) if k else 0
    blob = {
        "format": "pq-codebooks-v1",
        "m": m,
        "k": k,
        "dsub": dsub,
        "note": metric_note,
        "books": [[[repr(x) for x in c] for c in book] for book in codebooks],
    }
    write_atomic(path, json.dumps(blob))


def load_pq_codebooks(path: str) -> list[list[list[float]]]:
    import json

    with open(path) as f:
        blob = json.load(f)
    if blob.get("format") != "pq-codebooks-v1":
        raise ValueError(f"{path} is not a PQ codebook artifact")
    books = [
        [[float(x) for x in c] for c in book] for book in blob["books"]
    ]
    if len(books) != blob["m"] or any(len(b) != blob["k"] for b in books):
        raise ValueError(f"{path}: codebook shape disagrees with its header")
    return books
