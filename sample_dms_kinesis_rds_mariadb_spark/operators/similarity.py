"""Similarity search over embedding columns (north-star op).

- ``brute_force_topk``: exact cosine top-k vs a probe vector. One scan, one
  TakeOrdered — the correctness baseline. At 100 TB this is a full-scan
  operator (fine for one-off probes; batch probes should use the LSH path).
- ``lsh_bucketed_topk``: random-hyperplane LSH — the scale path. Vectors
  hash to a sign-pattern bucket; a probe only scans its own bucket
  (multi-probe: + neighboring buckets at hamming distance 1). Planes are
  seeded deterministically so bucketing is reproducible across runs/sessions.
- ``IvfIndex``: build-once/probe-many IVF ANN — vectors stored partitioned
  by nearest-centroid list; a probe reads only its ``n_probe`` list
  partitions (parquet partition pruning), with NO clustering in the probe
  path.
- ``cosine_self_join_topk``: all-pairs top-k within LSH buckets (embedding
  near-dup dedup support).
"""

from __future__ import annotations

import json
import os

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions import vectors as _vec
from sample_dms_kinesis_rds_mariadb_spark.functions.vectors import (
    cosine_similarity,
    dot,
    quantize_scale,
    quantize_vector,
    quantized_cosine,
    to_double_array,
)


def _cosine_arrow_ok(spark, dim: int | None = None) -> bool:
    """Arrow-kernel dispatch gate for the cosine folds (r14, guide §4.2):
    the module toggle (``vectors.COSINE_ARROW`` — the A/B lever and
    opt-out), a live session to own broadcasts/UDF registration, and —
    where the dimension is knowable at plan time — a dim worth the Python
    boundary round-trip. Callers pass the DATAFRAME's session (not
    thread-local ambient state) wherever one exists."""
    if not _vec.COSINE_ARROW or spark is None:
        return False
    return dim is None or dim >= _vec.COSINE_ARROW_MIN_DIM


def _probe_sim(df: DataFrame, vec_col: str, probe: list[float]):
    """cosine vs a probe literal, auto-dispatched: the Arrow kernel
    (broadcast probe + cumsum folds — bit-identical, see vectors.py)
    above the dim gate; otherwise the JVM folds with the PROBE's norm
    pre-folded driver-side (r14): ``cosine_similarity(a, lit(probe))``
    re-evaluated the probe's own norm fold PER ROW — a third of the
    per-row fold work for a constant. The Python sequential fold is the
    identical IEEE-754 op sequence, so the literal is bit-equal to the
    fold it replaces (the assign_to_centroids <c,c> precedent)."""
    if _cosine_arrow_ok(df.sparkSession, len(probe)):
        return _vec.probe_cosine_arrow_udf(df.sparkSession, probe)(
            to_double_array(F.col(vec_col))
        )
    import math

    v = to_double_array(F.col(vec_col))
    na = F.sqrt(dot(v, v))
    nb = F.lit(math.sqrt(_vec._seq_fold_dot(probe)))
    return F.when(
        (na > 0) & (nb > 0), dot(v, _probe_lit(probe)) / (na * nb)
    )


def embedding_dim(df: DataFrame, vec_col: str = "embedding") -> int:
    """Vector dimensionality via ONE bounded driver action. Call once at
    index-build time and pass ``dim`` explicitly to the bucketing helpers —
    never inside a per-probe path."""
    return len(df.select(vec_col).first()[0])


def _probe_lit(probe: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in probe]).cast("array<double>")


def brute_force_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine vs a probe vector. orderBy+limit compiles to
    TakeOrdered (per-partition heap + driver merge of k·P rows), never a
    global sort. The per-row cosine auto-dispatches to the Arrow cumsum
    kernel (bit-identical; r14, guide §4.2)."""
    sim = _probe_sim(df, vec_col, probe)
    return (
        df.select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def quantize_embeddings(
    df: DataFrame,
    vec_col: str = "embedding",
    q_col: str = "qvec",
    scale_col: str = "qscale",
) -> DataFrame:
    """Append the int8 image of ``vec_col``: ``q_col`` (ARRAY<TINYINT>)
    + ``scale_col`` (FLOAT) — 4x smaller than float32. Write the result
    with BOTH forms; coarse scans then column-prune to the byte array
    (4x less parquet IO) and only rerank touches the full vectors."""
    v = to_double_array(F.col(vec_col))
    return df.withColumn(scale_col, quantize_scale(v)).withColumn(
        q_col, quantize_vector(v, F.col(scale_col))
    )


def quantized_topk_rerank(
    df: DataFrame,
    probe: list[float],
    k: int = 20,
    oversample: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_col: str = "qvec",
) -> DataFrame:
    """Top-``k`` by exact cosine, found via a cheap int8 coarse pass: scan
    the byte column for quantized cosine (scales cancel — no dequant),
    TakeOrdered the top ``oversample * k`` candidates, then rerank ONLY
    those by exact float cosine.

    Scale shape: the corpus-sized scan reads 1/4 the bytes (column
    pruning to ``q_col``), the exact computation touches ``oversample*k``
    rows, and both passes are TakeOrdered (per-partition heaps, never a
    global sort). int8 cosine error is ~1e-3 for unit-ish vectors, so
    modest oversampling recovers exact-top-k recall — the standard
    coarse-quantize/rerank ANN recipe (as in IVF-SQ engines).

    ``df`` must carry ``q_col`` (from :func:`quantize_embeddings`, e.g.
    written at ingest). Ties in the coarse pass break by id for
    determinism; the rerank re-sorts by exact cosine.
    """
    if k < 1 or oversample < 1:
        raise ValueError("k and oversample must be >= 1")
    q_probe, _scale = _py_quantize(probe)
    # corpus-wide coarse pass: auto-dispatch the interpreted int8 fold to
    # the Arrow cumsum kernel (bit-identical — pure integer inputs widened
    # exactly to float64; r14, guide §4.2). The oversample·k-row exact
    # rerank below stays on the JVM fold (not worth a Python round-trip).
    if _cosine_arrow_ok(df.sparkSession, len(q_probe)):
        qsim = _vec.quantized_probe_cosine_arrow_udf(df.sparkSession, q_probe)(
            F.col(q_col)
        )
    else:
        qp = F.array(*[F.lit(int(x)) for x in q_probe]).cast("array<tinyint>")
        qsim = quantized_cosine(F.col(q_col), qp)
    coarse = (
        df.select(
            F.col(id_col),
            qsim.alias("_qsim"),
        )
        .orderBy(F.col("_qsim").desc_nulls_last(), F.col(id_col))
        .limit(int(oversample) * int(k))
    )
    # join FIRST (broadcast hash probe per row — cheap), THEN fold the
    # exact cosine: projecting the cosine before the join would evaluate
    # the expensive fold corpus-wide instead of on oversample*k survivors
    exact = cosine_similarity(to_double_array(F.col(vec_col)), _probe_lit(probe))
    return (
        df.select(F.col(id_col), F.col(vec_col))
        .join(F.broadcast(coarse.select(id_col)), id_col)
        .select(F.col(id_col), exact.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(int(k))
    )


def _py_quantize(vec: list[float]) -> tuple[list[int], float]:
    from sample_dms_kinesis_rds_mariadb_spark.functions.vectors import (
        reference_quantize,
    )

    return reference_quantize([float(x) for x in vec])


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes for sign-LSH."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def lsh_bucket(vec: Column, planes: np.ndarray) -> Column:
    """Sign-pattern bucket id: bit i = sign(vec · plane_i). Pure expressions
    (one dot product per plane), no UDF."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        d = dot(vec, F.array(*[F.lit(float(x)) for x in plane]).cast("array<double>"))
        bucket = bucket + F.when(d > 0, F.lit(1 << i).cast("long")).otherwise(0)
    return bucket


def with_lsh_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Attach the LSH bucket column; persist/bucket-by this for repeated
    probes (the 'index build' of this ANN scheme). Pass ``dim`` explicitly
    (known from the probe vector or the dataset contract) — the fallback
    ``embedding_dim`` lookup is one driver action per call, fine for a
    one-off build, wrong inside a probe loop."""
    if dim is None:
        dim = embedding_dim(df, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    return df.withColumn(
        "lsh_bucket", lsh_bucket(to_double_array(F.col(vec_col)), planes)
    )


def lsh_bucketed_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: score only vectors in the probe's bucket (and, with
    multiprobe, buckets at hamming distance 1 — recall boost for boundary
    vectors). Bucket filter prunes the scan before any vector math runs."""
    dim = len(probe)
    planes = hyperplanes(dim, n_planes, seed)
    # sequential left-fold dot, NOT numpy's pairwise/SIMD summation: the
    # probe's bucket must bit-match the corpus bucketing (Spark F.aggregate
    # fold / DuckDB list_inner_product are both sequential) — a different
    # summation order could flip the sign of a near-zero dot product
    def _seq_dot(plane) -> float:
        acc = 0.0
        for x, y in zip(plane, probe):
            acc = acc + float(x) * float(y)
        return acc

    probe_bucket = int(
        sum(1 << i for i, plane in enumerate(planes) if _seq_dot(plane) > 0)
    )
    buckets = [probe_bucket]
    if multiprobe:
        buckets += [probe_bucket ^ (1 << i) for i in range(n_planes)]

    bucketed = with_lsh_buckets(df, vec_col, n_planes, seed, dim=dim)
    sim = _probe_sim(df, vec_col, probe)
    return (
        bucketed.filter(F.col("lsh_bucket").isin(buckets))
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def ivf_assignments(
    df: DataFrame,
    n_lists: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    sample_fraction: float = 1.0,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF index build: KMeans centroids (Spark ML, seeded ⇒ reproducible)
    + per-vector nearest-centroid assignment.

    The scale path for repeated probes: cluster once (sampled training at
    100 TB — `sample_fraction`), store `ivf_list` alongside the vectors
    (partition/bucket by it), and probes scan only their nearest lists.
    Returns (assigned_df, centroids).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.select(
        F.col(id_col), array_to_vector(to_double_array(F.col(vec_col))).alias("features")
    )
    train = vecs if sample_fraction >= 1.0 else vecs.sample(sample_fraction, seed)
    model = KMeans(k=n_lists, seed=seed, featuresCol="features").fit(train)
    assigned = (
        model.transform(vecs)
        .select(
            id_col,
            F.col("prediction").alias("ivf_list"),
            vector_to_array("features").alias("_v"),
        )
    )
    centroids = [[float(x) for x in c] for c in model.clusterCenters()]
    out = df.join(assigned.select(id_col, "ivf_list"), id_col)
    return out, centroids


def _seq_dot(a, b) -> float:
    """Sequential left-fold dot product — bit-matches Spark's F.aggregate
    fold and DuckDB's list_inner_product (numpy uses pairwise/SIMD summation,
    which can differ in the last bit and flip an argmin near a tie)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def _nearest_lists(centroids: list[list[float]], probe: list[float], n_probe: int) -> list[int]:
    """n_probe nearest centroid ids by squared euclidean distance, computed
    as <p,p> - 2<p,c> + <c,c> with sequential-fold dots so the selection is
    bit-reproducible against the SQL oracle; ties break to the lowest id."""
    pp = _seq_dot(probe, probe)
    d = sorted(
        (pp - 2 * _seq_dot(probe, c) + _seq_dot(c, c), cid)
        for cid, c in enumerate(centroids)
    )
    return [cid for _, cid in d[:n_probe]]


def medoid_centroids(
    df: DataFrame,
    medoid_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Data-independent "seed-medoid" centroids: the embeddings of FIXED row
    ids. One bounded driver read (index-build cost class). Because each
    centroid is a row of the corpus itself, an external engine (the DuckDB
    correctness oracle) reconstructs them exactly from the same parquet — no
    clustering step to reproduce. Centroid i is medoid_ids[i]'s embedding."""
    rows = (
        df.filter(F.col(id_col).isin([int(i) for i in medoid_ids]))
        .select(F.col(id_col), to_double_array(F.col(vec_col)).alias("v"))
        .collect()
    )
    by_id = {r[0]: [float(x) for x in r[1]] for r in rows}
    missing = [i for i in medoid_ids if i not in by_id]
    if missing:
        raise ValueError(f"medoid ids absent from corpus: {missing}")
    return [by_id[i] for i in medoid_ids]


# Work size (n_centroids × dim) at which assign_to_centroids swaps the
# interpreted JVM fold for the broadcast + Arrow kernel (r13 optimization
# round, guide §4.2). The JVM transform/fold is evaluated INTERPRETED per
# element: at 32 centroids × 64 dims it burns ~4 ms/row of executor CPU
# (8.4 s task time for 2 000 rows measured in the semantic_dedup leg),
# while the numpy kernel — bit-identical by sequential cumsum folds — is
# ~100x cheaper and keeps the plan tiny. Tiny codebooks stay on the
# literal path (no Python worker round-trip for work that small).
ASSIGN_ARROW_MIN_WORK = 256


def _np_assign(V, Cb, ccb):
    """Shared numpy argmin-assign over a (rows, dim) float64 matrix —
    bit-identical to the JVM fold (cumsum dots, argmin ties to lowest
    cid, NaN d2 ordered last). Used by the assign kernel here and the
    combined PQ-encode kernel (operators/pq.py)."""
    import numpy as np

    k, dim = Cb.shape
    vv = (
        np.cumsum(V * V, axis=1)[:, -1]
        if dim
        else np.zeros(V.shape[0], dtype=np.float64)
    )
    prods = V[:, None, :] * Cb[None, :, :]
    vc = (
        np.cumsum(prods, axis=2)[:, :, -1]
        if dim
        else np.zeros((V.shape[0], k), dtype=np.float64)
    )
    d2 = vv[:, None] - 2.0 * vc + ccb[None, :]
    nan_mask = np.isnan(d2)
    if nan_mask.any():
        d2 = np.where(nan_mask, np.inf, d2)
    codes = np.argmin(d2, axis=1)
    if nan_mask.any():
        # a NaN masked to +inf can out-argmin a GENUINE +inf at a higher
        # cid; the JVM orders NaN strictly after +inf — re-resolve those
        # rows among non-NaN entries
        bad = nan_mask[np.arange(len(codes)), codes]
        for r in np.nonzero(bad)[0]:
            nn = np.nonzero(~nan_mask[r])[0]
            if nn.size:
                codes[r] = nn[np.argmin(d2[r, nn])]
    return codes


def _assign_arrow_udf(spark, centroids: list[list[float]]):
    """Arrow-batched twin of the JVM assign fold — bit-identical:
    d2 = <v,v> - 2<v,c> + <c,c> with every dot an np.cumsum (strictly
    left-to-right, the same IEEE-754 op sequence as the F.aggregate fold
    — the established repo pattern, see classify._arrow_margin), <c,c>
    pre-folded in Python exactly as the literal path does, argmin ties to
    the lowest centroid id (np.argmin first-min). NaN d2 entries sort
    LAST (the SQL struct-ordering contract): they are masked to +inf and,
    on the (non-finite-embedding) tie against a genuine +inf, re-resolved
    among non-NaN entries only."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray([[float(x) for x in c] for c in centroids], dtype=np.float64)
    ccs = []
    for c in centroids:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        ccs.append(acc)
    cc = np.asarray(ccs, dtype=np.float64)
    bc = spark.sparkContext.broadcast((C, cc))

    def assign(vecs):
        import numpy as np

        Cb, ccb = bc.value
        k, dim = Cb.shape
        n = len(vecs)
        out = np.zeros(n, dtype=np.int32)
        # rows arrive as variable np arrays (None for NULL vectors) — stack
        # the non-null fixed-dim rows, chunked to bound the (rows, k, dim)
        # intermediate
        valid = np.fromiter(
            (v is not None and len(v) == dim for v in vecs), dtype=bool, count=n
        )
        idxs = np.nonzero(valid)[0]
        # NULL / wrong-width rows: the JVM fold yields NULL d2 for every
        # candidate and array_min's struct ordering puts NULL first → cid 0.
        # (Asserted against the literal path in tests.)
        for s in range(0, idxs.size, 4096):
            sel = idxs[s : s + 4096]
            V = np.stack([np.asarray(vecs[i], dtype=np.float64) for i in sel])
            out[sel] = _np_assign(V, Cb, ccb)
        return pd.Series(out)

    assign.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    return pandas_udf("int")(assign)


def assign_to_centroids(
    vec: Column, centroids: list[list[float]]
) -> Column:
    """Nearest-centroid list id, cross-engine bit-reproducible:
    d2 = <v,v> - 2<v,c> + <c,c> with every dot a
    sequential left fold, argmin via array_min over (d2, cid) structs so
    ties break to the LOWEST centroid id (matches the oracle's
    row_number() OVER (ORDER BY d2, cid)).

    The centroid loop runs in DATA space (one ``transform`` over a single
    nested-array literal), not in expression space: the per-centroid
    formulation inlined 2 fold-dots per centroid into the plan, and past a
    few dozen centroids Catalyst analysis + codegen of that tree dominated
    the whole job (seconds of driver time per query). The folds themselves
    are unchanged — same sequential order, bit-identical result.

    At ``len(centroids) * dim >= ASSIGN_ARROW_MIN_WORK`` (and with an
    active SparkSession to own the broadcast) this auto-dispatches to the
    Arrow kernel (:func:`_assign_arrow_udf`) — bit-identical assignments,
    ~100x less per-row CPU than the interpreted fold, flat plan size."""
    if centroids and len(centroids) * len(centroids[0]) >= ASSIGN_ARROW_MIN_WORK:
        from pyspark.sql import SparkSession

        spark = SparkSession.getActiveSession()
        if spark is not None:
            return _assign_arrow_udf(spark, centroids)(
                to_double_array(vec)
            )
    v = to_double_array(vec)
    vv = dot(v, v)
    cents = F.lit([[float(x) for x in c] for c in centroids]).cast(
        "array<array<double>>"
    )
    # <c,c> is constant per centroid: fold it HERE in Python — a sequential
    # left fold over float64 is the identical IEEE-754 op sequence Spark's
    # F.aggregate would run, so the literal is bit-equal to the runtime fold
    # it replaces (and halves the per-row fold work)
    ccs = []
    for c in centroids:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        ccs.append(acc)
    cc_lit = F.lit(ccs).cast("array<double>")
    cands = F.transform(
        cents,
        lambda c, i: F.struct(
            (vv - F.lit(2.0) * dot(v, c) + F.element_at(cc_lit, i + 1)).alias("d2"),
            i.cast("int").alias("cid"),
        ),
    )
    return F.array_min(cands)["cid"]


class IvfIndex:
    """Build-once / probe-many IVF ANN index.

    ``build`` clusters the corpus (seeded KMeans, optionally on a sample at
    100 TB), writes the vectors to ``path`` PARTITIONED BY ``ivf_list``, and
    stores the centroids as driver-side JSON next to the data. ``probe``
    filters on the partition column, so the parquet scan reads ONLY the
    ``n_probe`` nearest list partitions (partition pruning — visible as
    PartitionFilters in the plan) and never re-fits anything. This is the
    split the round-1 verdict required: clustering cost is paid once at
    index build, a probe is a pruned scan + TakeOrdered.
    """

    CENTROIDS_FILE = "_ivf_centroids.json"  # leading _: ignored by readers

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        auto_compact_files: int | None = None,
    ) -> None:
        n_lists = len(centroids)
        if auto_compact_files is not None and auto_compact_files <= 2 * n_lists:
            raise ValueError(
                f"auto_compact_files ({auto_compact_files}) must exceed "
                f"2 x n_lists ({2 * n_lists}) or every append re-triggers "
                "a full store rewrite"
            )
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.id_col = id_col
        self.vec_col = vec_col
        # opt-in maintenance for long-lived ingest loops (same contract as
        # MinHashIndex auto_compact_files)
        self.auto_compact_files = auto_compact_files

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        n_lists: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        sample_fraction: float = 1.0,
        centroids: list[list[float]] | None = None,
        quantize: bool = False,
        auto_compact_files: int | None = None,
    ) -> "IvfIndex":
        """Cluster (seeded KMeans — the production default) or, when
        ``centroids`` is given, skip clustering and assign each vector to
        the nearest provided centroid (e.g. ``medoid_centroids`` — the
        deterministic, oracle-reproducible variant). Either way the corpus
        is written PARTITIONED BY ivf_list and probes are pruned scans.

        ``quantize=True`` additionally stores the int8 image (``qvec`` +
        ``qscale``) next to each vector — IVF-SQ: probes can then run
        their coarse pass over the byte column (1/4 the pruned-scan IO)
        and rerank the survivors at full precision
        (``probe(..., coarse='int8')``)."""
        if centroids is not None:
            assigned = df.withColumn(
                "ivf_list", assign_to_centroids(F.col(vec_col), centroids)
            )
        else:
            assigned, centroids = ivf_assignments(
                df,
                n_lists=n_lists,
                id_col=id_col,
                vec_col=vec_col,
                seed=seed,
                sample_fraction=sample_fraction,
            )
        if quantize:
            assigned = quantize_embeddings(assigned, vec_col)
        assigned.write.mode("overwrite").partitionBy("ivf_list").parquet(path)
        with open(os.path.join(path, cls.CENTROIDS_FILE), "w") as f:
            json.dump(centroids, f)
        return cls(
            df.sparkSession, path, centroids, id_col, vec_col,
            auto_compact_files=auto_compact_files,
        )

    @classmethod
    def load(
        cls,
        spark: SparkSession,
        path: str,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        auto_compact_files: int | None = None,
    ) -> "IvfIndex":
        with open(os.path.join(path, cls.CENTROIDS_FILE)) as f:
            centroids = json.load(f)
        return cls(
            spark, path, centroids, id_col, vec_col,
            auto_compact_files=auto_compact_files,
        )

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, cls.CENTROIDS_FILE))

    def _is_quantized(self) -> bool:
        """Whether the stored layout carries the int8 image (schema read —
        parquet footers only, no data scan)."""
        return "qvec" in self.spark.read.parquet(self.path).columns

    def append(self, df: DataFrame) -> None:
        """Incrementally add vectors: assign to the STORED centroids (no
        refit — probe behavior for existing vectors is unchanged) and
        partition-append to the affected lists. The scale dual of
        `MinHashIndex.append`: indexing an arriving batch costs
        |batch| × n_lists distance evaluations and a partitioned write,
        never a corpus re-cluster. Re-cluster deliberately stays a manual
        `build` — centroid drift invalidates stored assignments, so it must
        be an explicit rebuild, not a side effect of ingest. A quantized
        layout quantizes the batch too (appends must match the schema).
        With ``auto_compact_files`` set, a threshold-crossing append
        compacts — invalidating probe plans built earlier (Spark pins
        concrete file paths); materialize in-flight probe results first."""
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        # a parquet append would silently re-CREATE a path deleted by a
        # crashed compact, orphaning the store's history in .compact/.old
        heal_partitioned_store(self.path)
        assigned = df.withColumn(
            "ivf_list", assign_to_centroids(F.col(self.vec_col), self.centroids)
        )
        if self._is_quantized():
            assigned = quantize_embeddings(assigned, self.vec_col)
        assigned.write.mode("append").partitionBy("ivf_list").parquet(self.path)
        if self.auto_compact_files is not None:
            import glob

            n = len(glob.glob(os.path.join(self.path, "ivf_list=*", "*.parquet")))
            if n >= self.auto_compact_files:
                self.compact(min_files=self.auto_compact_files)

    def compact(self, min_files: int = 64) -> int:
        """Fold append-accumulated list files back to ~one per list —
        every ``append`` adds a file per touched ``ivf_list``, so a
        streaming ingest pays O(appends) listings per probe without this.
        Rename-swap (same contract as ``InvertedIndex.compact``); the
        ``_ivf_centroids.json`` sidecar is carried over, and a quantized
        layout round-trips unchanged. Probe results are identical
        before/after (tested). No-op below ``min_files``; returns files
        removed."""
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            compact_partitioned_store,
        )

        return compact_partitioned_store(
            self.spark, self.path, "ivf_list", min_files=min_files
        )

    def probe(
        self,
        probe: list[float],
        k: int = 20,
        n_probe: int = 4,
        coarse: str = "exact",
        oversample: int = 4,
    ) -> DataFrame:
        """Pruned-scan top-k: reads only the n_probe nearest list partitions.

        ``coarse='int8'`` (requires a ``quantize=True`` build): the pruned
        scan column-prunes to the byte image for the candidate pass (1/4
        the IO), then the ``oversample * k`` survivors rerank at full
        float precision — returned ``cosine_sim`` values are always exact.
        """
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        probe_lists = _nearest_lists(self.centroids, probe, n_probe)
        scan = self.spark.read.parquet(self.path).filter(
            F.col("ivf_list").isin(probe_lists)
        )
        if coarse == "int8":
            if "qvec" not in scan.columns:
                raise ValueError(
                    "coarse='int8' needs a quantized layout — build the "
                    "index with quantize=True"
                )
            return quantized_topk_rerank(
                scan,
                probe,
                k=k,
                oversample=oversample,
                id_col=self.id_col,
                vec_col=self.vec_col,
            )
        if coarse != "exact":
            raise ValueError(f"coarse must be 'exact' or 'int8', got {coarse!r}")
        sim = _probe_sim(scan, self.vec_col, probe)
        return (
            scan.select(F.col(self.id_col), sim.alias("cosine_sim"))
            .orderBy(F.col("cosine_sim").desc(), F.col(self.id_col))
            .limit(k)
        )


def ivf_topk(
    df: DataFrame,
    probe: list[float],
    k: int = 20,
    n_lists: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """One-shot IVF top-k: cluster + probe in a single call. For repeated
    probes use ``IvfIndex.build(...)`` once and ``index.probe(...)`` per
    query — this convenience form pays the KMeans fit on every call."""
    assigned, centroids = ivf_assignments(
        df, n_lists=n_lists, id_col=id_col, vec_col=vec_col, seed=seed
    )
    probe_lists = _nearest_lists(centroids, probe, n_probe)

    sim = _probe_sim(assigned, vec_col, probe)
    return (
        assigned.filter(F.col("ivf_list").isin(probe_lists))
        .select(F.col(id_col), sim.alias("cosine_sim"))
        .orderBy(F.col("cosine_sim").desc(), F.col(id_col))
        .limit(k)
    )


def cosine_self_join_topk(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Embedding near-duplicate pairs: all pairs within one LSH bucket with
    cosine ≥ threshold. The self-join key is the bucket — quadratic only in
    bucket occupancy (expected n/2^planes), linear in corpus size. The
    bucketed frame is pinned before the self-join so the corpus is
    scanned and hashed once, not per join side (Spark evaluates each side
    independently; see :func:`~..operators.dedup._pin` for the rationale);
    ``materialize=False`` keeps the plan fully lazy."""
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import _pin

    # the L2 norm folds ONCE per row inside the pinned frame, not per pair:
    # the pair similarity below is a single fold + divide with the exact
    # float sequence cosine_similarity produces (dot/(sqrt(aa)*sqrt(bb))).
    # The pin keeps ONLY the columns the join consumes — checkpointing the
    # caller's full frame would persist the original vector column and all
    # unrelated metadata alongside the float64 copy
    b = _pin(
        with_lsh_buckets(df, vec_col, n_planes, seed, dim=dim)
        .withColumn("_v", to_double_array(F.col(vec_col)))
        .withColumn("_n", F.sqrt(dot(F.col("_v"), F.col("_v"))))
        .select(id_col, "lsh_bucket", "_v", "_n"),
        materialize,
    )
    a = b.select(
        F.col("lsh_bucket"),
        F.col(id_col).alias("id_a"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    c = b.select(
        F.col("lsh_bucket"),
        F.col(id_col).alias("id_b"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    sim = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
    )
    return (
        a.join(c, "lsh_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", sim)
        .filter(F.col("cosine_sim") >= threshold)
        .select("id_a", "id_b", "cosine_sim")
        .distinct()
    )


def hard_negatives(
    df: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    n_planes: int = 6,
    seed: int = 42,
    dim: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Mine hard negatives for contrastive training: for each anchor, the
    ``k`` most cosine-similar vectors with a DIFFERENT ``label_col`` —
    the pairs that teach an embedding model the most (similar-looking but
    semantically distinct).

    Returns (anchor_id, negative_id, label, neg_label, cosine_sim, rank),
    rank 1 = hardest.

    Scale shape: same LSH-bucket discipline as every pair operator here —
    the corpus is hashed once (pinned), the self-join keys on the bucket
    (quadratic only in bucket occupancy, expected n/2^planes), the label
    inequality filters inside the bucket join, and a per-anchor window
    takes top-``k``. Candidates outside the anchor's bucket are missed —
    the standard LSH recall trade; lower ``n_planes`` (bigger buckets)
    buys recall with bucket-occupancy cost. Never an all-pairs join.
    """
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import _pin

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    # per-row norm folded once in the pinned, column-pruned frame (see
    # cosine_self_join_topk): pair cost drops to one fold + divide
    b = _pin(
        with_lsh_buckets(df, vec_col, n_planes, seed, dim=dim)
        .withColumn("_v", to_double_array(F.col(vec_col)))
        .withColumn("_n", F.sqrt(dot(F.col("_v"), F.col("_v"))))
        .select(id_col, label_col, "lsh_bucket", "_v", "_n"),
        materialize,
    )
    a = b.select(
        "lsh_bucket",
        F.col(id_col).alias("anchor_id"),
        F.col(label_col).alias("label"),
        F.col("_v").alias("va"),
        F.col("_n").alias("na"),
    )
    c = b.select(
        "lsh_bucket",
        F.col(id_col).alias("negative_id"),
        F.col(label_col).alias("neg_label"),
        F.col("_v").alias("vb"),
        F.col("_n").alias("nb"),
    )
    sim = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
    )
    pairs = (
        a.join(c, "lsh_bucket")
        .filter(F.col("label") != F.col("neg_label"))
        .withColumn("cosine_sim", sim)
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.col("negative_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("anchor_id", "negative_id", "label", "neg_label", "cosine_sim", "rank")
    )


def semantic_dedup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    centroids: list[list[float]] | None = None,
    sample_fraction: float = 1.0,
    materialize: bool = True,
    list_col: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the embedding space, then compare pairs ONLY
    within a cluster — cosine >= ``threshold`` marks a semantic duplicate.

    This is the learned-partition counterpart of the hyperplane-LSH
    near-dup join (:func:`cosine_self_join_topk`): k-means lists adapt to
    the data distribution, so semantically close points co-locate even
    where random hyperplanes would split them. Pairs crossing a cluster
    boundary are missed BY DESIGN — that is SemDeDup's stated
    approximation, traded for making the quadratic local to each list.

    ``centroids``: pass a fixed centroid list (e.g. medoids) to skip KMeans
    — reproducible across engines and runs; otherwise seeded Spark-ML
    KMeans trains on ``sample_fraction`` of the corpus.

    Scale shape: one corpus pass to assign (pure JVM expression for fixed
    centroids), ONE shuffle to group members by ``ivf_list``, then pair
    generation and the cosine cut run join-free in array space — quadratic
    only within a list. At 100 TB raise ``n_lists`` so per-list occupancy
    stays bounded (SemDeDup used ~100k clusters for web corpora; occupancy
    also bounds the per-cluster member-array row width here).
    Output: (id_a, id_b, cosine_sim), id_a < id_b.

    ``materialize`` is retained for API compatibility; the join-free shape
    consumes the assignment exactly once, so there is nothing to pin.
    """
    if list_col is not None:
        # reuse a precomputed assignment (a pinned frame, or an IvfIndex's
        # stored layout) — assignment is the expensive half when centroids
        # number in the dozens, so callers that need the list id anyway
        # should compute it once and pass it through
        assigned = df.select(
            F.col(id_col),
            F.col(list_col).alias("ivf_list"),
            to_double_array(F.col(vec_col)).alias("_v"),
        )
    elif centroids is not None:
        assigned = df.select(
            F.col(id_col),
            assign_to_centroids(F.col(vec_col), centroids).alias("ivf_list"),
            to_double_array(F.col(vec_col)).alias("_v"),
        )
    else:
        with_lists, _ = ivf_assignments(
            df,
            n_lists=n_lists,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            sample_fraction=sample_fraction,
        )
        assigned = with_lists.select(
            F.col(id_col),
            F.col("ivf_list"),
            to_double_array(F.col(vec_col)).alias("_v"),
        )
    # pair generation is JOIN-FREE: group each cluster's (id, vector)
    # members into one id-sorted array, give every member the SLICE of
    # strictly-greater-id members, and explode — id_a < id_b by the sort,
    # each unordered pair produced exactly once. One shuffle (the groupBy),
    # no checkpoint, no self-join. (The previous formulation self-joined a
    # localCheckpoint on ivf_list; besides the extra shuffle it tripped a
    # Spark 4.1 executor-side lambda-binding failure —
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND — when the fold-cosine consumed
    # renamed vector columns from both sides of the deduplicated scan.)
    # Row width is bounded by per-cluster occupancy, the quantity SemDeDup
    # already requires you to bound via n_lists.
    # each member's L2 norm folds ONCE here (narrow, pre-shuffle) instead of
    # once per pair — the pair cosine below is a single fold + one divide,
    # with the exact float sequence dot/(sqrt(dot aa)*sqrt(dot bb)) the
    # all-in-one cosine_similarity would produce (same ops, same order)
    norm = F.sqrt(dot(F.col("_v"), F.col("_v")))
    members = assigned.groupBy("ivf_list").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("id"),
                    F.col("_v").alias("v"),
                    norm.alias("n"),
                )
            )
        ).alias("_ms")
    )
    lhs = members.select(
        "ivf_list",
        F.posexplode("_ms").alias("_i", "_a"),
        F.col("_ms"),
    ).select(
        F.col("_a").alias("_a"),
        # 1-based slice from position _i+2: every member AFTER _a
        F.expr("slice(_ms, _i + 2, size(_ms))").alias("_rest"),
    )
    na, nb = F.col("_a.n"), F.col("_b.n")
    sim = F.when(
        (na > 0) & (nb > 0), dot(F.col("_a.v"), F.col("_b.v")) / (na * nb)
    )
    return (
        lhs.select(
            "_a", F.explode("_rest").alias("_b")
        )
        .select(
            F.col("_a.id").alias("id_a"),
            F.col("_b.id").alias("id_b"),
            sim.alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    **kwargs,
) -> DataFrame:
    """Survivors of SemDeDup: drop every row whose embedding has cosine >=
    ``threshold`` to a LOWER-id row in the same cluster (one-hop, matching
    ``dedup_minhash_lsh`` semantics; feed :func:`semantic_dedup_pairs`
    through ``operators.dedup.connected_components`` when transitive
    clusters are wanted). Keyword args pass through to
    :func:`semantic_dedup_pairs`."""
    pairs = semantic_dedup_pairs(
        df, threshold=threshold, id_col=id_col, vec_col=vec_col, **kwargs
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


class SemanticDedupIndex:
    """Incremental SEMANTIC dedup index (r13) — the embedding member of
    the index-store family (``dedup.ExactDigestIndex`` /
    ``dedup.MinHashIndex`` / ``image_dedup.ImageDedupIndex`` /
    ``audio_dedup.AudioDedupIndex``): dedupe NEW embedding batches
    against every vector seen so far without recomputing anything over
    the corpus — the streaming form of :func:`semantic_dedup`.

    The store persists (ivf_list, vec_id, v, n) parquet-PARTITIONED BY
    ``ivf_list`` against FIXED centroids carried in the meta sidecar
    (the IvfIndex rule: re-clustering is an explicit rebuild, never an
    ingest side effect — centroid drift would invalidate every stored
    assignment). Probing a batch assigns its vectors with the same
    pure-JVM :func:`assign_to_centroids` expression, collects the
    batch's touched list ids (driver-bounded by n_lists), and filters
    the store to those partitions — a PRUNED scan (PartitionFilters in
    the plan, tested) joined list-local against the batch; cosine >=
    ``threshold`` marks the NEW vector a loser (arrival-order
    precedence, the streaming analog of the batch façade's lowest-id
    rule). SemDeDup's stated approximation carries over verbatim:
    pairs crossing a list boundary are missed BY DESIGN.

    ``dedup_batch`` follows the family discipline exactly: the batch's
    assignment is pinned once and feeds the store probe, the in-batch
    lowest-id pass (:func:`semantic_dedup_pairs` over the precomputed
    ``list_col``), and the append; ALL batch vectors are appended
    (later near-dups of a dropped vector still dedup); same-batch
    stored ids are excluded from the store probe, so a crash-replayed
    batch reproduces identical verdicts.

    At 100 TB: per-list occupancy is the quantity to bound (raise
    n_lists at build, exactly as :func:`semantic_dedup_pairs`
    documents); a probe costs |batch| x n_lists assignment distance
    folds plus a join bounded by the touched lists' occupancy."""

    META_FILE = "_semantic_meta.json"

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        centroids: list[list[float]],
        threshold: float,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        auto_compact_files: int | None = None,
    ) -> None:
        n_lists = len(centroids)
        if auto_compact_files is not None and auto_compact_files <= 2 * n_lists:
            raise ValueError(
                f"auto_compact_files ({auto_compact_files}) must exceed "
                f"2 x n_lists ({2 * n_lists}) or every append re-triggers "
                "a full store rewrite"
            )
        self.spark = spark
        self.path = path
        self.centroids = centroids
        self.threshold = float(threshold)
        self.id_col = id_col
        self.vec_col = vec_col
        self.auto_compact_files = auto_compact_files
        self._schema_ddl = (
            "ivf_list INT, vec_id BIGINT, v ARRAY<DOUBLE>, n DOUBLE"
        )

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        threshold: float = 0.95,
        n_lists: int = 16,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        seed: int = 42,
        sample_fraction: float = 1.0,
        centroids: list[list[float]] | None = None,
        auto_compact_files: int | None = None,
    ) -> "SemanticDedupIndex":
        """Seed the store from an initial corpus (vectors only — no
        dedup verdicts; run ``dedup_batch`` for arrivals). Centroids:
        pass a fixed list (medoids — cross-engine reproducible) or let
        seeded KMeans fit them once here."""
        if centroids is None:
            _assigned, centroids = ivf_assignments(
                df, n_lists=n_lists, id_col=id_col, vec_col=vec_col,
                seed=seed, sample_fraction=sample_fraction,
            )
        idx = cls(
            df.sparkSession, path, centroids, threshold, id_col, vec_col,
            auto_compact_files=auto_compact_files,
        )
        idx._assigned(df).write.mode("overwrite").partitionBy(
            "ivf_list"
        ).parquet(path)
        with open(os.path.join(path, cls.META_FILE), "w") as f:
            json.dump(
                {
                    "centroids": centroids,
                    "threshold": idx.threshold,
                    "id_col": id_col,
                    "vec_col": vec_col,
                    "schema": idx._schema_ddl,
                },
                f,
            )
        return idx

    @classmethod
    def load(
        cls, spark: SparkSession, path: str,
        auto_compact_files: int | None = None,
    ) -> "SemanticDedupIndex":
        with open(os.path.join(path, cls.META_FILE)) as f:
            meta = json.load(f)
        return cls(
            spark, path, meta["centroids"], meta["threshold"],
            meta["id_col"], meta["vec_col"],
            auto_compact_files=auto_compact_files,
        )

    @classmethod
    def exists(cls, path: str) -> bool:
        return os.path.exists(os.path.join(path, cls.META_FILE))

    # -- internals -----------------------------------------------------------

    def _assigned(self, df: DataFrame) -> DataFrame:
        """(ivf_list, vec_id, v, n) — the ONE assignment+norm pass; the
        store layout, the probe side, and the in-batch pass all derive
        from this frame so callers pin it once."""
        v = to_double_array(F.col(self.vec_col))
        return df.select(
            assign_to_centroids(F.col(self.vec_col), self.centroids)
            .alias("ivf_list"),
            F.col(self.id_col).cast("bigint").alias("vec_id"),
            v.alias("v"),
            F.sqrt(dot(v, v)).alias("n"),
        )

    def _store(self) -> DataFrame:
        """Snapshot-pinned store frame (the MinHashIndex `_store` rule:
        a later append must never leak into an already-built probe)."""
        import glob as _glob

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (  # noqa: E501
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        files = sorted(
            _glob.glob(os.path.join(self.path, "ivf_list=*", "*.parquet"))
        )
        if not files:
            return self.spark.createDataFrame([], self._schema_ddl)
        return self.spark.read.option("basePath", self.path).parquet(*files)

    # -- operations ----------------------------------------------------------

    def probe(self, df: DataFrame) -> DataFrame:
        """(new_id, stored_id, cosine_sim) for every batch vector with
        cosine >= threshold to a stored vector in the same list.
        Self-matches excluded; the store scan is pruned to the batch's
        touched lists."""
        return self._probe_assigned(
            self._assigned(df).localCheckpoint(eager=True)
        )

    def _probe_assigned(self, assigned: DataFrame) -> DataFrame:
        touched = [
            int(r[0])
            for r in assigned.select("ivf_list").distinct().collect()
        ]
        store = self._store().filter(F.col("ivf_list").isin(touched))
        new = assigned.select(
            "ivf_list", F.col("vec_id").alias("new_id"),
            F.col("v").alias("_nv"), F.col("n").alias("_nn"),
        )
        st = store.select(
            "ivf_list", F.col("vec_id").alias("stored_id"),
            F.col("v").alias("_sv"), F.col("n").alias("_sn"),
        )
        sim = F.when(
            (F.col("_nn") > 0) & (F.col("_sn") > 0),
            dot(F.col("_nv"), F.col("_sv"))
            / (F.col("_nn") * F.col("_sn")),
        )
        return (
            new.join(st, "ivf_list")
            .filter(F.col("new_id") != F.col("stored_id"))
            .select("new_id", "stored_id", sim.alias("cosine_sim"))
            .filter(F.col("cosine_sim") >= F.lit(self.threshold))
        )

    def append(self, df: DataFrame) -> None:
        self._append_assigned(self._assigned(df))

    def _append_assigned(self, assigned: DataFrame) -> None:
        import glob as _glob

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (  # noqa: E501
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        assigned.write.mode("append").partitionBy("ivf_list").parquet(
            self.path
        )
        if self.auto_compact_files is not None:
            n = len(_glob.glob(
                os.path.join(self.path, "ivf_list=*", "*.parquet")
            ))
            if n >= self.auto_compact_files:
                self.compact(min_files=self.auto_compact_files)

    def compact(self, min_files: int = 64) -> int:
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (  # noqa: E501
            compact_partitioned_store,
        )

        return compact_partitioned_store(
            self.spark, self.path, "ivf_list", min_files=min_files
        )

    def dedup_batch(self, df: DataFrame) -> DataFrame:
        """Survivors of the batch: drop vectors with cosine >= threshold
        to the store or to a LOWER-id vector in the same batch, then
        append the batch's vectors. The family's ``dedup_batch``
        discipline verbatim (losers pinned before the append,
        same-batch stored ids excluded for crash-replay idempotence);
        the assignment pass runs ONCE for probe, in-batch pairs, and
        the append."""
        batch_ids = df.select(
            F.col(self.id_col).cast("bigint").alias("stored_id")
        ).distinct()
        assigned = self._assigned(df).localCheckpoint(eager=True)
        vs_store = (
            self._probe_assigned(assigned)
            .join(batch_ids, "stored_id", "left_anti")
            .select(F.col("new_id").alias(self.id_col))
        )
        in_batch = (
            semantic_dedup_pairs(
                assigned.select("vec_id", "ivf_list", "v"),
                threshold=self.threshold, id_col="vec_id", vec_col="v",
                list_col="ivf_list",
            )
            .select(F.col("id_b").alias(self.id_col))
        )
        losers = (
            vs_store.unionByName(in_batch).distinct()
            .localCheckpoint(eager=True)
        )
        survivors = df.join(losers, self.id_col, "left_anti")
        self._append_assigned(assigned)
        return survivors


def knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Exact batched kNN join: the ``k`` most cosine-similar corpus rows for
    EVERY probe row, in ONE corpus scan. Output (probe_id, id, cosine_sim,
    rank), rank 1 = best; ties break to the lower corpus id.

    Scale shape: the probe side is broadcast (an eval/query batch — small by
    contract), candidates are scored in codegen, and the top-k cut is a
    per-probe window over probe-partitioned data — no global sort, and the
    corpus is never shuffled (only the (probe, corpus) score rows move,
    bounded by |probes| x |corpus| — batch probes accordingly, or use
    :func:`lsh_knn_join` when the product is too large).
    """
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        to_double_array(F.col(probe_vec_col)).alias("_p"),
    )
    c = corpus.select(
        F.col(id_col), to_double_array(F.col(vec_col)).alias("_v")
    )
    sim = cosine_similarity(F.col("_v"), F.col("_p"))
    scored = c.join(F.broadcast(p)).select(
        "probe_id",
        id_col,
        sim.alias("cosine_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine_sim", "rank")
    )


def lsh_knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "embedding",
    n_planes: int = 8,
    seed: int = 42,
    multiprobe: bool = True,
    dim: int | None = None,
) -> DataFrame:
    """Approximate batched kNN join — the SCALE form of :func:`knn_join`
    when |probes| x |corpus| scoring is too much: both sides hash to
    sign-LSH buckets with the SAME seeded hyperplanes, each probe expands to
    its own bucket (+ hamming-distance-1 neighbors with ``multiprobe``), and
    scoring runs only inside the bucket equi-join. Same output columns as
    :func:`knn_join`; a probe with zero candidates simply has no rows.

    Scale shape: candidates per probe drop from |corpus| to expected
    (1 + n_planes) x |corpus| / 2^n_planes — the equi-join on ``lsh_bucket``
    is a plain hash join (broadcast here: the exploded probe side stays
    small), never a nested loop. A (probe, corpus) pair can meet in at most
    ONE bucket — the corpus row has exactly one bucket and the probe's
    expansion list is distinct — so no dedup pass is needed before the
    window. Recall is tunable via ``n_planes``/``multiprobe``; measure with
    :func:`topk_recall` against an exact :func:`knn_join` on a probe sample.
    """
    if dim is None:
        dim = embedding_dim(corpus, vec_col)
    planes = hyperplanes(dim, n_planes, seed)
    c = with_lsh_buckets(corpus, vec_col, n_planes, seed, dim=dim).select(
        F.col(id_col),
        to_double_array(F.col(vec_col)).alias("_v"),
        F.col("lsh_bucket"),
    )
    p = with_lsh_buckets(
        probes.select(
            F.col(probe_id_col).alias("probe_id"),
            F.col(probe_vec_col).alias("_pvec"),
        ),
        "_pvec",
        n_planes,
        seed,
        dim=dim,
    )
    if multiprobe and n_planes > 0:
        expansion = F.array(
            F.col("lsh_bucket"),
            *[
                F.col("lsh_bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ],
        )
    else:
        expansion = F.array(F.col("lsh_bucket"))
    p = p.select(
        "probe_id",
        to_double_array(F.col("_pvec")).alias("_p"),
        F.explode(expansion).alias("lsh_bucket"),
    )
    sim = cosine_similarity(F.col("_v"), F.col("_p"))
    scored = c.join(F.broadcast(p), "lsh_bucket").select(
        "probe_id",
        id_col,
        sim.alias("cosine_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine_sim", "rank")
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    probe_id_col: str = "probe_id",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN quality measurement: per-probe recall of an approximate top-k
    result against the exact one — recall@k = |approx ∩ exact| / |exact|.
    Feed it :func:`lsh_knn_join` (or IVF probes) vs :func:`knn_join` over
    the SAME probe sample; average the ``recall`` column for the headline
    number. Probes with no approx rows (empty buckets) score 0.0, so the
    output is 1:1 with the exact side's probes and the average is honest.

    Both inputs are top-k frames (|probes| x k rows), so every join and
    aggregate here is control-plane-sized regardless of corpus scale.
    """
    e = exact.groupBy(F.col(probe_id_col).alias("probe_id")).agg(
        F.count("*").alias("n_exact")
    )
    hits = (
        approx.select(F.col(probe_id_col).alias("probe_id"), id_col)
        .join(
            exact.select(F.col(probe_id_col).alias("probe_id"), id_col),
            ["probe_id", id_col],
        )
        .groupBy("probe_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        e.join(hits, "probe_id", "left")
        .withColumn("n_hit", F.coalesce(F.col("n_hit"), F.lit(0)))
        .withColumn("recall", F.col("n_hit") / F.col("n_exact"))
    )


def nearest_lists_expr(vec: Column, centroids: list[list[float]], n_probe: int) -> Column:
    """The ``n_probe`` nearest centroid ids for a VECTOR COLUMN, as an
    ARRAY<INT> expression — the batch dual of the driver-side
    :func:`_nearest_lists`. Same bit-reproducible d2 folds and
    lowest-cid tie-break as :func:`assign_to_centroids` (whose argmin is
    exactly this with ``n_probe=1``); centroid data rides one nested-array
    literal so plan size stays O(1) in centroid count."""
    v = to_double_array(vec)
    vv = dot(v, v)
    cents = F.lit([[float(x) for x in c] for c in centroids]).cast(
        "array<array<double>>"
    )
    ccs = []
    for c in centroids:
        acc = 0.0
        for x in c:
            acc = acc + float(x) * float(x)
        ccs.append(acc)
    cc_lit = F.lit(ccs).cast("array<double>")
    cands = F.transform(
        cents,
        lambda c, i: F.struct(
            (vv - F.lit(2.0) * dot(v, c) + F.element_at(cc_lit, i + 1)).alias("d2"),
            i.cast("int").alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(cands), 1, int(n_probe)), lambda s: s["cid"]
    )


def ivf_knn_join(
    corpus: DataFrame,
    probes: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    probe_vec_col: str = "embedding",
) -> DataFrame:
    """Approximate batched kNN join over LEARNED partitions — the IVF dual
    of :func:`lsh_knn_join`, completing the batch-ANN matrix (exact
    :func:`knn_join` / hyperplane :func:`lsh_knn_join` / centroid-list
    here). Corpus rows go to their nearest-centroid list, every probe
    expands to its ``n_probe`` nearest lists, and scoring runs only inside
    the list equi-join. Output (probe_id, id, cosine_sim, rank) like the
    siblings; ``n_probe = len(centroids)`` degenerates to the exact join.

    Scale shape: the list assignment is the same one scan an
    ``IvfIndex.build`` performs (pass the index's stored centroids to probe
    a prebuilt layout semantically); candidates per probe are the occupancy
    of its ``n_probe`` lists; the exploded probe side stays
    |probes| x n_probe and broadcasts, so the corpus never shuffles. A
    (probe, corpus) pair meets in at most one list — the probe's expansion
    is distinct — so no dedup pass follows.
    """
    assigned = corpus.select(
        F.col(id_col),
        to_double_array(F.col(vec_col)).alias("_v"),
        assign_to_centroids(F.col(vec_col), centroids).alias("ivf_list"),
    )
    p = probes.select(
        F.col(probe_id_col).alias("probe_id"),
        to_double_array(F.col(probe_vec_col)).alias("_p"),
        F.explode(
            nearest_lists_expr(F.col(probe_vec_col), centroids, n_probe)
        ).alias("ivf_list"),
    )
    sim = cosine_similarity(F.col("_v"), F.col("_p"))
    scored = assigned.join(F.broadcast(p), "ivf_list").select(
        "probe_id",
        id_col,
        sim.alias("cosine_sim"),
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cosine_sim").desc(), F.col(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", id_col, "cosine_sim", "rank")
    )
