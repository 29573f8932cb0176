"""Vector functions over ARRAY<FLOAT|DOUBLE> embedding columns.

Built on `F.zip_with` / `F.aggregate` — higher-order functions evaluated
JVM-side per row, no Python round-trip — the scan-speed path for
similarity search over billions of embeddings. Accumulation order is
element order (left fold), so results are bit-deterministic for a given
row in any engine that folds left-to-right (DuckDB's list_inner_product
matches; verified by the oracle harness).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def to_double_array(col: Column) -> Column:
    return col.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    # NULL (not an ANSI DIVIDE_BY_ZERO crash) when either side is the zero
    # vector — one degenerate embedding in a 100 TB corpus must rank last,
    # not kill the job; desc ordering puts NULLs last by default
    na, nb = l2_norm(a), l2_norm(b)
    return F.when((na > 0) & (nb > 0), dot(a, b) / (na * nb))


def euclidean_distance(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


# --- int8 scalar quantization ------------------------------------------------
#
# Symmetric per-vector max-abs quantization: q_i = round(x_i / scale) with
# scale = max|x| / 127, stored as ARRAY<TINYINT> + one FLOAT scale — 4x
# smaller than float32 at rest AND in flight (a coarse ANN scan reads only
# the byte column; shuffles/broadcasts of candidate vectors shrink 4x).
# For COSINE the per-vector scales cancel, so the quantized similarity
# needs no dequantization at all. Everything stays codegen (higher-order
# functions, no UDF); round() is HALF_UP (away from zero), mirrored
# exactly by reference_quantize for cross-engine parity tests.

QUANT_MAX = 127


def quantize_scale(vec: Column) -> Column:
    """Per-vector quantization scale: max|x| / 127 (0.0 for a zero or
    empty vector — its quantized form is all zeros either way)."""
    max_abs = F.aggregate(
        vec,
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, F.abs(x)),
    )
    return (max_abs / F.lit(float(QUANT_MAX))).cast("float")


def quantize_vector(vec: Column, scale: Column) -> Column:
    """ARRAY<TINYINT> image of ``vec`` under ``scale`` (elements in
    [-127, 127]; a zero scale maps everything to 0)."""
    # clamp BEFORE the tinyint cast: the float32-rounded scale can be a hair
    # below max|x|/127, pushing round() to 128 — which would WRAP to -128
    # under a bare cast (non-ANSI), flipping the largest element's sign
    return F.transform(
        vec,
        lambda x: F.when(
            scale > 0,
            F.greatest(
                F.lit(-float(QUANT_MAX)),
                F.least(F.lit(float(QUANT_MAX)), F.round(x / scale)),
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("tinyint"),
    )


def dequantize_vector(qvec: Column, scale: Column) -> Column:
    """ARRAY<DOUBLE> reconstruction; per-element error <= scale/2."""
    return F.transform(qvec, lambda q: q.cast("double") * scale)


def quantized_cosine(qa: Column, qb: Column) -> Column:
    """Cosine over two quantized vectors — scales cancel, so this is the
    integer-dot / norms ratio with NO dequantization. NULL for a zero
    (all-0 quantized) side, matching cosine_similarity's 0-norm NULL."""
    da = F.aggregate(
        F.zip_with(qa, qb, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    na = F.sqrt(
        F.aggregate(
            qa, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            qb, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
        )
    )
    return F.when((na > 0) & (nb > 0), da / (na * nb))


# --- Arrow cosine kernels (r14 optimization round, guide §4.2) ---------------
#
# The fold-based dot/cosine above are lambda-bearing trees: Catalyst
# evaluates them INTERPRETED per element (no codegen for higher-order
# functions), ~2·dim boxed ops per row/pair — the same cost class the r13
# round killed in the centroid-assign / PQ-encode / classifier kernels.
# These kernels are the cosine members of that family: per batch, the
# products are one elementwise float64 multiply and the fold is
# ``np.cumsum`` (strictly left-to-right — the identical IEEE-754 op
# sequence as the F.aggregate fold, so results are bit-equal; np.sum's
# pairwise reduction would NOT be). ``sqrt`` is correctly-rounded IEEE in
# both engines. NULL contracts are mirrored through the float64 NaN
# channel: a NULL array / length-mismatched pair yields NaN here, and the
# pandas→Arrow boundary transports NaN as SQL NULL — exactly the NULL the
# JVM fold (zip_with pads with NULL → NULL product → NULL fold) or the
# zero-norm ``when`` guard produces. The ONE divergent corner: a vector
# with a ±inf element (finite-norm overflow) makes the JVM expression
# produce NaN where these kernels produce NULL (NaN cannot cross the
# pandas→Arrow boundary); unreachable for finite embeddings, and the
# declared queries' round→decimal cast maps NaN to NULL anyway.
#
# ``COSINE_ARROW`` is the A/B lever / opt-out (the SIMHASH_ARROW idiom);
# dispatch additionally requires a live session to own any broadcast and,
# where the dimension is knowable at plan time, dim >= COSINE_ARROW_MIN_DIM
# (tiny vectors are not worth a Python worker round-trip).

COSINE_ARROW = True
COSINE_ARROW_MIN_DIM = 16

def _seq_fold_dot(a) -> float:
    """Driver-side sequential self-dot — the exact fold order."""
    acc = 0.0
    for x in a:
        acc = acc + float(x) * float(x)
    return acc


def _cumsum_last(m):
    """Row-wise left-fold sum of a 2-D float64 matrix via cumsum."""
    import numpy as np

    if m.shape[1] == 0:
        return np.zeros(m.shape[0], dtype=np.float64)
    return np.cumsum(m, axis=1)[:, -1]


def probe_cosine_arrow_udf(spark, probe: list[float]):
    """Arrow twin of ``cosine_similarity(to_double_array(col),
    lit(probe))``: the probe (and its fold-norm) ride ONE broadcast;
    each batch stacks the fixed-dim rows and runs the cumsum folds.
    NULL for NULL/mismatched-length/zero-norm/non-finite-norm rows —
    the guarded JVM result (see the NaN-channel note above)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    P = np.asarray([float(x) for x in probe], dtype=np.float64)
    import math

    npb = math.sqrt(_seq_fold_dot(P))
    bc = spark.sparkContext.broadcast((P, npb))

    def sim(vecs):
        import numpy as np

        Pb, npp = bc.value
        dim = Pb.shape[0]
        n = len(vecs)
        out = np.full(n, np.nan, dtype=np.float64)
        if npp > 0:
            idxs = np.fromiter(
                (
                    i
                    for i, v in enumerate(vecs)
                    if v is not None and len(v) == dim
                ),
                dtype=np.int64,
                count=-1,
            )
            for s in range(0, idxs.size, 8192):
                sel = idxs[s : s + 8192]
                V = np.stack(
                    [np.asarray(vecs[i], dtype=np.float64) for i in sel]
                )
                na = np.sqrt(_cumsum_last(V * V))
                d = _cumsum_last(V * Pb[None, :])
                with np.errstate(divide="ignore", invalid="ignore"):
                    s_ = d / (na * npp)
                # zero/NaN norms: the JVM when-guard result is NULL
                s_[~(na > 0)] = np.nan
                out[sel] = s_
        return pd.Series(out)

    sim.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4): pure function, but the marking
    # stops the optimizer re-evaluating the kernel below a pushed
    # filter over its output (two ArrowEvalPython nodes otherwise;
    # asserted in tests/test_cosine_arrow.py)
    return pandas_udf("double")(sim).asNondeterministic()


def quantized_probe_cosine_arrow_udf(spark, q_probe: list[int]):
    """Arrow twin of ``quantized_cosine(qcol, lit(q_probe))`` — pure
    integer inputs widened to float64 exactly, so every corner is
    bit-identical (no inf/NaN channel at all: |q| <= 127)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    Q = np.asarray([float(int(x)) for x in q_probe], dtype=np.float64)
    import math

    nqb = math.sqrt(_seq_fold_dot(Q))
    bc = spark.sparkContext.broadcast((Q, nqb))

    def sim(qvecs):
        import numpy as np

        Qb, nq = bc.value
        dim = Qb.shape[0]
        n = len(qvecs)
        out = np.full(n, np.nan, dtype=np.float64)
        if nq > 0:
            idxs = np.fromiter(
                (
                    i
                    for i, v in enumerate(qvecs)
                    if v is not None and len(v) == dim
                ),
                dtype=np.int64,
                count=-1,
            )
            for s in range(0, idxs.size, 8192):
                sel = idxs[s : s + 8192]
                V = np.stack(
                    [np.asarray(qvecs[i], dtype=np.float64) for i in sel]
                )
                na = np.sqrt(_cumsum_last(V * V))
                d = _cumsum_last(V * Qb[None, :])
                with np.errstate(divide="ignore", invalid="ignore"):
                    s_ = d / (na * nq)
                s_[~(na > 0)] = np.nan
                out[sel] = s_
        return pd.Series(out)

    sim.__annotations__ = {"qvecs": pd.Series, "return": pd.Series}
    # asNondeterministic (guide §4.4): pure function, but the marking
    # stops the optimizer re-evaluating the kernel below a pushed
    # filter over its output (two ArrowEvalPython nodes otherwise;
    # asserted in tests/test_cosine_arrow.py)
    return pandas_udf("double")(sim).asNondeterministic()


def reference_quantize(vec: list[float]) -> tuple[list[int], float]:
    """Pure-Python mirror of quantize_scale + quantize_vector (HALF_UP
    rounding, away from zero — Spark's round()) for parity tests."""
    import math

    max_abs = max((abs(x) for x in vec), default=0.0)
    scale = float(np_float32(max_abs / QUANT_MAX))
    if scale <= 0:
        return [0] * len(vec), scale
    out = []
    for x in vec:
        v = x / scale
        r = math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)
        out.append(max(-QUANT_MAX, min(QUANT_MAX, int(r))))
    return out, scale


def np_float32(x: float) -> float:
    """Round-trip through float32 — the stored precision of the scale."""
    import struct

    return struct.unpack("f", struct.pack("f", x))[0]
