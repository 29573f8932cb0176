"""Corpus profiling: the standing report a curation team runs before and
after every pipeline change, composed from the engine's sketch/text
primitives with the minimum number of corpus scans.

``describe_corpus`` answers "what is in this corpus" in TWO jobs total:

1. one whole-corpus aggregate — row count, token-count/char-count GK
   quantiles, quality share, HLL distinct estimate of the content
   fingerprint (near-exact duplicate rate without a dedup pass);
2. one groupBy(language) histogram (map-side combined, ≤ #languages rows).

Everything is a mergeable aggregate — at 100 TB both jobs are one pass over
the parquet scan each, no collect of row data, no joins. Contrast with the
naive notebook version: one count() + one approx quantile + one distinct
count + one filter-count + one groupBy = five scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.atomic import write_atomic
from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
    doc_fingerprint,
    langid_heuristic,
    quality_columns,
)


def describe_corpus(
    df: DataFrame,
    text_col: str = "text",
    quantiles: tuple[float, ...] = (0.1, 0.5, 0.9, 0.99),
    rel_err: float = 0.01,
    hll_lg_k: int = 12,
) -> tuple[DataFrame, DataFrame]:
    """Returns ``(summary, lang_mix)``.

    ``summary`` (one row): ``n_docs``, ``n_null_text`` (rows with NULL
    ``text_col`` — counted explicitly, never blended into the other
    stats), ``n_tokens_total``, ``token_quantiles`` / ``char_quantiles``
    (arrays aligned with ``quantiles``), ``quality_share`` (fraction of
    ALL docs passing the standard gate; NULL text fails),
    ``approx_distinct_docs`` (HLL over ``doc_fingerprint`` — the SAME
    normalized-content hash the exact-dedup operator keys on, so the
    estimate predicts that pass OVER THE NON-NULL DOCS; NULL-text rows
    are excluded here and reported as ``n_null_text`` — note
    ``dedup_exact`` itself would group all NULL fingerprints into one
    bucket, so filter NULL text before running it),
    ``dup_rate_est`` ((non-null docs − distinct) / n_docs, clamped ≥ 0).

    ``lang_mix``: one row per detected language with ``n`` and ``share``,
    descending.
    """
    text = F.col(text_col)
    q = quality_columns(text)
    accuracy = max(1, int(1.0 / max(rel_err, 1e-6)))
    probs = F.array(*[F.lit(p) for p in quantiles])

    prepared = df.select(
        q["n_tokens"].alias("_tok"),
        q["n_chars"].alias("_chr"),
        # NULL text -> gate columns are NULL; a NULL-text doc FAILS the
        # gate (coalesce to 0) instead of silently dropping out of the
        # quality_share denominator
        F.coalesce(q["is_quality"].cast("int"), F.lit(0)).alias("_ok"),
        doc_fingerprint(text).alias("_fp"),
    )
    summary = prepared.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(F.col("_fp").isNull(), 1)).alias("n_null_text"),
        F.sum("_tok").alias("n_tokens_total"),
        F.percentile_approx("_tok", probs, F.lit(accuracy)).alias(
            "token_quantiles"
        ),
        F.percentile_approx("_chr", probs, F.lit(accuracy)).alias(
            "char_quantiles"
        ),
        # avg over the coalesced flag = share of ALL docs; 0.0 on empty
        F.coalesce(F.avg("_ok"), F.lit(0.0)).alias("quality_share"),
        F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("_fp"), F.lit(hll_lg_k))
        ).alias("approx_distinct_docs"),
    ).withColumn(
        # duplicates are counted among NON-NULL docs (HLL never sees NULL
        # fingerprints); clamped at 0 since HLL can over-estimate distinct
        # slightly, and "-0.2% duplicates" reads as a bug, not an error bar
        "dup_rate_est",
        F.when(
            F.col("n_docs") > 0,
            F.greatest(
                F.lit(0.0),
                (
                    F.col("n_docs")
                    - F.col("n_null_text")
                    # NULL estimate (all-NULL corpus: the HLL saw no rows)
                    # means 0 distinct non-null docs
                    - F.coalesce(F.col("approx_distinct_docs"), F.lit(0.0))
                )
                / F.col("n_docs"),
            ),
        ).otherwise(F.lit(0.0)),
    )

    counts = df.groupBy(langid_heuristic(text).alias("lang")).agg(
        F.count(F.lit(1)).alias("n")
    )
    total = counts.agg(F.sum("n").alias("_total"))
    lang_mix = (
        counts.join(F.broadcast(total))
        .select("lang", "n", (F.col("n") / F.col("_total")).alias("share"))
        .orderBy(F.desc("n"), "lang")
    )
    return summary, lang_mix


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    hll_rsd: float = 0.02,
) -> DataFrame:
    """Generic per-column profile of ANY table in ONE aggregate job — the
    engine-side ``describe`` a replication operator runs after a full load
    (does the replica look sane?) and a curation team runs on a new drop.

    Returns one row per profiled column: ``column``, ``n_rows``,
    ``n_nulls``, ``null_frac``, ``approx_distinct`` (HLL, rsd
    ``hll_rsd``), ``min`` / ``max`` (as strings — one schema fits every
    column type), plus ``mean`` for numeric columns (NULL otherwise).

    Scale shape: every statistic is a mergeable aggregate, so the whole
    profile is ONE map-side-combined pass regardless of column count —
    contrast five-scans-per-column notebook profiling. The per-column
    rows come from unpivoting a single aggregated row (control-plane
    sized), not from per-column jobs. Complex-typed columns (arrays,
    structs, maps, binary) are profiled for nulls/distinct via their
    to_json image and report NULL min/max/mean.
    """
    from pyspark.sql import types as T

    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, c in enumerate(cols):
        dt = df.schema[c].dataType
        col = F.col(c)
        simple = isinstance(
            dt,
            (
                T.NumericType,
                T.StringType,
                T.DateType,
                T.TimestampType,
                T.TimestampNTZType,
                T.BooleanType,
            ),
        )
        # the JSON image of a NULL complex value is the non-null string
        # '{"c":null}' — gate it so NULLs stay invisible to the distinct
        # sketch, matching the simple-column semantics
        keyed = (
            col if simple else F.when(col.isNotNull(), F.to_json(F.struct(col)))
        )
        aggs.append(F.count(col).alias(f"__c{i}"))
        aggs.append(F.approx_count_distinct(keyed, rsd=hll_rsd).alias(f"__d{i}"))
        aggs.append(
            (F.min(col).cast("string") if simple else F.lit(None).cast("string")).alias(
                f"__min{i}"
            )
        )
        aggs.append(
            (F.max(col).cast("string") if simple else F.lit(None).cast("string")).alias(
                f"__max{i}"
            )
        )
        aggs.append(
            (
                F.avg(col)
                if isinstance(dt, T.NumericType)
                else F.lit(None).cast("double")
            ).alias(f"__mean{i}")
        )
    one = df.agg(*aggs)
    per_col = [
        F.struct(
            F.lit(c).alias("column"),
            F.col("__n").alias("n_rows"),
            (F.col("__n") - F.col(f"__c{i}")).alias("n_nulls"),
            F.when(
                F.col("__n") > 0,
                (F.col("__n") - F.col(f"__c{i}")) / F.col("__n"),
            )
            .otherwise(F.lit(0.0))
            .alias("null_frac"),
            F.col(f"__d{i}").alias("approx_distinct"),
            F.col(f"__min{i}").alias("min"),
            F.col(f"__max{i}").alias("max"),
            F.col(f"__mean{i}").alias("mean"),
        )
        for i, c in enumerate(cols)
    ]
    return one.select(F.explode(F.array(*per_col)).alias("p")).select("p.*")


def write_data_card(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    name: str | None = None,
    extra: dict | None = None,
    **describe_kwargs,
) -> dict:
    """Write a corpus DATA CARD — the JSON artifact a curation run ships
    alongside its output so downstream consumers (and audits) see what
    the corpus is without scanning it: size/token/char distributions,
    quality share, estimated duplicate rate, and the language mix, all
    from :func:`describe_corpus`'s two bounded jobs.

    ``extra`` merges caller metadata verbatim (source description,
    pipeline git rev, gate thresholds...). Returns the card dict and
    writes it to ``path`` (driver-side — the card is a few KB; the
    corpus itself never reaches the driver). Keyword args pass through
    to :func:`describe_corpus`.
    """
    import json

    summary, lang_mix = describe_corpus(df, text_col, **describe_kwargs)
    s = summary.first().asDict()
    card = {
        "name": name,
        "n_docs": int(s["n_docs"]),
        "n_null_text": int(s["n_null_text"]),
        "n_tokens_total": int(s["n_tokens_total"] or 0),
        "token_quantiles": [float(x) for x in (s["token_quantiles"] or [])],
        "char_quantiles": [float(x) for x in (s["char_quantiles"] or [])],
        "quality_share": float(s["quality_share"]),
        "approx_distinct_docs": (
            None
            if s["approx_distinct_docs"] is None
            else float(s["approx_distinct_docs"])
        ),
        "dup_rate_est": float(s["dup_rate_est"]),
        "lang_mix": {
            r["lang"]: {"n": int(r["n"]), "share": float(r["share"])}
            for r in lang_mix.collect()
        },
    }
    if extra:
        card["extra"] = dict(extra)
    write_atomic(path, json.dumps(card, indent=2, sort_keys=True))
    return card
