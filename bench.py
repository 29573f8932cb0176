"""Benchmark harness: runs the headline catalog queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>}

Each query is executed to completion (collect) after a warm-up of the
session; timings are per-query wall clock.
"""

from __future__ import annotations

import glob
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sample_dms_kinesis_rds_mariadb_spark.plans import queries as _q  # noqa: E402
from sample_dms_kinesis_rds_mariadb_spark.plans import llm_queries  # noqa: E402,F401
from sample_dms_kinesis_rds_mariadb_spark.session import (  # noqa: E402
    get_session,
    widen_small_input,
)

# the 14 query legs benched since r1 — with the two sink legs below they
# form the 16-leg core whose sum is comparable against BENCH_r01..r04 and
# BASELINE.md; reported separately as "value_core" so adding legs never
# muddies the round-over-round ratio
CORE = [
    "envelope_full_load",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_volume",
    "cdc_apply_latest",
    "per_key_operation_counts",
    "window_topk_per_group",
    "distinct_count",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_topk_cosine",
    "text_quality",
    "token_counts",
    "doc_fingerprints",
]

HEADLINE = CORE + [
    # temporal/dedup operator wave (rounds 3-5): tracked round-over-round
    # like the original legs
    "asof_join_enrich",
    "range_join_incidents",
    "session_windows",
    "simhash_dedup",
    "winnowing_near_dups",
    "semantic_dedup",
]

# In-run contention sentinel (VERDICT r12 item 1b): the committed quiet
# per-leg medians, refreshed each close-out — currently the r13 run A
# reading (calibration 0.557, per-leg sentinel empty; BASELINE.md r13
# section), which also prices the r13 MIH collapse fix and the new
# composed-archive leg into the baseline. A leg whose in-run median AND minimum sample both
# exceed SENTINEL_RATIO x its quiet median is suspected contended: the
# bench auto-appends extra interleaved samples for the suspect set and,
# if the condition still holds, stamps the leg in `contaminated_legs`
# so the official artifact self-adjudicates host noise per leg instead
# of needing a next-round forensic A/B. Legs added after the last
# refresh have no quiet reference and are exempt until the next one.
QUIET_MEDIANS = {
    "archive_expansion": 0.685, "archive_to_document_route": 1.74,
    "asof_join_enrich": 1.045, "audio_fp_near_dups": 1.981,
    "avro_scan": 0.294, "bm25_batch_search": 2.9,
    "boilerplate_removal": 1.153, "budget_shard_column": 1.169,
    "c4_quality_flags": 0.248, "cdc_apply_latest": 0.517,
    "classifier_inference": 2.453, "classifier_train": 6.0,
    "connected_components_minhash": 4.599, "contamination_scores": 1.05,
    "decontaminate_bloom": 4.791, "dedup_exact": 0.479,
    "dedup_minhash_lsh": 1.181, "distinct_count": 0.747,
    "doc_fingerprints": 0.508, "embedding_topk_cosine": 0.621,
    "envelope_full_load": 0.824, "gopher_quality_flags": 0.283,
    "gopher_repetition_flags": 1.969, "hard_negatives": 1.293,
    "image_dhash_near_dups": 1.279, "lm_perplexity_scoring": 2.84,
    "media_metadata_sweep": 0.612, "mih_hamming_r7_50k": 1.662,
    "pdf_text_extraction": 0.716, "per_key_operation_counts": 0.387,
    "pq_adc_batch32": 4.91, "pq_adc_rerank": 3.783,
    "q1_pricing_summary": 1.062, "q3_shipping_priority": 1.473,
    "q5_region_volume": 1.507, "quantized_topk_rerank": 0.619,
    "range_join_incidents": 0.854, "repeated_span_removal": 1.807,
    "routed_intake_front_door": 3.616, "semantic_dedup": 3.708,
    "session_windows": 0.89, "simhash_dedup": 2.893,
    "text_quality": 0.583, "token_counts": 0.419,
    "vorbis_decode_features": 0.947, "warc_curation_pipeline": 8.848,
    "window_topk_per_group": 0.323, "winnowing_near_dups": 1.336,
    "wordpiece_tokenize": 0.425, "wordpiece_train": 0.493,
}
SENTINEL_RATIO = 1.5

# test/refresh seam: a JSON object in $SPARK_GRAFT_QUIET_MEDIANS_JSON
# replaces the committed table (used by the sentinel's own smoke test;
# also lets a close-out refresh trial a new quiet table before commit)
_env_quiet = os.environ.get("SPARK_GRAFT_QUIET_MEDIANS_JSON")
if _env_quiet:
    QUIET_MEDIANS = json.loads(_env_quiet)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    # wait-for-quiet gate (VERDICT r8 item 3: stamping contaminated wasn't
    # enough — the r7 AND r8 driver artifacts were both taken under load).
    # Before starting the JVM, wait (bounded) for the box to go quiet so
    # whatever moment the driver runs bench, the artifact is clean. Only if
    # the box never quiets do we fall through and stamp contaminated.
    load_limit = float(os.environ.get("SPARK_GRAFT_LOAD_LIMIT", "1.5"))
    quiet_wait = float(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "600"))
    waited_sec = 0.0
    while os.getloadavg()[0] > load_limit and waited_sec < quiet_wait:
        print(
            f"loadavg {os.getloadavg()[0]:.2f} > {load_limit}; waiting for "
            f"quiet ({waited_sec:.0f}/{quiet_wait:.0f}s)...",
            file=sys.stderr,
        )
        time.sleep(30)
        waited_sec += 30

    # host-load context (VERDICT r5: cross-round comparisons needed
    # forensic A/Bs to separate host drift from code — stamp the run so
    # they don't): loadavg at start, and a fixed-work CALIBRATION timing
    # (pure-JVM arithmetic, no IO, no repo code) whose round-over-round
    # ratio estimates the host speed delta independent of any code change.
    # Read BEFORE the JVM starts (r13): the exclusive-runs question is
    # "is anything ELSE running" — two r13 close-out runs were
    # false-stamped by the bench's own JVM spin-up landing in the 1-min
    # average when the sample was taken after get_session
    loadavg_start = list(os.getloadavg())

    spark = get_session(app_name="bench")

    # exclusive-runs protocol guard (VERDICT r7 item 2: BENCH_r07 was taken
    # under concurrent load and was unusable for cross-round deltas). A
    # still-busy box after the quiet wait → the reading is STAMPED
    # contaminated rather than refused (refusing would lose the round's
    # bench entirely; the stamp tells every later reader to ignore the
    # deltas). Threshold overridable for boxes with a different core count.
    contaminated = loadavg_start[0] > load_limit
    if contaminated:
        print(
            f"WARNING: loadavg {loadavg_start[0]:.2f} > {load_limit} at start — "
            "exclusive-runs protocol violated; stamping contaminated=true",
            file=sys.stderr,
        )

    # previous round's calibration for on-the-spot drift comparison: the
    # highest-numbered BENCH_r*.json next to this script
    calibration_prev = None
    here = os.path.dirname(os.path.abspath(__file__))
    prev_benches = sorted(glob.glob(os.path.join(here, "BENCH_r*.json")))
    if prev_benches:
        try:
            with open(prev_benches[-1]) as f:
                prev = json.load(f)
            # the driver wraps bench stdout in {"parsed": {...}, ...}
            prev = prev.get("parsed", prev) or {}
            calibration_prev = {
                "file": os.path.basename(prev_benches[-1]),
                "calibration_sec": prev.get("calibration_sec"),
                "loadavg_start": (prev.get("loadavg") or {}).get("start"),
            }
        except Exception:
            pass

    # warm up the JVM/codegen path AND the parquet reader stack (FS init,
    # footer reader classes) so per-query numbers measure the plan, not
    # first-job startup — the tiny region table (5 rows) touches the whole
    # scan machinery without caching anything the queries use
    spark.range(1000).selectExpr("sum(id)").collect()
    t0 = time.perf_counter()
    spark.range(200_000_000).selectExpr("sum(id * id % 1000)").collect()
    calibration_sec = round(time.perf_counter() - t0, 3)
    from sample_dms_kinesis_rds_mariadb_spark.plans.queries import load_table as _lt

    _lt(spark, sf_dir, "region").count()
    # Python-worker pre-warm (r14, VERDICT r13 item 7 + warm-up hygiene):
    # the FIRST Arrow leg of a session otherwise pays the one-time worker
    # forks + numpy/pandas imports inside its timed cold run (~2-3 s at 32
    # workers, measured as a cold-vs-warm pandas-UDF identity job). One
    # tiny pandas-UDF job here forks the pool untimed — the same class of
    # fixture hygiene as the warc first-touch warm-up; no leg's data or
    # results are touched.
    import pandas as _pd
    from pyspark.sql.functions import col as _col
    from pyspark.sql.functions import pandas_udf as _pudf

    def _ident(s):
        return s

    _ident.__annotations__ = {"s": _pd.Series, "return": _pd.Series}
    _warm_udf = _pudf("long")(_ident)
    _n_warm = spark.sparkContext.defaultParallelism * 2
    spark.range(_n_warm).repartition(_n_warm).select(
        _warm_udf(_col("id"))
    ).write.mode("overwrite").format("noop").save()

    timings: dict[str, float] = {}

    # r11 methodology (VERDICT r10 item 1): the r10 noise mode was an
    # erratic co-tenant burst hitting ONE victim leg per run with 2-5x
    # spikes (decontaminate_bloom 5.7->27.8 s with no code change), which a
    # single point-sample calibration cannot normalize away. Every leg now
    # runs SPARK_GRAFT_LEG_RUNS times (default 3) and its number of record
    # is the per-leg MEDIAN — one spiked run can no longer own the
    # artifact. The first (cold) run of each leg is kept in the sidecar as
    # queries_cold, and value_core stays computed FROM THE COLD RUNS so it
    # remains comparable back to BENCH_r01.
    leg_runs_n = max(int(os.environ.get("SPARK_GRAFT_LEG_RUNS", "3")), 1)
    timings_cold: dict[str, float] = {}
    leg_samples: dict[str, list[float]] = {}
    _deferred: list[tuple[str, object]] = []

    def _robust(name: str, fn):
        # cold run NOW (legs feed each other values: classifier weights,
        # PQ codebooks, WordPiece vocab), repeats DEFERRED into full
        # interleaved sweeps (see _run_deferred_sweeps): back-to-back
        # samples all land inside one co-tenant burst, which is exactly
        # the r10 noise mode — sweep-interleaved samples sit minutes
        # apart, so the median sees at most one burst-contaminated run
        spark.sparkContext.setJobDescription(f"leg:{name}:cold")
        t0 = time.perf_counter()
        out = fn()
        cold = time.perf_counter() - t0
        spark.sparkContext.setJobDescription(None)
        timings_cold[name] = round(cold, 3)
        leg_samples[name] = [round(cold, 3)]
        timings[name] = round(cold, 3)  # provisional until the sweeps
        _deferred.append((name, fn))
        return out

    contaminated_legs: dict[str, dict] = {}

    def _median(name: str) -> float:
        s = sorted(leg_samples[name])
        return round(s[len(s) // 2], 3)

    def _suspect(name: str) -> bool:
        # the committed quiet table is sf0.1-specific: at other SFs
        # (unless an env table was supplied) fixed per-job overhead
        # dominates and the ratios are meaningless — sentinel off
        if sf != "0.1" and not _env_quiet:
            return False
        quiet = QUIET_MEDIANS.get(name)
        if not quiet:  # post-r12 leg: no quiet reference yet
            return False
        bar = SENTINEL_RATIO * quiet
        return _median(name) > bar and min(leg_samples[name]) > bar

    def _run_deferred_sweeps() -> None:
        for sweep_no in range(leg_runs_n - 1):
            for name, fn in _deferred:
                spark.sparkContext.setJobDescription(
                    f"leg:{name}:sweep{sweep_no + 1}"
                )
                t0 = time.perf_counter()
                fn()
                leg_samples[name].append(
                    round(time.perf_counter() - t0, 3)
                )
            spark.sparkContext.setJobDescription(None)
        # contention sentinel (VERDICT r12 item 1b): a leg whose median
        # AND min both sit >SENTINEL_RATIO x its committed quiet median
        # gets extra interleaved samples — a genuine regression stays
        # high (min never drops), a co-tenant burst decays. Legs still
        # over the bar after the extra sweeps are stamped per-leg so
        # the artifact distinguishes "this leg never ran quiet" from
        # "this leg is slow".
        extra_sweeps = max(
            int(os.environ.get("SPARK_GRAFT_SENTINEL_SWEEPS", "2")), 0
        )
        suspects = [
            (name, fn) for name, fn in _deferred if _suspect(name)
        ]
        for sweep in range(extra_sweeps):
            if not suspects:
                break
            print(
                f"sentinel sweep {sweep + 1}/{extra_sweeps}: "
                f"{[n for n, _ in suspects]}",
                file=sys.stderr,
            )
            for name, fn in suspects:
                t0 = time.perf_counter()
                fn()
                leg_samples[name].append(
                    round(time.perf_counter() - t0, 3)
                )
            suspects = [nf for nf in suspects if _suspect(nf[0])]
        for name, _fn in _deferred:
            timings[name] = _median(name)
            if _suspect(name):
                quiet = QUIET_MEDIANS[name]
                contaminated_legs[name] = {
                    "quiet_median": quiet,
                    "median": _median(name),
                    "min": min(leg_samples[name]),
                    "ratio": round(_median(name) / quiet, 2),
                }

    for name in HEADLINE:
        spec = _q.QUERIES[name]

        def _leg(spec=spec):
            df = spec.spark_fn(spark, sf_dir)
            # noop sink: forces full computation of every column without
            # count()-style column pruning or driver-side collect cost
            df.write.mode("overwrite").format("noop").save()

        _robust(name, _leg)

    # transitive-dedup leg: hash-min label propagation over the MinHash LSH
    # candidate pairs (iterative operator — driver-paced rounds, so it is
    # timed as its own leg rather than a catalog entry)
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        connected_components,
        minhash_lsh_candidate_pairs,
    )

    # widen: testdata "documents" is one single-row-group parquet file, so
    # every tokenize/explode stage below would otherwise run on one task
    _docs = widen_small_input(_lt(spark, sf_dir, "documents"))
    _robust(
        "connected_components_minhash",
        lambda: connected_components(
            minhash_lsh_candidate_pairs(_docs, "doc_id", "text")
        ).write.mode("overwrite").format("noop").save(),
    )

    # r5 operator-wave legs (library ops, not catalog queries — timed like
    # the connected-components leg so the new families get round-over-round
    # tracking):
    # 1) cross-doc boilerplate removal: stats shuffle + broadcast filter-back
    from sample_dms_kinesis_rds_mariadb_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    _robust(
        "boilerplate_removal",
        lambda: remove_boilerplate_lines(_docs, "text", "source").write.mode(
            "overwrite"
        ).format("noop").save(),
    )

    # 1b) ExactSubstr repeated-span removal: (id,pos,hash) shuffle +
    # array-space masking
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        remove_repeated_spans,
    )

    _robust(
        "repeated_span_removal",
        lambda: remove_repeated_spans(_docs, "doc_id", "text", span=8)
        .write.mode("overwrite").format("noop").save(),
    )

    # 2) batch BM25: 32 eval queries answered in one corpus scan
    from sample_dms_kinesis_rds_mariadb_spark.operators.search import (
        bm25_batch_search,
    )

    _qs = {
        f"q{i}": f"data {w} table"
        for i, w in enumerate(
            "query scan join filter group sort window stream merge part "
            "fast slow small large key row order customer line spark "
            "index hash range bucket shard batch event state plan code "
            "read write".split()
        )
    }
    _robust(
        "bm25_batch_search",
        lambda: bm25_batch_search(_docs, "doc_id", "text", _qs, k=10)
        .write.mode("overwrite").format("noop").save(),
    )

    # 3) int8 coarse + exact rerank ANN over the embeddings table
    from sample_dms_kinesis_rds_mariadb_spark.operators.similarity import (
        quantize_embeddings,
        quantized_topk_rerank,
    )

    _emb = _lt(spark, sf_dir, "embeddings")
    _probe = [float(x) for x in _emb.limit(1).collect()[0]["embedding"]]

    def _qtr_leg():
        _q8 = quantize_embeddings(_emb)
        quantized_topk_rerank(_q8, _probe, k=20, id_col="vec_id").write.mode(
            "overwrite"
        ).format("noop").save()

    _robust("quantized_topk_rerank", _qtr_leg)

    # r6 additions: the r5 operator families that had no bench leg
    # (VERDICT r6 item 4) — all library legs like the ones above; CORE
    # stays frozen so the round-over-round ratio is unaffected.
    from pyspark.sql import functions as F

    # 5) distributed classifier training (bounded iters) + pure-codegen
    # inference over the corpus
    from sample_dms_kinesis_rds_mariadb_spark.functions.classify import (
        classifier_probability,
        train_classifier,
    )

    _lab = _docs.withColumn("label", (F.length("text") % 2).cast("int"))
    # bounded work: per-iteration cost is plan-compile + one corpus scan
    # (dim-independent), inference cost tracks the weight-literal size —
    # 2 iterations x 4k dims exercises the full train/serve path without
    # letting a constant-cost leg dominate the bench
    _w, _b, _ = _robust(
        "classifier_train",
        lambda: train_classifier(
            _lab, "text", "label", dim=2**12, iterations=2
        ),
    )
    _robust(
        "classifier_inference",
        lambda: _docs.select(
            "doc_id", classifier_probability(F.col("text"), _w, _b).alias("p")
        ).write.mode("overwrite").format("noop").save(),
    )

    # 6) n-gram LM: corpus-trained counts + Arrow-batched perplexity scores
    from sample_dms_kinesis_rds_mariadb_spark.functions.lm import (
        doc_tokens_column,
        make_perplexity_scorer,
        train_ngram_counts,
    )

    def _lm_leg():
        _model = train_ngram_counts(_docs, "text", vocab_size=32_768)
        _scorer = make_perplexity_scorer(spark, _model)
        _docs.select(
            "doc_id", _scorer(doc_tokens_column(F.col("text"))).alias("bpt")
        ).write.mode("overwrite").format("noop").save()

    _robust("lm_perplexity_scoring", _lm_leg)

    # 7) graded contamination scores against a 64-doc benchmark set
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        contamination_scores,
    )

    _bench_docs = _docs.select(
        F.col("doc_id").alias("bench_id"), F.col("text").alias("btext")
    ).limit(64)
    _robust(
        "contamination_scores",
        lambda: contamination_scores(
            _docs, _bench_docs, "doc_id", "text",
            bench_id_col="bench_id", bench_text_col="btext",
        ).write.mode("overwrite").format("noop").save(),
    )

    # 7b) Bloom-prefiltered decontamination (same benchmark set): Bloom
    # build + flag pass + exact verify on the flagged slice
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        decontaminate_bloom,
    )

    _robust(
        "decontaminate_bloom",
        lambda: decontaminate_bloom(
            _docs, _bench_docs, "doc_id", "text",
            bench_id_col="bench_id", bench_text_col="btext",
        ).write.mode("overwrite").format("noop").save(),
    )

    # 7c) Gopher quality gate: one pure-codegen corpus scan
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        gopher_quality_flags,
    )

    _fl = gopher_quality_flags(F.col("text"))
    _robust(
        "gopher_quality_flags",
        lambda: _docs.select(
            "doc_id", *[c.alias(k) for k, c in _fl.items()]
        ).write.mode("overwrite").format("noop").save(),
    )

    # 7d) C4 line cleaning + page gate: one pure-codegen corpus scan
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        c4_clean_text,
        c4_quality_flags,
    )

    _c4 = c4_quality_flags(F.col("text"))
    _robust(
        "c4_quality_flags",
        lambda: _docs.select(
            "doc_id",
            F.length(c4_clean_text(F.col("text"))).alias("clean_len"),
            *[c.alias(k) for k, c in _c4.items()],
        ).write.mode("overwrite").format("noop").save(),
    )

    # 7e) full Gopher repetition table: per-doc array sorts + folds, one scan
    # (r13 note: the staged with_gopher_repetition_flags form was A/B'd here
    # — parity at this doc size (~50 tokens/doc: the fold-struct staging
    # costs what the re-tokenize saves); the inline leg stays as the
    # cross-round currency, the staged form remains the long-document
    # production shape)
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        gopher_repetition_flags,
    )

    _rep = gopher_repetition_flags(F.col("text"))
    _robust(
        "gopher_repetition_flags",
        lambda: _docs.select(
            "doc_id", *[c.alias(k) for k, c in _rep.items()]
        ).write.mode("overwrite").format("noop").save(),
    )

    # 7e') long-document repetition gate (r14, VERDICT r13 item 5): the
    # staged with_gopher_repetition_flags form is the production default
    # for long documents (the inline form re-tokenizes per rule — parity
    # at the ~50-token bench docs, ~1.5-3x at 1000-token docs, r13/r14
    # A/Bs). This leg carries the long-document corpus shape the headline
    # leg cannot: every documents row replicated to ~20x token length.
    # Corpus synthesis is untimed fixture work (the _fps_df rule).
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        with_gopher_repetition_flags,
    )

    # 8x replication ≈ 400-token docs over a 2/5 slice of the corpus:
    # long enough that the staged form's win is visible, small enough
    # that one sidecar leg doesn't own the bench (the 20x/full-corpus
    # shape read 10-23 s a sweep; this shape ~4 s warm)
    _ld_sf = float(sf) if sf.replace(".", "").isdigit() else 0.1
    _longdocs = (
        _docs.filter(F.col("doc_id") < max(int(20_000 * _ld_sf), 200))
        .select(
            "doc_id",
            F.concat_ws("\n", F.array_repeat(F.col("text"), 8)).alias(
                "text"
            ),
        )
        .localCheckpoint(eager=True)
    )
    _rep_keys = list(_rep.keys())
    _robust(
        "gopher_rep_longdoc",
        lambda: with_gopher_repetition_flags(_longdocs, "text").select(
            "doc_id", *_rep_keys
        ).write.mode("overwrite").format("noop").save(),
    )

    # 8) token-budget shard assignment (two-pass distributed prefix sum)
    from sample_dms_kinesis_rds_mariadb_spark.operators.export import (
        budget_shard_column,
    )

    _robust(
        "budget_shard_column",
        lambda: budget_shard_column(
            _docs.withColumn(
                "n_tokens", F.size(F.split(F.col("text"), r"\s+"))
            ),
            "n_tokens",
            budget=100_000,
            order_col="doc_id",
        ).write.mode("overwrite").format("noop").save(),
    )

    # 9) LSH-bucketed hard-negative mining over the embeddings table
    from sample_dms_kinesis_rds_mariadb_spark.operators.similarity import (
        hard_negatives,
    )

    _robust(
        "hard_negatives",
        lambda: hard_negatives(
            _emb.withColumn("label", (F.col("vec_id") % 2).cast("int")),
            k=5,
            id_col="vec_id",
        ).write.mode("overwrite").format("noop").save(),
    )

    # 11) PQ ANN (r8): seed-medoid codebooks (bounded driver read) →
    # pure-JVM per-subspace encode → ADC cosine over 8-byte codes →
    # exact rerank of the 4x candidate slice — the compressed-corpus
    # probe path (codes are m bytes vs 4·dim; the embedding column is
    # read only for the rerank candidates)
    from sample_dms_kinesis_rds_mariadb_spark.operators import pq as _pqm

    _n_emb = _emb.count()  # vec_id is 0..n-1 in the testdata tables
    _pq_medoids = [(i * max(_n_emb // 16, 1) + 7) % _n_emb for i in range(16)]

    def _pq_leg():
        books = _pqm.medoid_pq_codebooks(_emb, _pq_medoids, m=8)
        _pqm.pq_topk_rerank(
            _emb, books, _probe, k=20, coarse_factor=4
        ).write.mode("overwrite").format("noop").save()
        return books

    _books = _robust("pq_adc_rerank", _pq_leg)

    # 11b) batch ADC (r9): a 32-probe eval set answered in ONE codes scan
    # + ONE plan compile — vs 32 Catalyst compiles + 32 jobs through the
    # per-probe path (8.2 s/probe cold in BENCH_r08: the scale-killer this
    # leg exists to watch). LUTs travel as a broadcast frame, the top-k
    # cut is a map-side WindowGroupLimit.
    _probe_rows = _emb.limit(32).collect()
    _probes = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in _probe_rows
    }
    _robust(
        "pq_adc_batch32",
        lambda: _pqm.pq_batch_topk_rerank(
            _emb, _books, _probes, k=20, coarse_factor=4
        ).write.mode("overwrite").format("noop").save(),
    )

    # 12) WordPiece tokenizer: training is ONE distributed piece-count
    # scan + driver merge loop; inference is the Arrow-batched greedy
    # longest-match pass over the corpus
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        bpe_pretokenize,
    )
    from sample_dms_kinesis_rds_mariadb_spark.functions.tokenizers import (
        make_wordpiece_tokenizer,
        train_wordpiece,
    )

    _wp_vocab = _robust(
        "wordpiece_train",
        lambda: train_wordpiece(_docs, "text", vocab_size=512),
    )

    def _wp_leg():
        _wp_tok = make_wordpiece_tokenizer(spark, _wp_vocab)
        _docs.select(
            "doc_id",
            F.size(_wp_tok(bpe_pretokenize(F.col("text")))).alias("n"),
        ).write.mode("overwrite").format("noop").save()

    _robust("wordpiece_tokenize", _wp_leg)

    # 13) media-container metadata sweep (r8): synthesized CBR MP3 payloads
    # (spec-composed frames — header + zero payload, Layer III 128 kbps
    # 44.1 kHz + ID3v2 title) through the unified mapInPandas metadata leg
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_media_metadata,
    )

    def _mp3_blob(i: int, n_frames: int = 96) -> bytes:
        frame = bytes([0xFF, 0xFB, 0x90, 0x00]) + b"\x00" * 413  # 417 B
        title = f"doc-{i}".encode()
        payload = b"TIT2" + len(title + b"\x00").to_bytes(4, "big") + b"\x00\x00" + b"\x00" + title
        sz = len(payload)
        ss = bytes(((sz >> s) & 0x7F) for s in (21, 14, 7, 0))
        return b"ID3\x03\x00\x00" + ss + payload + frame * n_frames

    _sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.1
    _n_media = max(int(2000 * _sf_num), 200)
    _media_rows = [(i, bytearray(_mp3_blob(i))) for i in range(_n_media)]
    _media = spark.createDataFrame(
        _media_rows, "media_id LONG, content BINARY"
    ).repartition(32)
    _robust(
        "media_metadata_sweep",
        lambda: extract_media_metadata(_media).write.mode("overwrite")
        .format("noop").save(),
    )
    media_pipeline = {
        "payloads": _n_media,
        "payloads_per_sec": round(
            _n_media / timings["media_metadata_sweep"], 1
        ),
    }

    # 13b) Vorbis sample decode (r12): a few distinct spec-built Ogg
    # Vorbis payloads replicated across rows — measures the complete
    # in-stream-codebook decode chain (floor1/residue/IMDCT) through
    # the same features leg real crawl audio takes.
    import numpy as np

    from tests.vorbis_writer import write_vorbis

    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        extract_audio_features,
    )

    _vrate = 16000
    _vblobs = []
    for i in range(8):
        _t = np.arange(_vrate // 2) / _vrate
        _sig = (9000 * np.sin(2 * np.pi * (300 + 60 * i) * _t)
                + 3000 * np.sin(2 * np.pi * (900 + 40 * i) * _t)) \
            * np.minimum(_t / 0.05, 1.0)
        _vblobs.append(bytearray(write_vorbis(_sig, _vrate, 1)))
    _n_vorbis = max(int(1000 * _sf_num), 64)
    _vdf = spark.createDataFrame(
        [(i, _vblobs[i % len(_vblobs)]) for i in range(_n_vorbis)],
        "media_id LONG, content BINARY",
    ).repartition(32)
    _robust(
        "vorbis_decode_features",
        lambda: extract_audio_features(_vdf).write.mode("overwrite")
        .format("noop").save(),
    )
    media_pipeline["vorbis_payloads_per_sec"] = round(
        _n_vorbis / timings["vorbis_decode_features"], 1
    )

    # 9a') document front door (r10): one VALID single-page Flate PDF
    # per documents row (built in a quick driver loop over the text
    # column — REAL classic xref table with computed offsets, so the
    # leg measures the normal xref path, not the broken-xref fallback),
    # text pulled back through the REAL ISO 32000 reader via Arrow
    # mapInPandas. Measures reader throughput at SF scale.
    from sample_dms_kinesis_rds_mariadb_spark.sources.docformats import (
        extract_document_texts,
    )

    _n_pdf = max(int(20000 * _sf_num), 150)
    _doc_rows = (
        _lt(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < _n_pdf)
        .select("doc_id", F.substring("text", 1, 400).alias("t"))
        .collect()
    )
    import zlib as _zlib

    def _mini_pdf(txt: str) -> bytes:
        safe = "".join(
            ch if " " <= ch <= "~" and ch not in "\\()" else " "
            for ch in txt
        ).encode("ascii")
        content = b"BT (" + safe + b") Tj ET"
        body = _zlib.compress(content)
        objs = [
            b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(body)
            + body + b"\nendstream",
        ]
        out = bytearray(b"%PDF-1.5\n")
        offsets = []
        for i, o in enumerate(objs):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % (i + 1) + o + b"\nendobj\n"
        xref_pos = len(out)
        out += b"xref\n0 5\n0000000000 65535 f \n"
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % xref_pos
        )
        return bytes(out)

    _pdf_raw = spark.createDataFrame(
        [(int(r["doc_id"]), bytearray(_mini_pdf(r["t"] or "")))
         for r in _doc_rows],
        "doc_id LONG, content BINARY",
    )
    _pdf_df = _pdf_raw.repartition(32)
    _robust(
        "pdf_text_extraction",
        lambda: extract_document_texts(_pdf_df).write.mode("overwrite")
        .format("noop").save(),
    )
    media_pipeline["pdf_docs_per_sec"] = round(
        len(_doc_rows) / timings["pdf_text_extraction"], 1
    )

    # 9a'') routed binary intake (r11): the document front door as the
    # curation facades consume it — HTML payloads stay on the codegen
    # html_to_text path, PDF payloads take the Arrow reader pass, one
    # partition-local union. Measures facade docs/s over a mixed corpus
    # (every documents row: the first _n_pdf as PDFs, the rest as HTML).
    from sample_dms_kinesis_rds_mariadb_spark.sources.docformats import (
        route_document_texts,
    )

    # r12 (VERDICT r11 item 8): the corpus carries EVERY front-door
    # format — PDF + EPUB/DOCX/ODT (stored zips, same driver-loop build
    # as _mini_pdf) + RTF (pure column ops) + HTML. The combined leg
    # stays the cross-round currency; per-format docs/s are ONE-SHOT
    # diagnostics recorded under media_pipeline.routed_per_format.
    import io as _io
    import zipfile as _zipfile

    def _stored_zip(members) -> bytes:
        buf = _io.BytesIO()
        with _zipfile.ZipFile(buf, "w", _zipfile.ZIP_STORED) as zf:
            for n, d in members:
                zf.writestr(n, d)
        return buf.getvalue()

    def _xml_safe(txt: str) -> str:
        return "".join(
            ch if " " <= ch <= "~" and ch not in "&<>" else " "
            for ch in txt
        )

    _EPUB_CONTAINER = (
        '<container xmlns='
        '"urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>"
    )
    _EPUB_OPF = (
        '<package xmlns="http://www.idpf.org/2007/opf"><manifest>'
        '<item id="c0" href="c0.xhtml" '
        'media-type="application/xhtml+xml"/></manifest>'
        '<spine><itemref idref="c0"/></spine></package>'
    )

    def _mini_epub(txt: str) -> bytes:
        return _stored_zip([
            ("mimetype", "application/epub+zip"),
            ("META-INF/container.xml", _EPUB_CONTAINER),
            ("content.opf", _EPUB_OPF),
            ("c0.xhtml",
             f"<html><body><p>{_xml_safe(txt)}</p></body></html>"),
        ])

    def _mini_docx(txt: str) -> bytes:
        return _stored_zip([(
            "word/document.xml",
            '<?xml version="1.0"?><w:document xmlns:w="http://schemas.'
            'openxmlformats.org/wordprocessingml/2006/main"><w:body>'
            f'<w:p><w:r><w:t xml:space="preserve">{_xml_safe(txt)}'
            "</w:t></w:r></w:p></w:body></w:document>",
        )])

    def _mini_odt(txt: str) -> bytes:
        return _stored_zip([
            ("mimetype", "application/vnd.oasis.opendocument.text"),
            ("content.xml",
             '<?xml version="1.0"?><office:document-content xmlns:office='
             '"urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
             'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0">'
             f"<office:body><office:text><text:p>{_xml_safe(txt)}"
             "</text:p></office:text></office:body>"
             "</office:document-content>"),
        ])

    _n_zipfmt = max(int(2000 * _sf_num), 40)
    _zip_rows = (
        _lt(spark, sf_dir, "documents")
        .filter((F.col("doc_id") >= _n_pdf)
                & (F.col("doc_id") < _n_pdf + 3 * _n_zipfmt))
        .select("doc_id", F.substring("text", 1, 300).alias("t"))
        .collect()
    )
    _builders = (_mini_epub, _mini_docx, _mini_odt)
    _zip_payloads = [
        (int(r["doc_id"]),
         bytearray(_builders[(int(r["doc_id"]) - _n_pdf) // _n_zipfmt](
             r["t"] or "")))
        for r in _zip_rows
    ]
    # r13 (guide §2.4): the mixed leg used to union SEVEN per-format
    # frames that were EACH already .repartition(32)'d, then repartition
    # the union again — eight exchanges (and their AQE stage-jobs) inside
    # the timed chain where one suffices. The raw frames now union first
    # and the single outer repartition spreads the mixed corpus; the
    # per-format diagnostic frames keep their own repartition (each is
    # timed alone and needs the spread). Same rows either way.
    _fmt_raw = {
        "pdf": _pdf_raw,
        "epub": spark.createDataFrame(
            _zip_payloads[:_n_zipfmt], "doc_id LONG, content BINARY"
        ),
        "docx": spark.createDataFrame(
            _zip_payloads[_n_zipfmt:2 * _n_zipfmt],
            "doc_id LONG, content BINARY",
        ),
        "odt": spark.createDataFrame(
            _zip_payloads[2 * _n_zipfmt:], "doc_id LONG, content BINARY"
        ),
        "rtf": (
            _lt(spark, sf_dir, "documents")
            .filter((F.col("doc_id") >= _n_pdf + 3 * _n_zipfmt)
                    & (F.col("doc_id") < _n_pdf + 4 * _n_zipfmt))
            .select(
                "doc_id",
                F.encode(
                    F.concat(
                        F.lit("{\\rtf1\\ansi "),
                        F.regexp_replace(
                            F.substring("text", 1, 300),
                            "[\\\\{}]|[^ -~]", " "
                        ),
                        F.lit("\\par}"),
                    ),
                    "UTF-8",
                ).alias("content"),
            )
        ),
        "srt": (
            # r12: the subtitle branch of the front door
            _lt(spark, sf_dir, "documents")
            .filter((F.col("doc_id") >= _n_pdf + 4 * _n_zipfmt)
                    & (F.col("doc_id") < _n_pdf + 5 * _n_zipfmt))
            .select(
                "doc_id",
                F.encode(
                    F.concat(
                        F.lit("1\n00:00:01,000 --> 00:00:04,000\n"),
                        F.regexp_replace(
                            F.substring("text", 1, 200), "[^ -~]", " "
                        ),
                        F.lit("\n\n2\n00:00:05,000 --> 00:00:07,000\n"
                              "<i>cue two</i>\n"),
                    ),
                    "UTF-8",
                ).alias("content"),
            )
        ),
        "html": (
            _lt(spark, sf_dir, "documents")
            .filter(F.col("doc_id") >= _n_pdf + 5 * _n_zipfmt)
            .select(
                "doc_id",
                F.encode(
                    F.concat(
                        F.lit("<html><body><p>"),
                        F.substring("text", 1, 400),
                        F.lit("</p></body></html>"),
                    ),
                    "UTF-8",
                ).alias("content"),
            )
        ),
    }
    _fmt_dfs = {
        "pdf": _pdf_df,
        **{k: v.repartition(32)
           for k, v in _fmt_raw.items() if k != "pdf"},
    }
    _mixed_df = _fmt_raw["pdf"]
    for _k in ("epub", "docx", "odt", "rtf", "srt", "html"):
        _mixed_df = _mixed_df.unionByName(_fmt_raw[_k])
    _mixed_df = _mixed_df.repartition(32)
    _n_mixed = _mixed_df.count()
    _robust(
        "routed_intake_front_door",
        lambda: route_document_texts(_mixed_df).write.mode("overwrite")
        .format("noop").save(),
    )
    media_pipeline["routed_docs_per_sec"] = round(
        _n_mixed / timings["routed_intake_front_door"], 1
    )
    _per_fmt = {}
    for _k, _df in _fmt_dfs.items():
        _cnt = _df.count()
        _t0 = time.perf_counter()
        route_document_texts(_df).write.mode("overwrite").format(
            "noop").save()
        _per_fmt[_k] = {
            "docs": _cnt,
            "docs_per_sec": round(_cnt / (time.perf_counter() - _t0), 1),
        }
    media_pipeline["routed_per_format"] = _per_fmt

    # 9a'') archive front door (r12): ~2k three-member zips (html + rtf +
    # txt per archive, from documents text) expanded through the REAL
    # sources/archives.expand_archives Arrow pass — the pre-pass cost a
    # crawl pays per archive payload
    import io as _io
    import zipfile as _zf

    from sample_dms_kinesis_rds_mariadb_spark.sources.archives import (
        expand_archives,
    )

    _arc_rows = (
        _lt(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", F.substring("text", 1, 400).alias("t"))
        .collect()
    )

    def _mini_zip(txt: str) -> bytes:
        safe = "".join(c if " " <= c <= "~" else " " for c in txt)
        buf = _io.BytesIO()
        with _zf.ZipFile(buf, "w", compression=_zf.ZIP_DEFLATED) as z:
            z.writestr("page.html",
                       f"<html><body><p>{safe}</p></body></html>")
            z.writestr("note.rtf", "{\\rtf1\\ansi " + safe[:200] + "\\par}")
            z.writestr("raw.txt", safe)
        return buf.getvalue()

    _arc_df = spark.createDataFrame(
        [(int(r["doc_id"]), bytearray(_mini_zip(r["t"] or "")))
         for r in _arc_rows],
        "doc_id LONG, content BINARY",
    ).repartition(32)
    _n_arc = _arc_df.count()
    _robust(
        "archive_expansion",
        lambda: expand_archives(_arc_df).write.mode("overwrite")
        .format("noop").save(),
    )
    media_pipeline["archives_per_sec"] = round(
        _n_arc / timings["archive_expansion"], 1
    )
    media_pipeline["archive_members_per_sec"] = round(
        3 * _n_arc / timings["archive_expansion"], 1
    )

    # 9a''-b) COMPOSED archive→member→document chain (r13, VERDICT r12
    # item 5): the same zip corpus expanded AND every member routed
    # through the document front door — the full pre-pass a crawl pays
    # for archive payloads, timed end-to-end so the sidecar carries a
    # members/s figure through the composed path
    # r13 (guide §2.4/§3.3): route_document_texts forks its input into a
    # doc branch and an html branch — two evaluations of the upstream.
    # Over a parquet scan that is the cheap choice (re-scan beats a
    # shuffle of the payload bytes), but here the upstream is the
    # expand_archives PYTHON pass, so the fork ran the whole zip-inflate
    # pass twice (profiled: the save stage carried 64 tasks and ~2x the
    # blocked-on-Python time). An eager localCheckpoint materializes the
    # member rows ONCE inside the timed chain; both branches then read
    # the materialized partitions. Exchange reuse cannot express this in
    # Spark 4.1 (Python subtrees do not canonicalize equal; AQE drops
    # checkpoint partitioning metadata), so the checkpoint is the
    # mechanism. A/B: 3.6-5.3s -> 2.3-4.9s per pairing, every pair faster.
    _robust(
        "archive_to_document_route",
        lambda: route_document_texts(
            expand_archives(_arc_df)
            .filter(F.col("error").isNull())
            .select("doc_id", "member_name",
                    F.col("member_bytes").alias("content"))
            .localCheckpoint(eager=True),
        ).write.mode("overwrite").format("noop").save(),
    )
    media_pipeline["archive_routed_members_per_sec"] = round(
        3 * _n_arc / timings["archive_to_document_route"], 1
    )

    # 9a''') avro OCF scan (r12): 32 container files (~2k rows each,
    # deflate blocks) from documents columns, read back through the
    # spec-derived pure-Python reader (binaryFile -> Arrow decode) — the
    # per-file-parallel source-endpoint path
    try:
        from tests.avro_writer import write_ocf as _write_ocf
    except ImportError:
        _write_ocf = None
    if _write_ocf is not None:
        import tempfile as _tf

        _avro_schema = {
            "type": "record", "name": "Doc",
            "fields": [
                {"name": "doc_id", "type": "long"},
                {"name": "text", "type": ["null", "string"]},
                {"name": "lang", "type": ["null", "string"]},
            ],
        }
        _avro_rows = (
            _lt(spark, sf_dir, "documents")
            .select("doc_id", F.substring("text", 1, 500).alias("text"),
                    "lang")
            .limit(64_000)
            .collect()
        )
        _avro_dir = _tf.mkdtemp(prefix="bench_avro_")
        _per_file = max(len(_avro_rows) // 32, 1)
        for _i in range(0, len(_avro_rows), _per_file):
            chunk = [
                {"doc_id": int(r["doc_id"]), "text": r["text"],
                 "lang": r["lang"]}
                for r in _avro_rows[_i : _i + _per_file]
            ]
            with open(os.path.join(_avro_dir, f"p{_i}.avro"), "wb") as fh:
                fh.write(_write_ocf(_avro_schema, chunk, codec="deflate",
                                    block_size=500))
        from sample_dms_kinesis_rds_mariadb_spark.sources.avro import (
            read_avro,
        )

        _robust(
            "avro_scan",
            lambda: read_avro(spark, _avro_dir).write.mode("overwrite")
            .format("noop").save(),
        )
        media_pipeline["avro_rows_per_sec"] = round(
            len(_avro_rows) / timings["avro_scan"], 1
        )

    # 9b) perceptual image dedup (r9): synthesized-but-REAL PPM payloads
    # from the documents table → real decode + dHash via Arrow mapInPandas
    # → pigeonhole-banded hamming self-join (never all-pairs) → exact
    # verification. The multimodal near-dup path end-to-end.
    from sample_dms_kinesis_rds_mariadb_spark.operators.image_dedup import (
        image_near_pairs,
    )
    from sample_dms_kinesis_rds_mariadb_spark.operators.multimodal import (
        attach_ppm_column,
    )

    _docs_img = attach_ppm_column(
        _lt(spark, sf_dir, "documents"), "text", "doc_id"
    )
    _robust(
        "image_dhash_near_dups",
        lambda: image_near_pairs(_docs_img, method="dhash", max_hamming=7)
        .write.mode("overwrite").format("noop").save(),
    )

    # 9b') MIH hamming join at a hostile radius (VERDICT r9 item 7): 50k+
    # synthetic 64-bit fingerprints (md5 of doc ids — SQL-rebuildable, a
    # planted near-dup every 8th row) joined at max_hamming=7 through the
    # r10 multi-index-hashing default (4 wide 16-bit bands × 17-mask
    # radius ball) — the configuration where the old 8×8-bit banding's
    # n²/256 candidate explosion lived. Candidate counts for the A/B go
    # to the bench sidecar (mih_candidates).
    from pyspark.sql import functions as _F

    from sample_dms_kinesis_rds_mariadb_spark.operators import (
        image_dedup as _idd,
    )

    _n_fp = max(int(500_000 * _sf_num), 50_000)
    # 15 hex chars = 60 bits: stays under 2^63 so the string->long cast
    # never overflows to null
    _base_fp = _F.conv(
        _F.substring(_F.md5((_F.col("id") / 8).cast("long").cast("string")),
                     1, 15), 16, 10,
    ).cast("long")
    # every 8th row flips one planted bit of its group's base fingerprint
    # (a hamming-1 near-dup; the other 7 are exact dups of each other)
    _fps_df = (
        spark.range(_n_fp)
        .select(
            _F.col("id").alias("media_id"),
            _F.when(
                _F.col("id") % 8 == 0,
                _base_fp.bitwiseXOR(
                    _F.expr("shiftleft(1L, cast(id % 61 AS INT))")
                ),
            ).otherwise(_base_fp).alias("dhash"),
        )
        .repartition(32)
        .localCheckpoint(eager=True)  # fixture synthesis untimed
    )
    _robust(
        "mih_hamming_r7_50k",
        lambda: _idd.banded_hamming_pairs(
            _fps_df, max_hamming=7
        ).write.mode("overwrite").format("noop").save(),
    )
    # candidate-count A/B (untimed diagnostics for BASELINE.md): rows
    # meeting in (band, key) buckets before the hamming verify
    def _candidates(bands: int) -> int:
        b, radius = _idd._resolve_bands(bands, 7, 64)
        probe = _idd._banded_probe(
            _fps_df, ["media_id"], "dhash", b, 64, radius
        ).select("band", "key", _F.col("media_id").alias("id_a"))
        build = _idd._banded(
            _fps_df, ["media_id"], "dhash", b, 64
        ).select("band", "key", _F.col("media_id").alias("id_b"))
        return (
            probe.join(build, ["band", "key"])
            .filter(_F.col("id_a") < _F.col("id_b"))
            .count()
        )

    mih_candidates = {
        "n_fingerprints": _n_fp,
        "naive_bands8": _candidates(8),
        "mih_bands4": _candidates(None),
    }

    # 9c) perceptual audio dedup (r9): synthesized WAV payloads (tone
    # mixtures; every 4th is its predecessor time-shifted by two hops —
    # a planted near-dup family) → real PCM decode → Haitsma-Kalker
    # spectral fingerprints (Arrow) → banded sequence matching.
    # Synthesis is untimed fixture work, like the WARC corpus.
    import struct as _struct

    import numpy as _np

    from sample_dms_kinesis_rds_mariadb_spark.operators.audio_dedup import (
        audio_near_pairs,
    )

    def _tone_wav(sig) -> bytes:
        pcm = _np.clip(sig, -32000, 32000).astype("<i2").tobytes()
        fmt = _struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        chunks = (
            b"fmt " + _struct.pack("<I", len(fmt)) + fmt
            + b"data" + _struct.pack("<I", len(pcm)) + pcm
        )
        return (
            b"RIFF" + _struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks
        )

    _n_audio = max(int(800 * _sf_num), 80)
    _t = _np.arange(26000) / 8000.0
    _payloads = []
    _prev = None
    for i in range(_n_audio):
        if i % 4 == 3 and _prev is not None:
            sig = _prev[2048:]  # two-hop trim: near-dup of predecessor
        else:
            sig = (
                6000 * _np.sin(2 * _np.pi * (300 + 13 * i) * _t)
                + 3000 * _np.sin(2 * _np.pi * (700 + 29 * i) * _t + 0.5)
                + 1200 * _np.sin(2 * _np.pi * (1500 + 7 * i) * _t + 1.1)
            )
            _prev = sig
        _payloads.append((i, bytearray(_tone_wav(sig))))
    _audio_df = spark.createDataFrame(
        _payloads, "media_id LONG, content BINARY"
    ).repartition(32)
    _robust(
        "audio_fp_near_dups",
        lambda: audio_near_pairs(
            _audio_df, max_hamming=6, min_frac=0.5
        ).write.mode("overwrite").format("noop").save(),
    )

    # --- scale-gate sidecar legs (r14, VERDICT r13 item 4) ------------------
    # At sf0.1 the catalog legs are per-job-overhead-bound: the r13 scaling
    # block showed 8 cores BEATING 32 on total, i.e. the bench could not
    # falsify a scale-killer outside warc (the one leg with real volume,
    # which scales 2.07x). These xl_* legs give the heaviest non-warc
    # families — bm25, classifier train, minhash dedup, connected
    # components, envelope encode — enough volume that the driver's
    # low-core/high-core ratio measures COMPUTE scaling. Inputs derive
    # deterministically from the sf corpus (so they scale with sf);
    # replication/synthesis is untimed fixture work (the _fps_df rule);
    # every timed chain computes from those inputs per the bench contract.
    _par = spark.sparkContext.defaultParallelism
    _rep_k = 16
    _docs_xl = (
        _docs.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), F.lit(_rep_k - 1))).alias("_r"),
        )
        .select(
            (F.col("doc_id") * _rep_k + F.col("_r")).alias("doc_id"),
            # per-replica salt token: exact clones would clique every
            # dedup band bucket into a pathological all-pairs join
            F.concat(
                F.col("text"), F.lit(" rep"), F.col("_r").cast("string")
            ).alias("text"),
        )
        .repartition(_par)
        .localCheckpoint(eager=True)
    )
    _robust(
        "xl_bm25",
        lambda: bm25_batch_search(_docs_xl, "doc_id", "text", _qs, k=10)
        .write.mode("overwrite").format("noop").save(),
    )
    _robust(
        "xl_clf",
        lambda: train_classifier(
            _docs_xl.withColumn("label", (F.length("text") % 2).cast("int")),
            "text",
            "label",
            dim=2**12,
            iterations=1,
        ),
    )
    from sample_dms_kinesis_rds_mariadb_spark.operators.dedup import (
        minhash_lsh_candidate_pairs as _mh_pairs,
    )

    _robust(
        "xl_minhash",
        lambda: _mh_pairs(_docs_xl, "doc_id", "text")
        .write.mode("overwrite").format("noop").save(),
    )
    # synthetic ring graph (200-node cycles): enough per-round join volume
    # that the label-propagation rounds stop being pure driver pacing
    _n_cc_xl = max(int(2_000_000 * _sf_num), 20_000)
    _cc_chain = 200
    _cc_edges_xl = (
        spark.range(_n_cc_xl)
        .select(
            F.col("id").alias("id_a"),
            F.when(
                F.col("id") % _cc_chain == _cc_chain - 1,
                F.col("id") - (_cc_chain - 1),
            )
            .otherwise(F.col("id") + 1)
            .alias("id_b"),
        )
        .repartition(_par)
        .localCheckpoint(eager=True)
    )
    _robust(
        "xl_cc",
        lambda: connected_components(_cc_edges_xl)
        .write.mode("overwrite").format("noop").save(),
    )
    # sink-family compute half at 2x volume: the envelope encode chain to
    # a noop sink (guide §1.4) — the store write is IO the sink legs
    # already time; this isolates the encode's CPU scaling
    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        encode_data_events as _ede,
    )
    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        to_json_records as _tjr,
    )
    from sample_dms_kinesis_rds_mariadb_spark.spec import (
        TaskSettings as _TS,
    )

    _li_xl = (
        widen_small_input(_lt(spark, sf_dir, "lineitem"))
        .select(
            "*", F.explode(F.sequence(F.lit(0), F.lit(1))).alias("_r")
        )
        .drop("_r")
        .localCheckpoint(eager=True)
    )
    _xl_settings = _TS(partition_key_type="primary-key")
    _robust(
        "xl_envelope",
        lambda: _tjr(
            _ede(
                _li_xl, "main", "lineitem", "load", _xl_settings,
                pk_column="l_orderkey",
            )
        ).write.mode("overwrite").format("noop").save(),
    )

    # 10) WARC→curation front door (VERDICT r7 item 5): multi-member-gzip
    # WARC corpus → warc_records (Arrow mapInPandas) → html_to_text →
    # Gopher quality gate, measured as records/s and compressed bytes/s.
    # Fixture synthesis is byte-tiling (untimed, sub-second); corpus size
    # scales with sf: sf0.1 → 100 MB, the verdict's target.
    import shutil
    import tempfile

    from sample_dms_kinesis_rds_mariadb_spark.functions.html import html_to_text
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        with_gopher_quality_flags,
    )
    from sample_dms_kinesis_rds_mariadb_spark.sources.warc import (
        synthesize_warc_corpus,
        warc_records,
    )

    sf_num = float(sf) if sf.replace(".", "").isdigit() else 0.1
    warc_mb = float(os.environ.get("SPARK_GRAFT_WARC_MB", str(1000 * sf_num)))
    warc_dir = tempfile.mkdtemp(prefix="bench-warc-")
    try:
        warc_stats = synthesize_warc_corpus(warc_dir, warc_mb)
        # untimed warm-up on ONE file: first-touch costs (JIT of the long
        # regexp_replace chain, Python-worker import of the WARC parser,
        # Catalyst compile of this UDF pipeline) otherwise land inside the
        # timed pass and swing the leg 2x+ with worker-state luck across
        # rounds (r10: 21 s in-bench vs 9.4 s steady-state on a box whose
        # calibration leg was FASTER than r9). Same hygiene as the sink
        # legs' median-of-3 — the leg measures throughput, not fork luck.
        one_file = sorted(glob.glob(os.path.join(warc_dir, "*")))[0]
        warm_bin = (
            spark.read.format("binaryFile")
            .load(one_file)
            .select(F.col("path").alias("file_id"), "content")
        )
        with_gopher_quality_flags(
            warc_records(warm_bin).select(
                "file_id", "record_no",
                html_to_text(F.col("html")).alias("text"),
            ),
            "text",
        ).drop("text").write.mode("overwrite").format("noop").save()
        def _warc_leg():
            warc_bin = (
                spark.read.format("binaryFile")
                .load(warc_dir)
                .select(F.col("path").alias("file_id"), "content")
            )
            _wrec = warc_records(warc_bin)
            _wtext = _wrec.select(
                "file_id",
                "record_no",
                html_to_text(F.col("html")).alias("text"),
            )
            # staged gate (with_*): tokenization materialized once per row
            # instead of once per flag column — the corpus-scan form
            with_gopher_quality_flags(_wtext, "text").drop(
                "text"
            ).write.mode("overwrite").format("noop").save()

        _robust("warc_curation_pipeline", _warc_leg)
        # every query/library leg is registered: run the interleaved
        # repeat sweeps while the WARC corpus is still on disk, then
        # finalize the per-leg medians
        _run_deferred_sweeps()
        warc_sec = timings["warc_curation_pipeline"]
        warc_pipeline = {
            "records": warc_stats["records"],
            "compressed_bytes": warc_stats["bytes"],
            "records_per_sec": round(warc_stats["records"] / warc_sec, 1),
            "bytes_per_sec": round(warc_stats["bytes"] / warc_sec, 1),
        }
    finally:
        shutil.rmtree(warc_dir, ignore_errors=True)

    # refresh the throughput figures with the finalized medians (their
    # provisional values were computed from the cold runs)
    media_pipeline["payloads_per_sec"] = round(
        _n_media / timings["media_metadata_sweep"], 1
    )
    # r13: vorbis was the one throughput figure left computed from the
    # COLD run only (18.6/s cold vs ~100/s at the finalized median) —
    # refresh it with the median like every other media figure
    media_pipeline["vorbis_payloads_per_sec"] = round(
        _n_vorbis / timings["vorbis_decode_features"], 1
    )
    media_pipeline["pdf_docs_per_sec"] = round(
        len(_doc_rows) / timings["pdf_text_extraction"], 1
    )
    media_pipeline["routed_docs_per_sec"] = round(
        _n_mixed / timings["routed_intake_front_door"], 1
    )
    media_pipeline["archives_per_sec"] = round(
        _n_arc / timings["archive_expansion"], 1
    )
    media_pipeline["archive_members_per_sec"] = round(
        3 * _n_arc / timings["archive_expansion"], 1
    )
    media_pipeline["archive_routed_members_per_sec"] = round(
        3 * _n_arc / timings["archive_to_document_route"], 1
    )

    # full-load replication throughput: lineitem → envelope encode → ordered
    # sink write (the engine's S1→K1 path), measured as rows/sec

    from sample_dms_kinesis_rds_mariadb_spark.envelope import (
        encode_data_events,
        to_json_records,
    )
    from sample_dms_kinesis_rds_mariadb_spark.plans.queries import load_table
    from sample_dms_kinesis_rds_mariadb_spark.sinks.stream_sink import StreamStore
    from sample_dms_kinesis_rds_mariadb_spark.spec import TaskSettings

    # widen: the sf0.1 lineitem is ONE single-row-group parquet file, so
    # the scan→encode→shuffle map stage of both sink legs otherwise runs
    # on a single task (3.7 s of 5.7 s leg wall measured in the r13 stage
    # profile) — the repartition is INSIDE the timed legs (the scan stays
    # timed; nothing is pre-materialized) and no-ops on a real many-split
    # corpus, exactly like the document legs' widen_small_input
    li = widen_small_input(load_table(spark, sf_dir, "lineitem"))
    n_rows = li.count()

    # sink legs run three times, median-of-3: single-run sink timings swing
    # >2× with host noise (GC/IO bursts), and best-of-N would let the
    # methodology flatter the number — the median is outlier-robust without
    # cherry-picking; per-run times are recorded so the spread is auditable
    def _median_of(n: int, leg, label: str = "sink") -> tuple[float, list[float]]:
        runs: list[float] = []
        for run_no in range(n):
            tmp = tempfile.mkdtemp(prefix="bench-sink-")
            try:
                spark.sparkContext.setJobDescription(f"leg:{label}:run{run_no}")
                t0 = time.perf_counter()
                leg(tmp)
                runs.append(time.perf_counter() - t0)
            finally:
                spark.sparkContext.setJobDescription(None)
                shutil.rmtree(tmp, ignore_errors=True)
        return sorted(runs)[len(runs) // 2], [round(r, 3) for r in runs]

    # primary-key partition mode: the row's PK rides the partition key, so
    # a single table's load spreads over all 32 shards (schema-table mode
    # would constant-fold to ONE shard = one-core window = scale-killer)
    fl_settings = TaskSettings(partition_key_type="primary-key")

    def _full_load_leg(tmp: str) -> None:
        store = StreamStore(spark, tmp, shards=32)
        env = encode_data_events(
            li, "main", "lineitem", "load", fl_settings, pk_column="l_orderkey"
        )
        store.append(to_json_records(env))

    fl_sec, fl_runs = _median_of(3, _full_load_leg, "full_load_envelope_sink")
    timings["full_load_envelope_sink"] = round(fl_sec, 3)
    fl_rows_per_sec = round(n_rows / fl_sec, 1)

    # CDC apply throughput: lineitem rows as insert change events → envelope
    # encode (with before-image/txn machinery active) → ordered sink. The
    # micro-batch hot path (envelope.encode_change_batch) without trigger
    # overhead.
    from pyspark.sql import functions as F

    from sample_dms_kinesis_rds_mariadb_spark.envelope import encode_change_batch

    data_map = F.create_map(
        *[x for c in li.columns for x in (F.lit(c), F.col(c).cast("string"))]
    )
    feed = li.select(
        F.monotonically_increasing_id().alias("seq"),
        F.lit("main").alias("schema"),
        F.lit("lineitem").alias("table"),
        F.lit("insert").alias("op"),
        F.concat(F.lit("txn-"), (F.col("l_orderkey") % 1000).cast("string")).alias(
            "txn_id"
        ),
        F.lit("2024-01-01T00:00:00").alias("commit_ts"),
        data_map.alias("data"),
        F.lit(None).cast("map<string,string>").alias("before"),
    )
    settings = TaskSettings(before_image=True, partition_key_type="primary-key")

    def _cdc_leg(tmp: str) -> None:
        store2 = StreamStore(spark, tmp, shards=32)
        env = encode_change_batch(feed, settings, {("main", "lineitem"): "l_orderkey"})
        store2.append(to_json_records(env))

    cdc_sec, cdc_runs = _median_of(3, _cdc_leg, "cdc_apply_sink")
    timings["cdc_apply_sink"] = round(cdc_sec, 3)
    cdc_events_per_sec = round(n_rows / cdc_sec, 1)

    # r11: per-leg timings are already medians over leg_runs_n executions
    # (the first of which is cold), so the old separate CORE warm loop is
    # redundant — value_core_warm keeps its r7+ semantic (per-leg medians
    # with first-execution cost absorbed, plus sink medians) computed from
    # the same samples; value_core stays the FROZEN cold single-shot sum
    # (computed from each leg's FIRST run), comparable back to BENCH_r01.
    warm = {name: timings[name] for name in CORE}
    value_core_warm = round(sum(warm.values()) + fl_sec + cdc_sec, 3)

    total = round(sum(timings.values()), 3)
    value_core = round(
        sum(timings_cold[k] for k in CORE) + fl_sec + cdc_sec, 3
    )
    # the PRINTED line must fit the driver's 2000-char tail capture
    # (VERDICT r9 item 2: BENCH_r08/r09 came back "parsed": null because
    # the full payload outgrew it) — so the line keeps only the contract
    # fields (metric/value/unit/queries/sf) plus the headline throughputs,
    # and the FULL payload (warm runs, sink runs, loadavg forensics,
    # pipeline detail) goes to a committed sidecar next to this script
    full_payload = {
        "metric": "headline-query wall clock (engine catalog)",
        "value": total,
        "value_core": value_core,
        "value_core_warm": value_core_warm,
        "unit": "sec",
        "queries": timings,
        "queries_cold": timings_cold,
        "leg_samples": leg_samples,
        "leg_runs_n": leg_runs_n,
        "queries_warm": warm,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "full_load_rows_per_sec": fl_rows_per_sec,
        "warc_pipeline": warc_pipeline,
        "media_pipeline": media_pipeline,
        "cdc_events_per_sec": cdc_events_per_sec,
        "sink_runs": {
            "full_load_envelope_sink": fl_runs,
            "cdc_apply_sink": cdc_runs,
        },
        # host-drift forensics (VERDICT r6 item 5): compare
        # calibration_sec across rounds to separate host speed
        # changes from code changes before reading any leg delta
        "loadavg": {
            "start": loadavg_start,
            "end": list(os.getloadavg()),
        },
        "calibration_sec": calibration_sec,
        "calibration_prev": calibration_prev,
        # cross-round normalization of record (VERDICT r10 item 1: the
        # close-out must always carry the normalized figure, not only the
        # raw seconds): value_core / calibration_sec and the warm variant
        "core_per_calib": round(value_core / calibration_sec, 1),
        "core_warm_per_calib": round(value_core_warm / calibration_sec, 1),
        "contaminated": contaminated,
        # per-leg sentinel verdicts (empty = every leg ran within
        # 1.5x its committed quiet median at least once)
        "contaminated_legs": contaminated_legs,
        "quiet_wait_sec": waited_sec,
        "mih_candidates": mih_candidates,
    }
    # scaling curves (VERDICT r12 item 8): the committed record from
    # tools/scaling_harness.py rides the sidecar so the sub-quadratic
    # claims travel WITH the per-round artifact; re-run the harness
    # after touching the dedup/ANN family
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scaling_record.json"
    )
    if os.path.exists(scaling_path):
        try:
            with open(scaling_path) as f:
                full_payload["scaling"] = json.load(f)
        except Exception:
            pass
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_full.json")
    with open(sidecar, "w") as f:
        json.dump(full_payload, f, indent=1)
    headline = {
        "metric": "headline-query wall clock (engine catalog)",
        "value": total,
        "value_core": value_core,
        "value_core_warm": value_core_warm,
        "unit": "sec",
        # r14: the r13 line measured 1810 of the driver's ~1900-char tail
        # budget and this round ADDS legs (scale-gate sidecars + the
        # long-doc gate). Print per-leg seconds at 2 decimals — a pure
        # display precision choice (10 ms, well under host noise); the
        # sidecar keeps the 3-decimal values and every sample.
        "queries": {k: round(v, 2) for k, v in timings.items()},
        "sf": full_payload["sf"],
        "full_load_rows_per_sec": fl_rows_per_sec,
        "cdc_events_per_sec": cdc_events_per_sec,
        "warc_records_per_sec": warc_pipeline.get("records_per_sec"),
        "calibration_sec": calibration_sec,
        "core_per_calib": full_payload["core_per_calib"],
        "core_warm_per_calib": full_payload["core_warm_per_calib"],
        "leg_runs_n": leg_runs_n,
        "contaminated": contaminated,
        "contaminated_legs": sorted(contaminated_legs),
        "full_payload": "bench_full.json",
    }
    line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:
        # shed sidecar-duplicated detail BEFORE ever touching the queries
        # dict (dropping a leg from the line reads as a dropped leg to the
        # driver): the per-leg contamination verdicts live in the sidecar
        headline["contaminated_legs"] = len(contaminated_legs)
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:
        # still over: every one of these fields is carried verbatim in
        # bench_full.json — the queries dict is the one thing that must
        # survive intact
        for k in ("core_per_calib", "core_warm_per_calib", "full_payload"):
            headline.pop(k, None)
        line = json.dumps(headline, separators=(",", ":"))
    if len(line) > 1900:
        # last-ditch: shed per-leg detail before shedding parseability
        headline["queries"] = {
            k: round(v, 2) for k, v in sorted(
                timings.items(), key=lambda kv: -kv[1]
            )[:30]
        }
        headline["queries_truncated_to_top"] = 30
        line = json.dumps(headline, separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
