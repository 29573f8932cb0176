"""End-to-end LLM training-data pipeline over the synthetic testdata:

  documents → language-ID → quality filter → exact dedup → MinHash-LSH
  near-dup candidates → exact-Jaccard verification → surviving corpus
  → deterministic train/heldout split → temperature (size^alpha) mixture
  → graded benchmark decontamination
  embeddings → IVF index build → ANN probe → semantic dedup (SemDeDup)
  → batch kNN-join retrieval eval (exact truth vs IVF candidates, recall@k)

Run: python examples/llm_data_pipeline.py  [sf_dir, default sf0.001]

Every stage is a Spark plan from the engine's operator library (see
SCALE.md for why each shape survives 100 TB); nothing here collects more
than summaries.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions.hashing import shingles
from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
    doc_fingerprint,
    langid_heuristic,
    quality_columns,
    token_count,
)
from sample_dms_kinesis_rds_mariadb_spark.operators import dedup, similarity
from sample_dms_kinesis_rds_mariadb_spark.plans.queries import load_table
from sample_dms_kinesis_rds_mariadb_spark.session import get_session


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_session(app_name="llm-pipeline-demo")

    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()

    # 0. profile the raw corpus first — two jobs, mergeable aggregates only
    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import (
        describe_corpus,
    )

    summary, _mix = describe_corpus(docs, "text")
    s = summary.first()
    print(
        f"profile: {s['n_docs']} docs, {s['n_tokens_total']} tokens, "
        f"median {int(s['token_quantiles'][1])} tok/doc, "
        f"quality {s['quality_share']:.1%}, est. dup rate {s['dup_rate_est']:.2%}"
    )

    # 1. language ID + quality features (all codegen'd expressions)
    qc = quality_columns(F.col("text"))
    scored = docs.select(
        "doc_id",
        "text",
        langid_heuristic(F.col("text")).alias("lang_guess"),
        token_count(F.col("text")).alias("n_tokens"),
        qc["is_quality"].alias("is_quality"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    )
    kept = scored.filter(F.col("is_quality"))
    print("language mix:", dict(
        (r["lang_guess"], r["n"])
        for r in kept.groupBy("lang_guess").agg(F.count("*").alias("n")).collect()
    ))

    # 1b. model-based quality score (hashing-trick linear classifier,
    # inference entirely in codegen — weights would come from a fastText-
    # style trainer; here a tiny hand-set vector stands in)
    from sample_dms_kinesis_rds_mariadb_spark.functions import classify

    import zlib

    clf_dim = 1 << 12
    weights = [0.0] * clf_dim
    for w, val in [("the", 0.8), ("and", 0.6), ("of", 0.5), ("click", -1.5),
                   ("subscribe", -2.0), ("buy", -1.2)]:
        weights[zlib.crc32(w.encode()) % clf_dim] = val
    kept = kept.withColumn(
        "clf_p", classify.classifier_probability(F.col("text"), weights)
    )
    print(
        "classifier p(quality) mean:",
        round(kept.agg(F.avg("clf_p")).first()[0], 4),
    )

    # 2-3. the standard funnel in ONE call: audited quality gate → exact
    # dedup → MinHash-LSH + exact-Jaccard + transitive-component near-dup
    # removal → 13-gram benchmark decontamination. curate() composes the
    # same operators the rest of this example drives individually (see
    # sample_dms_kinesis_rds_mariadb_spark/pipeline.py; the equality of
    # façade vs manual chain is pinned in tests/test_pipeline_facade.py).
    from sample_dms_kinesis_rds_mariadb_spark.pipeline import curate

    eval_set = docs.select("doc_id", "text").limit(3)
    result = curate(
        docs.join(scored.select("doc_id", "is_quality"), "doc_id"),
        gates={"quality": F.col("is_quality")},
        dedup=("exact", "minhash"),
        decontaminate_against=eval_set,
    )
    survivors = result.corpus.select("doc_id")
    print("curation funnel:", result.funnel)
    n_final = dict(result.funnel)["dedup_minhash"]

    # 4. deterministic split + mixture: heldout never leaks into train
    # across re-runs (md5-bucket verdicts), and the corpus mixture is a
    # stable weighted blend, not a Bernoulli draw
    from sample_dms_kinesis_rds_mariadb_spark.operators import sampling

    train, heldout = sampling.split_train_heldout(survivors, "doc_id", 0.1)
    mixture = sampling.mix_corpora(
        [(train, 1.0), (survivors.join(train, "doc_id", "left_semi"), 0.25)],
        "doc_id",
    )
    print(
        f"split: {train.count()} train / {heldout.count()} heldout; "
        f"mixture rows: {mixture.count()}"
    )

    # 4b. prepare for training: repetition gate → benchmark decontamination
    # → quantile quality gate → PII redaction → token-bounded chunks →
    # greedy sequence packing (per-bucket Arrow)
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import repetition_ratios
    from sample_dms_kinesis_rds_mariadb_spark.operators import chunking

    rep = repetition_ratios(F.col("text"))
    # one-pass funnel: both repetition gates ride a single observe'd scan —
    # the per-gate drop counts come for free with the next action
    from sample_dms_kinesis_rds_mariadb_spark.operators.audit import (
        audited_filter,
        funnel_report,
    )

    candidates, gate_obs = audited_filter(
        survivors.join(docs.select("doc_id", "text"), "doc_id"),
        {
            "boilerplate": rep["dup_line_frac"] < 0.3,
            "trigram_rep": rep["dup_trigram_frac"] < 0.5,
        },
    )
    # (benchmark decontamination already ran inside curate() above)
    # drop the shortest fifth: the approximate quantile is a one-row
    # aggregate broadcast back into the plan, so the gate needs no collect
    scored = candidates.withColumn("score", F.length("text").cast("double"))
    threshold = scored.select(F.percentile_approx("score", 0.2, 100).alias("_q"))
    gated = (
        scored.crossJoin(F.broadcast(threshold))
        .filter(F.col("score") >= F.col("_q"))
        .drop("_q")
    )
    clean = gated.withColumn("text", chunking.redact_pii(F.col("text")))
    chunks = chunking.chunk_by_tokens(clean, "doc_id", "text", max_tokens=128, overlap=16)
    packed = chunking.pack_sequences(chunks.withColumn(
        "chunk_key", F.col("doc_id") * 10000 + F.col("chunk_id")
    ), "chunk_key", "n_tokens", max_len=512, n_buckets=32)
    n_packs = packed.select("pack_id").distinct().count()
    print(
        f"training prep: {gated.count()} gated docs -> {chunks.count()} chunks "
        f"-> {n_packs} packed sequences (<=512 tokens)"
    )
    print("repetition-gate funnel (one scan):", funnel_report(gate_obs))

    # 4c. per-source cap (no crawl host dominates) → token-budget shard
    # export: shards hold ~equal TOKENS, the loader's scheduling unit
    from sample_dms_kinesis_rds_mariadb_spark.operators.export import (
        write_budget_shards,
    )

    capped = sampling.cap_per_group(
        clean.join(docs.select("doc_id", "source"), "doc_id"),
        "doc_id",
        "source",
        n=200,
    ).withColumn("n_tokens", token_count(F.col("text")))
    shard_path = os.path.join(tempfile.gettempdir(), "llm-demo-shards")
    manifest = write_budget_shards(
        capped, shard_path, "n_tokens", budget=20_000, order_col="doc_id"
    )
    print(
        f"export: {manifest['total_rows']} docs / {manifest['total_size']} tokens "
        f"into {len(manifest['shard_rows'])} ~20k-token shards"
    )

    # 4d. statistical quality: train a bigram LM on the surviving corpus,
    # score every doc in bits/token (CCNet-style perplexity gate), and run
    # a BM25 retrieval probe (eval-set forensics) — all engine operators
    from sample_dms_kinesis_rds_mariadb_spark.functions import lm
    from sample_dms_kinesis_rds_mariadb_spark.operators import search

    model = lm.train_ngram_counts(clean, "text", vocab_size=20_000)
    scorer = lm.make_perplexity_scorer(spark, model)
    bits = clean.select(
        scorer(lm.doc_tokens_column(F.col("text"))).alias("bits")
    )
    stats = bits.agg(F.avg("bits").alias("avg"), F.max("bits").alias("max")).first()
    print(f"LM perplexity: avg {stats['avg']:.2f} / max {stats['max']:.2f} bits/token")
    hits = search.bm25_search(docs, "doc_id", "text", "data quality pipeline", k=3)
    print("BM25 probe:", [(r["doc_id"], round(r["bm25"], 3)) for r in hits.collect()])

    # 4d'. r8 statistical stages: interpolated Kneser-Ney (the smoothing
    # KenLM/CCNet actually use), head/middle/tail perplexity buckets,
    # DSIR target matching, and a corpus-trained WordPiece tokenizer
    kn = lm.train_kn_model(clean, "text", vocab_size=20_000)
    kn_scorer = lm.make_kn_perplexity_scorer(spark, kn)
    scored = clean.select(
        "doc_id", "text",
        kn_scorer(lm.doc_tokens_column(F.col("text"))).alias("bpt"),
    )
    buckets = lm.perplexity_buckets(scored, "bpt")
    print(
        "CCNet buckets:",
        {
            r["ppl_bucket"]: r["n"]
            for r in buckets.groupBy("ppl_bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        },
    )

    from sample_dms_kinesis_rds_mariadb_spark.operators.dsir import dsir_select

    target = clean.filter(F.col("doc_id") % 5 == 0)  # stand-in trusted set
    picked = dsir_select(clean, target, "text", n=50, id_col="doc_id", dim=4096)
    print("DSIR selected:", picked.count(), "target-like docs")

    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        bpe_pretokenize,
    )
    from sample_dms_kinesis_rds_mariadb_spark.functions.tokenizers import (
        make_wordpiece_tokenizer,
        train_wordpiece,
    )

    wp_vocab = train_wordpiece(clean, "text", vocab_size=1024)
    wp = make_wordpiece_tokenizer(spark, wp_vocab)
    n_tok = clean.select(
        F.sum(F.size(wp(bpe_pretokenize(F.col("text"))))).alias("n")
    ).first()["n"]
    print(f"WordPiece: vocab {len(wp_vocab)}, corpus tokens {n_tok}")

    # 4e. cross-doc boilerplate removal: strip lines repeating across most
    # docs of a source (the line-level dual of the within-doc gates above)
    from sample_dms_kinesis_rds_mariadb_spark.operators.boilerplate import (
        remove_boilerplate_lines,
    )

    with_src = docs.select("doc_id", "source", "text")
    stripped = remove_boilerplate_lines(with_src, "text", "source")
    delta = (
        with_src.agg(F.sum(F.length("text"))).first()[0]
        - stripped.agg(F.sum(F.length("text"))).first()[0]
    )
    print(f"boilerplate removal: {delta} chars of repeated lines stripped")

    # 4f. leakage-safe split: near-dup clusters (the verified pair graph
    # from stage 3) land entirely on one side — a heldout doc can never
    # have a near-duplicate in train
    pairs = dedup.minhash_lsh_candidate_pairs(docs, "doc_id", "text")
    sets = docs.select("doc_id", shingles(F.col("text"), 3).alias("sh"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    union = F.size("sa") + F.size("sb") - inter
    verified = (
        pairs.join(sets.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa")), "id_a")
        .join(sets.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb")), "id_b")
        .filter(inter * 3 >= union * 2)
        .select("id_a", "id_b")
    )
    safe = sampling.split_leakage_safe(survivors, verified, "doc_id", 0.1)
    print(
        "leakage-safe split:",
        dict(
            (r["split"], r["n"])
            for r in safe.groupBy("split").agg(F.count("*").alias("n")).collect()
        ),
    )

    # 4g. persistent retrieval: build the inverted index once, probe it
    # repeatedly (partition-pruned posting reads, no corpus rescans), and
    # fuse lexical + vector rankings with RRF
    ix_path = os.path.join(tempfile.gettempdir(), "llm-demo-bm25-ix")
    ix = search.InvertedIndex(spark, ix_path, id_col="doc_id")
    ix.build(docs, "text")
    ix_hits = search.with_rank(
        ix.search("data quality pipeline", k=10), "bm25", "doc_id"
    )

    # 5. similarity: build the IVF index once, probe it
    emb = load_table(spark, sf_dir, "embeddings")
    probe_vec = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    idx_path = os.path.join(tempfile.gettempdir(), "llm-demo-ivf")
    index = (
        similarity.IvfIndex.load(spark, idx_path)
        if similarity.IvfIndex.exists(idx_path)
        else similarity.IvfIndex.build(emb, idx_path, n_lists=8)
    )
    top = index.probe(probe_vec, k=5, n_probe=3).collect()
    print("ANN top-5 for vec 0:", [(r["vec_id"], round(r["cosine_sim"], 4)) for r in top])

    # 5a. int8 coarse + exact rerank: 4x less scan IO on the coarse pass,
    # true float scores on the survivors
    q8 = similarity.quantize_embeddings(emb)
    q_top = similarity.quantized_topk_rerank(q8, probe_vec, k=5, id_col="vec_id")
    print(
        "quantized-rerank top-5:",
        [(r["vec_id"], round(r["cosine_sim"], 4)) for r in q_top.collect()],
    )

    # 5a'. hybrid fusion: the inverted-index lexical ranks (4g) + the vector
    # ranks, combined rank-wise (no score normalization needed)
    vec_hits = search.with_rank(
        similarity.brute_force_topk(
            emb.withColumnRenamed("vec_id", "doc_id"), probe_vec, k=10, id_col="doc_id"
        ),
        "cosine_sim",
        "doc_id",
    )
    fused = search.rrf_fuse([ix_hits, vec_hits], "doc_id", k=5)
    print(
        "hybrid RRF top-5:",
        [(r["doc_id"], round(r["rrf_score"], 4)) for r in fused.collect()],
    )

    # 5b. hard negatives for contrastive fine-tuning: most-similar
    # different-label pairs, LSH-bucketed like every pair operator
    hn = similarity.hard_negatives(emb, k=2, n_planes=4)
    print(f"hard negatives mined: {hn.count()} (anchor, negative) pairs")

    # 6. semantic dedup (SemDeDup): drop embedding-space near-dups within
    # learned clusters — the semantic counterpart of stage 3's lexical LSH
    sem_survivors = similarity.semantic_dedup(
        emb, threshold=0.95, n_lists=8
    ).count()
    print(f"semantic dedup: {emb.count()} vectors -> {sem_survivors} survivors")

    # 7. graded benchmark decontamination: the verbatim 13-gram rule drops
    # hard hits; the score column is what an audit reports (fraction of a
    # doc's distinct n-grams found anywhere in the eval set)
    bench = docs.limit(3).select(
        F.col("doc_id").alias("bid"), F.col("text").alias("btext")
    )
    scores = dedup.contamination_scores(
        docs, bench, "doc_id", "text", bench_id_col="bid", bench_text_col="btext"
    )
    n_dirty = scores.filter(F.col("score") >= 0.8).count()
    print(f"decontamination audit: {n_dirty} docs >= 0.8 contaminated")

    # 8. batched retrieval evaluation: exact kNN join as ground truth, the
    # IVF-pruned batch join as the candidate, recall@k as the quality gate
    # for the ANN configuration actually deployed
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cents = similarity.medoid_centroids(emb, [7, 61, 127, 199, 263, 331])
    truth = similarity.knn_join(emb, probes, k=10)
    cand = similarity.ivf_knn_join(emb, probes, cents, k=10, n_probe=2)
    avg_recall = (
        similarity.topk_recall(cand, truth).agg(F.avg("recall")).first()[0]
    )
    print(f"IVF batch ANN recall@10 (n_probe=2/6): {avg_recall:.2f}")

    # 9. temperature-weighted mixture: size^alpha rebalancing of the split
    # corpora before packing/export (alpha=0.3 up-weights small sources)
    from sample_dms_kinesis_rds_mariadb_spark.operators.sampling import (
        mix_corpora,
        temperature_weights,
    )

    by_src = docs.join(survivors.select("doc_id"), "doc_id")
    sizes = {
        r["source"]: float(r["n"])
        for r in by_src.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    w = temperature_weights(sizes, alpha=0.3)
    mixed = mix_corpora(
        [(by_src.filter(F.col("source") == src), w[src]) for src in sizes],
        key_col="doc_id",
    )
    print(
        "temperature mixture (alpha=0.3):",
        {k: round(v, 3) for k, v in sorted(w.items())},
        f"-> {mixed.count()} rows",
    )

    # 9'. r9 stages: trigram Kneser-Ney (one extra bounded aggregate buys
    # the full Chen-Goodman chain), batch-probe PQ over compressed codes
    # (the whole eval set answered in ONE plan compile + ONE codes scan),
    # and perceptual image dedup over real decoded pixels
    kn3 = lm.train_kn_trigram_model(clean, "text", vocab_size=20_000)
    kn3_scorer = lm.make_kn3_perplexity_scorer(spark, kn3)
    avg3 = (
        clean.select(
            kn3_scorer(lm.doc_tokens_column(F.col("text"))).alias("b")
        )
        .agg(F.avg("b"))
        .first()[0]
    )
    print(f"trigram KN: avg {avg3:.2f} bits/token")

    from sample_dms_kinesis_rds_mariadb_spark.operators import pq as pq_ops

    books = pq_ops.train_pq(emb, m=4, k=16)
    codes = pq_ops.pq_encode(emb, books)
    pq_probes = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in emb.filter(F.col("vec_id") < 8).collect()
    }
    batch_hits = pq_ops.pq_batch_topk_rerank(emb, books, pq_probes, k=5,
                                             codes_df=codes)
    print(
        f"batch PQ: {batch_hits.count()} reranked hits for "
        f"{len(pq_probes)} probes in one codes scan"
    )

    from sample_dms_kinesis_rds_mariadb_spark.operators import (
        image_dedup,
        multimodal,
    )

    media = multimodal.attach_ppm_column(docs, "text", "doc_id")
    img_pairs = image_dedup.image_near_pairs(media, max_hamming=7)
    print(
        f"perceptual image dedup: {img_pairs.count()} near-dup pairs "
        "(dHash over real decoded pixels, banded hamming join)"
    )

    # 9''. r10 stages: MPEG audio decodes for real (Layer III incl. mixed
    # blocks and short-block intensity stereo, Layer I), so an MP3
    # re-encode of a WAV clip pairs perceptually — the crawl-audio
    # transcode class — and curate_media's opt-in audio branch composes
    # decode gate -> sha256 -> perceptual dedup for mixed media tables
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    try:
        from tests.mp3_writer import write_mp3  # the independent encoder
    except ImportError:
        write_mp3 = None
    if write_mp3 is not None:
        import numpy as np

        from sample_dms_kinesis_rds_mariadb_spark.operators import (
            audio_dedup,
        )

        rate = 44100
        tt = np.arange(2 * rate) / rate
        rng = np.random.default_rng(5)
        sig = np.clip(
            6000 * np.sin(2 * np.pi * 440 * tt)
            + 3500 * np.sin(2 * np.pi * 880 * tt + 0.7)
            + 2000 * np.sin(2 * np.pi * 1760 * tt + 1.3)
            + 900 * np.sin(
                2 * np.pi * (500 + 300 * np.sin(2 * np.pi * 0.7 * tt)) * tt
            )
            + 150 * rng.normal(size=tt.size),
            -32000, 32000,
        )
        pcm = b"".join(
            int(v).to_bytes(2, "little", signed=True) for v in sig
        )
        wav_blob = (
            b"RIFF" + (36 + len(pcm)).to_bytes(4, "little") + b"WAVEfmt "
            + (16).to_bytes(4, "little") + (1).to_bytes(2, "little")
            + (1).to_bytes(2, "little") + rate.to_bytes(4, "little")
            + (rate * 2).to_bytes(4, "little") + (2).to_bytes(2, "little")
            + (16).to_bytes(2, "little") + b"data"
            + len(pcm).to_bytes(4, "little") + pcm
        )
        clips = spark.createDataFrame(
            [(0, bytearray(wav_blob)), (1, bytearray(write_mp3(sig, rate, 1)))],
            "media_id LONG, content BINARY",
        )
        transcodes = audio_dedup.audio_near_pairs(
            clips, max_hamming=10, min_frac=0.3
        )
        print(
            f"audio transcode dedup: {transcodes.count()} WAV<->MP3 pair(s) "
            "(real Layer III sample decode feeding spectral fingerprints)"
        )

    # 9'''. r10: the document FRONT DOOR — crawl corpora are not just
    # HTML; PDFs/EPUB/DOCX/ODT/RTF extract through one Arrow pass with
    # a per-row error column (a bad payload never aborts the job)
    from sample_dms_kinesis_rds_mariadb_spark.sources.docformats import (
        extract_document_texts,
    )

    try:
        from tests.pdf_writer import text_content, write_pdf
    except ImportError:
        write_pdf = None
    if write_pdf is not None:
        payloads = [
            (0, write_pdf([text_content(["A PDF document body."])])),
            (1, rb"{\rtf1 An RTF document body.\par }"),
            (2, b"%PDF-1.5 corrupt payload"),
        ]
        doc_df = spark.createDataFrame(
            [(i, bytearray(b)) for i, b in payloads],
            "doc_id LONG, content BINARY",
        )
        extracted = extract_document_texts(doc_df)
        ok = extracted.filter(F.col("text").isNotNull())
        print(
            f"document front door: {ok.count()} extracted, "
            f"{extracted.filter(F.col('error').isNotNull()).count()} "
            "error-rowed (job survives)"
        )

    # 10. ship the data card with the curated corpus — the JSON artifact
    # downstream consumers read instead of scanning 100 TB
    from sample_dms_kinesis_rds_mariadb_spark.operators.profile import (
        write_data_card,
    )

    card_path = os.path.join(tempfile.gettempdir(), "llm-pipeline-card.json")
    card = write_data_card(
        mixed, card_path, name="demo-mixture", extra={"alpha": 0.3}
    )
    print(
        f"data card -> {card_path}: {card['n_docs']} docs, "
        f"quality {card['quality_share']:.1%}, "
        f"dup est {card['dup_rate_est']:.2%}"
    )
    print("done.")


if __name__ == "__main__":
    main()
