"""BM25 keyword search over the document corpus — the lexical retrieval
companion to the embedding ANN operators (`operators/similarity.py`).

Retrieval over a corpus at rest is a query-time operator, so the design
splits like the index operators do:

- corpus statistics (N, average document length) — ONE aggregate, a
  single row to the driver (control-plane);
- per-term document frequencies — docs emit only the query terms they
  contain (``array_intersect`` against the literal term list BEFORE the
  explode), so the shuffle carries at most |terms| rows per matching doc
  and the aggregate is |terms| rows total;
- scoring — a narrow codegen expression over one corpus scan: per-term
  term frequencies via ``F.filter`` counts, IDF weights inlined as plan
  literals from the (tiny) stats, ``orderBy().limit(k)`` so Spark plans
  TakeOrderedAndProject (per-partition heaps, no global sort).

Nothing corpus-sized ever reaches the driver and no stage shuffles
document text; at 100 TB the cost is two stat scans + one scoring scan,
all of which prune to (id, tokens) columns. BM25 per Robertson/Spärck
Jones with the Lucene ``ln(1 + (N-df+0.5)/(df+0.5))`` idf variant.

The reference has no search surface (its consumer reads CDC events,
reference run.py:175-188); this extends the engine's north-star
LLM-pipeline set (corpus triage, eval-set retrieval, "what leaked into
the corpus" forensics).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
    clean_tokens as _toks,
    py_clean_tokens,
)


def _query_terms(query: str | list[str]) -> list[str]:
    terms = query.split() if isinstance(query, str) else list(query)
    out, seen = [], set()
    for t in terms:
        t = t.strip().lower()
        if t and t not in seen:
            seen.add(t)
            out.append(t)
    return out


def corpus_stats(df: DataFrame, text_col: str) -> tuple[int, float]:
    """(document count, average token length) in one aggregate."""
    row = df.agg(
        F.count("*").alias("n"),
        F.avg(F.size(_toks(F.col(text_col)))).alias("avgdl"),
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def term_document_frequencies(
    df: DataFrame, text_col: str, terms: list[str]
) -> dict[str, int]:
    """Document frequency of each query term. The intersect-then-explode
    order matters: each doc emits at most |terms| rows (its matching
    terms), never its full token array."""
    if not terms:
        return {}
    hits = df.select(
        F.explode(
            F.array_intersect(
                F.array_distinct(_toks(F.col(text_col))),
                F.lit(terms),
            )
        ).alias("term")
    )
    rows = hits.groupBy("term").agg(F.count("*").alias("df")).collect()
    return {r["term"]: int(r["df"]) for r in rows}


def _stats_and_dfs(
    df: DataFrame, text_col: str, terms: list[str]
) -> tuple[int, float, dict[str, int]]:
    """(n_docs, avgdl, per-term document frequency) in ONE corpus scan —
    the corpus stats ride the document-frequency job as ``observe()``
    metrics (r13, guide §1.2 fewer passes: the separate
    :func:`corpus_stats` + :func:`term_document_frequencies` jobs each
    tokenized the corpus — at 100 TB that is a whole extra read+tokenize
    pass for two scalars). The token array is STAGED into a column so the
    lambda-bearing clean_tokens chain is evaluated once per row (no CSE
    on lambda trees). Values identical to the two-job form."""
    from pyspark.sql import Observation

    if not terms:
        n_docs, avgdl = corpus_stats(df, text_col)
        return n_docs, avgdl, {}
    obs = Observation()
    staged = df.select(_toks(F.col(text_col)).alias("_t")).observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size("_t")).alias("avgdl"),
    )
    hits = staged.select(
        F.explode(
            F.array_intersect(F.array_distinct(F.col("_t")), F.lit(terms))
        ).alias("term")
    )
    rows = hits.groupBy("term").agg(F.count("*").alias("df")).collect()
    try:
        # an EMPTY hit set can elide the CollectMetrics node entirely
        # (empty-stage propagation — observed metrics come back {}), in
        # which case .get raises; fall back to the dedicated stats job.
        # Only ever pays when NO query term matches the corpus.
        if not rows:
            raise ValueError("empty hit set: metrics not guaranteed")
        head = obs.get
        return (
            int(head["n"]),
            float(head["avgdl"] or 0.0),
            {r["term"]: int(r["df"]) for r in rows},
        )
    except Exception:
        n_docs, avgdl = corpus_stats(df, text_col)
        return n_docs, avgdl, {r["term"]: int(r["df"]) for r in rows}


def bm25_scores(
    df: DataFrame,
    text_col: str,
    query: str | list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Append a ``bm25`` column scoring every document against ``query``
    (0.0 for documents matching no term). One control-plane stat job
    (stats + document frequencies share a scan via ``observe()``),
    then one narrow scoring expression — no shuffle, no UDF."""
    terms = _query_terms(query)
    n_docs, avgdl, dfs = _stats_and_dfs(df, text_col, terms)
    # BIND the token array to a column once: referencing the raw expression
    # per term would re-run normalize+tokenize |terms|+1 times per row (the
    # re-evaluation class the winnowing rewrite measured at 20x)
    bound = df.withColumn("_bm25_toks", _toks(F.col(text_col)))
    toks = F.col("_bm25_toks")
    dl = F.size(toks)
    score = F.lit(0.0)
    for t in terms:
        df_t = dfs.get(t, 0)
        if df_t == 0 or n_docs == 0:
            continue  # absent terms contribute nothing to any document
        idf = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        # NB: plain closure over t — a second lambda parameter would be
        # interpreted by Spark as the element INDEX; eager evaluation inside
        # the loop makes the capture safe
        term = t
        tf = F.size(F.filter(toks, lambda x: x == F.lit(term))).cast("double")
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * dl.cast("double") / F.lit(avgdl)
        )
        score = score + F.lit(idf) * tf * F.lit(k1 + 1.0) / denom
    # NULL text tokenizes to NULL, which would poison the sum to NULL —
    # the documented contract is 0.0 for documents matching no term,
    # degenerate documents included
    return bound.withColumn("bm25", F.coalesce(score, F.lit(0.0))).drop(
        "_bm25_toks"
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query: str | list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for ``query`` as (id, bm25), best first.
    ``orderBy().limit(k)`` plans TakeOrderedAndProject — per-partition
    heaps merged on the driver, never a global sort."""
    scored = bm25_scores(df, text_col, query, k1=k1, b=b)
    return (
        scored.filter(F.col("bm25") > 0.0)
        .select(id_col, "bm25")
        .orderBy(F.desc("bm25"), F.col(id_col))
        .limit(k)
    )


def bm25_batch_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    queries: dict[object, str | list[str]],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for EVERY query in one pass — eval-set retrieval
    ("which corpus docs answer these 10k benchmark questions") where
    looping :func:`bm25_search` would scan the corpus once per query.

    Returns (query_id, id_col, bm25, rank), rank 1 = best; ``query_id`` is
    stringified (dict keys of any type come back as their ``str`` form).

    Scale shape: corpus stats + document frequencies for the UNION of all
    query terms are the same control-plane aggregates as the single-query
    path. Then ONE corpus scan emits a (doc, term, tf) row per *matching*
    term only (``array_intersect`` before the explode — never the full
    token array), the tiny (query_id, term, idf) table broadcast-joins
    onto it, contributions sum per (query_id, doc), and a per-query window
    takes top-``k``. The shuffles carry matching (doc, term) pairs and
    (query, doc) partials — both bounded by hit counts, never corpus ×
    queries.
    """
    qterms = {qid: _query_terms(q) for qid, q in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    n_docs, avgdl, dfs = _stats_and_dfs(df, text_col, all_terms)
    spark = df.sparkSession
    qrows = [
        (qid, t, math.log(1.0 + (n_docs - dfs[t] + 0.5) / (dfs[t] + 0.5)))
        for qid, ts in qterms.items()
        for t in ts
        if dfs.get(t, 0) > 0 and n_docs > 0
    ]
    if not qrows:
        from pyspark.sql import types as T

        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", T.StringType()),
                    T.StructField(id_col, df.schema[id_col].dataType),
                    T.StructField("bm25", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    qdf = spark.createDataFrame(
        [(str(qid), t, idf) for qid, t, idf in qrows],
        "query_id string, term string, idf double",
    )
    toks = _toks(F.col(text_col))
    # one row per token OCCURRENCE (an array_intersect would dedup and
    # flatten tf to 1), membership-tested by a broadcast hash join against
    # the distinct term set — a hash probe per token (an array_contains
    # scan over a big literal term list would be O(|terms|) per token for
    # 10k-query batches). Non-matching tokens die map-side inside the
    # broadcast join; the groupBy shuffle carries only the hits.
    # NB: binding the token array to a column first ("select toks alias,
    # then size/explode it") does NOT deduplicate the work here — measured
    # on the optimized plan it yields THREE tokenizations per row (the
    # optimizer collapses the projection back through the Generate and
    # keeps the alias), vs two for this direct form. bm25_scores' bind
    # helps there because its |terms|+1 consumers sit in one Project.
    hits = (
        df.select(
            F.col(id_col),
            F.size(toks).alias("_dl"),
            F.explode(toks).alias("term"),
        )
        .join(F.broadcast(qdf.select("term").distinct()), "term")
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("_tf"), F.first("_dl").alias("_dl"))
    )
    tf = F.col("_tf").cast("double")
    denom = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.lit(avgdl)
    )
    contrib = F.col("idf") * tf * F.lit(k1 + 1.0) / denom
    scored = (
        hits.join(F.broadcast(qdf), "term")
        .withColumn("_c", contrib)
        .groupBy("query_id", id_col)
        .agg(F.sum("_c").alias("bm25"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("bm25"), F.col(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
        .select("query_id", id_col, "bm25", "rank")
    )


class InvertedIndex:
    """Persistent inverted index: build postings ONCE, answer every later
    query from partition-pruned posting reads — no corpus scan at probe
    time. The lexical dual of ``dedup.MinHashIndex`` / ``similarity
    .IvfIndex``: the expensive pass (tokenize + explode the corpus) runs
    once at build, and each query touches only the term buckets it names.

    Layout under ``path``:

    - ``postings/term_bucket=K/``: (term, doc_id, tf, dl) — one row per
      (document, distinct term), document length DENORMALIZED into the
      posting so probes never join a lengths table;
    - ``_index.json``: n_docs, total_tokens (exact avgdl maintenance
      across appends), n_buckets, id column name.

    Probe cost: read ``|query terms|`` bucket directories (directory-level
    partition pruning plus parquet dictionary/min-max pruning on ``term``
    inside them), one term-keyed window for exact document frequencies,
    one doc-keyed aggregate, TakeOrdered top-k — every stage bounded by
    the HIT count, never corpus size. Scores are IDENTICAL to
    :func:`bm25_search` over the same corpus (same idf variant, same
    stats; parity-tested), because df/N/avgdl are exact, not sampled.

    ``append`` ingests new documents incrementally: postings land in the
    same bucket layout (existing partitions gain files, no rewrite) and
    the stats row updates arithmetically — no recompute over the corpus.
    Term buckets use crc32 so the driver can name the probe buckets
    without a Spark job.
    """

    STATS_FILE = "_index.json"

    def __init__(
        self,
        spark,
        path: str,
        id_col: str = "doc_id",
        n_buckets: int = 64,
    ) -> None:
        import os

        self.spark = spark
        self.path = path
        self.postings_path = os.path.join(path, "postings")
        stats_path = os.path.join(path, self.STATS_FILE)
        if os.path.exists(stats_path):
            import json

            with open(stats_path) as f:
                st = json.load(f)
            self.id_col = st["id_col"]
            self.n_buckets = int(st["n_buckets"])
            self._n_docs = int(st["n_docs"])
            self._total_tokens = int(st["total_tokens"])
            # legacy indexes predate the NULL-text distinction: every doc
            # tokenized, so the text-doc count equals the doc count
            self._n_text_docs = int(st.get("n_text_docs", st["n_docs"]))
        else:
            if n_buckets < 1:
                raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
            self.id_col = id_col
            self.n_buckets = int(n_buckets)
            self._n_docs = 0
            self._total_tokens = 0
            self._n_text_docs = 0

    def _save_stats(self) -> None:
        import json
        import os

        os.makedirs(self.path, exist_ok=True)
        with open(os.path.join(self.path, self.STATS_FILE), "w") as f:
            json.dump(
                {
                    "id_col": self.id_col,
                    "n_buckets": self.n_buckets,
                    "n_docs": self._n_docs,
                    "total_tokens": self._total_tokens,
                    "n_text_docs": self._n_text_docs,
                },
                f,
            )

    def _postings(self, df: DataFrame, text_col: str) -> DataFrame:
        toks = df.withColumn("_toks", _toks(F.col(text_col)))
        return (
            toks.select(
                F.col(self.id_col).alias("doc_id"),
                F.size("_toks").alias("dl"),
                F.explode("_toks").alias("term"),
            )
            .groupBy("doc_id", "term")
            .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
            .withColumn(
                "term_bucket",
                F.pmod(
                    F.crc32(F.encode(F.col("term"), "UTF-8")),
                    F.lit(self.n_buckets),
                ).cast("int"),
            )
        )

    def build(self, df: DataFrame, text_col: str = "text") -> None:
        """Index the corpus (overwrites any prior index at ``path``)."""
        self._n_docs = 0
        self._total_tokens = 0
        self._n_text_docs = 0
        self._postings(df, text_col).write.mode("overwrite").partitionBy(
            "term_bucket"
        ).parquet(self.postings_path)
        self._accumulate_stats(df, text_col)

    def append(self, df: DataFrame, text_col: str = "text") -> None:
        """Add new documents: bucket-partitioned posting append + an
        arithmetic stats update — never a corpus recompute. Caller owns id
        uniqueness (re-appending an id would double-count it, exactly like
        appending it to the source corpus twice)."""
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        # a parquet append would silently re-CREATE a path deleted by a
        # crashed compact, orphaning the postings in .compact/.old
        heal_partitioned_store(self.postings_path)
        self._postings(df, text_col).write.mode("append").partitionBy(
            "term_bucket"
        ).parquet(self.postings_path)
        self._accumulate_stats(df, text_col)

    def _accumulate_stats(self, df: DataFrame, text_col: str) -> None:
        # zero-token docs leave no postings but DO count in n_docs/avgdl,
        # so stats come from the batch frame, not the postings. The avgdl
        # denominator counts only rows whose text tokenizes (non-NULL) —
        # the same rows F.avg(size(...)) admits in corpus_stats — so index
        # scores stay IDENTICAL to bm25_search even on corpora with NULL
        # text; n_docs (the idf N) still counts every row, as there too.
        sizes = F.size(_toks(F.col(text_col)))
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(sizes).alias("n_text"),
            F.sum(sizes).alias("tok"),
        ).first()
        self._n_docs += int(row["n"])
        self._n_text_docs += int(row["n_text"])
        self._total_tokens += int(row["tok"] or 0)
        self._save_stats()

    def compact(self, min_files: int = 64) -> int:
        """Rewrite the posting log into one file per term bucket. Every
        ``append`` adds up to one file per touched bucket, so a streaming
        ingest grows probe-side file counts O(appends); compaction folds
        them back.
        Rewrites into a sibling directory and swaps via rename, so a probe
        started before the swap keeps its snapshot of the old files.
        Single-writer (like build/append — the caller owns write
        serialization). No-op below ``min_files``; returns files removed.
        Stale ``.compact`` / ``.old`` siblings from a crashed prior run are
        cleared before the rewrite (the swap's renames must never hit an
        existing directory).
        """
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            compact_partitioned_store,
        )

        return compact_partitioned_store(
            self.spark, self.postings_path, "term_bucket", min_files=min_files
        )

    def _empty_result(self) -> DataFrame:
        """Empty (doc_id, bm25) frame with the REAL doc_id type from the
        postings, so empty-query/empty-index results union and join cleanly
        with populated ones; string only when nothing was ever indexed."""
        from pyspark.sql import types as T

        id_type: T.DataType = T.StringType()
        try:
            id_type = self.spark.read.parquet(self.postings_path).schema[
                "doc_id"
            ].dataType
        except Exception:
            pass
        return self.spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("doc_id", id_type),
                    T.StructField("bm25", T.DoubleType()),
                ]
            ),
        )

    def _bucket_of(self, term: str) -> int:
        import zlib

        # zlib.crc32 == Spark's crc32 (unsigned IEEE), so the driver names
        # probe buckets without a Spark job
        return zlib.crc32(term.encode("utf-8")) % self.n_buckets

    def search(
        self,
        query: str | list[str],
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-``k`` (doc_id, bm25), best first, from the index alone."""
        from pyspark.sql import Window

        terms = _query_terms(query)
        n, avgdl = self._n_docs, (
            self._total_tokens / self._n_text_docs if self._n_text_docs else 0.0
        )
        # _n_text_docs == 0: docs were indexed but none tokenized (all
        # NULL/empty text) — the postings write produced no parquet files,
        # so the read below would fail schema inference; there is nothing
        # to score either way
        if not terms or n == 0 or self._n_text_docs == 0:
            return self._empty_result()
        buckets = sorted({self._bucket_of(t) for t in terms})
        # n_docs > 0 but no postings files: every indexed doc had
        # NULL/empty/whitespace text, so the partitioned write produced
        # nothing to infer a schema from — nothing to score. An explicit
        # file check, NOT a try/except around the read: swallowing read
        # errors would silently turn store corruption into "no hits"
        import glob
        import os

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        heal_partitioned_store(self.postings_path)
        if not glob.glob(
            os.path.join(self.postings_path, "term_bucket=*", "*.parquet")
        ):
            return self._empty_result()
        p = (
            self.spark.read.parquet(self.postings_path)
            # term_bucket prunes DIRECTORIES before any file opens; the
            # term filter then prunes row groups via dictionary/min-max
            .filter(F.col("term_bucket").isin(buckets))
            .filter(F.col("term").isin(terms))
        )
        # exact df per term from the postings themselves — no separate
        # term-stats table to keep consistent across appends. One shuffle
        # keyed on term, bounded by hit counts.
        p = p.withColumn(
            "_df", F.count("*").over(Window.partitionBy("term"))
        )
        idf = F.log(
            F.lit(1.0)
            + (F.lit(float(n)) - F.col("_df") + F.lit(0.5))
            / (F.col("_df") + F.lit(0.5))
        )
        tf = F.col("tf").cast("double")
        denom = tf + F.lit(k1) * (
            F.lit(1.0 - b)
            + F.lit(b) * F.col("dl").cast("double") / F.lit(avgdl)
        )
        return (
            p.withColumn("_c", idf * tf * F.lit(k1 + 1.0) / denom)
            .groupBy("doc_id")
            .agg(F.sum("_c").alias("bm25"))
            .orderBy(F.desc("bm25"), F.col("doc_id"))
            .limit(k)
        )


def with_rank(df: DataFrame, score_col: str, id_col: str) -> DataFrame:
    """Append ``rank`` (1 = best) by descending score, id tiebreak. Meant
    for the k-row result frames of :func:`bm25_search` /
    ``similarity.*topk*`` — the input is top-k-sized, so the single-
    partition window is a driver-trivial sort, not a corpus operation."""
    from pyspark.sql import Window

    w = Window.orderBy(F.col(score_col).desc(), F.col(id_col))
    return df.withColumn("rank", F.row_number().over(w))


def rrf_fuse(
    results: list[DataFrame],
    id_col: str,
    k: int = 10,
    rrf_k: int = 60,
    weights: list[float] | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked result lists — the standard hybrid
    retrieval combiner (lexical BM25 + vector ANN, or N probes of either):
    ``score(d) = Σ_i w_i / (rrf_k + rank_i(d))`` summed over the lists that
    returned ``d``; ``rrf_k=60`` per Cormack/Clarke/Buettcher. Rank-based
    fusion needs no score normalization, which is exactly why it is the
    default for fusing BM25's unbounded scores with cosine's [-1, 1].

    Each input frame carries (``id_col``, ``rank``) — produce ranks with
    :func:`with_rank` if you only have scores. Returns top-``k``
    (id, rrf_score), best first.

    Scale shape: the inputs are top-k result frames (tiny by construction),
    so the union + per-id sum is a control-plane-sized aggregate no matter
    how big the corpus behind them was.
    """
    if not results:
        raise ValueError("rrf_fuse needs at least one result frame")
    w = weights if weights is not None else [1.0] * len(results)
    if len(w) != len(results):
        raise ValueError(
            f"weights ({len(w)}) must match results ({len(results)})"
        )
    parts = [
        r.select(
            F.col(id_col),
            (F.lit(float(wi)) / (F.lit(float(rrf_k)) + F.col("rank"))).alias(
                "_c"
            ),
        )
        for r, wi in zip(results, w)
    ]
    out: DataFrame | None = None
    for p in parts:
        out = p if out is None else out.unionByName(p)
    return (
        out.groupBy(id_col)
        .agg(F.sum("_c").alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.col(id_col))
        .limit(int(k))
    )


def reference_rrf(
    ranked_lists: list[dict],
    k: int = 10,
    rrf_k: int = 60,
    weights: list[float] | None = None,
) -> list[tuple]:
    """Pure-Python mirror of :func:`rrf_fuse` for parity tests.
    ``ranked_lists`` maps id -> rank (1-based) per list; returns
    [(id, score)] best first, id tiebreak."""
    w = weights if weights is not None else [1.0] * len(ranked_lists)
    scores: dict = {}
    for lst, wi in zip(ranked_lists, w):
        for i, r in lst.items():
            scores[i] = scores.get(i, 0.0) + wi / (rrf_k + r)
    return sorted(scores.items(), key=lambda t: (-t[1], t[0]))[:k]


def reference_bm25(
    docs: dict, query: str | list[str], k1: float = 1.2, b: float = 0.75
) -> dict:
    """Independent pure-Python BM25 (same normalization/idf/order of
    operations) — the parity oracle for tests. ``docs`` maps id → text;
    returns id → score."""
    terms = _query_terms(query)
    tokenized = {i: py_clean_tokens(t) for i, t in docs.items()}
    n = len(docs)
    avgdl = sum(len(v) for v in tokenized.values()) / n if n else 0.0
    dfs = {
        t: sum(1 for v in tokenized.values() if t in v) for t in terms
    }
    out = {}
    for i, v in tokenized.items():
        score = 0.0
        for t in terms:
            df_t = dfs.get(t, 0)
            if df_t == 0 or n == 0:
                continue
            idf = math.log(1.0 + (n - df_t + 0.5) / (df_t + 0.5))
            tf = float(v.count(t))
            denom = tf + k1 * ((1.0 - b) + b * float(len(v)) / avgdl)
            score = score + idf * tf * (k1 + 1.0) / denom
        out[i] = score
    return out
