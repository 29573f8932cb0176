"""Deduplication operators for training-data pipelines (north-star ops).

Five dedup families, each designed partition-parallel (no driver-side
collects, no cross joins outside hash buckets):

- exact: hash-groupBy on a content fingerprint — one shuffle.
- MinHash+LSH: shingle → banded minhash → bucket join — candidate pairs only
  form within equal-signature buckets, so the quadratic blowup is bounded by
  bucket size (the standard LSH guarantee), not corpus size.
- SimHash: 64-bit fingerprints; near-dup = small hamming distance, candidate
  generation via band-of-bits bucketing.
- n-gram Jaccard: exact similarity on candidate pairs (verification step
  after LSH, or direct vs a probe).
- embedding cosine: near-dup via vector similarity (operators/similarity.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sample_dms_kinesis_rds_mariadb_spark.functions.hashing import (
    hamming64,
    minhash_signatures,
    shingles,
    simhash64,
)
from sample_dms_kinesis_rds_mariadb_spark.functions.text import doc_fingerprint


def _pin(df: DataFrame, materialize: bool) -> DataFrame:
    """Materialize a small per-document signature frame before a self-join.

    Spark evaluates each join side independently — without pinning, the
    corpus scan + signature computation upstream of an a/b self-join runs
    TWICE (ReuseExchange does not fire across the differently-projected
    sides, measured in the executed plans). The signature frames here are
    tiny relative to the corpus (~8-40 bytes/doc: id + hash), so an eager
    ``localCheckpoint`` trades bounded executor storage for a whole corpus
    scan — the right trade at any scale, and ContextCleaner reclaims the
    checkpoint once the result frame is unreferenced. Pass
    ``materialize=False`` for a fully lazy plan (e.g. ``.explain`` without
    execution, or when composing into a larger pinned pipeline).
    """
    return df.localCheckpoint(eager=True) if materialize else df


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup: keep the lowest id per normalized-content fingerprint.
    One hash-shuffle on the fingerprint; at 100 TB this is the cheapest
    possible dedup (map-side partial min, no row data in the shuffle beyond
    id+hash)."""
    return (
        df.select(
            F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
        )
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_duplicates"))
    )


def dedup_stream(
    stream_df: DataFrame,
    text_col: str,
    ts_col: str,
    delay: str = "10 minutes",
) -> DataFrame:
    """Streaming arm of exact dedup: first occurrence of each
    normalized-content fingerprint passes, later occurrences (redelivered
    records on an at-least-once feed, restarted tasks, genuine duplicate
    documents) are dropped — Spark's ``dropDuplicatesWithinWatermark``
    keyed on ``doc_fingerprint``.

    State is BOUNDED by the watermark: a fingerprint older than
    ``delay`` behind the stream's max event time is evicted, so state
    size tracks the delay window, never the stream's history. That is
    also the semantic contract: a duplicate arriving later than ``delay``
    after its original is NOT deduplicated here — cross-window history
    dedup is ``MinHashIndex.dedup_batch`` / ``dedup_exact`` over the
    materialized corpus.

    NULL-text records pass through UNTOUCHED: ``doc_fingerprint(NULL)``
    is NULL and the dedup operator would group every NULL key together —
    silently dropping unrelated failed-extraction records as "duplicates"
    of each other. They are routed around the dedup and unioned back.
    """
    fp = "_dedup_stream_fp"
    if fp in stream_df.columns:
        raise ValueError(f"column collision: input already has '{fp}'")
    null_text = stream_df.filter(F.col(text_col).isNull())
    deduped = (
        stream_df.filter(F.col(text_col).isNotNull())
        .withColumn(fp, doc_fingerprint(F.col(text_col)))
        .withWatermark(ts_col, delay)
        .dropDuplicatesWithinWatermark([fp])
        .drop(fp)
    )
    return deduped.unionByName(null_text)


def minhash_lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Candidate near-duplicate pairs: documents sharing a MinHash signature
    in ≥1 band. Self-join is on (band, signature) — a hash-partitioned
    equi-join whose fan-out is bucket-bounded. Returns distinct (id_a, id_b)
    with id_a < id_b. The signature frame is pinned before the self-join
    (see :func:`_pin`) so the corpus is shingled once, not per join side."""
    sigs = _pin(
        minhash_signatures(df, id_col, text_col, n=n, bands=bands), materialize
    )
    a = sigs.select(
        F.col("band"), F.col("signature"), F.col(id_col).alias("id_a")
    )
    b = sigs.select(
        F.col("band"), F.col("signature"), F.col(id_col).alias("id_b")
    )
    return (
        a.join(b, ["band", "signature"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def dedup_minhash_lsh(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, bands: int = 4
) -> DataFrame:
    """Drop every document that collides with a lower-id document in any LSH
    band (single-link, one hop). Anti-join keeps the survivors."""
    pairs = minhash_lsh_candidate_pairs(df, id_col, text_col, n=n, bands=bands)
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def ngram_jaccard(set_a: Column, set_b: Column) -> Column:
    """Exact Jaccard similarity of two shingle-set columns (built-in array
    intersection/union — JVM-side)."""
    inter = F.size(F.array_intersect(set_a, set_b))
    union = F.size(F.array_union(set_a, set_b))
    return (inter / union).cast("double")


def ngram_jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate pairs with exact n-gram Jaccard ≥ threshold.
    Joins shingle sets onto the (id_a, id_b) pair table — two broadcast-or-
    shuffle hash joins on ids, similarity evaluated per pair row."""
    sets = df.select(
        F.col(id_col), shingles(F.col(text_col), n).alias("shingles")
    )
    out = (
        pairs.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sa")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sb")),
            "id_b",
        )
        .withColumn("jaccard", ngram_jaccard(F.col("sa"), F.col("sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def edit_distance_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 20,
) -> DataFrame:
    """Verify candidate pairs by bounded Levenshtein distance — the
    strictest verification stage (exact character-level edits), for when
    Jaccard's bag-of-shingles view is too loose (e.g. near-identical docs
    differing by a short insertion that shifts every shingle).

    Uses Spark's thresholded ``levenshtein``: the JVM kernel short-circuits
    to -1 once the running distance exceeds ``max_distance``, so cost per pair
    is O(len × max_distance), not O(len²) — essential when candidates
    include long documents. Like :func:`ngram_jaccard_pairs`, the quadratic
    is bounded by the candidate set (LSH/SimHash/winnowing output), never
    all-pairs.

    Scan shape: a naive per-side text join would scan the FULL-TEXT corpus
    twice (the heaviest column in the table). Instead the pairs melt into
    (id_a, id_b, side, text-id) legs, join the text table ONCE, and a
    per-pair aggregate pivots the two sides back into columns — one corpus
    scan, one shuffle keyed on the pair.
    Output: (id_a, id_b, edit_distance), edit_distance <= max_distance.
    """
    texts = df.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt"))
    legs = pairs.select(
        "id_a", "id_b", F.col("id_a").alias("_tid"), F.lit("a").alias("_side")
    ).unionByName(
        pairs.select(
            "id_a", "id_b", F.col("id_b").alias("_tid"), F.lit("b").alias("_side")
        )
    )
    wide = (
        legs.join(texts, "_tid")
        .groupBy("id_a", "id_b")
        .agg(
            F.max(F.when(F.col("_side") == "a", F.col("_txt"))).alias("_ta"),
            F.max(F.when(F.col("_side") == "b", F.col("_txt"))).alias("_tb"),
        )
    )
    return (
        wide.withColumn(
            "edit_distance",
            F.levenshtein(F.col("_ta"), F.col("_tb"), max_distance),
        )
        # thresholded levenshtein returns -1 past the bound
        .filter(F.col("edit_distance") >= 0)
        .select("id_a", "id_b", "edit_distance")
    )


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (functions/hashing.py)."""
    return simhash64(df, id_col, text_col)


def simhash_near_pairs_md5(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Cross-engine-verifiable SimHash near-dup pairs: 60-bit md5-derived
    fingerprints, 15-bit-band pigeonhole bucketing (hamming ≤ 3 of 60 bits
    ⇒ ≥1 of 4 bands agrees), exact hamming verification. Identical shape to
    ``simhash_near_pairs`` but every bit is reproducible in SQL, so the
    catalog query carries a full DuckDB oracle."""
    from sample_dms_kinesis_rds_mariadb_spark.functions.hashing import simhash60_md5

    fps = _pin(simhash60_md5(df, id_col, text_col), materialize)
    width = 60 // bands
    banded = fps.select(
        F.col(id_col),
        F.col("simhash60"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash60"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash60", "bk.band", "bk.key")
    a = banded.select(
        "band", "key", F.col(id_col).alias("id_a"), F.col("simhash60").alias("fp_a")
    )
    b = banded.select(
        "band", "key", F.col(id_col).alias("id_b"), F.col("simhash60").alias("fp_b")
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_near_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    materialize: bool = True,
) -> DataFrame:
    """Near-duplicate pairs by SimHash: bucket on 16-bit bands of the
    fingerprint (a pair within hamming distance ≤ 3 of 64 bits must agree on
    ≥1 of 4 bands — pigeonhole), then verify exact hamming distance."""
    fps = _pin(simhash_fingerprints(df, id_col, text_col), materialize)
    width = 64 // bands
    banded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band", "bk.key")
    a = banded.select(
        "band", "key", F.col(id_col).alias("id_a"), F.col("simhash").alias("fp_a")
    )
    b = banded.select(
        "band", "key", F.col(id_col).alias("id_b"), F.col("simhash").alias("fp_b")
    )
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64(F.col("fp_a"), F.col("fp_b")).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    hash_fn: str = "crc32",
) -> DataFrame:
    """Rolling-hash document fingerprints by winnowing (Schleimer, Wilkerson,
    Aiken, SIGMOD 2003 — the MOSS algorithm): hash every character k-gram,
    slide a window of ``window`` consecutive hashes, keep each window's
    minimum. Guarantee: any shared substring of length ≥ k+window-1 between
    two documents yields at least one shared fingerprint, so matching on
    (hash) finds local overlap that whole-document hashing misses.

    Tie rule: the (hash, leftmost position) pair — deterministic across
    partitionings. ``hash_fn``: ``"crc32"`` (default — cheapest JVM hash,
    LONG, identically computable in plain Python via zlib) or ``"md5_32"``
    (first 8 hex chars of md5 as a STRING — fixed-width lowercase hex
    orders exactly like the integer it encodes, and md5 is the repo's
    cross-engine primitive, so this variant is verifiable in DuckDB SQL,
    which has no crc32). Selection semantics are identical either way.

    Scale shape: a NARROW no-shuffle map. The k-gram expansion is per-row
    array work (shifted-slice zip, stays in codegen — no HOF capture, see
    functions/text.py ``zip_ngrams``), and the window-minimum selection
    happens in array space too: slide ``array_min`` over ``window``-wide
    slices of the (hash, pos) array, ``array_distinct`` the selections, and
    explode only the SELECTED fingerprints. Nothing is keyed by document —
    no Exchange anywhere (plan-asserted), so the operator scales like a
    projection: at 100 TB it is a single pass over the text with output
    ~2/(window+1) of the gram count.
    Output: one row per selected fingerprint (id, pos, hash).
    """
    if hash_fn == "crc32":
        def _hash(gram):
            return F.crc32(F.encode(gram, "utf-8"))
    elif hash_fn == "md5_32":
        def _hash(gram):
            return F.substring(F.md5(gram), 1, 8)
    else:
        raise ValueError(f"hash_fn must be crc32 or md5_32, got {hash_fn!r}")
    chars = F.filter(F.split(F.lower(F.col(text_col)), ""), lambda c: c != F.lit(""))
    grams = F.transform(
        # arrays_zip of k shifted slices: each element is a struct of k chars
        F.arrays_zip(
            *[
                F.slice(
                    chars, i + 1, F.greatest(F.size(chars) - F.lit(k - 1), F.lit(0))
                ).alias(str(i))
                for i in range(k)
            ]
        ),
        lambda s: _hash(F.concat_ws("", *[s[str(i)] for i in range(k)])),
    )
    grams_pos = F.transform(
        grams, lambda h, i: F.struct(h.alias("hash"), i.alias("pos"))
    )
    # BIND the hashed-gram array to a column before the sliding-min pass:
    # embedding the expression inside the next transform's lambda body would
    # re-evaluate the whole k-gram hashing once PER WINDOW START (O(n²·k)
    # per doc — measured 20x slower at sf0.01). As a bound attribute the
    # lambda body is an O(window) slice. The two projections don't collapse
    # (the alias is referenced multiple times, incl. under a HOF).
    bound = df.select(F.col(id_col), grams_pos.alias("_gp"))
    gp = F.col("_gp")
    n = F.size(gp)
    # full windows select (starts 0 .. n-window); a doc with fewer than
    # `window` grams still fingerprints once via the partial window at 0
    # (slice caps at the array end); zero grams -> NULL -> explode drops row
    starts = F.sequence(F.lit(0), F.greatest(n - F.lit(window), F.lit(0)))
    selected = F.when(
        n >= 1,
        F.array_distinct(
            F.transform(
                starts,
                lambda i: F.array_min(F.slice(gp, i + F.lit(1), F.lit(window))),
            )
        ),
    )
    return bound.select(
        F.col(id_col), F.explode(selected).alias("_fp")
    ).select(
        F.col(id_col),
        F.col("_fp.pos").alias("pos"),
        F.col("_fp.hash").alias("hash"),
    )


def winnowing_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 1000,
    hash_fn: str = "crc32",
    materialize: bool = True,
) -> DataFrame:
    """Local-overlap near-dup pairs via winnowing: documents sharing
    ``min_shared`` or more selected fingerprints. Candidate pairs form only
    inside equal-hash buckets (the LSH shape — the join is keyed on the
    fingerprint hash, never all-pairs), then a count-aggregate keeps pairs
    with enough independent shared regions. Catches partial-overlap
    duplicates (shared boilerplate, quoted passages) that whole-document
    fingerprints miss. The df-capped fingerprint frame is pinned before the
    self-join (see :func:`_pin`) so the corpus is fingerprinted once.
    Output: (id_a, id_b, shared_fingerprints), id_a < id_b.
    """
    fps = winnowing_fingerprints(
        df, id_col, text_col, k=k, window=window, hash_fn=hash_fn
    )
    # one row per (doc, hash): position multiplicity must not inflate the
    # shared count
    by_hash = fps.select(id_col, "hash").distinct()
    # document-frequency cap: common k-grams ("the q", " and ") select into
    # many documents, and a bucket shared by m docs joins m² pairs — at
    # corpus scale those stop-fingerprints would dominate the join. Dropping
    # hashes with df > max_df bounds every bucket (the stop-shingle removal
    # standard in near-dup mining); a fingerprint that common carries no
    # duplicate signal anyway.
    from pyspark.sql import Window

    capped = _pin(
        by_hash.withColumn(
            "_df", F.count("*").over(Window.partitionBy("hash"))
        ).filter(F.col("_df") <= max_df),
        materialize,
    )
    a = capped.select(F.col("hash"), F.col(id_col).alias("id_a"))
    b = capped.select(F.col("hash"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, "hash")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= min_shared)
    )


class MinHashIndex:
    """Incremental near-dup index: dedupe NEW batches against the corpus
    seen so far without recomputing anything over the corpus.

    At 100 TB the batch formulation (`dedup_minhash_lsh`) is a one-shot —
    re-running it for every arriving batch re-shingles and re-shuffles the
    whole corpus. This index persists the per-band MinHash signatures as a
    parquet store PARTITIONED BY band (the same build-once/probe-many split
    as `similarity.IvfIndex`): probing a batch computes signatures for the
    NEW documents only and equi-joins them against the store on
    (band, signature) — shuffle volume is |batch|×bands plus the matched
    store rows, never corpus-sized. Precedence is arrival order: a new doc
    colliding with ANY stored signature loses (stored docs are older).

    ``dedup_batch`` appends ALL of the batch's signatures (survivors and
    losers alike), which makes the incremental result provably equal to the
    one-shot batch dedup over the concatenated corpus when ids follow
    arrival order — tested in tests/test_dedup_index.py.
    """

    META_FILE = "_minhash_meta.json"  # leading _: ignored by parquet readers

    def __init__(
        self,
        spark,
        path: str,
        id_col: str,
        n: int,
        bands: int,
        auto_compact_files: int | None = None,
    ) -> None:
        if auto_compact_files is not None and auto_compact_files <= 2 * bands:
            raise ValueError(
                f"auto_compact_files ({auto_compact_files}) must exceed "
                f"2 x bands ({2 * bands}) or every append re-triggers a "
                "full store rewrite"
            )
        self.spark = spark
        self.path = path
        self.id_col = id_col
        self.n = n
        self.bands = bands
        # opt-in maintenance for long-lived ingest loops: append re-compacts
        # when the store's file count reaches the threshold, so probe-side
        # listing cost stays bounded without a caller-side scheduler
        self.auto_compact_files = auto_compact_files

    # -- lifecycle -----------------------------------------------------------

    @classmethod
    def build(
        cls,
        df: DataFrame,
        path: str,
        id_col: str,
        text_col: str,
        n: int = 3,
        bands: int = 4,
        auto_compact_files: int | None = None,
    ) -> "MinHashIndex":
        import json
        import os

        sigs = minhash_signatures(df, id_col, text_col, n=n, bands=bands)
        renamed = sigs.withColumnRenamed(id_col, "doc_id")
        renamed.write.mode("overwrite").partitionBy("band").parquet(path)
        # persist the store schema: an empty bootstrap (or a store whose
        # partitions are all empty) has no parquet files to infer from
        schema_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in renamed.schema.fields
        )
        with open(os.path.join(path, cls.META_FILE), "w") as f:
            json.dump(
                {"id_col": id_col, "n": n, "bands": bands, "schema": schema_ddl}, f
            )
        idx = cls(
            df.sparkSession, path, id_col, n, bands,
            auto_compact_files=auto_compact_files,
        )
        idx._schema_ddl = schema_ddl
        return idx

    @classmethod
    def load(
        cls, spark, path: str, auto_compact_files: int | None = None
    ) -> "MinHashIndex":
        import json
        import os

        with open(os.path.join(path, cls.META_FILE)) as f:
            meta = json.load(f)
        idx = cls(
            spark, path, meta["id_col"], meta["n"], meta["bands"],
            auto_compact_files=auto_compact_files,
        )
        idx._schema_ddl = meta.get("schema")
        return idx

    @classmethod
    def exists(cls, path: str) -> bool:
        import os

        return os.path.exists(os.path.join(path, cls.META_FILE))

    # -- operations ----------------------------------------------------------

    def _sigs(self, batch: DataFrame, text_col: str) -> DataFrame:
        return minhash_signatures(
            batch, self.id_col, text_col, n=self.n, bands=self.bands
        )

    def _store(self) -> DataFrame:
        """The signature store AS OF NOW: the file list is snapshotted at
        call time and pinned into the plan, so a later ``append`` can never
        leak into an already-built probe (lazy plans re-list directories on
        re-execution — e.g. a cache-evicted loser set would otherwise see
        the batch's own signatures and self-collide). An empty bootstrap
        store reads as an empty frame with the persisted schema.

        The pinned-file-list snapshot also means a ``compact`` (manual or
        ``auto_compact_files``-triggered) INVALIDATES plans built before
        it — materialize probe results (collect / localCheckpoint) before
        any call that may compact, the order ``dedup_batch`` itself
        follows (losers are checkpointed before its append)."""
        import glob
        import os

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        files = sorted(
            glob.glob(os.path.join(self.path, "band=*", "*.parquet"))
        )
        if not files:
            return self.spark.createDataFrame([], self._schema_ddl)
        return self.spark.read.option("basePath", self.path).parquet(*files)

    def probe(self, batch: DataFrame, text_col: str) -> DataFrame:
        """Candidate collisions of the batch against the store: distinct
        (new_id, stored_id) sharing a signature in >= 1 band. A pruned
        equi-join on (band, signature); the store side is filtered by the
        join itself — no corpus-wide recompute.

        Self-matches (new_id == stored_id) are excluded: a document is
        never its own duplicate. This makes a CRASH-REPLAYED
        ``dedup_batch`` (a foreachBatch micro-batch re-run after its
        signatures were already appended) produce the same verdicts as
        the first run instead of dropping the whole batch against its
        own stored signatures."""
        new_sigs = self._sigs(batch, text_col).withColumnRenamed(
            self.id_col, "new_id"
        )
        store = self._store().select(
            "band", "signature", F.col("doc_id").alias("stored_id")
        )
        return (
            new_sigs.join(store, ["band", "signature"])
            .filter(F.col("new_id") != F.col("stored_id"))
            .select("new_id", "stored_id")
            .distinct()
        )

    def dedup_batch(self, batch: DataFrame, text_col: str) -> DataFrame:
        """Survivors of the batch: drop docs colliding with the store or
        with a LOWER-id doc in the same batch, then append the batch's
        signatures (all of them — keeps incremental == one-shot, and makes
        later near-dups of a dropped doc still deduplicate). Returns the
        surviving rows of ``batch``.

        The loser-id frame is MATERIALIZED (eager localCheckpoint) before
        appending — pinning the verdict against the pre-append store — and
        anti-joined back distributed. It never touches the driver (a
        mostly-duplicate bulk batch can have millions of losers), nothing
        rides on cache retention, and no cached frame outlives the call
        (ContextCleaner reclaims the checkpoint with the result; the
        previous .cache() formulation leaked one entry per micro-batch).

        CRASH-REPLAY idempotence (a foreachBatch micro-batch re-run after
        its signatures were already appended): collisions against stored
        ids that belong to THIS batch are ignored — the store rows are the
        replayed batch's own first-run append, and the in-batch rule below
        re-derives the identical verdicts. In normal operation arriving
        ids are new, so the exclusion is a no-op; it is what makes
        replay == first run instead of the whole batch losing against its
        own stored signatures (tested).
        """
        batch_ids = batch.select(
            F.col(self.id_col).alias("stored_id")
        ).distinct()
        vs_store = (
            self.probe(batch, text_col)
            .join(batch_ids, "stored_id", "left_anti")
            .select(F.col("new_id").alias(self.id_col))
        )
        sigs = self._sigs(batch, text_col)
        a = sigs.select("band", "signature", F.col(self.id_col).alias("id_a"))
        b = sigs.select("band", "signature", F.col(self.id_col).alias("id_b"))
        in_batch = (
            a.join(b, ["band", "signature"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select(F.col("id_b").alias(self.id_col))
        )
        losers = (
            vs_store.union(in_batch).distinct().localCheckpoint(eager=True)
        )
        self.append(batch, text_col)
        return batch.join(losers, self.id_col, "left_anti")

    def append(self, batch: DataFrame, text_col: str) -> None:
        """Add the batch's signatures to the store (per-band partition
        append; existing partitions gain files, no rewrite). With
        ``auto_compact_files`` set, folds the store back to ~one file per
        band whenever the file count reaches the threshold — which, like a
        manual ``compact``, invalidates probe plans built earlier (see
        ``_store``); materialize in-flight probe results first."""
        import glob
        import os

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        # a parquet append would silently re-CREATE a path deleted by a
        # crashed compact, orphaning the store's history in .compact/.old
        heal_partitioned_store(self.path)
        self._sigs(batch, text_col).withColumnRenamed(
            self.id_col, "doc_id"
        ).write.mode("append").partitionBy("band").parquet(self.path)
        if self.auto_compact_files is not None:
            n = len(glob.glob(os.path.join(self.path, "band=*", "*.parquet")))
            if n >= self.auto_compact_files:
                self.compact(min_files=self.auto_compact_files)

    def compact(self, min_files: int = 64) -> int:
        """Fold append-accumulated signature files back to ~one per band —
        every ``append``/``dedup_batch`` adds a file per touched band, so a
        streaming ingest pays O(appends) file listings per probe without
        this. Rename-swap (same contract as ``InvertedIndex.compact``);
        the ``_minhash_meta.json`` sidecar is carried over. Probe results are identical before/after (tested).
        No-op below ``min_files``; returns files removed."""
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            compact_partitioned_store,
        )

        return compact_partitioned_store(
            self.spark, self.path, "band", min_files=min_files
        )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    broadcast_nodes: int = 1_000_000,
    broadcast_max_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Connected components of an undirected pair graph: (node, component)
    with ``component`` = the smallest node id in the component.

    Near-dup semantics need TRANSITIVE clusters — if A~B and B~C, one keeper
    for {A,B,C} even though A and C never collided — which one-hop pair
    dropping can't give. This is distributed hash-min label propagation
    WITH pointer jumping: every node starts labeled with itself; each
    round every node takes the min label over itself and its neighbors
    (one equi-join + one partial min-aggregate, key-partitioned — no
    collects, no collect_list hot spots), then additionally adopts its
    label's OWN label (one more equi-join — the path-halving step).
    Neighbor propagation alone needs diameter rounds; the jump halves
    label-chain depth each round, so convergence is O(log diameter) —
    a 1M-long chain (web corpora grow these through chained near-dups)
    converges in ~20 rounds instead of 1M. ``max_iterations`` still
    bounds the loop (raises rather than returning wrong clusters).
    Each round localCheckpoints the labels: the iterated lineage would
    otherwise grow new join stages per round and replan everything.
    Convergence detection rides the SAME job as the label update via
    ``observe()`` (changed iff a neighbor min or the jump undercuts the
    node's label), so each round is exactly one Spark job.

    ``broadcast_nodes`` / ``broadcast_max_bytes`` pick the per-round join
    strategy (guide-§3.1 deliberately, since the checkpointed labels frame
    carries no size estimate for the planner): at or below BOTH the node
    count and the estimated built size (node count × id width — wide
    string ids stop broadcasting long before 1M rows) the labels / jump
    sides ship as broadcast hash relations (rounds exchange-free except
    the min-aggregate); above either bar every round stays sort-merge and
    nothing is ever collected.
    """
    from pyspark.sql import Observation
    both = pairs.select(
        F.col(id_a).alias("u"), F.col(id_b).alias("v")
    ).union(pairs.select(F.col(id_b).alias("u"), F.col(id_a).alias("v")))
    plain = both.distinct().localCheckpoint(eager=True)
    labels = (
        plain.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # r13 (guide §2.4): add a SELF-LOOP per node to the edge set, once at
    # setup. The neighbor-min join then sees every node's OWN label as one
    # of the joined rows, so min(label) over the group is already
    # least(own, neighbor-min) — the separate labels-to-propagated left
    # join (one join + its exchanges, PER ROUND) disappears, and the old
    # label rides the same aggregate as max(label where v = u) for the
    # convergence observe. Labels per round are pointwise identical to
    # the two-join form: same trajectory, same round count, same result.
    edges = plain.union(
        labels.select(F.col("node").alias("u"), F.col("node").alias("v"))
    ).localCheckpoint(eager=True)
    # r13 (guide §3.1): pick the per-round join strategy DELIBERATELY.
    # The labels frame is checkpointed, so the planner sees no size
    # estimate and falls back to sort-merge — two exchanges of the edge
    # set's join per round even when labels would comfortably broadcast.
    # The node set is fixed across rounds, so one setup aggregate decides:
    # below ``broadcast_nodes`` rows AND below ``broadcast_max_bytes``
    # ESTIMATED built size (r14, review note: a bare row count lets wide
    # string ids — URLs, hex digests — push the per-round broadcast to
    # hundreds of MB; rows x avg id width + hash-relation overhead is the
    # quantity that actually hits driver/executor memory) the labels /
    # parent sides ship as broadcast hash relations and the rounds run
    # exchange-free except the min-aggregate; above either bar the
    # sort-merge path stands (labels at corpus scale are never collected).
    # The width ride the SAME setup job as the count — no extra pass.
    _stats = labels.agg(
        F.count("*").alias("n"),
        F.avg(F.octet_length(F.col("node").cast("string"))).alias("w"),
    ).collect()[0]
    _n_nodes = int(_stats["n"] or 0)
    # ~48 bytes/row of UnsafeRow + hash-relation overhead per side (two
    # columns, both the id type); label column costs another id width
    _est_bytes = _n_nodes * (2 * float(_stats["w"] or 8.0) + 48.0)
    _small = (
        _n_nodes <= int(broadcast_nodes)
        and _est_bytes <= float(broadcast_max_bytes)
    )

    def _maybe_bc(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if _small else df

    for _ in range(max_iterations):
        lab = _maybe_bc(labels)
        stepped = (
            edges.join(lab, edges["v"] == lab["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(
                F.min("label").alias("_mid"),
                # exactly one self-loop row per group carries v = u, i.e.
                # the node's own current label (max over {label, NULL...})
                F.max(
                    F.when(F.col("v") == F.col("u"), F.col("label"))
                ).alias("_old"),
            )
        )
        # pointer jump: adopt label(label(node)) — labels are node ids of
        # the same component, so the jump stays in-component and only
        # shortens chains. Self-join on the stepped frame (fresh aliases
        # give distinct attributes); `stepped` is recomputed on the jump
        # side rather than checkpointed, which measured no faster.
        parent = stepped.select(
            F.col("node").alias("_p_node"), F.col("_mid").alias("_p_label")
        )
        obs = Observation()
        par = _maybe_bc(parent)
        new_labels = (
            stepped.join(
                par, stepped["_mid"] == par["_p_node"], "left"
            )
            .select(
                "node",
                F.col("_old"),
                F.least(
                    F.col("_mid"),
                    F.coalesce(F.col("_p_label"), F.col("_mid")),
                ).alias("label"),
            )
            .observe(
                obs,
                F.sum(
                    F.when(F.col("label") < F.col("_old"), 1).otherwise(0)
                ).alias("changed"),
            )
            .select("node", "label")
            .localCheckpoint(eager=True)
        )
        labels = new_labels
        if not obs.get["changed"]:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} rounds "
        "(graph diameter exceeds the bound); raise max_iterations"
    )


def dedup_connected(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    keep: str = "min_id",
    quality_col: str | None = None,
    broadcast_nodes: int = 1_000_000,
    broadcast_max_bytes: int = 128 * 1024 * 1024,
) -> DataFrame:
    """Transitive near-dup removal: keep exactly ONE document per connected
    component of the candidate-pair graph; documents in no pair survive
    untouched. The cluster-correct upgrade of `dedup_minhash_lsh`'s
    one-hop rule.

    ``keep`` picks the survivor: ``"min_id"`` (default — deterministic and
    join-free) keeps the smallest id; ``"best"`` keeps the member with the
    highest ``quality_col`` (ties break to the smaller id) — what
    production pipelines actually want, since a near-dup cluster usually
    mixes a clean original with mangled re-crawls and the arbitrary-member
    rule throws away quality for free. Equal quality everywhere makes
    ``"best"`` identical to ``"min_id"`` (the hash-min component label IS
    the smallest member id).

    Scale shape (both modes): components run on the PAIR graph; the
    ``"best"`` window runs on the labeled slice only (docs that appear in
    a pair — candidate-generator-bounded, never the corpus), partitioned
    by component, and the final anti-join is id-keyed.

    ``broadcast_nodes`` / ``broadcast_max_bytes`` pass through to
    :func:`connected_components`' per-round join-strategy gate (r14,
    review note: callers with wide ids or huge pair graphs need the lever
    without calling the label-propagation layer directly).
    """
    comps = connected_components(
        pairs,
        broadcast_nodes=broadcast_nodes,
        broadcast_max_bytes=broadcast_max_bytes,
    )
    if keep == "min_id":
        losers = comps.filter(F.col("node") != F.col("component")).select(
            F.col("node").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    if keep != "best":
        raise ValueError(f"keep must be 'min_id' or 'best', got {keep!r}")
    if quality_col is None:
        raise ValueError("keep='best' requires quality_col")
    from pyspark.sql import Window

    # private label name: df may legitimately carry its own 'component'
    # column (e.g. from an earlier connected_components inspection pass)
    labeled = df.join(
        comps.select(
            F.col("node").alias(id_col), F.col("component").alias("_cc_label")
        ),
        id_col,
        "inner",
    ).select(id_col, quality_col, "_cc_label")
    w = Window.partitionBy("_cc_label").orderBy(
        F.desc(quality_col), F.col(id_col)
    )
    losers = (
        labeled.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 13,
) -> DataFrame:
    """Benchmark decontamination: (corpus_id, bench_id, n_shared) for every
    corpus document sharing >= 1 word n-gram with an eval/benchmark document
    (the standard 13-gram overlap rule used to scrub eval sets out of
    pretraining corpora).

    Scale shape: both sides explode to (md5(ngram), id) — ids and 32-hex
    hashes only, never text, so the shuffle is |ngrams| x ~40 bytes. The
    benchmark side is tiny by definition (eval sets), so Catalyst broadcasts
    it; the corpus side streams through map-side. Returns the match counts
    so callers can threshold (n_shared >= k) before dropping.
    """
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )

    b_id = bench_id_col or id_col
    b_text = bench_text_col or text_col

    def grams(df: DataFrame, idc: str, txt: str, out_id: str) -> DataFrame:
        # tokens staged first (r13): word_ngrams slices its input n (=13)
        # times — inline, the tokenize chain would re-run per slice
        return df.select(
            F.col(idc).alias(out_id),
            tokenize(normalize_text(F.col(txt))).alias("_t"),
        ).select(
            out_id,
            F.explode(F.array_distinct(word_ngrams(F.col("_t"), n))).alias(
                "_g"
            ),
        ).select(out_id, F.md5("_g").alias("gram"))

    c = grams(corpus, id_col, text_col, "corpus_id")
    b = grams(benchmark, b_id, b_text, "bench_id")
    return (
        c.join(F.broadcast(b), "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_shared: int = 1,
    **kwargs,
) -> DataFrame:
    """Drop corpus documents sharing >= ``min_shared`` distinct word
    n-grams with any benchmark document; anti-join keeps the clean rows."""
    hits = contamination_pairs(
        corpus, benchmark, id_col, text_col, n=n, **kwargs
    )
    dirty = (
        hits.filter(F.col("n_shared") >= min_shared)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(dirty, id_col, "left_anti")


# the Bloom double-hash pair: two independent 52-bit chunks of the gram's
# md5 (13 hex chars each; 52 bits keep k*h2 sums inside int64), h2 forced
# odd so Kirsch-Mitzenmacher probing never degenerates to one position.
# ONE definition shared by filter BUILD and PROBE — divergence between the
# two would be silent false negatives (missed contamination).
def _bloom_h1(md5_col: Column) -> Column:
    return F.conv(F.substring(md5_col, 1, 13), 16, 10).cast("long")


def _bloom_h2(md5_col: Column) -> Column:
    return (
        F.conv(F.substring(md5_col, 14, 13), 16, 10)
        .cast("long")
        .bitwiseOR(F.lit(1))
    )


class DecontaminationBloom:
    """Build-once Bloom artifact for :func:`decontaminate_bloom`: the bit
    array (numpy int64 words), its geometry (m bits, k hashes, gram size
    n), and the PINNED benchmark gram frame the exact-verify stage joins.
    Build it once per benchmark (``build_decontamination_bloom``) and pass
    it to every later call — a streaming curation loop otherwise re-counts
    and re-reduces the benchmark grams on every micro-batch."""

    def __init__(self, bits, m: int, k: int, n: int, bench_grams) -> None:
        self.bits = bits
        self.m = m
        self.k = k
        self.n = n
        self.bench_grams = bench_grams


def build_decontamination_bloom(
    benchmark: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    n: int = 13,
    fpp: float = 0.01,
    materialize: bool = True,
) -> DecontaminationBloom | None:
    """Distributed Bloom build over the benchmark's distinct word n-grams
    (per-gram positions reduce to (word, OR-mask) map-side; the driver
    collects at most m/64 words — filter-sized, never gram-sized).
    Returns None for an empty benchmark (nothing to decontaminate)."""
    import math

    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )

    if not 0.0 < fpp < 1.0:
        raise ValueError(f"fpp must be in (0,1), got {fpp}")

    def gram_md5s(toks_col):
        return F.transform(
            F.array_distinct(word_ngrams(toks_col, n)),
            F.md5,
        )

    # tokens staged before the n-gram expansion (r13): word_ngrams slices
    # its input once per gram position, so an inline tokenize chain is
    # re-evaluated n (=13) times per row — see decontaminate_bloom's
    # staging note
    bench_grams = _pin(
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            tokenize(normalize_text(F.col(bench_text_col))).alias("_bt"),
        )
        .select(
            "bench_id",
            F.explode(gram_md5s(F.col("_bt"))).alias("gram"),
        )
        .distinct(),
        materialize,
    )
    n_grams = bench_grams.select("gram").distinct().count()
    if n_grams == 0:
        return None

    m = max(64, int(math.ceil(-n_grams * math.log(fpp) / (math.log(2) ** 2))))
    k = min(8, max(1, round(m / n_grams * math.log(2))))

    # _bloom_h1/_bloom_h2 are the SAME expressions the probe side uses —
    # build/probe hash divergence would mean silent false negatives
    hpairs = bench_grams.select(
        _bloom_h1(F.col("gram")).alias("h1"),
        _bloom_h2(F.col("gram")).alias("h2"),
    )
    words = (
        hpairs.select(
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("i"), "h1", "h2"
        )
        .select(
            ((F.col("h1") + F.col("i") * F.col("h2")) % F.lit(m)).alias("pos")
        )
        .select(
            F.expr("pos DIV 64").alias("word"),
            # SQL form: the python F.shiftleft only takes a literal shift
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("mask"))
        .collect()
    )
    import numpy as np

    bits = np.zeros((m + 63) // 64, dtype=np.int64)
    for r in words:
        bits[int(r["word"])] = np.int64(r["mask"])
    return DecontaminationBloom(bits, m, k, n, bench_grams)


def decontaminate_bloom(
    corpus: DataFrame,
    benchmark: DataFrame | None,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 13,
    min_shared: int = 1,
    fpp: float = 0.01,
    materialize: bool = True,
    prebuilt: DecontaminationBloom | None = None,
) -> DataFrame:
    """:func:`decontaminate` for LARGE benchmark suites — row-identical
    output, different scale shape. The exact path broadcasts the benchmark
    gram set (~40 B/gram as md5 hex); a combined eval suite with tens of
    millions of grams turns that "tiny" broadcast into a per-executor
    gigabyte. This variant broadcasts a deterministic BLOOM FILTER instead
    (~``1.44 log2(1/fpp)`` bits/gram — ~10 bits at the default 1% fpp,
    ~30x smaller) and keeps the result EXACT with a two-stage plan:

    1. **Bloom pass** (one corpus scan, Arrow-batched): flag documents
       whose Bloom-positive gram count reaches ``min_shared``. Blooms have
       no false negatives, so the flagged set is a SUPERSET of the truly
       contaminated one — an unflagged document is provably clean.
    2. **Exact verify on the flagged slice only**: the flagged documents'
       grams hash-join the benchmark's (distributed shuffle join, NO
       broadcast — affordable because it runs on the contaminated+FP
       slice, not the corpus), re-applying :func:`decontaminate`'s exact
       per-(corpus, bench) ``n_shared >= min_shared`` rule.

    The filter itself builds DISTRIBUTED: per-gram bit positions reduce to
    (word, OR-mask) pairs map-side, and the driver collects at most
    ``m/64`` words — bounded by the FILTER size, never the gram count.
    Hashing is Kirsch-Mitzenmacher double hashing over two 52-bit md5
    chunks (pure codegen); the probe side is a broadcast numpy array +
    Arrow ``pandas_udf``, the same serve shape as the LM scorer.
    """
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )

    if prebuilt is None:
        if benchmark is None:
            raise ValueError("pass a benchmark frame or a prebuilt bloom")
        prebuilt = build_decontamination_bloom(
            benchmark,
            bench_id_col or id_col,
            bench_text_col or text_col,
            n=n,
            fpp=fpp,
            materialize=materialize,
        )
        if prebuilt is None:
            return corpus  # empty benchmark: nothing to scrub
    bench_grams = prebuilt.bench_grams
    m, k, n = prebuilt.m, prebuilt.k, prebuilt.n

    def gram_md5s(toks_col):
        # takes a TOKEN-ARRAY column, not text: word_ngrams slices its
        # input n times, so an inline tokenize chain would re-run
        # normalize+split once PER SLICE (13x at the default n — the r13
        # stage profile caught the flag pass's Python-input projection
        # evaluating the tokenize chain 13x per row). Callers stage the
        # tokens into a produced column first.
        return F.transform(
            F.array_distinct(word_ngrams(toks_col, n)),
            F.md5,
        )

    import numpy as np

    bc = corpus.sparkSession.sparkContext.broadcast(
        np.asarray(prebuilt.bits, dtype=np.int64)
    )

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def bloom_hits(hs):
        # ONE argument carrying per-gram [h1, h2] pairs interleaved into a
        # single flat array. Two separate array arguments would make
        # Catalyst inline the gram expansion (this pass's dominant cost)
        # into EACH ArrowEvalPython input — measured 2x the scan work.
        # Vectorized across the WHOLE Arrow batch: flatten every row's
        # pairs into one array, test all k bits in k vectorized passes,
        # fold back per row with add.reduceat (the per-row-Python-loop
        # formulation was ~5x slower).
        arr = bc.value
        n_rows = len(hs)
        out = np.zeros(n_rows, dtype=np.int32)
        # per-row GRAM counts (each gram contributes an [h1, h2] pair)
        lens = np.fromiter(
            (0 if a is None else len(a) // 2 for a in hs),
            dtype=np.int64,
            count=n_rows,
        )
        total = int(lens.sum())
        if total == 0:
            return pd.Series(out)
        flat = np.empty(2 * total, dtype=np.int64)
        off = 0
        for a in hs:
            if a is None or len(a) == 0:
                continue
            flat[off : off + len(a)] = a
            off += len(a)
        # rows contribute even-length runs, so the h1/h2 alternation is
        # preserved across row boundaries
        h1 = flat[0::2]
        h2 = flat[1::2]
        hit = np.ones(total, dtype=bool)
        for i in range(k):
            pos = (h1 + i * h2) % m
            hit &= ((arr[pos >> 6] >> (pos & 63)) & 1) == 1
        nz = lens > 0
        starts = np.concatenate(([0], np.cumsum(lens[nz])[:-1]))
        out[nz] = np.add.reduceat(hit.astype(np.int32), starts)
        return pd.Series(out)

    bloom_hits.__annotations__ = {"hs": pd.Series, "return": pd.Series}
    # non-deterministic marking (guide §4.4, r13): the probe is a pure
    # function, but left deterministic the optimizer pushes the
    # filter-with-UDF below whatever exchange the caller's input carries
    # (a widen repartition, a just-shuffled upstream op), collapsing the
    # whole gram+probe pass onto the input's pre-exchange task layout —
    # measured as the flag pass running on ONE task over a single-split
    # corpus. Marked, the expensive Python pass stays where the input's
    # parallelism is.
    bloom_udf = pandas_udf("int")(bloom_hits).asNondeterministic()

    # token array STAGED into a produced column (r13): word_ngrams slices
    # its input once per gram position, so the inline tokenize chain was
    # re-evaluated 13x per row inside the ArrowEvalPython input
    # projection (no subexpression elimination there). The staged column
    # is non-cheap and multiply referenced, so CollapseProject keeps the
    # staging. The [h1, h2] pair flattening stays a SINGLE expression
    # over it (two separate hash-array arguments would each inline the
    # gram expansion).
    toks_c = "_bloom_toks"
    if toks_c in corpus.columns:
        raise ValueError(f"column collision: input already has '{toks_c}'")
    staged = corpus.withColumn(
        toks_c, tokenize(normalize_text(F.col(text_col)))
    )
    pairs_expr = F.flatten(
        F.transform(
            gram_md5s(F.col(toks_c)),
            lambda h: F.array(_bloom_h1(h), _bloom_h2(h)),
        )
    )
    # hit count lands in a COLUMN and the threshold filters the column:
    # filtering on the UDF expression directly lets predicate pushdown
    # rewrite the condition through the token projection (alias
    # substitution — it re-inlines the tokenize chain into every slice of
    # the UDF input, undoing the staging); a filter on a column produced
    # by a non-deterministic projection cannot be pushed, so both the
    # staging and the post-exchange placement survive to the physical plan
    flagged = (
        staged.withColumn(
            "_bloom_hits", bloom_udf(pairs_expr)
        )
        .where(F.col("_bloom_hits") >= F.lit(int(min_shared)))
        .select(id_col)
    )
    flagged = _pin(flagged, materialize)

    # exact verify on the flagged slice: decontaminate's per-(corpus,
    # bench) n_shared rule via a DISTRIBUTED hash join — no broadcast.
    # Join FIRST, stage the tokens after: tokenization happens only for
    # the flagged rows (and once each, same staging rationale as above).
    c_grams = (
        corpus.join(flagged, id_col, "left_semi")
        .select(
            F.col(id_col).alias("corpus_id"),
            tokenize(normalize_text(F.col(text_col))).alias(toks_c),
        )
        .select(
            "corpus_id",
            F.explode(gram_md5s(F.col(toks_c))).alias("gram"),
        )
    )
    dirty = (
        c_grams.join(bench_grams.hint("shuffle_hash"), "gram")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .select(F.col("corpus_id").alias(id_col))
        .distinct()
    )
    return corpus.join(dirty, id_col, "left_anti")


def contamination_scores(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 13,
    materialize: bool = True,
) -> DataFrame:
    """Per-document contamination FRACTION — the graded companion to
    :func:`contamination_pairs`'s hit counts: for each corpus document,
    the share of its distinct word ``n``-grams that appear anywhere in the
    benchmark. The verbatim rule (any shared 13-gram ⇒ drop) is the
    standard scrub, but graded scores are what audits report and what
    callers need to pick a threshold below 1-gram-trips-it (e.g. drop at
    score >= 0.8, review at >= 0.2).

    Output: (``id_col``, n_grams, n_matched, score) for EVERY corpus row —
    documents shorter than ``n`` tokens have no n-grams and score 0.0
    (nothing to leak at the tested gram size), and unmatched documents
    score 0.0 rather than dropping out, so the frame joins back 1:1.

    Scale shape: the (id, n_grams, md5-gram-array) frame is computed ONCE
    and pinned (eager localCheckpoint; ``materialize=False`` keeps it lazy
    at the cost of re-expanding grams for each consumer) — both the match
    leg and the totals leg read it, so the n-gram expansion, the operator's
    dominant cost, runs a single time. The match side explodes the pinned
    grams to (id, md5) rows, semi-joins the broadcast benchmark gram set
    (eval sets are tiny by definition), and aggregates per id with
    map-side partials — the only shuffle carries matched ids, never text.
    The final score join is id-keyed on two per-doc frames.
    """
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )

    b_id = bench_id_col or id_col
    b_text = bench_text_col or text_col

    # two-level staging (r13): tokens first (word_ngrams slices its input
    # n=13 times — inline, the tokenize chain re-runs per slice), then the
    # gram array ONCE (it was referenced from both size() and the array
    # column — two full expansions per row; lambda-bearing trees get no
    # subexpression elimination)
    grams_of = lambda toks_col: F.transform(  # noqa: E731
        F.array_distinct(word_ngrams(toks_col, n)),
        F.md5,  # hash INSIDE the pinned frame: 32-hex cells, never raw text
    )
    totals = _pin(
        corpus.select(
            F.col(id_col),
            tokenize(normalize_text(F.col(text_col))).alias("_t"),
        )
        .select(
            F.col(id_col),
            grams_of(F.col("_t")).alias("_grams"),
        )
        .select(
            F.col(id_col),
            # NULL text ⇒ grams is NULL ⇒ ANSI size() is NULL — coalesce to 0
            # so the documented 1:1 contract (n_grams for EVERY corpus row)
            # holds for NULL-text rows too, matching score's 0.0
            F.coalesce(F.size("_grams"), F.lit(0)).alias("n_grams"),
            F.col("_grams"),
        ),
        materialize,
    )
    c = totals.select(id_col, F.explode("_grams").alias("gram"))
    bench_grams = (
        benchmark.select(
            tokenize(normalize_text(F.col(b_text))).alias("_bt")
        )
        .select(
            F.explode(
                F.array_distinct(word_ngrams(F.col("_bt"), n))
            ).alias("_g")
        )
        .select(F.md5("_g").alias("gram"))
        .distinct()
    )
    matched = (
        c.join(F.broadcast(bench_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched"))
    )
    return (
        totals.drop("_grams")
        .join(matched, id_col, "left")
        .withColumn("n_matched", F.coalesce(F.col("n_matched"), F.lit(0)))
        .withColumn(
            "score",
            F.when(F.col("n_grams") > 0,
                   F.col("n_matched") / F.col("n_grams")).otherwise(F.lit(0.0)),
        )
    )


def repeated_span_positions(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 50,
    min_docs: int = 2,
    max_span_df: int | None = 10_000,
    materialize: bool = True,
) -> DataFrame:
    """(id, pos) start positions of every length-``span`` token window
    whose content recurs in at least ``min_docs`` DISTINCT documents — the
    detection half of ExactSubstr deduplication (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": long
    verbatim repeats are memorization fuel and train-test leak vectors
    that document-level dedup misses).

    Scale shape: each document emits (id, pos, md5-of-span) rows — the
    shuffle carries ids + 32-hex hashes + ints, never text; span hashes
    with fewer than ``min_docs`` distinct docs die in the first aggregate
    (map-side partial via the per-doc DISTINCT). ``max_span_df`` drops
    pathological stop-spans (a boilerplate span in millions of docs would
    join back a row per occurrence); NULL disables the cap.
    """
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
        word_ngrams,
    )

    if span < 1 or min_docs < 2:
        raise ValueError("span must be >= 1 and min_docs >= 2")
    # pin: the counts aggregate and the join-back probe both consume this
    # frame, and the tokenize + span-ngram + md5 expansion is the dominant
    # cost — unpinned it evaluates once per consumer (the _pin rationale)
    grams = _pin(
        df.select(
            F.col(id_col),
            F.posexplode(
                F.transform(
                    word_ngrams(tokenize(normalize_text(F.col(text_col))), span),
                    F.md5,
                )
            ).alias("pos", "h"),
        ),
        materialize,
    )
    counts = (
        grams.select("h", id_col)
        .distinct()
        .groupBy("h")
        .agg(F.count("*").alias("_d"))
        .filter(F.col("_d") >= F.lit(int(min_docs)))
    )
    if max_span_df is not None:
        counts = counts.filter(F.col("_d") <= F.lit(int(max_span_df)))
    return grams.join(counts.select("h"), "h").select(id_col, "pos")


def remove_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 50,
    min_docs: int = 2,
    max_span_df: int | None = 10_000,
    out_col: str | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Rewrite ``text_col`` (or append ``out_col``) with every token
    covered by a cross-document repeated span removed — the removal half
    of ExactSubstr dedup. Output text is whitespace-normalized (it is
    rebuilt from the token stream), like the line-level
    ``remove_boilerplate_lines`` normalizes line joins.

    Scale shape: detection as in :func:`repeated_span_positions`; the
    per-doc start positions collapse to ONE array row per affected doc
    and left-join back (docs with no repeats pass through untouched);
    the mask runs in array space — token ``i`` survives unless some start
    ``p`` in the doc's list covers it (cost |positions| per token, bounded
    by per-doc hits).
    """
    from sample_dms_kinesis_rds_mariadb_spark.functions.text import (
        normalize_text,
        tokenize,
    )

    out = out_col or text_col
    hits = repeated_span_positions(
        df,
        id_col,
        text_col,
        span=span,
        min_docs=min_docs,
        max_span_df=max_span_df,
        materialize=materialize,
    )
    starts = hits.groupBy(id_col).agg(F.collect_set("pos").alias("_starts"))
    joined = df.join(starts, id_col, "left")
    toks = tokenize(normalize_text(F.col(text_col)))
    kept = F.filter(
        toks,
        lambda t, i: F.coalesce(
            ~F.exists(
                F.col("_starts"),
                lambda p: (p <= i) & (i < p + F.lit(int(span))),
            ),
            F.lit(True),  # no repeated spans in this doc
        ),
    )
    return joined.withColumn(out, F.array_join(kept, " ")).drop("_starts")


class ExactDigestIndex:
    """Incremental EXACT-duplicate index — the byte-identity dual of
    :class:`MinHashIndex` for long-lived ingest loops: dedupe new batches
    against every digest seen so far without re-hashing the corpus.

    The store persists (pfx, digest, doc_id) rows parquet-PARTITIONED BY
    the digest's first two hex chars (256 partitions): probing a batch
    equi-joins its digests against the store with partition pruning on
    the prefix — shuffle volume is batch-sized plus matched store rows,
    never corpus-sized. Precedence is arrival order (a new row whose
    digest is already stored loses; in-batch ties keep the lowest id).

    ``dedup_batch`` appends ALL of the batch's digests (survivors and
    losers), is CRASH-REPLAY idempotent (same-batch stored ids excluded;
    duplicate store rows collapse in the distinct), and carries the
    shared maintenance surface (``compact`` rename-swap folding, crash
    healing, opt-in ``auto_compact_files``)."""

    META_FILE = "_digest_meta.json"

    def __init__(
        self, spark, path: str, digest_col: str,
        auto_compact_files: int | None = None,
    ) -> None:
        self.spark = spark
        self.path = path
        self.digest_col = digest_col
        self.auto_compact_files = auto_compact_files
        self._schema_ddl = "pfx STRING, digest STRING, doc_id BIGINT"

    @classmethod
    def build(
        cls, df: DataFrame, path: str, id_col: str, digest_col: str,
        auto_compact_files: int | None = None,
    ) -> "ExactDigestIndex":
        import json
        import os

        idx = cls(
            df.sparkSession, path, digest_col,
            auto_compact_files=auto_compact_files,
        )
        idx._rows(df, id_col).write.mode("overwrite").partitionBy(
            "pfx"
        ).parquet(path)
        with open(os.path.join(path, cls.META_FILE), "w") as f:
            json.dump(
                {"digest_col": digest_col, "schema": idx._schema_ddl}, f
            )
        return idx

    @classmethod
    def load(
        cls, spark, path: str, auto_compact_files: int | None = None
    ) -> "ExactDigestIndex":
        import json
        import os

        with open(os.path.join(path, cls.META_FILE)) as f:
            meta = json.load(f)
        return cls(
            spark, path, meta["digest_col"],
            auto_compact_files=auto_compact_files,
        )

    @classmethod
    def exists(cls, path: str) -> bool:
        import os

        return os.path.exists(os.path.join(path, cls.META_FILE))

    def _rows(self, df: DataFrame, id_col: str) -> DataFrame:
        from pyspark.sql import types as _T

        # the store schema pins doc_id to BIGINT; a silent cast would turn
        # string/UUID ids into NULLs and quietly stop deduplicating
        # (new_id != stored_id is NULL for every candidate) — refuse
        # instead
        dt = df.schema[id_col].dataType
        if not isinstance(
            dt, (_T.ByteType, _T.ShortType, _T.IntegerType, _T.LongType)
        ):
            raise ValueError(
                f"ExactDigestIndex needs an integral id column; "
                f"{id_col!r} is {dt.simpleString()} — map ids to BIGINT "
                "(e.g. xxhash64) before indexing"
            )
        return df.select(
            F.lower(F.substring(F.col(self.digest_col), 1, 2)).alias("pfx"),
            F.lower(F.col(self.digest_col)).alias("digest"),
            F.col(id_col).cast("bigint").alias("doc_id"),
        )

    def _store(self) -> DataFrame:
        """Snapshot-pinned store frame (the MinHashIndex `_store` rule)."""
        import glob
        import os

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        files = sorted(glob.glob(os.path.join(self.path, "pfx=*", "*.parquet")))
        if not files:
            return self.spark.createDataFrame([], self._schema_ddl)
        # explicit schema: partition-type inference would read an
        # all-numeric prefix population (pfx=11, pfx=42 ...) as INT and
        # the probe join's string pfx would then cast-crash on 'df'
        return (
            self.spark.read.schema(self._schema_ddl)
            .option("basePath", self.path)
            .parquet(*files)
        )

    def probe(self, df: DataFrame, id_col: str) -> DataFrame:
        """(new_id, stored_id) for every batch row whose digest is already
        stored. Prefix-pruned equi-join; self-matches excluded."""
        new = self._rows(df, id_col).select(
            "pfx", "digest", F.col("doc_id").alias("new_id")
        )
        store = self._store().select(
            "pfx", "digest", F.col("doc_id").alias("stored_id")
        )
        return (
            new.join(store, ["pfx", "digest"])
            .filter(F.col("new_id") != F.col("stored_id"))
            .select("new_id", "stored_id")
            .distinct()
        )

    def append(self, df: DataFrame, id_col: str) -> None:
        import glob
        import os

        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            heal_partitioned_store,
        )

        heal_partitioned_store(self.path)
        self._rows(df, id_col).write.mode("append").partitionBy(
            "pfx"
        ).parquet(self.path)
        if self.auto_compact_files is not None:
            n = len(glob.glob(os.path.join(self.path, "pfx=*", "*.parquet")))
            if n >= self.auto_compact_files:
                self.compact(min_files=self.auto_compact_files)

    def compact(self, min_files: int = 64) -> int:
        from sample_dms_kinesis_rds_mariadb_spark.operators.store_maint import (
            compact_partitioned_store,
        )

        return compact_partitioned_store(
            self.spark, self.path, "pfx", min_files=min_files
        )

    def dedup_batch(self, df: DataFrame, id_col: str) -> DataFrame:
        """Survivors: drop rows whose digest is stored (excluding this
        batch's own ids — crash-replay idempotence) or duplicated by a
        LOWER id in the same batch; then append the batch's digests."""
        batch_ids = df.select(F.col(id_col).alias("stored_id")).distinct()
        vs_store = (
            self.probe(df, id_col)
            .join(batch_ids, "stored_id", "left_anti")
            .select(F.col("new_id").alias(id_col))
        )
        rows = self._rows(df, id_col)
        in_batch = (
            rows.groupBy("digest")
            .agg(F.min("doc_id").alias("_keep"), F.collect_set("doc_id").alias("_ids"))
            .select(F.explode("_ids").alias(id_col), "_keep")
            .filter(F.col(id_col) != F.col("_keep"))
            .select(id_col)
        )
        losers = vs_store.union(in_batch).distinct().localCheckpoint(eager=True)
        self.append(df, id_col)
        return df.join(losers, id_col, "left_anti")
