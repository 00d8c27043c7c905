"""Beyond-reference operators that have no family module of their own.

Among them (all beyond the reference's batch-relational surface,
cf. ``src/zarr_exec.rs:102`` Boundedness::Bounded):

* ``text_contamination`` — benchmark-contamination detection between
  the deterministic train and test splits (the eval-integrity primitive
  every training pipeline needs);
* ``agg_pivot`` — PIVOT as groupBy().pivot() with a conditional
  aggregation oracle;
* ``streaming_join`` — watermarked stream-stream interval join
  (click->purchase attribution) with a batch-join oracle.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from zarr_datafusion_spark.operators.common import cpu_rebalance, salted_bucket
from zarr_datafusion_spark.operators.dedup import _GRAMS_EXPR, jaccard_allpairs_oracle
from zarr_datafusion_spark.session import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Train/test contamination
# ---------------------------------------------------------------------------

#: same salted-md5 bucket as textstats.split_train_valid_test — a doc's
#: split is stable across runs, engines, and corpus growth
_BUCKET_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::UBIGINT % 100"
)

_CONTAMINATION_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                    ELSE list_transform(
                      range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents)
    ),
    tg AS (SELECT DISTINCT unnest(grams) AS gram FROM d WHERE split = 'train'),
    te AS (SELECT doc_id, unnest(grams) AS gram FROM d WHERE split = 'test'),
    hits AS (SELECT te.doc_id, COUNT(*) AS n_hit
             FROM te JOIN tg USING (gram) GROUP BY te.doc_id)
    SELECT d.doc_id,
           CAST(len(d.grams) AS BIGINT) AS n_grams,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(d.grams) AS contamination
    FROM d LEFT JOIN hits h USING (doc_id)
    WHERE d.split = 'test'
"""


@_q("text_contamination", _CONTAMINATION_ORACLE)
def text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: for every *test*-split document,
    the fraction of its word-trigram shingles that appear anywhere in
    the *train* split.  Uses the same deterministic salted-md5 split as
    ``split_train_valid_test`` and the same gram builder as the Jaccard
    dedup family, so all three operators agree on tokenization.

    100 TB shape: the train side collapses to a DISTINCT gram set
    before the join, so a stop-phrase appearing in millions of train
    docs contributes ONE row to the probe side — the gram-key shuffle
    is high-cardinality and skew-free by construction.  The test join
    is a left-semi on the gram key (one shuffle each side).  At real
    scale the eval set is tiny relative to train, so the production
    variant broadcasts a bloom filter of TEST grams over the train scan
    and shuffles only surviving grams; the semi-join form here is the
    exact reference semantics that variant must reproduce.
    """
    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    bucket = salted_bucket("doc_id", ":split")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    g = docs.select(
        "doc_id", split.alias("split"), F.expr(_GRAMS_EXPR).alias("grams")
    )
    train_grams = (
        g.filter(F.col("split") == "train")
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    test = g.filter(F.col("split") == "test")
    te = test.select("doc_id", F.explode("grams").alias("gram"))
    hits = (
        te.join(train_grams, "gram", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hit"))
    )
    return (
        test.select(
            "doc_id", F.size("grams").cast("long").alias("n_grams")
        )
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            (
                F.coalesce(F.col("n_hit"), F.lit(0)).cast("double")
                / F.col("n_grams")
            ).alias("contamination"),
        )
    )


# ---------------------------------------------------------------------------
# PIVOT
# ---------------------------------------------------------------------------

_PIVOT_ORACLE = """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'O'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS status_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'F'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS status_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'P'
                    THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS status_p
    FROM orders
    GROUP BY o_orderpriority
"""


@_q("agg_pivot", _PIVOT_ORACLE)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order value by priority x status, via ``groupBy().pivot()``
    with an explicit value list (no extra distinct-values scan — at
    scale, always pass the list).  Exact decimal accumulation as in the
    flagship agg; an empty cell is NULL on both engines.  Single
    shuffle: pivot compiles to one hash aggregate whose buffer holds
    all three conditional sums."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double")
        )
    )
    return piv.select(
        "o_orderpriority",
        F.col("O").alias("status_o"),
        F.col("F").alias("status_f"),
        F.col("P").alias("status_p"),
    )


_UNPIVOT_ORACLE = f"""
    WITH p AS ({_PIVOT_ORACLE})
    SELECT o_orderpriority, 'status_o' AS status, status_o AS total FROM p
    UNION ALL
    SELECT o_orderpriority, 'status_f' AS status, status_f AS total FROM p
    UNION ALL
    SELECT o_orderpriority, 'status_p' AS status, status_p AS total FROM p
"""


@_q("agg_unpivot", _UNPIVOT_ORACLE)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT/melt — the wide->long dual of ``agg_pivot``, run on the
    pivot's own output so the pair round-trips.  ``DataFrame.unpivot``
    keeps NULL cells (unlike SQL UNPIVOT defaults), so the oracle is an
    explicit UNION ALL with the same semantics.  Row-local: no shuffle
    beyond the upstream pivot's single aggregate."""
    return agg_pivot(spark, sf_dir).unpivot(
        ids=["o_orderpriority"],
        values=["status_o", "status_f", "status_p"],
        variableColumnName="status",
        valueColumnName="total",
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join
# ---------------------------------------------------------------------------

_STREAM_JOIN_ORACLE = """
    SELECT a.event_id AS click_id, b.event_id AS purchase_id,
           a.user_id,
           CAST(b.value AS DOUBLE) AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'click' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
"""


@_q("streaming_join", _STREAM_JOIN_ORACLE)
def streaming_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join: every click joined to
    the same user's purchases within the following hour (attribution).
    Beyond-reference (the engine is batch-only); the oracle is the
    equivalent batch join, which an INNER stream-stream join must equal
    on a finite source — matches emit as soon as both rows arrive, the
    watermark only bounds retained state.

    Scale posture: both watermarks plus the two-sided time-range
    condition let Spark evict state older than (watermark - 1 h), so
    state is O(events per hour), not O(stream length); the join itself
    shuffles both streams on ``user_id`` once.
    """
    from zarr_datafusion_spark.streaming.demo import (
        _event_stream,
        _run_to_memory,
    )

    clicks = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "10 minutes")
        .alias("a")
    )
    purchases = (
        _event_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "10 minutes")
        .alias("b")
    )
    joined = clicks.join(
        purchases,
        F.expr(
            "a.user_id = b.user_id "
            "AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTES"
        ),
    ).select(
        F.col("a.event_id").alias("click_id"),
        F.col("b.event_id").alias("purchase_id"),
        F.col("a.user_id").alias("user_id"),
        F.col("b.value").alias("purchase_value"),
    )
    return _run_to_memory(joined, "append")


# ---------------------------------------------------------------------------
# Online dedup at ingestion (stream-static LSH probe)
# ---------------------------------------------------------------------------


def _stream_lsh_oracle() -> str:
    """DuckDB twin of the stream-static band probe — since r6 this is
    EXACTLY the batch MinHash oracle: the static index is capped to
    non-degenerate buckets batch-side (see the entry), so the stream
    answer equals the batch answer by construction."""
    from zarr_datafusion_spark.operators import dedup

    return dedup.ORACLE["dedup_minhash_lsh"]


def lsh_band_index_paths(sf_dir: str) -> str:
    """Persisted-corpus band-index path for ``sf_dir`` — staleness-
    keyed off ``documents.parquet`` (size + mtime_ns), superseded
    siblings pruned (the house derived-artifact discipline)."""
    src = os.path.join(sf_dir, "documents.parquet")
    # lshband2: r14 packed the band key into two BIGINTs (band_h0/h1)
    # — the layout tag bump rebuilds the index so a pre-r14 string-key
    # index can never silently empty-join against a packed probe.
    key = _source_staleness_key(src, "lshband2")
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    return os.path.join(repo_root, "data", "lsh_band_index", f"{base}-{key}")


def build_lsh_band_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once corpus MinHash band index: (band_idx, band_h0,
    band_h1, corpus_doc) with the degenerate-bucket cap (>10k members dropped)
    already applied — exactly the static side ``streaming_lsh_dedup``
    used to recompute inside every micro-batch plan (VERDICT r8 item
    7: it was the sweep's top heavy at ~48-55 s because the stream-
    static join re-evaluates the static subtree per trigger, paying
    the signature fold + bucket-size shuffle again).  Persisting it is
    the same build-once/query-many move as the BM25 and IVF indexes:
    at ingest scale this table is maintained incrementally
    (``streaming_index_update`` pattern); here it is rebuilt only when
    the corpus file changes.  Rows cluster by the packed band key so
    the per-batch probe join reads locally-sorted row groups."""
    out = lsh_band_index_paths(sf_dir)
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return out
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    _prune_stale_siblings(
        os.path.dirname(out), f"{base}-", os.path.basename(out)
    )
    from zarr_datafusion_spark.operators.dedup import (
        _docs,
        minhash_signatures,
        signature_bands,
    )

    from zarr_datafusion_spark.operators.common import publish_dir_atomically

    corpus_bands = signature_bands(
        minhash_signatures(_docs(spark, sf_dir))
    ).withColumnsRenamed({"doc_id": "corpus_doc"})
    bucket_sizes = corpus_bands.groupBy("band_idx", "band_h0", "band_h1").agg(
        F.count("*").alias("__n")
    )

    def _build(tmp: str) -> None:
        (
            corpus_bands.join(
                bucket_sizes.filter(F.col("__n") <= 10000).drop("__n"),
                ["band_idx", "band_h0", "band_h1"],
                "left_semi",
            )
            .repartition(8, "band_h0", "band_h1")
            .sortWithinPartitions("band_h0", "band_h1")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    return publish_dir_atomically(
        _build,
        out,
        is_complete=lambda: os.path.exists(os.path.join(out, "_SUCCESS")),
    )


@_q("streaming_lsh_dedup", _stream_lsh_oracle())
def streaming_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate detection AT INGESTION: documents arrive as a
    stream, their MinHash band hashes are computed in-flight (the same
    map-only signature fold as the batch path), and each band probes a
    PERSISTED index of the already-ingested corpus — the stream-static
    join pattern with the static side READ, not recomputed, per
    micro-batch (VERDICT r8 item 7; measured at sf1, fresh sessions,
    identical 250,682 output pairs: 54.8 s with the in-plan static
    subtree vs 46.8 s cold incl. the one-time index build and 31.6 s
    steady-state — the remaining cost is the stream side's own
    signature fold + the candidate-volume distinct, both inherent to
    ingest-time dedup on this adversarial corpus).  Full value oracle
    since round 6 (VERDICT r5 item 3): the signature family is
    md5-deterministic and the index applies the same degenerate-bucket
    cap as the batch generator (inside :func:`build_lsh_band_index`),
    so the oracle IS the batch MinHash oracle and the stream answer
    equals the batch answer by construction; the test additionally
    asserts that set equality.

    100 TB posture: the static band index is the persisted bucketed/
    sorted corpus table maintained incrementally at ingest (the
    ``streaming_index_update`` pattern), so the probe is a per-batch
    hash join against a scan — the signature fold runs once per
    DOCUMENT ever, not once per micro-batch; stream state is only the
    dedup-on-pair distinct, bounded by candidate volume (at real
    scale, watermark on ingestion time bounds it further).
    """
    from pyspark.sql import types as T

    from zarr_datafusion_spark.operators.dedup import (
        minhash_signatures,
        signature_bands,
    )
    from zarr_datafusion_spark.streaming.demo import _run_to_memory

    corpus_bands = spark.read.parquet(build_lsh_band_index(spark, sf_dir))

    docs_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(docs_schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    probe = signature_bands(minhash_signatures(stream))
    cands = (
        probe.join(corpus_bands, ["band_idx", "band_h0", "band_h1"])
        .filter(F.col("doc_id") != F.col("corpus_doc"))
        .select(
            F.least("doc_id", "corpus_doc").alias("doc_a"),
            F.greatest("doc_id", "corpus_doc").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return _run_to_memory(cands, "append")


# ---------------------------------------------------------------------------
# Deterministic stratified sampling (data mixing)
# ---------------------------------------------------------------------------

#: per-source keep rates (percent) — the "mixing weights" a training
#: pipeline applies to rebalance over-represented sources
_MIX_CASE = (
    "CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 100 "
    "WHEN source IN ('src5','src6','src7','src8','src9') THEN 50 "
    "ELSE 20 END"
)

_MIX_BUCKET_DUCK = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8))::UBIGINT % 100"
)

_SAMPLE_ORACLE = f"""
    SELECT source,
           COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE bucket < rate) AS n_kept,
           CAST({_MIX_CASE} AS BIGINT) AS rate_pct
    FROM (
      SELECT doc_id, source,
             {_MIX_BUCKET_DUCK} AS bucket,
             {_MIX_CASE} AS rate
      FROM documents)
    GROUP BY source
"""


@_q("sample_stratified", _SAMPLE_ORACLE)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified (per-source) downsampling — the data
    mixing primitive that rebalances over-represented sources before
    training.  The keep decision is ``md5(doc_id || ':mix') % 100 <
    rate``, NOT ``df.sample()``: hash-keyed selection is stable across
    runs, engines, partitionings, and corpus growth, and needs no RNG
    state.  Per-source keep rates are the mixing weights.

    100 TB shape: the decision is a pure row-local projection (no
    shuffle at all for the sampled OUTPUT — this entry aggregates per
    source only to make the oracle compact).
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = salted_bucket("doc_id", ":mix")
    rate = F.expr(_MIX_CASE)
    return (
        docs.select("source", bucket.alias("bucket"), rate.alias("rate"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count_if(F.col("bucket") < F.col("rate")).alias("n_kept"),
            F.first("rate").cast("long").alias("rate_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped top-k (per-stratum curation)
# ---------------------------------------------------------------------------

_TOPK_GROUP_ORACLE = """
    SELECT lang, doc_id, n_tokens, rk
    FROM (
      SELECT lang, doc_id,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY len(regexp_split_to_array(lower(trim(text)), '\\s+')) DESC,
                        doc_id) AS rk
      FROM documents)
    WHERE rk <= 3
"""


@_q("topk_per_group", _TOPK_GROUP_ORACLE)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k: the 3 longest documents per language (curation's
    "best k per stratum" shape).  ROW_NUMBER over (lang) with a
    doc_id tie-break for full determinism, then filter rk <= k.

    100 TB: one shuffle on the group key; Spark pushes the rk <= k
    predicate into the sort as a per-partition top-k (WindowGroupLimit),
    so no group is ever fully sorted — check the plan for
    ``WindowGroupLimit`` below the Window node."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.expr(
        "CAST(size(split(lower(trim(text)), '\\\\s+')) AS BIGINT)"
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id").asc())
    )
    return (
        docs.select("lang", "doc_id", n_tokens.alias("n_tokens"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
    )


# ---------------------------------------------------------------------------
# Repetition-based quality signals (Gopher-style filters)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = r"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    b AS (
      SELECT doc_id, w,
             list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
      FROM t
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS unique_token_frac,
           CAST(list_max(list_transform(list_distinct(w),
                  tok -> len(list_filter(w, x -> x = tok)))) AS DOUBLE)
             / len(w) AS top_token_frac,
           CASE WHEN len(bg) = 0 THEN CAST(0 AS DOUBLE)
                ELSE CAST(list_max(list_transform(list_distinct(bg),
                       g -> len(list_filter(bg, x -> x = g)))) AS DOUBLE)
                     / len(bg) END AS top_bigram_frac
    FROM b
"""


@_q("text_repetition_signals", _REPETITION_ORACLE)
def text_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: type-token
    ratio, most-frequent-token fraction, and most-frequent-bigram
    fraction (the "top n-gram character/token fraction" family of
    filters from published LLM-corpus curation pipelines; docs above a
    repetition threshold get dropped before training).

    100 TB posture: ENTIRELY map-side — no shuffle, no UDF.  The
    most-frequent-count is computed as the longest RUN in the SORTED
    token array via one left fold (O(n log n) sort + O(n) fold per
    row), replacing the r1-r5 distinct x filter-count argmax whose
    O(distinct x n) per-row cost the r6 all-registry sf1 sweep flagged
    (19.2 s -> measured several-fold faster; interpreted higher-order
    lambdas make the quadratic bite early).  The value is identical —
    max run of a sorted multiset == max frequency — so the oracle is
    unchanged.
    """
    docs = load_table(spark, sf_dir, "documents")

    def max_run(arr: str) -> str:
        # longest run in sorted(arr): fold carrying (prev, run, best)
        step = (
            "CASE WHEN a.prev IS NOT NULL AND x = a.prev "
            "THEN a.run + 1 ELSE 1 END"
        )
        return (
            f"aggregate(array_sort({arr}), "
            "named_struct('prev', CAST(NULL AS STRING), 'run', 0, 'best', 0), "
            f"(a, x) -> named_struct('prev', x, 'run', {step}, "
            f"'best', greatest(a.best, {step})), "
            "a -> a.best)"
        )

    return (
        docs.select(
            "doc_id",
            F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
        )
        .withColumn(
            "bg",
            F.expr(
                "CASE WHEN size(w) < 2 THEN array() "
                "ELSE zip_with(slice(w, 1, size(w) - 1), "
                "slice(w, 2, size(w) - 1), (a, b) -> concat(a, ' ', b)) END"
            ),
        )
        .select(
            "doc_id",
            F.expr("CAST(size(w) AS BIGINT)").alias("n_tokens"),
            F.expr(
                "CAST(size(array_distinct(w)) AS DOUBLE) / size(w)"
            ).alias("unique_token_frac"),
            F.expr(
                f"CAST({max_run('w')} AS DOUBLE) / size(w)"
            ).alias("top_token_frac"),
            F.expr(
                "CASE WHEN size(bg) = 0 THEN CAST(0 AS DOUBLE) "
                f"ELSE CAST({max_run('bg')} AS DOUBLE) / size(bg) END"
            ).alias("top_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# PII detection + redaction
# ---------------------------------------------------------------------------

#: Conservative patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB): no backrefs, no lookarounds, leftmost-first equivalent.
_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-\d{3}-\d{4}"

_PII_ORACLE = rf"""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 3 <> 0
                     THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END AS t
      FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(
             regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
    FROM aug
"""


@_q("pii_redact", _PII_ORACLE)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction: count and mask email addresses and
    phone numbers per document (the pre-training scrub every public
    corpus pipeline runs).

    The driver's synthetic documents carry no organic PII, so a
    deterministic doc_id-derived email/phone is appended first —
    IDENTICALLY on the Spark and DuckDB sides (the injection is test
    fixture, the redaction is the operator under test; docs where
    ``doc_id % 3 == 0`` / ``% 2 == 1`` get no email / no phone, so the
    counts genuinely vary and the zero-match path is exercised).

    100 TB posture: pure map-side regexp in whole-stage codegen — no
    shuffle, no UDF; regex cost is linear in bytes scanned.  Patterns
    are restricted to the Java-regex/RE2 common subset (no backrefs or
    lookarounds) so results are engine-portable.
    """
    docs = load_table(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 != 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("t"),
    )
    return aug.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("t", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("redacted"),
    )


# ---------------------------------------------------------------------------
# Sequence packing (training-batch assembly)
# ---------------------------------------------------------------------------

#: token budget per packed training sequence
_PACK_BUDGET = 512

_PACK_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, source,
             CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    c AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM t
    )
    SELECT source,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS seq_tokens
    FROM c
    GROUP BY source, CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT)
"""


@_q("pack_sequences", _PACK_ORACLE)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign documents to fixed-token-budget training
    sequences (the batch-assembly step between curation and the trainer;
    packing short docs together is how pipelines avoid padding waste).

    A doc lands in the sequence where its tokens BEGIN (cumulative
    token count before the doc, integer-divided by the budget), giving
    the same deterministic greedy packing in both engines — all-integer
    arithmetic, exact oracle.

    100 TB posture: the running sum windows over (source) strata in
    doc_id order — state is one long per window partition, and
    parallelism is the stratum count.  At real scale the stratum key is
    refined (source x shard-of-doc_id-range) so no single stratum
    dominates; the shape stays one shuffle + one window pass, and the
    final per-sequence rollup is a map-side partial aggregation.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.expr(
            "CAST(size(split(lower(trim(text)), '\\\\s+')) AS BIGINT)"
        ).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return (
        c.withColumn(
            "seq_id",
            ((F.col("cum") - F.col("n_tokens")) / F.lit(_PACK_BUDGET))
            .cast("long"),
        )
        .groupBy("source", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental corpus upsert (MERGE semantics)
# ---------------------------------------------------------------------------

_UPSERT_ORACLE = """
    WITH delta AS (
      SELECT doc_id, text || ' [rev2]' AS text, lang, source, n_chars
      FROM documents WHERE doc_id % 7 = 0
      UNION ALL
      SELECT doc_id + 1000000, 'new crawl document ' || CAST(doc_id AS VARCHAR),
             lang, source, n_chars
      FROM documents WHERE doc_id % 11 = 0
    )
    SELECT COALESCE(d.doc_id, b.doc_id) AS doc_id,
           COALESCE(d.text, b.text) AS text,
           COALESCE(d.lang, b.lang) AS lang,
           COALESCE(d.source, b.source) AS source,
           CASE WHEN b.doc_id IS NULL THEN 'inserted'
                WHEN d.doc_id IS NULL THEN 'kept'
                ELSE 'updated' END AS op
    FROM documents b FULL OUTER JOIN delta d USING (doc_id)
"""


@_q("corpus_upsert", _UPSERT_ORACLE)
def corpus_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus refresh: MERGE a delta batch (updated
    revisions + newly crawled docs) into the base corpus — new version
    wins, untouched rows survive, inserts append.  Vanilla Spark has no
    MERGE INTO without a table format underneath, so this re-expresses
    it as a full outer join + coalesce, which is exactly the physical
    shape a MERGE executes anyway.

    The delta is derived deterministically from the base table
    (doc_id % 7 revisions, doc_id % 11 inserts) so both engines build
    the identical delta — fixture plumbing, not operator logic.

    100 TB posture: one shuffle on doc_id for each side of the join (or
    zero if both corpora are bucketed by doc_id — see
    ``scale.write_bucketed``); rows never collect to the driver, and
    AQE handles the delta being orders of magnitude smaller than the
    base (it plans the small side as broadcast when it fits).
    """
    docs = load_table(spark, sf_dir, "documents")
    delta = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.col("text"), F.lit(" [rev2]")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        .unionAll(
            docs.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(
                    F.lit("new crawl document "),
                    F.col("doc_id").cast("string"),
                ).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    )
    b = docs.alias("b")
    d = delta.alias("d")
    return (
        b.join(d, on=F.col("b.doc_id") == F.col("d.doc_id"), how="full_outer")
        .select(
            F.coalesce(F.col("d.doc_id"), F.col("b.doc_id")).alias("doc_id"),
            F.coalesce(F.col("d.text"), F.col("b.text")).alias("text"),
            F.coalesce(F.col("d.lang"), F.col("b.lang")).alias("lang"),
            F.coalesce(F.col("d.source"), F.col("b.source")).alias("source"),
            F.when(F.col("b.doc_id").isNull(), F.lit("inserted"))
            .when(F.col("d.doc_id").isNull(), F.lit("kept"))
            .otherwise(F.lit("updated"))
            .alias("op"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-prefiltered incremental dedup (round 4)
# ---------------------------------------------------------------------------

#: normalized-text fingerprint — same normalization as
#: textstats.text_fingerprint and the exact-dedup family
_FP_SPARK = "md5(regexp_replace(lower(trim(text)), '\\\\s+', ' '))"
_FP_DUCK = r"md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))"

#: bloom filter geometry: >= 2^16 bits, 4 hashes, and m SIZED TO THE
#: KEY COUNT (next power of two >= 16 bits/key).  Round 5's sf1 bench
#: point caught the fixed-2^16 version saturating at 40k corpus keys
#: (fill ~0.91 -> ~70% false positives -> the "prefilter" passed nearly
#: everything and the entry ran 16x, not 10x, at 10x data).  The count
#: that sizes m is one COUNT aggregate — the model-parameter class of
#: driver scalar, same as the k-means stats.
_BLOOM_MIN_BITS = 1 << 16
_BLOOM_K = 4


def _bloom_bits(n_keys: int) -> int:
    bits = _BLOOM_MIN_BITS
    while bits < 16 * max(n_keys, 1):
        bits <<= 1
    return bits

_BLOOM_ORACLE = rf"""
    WITH base AS (
      SELECT doc_id, {_FP_DUCK} AS fingerprint FROM documents
    ),
    newb AS (
      SELECT doc_id, fingerprint FROM base WHERE doc_id % 5 = 0
      UNION ALL
      SELECT doc_id + 3000000 AS doc_id, fingerprint
      FROM base WHERE doc_id % 5 <> 0 AND doc_id % 17 = 0
    ),
    corpus AS (
      SELECT DISTINCT fingerprint FROM base WHERE doc_id % 5 <> 0
    )
    SELECT n.doc_id, n.fingerprint,
           (c.fingerprint IS NOT NULL) AS is_dup
    FROM newb n LEFT JOIN corpus c USING (fingerprint)
"""


@_q("dedup_bloom_prefilter", _BLOOM_ORACLE)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup with a DISTRIBUTED Bloom
    prefilter: a newly crawled batch is checked against the corpus's
    normalized-text fingerprints.  The Bloom bitmap is built as a
    DataFrame aggregation (explode k hash positions -> groupBy 64-bit
    word -> BIT_OR of masks), so the build is a normal shuffle over
    ~m/64 rows — never a driver-side ``df.stat.bloomFilter`` collect.
    Probing broadcasts the (tiny) bitmap table; only batch rows whose k
    bits are all set reach the exact verify semi-join against the
    corpus.  Bloom false positives are removed by the verify stage, so
    the result is EXACTLY the anti/semi-join answer — which is what the
    oracle computes, proving the prefilter loses nothing.

    The new batch is derived deterministically from the base table
    (doc_id % 5 = novel docs, doc_id % 17 re-crawls with shifted ids)
    so both engines build the identical fixture — same pattern as
    ``corpus_upsert``.

    100 TB posture: the corpus fingerprint set is petabyte-shaped but
    the bitmap is m/8 bytes (a few GB for 10^11 keys at 10 bits/key) —
    broadcast once, probed map-side; the expensive exact join then runs
    only on the ~1% of the batch that bloom-passes instead of shuffling
    the full corpus against the full batch.  All integer/bit ops stay
    in whole-stage codegen.
    """
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", F.expr(_FP_SPARK).alias("fingerprint"))
    newb = (
        base.filter(F.col("doc_id") % 5 == 0)
        .unionAll(
            base.filter((F.col("doc_id") % 5 != 0) & (F.col("doc_id") % 17 == 0))
            .select((F.col("doc_id") + 3000000).alias("doc_id"), "fingerprint")
        )
    )
    corpus = base.filter(F.col("doc_id") % 5 != 0).select("fingerprint").distinct()
    bloom_bits = _bloom_bits(corpus.count())

    def _positions(df: DataFrame) -> DataFrame:
        pos = F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64("fingerprint", F.lit(j)), F.lit(bloom_bits))
                    for j in range(_BLOOM_K)
                ]
            )
        ).alias("pos")
        return df.select("fingerprint", pos).select(
            "fingerprint",
            (F.col("pos") / 64).cast("long").alias("word_idx"),
            # pyspark's shiftleft() only takes a literal shift amount;
            # the SQL form accepts a column expression
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )

    bitmap = (
        _positions(corpus)
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = (
        _positions(newb.select("fingerprint").distinct())
        .join(F.broadcast(bitmap), "word_idx", "left")
        .select(
            "fingerprint",
            (
                F.col("bits").isNotNull()
                & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask"))
            ).alias("hit"),
        )
        .groupBy("fingerprint")
        .agg(F.bool_and("hit").alias("maybe_dup"))
        .filter("maybe_dup")
        .select("fingerprint")
    )
    confirmed = probe.join(corpus, "fingerprint", "left_semi").withColumn(
        "dup", F.lit(True)
    )
    return newb.join(confirmed, "fingerprint", "left").select(
        "doc_id",
        "fingerprint",
        F.coalesce(F.col("dup"), F.lit(False)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# Exact per-stratum quota sampling (round 4)
# ---------------------------------------------------------------------------

_QUOTA = 40

_QUOTA_ORACLE = f"""
    SELECT lang, doc_id, rk FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id) AS rk
      FROM documents)
    WHERE rk <= {_QUOTA}
"""


@_q("quota_sample_per_lang", _QUOTA_ORACLE)
def quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-quota uniform sampling per language: keep exactly
    min(quota, stratum size) documents per lang, chosen by ranking on a
    salted md5 of the doc id.  This is the "data mixing to a target
    budget" dual of ``sample_stratified``'s keep-RATE form — quotas give
    hard token budgets per stratum, and the hash ranking makes the
    sample uniform-without-replacement, deterministic across runs and
    engines, and stable under partitioning (no RNG, no ``df.sample``).

    100 TB shape: one shuffle on the stratum key; the rk <= quota
    predicate compiles to WindowGroupLimit so each partition keeps a
    bounded heap instead of fully sorting its stratum (same plan
    property as ``topk_per_group`` — asserted in tests).  When strata
    are skewed, the production refinement pre-filters with an
    approximate per-stratum hash threshold so only ~quota rows per
    stratum reach the exact ranking shuffle.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota")))
    w = Window.partitionBy("lang").orderBy(key.asc(), F.col("doc_id").asc())
    return (
        docs.select("lang", "doc_id")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= _QUOTA)
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate vs train-split vocabulary (round 4)
# ---------------------------------------------------------------------------

_VOCAB_N = 20

_OOV_ORACLE = rf"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                  WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                  ELSE 'test' END AS split,
             regexp_split_to_array(lower(trim(text)), '\s+') AS w
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT unnest(w) AS token FROM d WHERE split = 'train')
      GROUP BY token
      ORDER BY COUNT(*) DESC, token
      LIMIT {_VOCAB_N}
    ),
    te AS (SELECT doc_id, unnest(w) AS token FROM d WHERE split = 'test'),
    oov AS (
      SELECT doc_id, COUNT(*) AS n_oov
      FROM te WHERE token NOT IN (SELECT token FROM vocab)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(d.w) AS BIGINT) AS n_tokens,
           CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
           CAST(COALESCE(o.n_oov, 0) AS DOUBLE) / len(d.w) AS oov_rate
    FROM d LEFT JOIN oov o USING (doc_id)
    WHERE d.split = 'test'
"""


@_q("text_oov_rate", _OOV_ORACLE)
def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate: for every *test*-split document, the
    fraction of its tokens (with multiplicity) outside the top-N token
    vocabulary of the *train* split (N=20 here — the driver's synthetic
    corpus has only 31 distinct tokens, so a larger N would make the
    check vacuous; production N is 10^4-10^5 and everything below
    scales unchanged) — the cheap proxy for "how surprising
    is this document to a model trained on the corpus" that pipelines
    use as a quality / domain-shift filter before spending on real
    perplexity scoring.  Same deterministic split and tokenizer as the
    rest of the text family; the vocabulary tie-breaks (count DESC,
    token ASC) so both engines pick the identical top-N.

    100 TB posture: the vocabulary is top-N small by construction, so
    membership is a broadcast anti-join against an exploded token
    stream — the only real shuffle is the per-doc OOV count's groupBy
    on doc_id, which is skew-free (doc_id is unique-dense).  Counts are
    integers; the single final division is the only float op.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = salted_bucket("doc_id", ":split")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    d = docs.select(
        "doc_id",
        split.alias("split"),
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("w"),
    )
    vocab = (
        d.filter(F.col("split") == "train")
        .select(F.explode("w").alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("token").asc())
        .limit(_VOCAB_N)
        .select("token")
    )
    test = d.filter(F.col("split") == "test")
    oov = (
        test.select("doc_id", F.explode("w").alias("token"))
        .join(F.broadcast(vocab), "token", "left_anti")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_oov"))
    )
    return (
        test.select("doc_id", F.size("w").cast("long").alias("n_tokens"))
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            (
                F.coalesce(F.col("n_oov"), F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("oov_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic random projection of embeddings (round 4)
# ---------------------------------------------------------------------------

_PROJ_IN = 64  # embedding dimensionality (driver testdata)
_PROJ_OUT = 4


def _proj_coeff(i: int, d: int) -> float:
    """Sparse signed-quarter projection matrix, derived from (i, d) so
    both engines share it without a side channel.  Values are exact
    binary fractions (k/4), so float multiply+add rounds identically
    everywhere."""
    return ((i * 31 + d * 17) % 7 - 3) / 4.0


def _proj_expr(d: int, one_based: bool) -> str:
    terms = []
    for i in range(_PROJ_IN):
        c = _proj_coeff(i, d)
        if c == 0.0:
            continue
        idx = i + 1 if one_based else i
        terms.append(f"CAST(embedding[{idx}] AS DOUBLE) * ({c})")
    return " + ".join(terms)


_PROJ_ORACLE = "SELECT vec_id, " + ", ".join(
    f"{_proj_expr(d, one_based=True)} AS p{d}" for d in range(_PROJ_OUT)
) + " FROM embeddings"


@_q("embedding_project", _PROJ_ORACLE)
def embedding_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection dimensionality reduction (64 -> 4) with a
    deterministic sparse sign matrix — the Achlioptas-style projection
    a pipeline runs before LSH bucketing or coarse ANN indexing, where
    preserving pairwise distances approximately at 1/16th the width
    makes every downstream shuffle 16x cheaper.

    Cross-engine exactness: the matrix entries are signed quarters
    (exact binary fractions) generated from (i, d) by the same formula
    on both sides, and each output component is ONE explicit
    left-associated multiply-add chain — identical IEEE rounding in
    Spark and DuckDB, so the driver's value hash matches bit-for-bit
    with no tolerance games.

    100 TB posture: pure map-side projection in whole-stage codegen
    (the generated expression is plain arithmetic over array elements —
    no UDF, no shuffle); column pruning reads only (vec_id, embedding).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        *[
            F.expr(_proj_expr(d, one_based=False)).alias(f"p{d}")
            for d in range(_PROJ_OUT)
        ],
    )


# ---------------------------------------------------------------------------
# Event funnel analysis (round 4)
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = """
    WITH v AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS first_click
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click'
        AND e.ts >= v.first_view
        AND e.ts <= v.first_view + INTERVAL 60 MINUTE
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.first_click
        AND e.ts <= c.first_click + INTERVAL 60 MINUTE
      GROUP BY e.user_id
    )
    SELECT v.user_id,
           CAST(1 + (c.user_id IS NOT NULL)::INT
                  + (p.user_id IS NOT NULL)::INT AS BIGINT) AS funnel_depth,
           date_trunc('second', v.first_view) AS first_view
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
"""


@_q("event_funnel", _FUNNEL_ORACLE)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel analysis: per user, how deep the view -> click -> purchase
    chain progresses, each step within 60 minutes of the previous
    step's first qualifying event (the product-analytics conversion
    query).  Deterministic: every stage anchors on the MIN timestamp of
    the prior stage, so there is exactly one answer per user.

    100 TB posture: three user-keyed aggregations + two user-keyed
    joins — everything shuffles on user_id once per stage and the
    stage outputs are one row per user (tiny).  No window-function
    sort over the raw event stream, no cross-event self-join
    explosion; AQE broadcasts the per-user stage tables when they fit.
    """
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("first_view"))
            & (F.col("ts") <= F.col("first_view") + F.expr("INTERVAL 60 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("first_click"))
            & (F.col("ts") <= F.col("first_click") + F.expr("INTERVAL 60 MINUTES"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c.select("user_id", F.lit(1).alias("_c")), "user_id", "left")
        .join(p.select("user_id", F.lit(1).alias("_p")), "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.coalesce(F.col("_c"), F.lit(0))
                + F.coalesce(F.col("_p"), F.lit(0))
            ).cast("long").alias("funnel_depth"),
            F.date_trunc("second", "first_view").alias("first_view"),
        )
    )


# ---------------------------------------------------------------------------
# Retention cohorts (round 4)
# ---------------------------------------------------------------------------

_RETENTION_ORACLE = """
    WITH f AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS cohort_day FROM events GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(datediff('day', f.cohort_day, CAST(e.ts AS DATE)) AS BIGINT) AS day_offset,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_active
    FROM events e JOIN f USING (user_id)
    WHERE datediff('day', f.cohort_day, CAST(e.ts AS DATE)) <= 7
    GROUP BY 1, 2
"""


@_q("event_retention_cohorts", _RETENTION_ORACLE)
def event_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort matrix: users grouped by first-seen day, counted
    on each of their first 8 activity days (the classic product
    retention triangle).  All-integer outputs — exact both engines.

    100 TB posture: one user-keyed aggregation for the cohort
    assignment (one row per user — broadcastable), one join back to
    the event stream, one (cohort, offset) aggregation whose key space
    is days x 8 — tiny.  COUNT(DISTINCT user) shuffles (cohort, offset,
    user) once; at extreme scale swap in approx_count_distinct (HLL
    partial-merge, no second shuffle) — the exact form here is the
    oracle-checkable reference semantics.
    """
    ev = load_table(spark, sf_dir, "events")
    f = ev.groupBy("user_id").agg(F.min("ts").cast("date").alias("cohort_day"))
    j = ev.join(f, "user_id").withColumn(
        "day_offset", F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).cast("long")
    )
    return (
        j.filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


# ---------------------------------------------------------------------------
# Count-min-sketch heavy hitters (round 4)
# ---------------------------------------------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024

_CMS_ORACLE = f"""
    WITH tok AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    exact AS (SELECT token, COUNT(*) AS exact_count FROM tok GROUP BY token),
    rows_j AS (
      SELECT token, j,
             CASE j {' '.join(f"WHEN {j} THEN (('0x' || substr(md5(token || ':cms{j}'), 1, 8))::UBIGINT % {_CMS_WIDTH})" for j in range(_CMS_DEPTH))} END AS bucket
      FROM tok, unnest([{', '.join(str(j) for j in range(_CMS_DEPTH))}]) AS t(j)
    ),
    sketch AS (
      SELECT j, bucket, COUNT(*) AS cnt FROM rows_j GROUP BY j, bucket
    ),
    probe AS (
      SELECT e.token, e.exact_count, MIN(s.cnt) AS cms_estimate
      FROM exact e
      JOIN rows_j r ON r.token = e.token
      JOIN sketch s ON s.j = r.j AND s.bucket = r.bucket
      GROUP BY e.token, e.exact_count
    )
    SELECT token,
           CAST(exact_count AS BIGINT) AS exact_count,
           CAST(cms_estimate AS BIGINT) AS cms_estimate,
           cms_estimate >= exact_count AS never_underestimates
    FROM probe
"""


@_q("text_heavy_hitters_cms", _CMS_ORACLE)
def text_heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimation: build a depth x width
    counter sketch over the token stream DISTRIBUTIVELY (explode k
    hash rows per token -> ONE groupBy over (row, bucket) — the sketch
    is an aggregation result, never driver state), then estimate each
    distinct token's count as the min over its k counters.  Hashes are
    md5-derived (no RNG), so the sketch — and therefore every estimate
    — is deterministic and recomputed identically by the DuckDB twin;
    the output carries exact vs estimate side by side plus the CMS
    no-underestimate guarantee as a checked column.

    100 TB posture: the sketch is {_CMS_DEPTH}x{_CMS_WIDTH} counters
    REGARDLESS of token cardinality — the whole point: a trillion-token
    stream with billions of distinct tokens aggregates into a
    fixed-size table (map-side partial counts make the shuffle
    O(partitions x depth x width)), where the exact groupBy this entry
    compares against would shuffle every distinct token.  The probe
    side here estimates ALL distinct tokens only because the fixture
    vocabulary is 31 tokens; production probes a candidate set.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token")
    )
    exact = tok.groupBy("token").agg(F.count("*").alias("exact_count"))
    rows_j = tok.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        salted_bucket("token", f":cms{j}", _CMS_WIDTH).alias("bucket"),
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("jb"),
    ).select("token", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    sketch = rows_j.groupBy("j", "bucket").agg(F.count("*").alias("cnt"))
    # Probe with ONE sketch join: explode each candidate token to its
    # (j, bucket) coordinates and take min(cnt) per token.  (A
    # per-depth filter+join would push the j-filter below the groupBy
    # and rebuild the whole sketch once per row — 4x the token-stream
    # aggregation for nothing.)  Inner join is lossless: every probe
    # token's buckets hold at least its own counts.
    probe_jb = exact.select(
        "token",
        "exact_count",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        salted_bucket("token", f":cms{j}", _CMS_WIDTH).alias("bucket"),
                    )
                    for j in range(_CMS_DEPTH)
                ]
            )
        ).alias("jb"),
    ).select("token", "exact_count", F.col("jb.j").alias("j"), F.col("jb.bucket").alias("bucket"))
    est = (
        probe_jb.join(F.broadcast(sketch), ["j", "bucket"])
        .groupBy("token", "exact_count")
        .agg(F.min("cnt").alias("cms_estimate"))
    )
    return est.select(
        "token",
        F.col("exact_count").cast("long").alias("exact_count"),
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("exact_count")).alias("never_underestimates"),
    )


# ---------------------------------------------------------------------------
# Python UDTF: token windows (round 4)
# ---------------------------------------------------------------------------

_UDTF_WIN = 8

_UDTF_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(g AS BIGINT) AS win_idx,
           array_to_string(w[g * {_UDTF_WIN} + 1 : g * {_UDTF_WIN} + {_UDTF_WIN}], ' ') AS window_text
    FROM t, unnest(range(0, CAST(ceil(len(w) / {_UDTF_WIN}.0) AS BIGINT))) AS u(g)
"""


@_q("text_token_windows_udtf", _UDTF_ORACLE)
def text_token_windows_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 user-defined TABLE function) exploding each
    document into fixed-size token windows via a SQL LATERAL join — the
    chunking step before embedding long documents, expressed through
    the one UDF surface the repo had not yet exercised (scalar pandas
    UDFs, grouped applyInPandas, mapInPandas, and stateful
    applyInPandasWithState all appear elsewhere; UDTFs complete the
    set).  Python tokenization (``str.split()``) matches the rest of
    the text family's ``\\s+`` regex split on whitespace-trimmed text.

    100 TB posture: a UDTF lateral join is row-local — Arrow-batched
    fan-out with no shuffle; output volume is input tokens / window,
    and column pruning passes only (doc_id, text) into the Python
    worker.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="win_idx: bigint, window_text: string")
    class TokenWindows:
        def eval(self, text: str):
            toks = (text or "").lower().strip().split()
            if not toks:
                # empty/whitespace-only text: the oracle's regexp split
                # yields [''] (one empty token -> one empty window);
                # Python's split() yields [] — emit the same single
                # empty window so the engines agree on degenerate docs
                yield (0, "")
                return
            for g in range(-(-len(toks) // _UDTF_WIN)):
                yield (
                    g,
                    " ".join(toks[g * _UDTF_WIN : (g + 1) * _UDTF_WIN]),
                )

    spark.udtf.register("zds_token_windows", TokenWindows)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("zds_udtf_docs")
    return spark.sql(
        """SELECT d.doc_id, t.win_idx, t.window_text
           FROM zds_udtf_docs d, LATERAL zds_token_windows(d.text) t"""
    )


# ---------------------------------------------------------------------------
# Event-rate anomaly detection (round 4)
# ---------------------------------------------------------------------------

_ANOMALY_ORACLE = """
    WITH h AS (
      SELECT event_type, date_trunc('hour', ts) AS hour_bucket,
             COUNT(*) AS n_events
      FROM events GROUP BY 1, 2
    ),
    st AS (
      SELECT event_type,
             CAST(SUM(n_events) AS DOUBLE) / COUNT(*) AS mean_n,
             sqrt((CAST(SUM(n_events * n_events) AS DOUBLE)
                    - CAST(SUM(n_events) AS DOUBLE) * SUM(n_events) / COUNT(*))
                  / NULLIF(COUNT(*) - 1, 0)) AS sd_n
      FROM h GROUP BY event_type
    )
    SELECT h.event_type, h.hour_bucket, h.n_events,
           (h.n_events - st.mean_n) / NULLIF(st.sd_n, 0) AS zscore,
           abs(h.n_events - st.mean_n) > 2 * st.sd_n AS is_anomaly
    FROM h JOIN st USING (event_type)
"""


@_q("event_anomaly_zscore", _ANOMALY_ORACLE)
def event_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per event type
    scored against that type's own mean/stddev, hours beyond 2 sigma
    flagged — the monitoring primitive over the same hourly rollup
    ``agg_time_bucket`` builds.  Variance uses the exact sum-of-squares
    form over INTEGER counts (same policy as ``agg_variance``), so
    mean, stddev, and every z-score are bit-identical cross-engine.
    Degenerate strata are guarded IDENTICALLY on both sides (ADVICE
    r4): NULLIF(count-1, 0) for single-bucket types and
    NULLIF(sd_n, 0) for zero-variance types — without the guards Spark
    yields NULL on zero division where DuckDB's IEEE floats yield
    inf/NaN, a silent cross-engine mismatch waiting for a corpus
    regeneration to expose it.

    100 TB posture: two aggregations (hour x type rollup, then a
    per-type reduce over the tiny rollup) + one broadcast join of the
    per-type stats back onto the rollup — the event stream is touched
    once.  In production the same topology runs incrementally: the
    hourly rollup is the streaming windowed aggregate
    (``streaming_window_counts``) and the stats table refreshes per
    trigger.
    """
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.groupBy("event_type", F.date_trunc("hour", "ts").alias("hour_bucket"))
        .agg(F.count("*").alias("n_events"))
    )
    n = F.col("n_events")
    st = h.groupBy("event_type").agg(
        (F.sum(n).cast("double") / F.count("*")).alias("mean_n"),
        F.sqrt(
            (
                F.sum(n * n).cast("double")
                - F.sum(n).cast("double") * F.sum(n) / F.count("*")
            )
            / F.nullif(F.count("*") - 1, F.lit(0))
        ).alias("sd_n"),
    )
    return h.join(F.broadcast(st), "event_type").select(
        "event_type",
        "hour_bucket",
        "n_events",
        ((n - F.col("mean_n")) / F.nullif(F.col("sd_n"), F.lit(0.0))).alias("zscore"),
        (F.abs(n - F.col("mean_n")) > 2 * F.col("sd_n")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# Salted skew join (round 4) — the join dual of scale_salted_agg
# ---------------------------------------------------------------------------

_SALTED_JOIN_ORACLE = """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
"""


@_q("scale_salted_join", _SALTED_JOIN_ORACLE)
def scale_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant join in action: lineitem joined to part through
    :func:`zarr_datafusion_spark.scale.salted_join` (big side salted,
    small side replicated per salt), then rolled up per brand.  The
    oracle is the PLAIN join + aggregate — proving salting changes row
    placement only, never the result.

    100 TB posture: the hot key's rows spread across n_salt reducers
    instead of one; replication cost is n_salt x the small table.  The
    downstream aggregate is keyed on a post-join column, so its shuffle
    is independent of the join-key skew.
    """
    from zarr_datafusion_spark.scale import salted_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"), "p_brand"
    )
    joined = salted_join(li, part, "l_partkey", n_salt=8)
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.sum("l_quantity").cast("double").alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# Two-pass range-partitioned ranking (round 5) — the window dual of the
# salted agg/join pair: same contract (skew pattern + oracle proving
# result equality with the plain plan)
# ---------------------------------------------------------------------------

_RANKED_TWO_PASS_ORACLE = """
    SELECT o_orderkey, o_orderpriority,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey) AS rn
    FROM orders
"""


@_q("scale_ranked_two_pass", _RANKED_TWO_PASS_ORACLE)
def scale_ranked_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global per-priority ROW_NUMBER computed WITHOUT the
    5-reducer window shuffle: ``scale.ranked_two_pass`` range-spreads
    the rows, ranks locally, and adds broadcast per-partition offsets
    map-side (the mitigation ``relational.win_ranking`` documents for
    its PARTITION BY o_orderpriority skew bound — VERDICT r4 item 2,
    now an implemented, equality-tested operator).  The oracle is the
    PLAIN single-pass window SQL, proving the two plans are
    result-identical; test_plans pins the absence of a
    hashpartitioning(o_orderpriority) exchange on the big side.
    """
    from zarr_datafusion_spark.scale import ranked_two_pass

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    return ranked_two_pass(
        orders, "o_orderpriority", "o_totalprice", "o_orderkey"
    ).select("o_orderkey", "o_orderpriority", "rn")


# ---------------------------------------------------------------------------
# Bloom-prefiltered shuffle join (round 5) — the join-input dual of
# dedup_bloom_prefilter: kill probe-side rows BEFORE the join shuffle
# ---------------------------------------------------------------------------

_BJ_K = 4  # hash functions; bits sized per build-side key count (_bloom_bits)

_BLOOM_JOIN_ORACLE = """
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size < 10
    GROUP BY p.p_brand
"""


@_q("scale_bloom_join", _BLOOM_JOIN_ORACLE)
def scale_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective join with a MAP-SIDE Bloom prefilter on the probe
    side: the build side's join keys (parts with p_size < 10) fold into
    one dense bitmap ROW (distributed BIT_OR build -> map_from_entries
    -> an 8 KB array<bigint> broadcast with the scan), and every
    lineitem row tests its k bit positions in a single boolean
    expression — no explode, no per-row groupBy, whole-stage codegen.
    Rows failing the bloom never enter the join shuffle; false
    positives are removed by the real join, so the result is EXACTLY
    the plain join (the oracle), proving the prefilter lossless.

    This is the semi-join-reduction Spark's own runtime bloom filter
    (`spark.sql.optimizer.runtime.bloomFilter.enabled`) injects for
    parquet-to-parquet shuffle joins; spelled explicitly it (a) works
    for any source — including the zarr data source, where Catalyst's
    injected filter cannot reach — and (b) pins the plan shape in
    tests rather than trusting a cost threshold.

    100 TB posture: the build side may be far too big to BROADCAST as
    rows and still have a key set that fits a bitmap (10^9 keys at 10
    bits/key = 1.25 GB); the probe scan then drops ~(1 - selectivity)
    of the big table map-side, shrinking the join shuffle by the same
    factor.  Bitmap build is one aggregation over m/64 words.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    parts = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") < 10)
        .select("p_partkey", "p_brand")
    )
    # size m to the build-side key count (~16 bits/key; one COUNT
    # aggregate — the sf1 saturation lesson from dedup_bloom_prefilter)
    bj_bits = _bloom_bits(parts.count())

    def _pos(key: str, j: int) -> F.Column:
        return F.pmod(F.xxhash64(key, F.lit(j)), F.lit(bj_bits))

    words = (
        parts.select(
            F.explode(
                F.array(*[_pos("p_partkey", j) for j in range(_BJ_K)])
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("long").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias(
                "mask"
            ),
        )
        .groupBy("w")
        .agg(F.bit_or("mask").alias("bits"))
    )
    # dense single-row bitmap: sparse (word, bits) entries -> map ->
    # array indexed by word (missing words = 0).  The map is aggregated
    # in its own step and the transform references it as a BOUND column
    # — inlining map_from_entries(collect_list(...)) inside the lambda
    # re-evaluates the map build once per array element (the measured
    # 25x interpreted-lambda trap; ADVICE r5), quadratic as bj_bits
    # grows with the build-side key count.
    bitmap = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("m")
    ).select(
        F.expr(
            f"transform(sequence(0, {bj_bits // 64 - 1}), "
            "i -> coalesce(m[CAST(i AS BIGINT)], CAST(0 AS BIGINT)))"
        ).alias("bm")
    )
    test = " AND ".join(
        f"(element_at(bm, CAST(pmod(xxhash64(l_partkey, {j}), {bj_bits}) / 64 AS INT) + 1) "
        f"& shiftleft(CAST(1 AS BIGINT), CAST(pmod(xxhash64(l_partkey, {j}), {bj_bits}) % 64 AS INT))) != 0"
        for j in range(_BJ_K)
    )
    li_pref = li.crossJoin(F.broadcast(bitmap)).filter(F.expr(test)).drop("bm")
    return (
        li_pref.join(parts, li_pref.l_partkey == parts.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum("l_quantity").cast("double").alias("sum_qty"),
        )
    )


# ---------------------------------------------------------------------------
# BPE pair statistics (round 5) — the counting core of tokenizer training
# ---------------------------------------------------------------------------

_BPE_TOP = 20

_BPE_ORACLE = f"""
    WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS w
               FROM documents),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(w)),
                    i -> w[i] || ' ' || w[i+1])) AS pair
      FROM w
    )
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY pair
    ORDER BY cnt DESC, pair
    LIMIT {_BPE_TOP}
"""


@_q("bpe_pair_counts", _BPE_ORACLE)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjacent-pair frequency counting — one merge round of BPE
    tokenizer training (count all adjacent symbol pairs, pick the most
    frequent to merge), run at word granularity over the corpus.  The
    iterative trainer is this exact aggregation in a loop with the
    winning pair folded into the symbol stream; the per-round shape is
    what must scale, and it is: map-side pair explode (row-local, no
    join), one hash-aggregate shuffle on the pair key, top-k via
    TakeOrderedAndProject.  Skewed head pairs partial-aggregate
    map-side, so the hot pair arrives at its reducer pre-combined.

    Emptiness guard: Spark's sequence(1, n) DESCENDS for n < 1 (never
    empty), so single-token docs must short-circuit to array()
    explicitly — DuckDB's range(1, n) is empty there already.
    """
    docs = load_table(spark, sf_dir, "documents")
    # bind-once + zip_with-over-slices: indexing element_at(split(...), i)
    # inside the lambda re-ran the split PER ELEMENT (O(tokens^2) splits
    # per doc — measured 7.9 s at sf0.1; this shape runs the split once
    # per row)
    pairs_expr = (
        "element_at(transform(array(split(lower(trim(text)), '\\\\s+')), w -> "
        "CASE WHEN size(w) < 2 THEN array() "
        "ELSE zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), "
        "(a, b) -> concat(a, ' ', b)) END), 1)"
    )
    return (
        docs.select(F.explode(F.expr(pairs_expr)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(_BPE_TOP)
    )


# ---------------------------------------------------------------------------
# Unigram log-probability scoring (round 5) — perplexity-proxy quality
# ---------------------------------------------------------------------------

_UNIGRAM_ORACLE = """
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
                 FROM documents),
    freq AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    tot AS (SELECT COUNT(*) AS n FROM tok)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           round(SUM(ln(cnt)) / COUNT(*) - (SELECT ln(n) FROM tot), 6)
             AS avg_logprob
    FROM tok JOIN freq USING (token)
    GROUP BY doc_id
"""


@_q("text_unigram_logprob", _UNIGRAM_ORACLE)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    unigram LM — the classic perplexity-proxy quality signal (gibberish
    and boilerplate score low, typical prose scores near the corpus
    mode) that pipelines use when a real LM is too expensive for a
    first pass.  avg_logprob = sum(ln cnt_t)/n - ln N, computed with
    the subtraction OUTSIDE the per-token sum so the shuffled join
    carries only ln(cnt).

    Float caveat (same class as sim_label_centroids): ln() may differ
    in the last ulp between the JVM and DuckDB's libm and the per-doc
    sum order differs between engines (~1e-15 rel) — round(6) absorbs
    both.

    100 TB posture: one token explode, one vocab aggregate, one
    token->freq join (broadcast here; at web scale the vocab join is a
    shuffle join on the token key with the usual head-word skew
    partial-aggregated map-side), one per-doc aggregate.  The corpus
    total is a 1-row broadcast, not a driver scalar.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    freq = tok.groupBy("token").agg(F.count("*").alias("cnt"))
    tot = tok.agg(F.count("*").alias("n"))
    # freq is vocab-sized (unbounded at corpus scale): broadcast is
    # Catalyst/AQE's size-based call, not forced (r6 sweep of the
    # forced-broadcast-of-unbounded-tables class)
    per_doc = (
        tok.join(freq, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.log("cnt")).alias("s"),
        )
    )
    return per_doc.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(F.col("s") / F.col("n_tokens") - F.log("n"), 6).alias(
            "avg_logprob"
        ),
    )


# ---------------------------------------------------------------------------
# Tokenizer apply (round 5) — encode documents to id sequences
# ---------------------------------------------------------------------------

_ENCODE_ORACLE = """
    WITH w AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
               FROM documents),
    tok AS (SELECT doc_id, u.pos AS pos, u.token AS token
            FROM (SELECT doc_id,
                         unnest(list_transform(
                           w, (x, i) -> {'pos': i, 'token': x})) AS u
                  FROM w) s),
    vocab AS (
      SELECT token,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token) AS token_id
      FROM tok GROUP BY token
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY pos) AS ids
    FROM tok JOIN vocab USING (token)
    GROUP BY doc_id
"""


@_q("text_encode_ids", _ENCODE_ORACLE)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: build a frequency-ranked vocabulary over the
    corpus (id = rank by count desc, token — fully deterministic, no
    hash) and encode every document as its ordered id sequence — the
    step that turns curated text into model-ready token ids.  The id
    sequence is emitted as a comma-joined string so the driver hash
    covers every id IN ORDER (both engines rebuild the sequence with an
    explicitly ordered aggregation; a bare array column would hinge on
    engine list-ordering semantics).

    100 TB posture: tokenize is a row-local explode; the vocab is one
    aggregate + a broadcast join back (a real vocab is ~100k rows —
    megabytes); re-assembly groups by doc_id with the position carried,
    one shuffle.  The ranked-id assignment runs over the VOCAB only,
    never the token stream, and uses the skew-proof two-pass ranking
    (``scale.ranked_two_pass`` on a constant partition key = global
    row_number via even range exchange + per-partition cumcount +
    broadcast offsets) — a web-scale corpus vocabulary is tens of
    millions of grams, so the previous ``Window.orderBy`` without
    ``partitionBy`` (single-reducer sort, the r5 driver bench's
    ``WindowExec: No Partition Defined`` warnings) was the one
    scale-unsafe step in this query (VERDICT r5 item 5).
    """
    from zarr_datafusion_spark.scale import ranked_two_pass

    # r14: the tokenize explode feeds two consumers (vocab counts and
    # the encode join) and the small parquet plans 1-2 scan partitions
    # — rebalance so both map stages use every core (guide §2.5).
    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "token"
        ),
    )
    counts = (
        tok.groupBy("token")
        .agg(F.count("*").alias("cnt"))
        # rank key: count DESC then token ASC, expressed as ascending
        # (-cnt, token) so the range exchange orders it directly
        .withColumn("__all", F.lit(0))
        .withColumn("__neg_cnt", -F.col("cnt"))
    )
    vocab = ranked_two_pass(
        counts, "__all", "__neg_cnt", "token", rn_col="token_id"
    ).select("token", "token_id")
    # vocab is corpus-vocabulary-sized: broadcast left to Catalyst/AQE
    return (
        tok.join(vocab, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(pos, token_id))), "
                "x -> CAST(x.token_id AS STRING)), ',')"
            ).alias("ids"),
        )
    )


# ---------------------------------------------------------------------------
# As-of linear interpolation (round 5) — sensor-style gap filling
# ---------------------------------------------------------------------------

_INTERP_CASE = """
    CASE WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
         WHEN prev_ts IS NULL THEN next_val
         WHEN next_ts IS NULL THEN prev_val
         WHEN next_ts = prev_ts THEN prev_val
         ELSE prev_val + (next_val - prev_val) * (ts_us - prev_ts)
              / (next_ts - prev_ts)
    END
"""

_ASOF_INTERP_ORACLE = f"""
    WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type,
                       value
                FROM events),
    m AS (
      SELECT user_id, ts_us, 0 AS side, event_id, value AS vval,
             CAST(NULL AS BIGINT) AS purchase_id
      FROM ev WHERE event_type = 'view'
      UNION ALL
      SELECT user_id, ts_us, 1 AS side, event_id, CAST(NULL AS DOUBLE),
             event_id
      FROM ev WHERE event_type = 'purchase'
    ),
    w AS (
      SELECT *,
        LAST_VALUE(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS)
          OVER wp AS prev_ts,
        LAST_VALUE(CASE WHEN side = 0 THEN vval END IGNORE NULLS)
          OVER wp AS prev_val,
        FIRST_VALUE(CASE WHEN side = 0 THEN ts_us END IGNORE NULLS)
          OVER wn AS next_ts,
        FIRST_VALUE(CASE WHEN side = 0 THEN vval END IGNORE NULLS)
          OVER wn AS next_val
      FROM m
      WINDOW wp AS (PARTITION BY user_id ORDER BY ts_us, side, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY user_id ORDER BY ts_us, side, event_id
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT purchase_id, user_id, ts_us AS purchase_ts_us,
           {_INTERP_CASE} AS interp_value
    FROM w WHERE side = 1
"""


@_q("asof_interpolate", _ASOF_INTERP_ORACLE)
def asof_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of LINEAR INTERPOLATION: each purchase gets the same user's
    'view' value linearly interpolated between the nearest view before
    and after it (edge rows carry the single available neighbor) — the
    sensor-reading/feature-backfill sibling of ``asof_join``, built the
    same scalable way: tag + union + ONE window shuffle per user, no
    join operator, state per task is two carried rows (prev via
    last-ignorenulls over the preceding frame, next via
    first-ignorenulls over the following frame — both windows share one
    partitioning, so one Exchange).

    Determinism: the interpolation is a single arithmetic expression
    over exactly-carried doubles and integer microsecond gaps —
    bit-identical across engines, no rounding needed.  Ordering ties
    break on (ts_us, side, event_id) as in ``asof_join``.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("ts_us"),
        "event_type", "value",
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts_us", F.lit(0).alias("side"), "event_id",
        F.col("value").alias("vval"),
        F.lit(None).cast("long").alias("purchase_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts_us", F.lit(1).alias("side"), "event_id",
        F.lit(None).cast("double").alias("vval"),
        F.col("event_id").alias("purchase_id"),
    )
    order = [F.col("ts_us"), F.col("side"), F.col("event_id")]
    wp = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(W.unboundedPreceding, 0)
    )
    wn = (
        W.partitionBy("user_id").orderBy(*order)
        .rowsBetween(0, W.unboundedFollowing)
    )
    is_view_ts = F.when(F.col("side") == 0, F.col("ts_us"))
    is_view_val = F.when(F.col("side") == 0, F.col("vval"))
    merged = (
        v.unionByName(p)
        .withColumn("prev_ts", F.last(is_view_ts, ignorenulls=True).over(wp))
        .withColumn("prev_val", F.last(is_view_val, ignorenulls=True).over(wp))
        .withColumn("next_ts", F.first(is_view_ts, ignorenulls=True).over(wn))
        .withColumn("next_val", F.first(is_view_val, ignorenulls=True).over(wn))
    )
    return merged.filter(F.col("side") == 1).select(
        "purchase_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.expr(_INTERP_CASE).alias("interp_value"),
    )


# ---------------------------------------------------------------------------
# Weighted mixture sampling (round 5) — hit target source proportions
# ---------------------------------------------------------------------------

#: relative mixture weight per source: sources src0..srcN get weight
#: (index % 4) + 1 — a deterministic stand-in for a config file's
#: {source: weight} map; quota_i = _MIX_PER_WEIGHT * weight_i.
_MIX_PER_WEIGHT = 4

_MIXTURE_ORACLE = f"""
    WITH q AS (
      SELECT source, doc_id,
             {_MIX_PER_WEIGHT} * ((CAST(substr(source, 4) AS INTEGER) % 4) + 1)
               AS quota,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(MAX(quota) AS BIGINT) AS quota,
           CAST(COUNT(CASE WHEN rk <= quota THEN 1 END) AS BIGINT) AS n_kept,
           MIN(CASE WHEN rk <= quota THEN doc_id END) AS min_doc,
           MAX(CASE WHEN rk <= quota THEN doc_id END) AS max_doc
    FROM q GROUP BY source
"""


@_q("data_mixture_plan", _MIXTURE_ORACLE)
def data_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mixture sampling — materialize a training mix that hits
    per-source target PROPORTIONS (web-heavy, code-light, ...): each
    source's quota is weight * per-weight-budget, members are chosen by
    md5 rank (deterministic, engine-independent, stable under corpus
    growth for the kept prefix), and the entry reports the per-source
    plan + realized counts (a source with fewer docs than quota keeps
    them all — visible as n_kept < quota).  This is ``quota_sample``'s
    weighted sibling and the knob data-mixing ablations turn.

    100 TB posture: one window rank per source partition over (hash,
    id) — sources are the partition key, so parallelism is #sources;
    heavily skewed sources get the two-pass ranked treatment
    (``scale.ranked_two_pass``) with no semantic change.  The summary
    aggregate rides the same partitioning.
    """
    docs = load_table(spark, sf_dir, "documents")
    quota = (
        F.lit(_MIX_PER_WEIGHT)
        * ((F.substring("source", 4, 10).cast("int") % 4) + 1)
    ).cast("long")
    rk = F.row_number().over(
        W.partitionBy("source").orderBy(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
            "doc_id",
        )
    )
    q = docs.select("source", "doc_id", quota.alias("quota"), rk.alias("rk"))
    kept = F.when(F.col("rk") <= F.col("quota"), F.col("doc_id"))
    return q.groupBy("source").agg(
        F.max("quota").alias("quota"),
        F.count(kept).alias("n_kept"),
        F.min(kept).alias("min_doc"),
        F.max(kept).alias("max_doc"),
    )


# ---------------------------------------------------------------------------
# Column profiling (round 5) — Deequ-style data-quality statistics
# ---------------------------------------------------------------------------

_PROFILE_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_linenumber",
    "l_quantity",
    "l_extendedprice",
    "l_discount",
    "l_tax",
]

_PROFILE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS DOUBLE) AS min_val,
               CAST(MAX({c}) AS DOUBLE) AS max_val
        FROM lineitem"""
    for c in _PROFILE_COLS
)


def _profile_numeric(spark: SparkSession, sf_dir: str, approx: bool) -> DataFrame:
    """Shared profile builder — see :func:`profile_numeric_columns`
    (exact, the oracle-checked registry entry) and
    :func:`profile_numeric_approx` (the benched headline)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        *_PROFILE_COLS
    )
    nd = F.approx_count_distinct if approx else F.count_distinct
    aggs = [F.count("*").alias("__n")]
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            nd(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = li.agg(*aggs)
    stack = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in _PROFILE_COLS
    )
    return wide.select(
        F.expr(
            f"stack({len(_PROFILE_COLS)}, {stack}) "
            "AS (column_name, n_nulls, n_distinct, min_val, max_val)"
        ),
        F.col("__n").alias("n_rows"),
    ).select(
        "column_name", "n_rows", "n_nulls", "n_distinct", "min_val", "max_val"
    )


@_q("profile_numeric_columns", _PROFILE_ORACLE)
def profile_numeric_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset profiling: per-column row/null/exact-distinct counts and
    min/max over every numeric lineitem column in ONE scan — the
    data-quality summary (Deequ/dbt-test class) a pipeline computes per
    snapshot to catch schema drift, null storms, and key-cardinality
    regressions before training jobs consume the data.

    Shape: a single aggregate computes all 8 columns' statistics
    (Spark plans the multi-DISTINCT via Expand — one scan, rows
    multiplied by the number of distinct-aggregates before the
    partial aggregation; the profile is still one pass over the data
    where the naive per-column loop scans 8 times), then a ``stack``
    pivots the 8x5 statistics into the long (column_name, stats) form.
    The oracle recomputes each column's profile independently.

    100 TB posture: exact DISTINCT is the expensive honest choice (the
    ×9 Expand multiplies scan rows before partial aggregation); the
    production default at scale is :func:`profile_numeric_approx`,
    which is the benched headline (VERDICT r5 item 2).  This exact
    variant stays the oracle-checked registry entry.
    """
    return _profile_numeric(spark, sf_dir, approx=False)


def profile_numeric_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-path profile: identical single-scan shape, but
    per-column ``approx_count_distinct`` (HyperLogLog++ sketch, default
    rsd 5%) replaces exact DISTINCT — no Expand, no row multiplication,
    all aggregates partial map-side, one ordinary exchange.  This is
    the variant a 100 TB snapshot profile runs and the one bench.py
    times; it is deliberately NOT in the driver registry because HLL
    sketch counts are engine-specific and cannot be value-oracled
    against DuckDB (tests bound its relative error against the exact
    entry instead)."""
    return _profile_numeric(spark, sf_dir, approx=True)


# ---------------------------------------------------------------------------
# Event transition matrix (round 5) — behavioral path mining
# ---------------------------------------------------------------------------

_TRANSITIONS_ORACLE = """
    WITH ev AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
      FROM events
    ),
    seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id) AS prev_type
      FROM ev
    )
    SELECT prev_type AS from_type, event_type AS to_type,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
"""


@_q("event_markov_transitions", _TRANSITIONS_ORACLE)
def event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: for every consecutive (prev event -> next event) pair,
    the total transition count and how many distinct users make it —
    the path-mining primitive behind "where do users go after X"
    analyses and behavioral-cloning data prep, completing the
    event-analytics family (funnel depth, retention cohorts, rate
    anomalies, transition structure).

    Ordering ties break on (ts_us, event_id) as everywhere in the
    temporal family, so the sequence — and therefore every count — is
    deterministic on both engines.

    100 TB posture: ONE window shuffle partitioned by user_id (state
    per task = one carried row) feeding a k^2-key aggregate (event
    types are low-cardinality, so the transition matrix is tiny and
    the aggregate partial-combines map-side; the distinct-user count
    shuffles (from, to, user) triples — bounded by users x k^2, and
    approx_count_distinct swaps in when even that is too wide).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("ts_us")
    )
    w = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    seq = ev.withColumn("prev_type", F.lag("event_type").over(w))
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(
            F.count("*").alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (round 5) — Efraimidis-Spirakis
# ---------------------------------------------------------------------------

_WS_K = 100

#: priority = ln(u) / w with u an md5-derived uniform in (0, 1]: the
#: Efraimidis-Spirakis A-ES key (usually written u^(1/w); ln is the
#: same ordering computed with one transcendental instead of pow).
#: Selection = top-k priorities — weighted sampling WITHOUT replacement
#: where inclusion probability tracks the weight.
_WS_PRIORITY = (
    "ln((CAST({h} AS DOUBLE) + 1) / 4294967297.0) / {w}"
)

_WS_DUCK_H = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':wsample'), 1, 8))::UBIGINT"
)
_WS_DUCK_W = r"len(regexp_split_to_array(trim(text), '\s+'))"
_WS_DUCK_PRI = _WS_PRIORITY.format(h=_WS_DUCK_H, w=_WS_DUCK_W)

_WEIGHTED_SAMPLE_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, lang,
             {_WS_DUCK_W} AS weight,
             {_WS_DUCK_PRI} AS priority
      FROM documents
    )
    SELECT doc_id, lang, CAST(weight AS BIGINT) AS weight
    FROM t ORDER BY priority DESC, doc_id LIMIT {_WS_K}
"""


@_q("sample_weighted_priority", _WEIGHTED_SAMPLE_ORACLE)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis
    priority sampling): each document draws an md5-derived uniform,
    keys it as ln(u)/weight, and the global top-{_WS_K} priorities are
    the sample — longer documents (weight = token count) are
    proportionally likelier, no document repeats, and the whole draw
    is deterministic (no RNG; the repo's hash-keyed posture).  This is
    the data-mixing primitive for quality- or length-weighted corpus
    subsampling, complementing the exact-quota and proportion-targeted
    mixers (``quota_sample_per_lang``, ``data_mixture_plan``).

    Cross-engine note: ln() may differ in the last ulp between
    engines, which could only flip the selection at a priority tie
    within ~1e-16 — priorities here are spread ~1e-4 apart, and the
    (priority, doc_id) order is otherwise total.

    100 TB posture: map-only key computation + TakeOrderedAndProject
    top-k (per-partition heaps, no global sort) — one pass, no
    shuffle of the corpus; this is exactly how distributed reservoir
    sampling is implemented when the sample must be weighted.
    """
    docs = load_table(spark, sf_dir, "documents")
    h = (
        "CAST(conv(substr(md5(concat(CAST(doc_id AS STRING), ':wsample')), 1, 8), 16, 10) AS BIGINT)"
    )
    w = "size(split(trim(text), '\\\\s+'))"
    pri = _WS_PRIORITY.format(h=h, w=w)
    return (
        docs.select(
            "doc_id",
            "lang",
            F.expr(w).cast("long").alias("weight"),
            F.expr(pri).alias("__pri"),
        )
        .orderBy(F.col("__pri").desc(), "doc_id")
        .limit(_WS_K)
        .drop("__pri")
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (round 6) — per-document keyword extraction
# ---------------------------------------------------------------------------

_TFIDF_K = 3

#: rational TF-IDF (no logarithm): score = (tf/doc_len) * (n_docs/df).
#: Monotone in the classic log-idf ranking for fixed tf, and — unlike
#: ln() — bit-identical across engines because it is two IEEE
#: divisions and a multiply in a fixed order (the repo's determinism
#: posture; text_unigram_logprob documents the ln ulp caveat this
#: sidesteps).
_TFIDF_SCORE = (
    "round((CAST(tf AS DOUBLE) / n_tokens) * (CAST(n_docs AS DOUBLE) / df), 6)"
)

_TFIDF_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf
           FROM tok GROUP BY doc_id, term),
    dl AS (SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id),
    df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term,
             {_TFIDF_SCORE} AS tfidf
      FROM tf JOIN dl USING (doc_id) JOIN df USING (term), nd),
    ranked AS (
      SELECT doc_id, term, tfidf,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, rank, term, tfidf FROM ranked WHERE rank <= {_TFIDF_K}
"""


@_q("text_tfidf_top_terms", _TFIDF_ORACLE)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-{_TFIDF_K} TF-IDF terms — the keyword-extraction
    signal pipelines use for topic tagging, clustering features, and
    boilerplate detection (a doc whose top terms are navigation chrome
    is template noise).

    Shape: one token explode feeds three aggregates (per-doc-term tf,
    per-doc length, per-term document frequency), joined back and
    ranked per doc.  The rank window is PARTITIONED BY doc_id — high
    cardinality, skew-free (a doc has at most its own vocabulary of
    terms) — never a global sort.  The corpus doc count rides along as
    a broadcast 1-row aggregate, not a driver scalar.

    100 TB posture: tf and dl shuffle on doc_id (co-partitioned — one
    exchange feeds both via ReuseExchange), df shuffles on the term key
    with map-side partial counts absorbing head-word skew; the df table
    is vocab-sized, so whether it broadcasts back or shuffle-joins is
    left to Catalyst/AQE (never forced).  Scoring is map-side; the
    windowed top-k never leaves its doc partition.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count("*").alias("n_docs"))
    # df is vocab-sized (unbounded at corpus scale) — broadcast is left
    # to Catalyst/AQE's size estimate, never forced; only the true
    # 1-row doc-count aggregate is broadcast-pinned
    scored = (
        tf.join(dl, "doc_id")
        .join(df, "term")
        .crossJoin(F.broadcast(nd))
        .select("doc_id", "term", F.expr(_TFIDF_SCORE).alias("tfidf"))
    )
    wr = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.select(
            "doc_id", F.row_number().over(wr).alias("rank"), "term", "tfidf"
        )
        .filter(F.col("rank") <= _TFIDF_K)
    )


# ---------------------------------------------------------------------------
# Near-dup train/test contamination (round 6) — MinHash-band variant
# ---------------------------------------------------------------------------


def _neardup_contamination_oracle() -> str:
    from zarr_datafusion_spark.operators.dedup import MINHASH_BANDS_CTE

    return MINHASH_BANDS_CTE + f"""
    , split AS (SELECT doc_id,
                       CASE WHEN {_BUCKET_SQL} < 80 THEN 'train'
                            WHEN {_BUCKET_SQL} < 90 THEN 'valid'
                            ELSE 'test' END AS split
                FROM documents)
    SELECT te.doc_id,
           CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT) AS n_near_dup_train
    FROM band te
    JOIN split se ON se.doc_id = te.doc_id AND se.split = 'test'
    JOIN band tr ON tr.band_idx = te.band_idx AND tr.band_key = te.band_key
    JOIN split sr ON sr.doc_id = tr.doc_id AND sr.split = 'train'
    GROUP BY te.doc_id
"""


@_q("dedup_contamination_minhash", _neardup_contamination_oracle())
def dedup_contamination_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate benchmark contamination: test-split documents that
    MinHash-band-collide with any train-split document — the
    paraphrase-level leak the exact-trigram ``text_contamination``
    check cannot see (an eval answer lightly reworded shares few exact
    trigrams but most minhash bands).  Returns each leaked test doc
    with its count of distinct colliding train docs.

    Reuses the md5-deterministic signature/band machinery
    (``dedup.signature_bands``) and the salted-md5 split shared with
    ``split_train_valid_test``, so all contamination operators agree on
    tokenization and split assignment; full value oracle via the shared
    band CTE.

    100 TB posture: ONE band-key shuffle joins the (small) test side
    against the train index — at real scale the test bands broadcast
    and the train corpus streams past map-side; no all-pairs stage
    exists anywhere.
    """
    from zarr_datafusion_spark.operators.dedup import (
        minhash_signatures,
        signature_bands,
    )

    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    bucket = salted_bucket("doc_id", ":split")
    bands = signature_bands(minhash_signatures(docs)).withColumn(
        "split",
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test"),
    )
    test_b = bands.filter(F.col("split") == "test").select(
        F.col("doc_id"), "band_idx", "band_h0", "band_h1"
    )
    train_b = bands.filter(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "band_idx", "band_h0", "band_h1"
    )
    return (
        test_b.join(train_b, ["band_idx", "band_h0", "band_h1"])
        .groupBy("doc_id")
        .agg(F.countDistinct("train_doc").alias("n_near_dup_train"))
    )


# ---------------------------------------------------------------------------
# Interpolated bigram LM scoring (round 6)
# ---------------------------------------------------------------------------

_LM_LAMBDA = 0.7

#: p(w2 | w1) = λ·c2(w1,w2)/c1(w1) + (1-λ)·c1(w2)/N — Jelinek-Mercer
#: interpolation with the corpus's own counts; spelled ONCE and
#: formatted into both engines so the double arithmetic is
#: order-identical (the ln ulp is absorbed by round(6), the
#: text_unigram_logprob convention).
_BIGRAM_P = (
    "{lam} * (CAST(c2 AS DOUBLE) / c1a) "
    "+ {one_minus} * (CAST(c1b AS DOUBLE) / n_total)"
)

def _bigram_oracle() -> str:
    p = _BIGRAM_P.format(lam=_LM_LAMBDA, one_minus=round(1 - _LM_LAMBDA, 10))
    return f"""
    WITH w AS (SELECT doc_id,
                      regexp_split_to_array(lower(trim(text)), '\\s+') AS w
               FROM documents),
    bg AS (SELECT doc_id,
                  unnest(list_transform(range(1, len(w)),
                         i -> {{'w1': w[i], 'w2': w[i+1]}})) AS b
           FROM w WHERE len(w) >= 2),
    bgf AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
    c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bgf GROUP BY w1, w2),
    uni AS (SELECT unnest(w) AS t FROM w),
    c1 AS (SELECT t, COUNT(*) AS c1 FROM uni GROUP BY t),
    nt AS (SELECT COUNT(*) AS n_total FROM uni)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           round(SUM(ln({p})) / COUNT(*), 6) AS avg_logprob
    FROM bgf
    JOIN c2 USING (w1, w2)
    JOIN (SELECT t AS w1, c1 AS c1a FROM c1) USING (w1)
    JOIN (SELECT t AS w2, c1 AS c1b FROM c1) USING (w2)
    CROSS JOIN nt
    GROUP BY doc_id
"""


@_q("text_bigram_logprob", _bigram_oracle())
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean log-probability under a Jelinek-Mercer
    interpolated BIGRAM language model built from the corpus itself —
    the next step up from ``text_unigram_logprob`` as a perplexity-proxy
    quality filter (word-salad scores low even when its unigrams are
    common; natural word order scores high).

    Shape: the ordered bigram stream is built with the bind-once
    zip_with-over-slices pattern (never indexed element_at — the
    measured 25x hot-lambda trap), then joined to the bigram count
    table on (w1, w2) and the unigram table twice; the corpus token
    total rides as a broadcast 1-row aggregate.  Docs under 2 tokens
    have no bigrams and drop out identically in both engines.

    100 TB posture: the bigram-count shuffle is the dominant exchange
    (key = the bigram, map-side partial counts absorb Zipf head skew);
    count tables broadcast at fixture scale and shuffle-join on the
    same keys at web scale; the final per-doc aggregate shuffles on
    doc_id once.  ln() ulp + per-doc sum order absorbed by round(6).
    """
    # r14 optimization round: a docs cpu_rebalance was A/B'd here and
    # REGRESSED (1.01 -> 1.36 s at sf0.1, alternating best-of-3): the
    # three downstream consumers each shuffle right away, so widening
    # the scan only adds an exchange (the Q3/Q5 precedent).  Left alone.
    docs = load_table(spark, sf_dir, "documents")
    # bind-once bigram structs: transform(array(split(..)), w -> ..)[1]
    bg_expr = (
        "element_at(transform(array(split(lower(trim(text)), '\\\\s+')), w -> "
        "CASE WHEN size(w) < 2 THEN array() "
        "ELSE zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1), "
        "(a, b) -> struct(a AS w1, b AS w2)) END), 1)"
    )
    bgf = docs.select(
        "doc_id", F.explode(F.expr(bg_expr)).alias("b")
    ).select("doc_id", "b.w1", "b.w2")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t"),
    )
    c2 = bgf.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    c1 = tok.groupBy("t").agg(F.count("*").alias("c1"))
    nt = tok.agg(F.count("*").alias("n_total"))
    p = _BIGRAM_P.format(lam=_LM_LAMBDA, one_minus=round(1 - _LM_LAMBDA, 10))
    # c2 is bigram-vocab-sized and c1 unigram-vocab-sized — both
    # unbounded at corpus scale, so the broadcast decision is left to
    # Catalyst/AQE rather than forced (a forced broadcast of a web-scale
    # bigram table is the OOM class this repo's plan audit exists to
    # catch); only the 1-row total is broadcast-pinned
    return (
        bgf.join(c2, ["w1", "w2"])
        .join(c1.select(F.col("t").alias("w1"), F.col("c1").alias("c1a")), "w1")
        .join(c1.select(F.col("t").alias("w2"), F.col("c1").alias("c1b")), "w2")
        .crossJoin(F.broadcast(nt))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum(F.expr(f"ln({p})")) / F.count("*"), 6).alias(
                "avg_logprob"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Document chunking (round 6) — RAG-style overlapping windows
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150

_CHUNK_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text,
             greatest(CAST(ceil((length(text) - {_CHUNK_SIZE})
                                / {_CHUNK_STRIDE}.0) AS INTEGER), 0) AS last_idx
      FROM documents),
    -- scalar range() builds a per-row list (DuckDB's table-function
    -- range cannot take a lateral column parameter — verify-notes r5)
    e AS (SELECT doc_id, text, unnest(range(0, last_idx + 1)) AS i FROM d)
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           CAST(i * {_CHUNK_STRIDE} + 1 AS BIGINT) AS chunk_start,
           substr(text, CAST(i * {_CHUNK_STRIDE} + 1 AS INTEGER),
                  {_CHUNK_SIZE}) AS chunk
    FROM e
"""


@_q("chunk_documents", _CHUNK_ORACLE)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style chunking: every document split into overlapping
    character windows (size {_CHUNK_SIZE}, stride {_CHUNK_STRIDE}) with
    their source offsets — the retrieval-index preparation step that
    feeds the embedding + ANN operators (``sim_*``) downstream.

    Pure map-side: chunk indices come from an explode(sequence(...))
    over arithmetic on length(text) — no shuffle anywhere, whole-stage
    codegen end to end (plan-tested: no Exchange).  The final window is
    anchored so every character belongs to at least one chunk and the
    last chunk may be short; a doc shorter than one window yields
    exactly one chunk.  Guard note: Spark's sequence(0, n) would
    DESCEND for n < 0 (the r4 lesson), so the upper bound is clamped
    with greatest(..., 0) in both engines.

    100 TB posture: embarrassingly parallel over the scan; output is
    ~len/stride x input rows, which is why the operator must never
    shuffle — writers re-partition downstream if the index build needs
    locality by doc or by shard.
    """
    docs = load_table(spark, sf_dir, "documents")
    last_idx = (
        f"greatest(CAST(ceil((length(text) - {_CHUNK_SIZE}) "
        f"/ {_CHUNK_STRIDE}.0) AS INT), 0)"
    )
    return docs.select(
        "doc_id",
        F.explode(F.expr(f"sequence(0, {last_idx})")).alias("chunk_idx"),
        "text",
    ).select(
        "doc_id",
        "chunk_idx",
        (F.col("chunk_idx") * _CHUNK_STRIDE + 1).cast("long").alias("chunk_start"),
        F.expr(
            f"substr(text, CAST(chunk_idx * {_CHUNK_STRIDE} + 1 AS INT), "
            f"{_CHUNK_SIZE})"
        ).alias("chunk"),
    )


# ---------------------------------------------------------------------------
# Inverted index build (round 6) — exact-match search over the corpus
# ---------------------------------------------------------------------------

_INV_HEAD_K = 20

_INV_ORACLE = f"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents),
    df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df
           FROM tok GROUP BY token),
    head AS (
      SELECT token, doc_id,
             ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rn
      FROM tok),
    post AS (
      SELECT token,
             string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings_head
      FROM head WHERE rn <= {_INV_HEAD_K}
      GROUP BY token)
    SELECT df.token, df.df, post.postings_head
    FROM df JOIN post USING (token)
"""


@_q("text_inverted_index", _INV_ORACLE)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token -> exact document frequency + the
    first {_INV_HEAD_K} doc ids of its posting list — the structure
    behind exact-match / boolean search over a curated corpus, and the
    lookup side of the contamination and OOV operators.

    Only a bounded posting HEAD is materialized per token: an
    unbounded ``collect_list`` per token is the row-width hazard at
    corpus scale (a stop word's postings are millions of ids in ONE
    row — real systems segment those lists; the head + the exact df is
    what query planning and sampling need).  The head is selected with
    a per-token window row_number — the window partitions on the
    high-cardinality token key and each group is truncated BEFORE any
    list is built, so no aggregation buffer ever holds an unbounded
    group.

    100 TB posture: one shuffle on the token key feeds both the count
    and the windowed head (same key -> exchange reuse); the head
    collect groups are <= {_INV_HEAD_K} rows by construction.
    Postings are emitted as an ORDER-pinned string so the driver hash
    covers list order.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).distinct()
    df_counts = tok.groupBy("token").agg(F.count("*").alias("df"))
    wk = W.partitionBy("token").orderBy("doc_id")
    head = (
        tok.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _INV_HEAD_K)
        .groupBy("token")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(doc_id)), "
                "x -> CAST(x AS STRING)), ',')"
            ).alias("postings_head")
        )
    )
    return df_counts.join(head, "token").select("token", "df", "postings_head")


# ---------------------------------------------------------------------------
# Exact substring-span dedup (round 7)
# ---------------------------------------------------------------------------

#: shingle length in characters: spans shorter than this are not
#: reported (60 chars ~ the 50-token granularity of the
#: exact-substring training-data dedup literature, scaled to the
#: driver corpus's short documents)
_SUBSTR_L = 60

_EXACT_SUBSTRING_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS t,
             length(lower(trim(text))) - {_SUBSTR_L} + 1 AS n
      FROM documents
      WHERE length(lower(trim(text))) >= {_SUBSTR_L}
    ),
    pos AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS p, t FROM d),
    sh AS (
      SELECT doc_id, n, p,
             md5(substr(t, CAST(p AS INT), {_SUBSTR_L})) AS h
      FROM pos
    ),
    flag AS (
      SELECT doc_id, n, p,
             min(doc_id) OVER (PARTITION BY h)
               <> max(doc_id) OVER (PARTITION BY h) AS dup
      FROM sh
    ),
    runs AS (
      SELECT doc_id, n, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM flag WHERE dup
    ),
    per_run AS (
      SELECT doc_id, n, run, COUNT(*) AS len
      FROM runs GROUP BY doc_id, n, run
    )
    SELECT doc_id, CAST(n AS BIGINT) AS n_shingles,
           CAST(SUM(len) AS BIGINT) AS n_dup_positions,
           CAST(MAX(len) + {_SUBSTR_L} - 1 AS BIGINT) AS longest_dup_span
    FROM per_run GROUP BY doc_id, n
"""


@_q("dedup_exact_substring", _EXACT_SUBSTRING_ORACLE)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup — the "duplicated training data"
    class the doc-level families can't see: two documents that are NOT
    near-duplicates overall may still share a long verbatim span (a
    quoted paragraph, boilerplate, a license header), and removing
    those spans is its own dedup step in large-corpus curation
    pipelines, distinct from MinHash/SimHash whole-document dedup.

    Method: every character position emits a rolling {_SUBSTR_L}-char
    shingle (md5-keyed — the engine-independent CMS hash pattern); a
    shingle is a cross-document duplicate iff ``min(doc_id) OVER
    (PARTITION BY hash) <> max(doc_id) OVER (...)`` — one window over
    the hash key instead of a groupBy + join-back, so the whole
    detection is a SINGLE shuffle on the shingle hash.  Duplicated
    positions then collapse per document with the gaps-and-islands
    pattern (position − row_number), giving each affected document its
    duplicated-position count and its LONGEST verbatim duplicated span
    — the per-doc coverage report the span-cutting step consumes.

    Stride 1 guarantees every duplicated span of ≥ {_SUBSTR_L} chars
    is found exactly (a strided/winnowed variant trades that guarantee
    for proportionally fewer shingles — the knob to turn first at
    100 TB; the shingle volume, ~one row per corpus character, is the
    honest cost of EXACT substring dedup and is why the literature's
    suffix-array builds are offline batch jobs).  All hashes are md5,
    so the DuckDB oracle recomputes every value bit-for-bit.
    """
    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    return exact_substring_report(docs)


def exact_substring_report(docs: DataFrame, length: int = _SUBSTR_L) -> DataFrame:
    """DataFrame-in/DataFrame-out core of :func:`dedup_exact_substring`
    (library API: any (doc_id, text) DataFrame, any shingle length).
    Property-tested against a pure-Python brute force on arbitrary
    corpora (``test_property.py``) in addition to the registry's
    DuckDB differential."""
    d = (
        docs.select("doc_id", F.lower(F.trim("text")).alias("t"))
        .withColumn("n", F.length("t") - length + 1)
        .filter(F.col("n") >= 1)  # sequence() never sees n < 1
    )
    sh = d.select(
        "doc_id",
        "n",
        "t",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("p"),
    ).select(
        "doc_id",
        "n",
        "p",
        # substring(col, col, lit): plain column refs inside the call —
        # no lambda, no rebuild-per-element hazard.  unhex: the shingle
        # key crosses the h-window exchange as BINARY(16), not the
        # 32-char hex string — same equality classes (hex<->bytes is
        # bijective), ~half the shuffle bytes (guide §2.3 narrower
        # types; r14 A/B 1.54 -> 1.43 s at sf0.1).
        F.unhex(F.md5(F.expr(f"substring(t, p, {length})"))).alias("h"),
    )
    wh = W.partitionBy("h")
    dup_pos = sh.withColumn(
        "dup", F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
    ).filter("dup")
    wd = W.partitionBy("doc_id").orderBy("p")
    runs = dup_pos.withColumn("run", F.col("p") - F.row_number().over(wd))
    per_run = runs.groupBy("doc_id", "n", "run").agg(
        F.count(F.lit(1)).alias("len")
    )
    return per_run.groupBy("doc_id", "n").agg(
        F.sum("len").cast("bigint").alias("n_dup_positions"),
        (F.max("len") + length - 1).cast("bigint").alias("longest_dup_span"),
    ).select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_shingles"),
        "n_dup_positions",
        "longest_dup_span",
    )


#: winnowing window: every run of _SUBSTR_WIN consecutive positions
#: contributes at least one selected fingerprint, so any duplicated
#: span of >= _SUBSTR_L + _SUBSTR_WIN - 1 chars is guaranteed detected
_SUBSTR_WIN = 5

_WINNOWED_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS t,
             length(lower(trim(text))) - {_SUBSTR_L} + 1 AS n
      FROM documents
      WHERE length(lower(trim(text))) >= {_SUBSTR_L}
    ),
    pos AS (SELECT doc_id, unnest(generate_series(1, n)) AS p, t FROM d),
    sh AS (
      SELECT doc_id, p, md5(substr(t, CAST(p AS INT), {_SUBSTR_L})) AS h
      FROM pos
    ),
    wm AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY p
                          ROWS BETWEEN {_SUBSTR_WIN - 1} PRECEDING
                          AND CURRENT ROW) AS fp
      FROM sh
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM wm),
    flag AS (
      SELECT doc_id, fp,
             min(doc_id) OVER (PARTITION BY fp)
               <> max(doc_id) OVER (PARTITION BY fp) AS dup
      FROM fps
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
           CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_fingerprints
    FROM flag GROUP BY doc_id
    HAVING SUM(CASE WHEN dup THEN 1 ELSE 0 END) > 0
"""


@_q("dedup_substring_winnowed", _WINNOWED_ORACLE)
def dedup_substring_winnowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed substring fingerprinting — the 100 TB SCALE PATH of
    :func:`dedup_exact_substring` (the same exact↔approximate pairing
    as ``sim_topk_bruteforce`` ↔ the ANN entries).  Min-sampling
    winnowing (the MOSS fingerprinting scheme): each document keeps,
    for every window of {_SUBSTR_WIN} consecutive shingle positions,
    the MINIMUM shingle hash.  Every duplicated span of
    ≥ {_SUBSTR_L} + {_SUBSTR_WIN} − 1 chars is still guaranteed to
    share a selected fingerprint (identical content selects identical
    minima), but the distinct-fingerprint volume that reaches the
    cross-document shuffle drops to roughly 2/({_SUBSTR_WIN}+1) of the
    positions — the map-side hashing cost is unchanged, the SHUFFLE
    (the cluster-scale bottleneck) shrinks ~3×, and larger windows
    trade detection floor for further reduction.

    Implementation lives in :func:`substring_winnowed_report`, which
    exposes BOTH measured physical shapes behind one argument
    (VERDICT r7 item 7); the registry entry runs the locally-faster
    codegen'd ``explode_window`` shape.  All hashes md5 → full DuckDB
    value oracle.  Output: per affected doc, its fingerprint count and
    how many of its fingerprints also occur in another document.
    """
    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    return substring_winnowed_report(docs)


def substring_winnowed_report(
    docs: DataFrame,
    length: int = _SUBSTR_L,
    window: int = _SUBSTR_WIN,
    shape: str = "explode_window",
) -> DataFrame:
    """DataFrame-in/DataFrame-out core of
    :func:`dedup_substring_winnowed` with the physical shape as an
    argument (the r7 A/B, now one flag instead of a rewrite —
    VERDICT r7 item 7; equivalence pinned by
    ``test_extras.test_winnowed_shapes_equivalent``):

    * ``"explode_window"`` (default): explode positions, per-doc
      rolling ``min(h)`` window, then distinct — whole-stage-codegen'd
      end-to-end; wins on CPU-bound local runs (2.99 vs 3.70 s at
      sf0.1) at the cost of one extra exchange on the doc key.
    * ``"map_side"``: shingle hashes as a per-row array, rolling min
      via ``slice``+``array_min``, ``array_distinct`` BEFORE any
      explode — the doc-key exchange disappears entirely and only
      distinct fingerprints ever leave the row.  Higher-order lambdas
      are interpreted (slower per CPU cycle), so this shape wins when
      the exchange — not CPU — is the bottleneck: the cluster-scale
      flip.  The ``hs`` array is bound ONCE as a column before the
      rolling-min transform (the bind-once rule; an inline
      ``transform`` inside the lambda would rebuild it per element).

    Both shapes select the identical fingerprint set (the rolling min
    over partial leading windows is defined identically), feed the
    same min≠max-over-hash duplicate flag, and return identical rows.
    Scale check (r8): map_side is exactly LINEAR in corpus characters
    (3.7 s at sf0.1 → 34.7 s at sf1 for 10× chars) — no cliff; the
    interpreted-HOF constant is simply ~5× the codegen path's on this
    box, which is the price paid to delete the doc-key exchange.
    """
    d = (
        docs.select("doc_id", F.lower(F.trim("text")).alias("t"))
        .withColumn("n", F.length("t") - length + 1)
        .filter(F.col("n") >= 1)
    )
    if shape == "explode_window":
        sh = d.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.col("n"))).alias("p"),
        ).select(
            "doc_id",
            "p",
            # BINARY(16) fingerprints: unhex is order-preserving over
            # hex strings (per-nibble monotone encoding), so the
            # rolling MIN selects the SAME positions' hashes and the
            # fp exchange carries 16 bytes instead of 32+ (guide §2.3;
            # r14 A/B 1.53 -> 1.21 s at sf0.1).
            F.unhex(F.md5(F.expr(f"substring(t, p, {length})"))).alias("h"),
        )
        wdw = (
            W.partitionBy("doc_id")
            .orderBy("p")
            .rowsBetween(-(window - 1), 0)
        )
        fps = (
            sh.withColumn("fp", F.min("h").over(wdw))
            .select("doc_id", "fp")
            .distinct()
        )
    elif shape == "map_side":
        hs = d.select(
            "doc_id",
            "n",
            # unhex for the same reason as the explode_window shape:
            # both shapes must select identical fingerprints
            # (test_winnowed_shapes_equivalent), and binary mins are
            # order-isomorphic to hex-string mins.
            F.expr(
                f"transform(sequence(1, n), "
                f"p -> unhex(md5(substring(t, p, {length}))))"
            ).alias("hs"),
        )
        fps = hs.select(
            "doc_id",
            F.explode(
                F.expr(
                    "array_distinct(transform(sequence(1, n), p -> "
                    f"array_min(slice(hs, greatest(1, p - {window - 1}), "
                    f"p - greatest(1, p - {window - 1}) + 1))))"
                )
            ).alias("fp"),
        )
    else:
        raise ValueError(f"unknown shape {shape!r}")
    wf = W.partitionBy("fp")
    flag = fps.withColumn(
        "dup", F.min("doc_id").over(wf) != F.max("doc_id").over(wf)
    )
    return (
        flag.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
            F.sum(F.when(F.col("dup"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_fingerprints"),
        )
        .filter(F.col("n_dup_fingerprints") > 0)
    )


_CUT_SPANS_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lower(trim(text)) AS t,
             length(lower(trim(text))) - {_SUBSTR_L} + 1 AS n
      FROM documents
      WHERE length(lower(trim(text))) >= {_SUBSTR_L}
    ),
    pos AS (SELECT doc_id, t, unnest(generate_series(1, n)) AS p FROM d),
    sh AS (
      SELECT doc_id, p, md5(substr(t, CAST(p AS INT), {_SUBSTR_L})) AS h
      FROM pos
    ),
    flag AS (
      SELECT doc_id, p,
             min(doc_id) OVER (PARTITION BY h)
               <> max(doc_id) OVER (PARTITION BY h) AS dup
      FROM sh
    ),
    runs AS (
      SELECT doc_id, p,
             p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS run
      FROM flag WHERE dup
    ),
    iv AS (
      SELECT doc_id, MIN(p) AS s, MAX(p) + {_SUBSTR_L} - 1 AS e
      FROM runs GROUP BY doc_id, run
      UNION ALL
      SELECT doc_id, length(t) + 1 AS s, length(t) AS e FROM d
    ),
    mark AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(MAX(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1
                  THEN 1 ELSE 0 END AS newgrp
      FROM iv
    ),
    grp AS (
      SELECT doc_id, s, e,
             SUM(newgrp) OVER (PARTITION BY doc_id ORDER BY s
                               ROWS UNBOUNDED PRECEDING) AS g
      FROM mark
    ),
    merged AS (
      SELECT doc_id, g, MIN(s) AS ms, MAX(e) AS me FROM grp GROUP BY doc_id, g
    ),
    lagged AS (
      SELECT doc_id, ms, me,
             coalesce(LAG(me) OVER (PARTITION BY doc_id ORDER BY ms), 0)
               AS prev_me
      FROM merged
    ),
    segs AS (
      SELECT l.doc_id, l.ms, l.me,
             substr(d.t, CAST(l.prev_me + 1 AS INT),
                    CAST(l.ms - l.prev_me - 1 AS INT)) AS seg
      FROM lagged l JOIN d USING (doc_id)
    )
    SELECT doc_id,
           string_agg(seg, '' ORDER BY ms) AS cleaned_text,
           CAST(SUM(CASE WHEN me >= ms THEN me - ms + 1 ELSE 0 END) AS BIGINT)
             AS n_removed_chars,
           CAST(SUM(CASE WHEN me >= ms THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
    FROM segs GROUP BY doc_id
    HAVING SUM(CASE WHEN me >= ms THEN 1 ELSE 0 END) > 0
"""


@_q("dedup_cut_spans", _CUT_SPANS_ORACLE)
def dedup_cut_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-span CUT — the pipeline step the exact-substring
    dedup literature actually ends with (VERDICT r7 item 3):
    :func:`dedup_exact_substring` REPORTS each document's duplicated
    coverage; this operator REMOVES every cross-document duplicated
    span of ≥ {_SUBSTR_L} chars and emits the cleaned text, the
    curation transform that feeds training.

    Same windowed-dup + gaps-and-islands algebra as the report (one
    shuffle on the shingle hash finds duplicated positions; position −
    row_number collapses them to runs), extended by two more per-doc
    window passes: (1) run char-intervals merge into maximal islands
    (cumulative ``max(e)`` over preceding rows → island id → min/max),
    and (2) each island's KEPT gap is sliced with ``lag(me)`` and the
    segments concatenate in pinned ``ms`` order.  A sentinel empty
    interval at ``len+1`` makes the tail segment fall out of the same
    lag expression — no union of a special last-segment case.  Only
    affected documents are returned (``n_spans > 0``).

    100 TB posture: identical to the report — ~1 row per corpus
    character through ONE hash-key shuffle is the honest cost of exact
    span dedup; everything after the dup flag is per-doc windows over
    the (far smaller) duplicated-position set plus one slim join back
    to the text.  Property-tested against a pure-Python brute force
    (cleaned text must equal the uncovered-position subsequence
    verbatim); the DuckDB twin recomputes every value including the
    cleaned strings.
    """
    docs = cpu_rebalance(
        spark, load_table(spark, sf_dir, "documents")
    )
    return cut_duplicate_spans(docs)


def cut_duplicate_spans(docs: DataFrame, length: int = _SUBSTR_L) -> DataFrame:
    """DataFrame-in/DataFrame-out core of :func:`dedup_cut_spans`
    (library API: any (doc_id, text) DataFrame, any span length)."""
    d = (
        docs.select("doc_id", F.lower(F.trim("text")).alias("t"))
        .withColumn("n", F.length("t") - length + 1)
        .filter(F.col("n") >= 1)
    )
    sh = d.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(1), F.col("n"))).alias("p"),
    ).select(
        "doc_id",
        "p",
        # BINARY(16) shingle key — same equality classes as the hex
        # string at ~half the h-exchange bytes (guide §2.3; see
        # exact_substring_report).
        F.unhex(F.md5(F.expr(f"substring(t, p, {length})"))).alias("h"),
    )
    wh = W.partitionBy("h")
    dup_pos = sh.withColumn(
        "dup", F.min("doc_id").over(wh) != F.max("doc_id").over(wh)
    ).filter("dup")
    wd = W.partitionBy("doc_id").orderBy("p")
    runs = dup_pos.withColumn("run", F.col("p") - F.row_number().over(wd))
    iv = runs.groupBy("doc_id", "run").agg(
        F.min("p").alias("s"), (F.max("p") + length - 1).alias("e")
    ).select("doc_id", "s", "e")
    sentinel = d.select(
        "doc_id",
        (F.length("t") + 1).alias("s"),
        F.length("t").alias("e"),
    )
    iv = iv.unionByName(sentinel)
    w_prev = (
        W.partitionBy("doc_id")
        .orderBy("s")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    mark = iv.withColumn(
        "newgrp",
        F.when(
            F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(0)) + 1, 1
        ).otherwise(0),
    )
    w_cum = (
        W.partitionBy("doc_id").orderBy("s").rowsBetween(W.unboundedPreceding, 0)
    )
    grp = mark.withColumn("g", F.sum("newgrp").over(w_cum))
    merged = grp.groupBy("doc_id", "g").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    w_seg = W.partitionBy("doc_id").orderBy("ms")
    lagged = merged.withColumn(
        "prev_me", F.coalesce(F.lag("me").over(w_seg), F.lit(0))
    )
    segs = lagged.join(d.select("doc_id", "t"), "doc_id").withColumn(
        "seg", F.expr("substring(t, prev_me + 1, ms - prev_me - 1)")
    )
    return (
        segs.groupBy("doc_id")
        .agg(
            F.expr(
                "array_join(transform(array_sort(collect_list(struct(ms, seg))), "
                "x -> x.seg), '')"
            ).alias("cleaned_text"),
            F.sum(
                F.when(F.col("me") >= F.col("ms"), F.col("me") - F.col("ms") + 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("n_removed_chars"),
            F.sum(F.when(F.col("me") >= F.col("ms"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_spans"),
        )
        .filter(F.col("n_spans") > 0)
    )


# ---------------------------------------------------------------------------
# BM25 retrieval (round 7)
# ---------------------------------------------------------------------------

#: fixed query terms — medium-to-high-df tokens present at every
#: driver SF, so the ranking is non-vacuous everywhere
_BM25_TERMS = ("scan", "merge", "stream", "customer")

_BM25_ORACLE = (lambda terms: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS DOUBLE) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ((n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id), corpus
    ),
    pivoted AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN token = '{t}' THEN score END) AS s_{t}" for t in terms)}
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           {" + ".join(f"coalesce(s_{t}, 0.0)" for t in terms)} AS bm25
    FROM pivoted
    ORDER BY bm25 DESC, doc_id
    LIMIT 10
""")(_BM25_TERMS)


@_q("search_bm25_topk", _BM25_ORACLE)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus — the lexical-search
    counterpart of the embedding ANN entries, and the ranking function
    behind contamination lookup / hard-negative mining in training
    pipelines.  k1 = 1.2, b = 0.75.

    Bit-determinism engineering (the float-exactness house rule): the
    IDF keeps BM25's odds ratio but drops the log —
    ``(N − df + 0.5)/(df + 0.5)`` — because ``ln`` is a libm call with
    no cross-engine rounding contract, while +,×,÷ are IEEE-exact;
    and the per-document sum over query terms is NOT a float SUM (whose
    partial-aggregation order is nondeterministic) but a conditional
    pivot to one column per term added in FIXED textual order.  Result:
    the DuckDB oracle reproduces every score bit-for-bit.

    100 TB posture: term filtering prunes the explode to query-term
    rows before any shuffle; df/dl/corpus stats are tiny aggregates
    (corpus is a broadcast 1-row scalar); the final top-10 is
    TakeOrderedAndProject with a (score, doc_id) total order.

    r14 optimization round: the docs cpu_rebalance this entry carried
    since r7 was A/B'd out (1.20 -> 0.45 s at sf0.1, alternating
    best-of-3): the split+isin map work is too light to amortize the
    round-robin exchange, which also re-executed once per branch (toks
    and dl both hang off it).  The heavy-map entries (minhash
    signatures, shingle md5) keep theirs — measured 3-7x the other way.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    # doc length is size(split(...)) — MAP-ONLY, not an explode+groupBy
    # (that shuffle was 60% of the query's cost; the split-count and
    # the exploded-count are identical by construction)
    dl = docs.select(
        "doc_id",
        F.size(F.split(F.lower(F.trim("text")), r"\s+"))
        .cast("double")
        .alias("dl"),
    )
    tf = (
        toks.filter(F.col("token").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    return _bm25_score_topk(tf, dl)


def _bm25_score_topk(tf: DataFrame, dl: DataFrame, k: int = 10) -> DataFrame:
    """Shared BM25 scoring tail: query-term (doc_id, token, tf double)
    + per-doc (doc_id, dl double) → top-k.  Both retrieval entries
    feed this, so the raw-text and index-backed paths cannot drift —
    identical expressions, identical fixed-order per-term summation,
    identical bit-exact scores."""
    return (
        _bm25_scores(tf, dl)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(k)
    )


def _bm25_scores(tf: DataFrame, dl: DataFrame) -> DataFrame:
    """Unlimited (doc_id, bm25) scores for every document matching a
    query term — the rank source for fusion; see
    :func:`_bm25_score_topk` for the expression provenance."""
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dft = tf.groupBy("token").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    scored = (
        tf.join(dft, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "score",
            ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
    )
    piv = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("token") == t, F.col("score"))).alias(f"s_{t}")
            for t in _BM25_TERMS
        ]
    )
    total = None
    for t in _BM25_TERMS:
        c = F.coalesce(F.col(f"s_{t}"), F.lit(0.0))
        total = c if total is None else total + c
    return piv.select("doc_id", total.alias("bm25"))


# shared with similarity.py's persisted ANN index (one staleness
# discipline for every derived on-disk artifact)
from zarr_datafusion_spark.operators.common import (  # noqa: E402
    prune_stale_siblings as _prune_stale_siblings,
    source_staleness_key as _source_staleness_key,
)


def bm25_index_paths(sf_dir: str) -> tuple[str, str]:
    """(postings_path, doclen_path) for ``sf_dir``'s persisted BM25
    index.  The directory name embeds a digest of the source parquet's
    (size, mtime_ns), so a regenerated testdata set can never be
    served by a stale index — the build function rebuilds under the
    new key and prunes the superseded sibling directories."""
    src = os.path.join(sf_dir, "documents.parquet")
    # "layout2": postings gained the positions column (r8) — bumping
    # the layout tag rebuilds indexes written under the old schema
    key = _source_staleness_key(src, "layout2")
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    out = os.path.join(repo_root, "data", "bm25_index", f"{base}-{key}")
    return (
        os.path.join(out, "postings.parquet"),
        os.path.join(out, "doclen.parquet"),
    )


def build_bm25_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Build-once inverted retrieval index: the FULL postings table
    (token, doc_id, tf, positions) — exact term frequencies plus the
    sorted 1-based POSITION LIST per posting (bounded per row by the
    term's in-doc frequency; the structure phrase/proximity queries
    seek into) — and the per-doc length table.  Non-positional queries
    (BM25, boolean) never pay for the positions column: parquet column
    pruning drops it at the scan (plan-tested).  Postings are
    repartitioned and sorted by token so row-group min/max stats prune
    a query's scan to the row groups containing its terms (the
    file-layout analog of posting-list seek; at cluster scale this is
    ``bucketBy(token)`` on a saved table).  Idempotent: returns
    immediately when the staleness-keyed directory already holds both
    ``_SUCCESS`` marks.
    """
    postings_path, doclen_path = bm25_index_paths(sf_dir)
    if all(
        os.path.exists(os.path.join(p, "_SUCCESS"))
        for p in (postings_path, doclen_path)
    ):
        return postings_path, doclen_path
    out = os.path.dirname(postings_path)
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    _prune_stale_siblings(
        os.path.dirname(out), f"{base}-", os.path.basename(out)
    )
    from zarr_datafusion_spark.operators.common import publish_dir_atomically

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )

    def _build(tmp: str) -> None:
        (
            toks.groupBy("token", "doc_id")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.sort_array(F.collect_list(F.col("pos") + 1)).alias(
                    "positions"
                ),
            )
            .repartition(8, "token")
            .sortWithinPartitions("token")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "postings.parquet"))
        )
        (
            docs.select(
                "doc_id",
                F.size(F.split(F.lower(F.trim("text")), r"\s+")).alias("dl"),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "doclen.parquet"))
        )

    # atomic publish of the PARENT dir: both tables appear together or
    # not at all (a racing builder can never interleave task files)
    publish_dir_atomically(
        _build,
        out,
        is_complete=lambda: all(
            os.path.exists(os.path.join(p, "_SUCCESS"))
            for p in (postings_path, doclen_path)
        ),
    )
    return postings_path, doclen_path


@_q("search_bm25_indexed", _BM25_ORACLE)
def search_bm25_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the PERSISTED inverted index — the real
    retrieval architecture (build once, query many; VERDICT r7 item
    8).  :func:`search_bm25_topk` re-derives tf/df/dl from raw text on
    every call; here the query plan never scans ``documents`` at all:
    term frequencies come from the postings table (scan pruned to the
    query's terms — ``In(token, ...)`` reaches the parquet reader as a
    pushed filter over the token-sorted row groups) and document
    lengths/corpus stats from the doclen table.  Scoring is the SAME
    shared expression tail, so scores are bit-identical to the
    raw-text entry and the DuckDB oracle (which recomputes everything
    from ``documents``) hash-matches both.

    100 TB posture: a query reads |terms| posting row-groups + the
    slim doclen table instead of the corpus text — the index pays for
    itself after one query; index build is one explode + one shuffle,
    amortized across every later query (the build here is keyed by
    source (size, mtime) and cached on disk).
    """
    tf, dl = _indexed_tf_dl(spark, sf_dir)
    return _bm25_score_topk(tf, dl)


def _indexed_tf_dl(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """Query-term tf + doc lengths read from the persisted index (the
    shared scan front of every index-backed retrieval entry)."""
    postings_path, doclen_path = build_bm25_index(spark, sf_dir)
    tf = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin(list(_BM25_TERMS)))
        .select("doc_id", "token", F.col("tf").cast("double").alias("tf"))
    )
    dl = spark.read.parquet(doclen_path).select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    return tf, dl


_RRF_K = 60  # the standard reciprocal-rank-fusion dampening constant

_RRF_ORACLE = (lambda terms: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS DOUBLE) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ((n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id), corpus
    ),
    pivoted AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN token = '{t}' THEN score END) AS s_{t}" for t in terms)}
      FROM scored GROUP BY doc_id
    ),
    lex AS (
      SELECT doc_id,
             {" + ".join(f"coalesce(s_{t}, 0.0)" for t in terms)} AS bm25
      FROM pivoted
    ),
    lexrank AS (
      SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS lr
      FROM lex
    ),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sem AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, 65),
                   i -> embedding[i]::DOUBLE * qe[i]::DOUBLE)) AS cosine
      FROM embeddings, q WHERE vec_id <> 0
    ),
    semrank AS (
      SELECT vec_id, ROW_NUMBER() OVER (ORDER BY cosine DESC, vec_id) AS sr
      FROM sem
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.vec_id) AS doc_id,
             coalesce(1.0 / ({_RRF_K} + l.lr), 0.0)
               + coalesce(1.0 / ({_RRF_K} + s.sr), 0.0) AS rrf
      FROM lexrank l FULL OUTER JOIN semrank s ON l.doc_id = s.vec_id
    )
    SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
""")(_BM25_TERMS)


@_q("search_rrf_hybrid", _RRF_ORACLE)
def search_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the standard way
    training-data pipelines combine LEXICAL (BM25) and SEMANTIC
    (embedding cosine) relevance without calibrating their
    incommensurable score scales: each candidate contributes
    ``1/({_RRF_K}+rank)`` per list and the sums are fused.  Ranks are
    positions in (a) the index-backed BM25 scoring of the query terms
    and (b) the exact cosine ranking against the query vector
    (``vec_id`` 0, the module-wide query constant); a document missing from either
    list simply contributes nothing from it (full outer join).

    Bit-determinism: both underlying scores are already bit-exact
    cross-engine (the BM25 rational-IDF and the sequential-fold dot
    product), so the rank sequences are identical, and the fused value
    is a sum of two exactly-representable reciprocals — the oracle
    reproduces every rrf value bit-for-bit.

    100 TB posture: the lexical side reads only query-term postings;
    the semantic side is the brute-force map-side scan here (swap in
    the IVF/LSH entries' pruning at scale — fusion only needs ranks).
    The two global rank row_numbers are single-partition windows over
    ALREADY-REDUCED lists (matched docs, not the corpus); if a query
    matches a corpus-sized doc set, the two-pass range-partitioned
    ranking (``scale_ranked_two_pass``) replaces them one-for-one.
    """
    tf, dl = _indexed_tf_dl(spark, sf_dir)
    lex = _bm25_scores(tf, dl)
    w_lex = W.orderBy(F.col("bm25").desc(), "doc_id")
    lexrank = lex.select("doc_id", F.row_number().over(w_lex).alias("lr"))

    from zarr_datafusion_spark.operators.similarity import QUERY_VEC_ID, _dot

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("qe")
    )
    sem = (
        e.filter(F.col("vec_id") != QUERY_VEC_ID)
        .crossJoin(F.broadcast(q))
        .select("vec_id", F.expr(_dot("embedding", "qe")).alias("cosine"))
    )
    w_sem = W.orderBy(F.col("cosine").desc(), "vec_id")
    semrank = sem.select("vec_id", F.row_number().over(w_sem).alias("sr"))

    fused = lexrank.join(
        semrank, lexrank["doc_id"] == semrank["vec_id"], "full_outer"
    ).select(
        F.coalesce(F.col("doc_id"), F.col("vec_id")).alias("doc_id"),
        (
            F.coalesce(1.0 / (_RRF_K + F.col("lr")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sr")), F.lit(0.0))
        ).alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


_BOOL_AND_ORACLE = (lambda terms: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    qtf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
      GROUP BY doc_id, token
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM qtf GROUP BY doc_id
    HAVING COUNT(*) = {len(terms)}
""")(_BM25_TERMS)


@_q("search_boolean_and", _BOOL_AND_ORACLE)
def search_boolean_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean conjunctive retrieval over the persisted inverted index:
    documents containing ALL query terms, with their total query-term
    frequency — the exact-match filter stage that precedes ranked
    retrieval in contamination lookup and targeted corpus audits.

    Plan: read ONLY the query terms' postings (pushed ``In(token)``
    over the token-sorted parquet), one groupBy on doc_id counting
    matched terms — the classic posting-list intersection expressed as
    an aggregate, no document text touched.  At 100 TB the per-doc
    group is ≤ |terms| rows by construction, so the shuffle carries
    |terms| × |matching docs| tiny rows.  The oracle recomputes from
    raw text; the postings tf values are exact, so counts match
    bit-for-bit.
    """
    postings_path, _ = build_bm25_index(spark, sf_dir)
    hits = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin(list(_BM25_TERMS)))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .filter(F.col("n_terms") == len(_BM25_TERMS))
    )
    return hits


#: fixed test phrase — a consecutive token pair present at every
#: driver SF (45/44/2830 matching docs at sf0.001/0.01/sf1)
_PHRASE = ("part", "filter")

_PHRASE_ORACLE = (lambda phrase: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               (x, i) -> {{'pos': i, 'token': x}})) AS u
      FROM documents
    ),
    p AS (SELECT doc_id, u.pos AS pos, u.token AS token FROM toks),
    ph AS (SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(phrase))}) AS t(i, term)),
    m AS (SELECT doc_id, pos - i AS start, i FROM p JOIN ph ON token = term),
    occ AS (
      SELECT doc_id, start
      FROM m GROUP BY doc_id, start
      HAVING COUNT(DISTINCT i) = {len(phrase)}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(start) AS BIGINT) AS first_pos
    FROM occ GROUP BY doc_id
""")(_PHRASE)


@_q("search_phrase", _PHRASE_ORACLE)
def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search — consecutive-token matching, the retrieval
    primitive behind benchmark-contamination string lookup and quoted
    queries.  Implemented with the POSITION-OFFSET trick instead of a
    k-way positional self-join: a token matching phrase term i at
    position p votes for candidate start ``p − i``; a start position
    where all {len(_PHRASE)} distinct term indices voted is an
    occurrence.  That turns k-term phrase matching into ONE filter +
    ONE aggregate — no join chain, no row explosion beyond the
    matching term positions themselves.

    100 TB posture: the posexplode is pruned to phrase terms before
    any shuffle (the same query-term pruning as BM25), and the single
    (doc, start) aggregate carries ≤ k rows per candidate start.  With
    a POSITIONAL index (postings + position lists) the scan side drops
    to the phrase terms' postings, exactly like ``search_boolean_and``
    — the voting aggregate is unchanged.  Output: per matching doc,
    occurrence count and first match position (1-based).

    r14 optimization round: the unconditional docs cpu_rebalance was
    replaced by the size-gated :func:`cpu_rebalance_over` — the
    measured crossover (0.73 raw vs 0.99 rebalanced at sf0.1's 0.6 MB
    file; 2.15 raw vs 1.54 rebalanced at sf1's 5.5 MB) means neither
    always-on nor always-off is right for the single-file band, and at
    real scale both no-op.
    """
    from zarr_datafusion_spark.operators.common import cpu_rebalance_over

    docs = cpu_rebalance_over(
        spark, load_table(spark, sf_dir, "documents")
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim("text")), r"\s+")).alias(
            "pos", "token"
        ),
    )
    phrase_df = spark.createDataFrame(
        list(enumerate(_PHRASE)), "i int, term string"
    )
    m = tok.join(
        F.broadcast(phrase_df), tok["token"] == phrase_df["term"]
    ).select(
        "doc_id",
        # Spark posexplode is 0-based; emit 1-based starts to match the
        # DuckDB positional-unnest convention
        (F.col("pos") - F.col("i") + 1).alias("start"),
        "i",
    )
    occ = (
        m.groupBy("doc_id", "start")
        .agg(F.countDistinct("i").alias("k"))
        .filter(F.col("k") == len(_PHRASE))
    )
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("start").cast("bigint").alias("first_pos"),
    )


@_q("search_phrase_indexed", _PHRASE_ORACLE)
def search_phrase_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search served from the POSITIONAL index — the scan reads
    only the phrase terms' postings rows (pushed ``In(token)``, their
    position lists riding along in the pruned columns) and never
    touches document text; the same position-offset voting as
    :func:`search_phrase` then runs over exploded position lists.
    With the raw-text variant the explode is the whole corpus's
    tokens; here it is ``Σ tf`` over the phrase terms' postings only —
    at 100 TB that is the difference between scanning the corpus and
    seeking |terms| posting runs.  Identical output to the raw-text
    entry (same oracle, 1-based positions stored at build time).
    """
    postings_path, _ = build_bm25_index(spark, sf_dir)
    phrase_df = spark.createDataFrame(
        list(enumerate(_PHRASE)), "i int, term string"
    )
    m = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin(list(_PHRASE)))
        .select("doc_id", "token", "positions")
        .join(F.broadcast(phrase_df), F.col("token") == phrase_df["term"])
        .select("doc_id", F.explode("positions").alias("p1"), "i")
        .select("doc_id", (F.col("p1") - F.col("i")).alias("start"), "i")
    )
    occ = (
        m.groupBy("doc_id", "start")
        .agg(F.countDistinct("i").alias("k"))
        .filter(F.col("k") == len(_PHRASE))
    )
    return occ.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.min("start").cast("bigint").alias("first_pos"),
    )

#: NEAR/k query — ordered proximity: _NEAR_B within _NEAR_SLOP
#: positions AFTER _NEAR_A (gap 1 = adjacent).  Both terms are
#: frequent at every driver SF, so the result is never empty.
_NEAR_A, _NEAR_B, _NEAR_SLOP = "sort", "merge", 3

_NEAR_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_transform(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               (x, i) -> {{'pos': i, 'token': x}})) AS u
      FROM documents
    ),
    p AS (SELECT doc_id, u.pos AS pos, u.token AS token FROM toks),
    a AS (SELECT doc_id, pos FROM p WHERE token = '{_NEAR_A}'),
    b AS (SELECT doc_id, pos FROM p WHERE token = '{_NEAR_B}'),
    pr AS (
      SELECT a.doc_id, b.pos - a.pos AS gap
      FROM a JOIN b ON a.doc_id = b.doc_id
       AND b.pos > a.pos AND b.pos <= a.pos + {_NEAR_SLOP}
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(gap) AS BIGINT) AS min_gap
    FROM pr GROUP BY doc_id
"""


@_q("search_proximity", _NEAR_ORACLE)
def search_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered proximity search (``NEAR/k``) served from the
    positional index — the retrieval primitive between exact phrase
    and bag-of-words (the reference's retrieval surface stops at
    exact scans, `src/reader/zarr_exec.rs`; this extends the r8
    positional-index family).  A pair matches when the second term
    occurs within ``slop`` positions AFTER the first; per matching
    doc we return the pair count and the minimal gap (gap 1 =
    adjacent, i.e. the exact phrase).

    Plan: one pushed-``In(token)`` read of the postings file (the
    filter keeps both terms), per-doc equi-join of the two exploded
    position lists with the gap bound as a post-join filter —
    codegen'd join, no interpreted higher-order lambdas.  100 TB
    posture: the scan touches only the two terms' posting runs
    (row-group pruned); the join key is doc_id so the per-doc pair
    work is bounded by tf_a × tf_b of the two terms in that doc,
    never cross-doc.
    """
    postings_path, _ = build_bm25_index(spark, sf_dir)
    posts = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin([_NEAR_A, _NEAR_B]))
        .select("doc_id", "token", "positions")
    )
    a = posts.filter(F.col("token") == _NEAR_A).select(
        "doc_id", F.explode("positions").alias("pa")
    )
    b = posts.filter(F.col("token") == _NEAR_B).select(
        F.col("doc_id").alias("doc_id_b"), F.explode("positions").alias("pb")
    )
    pr = a.join(
        b,
        (a["doc_id"] == b["doc_id_b"])
        & (F.col("pb") > F.col("pa"))
        & (F.col("pb") <= F.col("pa") + _NEAR_SLOP),
    ).select("doc_id", (F.col("pb") - F.col("pa")).alias("gap"))
    return pr.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.min("gap").cast("bigint").alias("min_gap"),
    )

# ---------------------------------------------------------------------------
# Streaming incremental index maintenance (copy-on-write upsert)
# ---------------------------------------------------------------------------

_IDX_UPDATE_ORACLE = r"""
    WITH t AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
      FROM documents
    ),
    p AS (SELECT token, doc_id, COUNT(*) AS tf FROM t GROUP BY token, doc_id)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tf) AS BIGINT) AS total_tf
    FROM p GROUP BY token
"""

#: doc-hash buckets of the maintained postings layout (the partition
#: pruning unit for per-batch rewrites)
_IDX_BUCKETS = 8


@_q("streaming_index_update", _IDX_UPDATE_ORACLE)
def streaming_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental inverted-index maintenance — the streaming half of
    the r8 retrieval architecture (``build_bm25_index`` is the batch
    build; real corpora keep growing after the build).  Documents
    arrive as an AT-LEAST-ONCE file stream (4 ingest files + 1
    deliberate re-delivery of every 7th doc); each micro-batch upserts
    its docs' postings into a doc-hash-BUCKETED parquet index via
    copy-on-write: read ONLY the affected bucket partitions (partition
    pruning), anti-join out the arriving doc_ids, union the fresh
    postings, and dynamic-partition-overwrite just those buckets.
    Idempotent merge + at-least-once delivery = exactly-once index —
    the re-delivered docs change nothing, which the shared oracle
    (per-token n_docs/total_tf derived from ``documents``) proves.

    100 TB posture: per-batch cost is proportional to the AFFECTED
    buckets, not the index (the Hudi/Iceberg copy-on-write pattern
    expressed in plain Spark); ingestion that clusters doc ids (time-
    or range-partitioned arrival) touches O(1) of the layout.  The
    eager localCheckpoint before each overwrite is the local stand-in
    for staging-dir commit — it breaks the read-from-overwritten-path
    cycle and bounds each batch's rewrite to the pruned buckets.
    Streaming is beyond the reference's batch-only surface
    (``src/reader/zarr_exec.rs`` Boundedness::Bounded).
    """
    import shutil

    work, index_dir = _incremental_postings(spark, sf_dir)
    out = (
        spark.read.parquet(index_dir)
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("tf").cast("bigint").alias("total_tf"),
        )
        .localCheckpoint(eager=True)
    )
    shutil.rmtree(work, ignore_errors=True)
    return out


def _incremental_postings(
    spark: SparkSession, sf_dir: str
) -> tuple[str, str]:
    """Run the at-least-once ingest stream and return ``(work_dir,
    index_dir)`` — the doc-hash-bucketed postings built by the
    foreachBatch copy-on-write upserts (see
    :func:`streaming_index_update` for the semantics).  The caller
    owns ``work_dir`` cleanup."""
    import shutil
    import tempfile

    src = os.path.join(sf_dir, "documents.parquet")
    key = _source_staleness_key(src, "ingest1")
    base = os.path.basename(sf_dir.rstrip("/")) or "sf"
    repo_root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    ingest_dir = os.path.join(repo_root, "data", f"ingest_{base}_{key}")
    _prune_stale_siblings(
        os.path.dirname(ingest_dir),
        f"ingest_{base}_",
        os.path.basename(ingest_dir),
    )

    docs = load_table(spark, sf_dir, "documents")
    if not os.path.exists(os.path.join(ingest_dir, "_SUCCESS")):
        # 4 ingest files (micro-batch granularity) + re-delivery of
        # every 7th doc: the at-least-once arrival the merge must absorb
        tmp = ingest_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        docs.repartition(4).write.mode("overwrite").parquet(tmp)
        docs.filter(F.col("doc_id") % 7 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(tmp)
        shutil.rmtree(ingest_dir, ignore_errors=True)
        os.rename(tmp, ingest_dir)

    work = tempfile.mkdtemp(prefix="zds_idx_update_")
    index_dir = os.path.join(work, "postings")
    ckpt_dir = os.path.join(work, "ckpt")

    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        fresh = (
            batch_df.select(
                "doc_id",
                F.explode(
                    F.split(F.lower(F.trim("text")), r"\s+")
                ).alias("token"),
            )
            .groupBy("token", "doc_id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .withColumn(
                "bucket", F.pmod(F.hash("doc_id"), F.lit(_IDX_BUCKETS))
            )
        )
        arriving = batch_df.select("doc_id").distinct()
        if os.path.exists(index_dir):
            buckets = [
                r.bucket
                for r in fresh.select("bucket").distinct().collect()
            ]
            kept = (
                spark.read.parquet(index_dir)
                .filter(F.col("bucket").isin(buckets))
                .join(arriving, "doc_id", "left_anti")
            )
            merged = kept.unionByName(fresh)
        else:
            merged = fresh
        # materialize before overwriting the path we just read
        merged = merged.localCheckpoint(eager=True)
        (
            merged.write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(index_dir)
        )

    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(ingest_dir)
        )
        q = (
            stream.writeStream.foreachBatch(_upsert)
            .option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", prev_mode
        )

    return work, index_dir


@_q("streaming_index_compacted", _BM25_ORACLE)
def streaming_index_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION closes the index lifecycle: the incremental upsert
    index (:func:`streaming_index_update`) is write-optimized —
    bucketed by doc hash so per-batch rewrites prune — but that layout
    serves term lookups badly (a query term's postings are scattered
    across every bucket).  Compaction rewrites it into the
    READ-optimized layout the batch build emits: token-repartitioned,
    token-sorted postings (row-group min/max pruning restored) plus a
    doclen sidecar derived as ``SUM(tf)`` per doc (exactly the token
    count, so no text re-read).  A BM25 query over the compacted index
    then reproduces the raw-text entry's scores bit-for-bit — the
    shared oracle proves ingest-upsert → compact → query end-to-end.

    100 TB posture: this is the LSM shape of every real search/lakehouse
    system (write-optimized deltas + periodic compaction to
    read-optimized base); compaction is one shuffle over the postings,
    amortized across all subsequent pruned queries.
    """
    import shutil

    work, index_dir = _incremental_postings(spark, sf_dir)
    comp_postings = os.path.join(work, "compacted_postings")
    comp_doclen = os.path.join(work, "compacted_doclen")
    posts = spark.read.parquet(index_dir).select("token", "doc_id", "tf")
    (
        posts.repartition(8, "token")
        .sortWithinPartitions("token")
        .write.parquet(comp_postings)
    )
    (
        posts.groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
        .write.parquet(comp_doclen)
    )
    tf = (
        spark.read.parquet(comp_postings)
        .filter(F.col("token").isin(list(_BM25_TERMS)))
        .select("doc_id", "token", F.col("tf").cast("double").alias("tf"))
    )
    dl = spark.read.parquet(comp_doclen).select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    out = _bm25_score_topk(tf, dl).localCheckpoint(eager=True)
    shutil.rmtree(work, ignore_errors=True)
    return out

# ---------------------------------------------------------------------------
# Query-likelihood ranking (Dirichlet smoothing)
# ---------------------------------------------------------------------------

_QLM_MU = "2000.0"  # Dirichlet prior as a shared literal string

_QLM_ORACLE = (lambda terms, mu: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS DOUBLE) AS dl
           FROM documents),
    c AS (SELECT CAST(CAST(SUM(CAST(dl AS BIGINT)) AS BIGINT) AS DOUBLE)
                 AS c_total FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY doc_id, token),
    cf AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS cf
           FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY token),
    cfp AS (SELECT {", ".join(f"SUM(CASE WHEN token = '{t}' THEN cf END) AS cf_{t}" for t in terms)}
            FROM cf),
    piv AS (SELECT doc_id,
                   {", ".join(f"SUM(CASE WHEN token = '{t}' THEN tf END) AS tf_{t}" for t in terms)}
            FROM tf GROUP BY doc_id)
    SELECT doc_id,
           {" * ".join(f"((coalesce(tf_{t}, 0.0) + {mu} * cf_{t} / c_total) / (dl + {mu}))" for t in terms)}
           AS qlm
    FROM piv JOIN dl USING (doc_id), c, cfp
    ORDER BY qlm DESC, doc_id
    LIMIT 10
""")(_BM25_TERMS, _QLM_MU)


@_q("search_qlm_topk", _QLM_ORACLE)
def search_qlm_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (µ = 2000) —
    the second classic probabilistic ranking family next to BM25,
    served from the SAME persisted index.  Candidate set = docs
    containing >= 1 query term (standard posting-driven scoring); each
    candidate's score is the product over query terms of
    ``(tf + µ·cf/C) / (dl + µ)`` — smoothing gives absent terms their
    collection probability, so the product never zeroes out.

    Bit-determinism: log-free (the product form, not the usual
    log-sum), every input double is an exactly-represented integer
    (tf, cf, dl, C are counts; integer-valued doubles sum exactly in
    ANY order, so even the float SUMs here are deterministic), per-term
    factors are pivoted columns multiplied in FIXED textual order, and
    µ rides as one shared literal.  The DuckDB twin reproduces every
    score bit-for-bit.

    100 TB posture: identical to the BM25 indexed entry — |terms|
    posting row-groups + the slim doclen table; cf/C are tiny
    aggregates (two 1-row broadcasts); top-10 is
    TakeOrderedAndProject.
    """
    tf, dl = _indexed_tf_dl(spark, sf_dir)
    mu = float(_QLM_MU)
    corpus = dl.agg(F.sum("dl").cast("double").alias("c_total"))
    cfp = (
        tf.groupBy("token")
        .agg(F.sum("tf").alias("cf"))
        .agg(
            *[
                F.sum(F.when(F.col("token") == t, F.col("cf"))).alias(f"cf_{t}")
                for t in _BM25_TERMS
            ]
        )
    )
    piv = tf.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("token") == t, F.col("tf"))).alias(f"tf_{t}")
            for t in _BM25_TERMS
        ]
    )
    cand = (
        piv.join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .crossJoin(F.broadcast(cfp))
    )
    score = None
    for t in _BM25_TERMS:
        f = (
            F.coalesce(F.col(f"tf_{t}"), F.lit(0.0))
            + F.lit(mu) * F.col(f"cf_{t}") / F.col("c_total")
        ) / (F.col("dl") + F.lit(mu))
        score = f if score is None else score * f
    return (
        cand.select("doc_id", score.alias("qlm"))
        .orderBy(F.col("qlm").desc(), "doc_id")
        .limit(10)
    )

# ---------------------------------------------------------------------------
# Snippet extraction around phrase matches
# ---------------------------------------------------------------------------

_SNIPPET_CTX = 3  # tokens of context on each side of the matched phrase

_SNIPPET_ORACLE = (lambda phrase, ctx: f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS w,
             unnest(list_transform(
               regexp_split_to_array(lower(trim(text)), '\\s+'),
               (x, i) -> {{'pos': i, 'token': x}})) AS u
      FROM documents
    ),
    p AS (SELECT doc_id, u.pos AS pos, u.token AS token FROM toks),
    ph AS (SELECT * FROM (VALUES {", ".join(f"({i}, '{t}')" for i, t in enumerate(phrase))}) AS t(i, term)),
    m AS (SELECT doc_id, pos - i AS start FROM p JOIN ph ON token = term
          GROUP BY doc_id, pos - i HAVING COUNT(DISTINCT i) = {len(phrase)}),
    fp AS (SELECT doc_id, CAST(MIN(start) AS BIGINT) AS first_pos
           FROM m GROUP BY doc_id),
    arr AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
            FROM documents)
    SELECT fp.doc_id, fp.first_pos,
           array_to_string(
             w[GREATEST(1, CAST(first_pos AS INT) - {ctx}) :
               CAST(first_pos AS INT) + {len(phrase) - 1 + ctx}],
             ' ') AS snippet
    FROM fp JOIN arr ON fp.doc_id = arr.doc_id
""")(_PHRASE, _SNIPPET_CTX)


@_q("search_snippets", _SNIPPET_ORACLE)
def search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contextual snippet extraction — the result-presentation step of
    the retrieval stack: for every doc matching the exact phrase, cut
    the token window ±{ctx} around the FIRST occurrence and render it
    as a string.  The MATCH phase is served from the positional index
    (the phrase terms' postings only — :func:`search_phrase_indexed`'s
    voting, no corpus-wide explode); only then does the entry touch
    text, and only for MATCHING docs: one join back to the token
    array and a 1-based bounded slice (both engines clamp slices at
    the array end, and the left bound is ``greatest(1, ...)``, so the
    window is total).

    100 TB posture: the two-phase retrieve-then-present shape
    production search uses — match against the index (|terms| posting
    runs), fetch documents for the hit set only.  Measured: index
    voting + deferred split cut the entry 0.94 -> 0.69 s at sf0.1
    and 3.1 -> 1.6 s warm at sf1.
    """
    postings_path, _ = build_bm25_index(spark, sf_dir)
    phrase_df = spark.createDataFrame(
        list(enumerate(_PHRASE)), "i int, term string"
    )
    occ = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin(list(_PHRASE)))
        .select("doc_id", "token", "positions")
        .join(F.broadcast(phrase_df), F.col("token") == phrase_df["term"])
        .select("doc_id", F.explode("positions").alias("p1"), "i")
        .select("doc_id", (F.col("p1") - F.col("i")).alias("start"), "i")
        .groupBy("doc_id", "start")
        .agg(F.countDistinct("i").alias("k"))
        .filter(F.col("k") == len(_PHRASE))
        .groupBy("doc_id")
        .agg(F.min("start").cast("bigint").alias("first_pos"))
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lo = F.greatest(F.lit(1), F.col("first_pos").cast("int") - _SNIPPET_CTX)
    hi = F.col("first_pos").cast("int") + (len(_PHRASE) - 1 + _SNIPPET_CTX)
    # tokenize AFTER the join: only the hit set pays the split
    w = F.split(F.lower(F.trim("text")), r"\s+")
    return occ.join(docs, "doc_id").select(
        "doc_id",
        "first_pos",
        F.array_join(F.slice(w, lo, hi - lo + 1), " ").alias("snippet"),
    )


# ---------------------------------------------------------------------------
# Prefix-filtered exact set-similarity join (PPJoin-style)
# ---------------------------------------------------------------------------

#: Jaccard threshold for the prefix-filtered join.  0.5 sits in the
#: same bimodal gap as the LSH entry's 0.2 (noise pairs < 0.07,
#: injected near-dups > 0.88) but exercises a genuinely shorter prefix:
#: p = n - ceil(t*n) + 1 = n/2 + 1 grams per doc enter the candidate
#: self-join instead of all n.
SETSIM_PREFIX_THRESHOLD = 0.5


@_q("dedup_setsim_prefix_join", jaccard_allpairs_oracle(SETSIM_PREFIX_THRESHOLD))
def dedup_setsim_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-trigram Jaccard join via PREFIX FILTERING — the
    deterministic counterpart to :func:`~zarr_datafusion_spark.
    operators.dedup.dedup_ngram_jaccard`'s MinHash-LSH blocking
    (SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08; the reference's dedup ambitions are capability anchors
    only — no similarity join exists in ``src/``).

    Principle: under ANY global total order on grams, two sets with
    ``J(x, y) >= t`` must share at least one gram within the first
    ``|x| - ceil(t*|x|) + 1`` grams of each side (pigeonhole on the
    overlap bound ``|x & y| >= t*|x|``), so candidate generation only
    self-joins the PREFIXES — and unlike LSH the guarantee is exact:
    recall is 1 by construction, no banding parameter to tune.

    Scale shape: the global order is (document frequency ASC, gram) —
    rarest-first — so the grams that survive into prefixes are
    precisely the ones with the SMALLEST join buckets; frequent grams
    (the skew risk in any token self-join) are pushed to suffixes and
    never joined on.  Shuffles: one explode+groupBy for df, one join
    tok->df keyed by gram, one window keyed by doc_id, one candidate
    self-join keyed by gram (bucket sizes bounded by rare-gram df),
    then the exact verify touches candidate pairs only — never all
    pairs.  The small candidate/verify joins are left to AQE (no
    forced broadcasts of unbounded sides, round-6 rule).
    """
    docs = load_table(spark, sf_dir, "documents")
    return setsim_prefix_join(docs, SETSIM_PREFIX_THRESHOLD)


def setsim_prefix_join(docs: DataFrame, threshold: float) -> DataFrame:
    """Reusable prefix-filtered exact Jaccard join over any (doc_id,
    text) DataFrame — see :func:`dedup_setsim_prefix_join` for the
    algorithm and scale notes.  Returns (doc_a, doc_b, jaccard) for
    every unordered pair with word-trigram Jaccard >= ``threshold``,
    EXACTLY (every pruning stage below is recall-1 — stages 1-3 and 5
    provably, stage 4 up to intra-intersection 64-bit hash collisions;
    see its note).

    Pruning ladder (measured at sf1: 50k docs, 250,600 true pairs —
    the naive verify-everything shape took 143 s on 40.3M candidates;
    this ladder runs the same output in ~1/4 the time):

    1. candidate self-join on PREFIX grams keyed by ``xxhash64(gram)``
       (cheaper 8-byte shuffle key; a hash collision can only ADD
       candidates — superset-sound).  The global prefix ORDER stays on
       the raw (df, gram) pair — hashing the order key would let
       collisions break the cross-doc order consistency the
       pigeonhole proof needs.
    2. LENGTH filter: J >= t forces min(na,nb) >= t*max(na,nb).
    3. POSITIONAL filter (PPJoin): a match at 1-based ranks (i, j)
       bounds the overlap by 1 + min(na-i, nb-j), which must reach
       ceil(t/(1+t)*(na+nb)) — both applied BEFORE the pair distinct.
    4. SCREEN on hashed gram sets with the arithmetic union
       |a u b| = na + nb - |a n b| (never materializes the union
       array): a collision merging a non-intersection element into
       another can only grow the intersection and shrink the union, so
       ``J_h >= t`` keeps those pairs.  (A collision between two grams
       BOTH already in the intersection would shrink J_h — the one
       case the inequality does not cover — so the screen is recall-1
       only up to intra-intersection xxhash64 collisions,
       astronomically unlikely at trigram-vocabulary cardinalities;
       ADVICE r14.)  The screen joins attach the (bigint) ``gh``
       arrays ONLY — the wide string gram arrays stay out of every
       candidate-sized intermediate (guide §2.3
       project-before-the-exchange / §8 light-proxy rule).
    5. exact string-gram verify of the survivors only — ``grams``
       joins in for the post-screen survivor set, ~50x
       smaller than the candidate set (sf1: 250,682
       survivors vs 12.1M candidates; same-JVM rotating best-of-3
       12.40 s vs 13.73 s for the heavy-verify shape, and parity at
       sf0.1 — the win is exactly the candidate/survivor ratio, so
       it grows with corpus skew).
    """
    t = threshold
    # one gram-set materialization feeds prefix generation AND verify;
    # gh = hashed gram set for the cheap screening pass (stage 4)
    g = (
        docs.select("doc_id", F.expr(_GRAMS_EXPR).alias("grams"))
        .withColumn("n", F.size("grams"))
        .withColumn("gh", F.expr("array_distinct(transform(grams, x -> xxhash64(x)))"))
        .localCheckpoint(eager=False)
    )
    tok = g.select("doc_id", "n", F.explode("grams").alias("gram"))
    df_ = tok.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    prefix = (
        tok.join(df_, "gram")
        .withColumn(
            "rnk",
            F.row_number().over(W.partitionBy("doc_id").orderBy("df", "gram")),
        )
        # prefix length n - ceil(t*n) + 1 (t*n exact in binary at t=0.5)
        .filter(F.col("rnk") <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + 1)
        # a prefix gram with df == 1 occurs in exactly one document, so
        # it cannot key a pair — drop it AFTER ranking (df=1 grams sort
        # first, so they legitimately occupy prefix slots; removing them
        # earlier would shift every rank).  No-op on the synthetic
        # corpus (~280 rows, measured parity at sf0.1/sf1), but on a
        # Zipf corpus the df=1 tail is the majority of prefix rows and
        # this halves the self-join input.
        .filter(F.col("df") > 1)
        .select("doc_id", "n", "rnk", F.xxhash64("gram").alias("gk"))
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n").alias("na"),
        F.col("rnk").alias("ia"), "gk",
    )
    pb = prefix.select(
        F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"),
        F.col("rnk").alias("ib"), "gk",
    )
    cand = (
        pa.join(pb, "gk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        # length filter: J >= t  =>  min(na,nb) >= t*max(na,nb)
        .filter(
            F.least("na", "nb").cast("double")
            >= F.lit(t) * F.greatest("na", "nb").cast("double")
        )
        # positional filter: overlap <= 1 + min(na-ia, nb-ib) must
        # reach alpha = ceil(t/(1+t)*(na+nb))
        .filter(
            1 + F.least(F.col("na") - F.col("ia"), F.col("nb") - F.col("ib"))
            >= F.ceil(F.lit(t / (1.0 + t)) * (F.col("na") + F.col("nb")))
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # stages 4+5: hashed screen, then exact string verify — both use
    # the arithmetic union (gram sets are distinct by construction)
    exact_j = (
        "CAST(size(array_intersect(a_grams, b_grams)) AS DOUBLE)"
        " / (size(a_grams) + size(b_grams)"
        "    - size(array_intersect(a_grams, b_grams)))"
    )
    # Integer threshold predicates (r15, guide §1.2): the Jaccard-vs-t
    # comparisons filter-push into the join conditions, where the
    # double spelling evaluates array_intersect TWICE per pair
    # (numerator + union arithmetic) over the ~12M-row candidate set.
    # J >= p/q  <=>  (p+q)*i >= p*(|a|+|b|)  references the intersect
    # ONCE — measured 24% on the whole entry at sf1 (best 9.8 vs
    # 12.9 s, identical output checksums).  size() is INT and p+q
    # reaches 2^21, so the sizes are cast to BIGINT: in INT arithmetic
    # (2^21 - 1) * 1,200 already overflows.  BIGINT holds every
    # product, since p+q <= 2^21 and sizes < 2^31.
    # Exactness guard: t.as_integer_ratio() represents the DOUBLE t
    # exactly, so the rational predicate is the mathematical J >= t;
    # the legacy double spelling agrees with it whenever
    # |i/u - p/q| (>= 1/(u*q) when nonzero, u = union size) exceeds
    # the division's rounding error (~t*2^-52): guaranteed for
    # q <= 2^20 and u < 2^30.  Thresholds with bigger denominators
    # (q > 2^20, e.g. t = 0.3) keep the legacy double spelling.  At
    # the registry's t = 0.5 (p=1, q=2) the predicate is
    # 3*i >= |a|+|b|, exact.
    p, q = float(t).as_integer_ratio()
    if 0 < q <= (1 << 20):

        def ratio_pred(a: str, b: str):
            return F.expr(
                f"{p + q} * CAST(size(array_intersect({a}, {b})) AS BIGINT)"
                f" >= {p} * (CAST(size({a}) AS BIGINT) + size({b}))"
            )

        screen_pred = ratio_pred("a_gh", "b_gh")
        exact_pred = ratio_pred("a_grams", "b_grams")
    else:  # legacy double spelling for non-dyadic-friendly thresholds
        screen_j = (
            "CAST(size(array_intersect(a_gh, b_gh)) AS DOUBLE)"
            " / (size(a_gh) + size(b_gh) - size(array_intersect(a_gh, b_gh)))"
        )
        screen_pred = F.expr(screen_j) >= t
        exact_pred = F.expr(exact_j) >= t
    ha = g.select(F.col("doc_id").alias("doc_a"), F.col("gh").alias("a_gh"))
    hb = g.select(F.col("doc_id").alias("doc_b"), F.col("gh").alias("b_gh"))
    survivors = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .filter(screen_pred)
        .select("doc_a", "doc_b")
    )
    ga = g.select(F.col("doc_id").alias("doc_a"), F.col("grams").alias("a_grams"))
    gb = g.select(F.col("doc_id").alias("doc_b"), F.col("grams").alias("b_grams"))
    return (
        survivors.join(ga, "doc_a")
        .join(gb, "doc_b")
        .filter(exact_pred)
        .select("doc_a", "doc_b", F.expr(exact_j).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# SCD Type-2 dimension build from a change log
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id
      FROM events WHERE user_id < 20
    ),
    flagged AS (
      SELECT *, CASE WHEN event_type IS DISTINCT FROM
           lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id)
           THEN 1 ELSE 0 END AS chg
      FROM e
    ),
    grp AS (
      SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS UNBOUNDED PRECEDING) AS g
      FROM flagged
    ),
    island AS (
      SELECT user_id, g, min(event_type) AS state,
             MIN(ts_us) AS valid_from_us
      FROM grp GROUP BY user_id, g
    )
    SELECT user_id, state, valid_from_us,
           lead(valid_from_us) OVER
             (PARTITION BY user_id ORDER BY valid_from_us) AS valid_to_us,
           lead(valid_from_us) OVER
             (PARTITION BY user_id ORDER BY valid_from_us) IS NULL
             AS is_current
    FROM island
"""


@_q("scd2_intervals", _SCD2_ORACLE)
def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 build from a change log — the
    warehouse primitive that turns an event stream into validity
    intervals: per entity, collapse CONSECUTIVE equal states into one
    row with [valid_from, valid_to) and an ``is_current`` flag on the
    open tail.  (The reference's SQL surface has no window functions
    at all — ``README.md:317`` roadmaps them — so this whole family is
    superset coverage; the TPC-DS-style dimension-maintenance shape is
    the capability anchor.)

    Implementation is two window passes + one aggregate (all keyed by
    the entity): gaps-and-islands via lag-compare + running sum, island
    collapse via groupBy, interval close via lead.  No joins, no
    self-reads of the log.  100 TB posture: everything shuffles ONCE
    on user_id and stays there (Catalyst reuses the partitioning for
    both windows and the groupBy); per-task state is one carried row
    per window.  The user_id < 20 predicate is pushed to the scan.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select(
            "user_id", "event_type",
            F.unix_micros("ts").alias("ts_us"), "event_id",
        )
    )
    wo = W.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "chg",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(wo)), 1
        ).otherwise(0),
    )
    grp = flagged.withColumn(
        "g", F.sum("chg").over(wo.rowsBetween(W.unboundedPreceding, 0))
    )
    island = grp.groupBy("user_id", "g").agg(
        F.min("event_type").alias("state"),
        F.min("ts_us").alias("valid_from_us"),
    )
    wi = W.partitionBy("user_id").orderBy("valid_from_us")
    nxt = F.lead("valid_from_us").over(wi)
    return island.select(
        "user_id",
        "state",
        "valid_from_us",
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# Triangle counting on the part co-order graph
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    deg AS (
      SELECT x, COUNT(*) AS d
      FROM (SELECT u AS x FROM e UNION ALL SELECT v AS x FROM e) t
      GROUP BY x
    ),
    oe AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.u ELSE e.v END AS s,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
                  THEN e.v ELSE e.u END AS t
      FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x
    ),
    tri AS (
      SELECT w1.s AS a, w1.t AS b, w2.t AS c
      FROM oe w1 JOIN oe w2 ON w1.s = w2.s AND w1.t <> w2.t
      JOIN oe w3 ON w3.s = w1.t AND w3.t = w2.t
    ),
    verts AS (
      SELECT a AS p FROM tri UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT p AS l_partkey, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM verts GROUP BY p
"""


@_q("graph_triangle_count", _TRIANGLE_ORACLE)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle counts on the part co-order graph (parts
    co-ordered in >= 2 distinct orders), via DEGREE-ORDERED edge
    orientation — the MapReduce triangle-counting shape (Suri &
    Vassilvitskii WWW'11; graph ops are wholly beyond the reference's
    relational surface).

    Why orientation matters at scale: counting each triangle once by
    joining raw undirected edges enumerates every wedge at every hub —
    a high-degree vertex of degree d contributes d^2 wedge rows (the
    skew cliff).  Orienting every edge from its lower-(degree, id)
    endpoint to the higher one (a) counts each triangle exactly once —
    as (a -> b, a -> c, b -> c) with a < b < c in the order — and (b)
    caps every vertex's OUT-degree at O(sqrt(m)), so the wedge join
    generates at most m^1.5 rows regardless of hub skew.

    Pipeline: distinct (order, part) — one shuffle; within-order pair
    generation is an equi-join on orderkey (bounded by order size, the
    market-basket shape); edge weights + degrees are two aggregates;
    the wedge join keys on the oriented source and the closure join on
    the (t1, t2) edge key.  All integers end-to-end.
    """
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    oa = op.select("o", F.col("p").alias("u"))
    ob = op.select("o", F.col("p").alias("v"))
    # e is read three ways below (degrees + both orientation joins) and
    # oe three more (the wedge sides and the closure): materialize both
    # once, EAGERLY — without this the co-order self-join re-executes
    # per consumer (measured at sf1: 198 s lineage-recompute, 87 s with
    # lazy checkpoints racing inside one job, 34 s eager — same rows).
    e = (
        oa.join(ob, "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
        .localCheckpoint()
    )
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(deg.select(F.col("x").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("x").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
        .localCheckpoint()
    )
    w1 = oe.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oe.select(F.col("s").alias("a"), F.col("t").alias("c"))
    w3 = oe.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = (
        w1.join(w2, "a")
        .filter(F.col("b") != F.col("c"))
        .join(w3, ["b", "c"])
    )
    # ONE pass over the triangle rows: a 3-element explode, not a
    # 3-way self-union (which re-runs the wedge+closure join per
    # branch — measured 41 s -> 16 s for this stage at sf1)
    verts = tri.select(F.explode(F.array("a", "b", "c")).alias("p"))
    return verts.groupBy("p").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    ).select(F.col("p").alias("l_partkey"), "n_triangles")


# ---------------------------------------------------------------------------
# Distribution drift between time windows
# ---------------------------------------------------------------------------

#: epoch microseconds of 2024-01-16 00:00:00 UTC — the event range
#: midpoint; an integer literal shared by both engines so the split
#: never depends on timestamp-literal parsing semantics
_DRIFT_SPLIT_US = 1705363200000000

_DRIFT_ORACLE = f"""
    WITH e AS (
      SELECT CAST(floor(value / 10.0) AS BIGINT) AS bin,
             CASE WHEN epoch_us(ts) < {_DRIFT_SPLIT_US} THEN 0 ELSE 1 END
               AS half
      FROM events WHERE value IS NOT NULL
    )
    SELECT bin,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_first,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_second,
           CAST(ABS(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END)
                    - SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)) AS BIGINT)
             AS abs_diff
    FROM e GROUP BY bin
"""


@_q("profile_drift_bins", _DRIFT_ORACLE)
def profile_drift_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift profile between two time windows — the data
    monitoring primitive behind PSI/chi-square drift alarms: equi-width
    histogram of ``events.value`` in the first vs second half of the
    month, per-bin counts + absolute difference (all integers; the
    statistic layer on top is a driver-side formula over ~40 bins, so
    the heavy lifting — two full-scan histograms in ONE pass — is what
    the engine owns).

    100 TB posture: one scan, one partial-aggregated groupBy on the
    bin key (conditional sums fold the two windows in the same pass —
    no self-join of the table against itself per window, no second
    scan).  Output is bin-cardinality rows, independent of data size.
    """
    e = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.col("value") / F.lit(10.0)).cast("bigint").alias("bin"),
            F.when(F.unix_micros("ts") < _DRIFT_SPLIT_US, 0)
            .otherwise(1)
            .alias("half"),
        )
    )
    first = F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
    second = F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
    return e.groupBy("bin").agg(
        first.cast("bigint").alias("n_first"),
        second.cast("bigint").alias("n_second"),
        F.abs(first - second).cast("bigint").alias("abs_diff"),
    )


# ---------------------------------------------------------------------------
# Pseudo-relevance-feedback query expansion (RM3-lite)
# ---------------------------------------------------------------------------

_PRF_FB_DOCS = 5     # feedback depth: top-n BM25 docs feed expansion
_PRF_EXP_K = 3       # expansion terms appended to the query
_PRF_WEIGHT = 0.5    # expansion-term weight vs 1.0 for original terms

_PRF_ORACLE = (lambda terms: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS DOUBLE) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf0 AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
            GROUP BY doc_id, token),
    df0 AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tf0 GROUP BY token),
    scored0 AS (
      SELECT tf0.doc_id, tf0.token,
             ((n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score
      FROM tf0 JOIN df0 USING (token) JOIN dl USING (doc_id), corpus
    ),
    piv0 AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN token = '{t}' THEN score END) AS s_{t}" for t in terms)}
      FROM scored0 GROUP BY doc_id
    ),
    fb AS (
      SELECT doc_id,
             {" + ".join(f"coalesce(s_{t}, 0.0)" for t in terms)} AS bm25
      FROM piv0 ORDER BY bm25 DESC, doc_id LIMIT {_PRF_FB_DOCS}
    ),
    exp AS (
      SELECT token, rk FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS rk
        FROM (
          SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM toks JOIN fb USING (doc_id)
          WHERE length(token) >= 4
            AND token NOT IN ({", ".join(f"'{t}'" for t in terms)})
          GROUP BY token))
      WHERE rk <= {_PRF_EXP_K}
    ),
    slots AS (
      {" UNION ALL ".join(f"SELECT '{t}' AS token, 'o{i + 1}' AS slot" for i, t in enumerate(terms))}
      UNION ALL SELECT token, 'e' || CAST(rk AS VARCHAR) FROM exp
    ),
    tfa AS (SELECT toks.doc_id, toks.token, s.slot,
                   CAST(COUNT(*) AS DOUBLE) AS tf
            FROM toks JOIN slots s USING (token)
            GROUP BY toks.doc_id, toks.token, s.slot),
    dfa AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df
            FROM tfa GROUP BY token),
    scored AS (
      SELECT tfa.doc_id, tfa.slot,
             ((n_docs - df + 0.5) / (df + 0.5))
             * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) AS score
      FROM tfa JOIN dfa USING (token) JOIN dl USING (doc_id), corpus
    ),
    piv AS (
      SELECT doc_id,
             {", ".join(f"SUM(CASE WHEN slot = 'o{i + 1}' THEN score END) AS s_o{i + 1}" for i in range(len(terms)))},
             {", ".join(f"SUM(CASE WHEN slot = 'e{j + 1}' THEN score END) AS s_e{j + 1}" for j in range(_PRF_EXP_K))}
      FROM scored GROUP BY doc_id
    )
    SELECT doc_id,
           (({" + ".join(f"coalesce(s_o{i + 1}, 0.0)" for i in range(len(terms)))})
            + {_PRF_WEIGHT} * ({" + ".join(f"coalesce(s_e{j + 1}, 0.0)" for j in range(_PRF_EXP_K))}))
             AS prf
    FROM piv ORDER BY prf DESC, doc_id LIMIT 10
""")(_BM25_TERMS)


@_q("search_prf_expansion", _PRF_ORACLE)
def search_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-lite): run the BM25
    query, mine the top-{fb} feedback docs for the {k} most frequent
    non-query terms (length >= 4, ties broken lexically — an integer
    ranking, so the expansion set is deterministic cross-engine),
    re-score with the expanded query at weight {w} per expansion term.
    The classic two-pass retrieval architecture (Lavrenko & Croft
    relevance models); everything runs off the persisted inverted
    index — neither pass scans ``documents``.

    Bit-determinism: per-slot scores pivot to STATIC columns (slots
    o1..o4 for the query, e1..e{k} for the ranked expansion terms) and
    add in fixed textual order, the same device as the BM25 entries —
    a data-dependent term SET would otherwise make the float sum
    order-nondeterministic.  The {k} expansion terms are collected to
    the driver as model parameters (3 strings), which keeps the
    second-pass postings read a PUSHED In(token) filter.
    """
    postings_path, doclen_path = build_bm25_index(spark, sf_dir)
    postings = spark.read.parquet(postings_path)
    dl = spark.read.parquet(doclen_path).select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    tf0 = (
        postings.filter(F.col("token").isin(list(_BM25_TERMS)))
        .select("doc_id", "token", F.col("tf").cast("double").alias("tf"))
    )
    fb = _bm25_score_topk(tf0, dl, k=_PRF_FB_DOCS).select("doc_id")
    exp_rows = (
        postings.join(F.broadcast(fb), "doc_id")
        .filter(
            (F.length("token") >= 4)
            & (~F.col("token").isin(list(_BM25_TERMS)))
        )
        .groupBy("token")
        .agg(F.sum("tf").cast("long").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "token")
        .limit(_PRF_EXP_K)
        .collect()
    )
    exp_terms = [r.token for r in exp_rows]
    slots = {t: f"o{i + 1}" for i, t in enumerate(_BM25_TERMS)}
    slots.update({t: f"e{j + 1}" for j, t in enumerate(exp_terms)})
    slot_col = F.col("token")
    for tok, sl in slots.items():
        slot_col = F.when(F.col("token") == tok, sl).otherwise(slot_col)
    tfa = (
        postings.filter(F.col("token").isin(list(slots)))
        .select(
            "doc_id", "token",
            F.col("tf").cast("double").alias("tf"),
        )
        .withColumn("slot", slot_col)
    )
    dfa = tfa.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    scored = (
        tfa.join(dfa, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "score",
            ((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
            * (F.col("tf") * 2.2)
            / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl"))),
        )
    )
    all_slots = [f"o{i + 1}" for i in range(len(_BM25_TERMS))] + [
        f"e{j + 1}" for j in range(_PRF_EXP_K)
    ]
    piv = scored.groupBy("doc_id").agg(
        *[
            F.sum(F.when(F.col("slot") == s, F.col("score"))).alias(f"s_{s}")
            for s in all_slots
        ]
    )
    orig_sum = None
    for i in range(len(_BM25_TERMS)):
        c = F.coalesce(F.col(f"s_o{i + 1}"), F.lit(0.0))
        orig_sum = c if orig_sum is None else orig_sum + c
    exp_sum = None
    for j in range(_PRF_EXP_K):
        c = F.coalesce(F.col(f"s_e{j + 1}"), F.lit(0.0))
        exp_sum = c if exp_sum is None else exp_sum + c
    return (
        piv.select(
            "doc_id", (orig_sum + F.lit(_PRF_WEIGHT) * exp_sum).alias("prf")
        )
        .orderBy(F.col("prf").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Maximal-marginal-relevance diverse rerank
# ---------------------------------------------------------------------------

_MMR_SELECT = 5    # greedy selections
_MMR_POOL = 20     # relevance candidate pool feeding the rerank
_MMR_LAMBDA = 0.5  # relevance weight; (1 - lambda) penalizes redundancy

_MMR_DOT = lambda a, b: (  # noqa: E731 — DuckDB spelling of the exact fold
    f"list_sum(list_transform(range(1, 65), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as one static SQL string: sel1 = argmax
    relevance; sel_k = argmax over remaining of
    lambda*rel - (1-lambda)*max(sim to selected).  MAX is exact over
    floats (no accumulation), so every step is bit-deterministic."""
    parts = [f"""
    WITH cands AS (
      SELECT e.vec_id, round({_MMR_DOT('e.embedding', 'q.qe')}, 6) AS rel,
             e.embedding
      FROM embeddings e,
           (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0) q
      WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT {_MMR_POOL}
    ),
    sims AS (
      SELECT a.vec_id AS ai, b.vec_id AS bi,
             round({_MMR_DOT('a.embedding', 'b.embedding')}, 6) AS s
      FROM cands a JOIN cands b ON a.vec_id <> b.vec_id
    ),
    sel1 AS (
      SELECT vec_id, rel, 1 AS rank FROM cands
      ORDER BY rel DESC, vec_id LIMIT 1
    )"""]
    for k in range(2, _MMR_SELECT + 1):
        prev = " UNION ALL ".join(
            f"SELECT vec_id FROM sel{j}" for j in range(1, k)
        )
        parts.append(f""",
    sel{k} AS (
      SELECT c.vec_id, c.rel, {k} AS rank
      FROM cands c JOIN sims m ON m.ai = c.vec_id
      WHERE m.bi IN ({prev}) AND c.vec_id NOT IN ({prev})
      GROUP BY c.vec_id, c.rel
      ORDER BY {_MMR_LAMBDA} * c.rel - {1.0 - _MMR_LAMBDA} * MAX(m.s) DESC,
               c.vec_id LIMIT 1
    )""")
    union = " UNION ALL ".join(
        f"SELECT * FROM sel{j}" for j in range(1, _MMR_SELECT + 1)
    )
    parts.append(f"""
    SELECT rank, vec_id, rel FROM ({union})
""")
    return "".join(parts)


@_q("sim_mmr_rerank", _mmr_oracle())
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein '98):
    greedily pick {n} of the top-{pool} relevance candidates, each step
    maximizing ``lambda*rel - (1-lambda)*max(sim to already-picked)`` —
    the diverse-context-selection step of RAG pipelines and the
    diversity half of training-data curation.

    Greedy selection is inherently sequential, so the {n}-step loop is
    UNROLLED into the plan (each step one argmax over <= {pool} rows) —
    exactly what the oracle SQL does with chained CTEs.  Every step's
    input is a <= {pool}-row eagerly-materialized frame: the expensive
    distributed work (relevance scan + candidate pairwise sims) happens
    once up front; the greedy tail is O(pool^2) on tiny data and would
    be driver-side math at any scale.  All similarities are the
    module-standard sequential-fold dot (bit-exact both engines), and
    the per-step penalty is MAX (exact over floats, no accumulation
    order).
    """
    from zarr_datafusion_spark.operators.similarity import _dot

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cands = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(F.expr(_dot("embedding", "qe")), 6).alias("rel"),
            "embedding",
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(_MMR_POOL)
        .localCheckpoint()
    )
    ca = cands.select(
        F.col("vec_id").alias("ai"), F.col("embedding").alias("ea")
    )
    cb = cands.select(
        F.col("vec_id").alias("bi"), F.col("embedding").alias("eb")
    )
    sims = (
        ca.join(cb, F.col("ai") != F.col("bi"))
        .select("ai", "bi", F.round(F.expr(_dot("ea", "eb")), 6).alias("s"))
        .localCheckpoint()
    )
    selected = (
        cands.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "rel", F.lit(1).alias("rank"))
        .localCheckpoint()
    )
    lam = _MMR_LAMBDA
    for k in range(2, _MMR_SELECT + 1):
        prev = selected.select("vec_id")
        step = (
            cands.join(prev, "vec_id", "left_anti")
            .join(sims, F.col("ai") == F.col("vec_id"))
            .join(prev.select(F.col("vec_id").alias("bi")), "bi")
            .groupBy("vec_id", "rel")
            .agg(F.max("s").alias("maxs"))
            .orderBy(
                (F.lit(lam) * F.col("rel")
                 - F.lit(1.0 - lam) * F.col("maxs")).desc(),
                "vec_id",
            )
            .limit(1)
            .select("vec_id", "rel", F.lit(k).alias("rank"))
            .localCheckpoint()
        )
        selected = selected.unionByName(step).localCheckpoint()
    return selected.select("rank", "vec_id", "rel")


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC)
# ---------------------------------------------------------------------------

_CDC_WINDOW = 16  # boundary decision looks at the trailing 16 chars
_CDC_DIVISOR = 64  # P(boundary) = 1/64 per position -> ~64-char chunks

_CDC_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) >= 1
    ),
    cand AS (
      SELECT doc_id, text, n,
             unnest(range({_CDC_WINDOW}, n + 1)) AS pos
      FROM d
    ),
    hb AS (
      SELECT doc_id, pos FROM cand
      WHERE ('0x' || substr(md5(substr(text, CAST(pos - {_CDC_WINDOW - 1} AS INTEGER),
                                       {_CDC_WINDOW})), 1, 8))::UBIGINT
              % {_CDC_DIVISOR} = 0
    ),
    b AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, pos FROM hb
        UNION ALL SELECT doc_id, n AS pos FROM d)
    ),
    iv AS (
      SELECT doc_id, pos,
             coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
               AS prev,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                  AS BIGINT) AS chunk_idx
      FROM b
    )
    SELECT iv.doc_id, chunk_idx,
           CAST(prev + 1 AS BIGINT) AS chunk_start,
           CAST(pos - prev AS BIGINT) AS chunk_len,
           md5(substr(d.text, CAST(prev + 1 AS INTEGER),
                      CAST(pos - prev AS INTEGER))) AS chunk_md5
    FROM iv JOIN d USING (doc_id)
"""


def _cdc_core(
    docs: DataFrame,
    window: int,
    divisor: int,
    min_len: int | None = None,
    max_len: int | None = None,
) -> DataFrame:
    """Shared content-defined-chunking core (VERDICT r9 item 3 folded
    the bounded and unbounded variants together): hash-boundary
    detection, optional MIN thinning, end-of-doc sentinel, optional
    MAX forced cuts, interval assembly.  ``min_len``/``max_len`` None
    = the pure LBFS content rule (:func:`chunk_cdc`); set = the
    FastCDC-style parallel bounds (:func:`chunk_cdc_bounded`)."""
    d = docs.filter(F.length("text") >= 1).select(
        "doc_id", "text", F.length("text").alias("n")
    )
    # r14 optimization round: the per-character md5 explode below is
    # the whole cost of CDC, and a small corpus parquet plans as 1-2
    # scan partitions — so the MAP BRANCH ONLY is round-robin
    # rebalanced across cores (guide §2.5 input-skew fix).  The
    # sentinel and join-back branches stay on the raw scan: they do
    # one cheap row per document, and rebalancing them too re-executed
    # the repartition exchange three times (measured 0.94 vs 0.74 s at
    # sf0.1 map-only; raw unrebalanced was 2.6 s).  At real scale the
    # scan is already wide and the rebalance is a no-op.
    d_map = cpu_rebalance(docs.sparkSession, d)
    # sequence(w, n) DESCENDS for n < w (the r4 trap) — emit no
    # candidate positions for short docs; the end-of-doc sentinel
    # below still closes their single chunk
    cand = d_map.select(
        "doc_id", "text", "n",
        F.explode(
            F.expr(
                f"CASE WHEN n < {window} THEN array() "
                f"ELSE sequence({window}, n) END"
            )
        ).alias("pos"),
    )
    win = f"substr(text, CAST(pos - {window - 1} AS INT), {window})"
    # r14 optimization round: keep only boundaries strictly BEFORE the
    # end of the document.  A hash boundary at pos == n is the ONLY
    # value the end-of-doc sentinel can duplicate, so dropping it here
    # makes the union below disjoint BY CONSTRUCTION and deletes the
    # (doc_id, pos) DISTINCT — a full exchange + dedup that measured
    # 3/4 of the whole query (hb map stage 0.24 s, + distinct 0.99 s
    # at sf0.1; guide §2.4 "a distinct on data that is already
    # unique").
    hb = cand.filter(
        F.expr(
            f"CAST(conv(substring(md5({win}), 1, 8), 16, 10) AS BIGINT) "
            f"% {divisor} = 0"
        )
    ).filter(F.col("pos") < F.col("n")).select("doc_id", "pos")
    wo = W.partitionBy("doc_id").orderBy("pos")
    if min_len is not None:
        # MIN via boundary thinning: survive iff no ORIGINAL hash
        # boundary lies within min_len before (lag over the hash set)
        hb = (
            hb.select(
                "doc_id", "pos",
                F.coalesce(F.lag("pos").over(wo), F.lit(0)).alias("hprev"),
            )
            .filter(F.col("pos") - F.col("hprev") >= min_len)
            .select("doc_id", "pos")
        )
    # Disjoint by construction (hb keeps pos < n only; thinning can
    # only REMOVE rows), so a plain concat replaces the old DISTINCT.
    b = hb.unionByName(
        d.select("doc_id", F.col("n").alias("pos"))
    )
    if max_len is not None:
        # MAX via forced cuts at prev + i*max_len — depends only on
        # the adjacent survivor pair, so still parallel
        iv0 = b.select(
            "doc_id", "pos",
            F.coalesce(F.lag("pos").over(wo), F.lit(0)).alias("prev"),
        )
        forced = iv0.select(
            "doc_id",
            F.explode(
                F.expr(
                    f"CASE WHEN pos - prev - 1 < {max_len} THEN array() "
                    f"ELSE transform(sequence(1, "
                    f"CAST(floor((pos - prev - 1) / {max_len}) AS INT)), "
                    f"i -> prev + CAST(i AS BIGINT) * {max_len}) END"
                )
            ).alias("pos"),
        )
        # A forced cut lands STRICTLY between two adjacent surviving
        # boundaries (prev < prev + i*max_len <= prev + (pos-prev-1)
        # < pos), where no b element exists — the union is again
        # disjoint and needs no DISTINCT.
        b = b.unionByName(forced)
    iv = b.select(
        "doc_id",
        "pos",
        F.coalesce(F.lag("pos").over(wo), F.lit(0)).alias("prev"),
        (F.row_number().over(wo) - 1).cast("bigint").alias("chunk_idx"),
    )
    return iv.join(d.select("doc_id", "text"), "doc_id").select(
        "doc_id",
        "chunk_idx",
        (F.col("prev") + 1).cast("bigint").alias("chunk_start"),
        (F.col("pos") - F.col("prev")).cast("bigint").alias("chunk_len"),
        F.md5(
            F.expr(
                "substr(text, CAST(prev + 1 AS INT), "
                "CAST(pos - prev AS INT))"
            )
        ).alias("chunk_md5"),
    )


def cdc_chunks(docs: DataFrame, window: int, divisor: int) -> DataFrame:
    """Content-defined chunking core over any (doc_id, text) frame —
    see :func:`chunk_cdc` for semantics and scale notes."""
    return _cdc_core(docs, window, divisor)


_CDC_MIN = 32  # boundary-thinning floor (FastCDC min chunk analog)
_CDC_MAX = 192  # forced-cut ceiling (FastCDC max chunk analog)

_CDC_BOUNDED_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, text, length(text) AS n
      FROM documents WHERE length(text) >= 1
    ),
    cand AS (
      SELECT doc_id, text, n,
             unnest(range({_CDC_WINDOW}, n + 1)) AS pos
      FROM d
    ),
    hb AS (
      SELECT doc_id, pos FROM cand
      WHERE ('0x' || substr(md5(substr(text, CAST(pos - {_CDC_WINDOW - 1} AS INTEGER),
                                       {_CDC_WINDOW})), 1, 8))::UBIGINT
              % {_CDC_DIVISOR} = 0
    ),
    keep AS (
      SELECT doc_id, pos FROM (
        SELECT doc_id, pos,
               coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
                 AS hprev
        FROM hb)
      WHERE pos - hprev >= {_CDC_MIN}
    ),
    b AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, pos FROM keep
        UNION ALL SELECT doc_id, n AS pos FROM d)
    ),
    iv0 AS (
      SELECT doc_id, pos,
             coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
               AS prev
      FROM b
    ),
    forced AS (
      SELECT doc_id,
             prev + unnest(range(1,
               CAST(floor((pos - prev - 1) / {_CDC_MAX}) AS BIGINT) + 1))
               * {_CDC_MAX} AS pos
      FROM iv0
    ),
    allb AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT doc_id, pos FROM b
        UNION ALL SELECT doc_id, pos FROM forced)
    ),
    iv AS (
      SELECT doc_id, pos,
             coalesce(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
               AS prev,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
                  AS BIGINT) AS chunk_idx
      FROM allb
    )
    SELECT iv.doc_id, chunk_idx,
           CAST(prev + 1 AS BIGINT) AS chunk_start,
           CAST(pos - prev AS BIGINT) AS chunk_len,
           md5(substr(d.text, CAST(prev + 1 AS INTEGER),
                      CAST(pos - prev AS INTEGER))) AS chunk_md5
    FROM iv JOIN d USING (doc_id)
"""


def cdc_chunks_bounded(
    docs: DataFrame,
    window: int,
    divisor: int,
    min_len: int,
    max_len: int,
) -> DataFrame:
    """Content-defined chunking with FastCDC-style min/max chunk
    bounds, kept PARALLEL (VERDICT r8 item 5) — the real FastCDC rule
    is sequential (the cut search restarts min bytes after the
    previous cut, so each boundary depends on the one before); these
    bounds are the order-free approximation the VERDICT sketched:

    1. hash boundaries: same local rule as :func:`cdc_chunks`
       (md5 of the trailing ``window`` chars ≡ 0 mod ``divisor``);
    2. MIN via boundary thinning: a hash boundary survives iff no
       hash boundary lies within ``min_len`` chars before it (one
       ``lag`` over the tiny boundary set).  Guarantee: any two
       consecutive SURVIVORS are ≥ ``min_len`` apart — if a dropped
       boundary b sat between survivors s1 < s2 then s2 - b ≥ min
       (s2 survived), so s2 - s1 > min; with no boundary between,
       the rule gives it directly;
    3. MAX via forced cuts: any gap > ``max_len`` between consecutive
       surviving boundaries (incl. doc start/end sentinels) is split
       at deterministic offsets ``prev + i*max_len`` — depends only
       on the adjacent survivor pair, so still parallel.

    Honest caveats, same as real FastCDC: the final chunk of a doc
    may be shorter than ``min_len`` (no content left), and a forced
    max cut can leave a sub-min remainder against the next real
    boundary.  Every chunk is ≤ ``max_len`` unconditionally.

    Insertion resilience survives the bounds (property-tested): all
    three rules are local — hash boundaries to ``window`` chars,
    thinning to the previous hash boundary within ``min_len``, forced
    cuts to the adjacent survivor pair — so chunks re-synchronize
    after the first two aligned surviving boundaries past an edit.

    Shares :func:`_cdc_core` with the unbounded :func:`cdc_chunks`
    (VERDICT r9 item 3 — the r9 round deferred the fold to protect
    that round's window rotation)."""
    return _cdc_core(docs, window, divisor, min_len=min_len, max_len=max_len)


@_q("chunk_cdc_bounded", _CDC_BOUNDED_ORACLE)
def chunk_cdc_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC with FastCDC-style chunk-size bounds (min {_CDC_MIN} / max
    {_CDC_MAX}) — see :func:`cdc_chunks_bounded` for the parallel
    thinning/forcing rules, their guarantees, and the honest tail
    caveats.  Same one-explode + tiny-window shape (and cost class) as
    the unbounded :func:`chunk_cdc`."""
    # r14: the md5-per-char map branch is rebalanced INSIDE _cdc_core
    # (map branch only — see its comment); the entry passes the raw
    # scan.
    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks_bounded(
        docs, _CDC_WINDOW, _CDC_DIVISOR, _CDC_MIN, _CDC_MAX
    )


@_q("chunk_cdc", _CDC_ORACLE)
def chunk_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking — boundaries where the md5 of the
    trailing {w}-char window hits 0 mod {d} (the rolling-hash cut rule
    of LBFS/FastCDC, with the house md5-derived hash so the boundary
    set is oracle-exact cross-engine).  Unlike the fixed-stride
    :func:`chunk_documents`, CDC boundaries depend only on LOCAL
    content: inserting a prefix shifts every fixed window but leaves
    all CDC chunks after the first post-insertion boundary intact —
    the property that makes chunk-level dedup survive edits
    (property-tested in test_extras).

    Shape: one explode to 1 row/char (the honest exact-CDC cost, the
    same class as the substring dedup family), a map-side hash filter
    that keeps ~1/{d} of positions, one window over the surviving
    boundary rows (tiny), and one join back to the text for chunk
    hashes.  No minimum-chunk suppression: that rule is sequential
    (each boundary depends on the previous), which would serialize the
    scan; the pure content rule is what keeps this embarrassingly
    parallel at 100 TB.
    """
    # r14 optimization round: without a rebalance the explode+hash map
    # stage ran on 1-2 cores while the rest idled (guide §2.5
    # input-skew class; the r14 sf1 sweep's stage lines showed
    # "(1 + 1) / 2").  The rebalance lives INSIDE _cdc_core, applied
    # to the md5 map branch only (2.61 -> 0.74 s at sf0.1 all-in).
    docs = load_table(spark, sf_dir, "documents")
    return cdc_chunks(docs, _CDC_WINDOW, _CDC_DIVISOR)


# ---------------------------------------------------------------------------
# Retrieval evaluation (per-query IR metrics)
# ---------------------------------------------------------------------------

_EVAL_REL_TF = 3  # qrels rule: a doc is relevant to a term if tf >= 3

_EVAL_ORACLE = (lambda terms: f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    dl AS (SELECT doc_id,
                  CAST(len(regexp_split_to_array(lower(trim(text)), '\\s+'))
                       AS DOUBLE) AS dl
           FROM documents),
    corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                      CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in terms)})
           GROUP BY doc_id, token),
    df AS (SELECT token, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY token),
    ranked AS (
      SELECT tf.doc_id, tf.token,
             ROW_NUMBER() OVER (
               PARTITION BY tf.token
               ORDER BY ((n_docs - df + 0.5) / (df + 0.5))
                        * (tf * 2.2)
                        / (tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl)) DESC,
                        tf.doc_id) AS rnk
      FROM tf JOIN df USING (token) JOIN dl USING (doc_id), corpus
    ),
    rel AS (SELECT doc_id, token FROM tf WHERE tf >= {_EVAL_REL_TF}),
    nrel AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_rel
             FROM rel GROUP BY token),
    hits AS (
      SELECT r.token,
             CAST(COUNT(*) AS BIGINT) AS hits_at_10,
             CAST(MIN(r.rnk) AS BIGINT) AS first_rel_rank
      FROM ranked r JOIN rel USING (doc_id, token)
      WHERE r.rnk <= 10 GROUP BY r.token
    )
    SELECT n.token AS query_term, n.n_rel,
           coalesce(h.hits_at_10, 0) AS hits_at_10,
           h.first_rel_rank,
           CAST(coalesce(h.hits_at_10, 0) AS DOUBLE) / n.n_rel AS recall_at_10,
           coalesce(1.0 / h.first_rel_rank, 0.0) AS reciprocal_rank
    FROM nrel n LEFT JOIN hits h ON n.token = h.token
""")(_BM25_TERMS)


@_q("search_eval_metrics", _EVAL_ORACLE)
def search_eval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: recall@10 and reciprocal rank for
    each of the standing query terms, judged against DETERMINISTIC
    qrels (relevant = tf >= {tf}) — the eval harness that closes the
    retrieval loop (rank -> judge -> metric) the way TREC tooling does,
    entirely inside the engine.

    Float discipline: there is NO cross-query averaging (that float
    sum would be order-nondeterministic); the engine emits per-query
    rows and each metric is a single IEEE division (recall, 1/rank),
    so every value is bit-exact cross-engine.  The driver-side mean
    over 4 rows is presentation-layer math.

    Shape: rankings come from the persisted postings index (pushed
    In(token) scan, never the corpus text); rank assignment is one
    window per term; qrels are a filter on the same tf rows — the
    whole evaluation is two aggregates and a join on (doc, term).
    """
    postings_path, doclen_path = build_bm25_index(spark, sf_dir)
    tf = (
        spark.read.parquet(postings_path)
        .filter(F.col("token").isin(list(_BM25_TERMS)))
        .select("doc_id", "token", F.col("tf").cast("double").alias("tf"))
    )
    dl = spark.read.parquet(doclen_path).select(
        "doc_id", F.col("dl").cast("double").alias("dl")
    )
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dft = tf.groupBy("token").agg(F.count(F.lit(1)).cast("double").alias("df"))
    score = (
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
        * (F.col("tf") * 2.2)
        / (F.col("tf") + 1.2 * (0.25 + 0.75 * F.col("dl") / F.col("avgdl")))
    )
    ranked = (
        tf.join(dft, "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "rnk",
            F.row_number().over(
                W.partitionBy("token").orderBy(score.desc(), "doc_id")
            ),
        )
        .select("doc_id", "token", "rnk")
    )
    rel = tf.filter(F.col("tf") >= _EVAL_REL_TF).select("doc_id", "token")
    nrel = rel.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    hits = (
        ranked.filter(F.col("rnk") <= 10)
        .join(rel, ["doc_id", "token"])
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits_at_10"),
            F.min("rnk").cast("bigint").alias("first_rel_rank"),
        )
    )
    return nrel.join(hits, "token", "left").select(
        F.col("token").alias("query_term"),
        "n_rel",
        F.coalesce(F.col("hits_at_10"), F.lit(0)).alias("hits_at_10"),
        "first_rel_rank",
        (
            F.coalesce(F.col("hits_at_10"), F.lit(0)).cast("double")
            / F.col("n_rel")
        ).alias("recall_at_10"),
        F.coalesce(F.lit(1.0) / F.col("first_rel_rank"), F.lit(0.0)).alias(
            "reciprocal_rank"
        ),
    )


# ---------------------------------------------------------------------------
# Dataset snapshot diff (data versioning)
# ---------------------------------------------------------------------------

_SNAPDIFF_ORACLE = """
    WITH old AS (
      SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 <> 3
    ),
    new AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev2]'
                      ELSE text END) AS h
      FROM documents WHERE doc_id % 10 <> 7
    ),
    j AS (
      SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
             CASE WHEN o.doc_id IS NULL THEN 'added'
                  WHEN n.doc_id IS NULL THEN 'removed'
                  WHEN o.h <> n.h THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc
    FROM j GROUP BY change
"""


@_q("snapshot_diff", _SNAPDIFF_ORACLE)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-versioning diff between two corpus snapshots — the
    added / removed / changed / unchanged classification every data
    registry (and incremental training-data refresh) is built on.
    Snapshots are derived deterministically from the one driver table
    (old drops doc_id%10==3, new drops %10==7 and revises %5==0), so
    both engines reconstruct identical inputs and the diff itself is
    the thing under test.

    Shape: content compare is md5 of the text (computed map-side, so
    the join carries 32-byte digests, never the documents), ONE
    full-outer join on the key, one aggregate.  At 100 TB the digests
    would live in the snapshot manifests (the Delta/Iceberg shape) and
    this query never reads text at all; the classification algebra is
    identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    old = docs.filter(F.col("doc_id") % 10 != 3).select(
        "doc_id", F.md5("text").alias("h")
    )
    new = docs.filter(F.col("doc_id") % 10 != 7).select(
        "doc_id",
        F.md5(
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" [rev2]"))
            ).otherwise(F.col("text"))
        ).alias("h"),
    )
    o = old.select(F.col("doc_id").alias("o_id"), F.col("h").alias("o_h"))
    n = new.select(F.col("doc_id").alias("n_id"), F.col("h").alias("n_h"))
    j = o.join(n, F.col("o_id") == F.col("n_id"), "full_outer").select(
        F.coalesce(F.col("o_id"), F.col("n_id")).alias("doc_id"),
        F.when(F.col("o_id").isNull(), "added")
        .when(F.col("n_id").isNull(), "removed")
        .when(F.col("o_h") != F.col("n_h"), "changed")
        .otherwise("unchanged")
        .alias("change"),
    )
    return j.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
    )


# ---------------------------------------------------------------------------
# PageRank (integer arithmetic, fixed iterations)
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000  # fixed-point: PR values are millionths
_PR_ITERS = 3

_PAGERANK_ORACLE = f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    e0 AS (
      SELECT a.p AS u, b.p AS v
      FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p HAVING COUNT(*) >= 2
    ),
    e AS (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
    deg AS (SELECT u AS x, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY u),
    pr0 AS (SELECT x, CAST({_PR_SCALE} AS BIGINT) AS pr FROM deg),
    {", ".join(f'''pr{i + 1} AS (
      SELECT e.v AS x,
             CAST({15 * _PR_SCALE} // 100 + SUM((pr{i}.pr * 85) // (100 * deg.d))
                  AS BIGINT) AS pr
      FROM e JOIN pr{i} ON e.u = pr{i}.x JOIN deg ON e.u = deg.x
      GROUP BY e.v
    )''' for i in range(_PR_ITERS))}
    SELECT x AS l_partkey, pr AS pagerank_millionths
    FROM pr{_PR_ITERS}
    ORDER BY pr DESC, x LIMIT 20
"""


@_q("graph_pagerank_int", _PAGERANK_ORACLE)
def graph_pagerank_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the part co-order graph, {n} power iterations in
    FIXED-POINT integer arithmetic (PR values in millionths; damping
    0.85 as the exact integer algebra ``15*S//100 + sum(85*pr //
    (100*deg))``) — floats would make the per-vertex SUM
    accumulation-order-dependent and the entry un-oracle-able; integer
    division is bit-identical in both engines, so a FULL value oracle
    holds for an iterative graph algorithm.

    Shape per iteration: ONE join of the (u -> v) edge list with the
    vertex-rank table on the source key + one aggregate keyed by the
    destination — the standard Pregel/GraphX message-passing shape,
    shuffle keyed by vertex both times.  Iterations are unrolled
    (fixed {n}, like the MMR greedy steps); each rank table is eagerly
    materialized so iteration i+1's join starts from {vcount}-row
    state, not a growing lineage.  Truncation loss (floor division)
    means ranks are not row-stochastic — documented: this entry is the
    deterministic fixed-point VARIANT, the float version at scale
    differs by < 1e-4 relative.
    """
    op = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
        .localCheckpoint()
    )
    e0 = (
        op.select("o", F.col("p").alias("u"))
        .join(op.select("o", F.col("p").alias("v")), "o")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v")
    )
    e = e0.unionAll(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    deg = e.groupBy(F.col("u").alias("x")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    ).localCheckpoint()
    pr = deg.select("x", F.lit(_PR_SCALE).cast("bigint").alias("pr"))
    base = (15 * _PR_SCALE) // 100
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(pr.select(F.col("x").alias("u"), "pr"), "u")
            .join(deg.select(F.col("x").alias("u"), "d"), "u")
            .select(
                F.col("v").alias("x"),
                F.expr("(pr * 85) div (100 * d)").alias("c"),
            )
        )
        pr = (
            contrib.groupBy("x")
            .agg((F.lit(base) + F.sum("c")).cast("bigint").alias("pr"))
            .localCheckpoint()
        )
    return (
        pr.select(F.col("x").alias("l_partkey"), F.col("pr").alias("pagerank_millionths"))
        .orderBy(F.col("pagerank_millionths").desc(), "l_partkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Skyline (Pareto front)
# ---------------------------------------------------------------------------

_SKYLINE_ORACLE = """
    SELECT a.p_partkey, a.p_size, a.p_retailprice
    FROM part a
    WHERE NOT EXISTS (
      SELECT 1 FROM part b
      WHERE b.p_retailprice <= a.p_retailprice
        AND b.p_size >= a.p_size
        AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
"""


@_q("pareto_skyline", _SKYLINE_ORACLE)
def pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front operator (Borzsony-Kossmann-Stocker
    ICDE'01): the parts no other part dominates on (price MIN, size
    MAX) — the multi-criteria shortlist primitive (cheapest-for-its-
    size tradeoff curve; in pipeline terms: non-dominated quality/cost
    document selection).

    The textbook spelling is the quadratic NOT EXISTS anti-self-join —
    that IS the oracle, so this entry also proves the rewrite: for a
    2-D skyline, collapse to per-price group maxima (one aggregate),
    take the running max of sizes over strictly-cheaper groups, and
    keep rows that (a) top their own price group and (b) strictly beat
    every cheaper group's best.  O(n log n) work vs the oracle's
    O(n^2) pair scan; ties at equal (price, size) are all kept,
    matching dominance semantics exactly.

    The running max deliberately avoids a global no-partition window
    (the registry-wide rule since r6): the group table is
    range-partitioned by price, the window runs WITHIN each range, and
    the cross-range prefix maxima — one value per range — are
    collected as model parameters and folded back in with a when-chain
    (the ``scale.ranked_two_pass`` device applied to a running max).
    At 100 TB the window state is one running max per range and the
    driver handles range-count values, never data.
    """
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_size", "p_retailprice"
    )
    return skyline_2d(part, "p_retailprice", "p_size")


def skyline_2d(df: DataFrame, min_col: str, max_col: str) -> DataFrame:
    """Reusable 2-D skyline core (minimize ``min_col``, maximize
    ``max_col``; all other columns carried through) — see
    :func:`pareto_skyline` for algorithm and scale notes.
    Property-tested against a brute-force dominance scan."""
    n_ranges = 8
    # localCheckpoint pins ONE range-partition assignment for both
    # consumers (the local window and the per-range max collect) — the
    # r6 branching rule
    g = (
        df.groupBy(min_col)
        .agg(F.max(max_col).alias("m2"))
        .repartitionByRange(n_ranges, min_col)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()
    )
    wloc = (
        W.partitionBy("pid")
        .orderBy(min_col)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    loc = g.withColumn("lmax", F.max("m2").over(wloc))
    # one value per range: the cross-range prefix is driver-side math
    pm = {r.pid: r.pm for r in g.groupBy("pid").agg(F.max("m2").alias("pm")).collect()}
    prefix: dict[int, int] = {}
    best = None
    for pid in sorted(pm):
        prefix[pid] = best
        best = pm[pid] if best is None else max(best, pm[pid])
    prior = F.lit(None).cast("int")
    for pid, v in prefix.items():
        if v is not None:
            prior = F.when(F.col("pid") == pid, F.lit(v)).otherwise(prior)
    # greatest() skips NULLs, so m1 is NULL only when nothing is cheaper
    withm1 = loc.withColumn("m1", F.greatest(F.col("lmax"), prior))
    return (
        df.join(withm1, min_col)
        .filter(
            (F.col(max_col) == F.col("m2"))
            & (F.col("m1").isNull() | (F.col(max_col) > F.col("m1")))
        )
        .select(*df.columns)
    )


# ---------------------------------------------------------------------------
# KMV distinct/overlap sketches between sources
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SOURCES = ("src0", "src1", "src2", "src3")

_KMV_ORACLE = f"""
    WITH g AS (
      SELECT DISTINCT source,
             ('0x' || substr(md5(gram), 1, 8))::UBIGINT AS h
      FROM (
        SELECT source,
               unnest(CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                    ELSE list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)
                 AS gram
        FROM (SELECT source, text,
                     regexp_split_to_array(lower(trim(text)), '\\s+') AS w
              FROM documents
              WHERE source IN ({", ".join(f"'{s}'" for s in _KMV_SOURCES)}))
      )
    ),
    nsrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_exact
             FROM g GROUP BY source),
    sk AS (
      SELECT source, h,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
      FROM g
    ),
    sketch AS (SELECT source, h FROM sk WHERE rk <= {_KMV_K}),
    kth AS (SELECT source, MAX(h) AS hk FROM sketch GROUP BY source),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b
      FROM (SELECT DISTINCT source FROM g) a
      JOIN (SELECT DISTINCT source FROM g) b ON a.source < b.source
    ),
    uni AS (
      SELECT src_a, src_b, h,
             ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rk
      FROM (
        SELECT DISTINCT src_a, src_b, h FROM (
          SELECT p.src_a, p.src_b, s.h
          FROM pairs p JOIN sketch s ON s.source = p.src_a
          UNION ALL
          SELECT p.src_a, p.src_b, s.h
          FROM pairs p JOIN sketch s ON s.source = p.src_b)
      )
    ),
    shared AS (
      SELECT u.src_a, u.src_b,
             CAST(SUM(CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      FROM uni u
      LEFT JOIN sketch sa ON sa.source = u.src_a AND sa.h = u.h
      LEFT JOIN sketch sb ON sb.source = u.src_b AND sb.h = u.h
      WHERE u.rk <= {_KMV_K}
      GROUP BY u.src_a, u.src_b
    ),
    exact AS (
      SELECT p.src_a, p.src_b, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM pairs p JOIN g ga ON ga.source = p.src_a
      JOIN g gb ON gb.source = p.src_b AND gb.h = ga.h
      GROUP BY p.src_a, p.src_b
    )
    SELECT s.src_a, s.src_b, na.n_exact AS n_a, nb.n_exact AS n_b,
           s.n_shared,
           CAST(s.n_shared AS DOUBLE) / {_KMV_K} AS jaccard_kmv,
           CAST(e.n_inter AS DOUBLE)
             / (na.n_exact + nb.n_exact - e.n_inter) AS jaccard_exact,
           CAST({_KMV_K - 1} AS DOUBLE) * 4294967296.0 / ka.hk
             AS est_distinct_a
    FROM shared s
    JOIN nsrc na ON na.source = s.src_a
    JOIN nsrc nb ON nb.source = s.src_b
    JOIN exact e ON e.src_a = s.src_a AND e.src_b = s.src_b
    JOIN kth ka ON ka.source = s.src_a
"""


@_q("sketch_kmv_overlap", _KMV_ORACLE)
def sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct sketches per source + pairwise
    overlap estimation (Beyer et al. SIGMOD'07; the theta-sketch set
    algebra behind dedup PLANNING: estimate cross-source duplication
    cheaply before paying for the exact join).  Sketch = the {k}
    smallest md5-derived 32-bit hashes of each source's distinct
    word trigrams; distinct estimate = (k-1)*2^32 / h_(k); pairwise
    Jaccard estimate = shared fraction of the merged sketch's k
    minima.  The exact per-pair Jaccard rides along, so the entry
    SHOWS the estimator's error honestly.

    Every hash is md5-derived (the house CMS/MinHash rule) so the
    whole estimator — not just its contract — is oracle-checked:
    sketch membership, kth values, and both divisions are
    bit-identical cross-engine.  100 TB posture: sketches are
    k-bounded per source (a GROUP BY + per-source top-k, map-side
    combinable); merges/estimates operate on k-row frames — the whole
    point of sketching: the exact companion join here exists only to
    exhibit the error and would be dropped at scale.
    """
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source").isin(list(_KMV_SOURCES)))
    )
    g = (
        docs.select("source", F.explode(F.expr(_GRAMS_EXPR)).alias("gram"))
        .select(
            "source",
            F.expr(
                "CAST(conv(substring(md5(gram), 1, 8), 16, 10) AS BIGINT)"
            ).alias("h"),
        )
        .distinct()
        .localCheckpoint()
    )
    nsrc = g.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n_exact"))
    sketch = (
        g.withColumn(
            "rk", F.row_number().over(W.partitionBy("source").orderBy("h"))
        )
        .filter(F.col("rk") <= _KMV_K)
        .select("source", "h")
        .localCheckpoint()
    )
    kth = sketch.groupBy("source").agg(F.max("h").alias("hk"))
    srcs = g.select("source").distinct()
    pairs = (
        srcs.select(F.col("source").alias("src_a"))
        .join(srcs.select(F.col("source").alias("src_b")))
        .filter(F.col("src_a") < F.col("src_b"))
    )
    uni_in = (
        pairs.join(sketch.select(F.col("source").alias("src_a"), "h"), "src_a")
        .select("src_a", "src_b", "h")
        .unionAll(
            pairs.join(
                sketch.select(F.col("source").alias("src_b"), "h"), "src_b"
            ).select("src_a", "src_b", "h")
        )
        .distinct()
    )
    uni = uni_in.withColumn(
        "rk",
        F.row_number().over(W.partitionBy("src_a", "src_b").orderBy("h")),
    ).filter(F.col("rk") <= _KMV_K)
    sa = sketch.select(F.col("source").alias("src_a"), "h", F.lit(1).alias("ina"))
    sb = sketch.select(F.col("source").alias("src_b"), "h", F.lit(1).alias("inb"))
    shared = (
        uni.join(sa, ["src_a", "h"], "left")
        .join(sb, ["src_b", "h"], "left")
        .groupBy("src_a", "src_b")
        .agg(
            F.sum(
                F.when(F.col("ina").isNotNull() & F.col("inb").isNotNull(), 1)
                .otherwise(0)
            ).cast("bigint").alias("n_shared")
        )
    )
    ga = g.select(F.col("source").alias("src_a"), "h")
    gb = g.select(F.col("source").alias("src_b"), "h")
    exact = (
        pairs.join(ga, "src_a")
        .join(gb, ["src_b", "h"])
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    return (
        shared.join(nsrc.select(F.col("source").alias("src_a"), F.col("n_exact").alias("n_a")), "src_a")
        .join(nsrc.select(F.col("source").alias("src_b"), F.col("n_exact").alias("n_b")), "src_b")
        .join(exact, ["src_a", "src_b"])
        .join(kth.select(F.col("source").alias("src_a"), "hk"), "src_a")
        .select(
            "src_a", "src_b", "n_a", "n_b", "n_shared",
            (F.col("n_shared").cast("double") / _KMV_K).alias("jaccard_kmv"),
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard_exact"),
            (F.lit(float(_KMV_K - 1)) * 4294967296.0 / F.col("hk")).alias(
                "est_distinct_a"
            ),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge-rule learning)
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 5


def _bpe_oracle(rounds: int, final_select: str | None = None) -> str:
    """Unrolled BPE training as one SQL string: per round, count
    adjacent symbol pairs (weighted by word frequency), pick the
    argmax (count DESC, pair lexical), and apply the merge with the
    GREEDY left-to-right non-overlap rule.  Overlaps only occur inside
    runs of a repeated symbol (an (a,b) match at i and i+1 forces
    a = b), so greedy application = keep every other match within each
    consecutive-run island — pure window algebra, no sequential scan."""
    parts = [r"""
    WITH words AS (
      SELECT w AS word, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
            FROM documents)
      WHERE length(w) >= 1
      GROUP BY w
    ),
    w0 AS MATERIALIZED (
      SELECT word, cnt,
             list_transform(range(1, length(word) + 1), i -> word[i:i]) AS syms
      FROM words
    )"""]
    # every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    # five rounds of inlining w{k-1} into four consumers each is an
    # exponential plan (the un-materialized spelling never finished);
    # best{k} joins in as a 1-row cross join, never a per-row subquery
    for k in range(1, rounds + 1):
        parts.append(f""",
    p{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
      FROM w{k - 1}, unnest(range(1, len(syms))) AS t(i)
      GROUP BY 1, 2
    ),
    best{k} AS MATERIALIZED (
      SELECT l, r, pc FROM p{k} ORDER BY pc DESC, l, r LIMIT 1
    ),
    e{k} AS MATERIALIZED (
      SELECT word, cnt, i, syms[i] AS s,
             (i < len(syms) AND syms[i] = best{k}.l
              AND syms[i+1] = best{k}.r) AS m
      FROM w{k - 1}, best{k}, unnest(range(1, len(syms) + 1)) AS t(i)
    ),
    m{k} AS MATERIALIZED (
      SELECT word, i,
             i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS runk
      FROM e{k} WHERE m
    ),
    k{k} AS MATERIALIZED (
      SELECT word, i FROM (
        SELECT word, i,
               ROW_NUMBER() OVER (PARTITION BY word, runk ORDER BY i) AS j
        FROM m{k})
      WHERE (j - 1) % 2 = 0
    ),
    b{k} AS MATERIALIZED (
      SELECT e.word, e.cnt, e.i,
             CASE WHEN kk.i IS NOT NULL THEN best{k}.l || best{k}.r
                  WHEN kp.i IS NOT NULL THEN NULL
                  ELSE e.s END AS out_s
      FROM e{k} e CROSS JOIN best{k}
      LEFT JOIN k{k} kk ON kk.word = e.word AND kk.i = e.i
      LEFT JOIN k{k} kp ON kp.word = e.word AND kp.i = e.i - 1
    ),
    w{k} AS MATERIALIZED (
      SELECT word, cnt, list(out_s ORDER BY i) AS syms
      FROM b{k} WHERE out_s IS NOT NULL
      GROUP BY word, cnt
    )""")
    if final_select is None:
        union = "\n    UNION ALL ".join(
            f"SELECT {k} AS round, l AS merge_left, r AS merge_right, "
            f"pc AS pair_count FROM best{k}"
            for k in range(1, rounds + 1)
        )
        final_select = union
    parts.append(f"""
    {final_select}
""")
    return "".join(parts)


@_q("bpe_train_merges", _bpe_oracle(_BPE_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING — {n} merge-rule rounds (Sennrich et al.
    '16) as oracle-checked relational algebra.  `bpe_pair_counts` is
    the inner loop's first iteration; this entry runs the actual
    training loop: count adjacent symbol pairs weighted by word
    frequency, adopt the argmax pair (count DESC, lexical ties), apply
    the merge GREEDILY left-to-right everywhere, repeat on the merged
    symbol sequences.

    The sequential-looking greedy application is pure window algebra:
    an (a,b) match at positions i and i+1 forces a = b, so overlaps
    exist only inside repeated-symbol runs, where greedy = every other
    match of each consecutive-run island (gaps-and-islands + parity).
    Each adopted rule is collected as MODEL PARAMETERS (2 strings/
    round, the kmeans contract); the returned rows stay plan-derived
    (per-round argmax via TakeOrderedAndProject).

    Scale shape: state is the word-frequency table (vocabulary-sized,
    NOT corpus-sized — the classic BPE trick), re-materialized each
    round; per round one pair aggregate + windows keyed by word.
    The companion :func:`bpe_apply_merges` returns the post-merge
    segmentation the same chain produces.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("w").alias("word"), "cnt")
    )
    return bpe_merge_rounds(words, _BPE_ROUNDS)


def bpe_merge_rounds(
    words: DataFrame, rounds: int, return_words: bool = False
) -> DataFrame:
    """Reusable BPE training core over any (word, cnt) frame — see
    :func:`bpe_train_merges`.  Returns one (round, merge_left,
    merge_right, pair_count) row per adopted rule.  Property-tested
    against a pure-Python reference BPE (greedy left-to-right merge
    application) including repeated-symbol runs."""
    w = words.select(
        "word", "cnt",
        F.expr(
            "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
        ).alias("syms"),
    ).localCheckpoint()
    out = None
    for k in range(1, rounds + 1):
        ex = w.select(
            "word", "cnt", F.posexplode("syms").alias("p0", "s")
        ).select("word", "cnt", (F.col("p0") + 1).alias("i"), "s")
        wo = W.partitionBy("word").orderBy("i")
        ex = ex.withColumn("nxt", F.lead("s").over(wo)).localCheckpoint()
        pairs = (
            ex.filter(F.col("nxt").isNotNull())
            .groupBy(F.col("s").alias("l"), F.col("nxt").alias("r"))
            .agg(F.sum("cnt").cast("bigint").alias("pc"))
        )
        round_row = (
            pairs.orderBy(F.col("pc").desc(), "l", "r")
            .limit(1)
            .select(
                F.lit(k).alias("round"),
                F.col("l").alias("merge_left"),
                F.col("r").alias("merge_right"),
                F.col("pc").alias("pair_count"),
            )
            .localCheckpoint()
        )
        out = round_row if out is None else out.unionByName(round_row)
        best = round_row.collect()[0]  # model parameters: 2 strings
        L, R = best["merge_left"], best["merge_right"]
        flagged = ex.withColumn(
            "m", (F.col("s") == L) & (F.col("nxt") == R)
        )
        matches = (
            flagged.filter("m")
            .withColumn("runk", F.col("i") - F.row_number().over(wo))
        )
        kept = (
            matches.withColumn(
                "j",
                F.row_number().over(W.partitionBy("word", "runk").orderBy("i")),
            )
            .filter((F.col("j") - 1) % 2 == 0)
            .select("word", "i", F.lit(True).alias("keep"))
        )
        rebuilt = (
            flagged.join(kept, ["word", "i"], "left")
            .join(
                kept.select(
                    "word", (F.col("i") + 1).alias("i"),
                    F.col("keep").alias("consumed"),
                ),
                ["word", "i"],
                "left",
            )
            .select(
                "word", "cnt", "i",
                F.when(F.col("keep"), F.lit(L + R))
                .when(F.col("consumed"), F.lit(None))
                .otherwise(F.col("s"))
                .alias("out_s"),
            )
            .filter(F.col("out_s").isNotNull())
        )
        w = (
            rebuilt.groupBy("word", "cnt")
            .agg(
                F.expr(
                    "transform(array_sort(collect_list(struct(i, out_s))), "
                    "x -> x.out_s)"
                ).alias("syms")
            )
            .localCheckpoint()
        )
    return w if return_words else out


_BPE_APPLY_FINAL = f"""SELECT word, cnt,
           CAST(len(syms) AS BIGINT) AS n_syms,
           list_aggregate(syms, 'string_agg', ' ') AS segmented
    FROM w{_BPE_ROUNDS}"""


@_q("bpe_apply_merges", _bpe_oracle(_BPE_ROUNDS, _BPE_APPLY_FINAL))
def bpe_apply_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train->apply half of BPE: after the {n} learned merge
    rounds, every vocabulary word's final segmentation (symbol count +
    space-joined symbols) — what the tokenizer would emit.  Shares the
    whole round chain with :func:`bpe_train_merges` (same core, same
    oracle CTEs; only the final SELECT differs), so the two entries
    cross-check each other: a wrong merge adoption OR a wrong greedy
    application shows up in BOTH hashes."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("w").alias("word"), "cnt")
    )
    w = bpe_merge_rounds(words, _BPE_ROUNDS, return_words=True)
    return w.select(
        "word",
        "cnt",
        F.size("syms").cast("bigint").alias("n_syms"),
        F.array_join("syms", " ").alias("segmented"),
    )
