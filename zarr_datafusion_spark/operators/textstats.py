"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference scope (BASELINE.json north star): token counting,
quality scoring, document fingerprinting, language-ID — all over the
driver's ``documents`` table.

Everything except language-ID is pure JVM-side expression work
(regexp/higher-order functions inside whole-stage codegen) and carries
a DuckDB oracle.  Language-ID uses a stopword-profile heuristic in an
Arrow-vectorized pandas UDF — the canonical "Python only where built-ins
can't express it" slow path, and the pattern scales: per-batch numpy
work, no driver participation, no shuffle.

Cross-engine notes: token splits use the same ``\\s+`` regex on trimmed
text; the punctuation class is written out explicitly (``[!-/:-@[-`{-~]``)
because Spark's ``\\p{Punct}`` and RE2's ``[[:punct:]]`` are only
coincidentally equal; ratios are single IEEE divisions of exact integer
counts, so no rounding is needed.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_datafusion_spark.session import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}

# Same ASCII punctuation class, quoted for each engine's SQL string
# literal rules (Spark collapses one backslash level, DuckDB does not).
_PUNCT = r"[!-/:-@\[-`{-~]"          # DuckDB oracle spelling
_PUNCT_SPARK = r"[!-/:-@\\[-`{-~]"    # Spark SQL spelling
STOPWORDS = ("the", "and", "of", "to", "a", "in", "is", "it", "for", "on")


def _q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _docs_cpu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan rebalanced for CPU-bound per-row work (regex,
    UDFs) — see :func:`zarr_datafusion_spark.operators.common.cpu_rebalance`."""
    from zarr_datafusion_spark.operators.common import cpu_rebalance

    return cpu_rebalance(spark, _docs(spark, sf_dir))


_TOKENS = "split(trim(text), '\\\\s+')"


@_q(
    "text_token_count",
    r"""SELECT doc_id,
               len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
               length(text) AS n_chars_measured,
               len(list_distinct(regexp_split_to_array(lower(trim(text)), '\s+'))) AS n_unique_tokens
        FROM documents""",
)
def text_token_count(spark, sf_dir):
    """Whitespace tokenization + unique-token counts (JVM-side split,
    no UDF)."""
    return _docs_cpu(spark, sf_dir).select(
        "doc_id",
        F.expr(f"size({_TOKENS})").alias("n_tokens"),
        F.length("text").alias("n_chars_measured"),
        F.expr("size(array_distinct(split(lower(trim(text)), '\\\\s+')))").alias(
            "n_unique_tokens"
        ),
    )


_SW_ARRAY_SPARK = "array(" + ",".join(f"'{w}'" for w in STOPWORDS) + ")"
_SW_ARRAY_DUCK = "[" + ",".join(f"'{w}'" for w in STOPWORDS) + "]"

_QUALITY_ORACLE = rf"""
    SELECT doc_id, lang, n_chars,
           len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           (length(text) - length(regexp_replace(text, '{_PUNCT}', '', 'g'))) AS n_punct,
           CAST(length(text) - length(regexp_replace(text, '{_PUNCT}', '', 'g')) AS DOUBLE)
             / length(text) AS punct_ratio,
           CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                w -> list_contains({_SW_ARRAY_DUCK}, w))) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) AS stopword_ratio,
           CAST(length(text) AS DOUBLE)
             / len(regexp_split_to_array(trim(text), '\s+')) AS chars_per_token
    FROM documents
"""


@_q("text_quality_score", _QUALITY_ORACLE)
def text_quality_score(spark, sf_dir):
    """Quality signals: length, punctuation ratio, stopword ratio,
    chars-per-token — the standard cheap pre-filters before expensive
    pipeline stages."""
    punct_removed = f"regexp_replace(text, '{_PUNCT_SPARK}', '')"
    lower_tokens = "split(lower(trim(text)), '\\\\s+')"
    return _docs_cpu(spark, sf_dir).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"size({_TOKENS})").alias("n_tokens"),
        F.expr(f"length(text) - length({punct_removed})").alias("n_punct"),
        F.expr(
            f"CAST(length(text) - length({punct_removed}) AS DOUBLE) / length(text)"
        ).alias("punct_ratio"),
        F.expr(
            f"CAST(size(filter({lower_tokens}, w -> array_contains({_SW_ARRAY_SPARK}, w))) AS DOUBLE)"
            f" / size({_TOKENS})"
        ).alias("stopword_ratio"),
        F.expr(f"CAST(length(text) AS DOUBLE) / size({_TOKENS})").alias(
            "chars_per_token"
        ),
    )


@_q(
    "text_fingerprint",
    r"""SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        FROM documents""",
)
def text_fingerprint(spark, sf_dir):
    """Normalized-text md5 fingerprint (dedup key).  md5 is the one
    hash both engines compute identically; at scale you'd swap in
    xxhash64 (Spark-only) for speed — semantics unchanged."""
    return _docs_cpu(spark, sf_dir).select(
        "doc_id",
        F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")).alias(
            "fingerprint"
        ),
    )


@_q(
    "text_lang_distribution",
    """SELECT lang, source, COUNT(*) AS n_docs,
              CAST(SUM(n_chars) AS BIGINT) AS total_chars,
              MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars
       FROM documents GROUP BY lang, source""",
)
def text_lang_distribution(spark, sf_dir):
    """Corpus composition profile (per-language/source counts)."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
        )
    )


@_q(
    "text_top_tokens",
    r"""SELECT token, COUNT(*) AS n
        FROM (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
              FROM documents)
        WHERE length(token) >= 3
        GROUP BY token
        ORDER BY n DESC, token LIMIT 50""",
)
def text_top_tokens(spark, sf_dir):
    """Corpus-level token frequency top-k (the vocabulary-profile pass
    of a training pipeline): explode → filter → groupBy → top-k, all
    JVM-side.  Map-side partial aggregation absorbs the token-key
    explosion before the shuffle; the final top-50 is
    TakeOrderedAndProject."""
    return (
        _docs(spark, sf_dir)
        .select(
            F.explode(F.expr("split(lower(trim(text)), '\\\\s+')")).alias("token")
        )
        .filter(F.length("token") >= 3)
        .groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(50)
    )


#: tiny per-language stopword profiles for the heuristic classifier
_LANG_PROFILES = {
    "en": {"the", "and", "of", "to", "is", "in", "that", "it", "for", "with"},
    "de": {"der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"},
    "fr": {"le", "la", "les", "et", "est", "pas", "pour", "une", "dans", "que"},
    "es": {"el", "la", "los", "y", "es", "no", "por", "una", "en", "que"},
    # no zh entry: an empty profile can never win the argmax — texts
    # matching no profile fall out as the 'unknown' initializer
}


def _langid_oracle() -> str:
    """DuckDB twin of the stopword-profile classifier, generated from
    ``_LANG_PROFILES`` so SQL and Python can never drift.  Score = size
    of the distinct-token ∩ profile intersection; the CASE chain
    replicates the Python loop's first-language-wins tie-break (dict
    order) and the score>0 requirement ('unknown' otherwise)."""
    langs = list(_LANG_PROFILES)
    score_cols = ", ".join(
        "len(list_intersect(toks, ["
        + ",".join(f"'{w}'" for w in sorted(_LANG_PROFILES[lang]))
        + f"])) AS s_{lang}"
        for lang in langs
    )
    mx = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = f"CASE WHEN {mx} = 0 THEN 'unknown' " + " ".join(
        f"WHEN s_{lang} = {mx} THEN '{lang}'" for lang in langs[:-1]
    ) + f" ELSE '{langs[-1]}' END"
    return f"""
        WITH t AS (
          SELECT doc_id, lang AS labeled_lang,
                 list_distinct(regexp_split_to_array(lower(text), '\\s+')) AS toks
          FROM documents
        ),
        s AS (SELECT doc_id, labeled_lang, {score_cols} FROM t)
        SELECT doc_id, labeled_lang, {case} AS predicted_lang FROM s
    """


@_q("text_langid_heuristic", _langid_oracle())
def text_langid_heuristic(spark, sf_dir):
    """Language-ID via stopword-profile scoring.  Arrow-vectorized
    pandas UDF — scales as a pure map over batches.  Oracle (added
    r4): the heuristic is set-intersection counting, expressible in
    DuckDB list functions — see :func:`_langid_oracle`."""

    @F.pandas_udf("string")
    def predict_lang(texts: pd.Series) -> pd.Series:
        def classify(t: str) -> str:
            tokens = set(t.lower().split())
            best_lang, best_score = "unknown", 0
            for lang, profile in _LANG_PROFILES.items():
                score = len(tokens & profile)
                if score > best_score:
                    best_lang, best_score = lang, score
            return best_lang

        return texts.map(classify)

    docs = _docs_cpu(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        predict_lang("text").alias("predicted_lang"),
    )  # unsorted: a sort would re-run the lang-id UDF for range sampling


_SPLIT_ORACLE = """
    SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM (
      SELECT doc_id, n_chars,
             CASE
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
               WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 8))::UBIGINT % 100 < 90 THEN 'valid'
               ELSE 'test'
             END AS split
      FROM documents)
    GROUP BY split
"""


@_q("split_train_valid_test", _SPLIT_ORACLE)
def split_train_valid_test(spark, sf_dir):
    """Deterministic 80/10/10 train/valid/test assignment — the
    reproducible-split primitive every training pipeline needs.  The
    split key is md5 of a salted document id (NOT rand(): stable across
    runs, engines, partitionings, and dataset growth — a document keeps
    its split when the corpus is extended).  md5 is computed identically
    by Spark and DuckDB, so the assignment — not just the counts — is
    oracle-exact."""
    docs = _docs(spark, sf_dir)
    from zarr_datafusion_spark.operators.common import salted_bucket

    bucket = salted_bucket("doc_id", ":split")
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "valid").otherwise("test")
    )
    return (
        docs.select("doc_id", "n_chars", split.alias("split"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


_PCTL_ORACLE = """
    SELECT lang,
           COUNT(*) AS n_docs,
           quantile_cont(n_chars, 0.25) AS p25,
           quantile_cont(n_chars, 0.50) AS p50,
           quantile_cont(n_chars, 0.90) AS p90,
           quantile_cont(n_chars, 0.99) AS p99
    FROM documents GROUP BY lang
"""


@_q("text_length_percentiles", _PCTL_ORACLE)
def text_length_percentiles(spark, sf_dir):
    """Per-language document-length percentiles (exact, interpolated) —
    the distribution profile behind length-based quality cuts.  Spark's
    ``percentile`` and DuckDB's ``quantile_cont`` use the same linear
    interpolation over the exact sorted values, so results are
    bit-identical (verified).  Exact percentiles sort per group; at
    100 TB swap in ``approx_percentile`` (t-digest, mergeable sketch)
    for the same query shape."""
    docs = _docs(spark, sf_dir)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.expr("percentile(n_chars, 0.25)").alias("p25"),
        F.expr("percentile(n_chars, 0.50)").alias("p50"),
        F.expr("percentile(n_chars, 0.90)").alias("p90"),
        F.expr("percentile(n_chars, 0.99)").alias("p99"),
    )


# ---------------------------------------------------------------------------
# Token-distribution entropy (quality signal)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, CAST(COUNT(*) AS DOUBLE) AS c
           FROM toks GROUP BY doc_id, token)
    SELECT doc_id,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_distinct,
           round(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 6) AS entropy
    FROM tf GROUP BY doc_id
"""


@_q("text_token_entropy", _ENTROPY_ORACLE)
def text_token_entropy(spark, sf_dir):
    """Shannon entropy of each document's token distribution — the
    information-theoretic quality signal between the repetition
    fractions (low entropy = templated/looping text) and the LM
    logprob scores (which need a trained model; entropy needs only the
    doc itself).

    Float contract: the per-doc sum of ``p*ln(p)`` terms follows the
    ``text_unigram_logprob`` convention — round(6) absorbs libm ulp
    and accumulation-order noise (per-doc term count is bounded by the
    vocabulary of one document, so the error is ~1e-13).  Shape: one
    tokenize + TWO chained aggregates on the same doc key (tf, then the
    entropy fold in the ln(n) - sum(c ln c)/n join-free form), all
    partial-aggregated map-side; no joins against anything corpus-wide.
    """
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    # H = ln(n) - sum(c*ln c)/n: the join-free form — one aggregation
    # instead of tf JOIN per-doc-totals (a second 1-row-per-token
    # shuffle, measured avoidable at sf1); same textual formula as the
    # oracle so round(6) sees identical arithmetic
    return tf.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"), 6
        ).alias("entropy"),
    )


# ---------------------------------------------------------------------------
# Gopher-rule document filter (round 14)
# ---------------------------------------------------------------------------

#: Gopher quality-rule thresholds (Rae et al. 2021, "Scaling Language
#: Models: ... Gopher", appendix A1.1 — the public rule set most
#: modern pipelines start from).  ``text_quality_score`` reports raw
#: SIGNALS; this entry makes the DECISIONS: one flag per rule plus the
#: conjunction, so a curation pass can both filter and attribute every
#: drop to the rule that caused it.
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 50, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MAX_SYMBOL_RATIO = 0.1
_GOPHER_MAX_BULLET_RATIO = 0.9
_GOPHER_MAX_ELLIPSIS_RATIO = 0.3
_GOPHER_MIN_ALPHA_RATIO = 0.8
_GOPHER_MIN_STOPWORD_HITS = 2
#: Gopher's own 8-word list (distinct from the module STOPWORDS used
#: by the ratio signals)
_GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_GOPHER_RULES_SQL = f"""
       n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS} AS ok_word_count,
       mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL} AS ok_mean_word_len,
       symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO} AS ok_symbol_ratio,
       bullet_line_ratio <= {_GOPHER_MAX_BULLET_RATIO} AS ok_bullet_lines,
       ellipsis_line_ratio <= {_GOPHER_MAX_ELLIPSIS_RATIO} AS ok_ellipsis_lines,
       alpha_word_ratio >= {_GOPHER_MIN_ALPHA_RATIO} AS ok_alpha_words,
       stopword_hits >= {_GOPHER_MIN_STOPWORD_HITS} AS ok_stopwords
"""

_GOPHER_KEEP_EXPR = (
    "CAST(ok_word_count AND ok_mean_word_len AND ok_symbol_ratio AND "
    "ok_bullet_lines AND ok_ellipsis_lines AND ok_alpha_words AND "
    "ok_stopwords AS INT) AS keep"
)
#: graded companion to the binary keep: how many of the 7 rules passed
_GOPHER_PASSED_EXPR = (
    "CAST(ok_word_count AS INT) + CAST(ok_mean_word_len AS INT) + "
    "CAST(ok_symbol_ratio AS INT) + CAST(ok_bullet_lines AS INT) + "
    "CAST(ok_ellipsis_lines AS INT) + CAST(ok_alpha_words AS INT) + "
    "CAST(ok_stopwords AS INT) AS n_rules_passed"
)

_GOPHER_STOPWORD_SUM_DUCK = " + ".join(
    "CAST(list_contains(regexp_split_to_array(lower(trim(text)), '\\s+'), "
    f"'{w}') AS INT)"
    for w in _GOPHER_STOPWORDS
)

_GOPHER_ORACLE = rf"""
    WITH sig AS (
      SELECT doc_id,
             len(regexp_split_to_array(trim(text), '\s+')) AS n_words,
             CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS mean_word_len,
             CAST(length(text) - length(replace(text, '#', ''))
                  + (length(text) - length(replace(text, '...', ''))) / 3
                  AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS symbol_ratio,
             CAST(len(list_filter(string_split(text, chr(10)),
                                  l -> substr(trim(l), 1, 1) IN ('-', '*', '•')))
                  AS DOUBLE)
               / len(string_split(text, chr(10))) AS bullet_line_ratio,
             CAST(len(list_filter(string_split(text, chr(10)),
                                  l -> right(rtrim(l), 3) = '...')) AS DOUBLE)
               / len(string_split(text, chr(10))) AS ellipsis_line_ratio,
             CAST(len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                  w -> regexp_matches(w, '[a-z]'))) AS DOUBLE)
               / len(regexp_split_to_array(trim(text), '\s+')) AS alpha_word_ratio,
             {_GOPHER_STOPWORD_SUM_DUCK} AS stopword_hits
      FROM documents),
    flags AS (SELECT *, {_GOPHER_RULES_SQL} FROM sig)
    SELECT *, {_GOPHER_KEEP_EXPR}, {_GOPHER_PASSED_EXPR} FROM flags
"""


def gopher_flags(docs: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
    """Gopher rule signals + flags + keep/n_rules_passed over any
    ``(doc_id, text, ...)`` frame — batch OR streaming: every signal
    is a map-side expression over the row's own text (array folds
    inside whole-stage codegen, no UDF, no shuffle, no corpus-wide
    state), so the same code path attaches to a file stream unchanged
    (:func:`zarr_datafusion_spark.streaming.demo.streaming_gopher_gate`).
    ``extra`` names pass-through columns (e.g. lang/source for
    downstream grouping)."""
    lines = "split(text, '\\n')"
    words = "split(trim(text), '\\\\s+')"
    lower_words = "split(lower(trim(text)), '\\\\s+')"
    sig = docs.select(
        "doc_id",
        *extra,
        F.expr(f"size({words})").alias("n_words"),
        F.expr(
            f"CAST(length(regexp_replace(text, '\\\\s+', '')) AS DOUBLE)"
            f" / size({words})"
        ).alias("mean_word_len"),
        F.expr(
            "CAST(length(text) - length(replace(text, '#', ''))"
            " + (length(text) - length(replace(text, '...', ''))) / 3"
            f" AS DOUBLE) / size({words})"
        ).alias("symbol_ratio"),
        F.expr(
            f"CAST(size(filter({lines},"
            " l -> substr(trim(l), 1, 1) IN ('-', '*', '•'))) AS DOUBLE)"
            f" / size({lines})"
        ).alias("bullet_line_ratio"),
        F.expr(
            f"CAST(size(filter({lines},"
            " l -> right(rtrim(l), 3) = '...')) AS DOUBLE)"
            f" / size({lines})"
        ).alias("ellipsis_line_ratio"),
        F.expr(
            f"CAST(size(filter({lower_words}, w -> w rlike '[a-z]'))"
            f" AS DOUBLE) / size({words})"
        ).alias("alpha_word_ratio"),
        F.expr(
            " + ".join(
                f"CAST(array_contains({lower_words}, '{w}') AS INT)"
                for w in _GOPHER_STOPWORDS
            )
        ).alias("stopword_hits"),
    )
    flags = sig.selectExpr(
        "*",
        f"n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS} AS ok_word_count",
        f"mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL} AS ok_mean_word_len",
        f"symbol_ratio <= {_GOPHER_MAX_SYMBOL_RATIO} AS ok_symbol_ratio",
        f"bullet_line_ratio <= {_GOPHER_MAX_BULLET_RATIO} AS ok_bullet_lines",
        f"ellipsis_line_ratio <= {_GOPHER_MAX_ELLIPSIS_RATIO} AS ok_ellipsis_lines",
        f"alpha_word_ratio >= {_GOPHER_MIN_ALPHA_RATIO} AS ok_alpha_words",
        f"stopword_hits >= {_GOPHER_MIN_STOPWORD_HITS} AS ok_stopwords",
    )
    return flags.selectExpr("*", _GOPHER_KEEP_EXPR, _GOPHER_PASSED_EXPR)


@_q("text_quality_gopher", _GOPHER_ORACLE)
def text_quality_gopher(spark, sf_dir):
    """Gopher-rule quality filter: the published decision thresholds
    as one flag per rule plus the ``keep`` conjunction (core in
    :func:`gopher_flags`).

    Scale shape: entirely map-side, so the filter costs one scan at
    any corpus size and composes with ``pipeline_curate``'s keep-list
    joins.  Boolean flags are emitted as BOOLEAN and the final
    ``keep`` as INT (the driver's value hash is type-sensitive; INT
    keeps the keep-rate SUM-able downstream).

    On the synthetic word-soup corpus the stopword rule rejects every
    document (at most one of Gopher's 8 stopwords ever appears) —
    exactly what an English-quality filter should do to word soup, and
    why ``n_rules_passed`` and the per-rule flags carry the graded
    signal here; the crafted-document unit test exercises each rule's
    trip path (bullets, ellipses, symbols, short/long docs)."""
    return gopher_flags(_docs_cpu(spark, sf_dir))
