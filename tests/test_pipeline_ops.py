"""Tests for the LLM-data-pipeline operators (dedup / similarity /
text analysis / multimodal).

Oracle-checked operators run through the same differential harness as
the relational suite; hash-dependent ones (minhash, simhash, LSH) are
checked semantically — candidate recall vs exact Jaccard, bucket
consistency — which is stronger than value-pinning for randomized
structures.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, assert_frames_match
from zarr_datafusion_spark.operators import dedup, multimodal, similarity, temporal, textstats

ORACLED = {
    **{n: (textstats.QUERIES[n], textstats.ORACLE[n]) for n in textstats.ORACLE},
    **{n: (dedup.QUERIES[n], dedup.ORACLE[n]) for n in dedup.ORACLE},
    **{n: (similarity.QUERIES[n], similarity.ORACLE[n]) for n in similarity.ORACLE},
    **{n: (temporal.QUERIES[n], temporal.ORACLE[n]) for n in temporal.ORACLE},
    **{n: (multimodal.QUERIES[n], multimodal.ORACLE[n]) for n in multimodal.ORACLE},
}


@pytest.mark.parametrize("name", sorted(ORACLED))
def test_oracle_checked_ops(spark, duck, name):
    fn, sql = ORACLED[name]
    assert_frames_match(fn(spark, SF_DIR), duck.sql(sql))


def test_minhash_lsh_recall_and_candidate_bound(spark, duck):
    """dedup_ngram_jaccard computes exact Jaccard ONLY on LSH candidate
    pairs, so (a) candidates must cover every pair the independent
    all-pairs oracle finds above the threshold — recall 1, a missed
    candidate would fail the driver differential — and (b) the exact
    stage's input must stay far below all-pairs (candidate-bounded
    work, VERDICT r1 item 4)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in duck.sql(dedup.ORACLE["dedup_ngram_jaccard"]).df().itertuples()
    }
    cands = {
        (r.doc_a, r.doc_b)
        for r in dedup.QUERIES["dedup_minhash_lsh"](spark, SF_DIR).collect()
    }
    assert exact, "fixture lost its near-dup pairs — threshold drifted?"
    missed = exact - cands
    assert not missed, f"LSH missed qualifying pairs: {missed}"
    n_docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    all_pairs = n_docs * (n_docs - 1) / 2
    assert len(cands) < all_pairs / 10, "LSH degenerated toward all-pairs"


def test_minhash_signature_agreement_tracks_jaccard(spark):
    """Signature agreement must approximate true Jaccard — the round-1
    multiplier family was monotone (no modular wrap), collapsing every
    permutation's min onto the globally-smallest shingle hash, so
    agreement was ~0 or ~1 regardless of J.  A J≈0.97 pair must now
    agree on >=80% of permutations."""
    import duckdb as _d

    con = _d.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{SF_DIR}/documents.parquet')"
    )
    top = con.sql(dedup.ORACLE["dedup_ngram_jaccard"]).df().sort_values("jaccard")
    pair = top.iloc[-1]  # highest-J pair in the fixture
    sigs = {
        r.doc_id: r.signature
        for r in dedup.minhash_signatures(
            spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
                F.col("doc_id").isin(int(pair.doc_a), int(pair.doc_b))
            )
        ).collect()
    }
    a, b = sigs[pair.doc_a], sigs[pair.doc_b]
    agree = sum(x == y for x, y in zip(a, b)) / len(a)
    assert agree >= 0.8, f"J={pair.jaccard:.3f} but signature agreement {agree:.3f}"


def test_simhash_pairs_sane(spark):
    rows = dedup.QUERIES["dedup_simhash"](spark, SF_DIR).collect()
    for r in rows:
        assert 0 <= r.hamming <= 8
        assert r.doc_a < r.doc_b


def test_ann_lsh_recall(spark):
    """ANN top-k must overlap exact top-k (deterministic given the
    fixed plane seed; radius-2 multi-probe on near-random embeddings
    recalls 2+/10 at both test SFs — measured, see similarity.py)."""
    exact = [r.vec_id for r in similarity.QUERIES["sim_topk_bruteforce"](spark, SF_DIR).collect()]
    approx = [r.vec_id for r in similarity.QUERIES["sim_ann_lsh"](spark, SF_DIR).collect()]
    assert len(set(exact) & set(approx)) >= 2, (
        f"ANN recall collapsed: exact={exact}, approx={approx}"
    )


def test_ann_ivf_recall(spark):
    """IVF with nprobe=3 of nlist=10 scores ~30% of the corpus and must
    recall a meaningful share of the exact top-k; every returned id
    must also rank in the exact scoring (no fabricated neighbors)."""
    exact = [r.vec_id for r in similarity.QUERIES["sim_topk_bruteforce"](spark, SF_DIR).collect()]
    approx = similarity.QUERIES["sim_ann_ivf"](spark, SF_DIR).collect()
    assert len(approx) == similarity.TOP_K
    assert len(set(exact) & {r.vec_id for r in approx}) >= 2
    # scores must be genuine cosines (bounded, descending)
    scores = [r.cosine for r in approx]
    assert scores == sorted(scores, reverse=True)
    assert all(-1.01 <= s <= 1.01 for s in scores)


def test_langid_accuracy(spark):
    """The stopword heuristic must beat random guessing on en docs (the
    fixture texts are English-ish word salad)."""
    rows = textstats.QUERIES["text_langid_heuristic"](spark, SF_DIR).collect()
    en = [r for r in rows if r.labeled_lang == "en"]
    acc = sum(r.predicted_lang == "en" for r in en) / max(len(en), 1)
    assert acc > 0.5


def test_multimodal_roundtrip(spark):
    """Declared header fields must survive the synthesize->decode loop
    (proves the binary plumbing, not the fake decoder)."""
    feats = multimodal.QUERIES["mm_extract_features"](spark, SF_DIR).collect()
    syn = {r.doc_id: r for r in multimodal.QUERIES["mm_synthesize"](spark, SF_DIR).collect()}
    assert len(feats) == len(syn)
    for r in feats[:50]:
        s = syn[r.doc_id]
        assert r.width == s.declared_width and r.height == s.declared_height
        assert r.payload_bytes == s.payload_bytes
        assert r.body_bytes == r.payload_bytes - 8
        assert r.media_type in ("image", "audio", "video")


def test_frame_sample_shape(spark):
    rows = multimodal.QUERIES["mm_frame_sample"](spark, SF_DIR).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    for doc, frames in by_doc.items():
        assert frames == list(range(0, 300, 30)), doc


def test_resize_preserves_aspect(spark):
    rows = multimodal.QUERIES["mm_resize"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert max(r.new_width, r.new_height) == multimodal.RESIZE_TARGET
        # aspect preserved within rounding
        assert abs(r.new_width / r.new_height - r.width / r.height) < 0.02
        assert r.out_bytes == r.new_width * r.new_height * 3


def test_ivf_assignment_never_shuffles_corpus(spark):
    """VERDICT r3 item 6 done-criterion: IVF cell assignment must be
    map-side (broadcast centroid argmax).  The only hash exchanges in
    the plan belong to the tiny centroid aggregation (label / label,dim
    keys); the corpus is never hash-partitioned by vec_id, so embedding
    payloads never cross the wire."""
    plan = (
        similarity.QUERIES["sim_ann_ivf"](spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(vec_id" not in plan, plan[:1200]


def test_ann_indexed_scans_index_only(spark):
    """VERDICT r8 item 6 done-bar: the persisted-IVF entry must (a)
    return exactly what the rebuild-per-call entry returns (persisting
    the model changes no answer), and (b) serve entirely from the
    index — embeddings.parquet absent from the physical plan, the
    probed cells pruned as PARTITION filters on the cell-partitioned
    postings (directory-level skipping, the inverted-list seek)."""
    ivf = similarity.QUERIES["sim_ann_ivf"](spark, SF_DIR).collect()
    df = similarity.QUERIES["sim_ann_indexed"](spark, SF_DIR)
    idx = df.collect()
    assert [tuple(r) for r in idx] == [tuple(r) for r in ivf]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ann_index" in plan
    assert "embeddings.parquet" not in plan
    assert "PartitionFilters" in plan and "list_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0], "probed cells not pruned at the partition level"


def test_kmeans_partitions_corpus_and_converges(spark):
    """Lloyd invariants: every vector is assigned (sizes sum to corpus),
    inertia is monotone non-increasing across iterations, and the final
    assignment is exactly nearest-final-centroid (numpy cross-check)."""
    import numpy as np

    from zarr_datafusion_spark.operators import similarity as S

    rows = S.QUERIES["sim_kmeans_train"](spark, SF_DIR).collect()
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_corpus = emb.count()
    assert sum(r.n_vectors for r in rows) == n_corpus
    assert len(rows) <= S.K_CLUSTERS
    assert all(r.inertia >= 0 for r in rows)

    # monotone improvement: more Lloyd iterations can't increase inertia
    def total_inertia(C):
        d = S._dist2_udf(C)
        from pyspark.sql import functions as F

        return (
            emb.select(d("embedding").alias("d")).agg(F.sum("d")).collect()[0][0]
        )

    C1 = S.kmeans_fit(emb, max_iter=1)
    C5 = S.kmeans_fit(emb, max_iter=5)
    assert total_inertia(C5) <= total_inertia(C1) + 1e-9

    # exact nearest-centroid agreement on a sample
    C = S.kmeans_fit(emb)
    sample = emb.limit(50).collect()
    assigned = {
        r.vec_id: r.cluster
        for r in emb.limit(50)
        .withColumn("cluster", S._assign_udf(C)("embedding"))
        .collect()
    }
    for r in sample:
        e = np.array(r.embedding, dtype=np.float64)
        want = int(np.argmin(((C - e) ** 2).sum(axis=1)))
        assert assigned[r.vec_id] == want


def test_kmeans_step_matches_trainer_first_iteration(spark):
    """The oracle-backed one-step entry must agree with the iterative
    trainer's first Lloyd update (same first-k seeds, same argmin
    assignment): each cluster's reported centroid norm equals the
    numpy norm of kmeans_fit(max_iter=1)'s centroid.  Ties the SQL
    algebra to the UDF trainer so the two can't drift apart."""
    import numpy as np

    from zarr_datafusion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C1 = S.kmeans_fit(emb, max_iter=1)
    got = {
        r.cluster: (r.n_vectors, r.centroid_sq_norm)
        for r in S.QUERIES["sim_kmeans_step"](spark, SF_DIR).collect()
    }
    assert sum(n for n, _ in got.values()) == emb.count()
    for j, (_, norm) in got.items():
        # trainer sums in decimal(38,12), the step in double + round(6):
        # equal to well past the rounding precision
        assert abs(norm - float((C1[j] ** 2).sum())) < 2e-6, (j, norm)


def test_kmeans_parallel_init(spark):
    """k-means|| init (VERDICT r4 item 6): hash-keyed oversampling must
    be (a) deterministic run-to-run (no RNG anywhere), (b) produce k
    valid centroids the existing invariants hold for, and (c) land in
    a local optimum of comparable quality to first-k.  On this
    near-random corpus every reasonable seeding converges within a few
    percent of the same inertia (measured: the two inits differ ~1.7%,
    either direction run-to-run is corpus-dependent), so the assertion
    is a 10% sanity band — what k-means|| actually guarantees is the
    ABSENCE of catastrophic seeds (all-k-in-one-cluster), which would
    show up as a multiple, not a percent."""
    import numpy as np

    from pyspark.sql import functions as F

    from zarr_datafusion_spark.operators import similarity as S

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    C1 = S.kmeans_fit(emb, init="parallel")
    C2 = S.kmeans_fit(emb, init="parallel")
    assert np.array_equal(C1, C2), "parallel init is not deterministic"
    assert C1.shape == (S.K_CLUSTERS, 64)

    def inertia(C):
        return (
            emb.select(S._dist2_udf(C)("embedding").alias("d"))
            .agg(F.sum("d"))
            .collect()[0][0]
        )

    first_k = inertia(S.kmeans_fit(emb, init="first_k"))
    par = inertia(C1)
    assert par <= first_k * 1.10, (
        f"k-means|| ended FAR worse than first-k: {par} vs {first_k}"
    )


def test_kmeans_deterministic(spark):
    from zarr_datafusion_spark.operators import similarity as S

    a = [tuple(r) for r in S.QUERIES["sim_kmeans_train"](spark, SF_DIR).collect()]
    b = [tuple(r) for r in S.QUERIES["sim_kmeans_train"](spark, SF_DIR).collect()]
    assert a == b


def test_audio_windows_ascii_precondition(duck):
    """mm_audio_windows' oracle equates payload bytes with ord() over
    text characters — valid only while the driver corpus is pure ASCII.
    If a regeneration introduces multi-byte text this fails loudly
    instead of the oracle silently mismatching."""
    n = duck.sql(
        "SELECT COUNT(*) FROM documents WHERE octet_length(encode(text)) <> length(text)"
    ).fetchone()[0]
    assert n == 0


def test_audio_windows_segmentation(spark):
    """Window invariants: per-doc windows are 0..k-1, all but the last
    are full, sample counts sum to the body length."""
    from collections import defaultdict

    rows = multimodal.QUERIES["mm_audio_windows"](spark, SF_DIR).collect()
    assert rows
    per_doc = defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
    syn = {
        r.doc_id: r
        for r in multimodal.QUERIES["mm_synthesize"](spark, SF_DIR).collect()
        if r.media_type == "audio"
    }
    assert set(per_doc) == set(syn)
    for did, rs in per_doc.items():
        rs.sort(key=lambda r: r.win)
        assert [r.win for r in rs] == list(range(len(rs)))
        assert all(r.n_samples == 256 for r in rs[:-1])
        assert sum(r.n_samples for r in rs) == syn[did].payload_bytes - 8
        assert all(0 <= r.mean_amp <= 255 for r in rs)


def test_gram_oracle_short_doc_fallback(spark, tmp_path):
    """ADVICE r5: docs with <3 tokens — including empty and
    whitespace-only text — must produce IDENTICAL MinHash-LSH candidate
    pairs and SimHash pairs in Spark and the DuckDB oracles.  The
    oracles now mirror Spark's single-whole-text-gram fallback
    (_GRAMS_EXPR's size(w)<3 branch) and the simhash-0 empty-doc branch
    (`if not toks: return 0`); before the fix such docs silently
    vanished from the DuckDB side."""
    import duckdb as _d
    import pandas as pd

    rows = [
        (1, "alpha beta", "en", "web", 10),  # 2 tokens, exact dup of 2
        (2, "alpha beta", "en", "web", 10),
        (3, "solo", "en", "web", 4),  # 1 token, exact dup of 4
        (4, "solo", "en", "book", 4),
        (5, "", "en", "web", 0),  # empty — simhash 0
        (6, "   ", "en", "web", 3),  # whitespace-only — simhash 0
        (7, "one two three four five", "en", "web", 23),
        (8, "one two three four five", "en", "web", 23),
        (9, "unrelated totally different words here", "en", "web", 38),
    ]
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    path = str(tmp_path / "documents.parquet")
    pdf.to_parquet(path)

    con = _d.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')"
    )
    try:
        mh_spark = {
            (r.doc_a, r.doc_b)
            for r in dedup.QUERIES["dedup_minhash_lsh"](spark, str(tmp_path)).collect()
        }
        mh_duck = {
            (r.doc_a, r.doc_b)
            for r in con.sql(dedup.ORACLE["dedup_minhash_lsh"]).df().itertuples()
        }
        assert mh_spark == mh_duck
        # exact-dup short docs MUST be found (whole-text fallback gram)
        assert {(1, 2), (3, 4), (7, 8)} <= mh_spark

        sh_spark = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in dedup.QUERIES["dedup_simhash"](spark, str(tmp_path)).collect()
        }
        sh_duck = {
            (r.doc_a, r.doc_b, r.hamming)
            for r in con.sql(dedup.ORACLE["dedup_simhash"]).df().itertuples()
        }
        assert sh_spark == sh_duck
        # the two token-less docs collide at simhash 0 on both sides
        assert (5, 6, 0) in sh_spark
    finally:
        con.close()


def test_gopher_rules_trip_on_crafted_docs(spark, tmp_path):
    """Each Gopher rule must trip on a document crafted to violate
    exactly it (the synthetic corpus never exercises the bullet /
    ellipsis / symbol / long-doc paths — see the entry docstring), and
    the differential contract must hold on this adversarial corpus
    too, not just the driver's tables."""
    import os

    import duckdb
    import pandas as pd

    good_words = (
        "the quick brown fox jumps over that lazy dog and we have "
        "fun with words of every kind to be sure "
    ) * 3  # 66 words, all rules pass
    docs = [
        (0, good_words),
        (1, "too short to have the fifty words that be needed of it"),
        (2, "ab " * 60 + "the of and that have with to be"),  # mwl < 3
        (3, good_words.replace("fox", "fox #### ## #")),  # symbols
        (4, "\n".join("- " + good_words[i : i + 40] for i in range(0, 400, 40))
            + "\nthe of and that have with to be"),  # >90% bullet lines
        (5, "\n".join(good_words[i : i + 40] + "..." for i in range(0, 400, 40))
            + "\n" + good_words),  # >30% ellipsis lines
        (6, "12 34 " * 40 + "the of and that have with to be"),  # alpha<0.8
        (7, "zig zag zip zap " * 20),  # no stopwords
    ]
    pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    pdf["lang"] = "en"
    pdf["source"] = "crafted"
    pdf["n_chars"] = pdf["text"].str.len()
    path = str(tmp_path / "crafted")
    spark.createDataFrame(pdf).coalesce(1).write.parquet(path)
    import glob as _glob

    pq = _glob.glob(path + "/*.parquet")[0]
    dst = str(tmp_path / "documents.parquet")
    os.replace(pq, dst)

    out = {
        r["doc_id"]: r.asDict()
        for r in textstats.QUERIES["text_quality_gopher"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0]["keep"] == 1 and out[0]["n_rules_passed"] == 7
    failures = {
        1: "ok_word_count",
        2: "ok_mean_word_len",
        3: "ok_symbol_ratio",
        4: "ok_bullet_lines",
        5: "ok_ellipsis_lines",
        6: "ok_alpha_words",
        7: "ok_stopwords",
    }
    for doc_id, flag in failures.items():
        assert out[doc_id]["keep"] == 0, (doc_id, out[doc_id])
        assert not out[doc_id][flag], (doc_id, flag, out[doc_id])

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW documents AS SELECT * FROM read_parquet('{dst}')"
        )
        assert_frames_match(
            textstats.QUERIES["text_quality_gopher"](spark, str(tmp_path)),
            con.sql(textstats.ORACLE["text_quality_gopher"]),
        )
    finally:
        con.close()


def test_embedding_cosine_blockmat_matches_fold(spark, tmp_path):
    """r14 optimization: dedup_embedding_cosine's grouped-map numpy
    pair scoring must be BIT-identical to the interpreted
    ``aggregate(zip_with(...))`` double fold it replaced — same pair
    set, same cosine doubles — including the margin band the UDF's
    conservative prefilter (raw dot >= t - 1e-6) keeps but the exact
    Spark-side HALF_UP ``round(dot, 6) >= t`` must then reject.

    Crafted cases: a pair whose raw dot (0.29999923...) lies INSIDE
    the prefilter margin yet rounds to 0.299999 < 0.30 (must be
    excluded — numpy half-to-even round would also get this one right,
    so the differential vs the fold is the real pin); a pair at
    0.29999950... that HALF_UP rounds UP to 0.300000 (must be
    included); a singleton label group (no pairs, empty-frame branch);
    and seeded random unit vectors for bulk coverage."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    rows = []
    # label 0: first component engineered, rest zero
    for vid, x in ((0, 0.5), (1, 0.5999985), (2, 0.599999), (3, 0.6000010)):
        v = np.zeros(64, dtype=np.float32)
        v[0] = x
        rows.append((vid, v.tolist(), 0))
    # label 1: singleton group
    rows.append((10, rng.normal(size=64).astype(np.float32).tolist(), 1))
    # label 2: random unit vectors (some near-parallel to force hits)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    for vid in range(20, 40):
        v = base + rng.normal(scale=0.4, size=64)
        v = (v / np.linalg.norm(v)).astype(np.float32)
        rows.append((vid, v.tolist(), 2))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int")
    sdf.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    # the crafted margin cases really are what the docstring claims
    raw_01 = float(0.5 * np.float64(np.float32(0.5999985)))
    raw_02 = float(0.5 * np.float64(np.float32(0.599999)))
    assert 0.299999 - 1e-6 <= raw_01 < 0.2999995  # prefilter keeps, round rejects
    assert 0.2999995 <= raw_02 < 0.30  # HALF_UP rounds up to 0.300000

    got = (
        dedup.QUERIES["dedup_embedding_cosine"](spark, str(tmp_path))
        .toPandas()
        .sort_values(["vec_a", "vec_b"])
        .reset_index(drop=True)
    )

    # reference: the pre-r14 fold shape, evaluated by Spark itself
    e = spark.read.parquet(str(tmp_path / "embeddings.parquet"))
    a, b = e.alias("a"), e.alias("b")
    fold = (
        "aggregate(zip_with(a.embedding, b.embedding, (x, y) -> "
        "CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)"
    )
    ref = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(F.expr(fold), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.30)
        .toPandas()
        .sort_values(["vec_a", "vec_b"])
        .reset_index(drop=True)
    )
    assert len(got) == len(ref) and len(ref) > 0
    assert (got["vec_a"] == ref["vec_a"]).all()
    assert (got["vec_b"] == ref["vec_b"]).all()
    assert (got["label"] == ref["label"]).all()
    assert (got["cosine"].to_numpy() == ref["cosine"].to_numpy()).all()
    pairs = set(zip(got["vec_a"], got["vec_b"]))
    assert (0, 1) not in pairs  # margin-kept, exact-round rejected
    assert (0, 2) in pairs  # HALF_UP boundary included at 0.300000
    assert not any(10 in p for p in pairs)  # singleton group: no pairs

    # plan shape: one grouped-map pass, no SELF-join of the embedding
    # payload, no interpreted fold.  r15: the chunk-pair blocking adds
    # exactly one forced BROADCAST join of the tiny label-count
    # aggregate (guide §8 decide-with-small-rows); the payload still
    # crosses one exchange into the grouped map.
    plan = dedup.QUERIES["dedup_embedding_cosine"](
        spark, str(tmp_path)
    )._sc._jvm.PythonSQLUtils.explainString(
        dedup.QUERIES["dedup_embedding_cosine"](spark, str(tmp_path))._jdf.queryExecution(),
        "formatted",
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "aggregate(zip_with" not in plan
    for bad in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad
    import re

    head = plan.split("== Initial Plan ==")[0]
    # formatted explain names each operator twice (tree + detail
    # section); count the numbered detail entries
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", head)) == 1


def test_embedding_cosine_chunk_pairs_match_single_block(
    spark, tmp_path, monkeypatch
):
    """r15 chunk-pair blocking (VERDICT r14 item 4): forcing tiny
    chunks (COS_CHUNK_ROWS=8, so the 20-row label splits 3-way and
    every diagonal/cross task path runs) must produce the BIT-identical
    pair set and cosine doubles of the single-chunk shape — the
    per-pair d=0..63 sequential IEEE accumulation is chunk-invariant."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    rows = []
    for vid, x in ((0, 0.5), (1, 0.5999985), (2, 0.599999), (3, 0.6000010)):
        v = np.zeros(64, dtype=np.float32)
        v[0] = x
        rows.append((vid, v.tolist(), 0))
    rows.append((10, rng.normal(size=64).astype(np.float32).tolist(), 1))
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    for vid in range(20, 40):
        v = base + rng.normal(scale=0.4, size=64)
        v = (v / np.linalg.norm(v)).astype(np.float32)
        rows.append((vid, v.tolist(), 2))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding", "label"])
    sdf = spark.createDataFrame(pdf, "vec_id long, embedding array<float>, label int")
    sdf.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    def run():
        return (
            dedup.QUERIES["dedup_embedding_cosine"](spark, str(tmp_path))
            .toPandas()
            .sort_values(["vec_a", "vec_b"])
            .reset_index(drop=True)
        )

    single = run()  # default chunk size: every block is one chunk
    monkeypatch.setattr(dedup, "COS_CHUNK_ROWS", 8)
    chunked = run()
    assert len(chunked) == len(single) > 0
    for c in ("vec_a", "vec_b", "label"):
        assert (chunked[c] == single[c]).all()
    assert (
        chunked["cosine"].to_numpy() == single["cosine"].to_numpy()
    ).all()  # bit-identical doubles, not approx
