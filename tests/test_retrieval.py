"""Unit tests for the retrieval operators (inverted index, BM25) and
the SimHash Hamming-banding pair generator.

Value-exactness vs DuckDB is covered by the registry oracles
(tools/oracle_check.py / the driver gate); these tests pin the
STRUCTURAL contracts the oracles can't see: the banding recall
guarantee against an engine-side brute force, the overflow star
expansion, the posting-list cap, and the top-k boundary determinism.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hadoop_app_spark.catalog import load_table
from hadoop_app_spark.operators.dedup import simhash_band_pairs, simhash_wide
from hadoop_app_spark.operators.retrieval import bm25_topk, inverted_index

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return load_table(spark, SF, "documents")


def test_simhash_banding_recall_is_exact(spark):
    """Pigeonhole guarantee: for max_hamming < bands the banded plan
    finds EVERY pair within the Hamming radius — compare against an
    engine-side brute-force self-join on the same fingerprints — and
    an exact duplicate pairs at hamming 0."""
    d = _docs(spark)
    banded = {
        (r.id_a, r.id_b, r.hamming)
        for r in simhash_band_pairs(d, "text", "doc_id", bands=4, max_hamming=3).collect()
    }
    sh = simhash_wide(d, "text", "doc_id")
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sb"))
    brute = {
        (r.id_a, r.id_b, r.hamming)
        for r in a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert banded == brute
    assert all(h <= 3 for *_ids, h in banded)
    # exact duplicates -> identical fingerprints -> hamming-0 pair
    dup = d.limit(1).select(F.lit(990001).alias("doc_id"), "text")
    dd = d.select("doc_id", "text").unionByName(dup)
    orig = d.limit(1).collect()[0].doc_id
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_pairs(dd, "text", "doc_id").collect()
    }
    assert pairs.get((orig, 990001)) == 0


def test_simhash_banding_overflow_star_expansion(spark):
    """Buckets past max_bucket_size fall back to linear star expansion:
    pair count stays bounded, every overflow membership is observed,
    and surviving pairs still verify the Hamming radius."""
    d = _docs(spark)
    obs: dict = {}
    pairs = simhash_band_pairs(
        d, "text", "doc_id", bands=4, max_hamming=3, max_bucket_size=2, observations=obs
    )
    rows = pairs.collect()
    assert all(r.hamming <= 3 for r in rows)
    assert all(r.id_a < r.id_b for r in rows)
    # with a cap of 2 on this corpus some bucket must overflow
    assert obs["simhash_overflow"].get["rows"] > 0
    # star expansion only SHRINKS the candidate set vs exhaustive
    full = simhash_band_pairs(d, "text", "doc_id", bands=4, max_hamming=3).collect()
    assert {(r.id_a, r.id_b) for r in rows} <= {(r.id_a, r.id_b) for r in full}


def test_vectorized_kernels_accept_non_long_ids(spark):
    """The mapInPandas kernels declare their schema from the input
    id column's type — string ids must round-trip like longs do."""
    from hadoop_app_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame(
        [("u1", "alpha beta gamma delta"), ("u2", "alpha beta gamma delta epsilon")],
        "url string, text string",
    )
    sh = {r.url: r.simhash for r in simhash_wide(df, "text", "url").collect()}
    assert set(sh) == {"u1", "u2"}
    sig = {r.url: r.signature for r in minhash_signatures(df, "text", "url").collect()}
    assert set(sig) == {"u1", "u2"} and all(len(s) == 8 for s in sig.values())


def test_simhash_band_pairs_rejects_bad_config(spark):
    d = _docs(spark)
    import pytest

    with pytest.raises(ValueError):
        simhash_band_pairs(d, "text", "doc_id", bands=3)  # 3 does not divide 56
    with pytest.raises(ValueError):
        simhash_band_pairs(d, "text", "doc_id", bands=4, max_hamming=4)  # recall gap


def test_inverted_index_cap_and_doc_freq(spark):
    d = _docs(spark)
    idx = inverted_index(d, "text", "doc_id", max_postings=5).collect()
    assert idx
    n_docs = d.count()
    for r in idx:
        assert 1 <= len(r.postings) <= 5
        assert r.postings == sorted(r.postings)
        # doc_freq is the FULL frequency, not the capped list length
        assert r.doc_freq >= len(r.postings)
        assert r.doc_freq <= n_docs
    # common terms must hit the cap while keeping exact doc_freq
    assert any(len(r.postings) == 5 and r.doc_freq > 5 for r in idx)
    # postings are the SMALLEST doc ids containing the term (window
    # ordered by id), so each capped list must be a prefix of the full one
    full = {r.term: r.postings for r in inverted_index(d, "text", "doc_id", max_postings=10**6).collect()}
    for r in idx:
        assert r.postings == full[r.term][: len(r.postings)]


def test_bm25_topk_contract(spark):
    d = _docs(spark)
    terms = ["vector", "stream"]
    out = bm25_topk(d, "text", "doc_id", terms, k=7).collect()
    assert 0 < len(out) <= 7
    # descending score, id tiebreak -> deterministic ordering
    keys = [(-r.score, r.doc_id) for r in out]
    assert keys == sorted(keys)
    # every returned doc matches at least one query term
    assert all(1 <= r.n_terms <= len(terms) for r in out)
    # a doc stuffed with one query term must outrank a doc with none
    ids = {r.doc_id for r in out}
    matching = {
        r.doc_id
        for r in d.select("doc_id")
        .where(F.col("text").rlike(r"(^|\s)(vector|stream)(\s|$)"))
        .collect()
    }
    assert ids <= matching


def test_bounded_rank_matches_window_semantics(spark):
    from hadoop_app_spark.operators.retrieval import bounded_rank

    rows = [(1, 5.0), (2, 7.0), (3, 5.0), (4, 1.0), (5, 7.0)]
    df = spark.createDataFrame(rows, "id long, s double")
    out = {r.id: r.rank for r in bounded_rank(df, "s", "id").collect()}
    # (score desc, id asc): 2 and 5 share 7.0 -> id breaks the tie
    assert out == {2: 1, 5: 2, 1: 3, 3: 4, 4: 5}


def test_rrf_fuse_contract(spark):
    from hadoop_app_spark.operators.retrieval import rrf_fuse

    kw = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, kw_rank int"
    )
    vec = spark.createDataFrame(
        [(11, 1), (13, 2), (10, 3)], "doc_id long, vec_rank int"
    )
    out = {r.doc_id: r for r in rrf_fuse(kw, vec, k=10).collect()}
    # both-arm docs beat single-arm docs; 11 (1+2) beats 10 (1+3)
    assert [out[i].fused_rank for i in (11, 10)] == [1, 2]
    # single-arm docs keep a NULL rank for the missing arm
    assert out[12].vec_rank is None and out[13].kw_rank is None
    # identical single-arm scores (rank 2 vs rank 2) tie -> doc_id order
    kw2 = spark.createDataFrame([(20, 2)], "doc_id long, kw_rank int")
    vec2 = spark.createDataFrame([(19, 2)], "doc_id long, vec_rank int")
    out2 = {r.doc_id: r.fused_rank for r in rrf_fuse(kw2, vec2).collect()}
    assert out2 == {19: 1, 20: 2}


def test_rrf_fuse_k_caps_output(spark):
    from hadoop_app_spark.operators.retrieval import rrf_fuse

    kw = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], "doc_id long, kw_rank int"
    )
    vec = spark.createDataFrame(
        [(i + 100, i + 1) for i in range(8)], "doc_id long, vec_rank int"
    )
    got = rrf_fuse(kw, vec, k=5).collect()
    assert len(got) == 5
    assert sorted(r.fused_rank for r in got) == [1, 2, 3, 4, 5]


def test_retrieval_eval_perfect_ranking_scores_1000(spark):
    """When the system order coincides with the ideal order, nDCG is
    exactly 1000 milli; MRR is 1000 when the top hit is fully relevant."""
    from hadoop_app_spark.operators.retrieval import retrieval_eval

    rows = [
        (1, "spark spark spark"),    # tf=3 -> rel 3, rank 1
        (2, "spark spark"),          # tf=2 -> rel 2, rank 2
        (3, "spark"),                # tf=1 -> rel 1, rank 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = retrieval_eval(df, "text", "doc_id", ["spark"], k=10).collect()[0]
    # dcg = 3*1000 + 2*630 + 1*500 = 4760 == idcg
    assert (out["dcg_milli"], out["idcg_milli"]) == (4760, 4760)
    assert out["ndcg_milli"] == 1000 and out["mrr_milli"] == 1000


def test_retrieval_eval_rank_mismatch_penalized(spark):
    """A ranking that puts the most-relevant doc later loses nDCG and
    MRR exactly as the integer discount table dictates."""
    from hadoop_app_spark.operators.retrieval import retrieval_eval

    rows = [
        (1, "x x x x x"),  # tf=5 -> rel 3, system rank 1
        (2, "x x x"),      # tf=3 -> rel 3, system rank 2 (rel ties cap)
        (3, "x"),          # tf=1 -> rel 1, system rank 3
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = retrieval_eval(df, "text", "doc_id", ["x"], k=2).collect()[0]
    # k=2: system top-2 = ids 1,2 (rel 3,3); ideal same set -> ndcg 1000
    assert out["n_ranked"] == 2 and out["ndcg_milli"] == 1000
    with __import__("pytest").raises(ValueError, match="discount table"):
        retrieval_eval(df, "text", "doc_id", ["x"], k=11)


def test_ann_recall_semantics(spark):
    """recall@k counts rank<=k overlaps only; the query list comes from
    the exact side so an ANN silent miss reads 0, and extra ANN ranks
    past k are ignored."""
    from hadoop_app_spark.operators.retrieval import ann_recall

    exact = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (2, 20, 1), (2, 21, 2), (3, 30, 1), (3, 31, 2)],
        "query_id long, vec_id long, rank int",
    )
    ann = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2),          # perfect
         (2, 21, 1), (2, 99, 2),          # half right
         (2, 20, 3),                      # true neighbor but past k=2: ignored
         ],
        "query_id long, vec_id long, rank int",
    )
    got = {r.query_id: (r.n_hits, r.recall_milli) for r in ann_recall(ann, exact, k=2).collect()}
    assert got == {1: (2, 1000), 2: (1, 500), 3: (0, 0)}


def test_ann_recall_perfect_at_full_probe(spark):
    """IVF×PQ at full probe width + an exhaustive shortlist recalls
    everything brute force finds — the eval closes the loop on the
    composition's exactness envelope."""
    from pyspark.sql import functions as F

    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks
    from hadoop_app_spark.operators.retrieval import ann_recall
    from hadoop_app_spark.operators.similarity import brute_force_topk
    import tempfile

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double"),
        ).alias("embedding"),
    )
    path = tempfile.mkdtemp() + "/idx"
    build_ivfpq_index(emb, path, fixed_pq_codebooks(), n_centroids=16)
    q = emb.where(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = query_ivfpq_index(spark, path, q, k=5, n_probe=16, shortlist=10_000)
    exact = brute_force_topk(emb, q, k=5)
    rows = ann_recall(ann, exact, k=5).collect()
    assert rows and all(r.recall_milli == 1000 for r in rows)
