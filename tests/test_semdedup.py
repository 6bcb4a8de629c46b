"""SemDeDup (operators/semdedup): assignment, keep-hardest policy,
cluster scoping, and centroid-source override on constructed vectors.
"""

from __future__ import annotations

import math

import pytest

from hadoop_app_spark.operators.semdedup import assign_clusters, semdedup_survivors
from tests.semdedup_hof import assign_clusters_hof, semdedup_survivors_hof


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_assignment_and_csim(spark):
    # centroids = two lowest-id vectors: e0=(1,0), e1=(0,1)
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),   # nearer e0
        (3, [0.1, 0.9]),   # nearer e1
        (4, [0.0, 0.0]),   # zero vector: cos 0 everywhere -> first centroid
    ]
    out = {r.vec_id: r for r in assign_clusters(_mk(spark, rows), n_clusters=2).collect()}
    assert out[2].cluster == 0 and out[3].cluster == 1
    assert out[0].cluster == 0 and out[1].cluster == 1
    assert out[4].cluster == 0 and out[4].csim == 0.0
    # embeddings are stored float32 — compare at float32 precision
    assert math.isclose(out[2].csim, 0.9 / math.hypot(0.9, 0.1), rel_tol=1e-6)


def test_keep_hardest_member(spark):
    # cluster of three near-identical vectors around e0=(1,0); vec 3 is
    # tilted farthest from the centroid (lowest csim) -> it survives,
    # the two more-prototypical members drop
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),        # second centroid, isolates cluster 1
        (2, [1.0, 0.05]),
        (3, [1.0, 0.30]),       # hardest (farthest from centroid)
        (4, [1.0, 0.01]),
    ]
    surv = sorted(
        r.vec_id
        for r in semdedup_survivors(
            _mk(spark, rows), n_clusters=2, threshold=0.95
        ).collect()
    )
    # 0,2,4 are mutually ~identical; among {0,2,3,4} all pairs with cos
    # >= .95; survivor of the dup group = lowest csim = 3; centroid 1
    # untouched in its own cluster
    assert 3 in surv and 1 in surv
    assert 0 not in surv and 2 not in surv and 4 not in surv


def test_cross_cluster_dups_not_dropped(spark):
    # two near-identical vectors placed at the two CENTROIDS' positions:
    # each is its own cluster's seed, pairwise cos ~1 but different
    # clusters -> SemDeDup (faithfully) keeps both
    rows = [
        (0, [1.0, 0.001]),
        (1, [1.0, -0.001]),
    ]
    surv = sorted(
        r.vec_id
        for r in semdedup_survivors(_mk(spark, rows), n_clusters=2, threshold=0.99).collect()
    )
    assert surv == [0, 1]


def test_centroid_source_override(spark):
    # trained/external centroids: pass a different frame; assignment
    # must use IT, not the corpus head
    corpus = _mk(spark, [(10, [1.0, 0.0]), (11, [0.0, 1.0])])
    cents = _mk(spark, [(0, [0.0, 1.0]), (1, [1.0, 0.0])])
    out = {r.vec_id: r.cluster for r in assign_clusters(corpus, centroid_source=cents, n_clusters=2).collect()}
    assert out == {10: 1, 11: 0}


def test_empty_centroids_raise(spark):
    empty = _mk(spark, []).where("vec_id > 0")
    with pytest.raises(ValueError):
        assign_clusters(_mk(spark, [(0, [1.0, 0.0])]), centroid_source=empty)


SF = "/root/testdata/sf0.001"


def test_assignment_constructed_keeps_int_type(spark):
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.0, 1.0]),
        (2, [0.9, 0.1]),
        (3, [0.1, 0.9]),
        (4, [0.0, 0.0]),
    ]
    df = assign_clusters(_mk(spark, rows), n_clusters=2)
    # cluster is the centroid's own id, so it keeps the int id type
    assert dict(df.dtypes)["cluster"] == "int"
    assert {r.vec_id: r.cluster for r in df.collect()} == {0: 0, 1: 1, 2: 0, 3: 1, 4: 0}


def test_fast_survivors_blocked_kernel_equivalence(spark):
    # block_rows smaller than any cluster forces the blocked code path;
    # results must not change
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    whole = {
        (r.vec_id, r.cluster)
        for r in semdedup_survivors(emb, n_clusters=4, threshold=0.35).collect()
    }
    blocked = {
        (r.vec_id, r.cluster)
        for r in semdedup_survivors(
            emb, n_clusters=4, threshold=0.35, block_rows=3
        ).collect()
    }
    assert blocked == whole


def test_fast_with_trained_centroids_runs(spark):
    from hadoop_app_spark.operators.similarity import train_ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=4, iters=1)
    out = semdedup_survivors(
        emb, n_clusters=4, threshold=0.35, centroid_source=cents
    ).collect()
    n = emb.count()
    assert 0 < len(out) <= n
    assert len({r.vec_id for r in out}) == len(out)


def test_fast_survivors_equal_hof_with_trained_centroids(spark):
    # The semdedup registry oracle only covers the lowest-id centroids.
    # Trained centroids (the semdedup_fast configuration) have no SQL
    # twin, so the Catalyst HOF reference in tests/semdedup_hof.py,
    # fed the SAME trained centroid frame, checks that arm.
    from hadoop_app_spark.operators.similarity import train_ivf_centroids

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = train_ivf_centroids(emb, n_centroids=8, iters=2).cache()
    cents.count()  # materialize once: both paths must see identical floats
    ref = {
        (r.vec_id, r.cluster)
        for r in semdedup_survivors_hof(
            emb, n_clusters=8, threshold=0.35, centroid_source=cents
        ).collect()
    }
    got = {
        (r.vec_id, r.cluster)
        for r in semdedup_survivors(
            emb, n_clusters=8, threshold=0.35, centroid_source=cents
        ).collect()
    }
    assert got == ref


def test_fast_preserves_string_id_type(spark):
    # non-integral id columns flow through assignment AND the survivor
    # kernel with the id (and cluster) type preserved
    rows = [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    assigned = assign_clusters(df, n_clusters=2)
    assert dict(assigned.dtypes) == dict(assign_clusters_hof(df, n_clusters=2).dtypes)
    assert dict(assigned.dtypes)["cluster"] == "string"
    # centroids = 2 lowest ids ("a","b"); each assigns to itself, and
    # "c"=[0,1] is orthogonal to "a" so it lands in "b"
    assert {(r.vec_id, r.cluster) for r in assigned.collect()} == {
        ("a", "a"), ("b", "b"), ("c", "b"),
    }
    # in cluster "b", cos(b, c) ~ 0.11 >= 0.1 and "c" is farther from
    # the centroid, so "c" survives and "b" drops
    surv = semdedup_survivors(df, n_clusters=2, threshold=0.1)
    assert dict(surv.dtypes) == {"vec_id": "string", "cluster": "string"}
    got = {(r.vec_id, r.cluster) for r in surv.collect()}
    ref = semdedup_survivors_hof(df, n_clusters=2, threshold=0.1)
    assert got == {(r.vec_id, r.cluster) for r in ref.collect()} == {("a", "a"), ("c", "b")}


def test_null_embedding_scores_like_zero_vector(spark):
    # a NULL vector has cosine 0.0 to everything, as in
    # functions.vectors.cosine_similarity: it joins the first centroid
    # and never counts as anyone's duplicate
    rows = [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, None), (3, [1.0, 0.01])]
    df = _mk(spark, rows)
    out = {r.vec_id: (r.cluster, r.csim) for r in assign_clusters(df, n_clusters=2).collect()}
    assert out[2] == (0, 0.0)
    got = {(r.vec_id, r.cluster) for r in semdedup_survivors(df, n_clusters=2, threshold=0.9).collect()}
    ref = semdedup_survivors_hof(df, n_clusters=2, threshold=0.9)
    assert got == {(r.vec_id, r.cluster) for r in ref.collect()} == {(1, 1), (2, 0), (3, 0)}
