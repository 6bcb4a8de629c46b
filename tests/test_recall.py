"""ANN recall floors (r3 VERDICT item 5): the LSH/IVF recall numbers
were prose in BASELINE.md — an ANN regression would drift the docs
instead of failing CI. These tests pin recall@5 against the
brute-force baseline at sf0.01.

Everything here is deterministic — fixed hyperplanes (LCG seeds),
fixed first-k IVF seeds, fixed parquet data — so the floors can sit
just under the measured values without flake risk. Measured 2026-08:
IVF(16 cells, 4 probes) = 0.933; sign-LSH on THIS corpus (500
near-uniform random 64-dim vectors — the worst case for sign hashes:
true neighbors barely clear random cosine) = 0.067 single-table at 6
planes, rising to 0.700 at (4 planes, 8 tables) ~ a 50% candidate
fraction. Real embedding corpora cluster, where both do far better
(the 4-orthogonal-cluster fixture in test_operators gets 1.0).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.01"
K = 5


@pytest.fixture(scope="module")
def ann_inputs(spark):
    from hadoop_app_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    truth = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, queries, k=K).collect()}
    assert truth, "brute-force baseline returned nothing"
    return emb, queries, truth


def _recall(result_df, truth) -> float:
    got = {(r.query_id, r.vec_id) for r in result_df.collect()}
    return len(truth & got) / len(truth)


def test_ivf_recall_floor(ann_inputs):
    from hadoop_app_spark.operators.similarity import ivf_topk

    emb, queries, truth = ann_inputs
    r = _recall(
        ivf_topk(
            emb, queries, k=K, n_centroids=16, n_probe=4, centroid_source=emb
        ),
        truth,
    )
    assert r >= 0.85, f"IVF recall@5 regressed: {r:.3f} (measured 0.933)"


def test_lsh_multitable_recall_floor(ann_inputs):
    from hadoop_app_spark.operators.similarity import lsh_topk

    emb, queries, truth = ann_inputs
    r = _recall(
        lsh_topk(emb, queries, dim=64, k=K, n_planes=4, n_tables=8),
        truth,
    )
    assert r >= 0.65, f"LSH(4 planes, 8 tables) recall@5 regressed: {r:.3f} (measured 0.700)"


def test_lsh_or_amplification_monotone(ann_inputs):
    """More tables may only ADD candidates, so recall is monotone in
    n_tables — and measurably so on this corpus (0.067 -> 0.233)."""
    from hadoop_app_spark.operators.similarity import lsh_topk

    emb, queries, truth = ann_inputs
    r1 = _recall(lsh_topk(emb, queries, dim=64, k=K, n_planes=6, n_tables=1), truth)
    r4 = _recall(lsh_topk(emb, queries, dim=64, k=K, n_planes=6, n_tables=4), truth)
    assert r4 > r1, f"OR-amplification did not improve recall: {r1:.3f} -> {r4:.3f}"
