"""PCA / whitening (operators/pca): moment correctness vs numpy,
component invariants, whitening, and reconstruction bounds."""

from __future__ import annotations

import numpy as np
import pytest

from hadoop_app_spark.operators.pca import embedding_moments, project_pca, train_pca

SF = "/root/testdata/sf0.001"


def _np_corpus(spark, with_ids=False):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    if with_ids:
        return emb, X, [r[0] for r in rows]
    return emb, X


def test_moments_match_numpy(spark):
    emb, X = _np_corpus(spark)
    mean, cov, n = embedding_moments(emb)
    assert n == len(X)
    assert np.allclose(mean, X.mean(axis=0), atol=1e-9)
    # population covariance (divide by n, matching E[xx] - mm)
    ref = np.cov(X, rowvar=False, bias=True)
    assert np.allclose(np.array(cov), ref, atol=1e-9)


def test_components_orthonormal_descending(spark):
    emb, X = _np_corpus(spark)
    mean, comps, eigs = train_pca(emb, k=8)
    C = np.array(comps)
    assert np.allclose(C @ C.T, np.eye(8), atol=1e-8)
    assert all(a >= b - 1e-12 for a, b in zip(eigs, eigs[1:]))
    # eigenvalues = variance along each component
    proj = (X - np.array(mean)) @ C.T
    assert np.allclose(proj.var(axis=0), eigs, rtol=1e-6, atol=1e-9)


def test_whitened_covariance_is_identity(spark):
    emb, X = _np_corpus(spark)
    mean, comps, eigs = train_pca(emb, k=6)
    out = project_pca(emb, mean, comps, eigs, whiten=True).select("pca").collect()
    P = np.array([list(r[0]) for r in out])
    cov = np.cov(P, rowvar=False, bias=True)
    assert np.allclose(cov, np.eye(6), atol=1e-3)


def test_reconstruction_error_bounded_by_trailing_eigenmass(spark):
    emb, X = _np_corpus(spark)
    d = X.shape[1]
    mean, comps, eigs = train_pca(emb, k=d)  # full basis
    total_var = float(((X - X.mean(axis=0)) ** 2).sum(axis=1).mean())
    assert np.isclose(sum(eigs), total_var, rtol=1e-6)
    k = 8
    mean, comps, eigs_k = train_pca(emb, k=k)
    out = project_pca(emb, mean, comps, None, whiten=False).select("pca").collect()
    P = np.array([list(r[0]) for r in out])
    C = np.array(comps)
    recon = P @ C + np.array(mean)
    err = float(((X - recon) ** 2).sum(axis=1).mean())
    trailing = total_var - sum(eigs_k)
    assert err <= trailing * (1 + 1e-6) + 1e-9


def test_projection_matches_numpy(spark):
    emb, X, ids = _np_corpus(spark, with_ids=True)
    mean, comps, eigs = train_pca(emb, k=4)
    out = {
        r.vec_id: list(r.pca)
        for r in project_pca(emb, mean, comps, eigs, whiten=False).select("vec_id", "pca").collect()
    }
    ref = (X - np.array(mean)) @ np.array(comps).T
    got = np.array([out[i] for i in ids])
    assert np.allclose(got, ref, atol=1e-9)


def test_whiten_requires_eigenvalues(spark):
    emb, _ = _np_corpus(spark)
    mean, comps, eigs = train_pca(emb, k=2)
    with pytest.raises(ValueError):
        project_pca(emb, mean, comps, None, whiten=True)


def test_moments_reject_null_and_ragged_vectors(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])],
        "vec_id long, embedding array<double>",
    )
    with pytest.raises(ValueError, match="NULL"):
        embedding_moments(df)
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError):
        embedding_moments(ragged)


def test_fixed_basis_projection_matches_numpy(spark):
    """project_fixed_basis == the brute-force numpy replay: quantize
    half-up, Walsh rows, n-scaled centering — all integer-exact."""
    import numpy as np

    from hadoop_app_spark.operators.pca import project_fixed_basis, walsh_rows

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = {
        r["vec_id"]: [r[f"p{j}"] for j in range(8)]
        for r in project_fixed_basis(emb, "embedding", "vec_id", k=8).collect()
    }

    rows = emb.select("vec_id", "embedding").collect()
    ids = [r["vec_id"] for r in rows]
    X = np.array([r["embedding"] for r in rows], dtype=np.float64)
    Q = np.floor(X * 1000 + 0.5).astype(np.int64)
    H = np.array(walsh_rows(8, Q.shape[1]), dtype=np.int64)
    n = len(ids)
    S = Q.sum(axis=0)
    P = n * (Q @ H.T) - (S @ H.T)[None, :]
    want = {i: list(map(int, P[r])) for r, i in enumerate(ids)}
    assert got == want


def test_walsh_rows_orthogonal_and_guarded(spark):
    import numpy as np
    import pytest

    from hadoop_app_spark.operators.pca import walsh_rows

    H = np.array(walsh_rows(8, 64))
    assert (H @ H.T == 64 * np.eye(8)).all()
    with pytest.raises(ValueError, match="power-of-two"):
        walsh_rows(4, 48)
    with pytest.raises(ValueError, match="1 <= k"):
        walsh_rows(0, 64)
