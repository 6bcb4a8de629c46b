"""Distributed PCA / whitening over an embedding column — the
preprocessing pass in front of ANN indexing and SemDeDup (centering +
decorrelation measurably tightens cosine thresholds; OPQ/PCA rotation
is standard ahead of IVF/PQ indexes).

Beyond-reference surface (north star similarity family). The Spark
shape is the classic bounded-moment trick:
- count, sum and the d x d Gram matrix come from ONE pass: each Arrow
  batch emits a single partial row (one BLAS X^T X, kept as its
  d*(d+1)/2 upper triangle), so only O(d^2) numbers per batch ever
  reach the driver (d = 64 -> 2,080 doubles), never a row;
- the eigendecomposition of the d x d covariance runs driver-side in
  numpy (microseconds — it is d x d, not n x n);
- projection/whitening back over the corpus is a single narrow map
  with the rotation broadcast as a plan literal (d x k doubles).

Eigenvectors have a sign/rotation ambiguity and float means inherit
aggregation order, so trained components are engine-seeded state —
the registry entry is rows-only by design (the bpe/quality-classifier
convention) and pytest pins the invariants that matter: orthonormal
components, descending explained variance, whitened covariance ==
identity, and reconstruction error below the trailing eigenmass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _require_clean_vectors(df: DataFrame, vec_col: str, d: int) -> None:
    """Moment aggregation silently mixes denominators (or the numpy
    kernel crashes on a ragged batch) if any vector is NULL or the
    wrong length — refuse with the cause instead."""
    n_bad = df.where(
        F.col(vec_col).isNull() | (F.size(vec_col) != F.lit(d))
    ).count()
    if n_bad:
        raise ValueError(
            f"{n_bad} row(s) have NULL or non-{d}-dim {vec_col!r}; "
            "drop or repair them before computing moments"
        )


def embedding_moments(
    df: DataFrame, vec_col: str = "embedding"
) -> tuple[list[float], list[list[float]], int]:
    """(mean, covariance, n) of the vector column in one pass: each
    Arrow batch emits ONE tiny partial row (count, d-element sum,
    d*(d+1)/2 upper-triangle Gram via a single BLAS X^T X) and the
    partials combine driver-side (bounded: one row per batch). The
    covariance is the population one, E[xx^T] - mu mu^T."""
    import numpy as np
    import pandas as pd

    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).head()
    if first is None:
        raise ValueError("empty corpus (or all vectors NULL)")
    d = len(first[0])
    _require_clean_vectors(df, vec_col, d)
    iu0, iu1 = (idx.tolist() for idx in np.triu_indices(d))

    def part(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            g = x.T @ x
            yield pd.DataFrame(
                {
                    "n": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [g[iu0, iu1].tolist()],
                }
            )

    rows = df.select(vec_col).mapInPandas(
        part, "n long, s array<double>, g array<double>"
    ).collect()
    if not rows:
        raise ValueError("empty corpus")
    n = sum(r["n"] for r in rows)
    s = np.sum([r["s"] for r in rows], axis=0)
    gtri = np.sum([r["g"] for r in rows], axis=0)
    mean = s / n
    G = np.zeros((d, d))
    G[iu0, iu1] = gtri
    G[(iu1, iu0)] = gtri
    cov = G / n - np.outer(mean, mean)
    return [float(m) for m in mean], [[float(x) for x in row] for row in cov], int(n)


def train_pca(
    df: DataFrame, vec_col: str = "embedding", k: int = 8
) -> tuple[list[float], list[list[float]], list[float]]:
    """(mean, components [k x d], eigenvalues [k]) — covariance from
    :func:`embedding_moments`, eigendecomposition driver-side (numpy,
    d x d). Components are unit-norm rows, eigenvalues
    descending; signs normalized so each component's largest-|coord|
    entry is positive (removes the eigenvector sign ambiguity, making
    trained state reproducible for a fixed plan)."""
    import numpy as np

    mean, cov, _ = embedding_moments(df, vec_col)
    w, v = np.linalg.eigh(np.array(cov))  # ascending
    order = np.argsort(w)[::-1][:k]
    comps = []
    eigs = []
    for idx in order:
        vec = v[:, idx]
        j = int(np.argmax(np.abs(vec)))
        if vec[j] < 0:
            vec = -vec
        comps.append([float(x) for x in vec])
        eigs.append(float(max(w[idx], 0.0)))
    return mean, comps, eigs


def project_pca(
    df: DataFrame,
    mean: list[float],
    components: list[list[float]],
    eigenvalues: list[float] | None = None,
    vec_col: str = "embedding",
    out_col: str = "pca",
    whiten: bool = False,
    eps: float = 1e-9,
) -> DataFrame:
    """Project (and optionally whiten) the vector column onto trained
    components: out_j = (x - mean) . c_j [/ sqrt(lambda_j + eps)].
    A single narrow map — mean and rotation ride as plan literals
    (k x d doubles; bounded by construction, k <= d)."""
    if whiten and eigenvalues is None:
        raise ValueError("whitening needs eigenvalues")
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.lit([float(m) for m in mean]),
        lambda x, m: x - m,
    )
    # hoist the centering into ONE materialized column: inlining it in
    # every component's product would re-run the d-element subtraction
    # k times per row (HOFs are interpreted — measured as 2k zip_with
    # nodes in the plan instead of k+1)
    tmp = f"_{out_col}_centered"
    staged = df.withColumn(tmp, centered)
    cols = []
    for j, comp in enumerate(components):
        p = F.aggregate(
            F.zip_with(F.col(tmp), F.lit([float(c) for c in comp]), lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        if whiten:
            p = p / F.lit(float((eigenvalues[j] + eps) ** 0.5))
        cols.append(p)
    return staged.withColumn(out_col, F.array(*cols)).drop(tmp)


def walsh_rows(k: int, d: int) -> list[list[int]]:
    """First ``k`` rows of the natural-order d x d Walsh-Hadamard
    matrix: H[r][i] = (-1)^popcount(r & i). Exactly orthogonal, every
    entry +-1 — a FORMULA rotation basis with none of the eigenvector
    float/sign/order ambiguity that makes trained PCA components
    engine-seeded state. Requires d a power of two."""
    if d & (d - 1):
        raise ValueError(f"Walsh basis needs power-of-two dim, got {d}")
    if not 1 <= k <= d:
        raise ValueError(f"need 1 <= k <= {d}, got {k}")
    return [
        [1 if bin(r & i).count("1") % 2 == 0 else -1 for i in range(d)]
        for r in range(k)
    ]


def project_fixed_basis(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    scale: int = 1000,
) -> DataFrame:
    """The PCA family's oracle-exact face (the pq_ann_topk_fixed
    convention): project integer-quantized
    embeddings onto the first ``k`` Walsh-Hadamard rows with n-scaled
    EXACT centering — same plan shape as trained PCA (one bounded
    per-dimension moment aggregate, rotation broadcast as plan
    literals, one narrow projection map), but every number BIGINT so
    a SQL oracle recomputes each projection bit-for-bit.

    Mechanics: q_i = floor(x_i * scale + 0.5) (half-up via floor — the
    embedding_quantize convention both engines compute identically);
    per-dimension sums S_i come from ONE posexplode aggregate (d rows,
    the bounded-collect class); the centered projection is kept
    integer by scaling through n:

        p_j = n * (q . h_j) - (S . h_j)   ==  n * ((q - S/n) . h_j)

    so no float mean ever exists. Output columns p0..p{k-1} are
    BIGINT. Trained-eigenvector PCA (train_pca/project_pca) remains
    the production path and stays rows-only by design; this twin
    value-checks the projection/rotation/centering PLUMBING they
    share."""
    first = df.where(F.col(vec_col).isNotNull()).select(vec_col).head()
    if first is None:
        raise ValueError(f"all values of {vec_col!r} are NULL")
    d = len(first[0])
    _require_clean_vectors(df, vec_col, d)
    rows = walsh_rows(k, d)

    q = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * scale + F.lit(0.5)).cast("long"),
    )
    staged = df.select(F.col(id_col), q.alias("_q"))
    # ONE bounded aggregate: d per-dimension sums (d rows to the
    # driver — the centroid/describe bounded-collect class)
    sums_rows = (
        staged.select(F.posexplode("_q").alias("i", "qi"))
        .groupBy("i")
        .agg(F.sum("qi").alias("s"))
        .collect()
    )
    S = [0] * d
    for r in sums_rows:
        S[r["i"]] = int(r["s"])
    n = staged.count()

    def dot_h(col, h):
        return F.aggregate(
            F.zip_with(col, F.lit(h), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    proj = [
        (F.lit(n).cast("long") * dot_h(F.col("_q"), rows[j])
         - F.lit(sum(si * hi for si, hi in zip(S, rows[j]))).cast("long")
         ).alias(f"p{j}")
        for j in range(k)
    ]
    return staged.select(id_col, *proj)
