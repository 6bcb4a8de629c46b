"""Product-quantization ANN (Jégou et al. 2011, "Product Quantization
for Nearest Neighbor Search") — the MEMORY scale path of the ANN
family, alongside brute-force (exact), sign-LSH and IVF (similarity.py).

Why PQ at 100 TB: a 768-dim float32 embedding is 3 KB/vector; IVF and
LSH prune which vectors are SCORED but every probed vector still reads
its full payload. PQ splits each vector into ``m`` subspaces and
replaces each subspace slice with the index of its nearest codebook
entry — ``m`` bytes per vector (m=8, 256 codes → 384x smaller at
768-dim), and asymmetric-distance (ADC) scoring is ``m`` table lookups
per candidate instead of a d-dim dot product. The codes column rides
in parquet next to the ids, so a scoring scan reads ~1% of the bytes
the raw embedding scan reads — the knob that matters when the corpus
doesn't fit the cluster's page cache.

Spark-first shape:
- training is driver-side numpy over a DETERMINISTIC hash-ordered
  sample (the train_ivf_centroids ``seed_on_sample`` convention):
  bounded, reproducible, one Spark job; farthest-point seeding +
  Lloyd refinement per subspace.
- encoding is one Arrow-batched mapInPandas pass (argmin over the
  per-subspace code matrix — pure BLAS, no shuffle).
- ADC top-k broadcasts the per-query lookup tables (m x n_codes
  doubles — tiny regardless of corpus) and scores codes with numpy
  fancy-indexing; a map-side partial top-k bounds the exchange to
  n_partitions x |queries| x k rows (the lsh_topk / ivf_topk plan
  shape).

Determinism: the sample is hash-ordered, seeding/Lloyd are plain
numpy (bit-stable per platform), encode argmin ties take the LOWEST
code index. Codebooks are float means, so this family is rows-only at
the driver (the semdedup/pca convention) with recall + invariants
pinned in tests/test_pq.py; the EXACT re-ranking arm
(``pq_adc_topk(rerank=...)``) restores oracle-able output by scoring
the true vectors of the ADC shortlist.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_app_spark.operators.similarity import (
    _partial_topk_frame,
    _rank_topk,
)


def fixed_pq_codebooks(m: int = 8, n_codes: int = 16, sub: int = 8) -> list[list[list[float]]]:
    """Deterministic INTEGER-valued codebooks from a closed-form formula
    (the LSH-hyperplane convention: both engines can regenerate them,
    no training, no literals to ship): C[s][c][j] = ((c*7 + j*3 + s*5)
    mod 31) - 15. Integer entries are the exactness lever — paired with
    integer-quantized vectors every encode distance, ADC lookup-table
    entry and shortlist score is an integer carried exactly in float64
    REGARDLESS of summation order (numpy pairwise, BLAS, SQL
    sequential all agree), so the full PQ pipeline becomes
    SQL-oracle-able where trained float-mean codebooks are rows-only."""
    return [
        [
            [float(((c * 7 + j * 3 + s * 5) % 31) - 15) for j in range(sub)]
            for c in range(n_codes)
        ]
        for s in range(m)
    ]


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    sample: int = 2048,
) -> list[list[list[float]]]:
    """-> m x n_codes x (dim/m) codebooks, trained driver-side on a
    deterministic hash-ordered sample. ``dim`` must divide evenly by
    ``m`` (subspace slicing is positional; pad upstream if not)."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
        .limit(int(sample))
        .collect()
    )
    if not rows:
        raise ValueError("empty corpus")
    rows.sort(key=lambda r: r[0])
    X = np.array([list(r[1]) for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    sub = dim // m
    books: list[list[list[float]]] = []
    for s in range(m):
        Xs = X[:, s * sub : (s + 1) * sub]
        # farthest-point seed (ties -> first/lowest row, np.argmax)
        chosen = [0]
        d2 = ((Xs - Xs[0]) ** 2).sum(axis=1)
        while len(chosen) < min(n_codes, len(Xs)):
            nxt = int(np.argmax(d2))
            chosen.append(nxt)
            d2 = np.minimum(d2, ((Xs - Xs[nxt]) ** 2).sum(axis=1))
        C = Xs[chosen].copy()
        for _ in range(iters):
            dist = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = dist.argmin(axis=1)  # ties -> lowest code
            for c in range(len(C)):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
        books.append([[float(x) for x in row] for row in C])
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    passthrough: list[str] | None = None,
) -> DataFrame:
    """[id, codes, *passthrough]: one Arrow-batched pass; codes[s] is
    the index of the nearest (L2) codebook entry for subspace ``s`` —
    ``m`` small ints replacing ``dim`` floats. Argmin ties take the
    lowest code, so encoding is deterministic and repartition-
    invariant. ``passthrough`` columns of *corpus* ride through the
    same pass unchanged (e.g. an IVF ``cell`` assignment or the raw
    vector itself — one scan builds a composed index, no re-join)."""
    import numpy as np
    import pandas as pd

    passthrough = list(passthrough or [])
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.array(b, dtype=np.float64) for b in codebooks]

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            codes = np.empty((len(X), m), dtype=np.int32)
            for s in range(m):
                Xs = X[:, s * sub : (s + 1) * sub]
                # ||x-c||^2 argmin == (||c||^2 - 2 x.c) argmin: skip the
                # per-row ||x||^2 term, it cancels inside a subspace
                d = (books[s] ** 2).sum(axis=1)[None, :] - 2.0 * (Xs @ books[s].T)
                codes[:, s] = d.argmin(axis=1)
            out = {id_col: pdf[id_col].to_numpy(), "codes": list(codes.tolist())}
            for c in passthrough:
                # positional (.tolist()), never index-aligned: a Series
                # with a non-default index would silently reorder rows
                out[c] = pdf[c].tolist()
            yield pd.DataFrame(out)

    types = dict(corpus.dtypes)
    extra = "".join(f", {c} {types[c]}" for c in passthrough)
    # dedupe: vec_col itself may ride through (the composed-index
    # store_vectors layout) — selecting it twice breaks Arrow's
    # column-by-name access in the worker
    cols = [id_col, vec_col] + [c for c in passthrough if c not in (id_col, vec_col)]
    return corpus.select(*cols).mapInPandas(
        run, f"{id_col} long, codes array<int>{extra}"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    shortlist: int | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k -> [query_id, id, cosine, rank].

    ADC: per query, precompute LUT[s][c] = q_s . codebook[s][c]
    (m x n_codes doubles — broadcast-tiny); a candidate's approximate
    dot is sum_s LUT[s][codes[s]] — m table lookups, no d-dim math,
    and the scan reads the CODES column only. ``shortlist`` (default
    4k) candidates per query survive ADC; their TRUE vectors are then
    re-scored exactly (the standard PQ + re-rank recipe), so the
    output ranking is exact-cosine over an ADC-chosen candidate set.
    Pass a pre-encoded ``codes`` frame to amortize encoding across
    calls (the deployed shape: codes persisted next to the corpus).

    Scale shape: encode/scan is narrow; ADC scoring emits a map-side
    partial top-``shortlist`` per query; only shortlist x |queries|
    rows join back to the raw vectors for the exact re-rank."""
    import numpy as np
    import pandas as pd

    short = shortlist if shortlist is not None else max(4 * k, 64)
    qrows = queries.select("query_id", "query_vec").collect()
    if not qrows:
        raise ValueError("empty queries")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    m = len(codebooks)
    sub = len(codebooks[0][0])
    books = [np.array(b, dtype=np.float64) for b in codebooks]
    # LUT[j][s][c]: query j's dot with code c of subspace s
    lut = np.stack(
        [Q[:, s * sub : (s + 1) * sub] @ books[s].T for s in range(m)], axis=1
    )  # (n_queries, m, n_codes)
    enc = codes if codes is not None else pq_encode(corpus, codebooks, id_col, vec_col)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, lut))

    def adc(batches):
        bqids, blut = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (batch, m)
            ids = pdf[id_col].to_numpy()
            sub_idx = np.arange(m)
            parts = []
            for j, qid in enumerate(bqids):
                score = blut[j][sub_idx[None, :], C].sum(axis=1)  # (batch,)
                mask = ids != qid
                cids, cval = ids[mask], score[mask]
                if cids.size == 0:
                    continue
                parts.append(_partial_topk_frame(qid, cids, cval, short, id_col))
            if parts:
                yield pd.concat(parts, ignore_index=True)

    cand = enc.select(id_col, "codes").mapInPandas(
        adc, f"query_id long, {id_col} long, cosine double"
    )
    # exact re-rank of the ADC shortlist: true-vector cosine, bounded
    # to shortlist x |queries| rows — restores exact scoring on the
    # approximate candidate set
    shortlisted = (
        _rank_topk(cand, id_col, short)
        .select("query_id", id_col)
        .join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(queries.select("query_id", "query_vec")), "query_id")
    )
    from hadoop_app_spark.functions.vectors import cosine_similarity

    exact = shortlisted.select(
        "query_id",
        id_col,
        cosine_similarity(vec_col, "query_vec").alias("cosine"),
    )
    return _rank_topk(exact, id_col, k)
