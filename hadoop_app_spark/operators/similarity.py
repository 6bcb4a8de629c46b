"""Similarity search over embedding columns (array<float>).

Beyond-reference surface (north star):
- brute_force_topk: exact cosine top-k — the correctness baseline.
  Query side is broadcast (queries are few); the corpus never
  shuffles; per-partition scoring then a global TakeOrdered of
  k rows per query. Linear in corpus size — the right baseline, and
  at 100 TB the thing the ANN path is measured against.
- lsh_topk: random-hyperplane (sign) LSH bucketing — the scale path.
  Probes score only their bucket; recall traded via n_planes/n_tables.
  Hyperplanes are deterministic (fixed seed) so results are
  reproducible run-to-run.
- ivf_topk: Voronoi cells around centroids, n_probe cells per query.
- embedding_near_dups: cosine >= threshold pairs within an LSH bucket.

One kernel per operator — whichever ran faster on the registry's
64-dim embeddings. Median seconds per registry query on 4 cores, HOF
fold vs numpy kernel, at 500 / 2,000 rows:

  brute_force_topk     0.48 vs 0.67 / 0.36 vs 0.49   -> HOF
  lsh_topk             1.06 vs 0.62 / 0.79 vs 0.48   -> numpy
  ivf_topk             0.95 vs 0.60 / 1.10 vs 0.59   -> numpy
  embedding_near_dups  0.68 vs 0.81 / 0.90 vs 0.68   -> numpy

embedding_near_dups keeps numpy although the HOF self-join is faster
at 500 rows: the self-join emits one row per within-bucket pair, so its
cost grows with bucket size and it already loses at 2,000 rows.

- brute_force_topk folds in Catalyst higher-order functions (zip_with /
  aggregate, see functions.vectors). With every corpus row scored, the
  JVM fold beats the Arrow round trip a numpy kernel pays, and its
  left-fold cosines are the values the DuckDB oracle and
  streaming.similarity reproduce.
- lsh_topk, ivf_topk and embedding_near_dups run numpy over Arrow
  batches (mapInPandas): bucket/cell assignment and scoring are
  matmuls with a map-side partial top-k, so lsh_topk and ivf_topk
  never shuffle the corpus and no interpreted per-pair expression tree
  runs. BLAS accumulation order can move a cosine by an ulp against
  the oracles' left fold, so these are rank/pair-set exact against
  their oracles, not value exact.
  Rows with a null vector are dropped inside the kernel: a null
  embedding has no cosine, so it can never rank or pass a threshold.

Background (public literature, see PAPERS.md): distributed top-k
similarity with local index structures per partition (REPOSE, ICDE
2021) and adaptive pruning of candidates (Continuously Adaptive
Similarity Search, SIGMOD 2020) — the bucket-join shapes here are the
DataFrame-native forms of those candidate-pruning ideas.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_app_spark.functions.vectors import cosine_similarity, dot, matrix_lit

_SEED = 42
# rows per blocked matmul in embedding_near_dups' per-bucket kernel
_NEAR_DUP_BLOCK = 2048


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: [query_id, vec_id, cosine, rank].

    queries: [query_id, query_vec]. Self-matches (query_id == vec_id)
    are excluded so a corpus vector can query its own corpus. A null
    vector on either side has no cosine (``cosine_similarity`` would
    score it 0.0, level with an orthogonal vector), so its rows are
    dropped before the join.
    """
    corpus = corpus.where(F.col(vec_col).isNotNull())
    queries = queries.where(F.col("query_vec").isNotNull())
    joined = corpus.join(F.broadcast(queries), F.col(id_col) != F.col("query_id"))
    scored = joined.select(
        "query_id",
        id_col,
        cosine_similarity(vec_col, "query_vec").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def _np_normalize(X):
    import numpy as np

    return X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)


def _np_buckets(X, P):
    """Sign-LSH bucket ints for rows of X against hyperplane matrix P:
    bit i = (x . p_i) > 0 — the sign test the DuckDB oracles inline with
    the same hyperplanes. (BLAS accumulation order differs from the
    oracle's left fold; a dot exactly at 0.0 could in principle flip a
    bit — measure-zero on real data, the oracles pin the buckets.)"""
    import numpy as np

    bits = (X @ P.T) > 0  # (n, p) bool
    weights = (1 << np.arange(P.shape[0], dtype=np.int64))
    return bits.astype(np.int64) @ weights


def _batch_vectors(pdf, id_col: str, vec_col: str):
    """(ids, X) of one Arrow batch with null-vector rows dropped."""
    import numpy as np

    pdf = pdf[pdf[vec_col].notna()]
    return pdf[id_col].to_numpy(), np.array(pdf[vec_col].tolist(), dtype=np.float64)


def _query_matrix(queries: DataFrame):
    """(query ids, query matrix) collected from [query_id, query_vec]."""
    import numpy as np

    qrows = queries.select("query_id", "query_vec").collect()
    if not qrows:
        raise ValueError("empty queries")
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    return qids, np.array([list(r[1]) for r in qrows], dtype=np.float64)


def _partial_topk_frame(qid, ids, vals, k, id_col):
    """Stable partial top-k with the final (cosine desc, id asc) tiebreak."""
    import numpy as np
    import pandas as pd

    order = np.lexsort((ids, -vals))[:k]
    return pd.DataFrame({"query_id": qid, id_col: ids[order], "cosine": vals[order]})


def _rank_topk(cand: DataFrame, id_col: str, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return cand.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplanes(dim: int, n_planes: int, seed: int = _SEED) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (Box-Muller over a
    simple LCG — no numpy dependency in the plan, reproducible)."""
    state = seed

    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        return state / float(1 << 63)

    planes = []
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            u1, u2 = max(rnd(), 1e-12), rnd()
            v.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: score only the corpus vectors that share the
    query's sign-LSH bucket -> [query_id, vec_id, cosine, rank].

    One mapInPandas over the corpus does bucket assignment (sign
    matmul) AND masked cosine scoring per Arrow batch with a map-side
    partial top-k — the corpus never shuffles, and the exchange carries
    at most partitions x m x k rows. At scale a query scores
    ~1/2^n_planes of the corpus instead of all of it.

    ``n_tables`` > 1 is OR-amplification: each table hashes with an
    independent hyperplane set (seed _SEED+t), and a corpus vector is a
    candidate for query j when ANY table's buckets agree — an any() over
    per-table equality masks, so a pair scores once however many tables
    it collides in. Recall rises steeply (a true neighbor only needs to
    agree on one table's n_planes signs) at candidate-set cost
    ~x n_tables — the standard LSH recall knob.
    """
    import numpy as np

    Ps = [
        np.array(_hyperplanes(dim, n_planes, _SEED + t), dtype=np.float64)
        for t in range(n_tables)
    ]
    qids, Q = _query_matrix(queries)
    qbuckets = [_np_buckets(Q, P) for P in Ps]
    Qn = _np_normalize(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn, qbuckets, Ps))
    out_schema = f"query_id long, {id_col} long, cosine double"

    def score(batches):
        bqids, bQn, bqbuckets, bPs = bq.value
        for pdf in batches:
            ids, X = _batch_vectors(pdf, id_col, vec_col)
            if ids.size == 0:
                continue
            buckets = [_np_buckets(X, P) for P in bPs]
            Xn = _np_normalize(X)
            C = Xn @ bQn.T  # (batch, m)
            for j, qid in enumerate(bqids):
                mask = ids != qid
                any_table = buckets[0] == bqbuckets[0][j]
                for t in range(1, len(bPs)):
                    any_table |= buckets[t] == bqbuckets[t][j]
                mask &= any_table
                if not mask.any():
                    continue
                yield _partial_topk_frame(qid, ids[mask], C[mask, j], k, id_col)

    cand = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(cand, id_col, k)


def train_ivf_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    iters: int = 3,
    seed_on_sample: int | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the deterministic first-k seed —
    the trained-index upgrade for ``ivf_topk``'s ``centroid_source``.

    Scale shape per iteration: cell assignment is a per-row argmax over
    the centroid matrix inlined as ONE literal (no shuffle, one corpus
    scan); the update is posexplode to (cell, dim, value) feeding a
    partial-combine hash aggregation, and only k x dim mean rows ever
    reach the driver. Empty cells keep their previous centroid. Seeding
    (first k by id) is deterministic; the float means inherit Spark's
    aggregation order, so trained centroids are bit-stable only
    per-plan — keep trained IVF out of value-hash oracles (rank-set
    checks in pytest instead, like the other engine-seeded structures).

    Seeding is farthest-point (greedy k-center): k-1 rounds, each a
    per-row min-distance-to-chosen projection followed by a 1-row
    TakeOrdered — deterministic (ties by ascending id) and bounded,
    unlike first-k-by-id which can drop every seed into one cluster
    and strand Lloyd's in a degenerate partition.

    When to train (measured, BASELINE.md r3): on clustered corpora
    (real embedding data) trained cells are decisive — the pytest
    fixture reaches recall 1.0 at n_probe=1 where first-k seeding
    cannot; on near-uniform data training does NOT improve recall at a
    matched scan budget, so the cheap deterministic seeds are fine.

    ``seed_on_sample``: when set (an int sample size), farthest-point
    seeding runs driver-side in numpy over a deterministic
    hash-ordered sample of that many vectors — ONE Spark job instead
    of k-1 sequential full-corpus argmax scans. At production scale
    the sequential seeding rounds dominate training (measured: 16
    centroids = 15 extra jobs, ~8s of pure scheduling at sf0.01);
    k-means seeding on a bounded sample is the standard recipe and the
    sample is hash-ordered (xxhash64 of the id), so it is reproducible
    and content-independent. Lloyd's refinement stays distributed and
    identical. Default None keeps the exact full-corpus seeding.

    Returns DataFrame[id_col, vec_col(array<double>)] for
    ``centroid_source``.
    """
    spark = corpus.sparkSession
    if seed_on_sample is not None:
        import numpy as np

        rows = (
            corpus.select(id_col, vec_col)
            .orderBy(F.xxhash64(F.col(id_col)), F.col(id_col))
            .limit(int(seed_on_sample))
            .collect()
        )
        if not rows:
            raise ValueError("empty corpus")
        # sample arrives hash-ordered; re-sort by id so "first" and the
        # ascending-id tie-break match the full-corpus seeding contract
        rows.sort(key=lambda r: r[0])
        X = np.array([list(r[1]) for r in rows], dtype=np.float64)
        chosen = [0]
        d2 = ((X - X[0]) ** 2).sum(axis=1)
        while len(chosen) < min(n_centroids, len(rows)):
            nxt = int(np.argmax(d2))  # first max == lowest id on ties
            chosen.append(nxt)
            d2 = np.minimum(d2, ((X - X[nxt]) ** 2).sum(axis=1))
        cents = [[float(x) for x in X[i]] for i in chosen]
    else:
        first = corpus.orderBy(id_col).select(id_col, vec_col).head(1)
        if not first:
            raise ValueError("empty corpus")
        cents = [[float(x) for x in first[0][1]]]
        while len(cents) < n_centroids:
            matrix = matrix_lit(cents)
            # squared L2 distance to the nearest chosen seed
            d2 = F.array_min(
                F.transform(
                    matrix,
                    lambda c: F.aggregate(
                        F.zip_with(F.col(vec_col), c, lambda a, b: (a - b) * (a - b)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ),
                )
            )
            far = (
                corpus.select(F.col(id_col), F.col(vec_col), d2.alias("_d2"))
                .orderBy(F.col("_d2").desc(), F.col(id_col).asc())
                .head(1)
            )
            cents.append([float(x) for x in far[0][1]])
    for _ in range(iters):
        matrix = matrix_lit(cents)
        dots = F.transform(matrix, lambda c: dot(F.col(vec_col), c))
        cell = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
        means = (
            corpus.select(cell.alias("cell"), F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = float(r["m"])

        def spherical(mean_vec: list[float]) -> list[float]:
            # cell membership and probe order are max-DOT comparisons, so
            # this is spherical k-means: a raw mean shrinks in norm and
            # biases every dot comparison toward longer centroids —
            # project each update back to the unit sphere
            norm = math.sqrt(sum(x * x for x in mean_vec))
            return [x / norm for x in mean_vec] if norm > 0 else mean_vec

        cents = [
            spherical([by_cell[i][d] for d in range(len(cents[i]))]) if i in by_cell else cents[i]
            for i in range(len(cents))
        ]
    return spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], f"{id_col} long, {vec_col} array<double>"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: Voronoi-partition the corpus around centroids,
    probe only the ``n_probe`` nearest cells per query.

    ``centroid_source`` lets the caller hand in a cheaper-to-scan
    frame for the one-time centroid fetch (e.g. the raw table before
    any repartition) — the fetch is a driver-side TakeOrdered of
    n_centroids rows and should not pay the corpus' shuffle.

    Centroid choice is training-free and deterministic — the
    ``n_centroids`` lowest-id vectors of ``centroid_source`` (or hand in
    ``train_ivf_centroids``; index structure and probe path are
    identical, which is what matters for the plan shape).

    Scale shape: centroids and queries are collected once (tiny) and
    broadcast; one mapInPandas pass does cell assignment (argmax over a
    batch x centroids matmul) and probe-masked cosine scoring with a
    map-side partial top-k — the corpus is scanned once and never
    shuffles, and each query scores ~n_probe/n_centroids of it.

    Ties: cell = first index attaining the max dot; probe order is
    (dot desc, centroid index asc); final rank ties break by ascending
    id.
    """
    import numpy as np

    src = centroid_source if centroid_source is not None else corpus
    cents = (
        src.where(F.col(vec_col).isNotNull())
        .orderBy(id_col)
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    if not cents:
        raise ValueError("empty corpus")
    C = np.array([list(r[0]) for r in cents], dtype=np.float64)  # (c, dim)
    qids, Q = _query_matrix(queries)
    # probe cells per query: top n_probe by (dot desc, idx asc)
    qdots = Q @ C.T
    probe = np.stack(
        [np.lexsort((np.arange(C.shape[0]), -qdots[j]))[:n_probe] for j in range(len(qids))]
    )
    Qn = _np_normalize(Q)
    bq = corpus.sparkSession.sparkContext.broadcast((qids, Qn, probe, C))
    out_schema = f"query_id long, {id_col} long, cosine double"

    def score(batches):
        bqids, bQn, bprobe, bC = bq.value
        for pdf in batches:
            ids, X = _batch_vectors(pdf, id_col, vec_col)
            if ids.size == 0:
                continue
            # np.argmax returns the first index attaining the max dot
            cells = np.argmax(X @ bC.T, axis=1)
            Xn = _np_normalize(X)
            Cs = Xn @ bQn.T
            for j, qid in enumerate(bqids):
                mask = np.isin(cells, bprobe[j]) & (ids != qid)
                if not mask.any():
                    continue
                yield _partial_topk_frame(qid, ids[mask], Cs[mask, j], k, id_col)

    cand = corpus.select(id_col, vec_col).mapInPandas(score, out_schema)
    return _rank_topk(cand, id_col, k)


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    threshold: float = 0.95,
    n_planes: int = 6,
) -> DataFrame:
    """Near-duplicate pairs [id_a, id_b, cosine] with id_a < id_b and
    cosine >= threshold, candidate-limited to same-LSH-bucket pairs (no
    O(n^2) cross product).

    Shape: one mapInPandas assigns buckets (sign matmul), ONE shuffle
    co-locates each bucket, then applyInPandas scores the within-bucket
    pairs as blocked matmuls instead of expanding every within-bucket
    pair into a row. Blocked (``_NEAR_DUP_BLOCK`` rows at a time) so a
    skewed bucket costs O(n_b^2) float ops but only O(block * n_b)
    memory.
    """
    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(dim, n_planes), dtype=np.float64)
    bp = df.sparkSession.sparkContext.broadcast(planes)
    assign_schema = f"{id_col} long, {vec_col} array<double>, bucket int"

    def assign(batches):
        for pdf in batches:
            ids, X = _batch_vectors(pdf, id_col, vec_col)
            if ids.size == 0:
                continue
            yield pd.DataFrame(
                {
                    id_col: ids,
                    vec_col: list(X),
                    "bucket": _np_buckets(X, bp.value).astype(np.int32),
                }
            )

    bucketed = df.select(id_col, vec_col).mapInPandas(assign, assign_schema)

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        ids, X = _batch_vectors(pdf, id_col, vec_col)
        Xn = _np_normalize(X)
        out = []
        for lo in range(0, n, _NEAR_DUP_BLOCK):
            hi = min(lo + _NEAR_DUP_BLOCK, n)
            Cb = Xn[lo:hi] @ Xn.T  # (hi-lo, n)
            bi, bj = np.nonzero(Cb >= threshold)
            keep = (bi + lo) < bj  # upper triangle only: each pair once
            if not keep.any():
                continue
            ia, ib = ids[bi[keep] + lo], ids[bj[keep]]
            cos = Cb[bi[keep], bj[keep]]
            swap = ia > ib
            ia2 = np.where(swap, ib, ia)
            ib2 = np.where(swap, ia, ib)
            out.append(pd.DataFrame({"id_a": ia2, "id_b": ib2, "cosine": cos}))
        if not out:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        return pd.concat(out, ignore_index=True)

    return bucketed.groupBy("bucket").applyInPandas(bucket_pairs, "id_a long, id_b long, cosine double")
