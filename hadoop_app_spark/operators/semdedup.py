"""SemDeDup: semantic deduplication in embedding space (Abbas et al.
2023, arXiv:2303.09540).

Beyond-reference surface (north star dedup family): the EMBEDDING-
cluster-scoped member — where MinHash/SimHash/winnowing catch lexical
near-duplicates, SemDeDup removes documents that SAY the same thing
in different words. The published recipe: k-means the embeddings,
compute pairwise cosine within each cluster only, and inside every
duplicate group keep the example with the LOWEST cosine similarity
to its cluster centroid (retain hard/atypical examples, drop the
redundant prototypical ones).

Decomposition here (one bounded collect, two numpy kernels):
1. centroids: the ``n_clusters`` lowest-id vectors (deterministic
   farthest-thing-from-random seeding is deliberately NOT used so the
   DuckDB oracle can recompute the centroids with ORDER BY/LIMIT; at
   deployment scale pass ``centroid_source`` = trained IVF centroids
   from operators/similarity.train_ivf_centroids — same plan shape);
2. assignment: the centroids travel as ONE broadcast (k, d) float64
   ndarray and each Arrow batch pays one BLAS matmul + argmax — a
   narrow map, ties to the lowest centroid id;
3. duplicate test: ONE exchange on the cluster key, then a per-cluster
   kernel (the SemDeDup trick — pairwise cosine is quadratic per
   cluster, never corpus-wide) computes the pairwise cosines as a
   blocked matmul;
4. keep rule: drop x iff some same-cluster y with cos >= threshold
   ranks before it under (centroid_sim ASC, id ASC) — i.e. the
   LOWEST-centroid-sim member of every duplicate group survives.

Scale shape (100 TB): the centroid collect is n_clusters rows
(n_clusters grows with the corpus — it is the knob that bounds
cluster population and hence the per-cluster quadratic, and growing
it grows only the broadcast, never the plan); assignment never
shuffles; the only exchange is the hash partition on the cluster key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _unit_rows(vectors, d: int | None = None):
    """Row-normalized float64 matrix of an embedding column. A NULL
    vector counts as ``d`` zeros (default: the first non-null vector's
    length): cosine 0.0 to everything, as
    functions.vectors.cosine_similarity scores it."""
    import numpy as np

    vectors = list(vectors)
    if any(v is None for v in vectors):
        if d is None:
            d = next((len(v) for v in vectors if v is not None), 0)
        vectors = [np.zeros(d) if v is None else v for v in vectors]
    x = np.array(vectors, dtype=np.float64)
    return x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)


def assign_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """-> (id, vec, cluster, csim): nearest-centroid assignment by
    cosine. ``cluster`` is the centroid's OWN id (stable across runs
    and engines, unlike a positional index) and keeps ``id_col``'s
    type; ``csim`` the cosine to it. Centroids default to the
    n_clusters lowest-id rows of *df*.

    argmax takes the FIRST maximum and the centroid rows are collected
    in ascending id order, so ties resolve to the lowest centroid id.
    No shuffle: one corpus scan, k*d*8 bytes broadcast once per
    executor, O(batch x k x d) BLAS per batch."""
    import numpy as np
    import pandas as pd

    src = centroid_source if centroid_source is not None else df
    cents = src.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    if not cents:
        raise ValueError("empty centroid source")
    cid = np.asarray([r[0] for r in cents])
    cnorm = _unit_rows(r[1] for r in cents)
    bc = df.sparkSession.sparkContext.broadcast((cid, cnorm))
    id_t = df.schema[id_col].dataType.simpleString()
    vec_t = df.schema[vec_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, {vec_col} {vec_t}, cluster {id_t}, csim double"

    def assign(batches):
        bcid, bcn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            sims = _unit_rows(pdf[vec_col], bcn.shape[1]) @ bcn.T  # (batch, k)
            best = sims.argmax(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    vec_col: pdf[vec_col],
                    "cluster": bcid[best],
                    "csim": sims[np.arange(len(best)), best],
                }
            )

    return df.select(id_col, vec_col).mapInPandas(assign, out_schema)


def semdedup_survivors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.85,
    centroid_source: DataFrame | None = None,
    block_rows: int = 1024,
) -> DataFrame:
    """-> (id, cluster): rows surviving SemDeDup at ``threshold``.

    Within each cluster, x is dropped iff some other member y has
    cos(x, y) >= threshold and (y.csim, y.id) < (x.csim, x.id) —
    so exactly one member of every duplicate group (the one least
    similar to the centroid = hardest example) survives, and
    unclustered duplicates (cos >= threshold but different clusters)
    are NOT dropped, faithfully to the published algorithm.

    The test runs as ONE applyInPandas kernel per cluster: members
    sorted by (csim asc, id asc), pairwise cosine via blocked matmul,
    x dropped iff any strictly-earlier y has cos >= threshold.
    ``block_rows`` bounds kernel memory at block_rows x cluster_size
    doubles; cluster population itself is bounded by growing
    n_clusters with the corpus (the SemDeDup contract)."""
    import numpy as np
    import pandas as pd

    assigned = assign_clusters(df, id_col, vec_col, n_clusters, centroid_source)
    id_t = df.schema[id_col].dataType.simpleString()
    out_schema = f"{id_col} {id_t}, cluster {id_t}"

    def keep(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        if m == 0:
            return pd.DataFrame({id_col: [], "cluster": []})
        order = np.lexsort((pdf[id_col].to_numpy(), pdf["csim"].to_numpy()))
        ids = pdf[id_col].to_numpy()[order]
        clus = pdf["cluster"].to_numpy()[order]
        xn = _unit_rows(pdf[vec_col])[order]
        dropped = np.zeros(m, dtype=bool)
        for s in range(0, m, block_rows):
            e = min(s + block_rows, m)
            sims = xn[s:e] @ xn[:e].T  # rows s..e vs every member up to e
            rows = np.arange(s, e)[:, None]
            cols = np.arange(e)[None, :]
            # y must rank STRICTLY before x; dropped y still drop x
            # (the published rule)
            dropped[s:e] = ((sims >= threshold) & (cols < rows)).any(axis=1)
        keep_mask = ~dropped
        return pd.DataFrame({id_col: ids[keep_mask], "cluster": clus[keep_mask]})

    return assigned.groupBy("cluster").applyInPandas(keep, out_schema)
