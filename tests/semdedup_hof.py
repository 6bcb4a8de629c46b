"""Reference SemDeDup in Catalyst higher-order functions, for tests only.

The centroid matrix is inlined as one plan literal and each row folds
cosine over it; the duplicate test is a self-join on the cluster key.
It computes the same survivor set as ``operators.semdedup`` by another
route (an interpreted per-pair cosine instead of a blocked matmul), so
it checks that kernel where no SQL oracle exists: with trained centroids.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_app_spark.functions.vectors import cosine_similarity, matrix_lit


def assign_clusters_hof(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """-> (id, vec, cluster, csim): argmax of cosine over the inlined
    centroid matrix; ties go to the lowest centroid id."""
    src = centroid_source if centroid_source is not None else df
    cents = [
        (r[0], [float(x) for x in r[1]])
        for r in src.orderBy(id_col).limit(n_clusters).select(id_col, vec_col).collect()
    ]
    if not cents:
        raise ValueError("empty centroid source")
    matrix = matrix_lit([v for _, v in cents])
    cent_ids = F.lit([i for i, _ in cents]).cast(
        f"array<{df.schema[id_col].dataType.simpleString()}>"
    )
    sims = F.transform(matrix, lambda c: cosine_similarity(F.col(vec_col), c))
    best = F.array_position(sims, F.array_max(sims)).cast("int")
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.element_at(cent_ids, best).alias("cluster"),
        F.array_max(sims).alias("csim"),
    )


def semdedup_survivors_hof(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 16,
    threshold: float = 0.85,
    centroid_source: DataFrame | None = None,
) -> DataFrame:
    """-> (id, cluster): x is dropped iff a same-cluster y with
    cos(x, y) >= threshold ranks before it under (csim, id)."""
    assigned = assign_clusters_hof(
        df, id_col, vec_col, n_clusters, centroid_source
    ).localCheckpoint(eager=False)
    x = assigned.select(
        F.col(id_col).alias("_xid"),
        F.col(vec_col).alias("_xv"),
        F.col("cluster"),
        F.col("csim").alias("_xs"),
    )
    y = assigned.select(
        F.col(id_col).alias("_yid"),
        F.col(vec_col).alias("_yv"),
        F.col("cluster"),
        F.col("csim").alias("_ys"),
    )
    ranked_before = (F.col("_ys") < F.col("_xs")) | (
        (F.col("_ys") == F.col("_xs")) & (F.col("_yid") < F.col("_xid"))
    )
    dropped = (
        x.join(y, "cluster")
        .where(
            (F.col("_xid") != F.col("_yid"))
            & ranked_before
            & (cosine_similarity("_xv", "_yv") >= F.lit(threshold))
        )
        .select(F.col("_xid").alias(id_col))
        .distinct()
    )
    return assigned.join(dropped, id_col, "left_anti").select(id_col, "cluster")
