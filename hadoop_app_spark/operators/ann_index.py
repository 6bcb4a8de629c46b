"""Persisted IVF ANN index — index-as-a-table (build / query / append).

`operators/similarity.ivf_topk` assigns cells inside its per-query
scoring kernel: every call re-scans and re-assigns the whole corpus. A real
100 TB embedding store cannot do that — the index must be a TABLE on
disk whose layout makes each query touch only its probe cells, and
whose daily growth is an append, not a rebuild (the ANN sibling of
`operators/dedup.dedup_increment`'s persisted MinHash band index).

Layout:

- **build_ivf_index**: assign each vector's Voronoi cell via an
  inlined-centroid argmax (first max wins, as in `ivf_topk`; one scan,
  NO shuffle), then write parquet PARTITIONED BY ``cell`` — each cell
  is a directory (``cell=K/``), so a probe's ``cell IN (...)``
  predicate becomes Catalyst PARTITION PRUNING: unprobed cells are
  never opened, never read, never decoded. Centroids land in a ``_ivf_centroids/`` sidecar
  (``_``-prefix: invisible to plain scans, the `_bloom_index`
  convention from sources/skipping.py).
- **query_ivf_index**: load the sidecar (n_centroids rows — bounded by
  construction), pick each query's ``n_probe`` nearest cells
  driver-side (n_queries x n_centroids dots over a BOUNDED query
  batch — the documented collect class), scan ONLY the union of
  probed cell directories, broadcast the (query, cell) probe pairs
  onto the int cell key, score exact cosine, rank top-k.
- **append_ivf_index**: assign a new batch against the SIDECAR
  centroids (the index's cell structure is immutable once built — the
  standard IVF contract; rebuild when drift warrants) and append its
  partitioned files. Work is proportional to the batch; existing
  files and the sidecar are untouched.

Determinism: centroids are the ``n_centroids`` lowest-id vectors (the
engine's oracle-replayable convention, `ivf_topk`'s default); cell
assignment and probe order break ties by centroid index; dot products
accumulate left-to-right in every engine (Spark ``aggregate``, the
driver loop here, DuckDB ``list_reduce``) so the cell/probe decisions
are bit-identical cross-engine and the whole query path shares
`_IVF_ORACLE` with the in-memory form.

At 100 TB: n_centroids grows to ~sqrt(N) (the IVF sizing rule), the
sidecar stays MB-scale, per-cell directories hold many files, and a
query reads n_probe/n_centroids of the corpus — the same fraction as
the in-memory path but with the non-probed fraction never leaving
disk. Scale knob left explicit rather than defaulted: callers size
``n_centroids`` to their corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_app_spark.functions.vectors import cosine_similarity, dot, matrix_lit
from hadoop_app_spark.operators.similarity import _rank_topk

CENTROID_DIR = "_ivf_centroids"


def _cell_expr(matrix, vec_col: str):
    """First index attaining the max dot — `ivf_topk`'s assignment."""
    dots = F.transform(matrix, lambda c: dot(F.col(vec_col), c))
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def _read_sidecar_local(spark: SparkSession, path: str) -> list[dict] | None:
    """Rows of a tiny sidecar parquet dir read DRIVER-SIDE via pyarrow
    when the path is driver-local — the sidecars are bounded metadata
    (n_centroids / m x n_codes rows), and reading them through a Spark
    job cost ~0.25 s each on every probe (r12). Returns None when the
    path is not provably local, pyarrow is unavailable, or the dir has
    no parquet files; callers then fall back to the Spark read,
    preserving its error behavior (object stores and missing sidecars
    take the exact pre-r12 path).

    A scheme-less path is only treated as local when the Hadoop
    ``fs.defaultFS`` is ``file:`` — on a cluster whose default FS is
    HDFS, a coincident same-named directory on the driver's local disk
    must never shadow the real sidecar (ADVICE r12)."""
    p = path
    if p.startswith(("file://", "file:")):
        p = p.removeprefix("file://") if p.startswith("file://") else p[len("file:"):]
    elif "://" in p:
        return None
    else:
        default_fs = spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")
        if not default_fs.startswith("file:"):
            return None
    import glob
    import os

    files = sorted(glob.glob(os.path.join(p, "*.parquet")))
    if not files:
        return None
    try:
        import pyarrow.parquet as pq
    except ImportError:
        return None
    rows: list[dict] = []
    for f in files:
        rows.extend(pq.read_table(f).to_pylist())
    return rows


def _load_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    local = _read_sidecar_local(spark, f"{path}/{CENTROID_DIR}")
    if local is not None:
        rows = sorted(local, key=lambda r: r["c_idx"])
    else:
        rows = spark.read.parquet(f"{path}/{CENTROID_DIR}").orderBy("c_idx").collect()
    if not rows:
        # shared by both paths: a present-but-empty sidecar must fail
        # loudly, never feed _cell_expr a zero-row matrix (ADVICE r12)
        raise ValueError(f"no IVF centroid sidecar under {path}")
    return [list(r["cv"]) for r in rows]


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroid_source: DataFrame | None = None,
) -> None:
    """Write ``corpus`` as a cell-partitioned IVF index at ``path``.

    ``centroid_source`` mirrors `ivf_topk`'s: a cheaper frame for the
    one-time bounded centroid fetch (n_centroids lowest-id vectors).
    """
    spark = corpus.sparkSession
    src = centroid_source if centroid_source is not None else corpus
    cents = [
        [float(x) for x in r[1]]
        for r in src.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    ]
    if not cents:
        raise ValueError("empty corpus")
    matrix = matrix_lit(cents)
    # repartition on cell first: each cell's rows converge to one task,
    # so partitionBy emits ONE file per cell instead of (tasks x cells)
    # small files — the small-file problem maintenance.compact_parquet
    # exists to fix, avoided at write time here
    (
        corpus.withColumn("cell", _cell_expr(matrix, vec_col))
        .repartition(max(n_centroids, 1), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "c_idx int, cv array<double>"
    ).write.mode("overwrite").parquet(f"{path}/{CENTROID_DIR}")


def _probe_cells(
    centroids: list[list[float]], qvec: list[float], n_probe: int
) -> list[int]:
    """The query's n_probe nearest cells, ties by centroid index —
    the probe order `ivf_topk` and `_IVF_ORACLE` use. Left-to-right
    accumulation matches Spark/DuckDB bit-for-bit."""
    dots = []
    for idx, c in enumerate(centroids):
        acc = 0.0
        for a, b in zip(qvec, c):
            acc += a * b
        dots.append((-acc, idx))
    dots.sort()
    return [idx for _, idx in dots[:n_probe]]


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
) -> DataFrame:
    """Top-k cosine neighbors for each query, scanning ONLY probed
    cell partitions of the persisted index.

    ``queries`` is [query_id, query_vec] and is collected — a query
    BATCH is bounded by contract (the serving path's unit of work),
    unlike the corpus, which stays distributed and partition-pruned.
    """
    centroids = _load_centroids(spark, path)
    qrows = queries.select("query_id", "query_vec").collect()
    probes = [
        (r["query_id"], list(r["query_vec"]), _probe_cells(centroids, list(r["query_vec"]), n_probe))
        for r in qrows
    ]
    all_cells = sorted({c for _, _, cells in probes for c in cells})
    if not all_cells:
        raise ValueError("no queries")
    probed = spark.createDataFrame(
        [(qid, qv, c) for qid, qv, cells in probes for c in cells],
        "query_id long, query_vec array<double>, cell int",
    )
    # the isin literal is what Catalyst turns into PartitionFilters —
    # unprobed cell directories are pruned at planning time
    indexed = spark.read.parquet(path).where(F.col("cell").isin(all_cells))
    joined = indexed.join(F.broadcast(probed), "cell").where(
        F.col(id_col) != F.col("query_id")
    )
    scored = joined.select(
        "query_id",
        id_col,
        cosine_similarity(vec_col, "query_vec").alias("cosine"),
    )
    return _rank_topk(scored, id_col, k)


def append_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
) -> None:
    """Append a batch into an existing index: assign cells against the
    persisted sidecar centroids, append partitioned files. Work scales
    with the batch, never the index.

    ``centroids`` lets a RECURRING caller (the streaming ingest sink,
    which appends one batch per micro-batch against an immutable
    sidecar) load the centroid sidecar once and skip the per-call
    read+collect; None (the default) reads the sidecar fresh."""
    spark = new_vecs.sparkSession
    cents = centroids if centroids is not None else _load_centroids(spark, path)
    matrix = matrix_lit(cents)
    (
        new_vecs.withColumn("cell", _cell_expr(matrix, vec_col))
        .repartition(max(len(cents), 1), F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def cell_occupancy_profile(spark: SparkSession, path: str) -> DataFrame:
    """One-row occupancy-skew profile of the index's cells — the
    decision diagnostic for `rebuild_ivf_index` (VERDICT r9 item 4):
    the cells are immutable once built, so under sustained DRIFTED
    appends new vectors pile into the few cells nearest the drifted
    region — both recall (coarser cells) and pruning (a probe hits the
    fat cells) degrade. This is `operators/skew.key_skew_profile` over
    the cell key: one grouped count of the index (reading only the
    partition column — a metadata-cheap scan), shares in integer
    milli-units. Read it like any skew profile: ``max_share_milli``
    near 1000/n_probe means a single probed cell carries a probe-sized
    fraction of the corpus — rebuild."""
    from hadoop_app_spark.operators.skew import key_skew_profile

    return key_skew_profile(spark.read.parquet(path).select("cell"), "cell")


def rebuild_ivf_index(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> None:
    """Re-train centroids from the CURRENT corpus and re-partition the
    index in place — the maintenance op that restores recall and
    pruning after drifted appends have skewed the immutable cell
    structure (`cell_occupancy_profile` is the trigger diagnostic).

    Centroids follow the engine's deterministic convention (the
    ``n_centroids`` lowest-id vectors of the current corpus), so a
    rebuilt index holds EXACTLY the rows ``build_ivf_index`` over the
    same corpus would — only the cell structure changes, which is why
    the registry entry shares `_IVF_ORACLE` with the build.

    Swap discipline (ADVICE r10: a COMPLETE copy of the index exists
    under SOME name at every instant): the new layout is built
    COMPLETELY at a sibling ``path + '__rebuild'`` staging dir
    (reading the old index while writing elsewhere — never the
    read-and-overwrite lazy-plan hazard), then swapped in three
    renames: live -> ``path + '__old'``, staging -> live, delete
    ``__old``. A crash mid-build leaves the live index untouched; a
    crash between the two renames leaves BOTH the old index (at
    ``__old``) and the new one (at staging) complete, and re-running
    the rebuild detects the half-swapped state on entry (live path
    absent) and finishes the rename before rebuilding — the
    delete-then-rename window that could orphan the only copy is
    gone. At 100 TB the rebuild is one full re-assignment scan + one
    partitioned write — the amortized cost the append path avoids
    daily.
    """
    _recover_and_clear_staging(spark, path, "rebuild_ivf_index")
    cur = spark.read.parquet(path).select(id_col, vec_col)
    build_ivf_index(
        cur, path + "__rebuild", id_col, vec_col, n_centroids, centroid_source=cur
    )
    _swap_staging_in(spark, path, "rebuild_ivf_index")


def _recover_and_clear_staging(spark: SparkSession, path: str, opname: str) -> None:
    """Entry discipline shared by the rebuild ops (ADVICE r10: a
    COMPLETE copy of the index exists under SOME name at every
    instant): finish a half-swapped prior rebuild if the live path is
    absent, then clear any stale staging/aside dirs (appends may have
    landed since a crashed build — always rebuild from live)."""
    from hadoop_app_spark.sources import fs as hfs

    staging = path + "__rebuild"
    old = path + "__old"
    if not hfs.exists(spark, path):
        # half-swapped crash state: the prior rebuild renamed the live
        # index aside but died before renaming staging in — complete
        # that swap first so a live index exists to rebuild from
        if hfs.exists(spark, staging):
            if not hfs.rename(spark, staging, path):
                raise RuntimeError(
                    f"{opname}: recovery rename {staging} -> {path} failed"
                )
            hfs.delete(spark, old, recursive=True)
        elif hfs.exists(spark, old):
            # staging already renamed in by a parallel recovery, or the
            # crash hit between delete(path) of a legacy layout — the
            # aside copy is the only complete index: restore it
            if not hfs.rename(spark, old, path):
                raise RuntimeError(
                    f"{opname}: recovery rename {old} -> {path} failed"
                )
        else:
            raise ValueError(f"{opname}: no index at {path}")
    hfs.delete(spark, staging, recursive=True)
    hfs.delete(spark, old, recursive=True)


def _swap_staging_in(spark: SparkSession, path: str, opname: str) -> None:
    """The three-rename swap: live -> __old, staging -> live, delete
    __old. A crash between the renames leaves both copies complete;
    `_recover_and_clear_staging` finishes the swap on the next entry."""
    from hadoop_app_spark.sources import fs as hfs

    staging = path + "__rebuild"
    old = path + "__old"
    if not hfs.rename(spark, path, old):
        raise RuntimeError(f"{opname}: rename {path} -> {old} failed")
    if not hfs.rename(spark, staging, path):
        # put the live index back rather than leave no readable dir
        hfs.rename(spark, old, path)
        raise RuntimeError(f"{opname}: rename {staging} -> {path} failed")
    hfs.delete(spark, old, recursive=True)


PQ_CODEBOOK_DIR = "_pq_codebooks"


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    centroid_source: DataFrame | None = None,
    store_vectors: bool = True,
) -> None:
    """Write ``corpus`` as a cell-partitioned IVF×PQ index at ``path``
    — the memory-bounded composition production ANN ships at 100 TB
    (FAISS IVFPQ; VERDICT r10 item 5): IVF cells prune WHICH partitions
    a probe opens, and inside a probed cell each vector is ``m`` PQ
    code bytes instead of ``dim`` floats, so the scoring scan reads
    ~1% of the raw-embedding bytes even within the probed fraction.

    ONE pass builds it: cell assignment is the same inlined-centroid
    argmax as `build_ivf_index` (a narrow Catalyst column), and the PQ
    encode rides the same Arrow batch (`operators/pq.pq_encode` with
    the cell as a passthrough column) — no join, no second scan. Rows
    land partitioned by ``cell`` with columns ``(id, codes[, vec])``;
    with ``store_vectors`` (default) the raw vector rides in the SAME
    row so the exact re-rank stays self-contained — parquet stores
    columns separately, so ADC scans that select only ``(id, codes)``
    never read the vector bytes (column pruning on top of partition
    pruning). ``store_vectors=False`` is the strict-FAISS layout (codes
    only); queries then need a ``rerank_source``.

    Sidecars: ``_ivf_centroids`` (the `build_ivf_index` convention) and
    ``_pq_codebooks`` [(s, c, cv)] pin the geometry, so queries and
    future appends are self-describing.
    """
    spark = corpus.sparkSession
    from hadoop_app_spark.operators.pq import pq_encode

    src = centroid_source if centroid_source is not None else corpus
    cents = [
        [float(x) for x in r[1]]
        for r in src.orderBy(id_col).limit(n_centroids).select(id_col, vec_col).collect()
    ]
    if not cents:
        raise ValueError("empty corpus")
    celled = corpus.select(id_col, vec_col).withColumn(
        "cell", _cell_expr(matrix_lit(cents), vec_col)
    )
    passthrough = ["cell", vec_col] if store_vectors else ["cell"]
    rows = pq_encode(celled, codebooks, id_col, vec_col, passthrough=passthrough)
    (
        rows.repartition(max(n_centroids, 1), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    spark.createDataFrame(
        [(i, v) for i, v in enumerate(cents)], "c_idx int, cv array<double>"
    ).write.mode("overwrite").parquet(f"{path}/{CENTROID_DIR}")
    spark.createDataFrame(
        [
            (s, c, [float(x) for x in cv])
            for s, book in enumerate(codebooks)
            for c, cv in enumerate(book)
        ],
        "s int, c int, cv array<double>",
    ).write.mode("overwrite").parquet(f"{path}/{PQ_CODEBOOK_DIR}")


def build_trained_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    iters: int = 5,
    sample: int = 2048,
    centroid_source: DataFrame | None = None,
    store_vectors: bool = True,
) -> list[list[list[float]]]:
    """The PRODUCTION IVF×PQ build (VERDICT r11 item 4): train the PQ
    codebooks on a deterministic hash-ordered sample of the corpus
    (`operators/pq.train_pq_codebooks` — farthest-point seeded k-means
    per subspace, driver-side over ``sample`` rows), then build the
    cell-partitioned index with them (`build_ivfpq_index` — one corpus
    pass, codebooks pinned in the ``_pq_codebooks`` sidecar so appends
    and queries are self-describing). Returns the trained codebooks.

    Trained float-mean codebooks are engine-seeded floats, so this
    face is rows-only in the registry (the `semdedup_fast` convention)
    — the check that matters is `operators/retrieval.ann_recall` of
    the served configuration against brute-force ground truth, pinned
    at a stated floor (the `ivfpq_trained_recall` registry entry and
    tests/test_ann_index.py); the fixed-codebook twin stays the
    oracle-exact face of the same pipeline.

    Scale shape: training cost is bounded by ``sample`` (never corpus-
    scale); everything after is `build_ivfpq_index`'s one-pass build.
    """
    from hadoop_app_spark.operators.pq import train_pq_codebooks

    books = train_pq_codebooks(
        corpus, id_col, vec_col, m=m, n_codes=n_codes, iters=iters, sample=sample
    )
    build_ivfpq_index(
        corpus,
        path,
        books,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        centroid_source=centroid_source,
        store_vectors=store_vectors,
    )
    return books


def compact_index_partitions(spark: SparkSession, path: str) -> dict:
    """COMPACTION for the cell-partitioned ANN layouts (plain IVF and
    composed IVF×PQ): every append and every streamed micro-batch
    writes ~one file per touched cell, so a year of daily ingest
    leaves O(days) files per cell directory and probes pay per-file
    open costs inside the very cells they pruned down to — the
    small-file problem `compact_bucketed_table` fixes for bucketed
    tables, here for partition-dir layouts. Rewrites the layout to
    ~one file per cell (repartition on the cell key, then partitionBy
    — the build's own write shape), carrying the ``_ivf_centroids``
    and ``_pq_codebooks`` sidecars over unchanged, so cell structure,
    codes and probe answers are IDENTICAL (the registry entry shares
    the build's oracle; a lost row or cell value-fails the top-k).

    Swap discipline: the compacted layout is built COMPLETELY at the
    staging sibling, then swapped in via the shared three-rename dance
    (`rebuild_ivf_index`'s helpers) — a complete index stays readable
    under SOME name at every instant, and a crash mid-swap is finished
    on the next maintenance entry. Raises if the rewrite does not
    reduce the file count (a no-op compaction signals a mis-sized
    layout, the `compact_bucketed_table` convention). Returns
    ``{"files_before", "files_after", "cells"}``.
    """
    from hadoop_app_spark.sources import fs as hfs

    def _data_files(p: str) -> int:
        return sum(
            1
            for f in hfs.list_files(spark, p, recursive=True)
            if f["path"].endswith(".parquet")
            and CENTROID_DIR not in f["path"]
            and PQ_CODEBOOK_DIR not in f["path"]
        )

    _recover_and_clear_staging(spark, path, "compact_index_partitions")
    staging = path + "__rebuild"
    n_cells = len(_load_centroids(spark, path))
    files_before = _data_files(path)
    (
        spark.read.parquet(path)
        .repartition(max(n_cells, 1), F.col("cell"))
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(staging)
    )
    for side in (CENTROID_DIR, PQ_CODEBOOK_DIR):
        if hfs.exists(spark, f"{path}/{side}"):
            hfs.copy_dir(spark, f"{path}/{side}", f"{staging}/{side}")
    files_after = _data_files(staging)
    if files_after >= files_before:
        hfs.delete(spark, staging, recursive=True)
        raise RuntimeError(
            f"compact_index_partitions({path}): rewrite produced "
            f"{files_after} files from {files_before} — nothing to compact"
        )
    _swap_staging_in(spark, path, "compact_index_partitions")
    return {
        "files_before": files_before,
        "files_after": files_after,
        "cells": n_cells,
    }


def rebuild_ivfpq_index(
    spark: SparkSession,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    codebooks: list[list[list[float]]] | None = None,
    corpus: DataFrame | None = None,
) -> None:
    """Re-train the IVF cell structure of a composed IVF×PQ layout
    from the CURRENT corpus and re-partition in place —
    `rebuild_ivf_index` for the memory-bounded layout, completing the
    composed lifecycle (build / append / stream-ingest / query /
    recall-eval / REBUILD). Trigger it the same way: sustained drifted
    appends pile new vectors into the few cells nearest the drifted
    region (`cell_occupancy_profile` is the diagnostic) and both
    recall and pruning degrade, because cells AND codebooks are
    immutable under appends.

    Centroids follow the engine's deterministic convention (the
    ``n_centroids`` lowest-id vectors of the current corpus), and
    ``codebooks`` defaults to the SIDECAR-PINNED books (codes are a
    pure function of codebooks, so re-encoding under the same books
    reproduces every code) — a rebuilt index therefore holds EXACTLY
    the rows `build_ivfpq_index` over the same corpus would, which is
    why the registry entry shares `_IVFPQ_FIXED_ORACLE` with the
    build. Pass retrained ``codebooks`` (e.g. `train_pq_codebooks` on
    the current corpus) to refresh the quantizer in the same swap —
    recall then re-floors via `ann_recall`, the trained-face contract.

    ``corpus`` supplies raw vectors for codes-only layouts
    (``store_vectors=False`` stores no ``vec_col`` to rebuild from);
    a self-contained layout reads its own stored vectors. Swap
    discipline is `rebuild_ivf_index`'s three-rename dance verbatim
    (shared helpers): a COMPLETE copy of the index exists under SOME
    name at every instant, and a half-swapped crash state is finished
    on the next entry. At 100 TB the rebuild is one re-assign +
    re-encode scan and one partitioned write — the amortized cost the
    daily append path avoids.
    """
    _recover_and_clear_staging(spark, path, "rebuild_ivfpq_index")
    if codebooks is None:
        codebooks = _load_codebooks(spark, path)
    if corpus is not None:
        cur = corpus.select(id_col, vec_col)
        store_vectors = vec_col in spark.read.parquet(path).columns
    else:
        live = spark.read.parquet(path)
        if vec_col not in live.columns:
            raise ValueError(
                f"rebuild_ivfpq_index({path}): the index stores codes only "
                "(built with store_vectors=False) — pass corpus= with the "
                "raw vectors to rebuild from"
            )
        cur = live.select(id_col, vec_col)
        store_vectors = True
    build_ivfpq_index(
        cur,
        path + "__rebuild",
        codebooks,
        id_col=id_col,
        vec_col=vec_col,
        n_centroids=n_centroids,
        centroid_source=cur,
        store_vectors=store_vectors,
    )
    _swap_staging_in(spark, path, "rebuild_ivfpq_index")


def append_ivfpq_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    store_vectors: bool | None = None,
) -> None:
    """Append a batch into an existing IVF×PQ layout: assign cells
    against the persisted centroid sidecar, PQ-encode against the
    persisted codebook sidecar (both pinned at build — the index is
    self-describing), append partitioned files. Work scales with the
    batch, never the index — `append_ivf_index`'s composed sibling,
    and because the cell structure AND the codebooks are immutable
    under appends, seed + append holds EXACTLY the rows a from-scratch
    build over the union would (pinned in tests/test_ann_index.py).
    Whether raw vectors ride along follows the existing layout's
    schema (store_vectors is a build-time decision).

    ``centroids``/``codebooks``/``store_vectors`` let a RECURRING
    caller (the streaming ingest sink) resolve the immutable sidecars
    and the layout schema once and skip the per-call reads; None (the
    default) resolves each fresh from the layout."""
    from hadoop_app_spark.operators.pq import pq_encode

    spark = new_vecs.sparkSession
    cents = centroids if centroids is not None else _load_centroids(spark, path)
    books = codebooks if codebooks is not None else _load_codebooks(spark, path)
    if store_vectors is None:
        store_vectors = vec_col in spark.read.parquet(path).columns
    celled = new_vecs.select(id_col, vec_col).withColumn(
        "cell", _cell_expr(matrix_lit(cents), vec_col)
    )
    passthrough = ["cell", vec_col] if store_vectors else ["cell"]
    rows = pq_encode(celled, books, id_col, vec_col, passthrough=passthrough)
    (
        rows.repartition(max(len(cents), 1), F.col("cell"))
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )


def _load_codebooks(spark: SparkSession, path: str) -> list[list[list[float]]]:
    local = _read_sidecar_local(spark, f"{path}/{PQ_CODEBOOK_DIR}")
    if local is not None:
        rows = sorted(local, key=lambda r: (r["s"], r["c"]))
    else:
        rows = spark.read.parquet(f"{path}/{PQ_CODEBOOK_DIR}").orderBy("s", "c").collect()
    if not rows:
        raise ValueError(f"no PQ codebook sidecar under {path}")
    m = max(r["s"] for r in rows) + 1
    books: list[list[list[float]]] = [[] for _ in range(m)]
    for r in rows:
        books[r["s"]].append(list(r["cv"]))
    return books


_PROBE_SCHEMA = "query_id long, query_vec array<double>, cell int, lut array<double>"


def _lut_probe_rows_distributed(
    queries: DataFrame,
    centroids: list[list[float]],
    books: list[list[list[float]]],
    n_probe: int,
) -> DataFrame:
    """[query_id, query_vec, cell, lut] with the per-query ADC lookup
    tables computed ON THE EXECUTORS (Arrow-batched mapInPandas over
    the queries frame, codebooks+centroids broadcast once via the task
    closure — m x n_codes x sub doubles, KB-scale) — the scale path
    for large evaluation batches where the driver loop would serialize
    on |queries| (VERDICT r11 item 5). Probe-cell ties break by
    centroid index (stable argsort on the negated dots — the
    `_probe_cells` ordering), and under the integer-codebook exactness
    lever every LUT entry is an integer exact in float64 regardless of
    summation order, so this path is bit-identical to the driver loop
    there (pinned in tests/test_ann_index.py)."""
    import numpy as np
    import pandas as pd

    n_probe = int(n_probe)
    m, n_codes = len(books), len(books[0])
    sub = len(books[0][0])
    B = [np.array(b, dtype=np.float64) for b in books]
    C = np.array(centroids, dtype=np.float64)

    def run(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.array(pdf["query_vec"].tolist(), dtype=np.float64)
            # LUT rows: [s0c0..s0c{n-1}, s1c0.., ...] — row-major, the
            # driver loop's flattening
            luts = np.concatenate(
                [Q[:, s * sub : (s + 1) * sub] @ B[s].T for s in range(m)],
                axis=1,
            )
            dots = Q @ C.T
            # stable argsort of -dot == sort by (dot desc, idx asc)
            order = np.argsort(-dots, axis=1, kind="stable")[:, :n_probe]
            qids = pdf["query_id"].to_numpy()
            qvs = pdf["query_vec"].tolist()
            lut_lists = luts.tolist()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, n_probe),
                    "query_vec": [qvs[i] for i in range(len(qids)) for _ in range(n_probe)],
                    "cell": order.astype("int32").reshape(-1),
                    "lut": [lut_lists[i] for i in range(len(qids)) for _ in range(n_probe)],
                }
            )

    return queries.select("query_id", "query_vec").mapInPandas(run, _PROBE_SCHEMA)


def query_ivfpq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_probe: int = 4,
    shortlist: int = 64,
    rerank_source: DataFrame | None = None,
    distribute_luts_from: int = 1024,
) -> DataFrame:
    """Top-k neighbors from a `build_ivfpq_index` layout: probe
    ``n_probe`` cells per query (partition pruning — unprobed dirs are
    never opened), ADC-score the probed cells' CODES (column pruning —
    the stored vectors are never read here), keep ``shortlist``
    candidates per query, then re-rank the shortlist exactly on true
    vectors (from the index's stored vector column, or
    ``rerank_source`` for codes-only layouts).

    The ADC stays JVM-side: each (query, probed-cell) pair broadcasts
    with the query's FLATTENED m x n_codes lookup table, and the score
    is ``m`` element_at lookups folded left-to-right in one Catalyst
    ``aggregate`` — no Python in the scoring path, and with integer-
    valued codebooks + quantized vectors every lookup sum is an integer
    carried exactly in float64, which is what lets the registry oracle
    replay the full pipeline (the `fixed_pq_codebooks` exactness
    lever). Scale shape: scan = n_probe/n_centroids of the corpus'
    CODE bytes; the only corpus-volume shuffle is the keyed top-
    shortlist window; the re-rank join is shortlist x |queries| rows.

    LUT build: batches up to ``distribute_luts_from`` queries use a
    driver loop (zero extra jobs — the serving fast path); at or past
    it the LUTs + probe assignments are computed on the executors
    (`_lut_probe_rows_distributed`, one Arrow pass over the queries
    frame, localCheckpointed so prep runs once) — no |queries|-
    proportional driver work above the threshold (VERDICT r11 item 5).
    """
    from hadoop_app_spark.functions.vectors import cosine_similarity

    centroids = _load_centroids(spark, path)
    books = _load_codebooks(spark, path)
    m, n_codes = len(books), len(books[0])
    sub = len(books[0][0])
    threshold = max(int(distribute_luts_from), 1)
    # ONE bounded job decides the path AND feeds the driver loop: a
    # limit(threshold) collect returns < threshold rows iff the whole
    # batch fits the driver fast path (the old count()+collect() pair
    # scanned the queries frame twice for the same decision)
    qrows = queries.select("query_id", "query_vec").limit(threshold).collect()
    if not qrows:
        raise ValueError("no queries")
    if len(qrows) >= threshold:
        # checkpoint: the probed frame is consumed twice (the bounded
        # distinct-cells fetch below + the ADC join) — one prep pass
        probed = _lut_probe_rows_distributed(
            queries, centroids, books, n_probe
        ).localCheckpoint(eager=True)
        all_cells = sorted(
            r["cell"] for r in probed.select("cell").distinct().collect()
        )
    else:
        probe_rows = []
        for r in qrows:
            qv = list(r["query_vec"])
            # LUT[s][c] = q_s . books[s][c], flattened row-major — the
            # ADC table, m x n_codes doubles per query (broadcast-tiny)
            lut = []
            for s in range(m):
                qs = qv[s * sub : (s + 1) * sub]
                for c in range(n_codes):
                    acc = 0.0
                    for a, b in zip(qs, books[s][c]):
                        acc += a * b
                    lut.append(acc)
            for cell in _probe_cells(centroids, qv, n_probe):
                probe_rows.append((r["query_id"], qv, cell, lut))
        all_cells = sorted({p[2] for p in probe_rows})
        probed = spark.createDataFrame(probe_rows, _PROBE_SCHEMA)
    # ONE reader resolution for both consumers (ADC scan + re-rank
    # vectors): each spark.read.parquet is a driver-side listing/schema
    # resolution, ~0.1 s per call at probe cadence (r12)
    stored = spark.read.parquet(path)
    indexed = (
        stored
        .where(F.col("cell").isin(all_cells))
        .select(id_col, "codes", "cell")
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.col("lut"), (s * n_codes + F.element_at(F.col("codes"), s + 1) + 1).cast("int")
        ),
    )
    cand = (
        indexed.join(F.broadcast(probed.select("query_id", "cell", "lut")), "cell")
        .where(F.col(id_col) != F.col("query_id"))
        .select("query_id", id_col, adc.alias("cosine"))
    )
    short = _rank_topk(cand, id_col, shortlist).select("query_id", id_col)
    if rerank_source is not None:
        vecs = rerank_source.select(id_col, vec_col)
    else:
        if vec_col not in stored.columns:
            raise ValueError(
                f"query_ivfpq_index({path}): the index stores codes only "
                f"(built with store_vectors=False) — pass rerank_source "
                "with the raw vectors for the exact shortlist re-rank"
            )
        vecs = stored.where(F.col("cell").isin(all_cells)).select(id_col, vec_col)
    exact = (
        short.join(vecs, id_col)
        .join(
            F.broadcast(probed.select("query_id", "query_vec").distinct()), "query_id"
        )
        .select(
            "query_id",
            id_col,
            cosine_similarity(vec_col, "query_vec").alias("cosine"),
        )
    )
    return _rank_topk(exact, id_col, k)


def index_scan_stats(df: DataFrame) -> dict:
    """{"files_read", "partitions_read"} from an EXECUTED DataFrame's
    parquet scans (call after collect()/write) — layout's shared plan
    walker, reading the file/partition metrics instead of rows."""
    from hadoop_app_spark.sources.layout import walk_executed_plan

    files = 0
    parts = 0

    def on_node(node, cls):
        nonlocal files, parts
        if cls == "FileSourceScanExec":
            m = node.metrics()
            if m.contains("numFiles"):
                files += m.apply("numFiles").value()
            if m.contains("numPartitions"):
                parts += m.apply("numPartitions").value()

    walk_executed_plan(df, on_node)
    return {"files_read": files, "partitions_read": parts}
