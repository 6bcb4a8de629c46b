"""Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003).

Beyond-reference surface (north star dedup family): the MOSS local
fingerprinting algorithm — the substring-robust member between
whole-doc hashing (exact dedup) and bag-of-shingles MinHash. Selected
fingerprints are guaranteed to catch any shared run of at least
w + k - 1 normalized characters (the winnowing guarantee), so it
finds copied PASSAGES between documents that differ everywhere else,
with a selection density of ~2/(w+1) instead of every k-gram.

Algorithm per document (one numpy mapInPandas pass, zero shuffle
until the candidate join):
1. normalize: lowercase, drop every non-[a-z0-9] char (MOSS-style —
   whitespace/punctuation/case edits don't move fingerprints);
2. hash all k-grams with the same 31-poly mod-1e9+7 rolling fold the
   rest of the dedup family uses (engine-agnostic, oracle-exact);
3. slide a w-window over the hash sequence; in each window select
   the minimum, ties broken by RIGHTMOST occurrence (the "robust
   winnowing" rule — consecutive windows mostly re-select the same
   hash, which is what gives the density bound);
4. fingerprint set = distinct selected (position, hash) pairs.

Cross-doc overlap then joins fingerprint sets on the hash value with
a document-frequency cap first (boilerplate fingerprints shared by
more than max_df docs are dropped BEFORE the self-join — same
bounded-fanout discipline as the LSH bucket cap in dedup.py), so the
candidate join is bucketed and skew-safe at 100 TB.

Scale shape: fingerprinting is a narrow map (O(len) codes + O(H·k)
vectorized fold work). The df-cap is a groupBy partial-combine agg (NOT a
window — the minhash_lsh_pairs lesson), and the pair agg is keyed by
(id_a, id_b). No corpus-sized collect/broadcast anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_MOD = 1_000_000_007


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    repartition_to: int | None = None,
) -> DataFrame:
    """-> (id, pos, fp): robust-winnowing fingerprint selection.

    ``pos`` is the 1-based k-gram start offset in the NORMALIZED text
    (usable to locate the matched span). Documents with fewer than k
    normalized chars produce no fingerprints. Density ~= 2/(w+1).

    Kernel per doc: normalized ASCII codes -> all k-gram hashes via k
    vectorized fused multiply-adds mod p (no per-gram Python loop) ->
    rightmost-min window selection via a (H-w+1, w) sliding view and a
    reversed argmin -> np.unique over selected positions. The poly fold
    is exact int64 arithmetic, so the values are the ones the DuckDB
    oracle's list_reduce recomputes. One mapInPandas pass, zero shuffle;
    ``repartition_to`` spreads it off a small single-file scan.
    """
    import re as _re

    import numpy as np
    import pandas as pd

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k} w={w}")

    def run(batches):
        strip = _re.compile(r"[^a-z0-9]")
        for pdf in batches:
            out_ids, out_pos, out_fp = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                s = strip.sub("", (text or "").lower())
                h_n = len(s) - k + 1
                if h_n < 1:
                    continue
                codes = np.frombuffer(s.encode("ascii"), dtype=np.uint8).astype(np.int64)
                hs = np.zeros(h_n, dtype=np.int64)
                for j in range(k):
                    hs = (hs * 31 + codes[j : j + h_n]) % _MOD
                if h_n <= w:
                    sl = hs[None, :]
                    starts = np.array([0])
                else:
                    sl = np.lib.stride_tricks.sliding_window_view(hs, w)
                    starts = np.arange(h_n - w + 1)
                # rightmost min per window: argmin of the REVERSED row
                # is the first (= rightmost original) occurrence
                rev_arg = np.argmin(sl[:, ::-1], axis=1)
                pos = starts + (sl.shape[1] - 1 - rev_arg)
                pos = np.unique(pos)
                out_ids.extend([doc_id] * len(pos))
                out_pos.extend((pos + 1).tolist())  # 1-based
                out_fp.extend(hs[pos].tolist())
            if out_ids:
                yield pd.DataFrame({id_col: out_ids, "pos": out_pos, "fp": out_fp})

    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(run, f"{id_col} {id_type}, pos int, fp long")


def winnow_overlap(
    fps: DataFrame,
    id_col: str = "doc_id",
    max_df: int = 16,
    min_shared: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs from winnowing fingerprint sets.

    -> (id_a, id_b, n_shared, jaccard) for pairs sharing at least
    ``min_shared`` distinct fingerprint values, with jaccard over the
    capped fingerprint SETS. Fingerprints held by more than ``max_df``
    documents (site boilerplate, license headers) are dropped before
    the self-join — the fanout bound that keeps the join skew-safe.
    """
    # the fingerprint pipeline (scan -> numpy fingerprint kernel)
    # feeds FOUR consumers (df-cap agg, both join sides, sizes); without
    # materialization Catalyst re-derives it per consumer — six corpus
    # passes in the physical plan. localCheckpoint computes it once.
    # (Real deployment: write fingerprints to a table; same idea.)
    distinct_fps = fps.select(id_col, "fp").distinct().localCheckpoint(eager=False)
    rare = (
        distinct_fps.groupBy("fp")
        .agg(F.count("*").alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp")
    )
    kept = distinct_fps.join(rare, "fp", "left_semi")
    sizes = kept.groupBy(id_col).agg(F.count("*").alias("_nf"))
    a = kept.select(F.col(id_col).alias("id_a"), "fp")
    b = kept.select(F.col(id_col).alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("_nf").alias("_na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("_nf").alias("_nb"))
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / (F.col("_na") + F.col("_nb") - F.col("n_shared"))
            ).alias("jaccard"),
        )
    )


def winnow_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    max_df: int = 16,
    min_shared: int = 2,
    repartition_to: int | None = None,
) -> DataFrame:
    """End-to-end: fingerprint then overlap (see the two stages).

    ``repartition_to`` spreads the fingerprint kernel off a small
    single-file scan.
    """
    fps = winnow_fingerprints(df, text_col, id_col, k, w, repartition_to=repartition_to)
    return winnow_overlap(fps, id_col, max_df=max_df, min_shared=min_shared)
