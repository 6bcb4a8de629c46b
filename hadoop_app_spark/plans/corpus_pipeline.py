"""End-to-end corpus curation pipeline — the north-star composition.

Chains the engine's training-data operators the way a real pretraining
build runs them, with ``observe``-based counters at every stage (the
Spark-native form of the reference's MapReduce job counters,
UserHotcar.java:35,97-98):

    raw docs
      -> PII scrub                  (redact_pii; counts kept as metrics)
      -> quality gates              (language allowlist + quality floor
                                     + token bounds + repetition gate)
      -> exact dedup                (content hash, min-id survivor)
      -> near-dup removal           (MinHash signatures -> LSH banding)
      -> decontamination            (benchmark n-gram overlap, optional)
      -> stratified sample          (content-hash keyed per-language)
      -> per-source accounting      (source_stats)

Everything stays one lazy plan per output: counters accumulate during
whatever action consumes the result — no extra jobs, no second scan.

Scale notes (100 TB): every stage is a narrow projection or a
partial-combine aggregation; the only wide exchanges are the dedup
hash-agg, the LSH band shuffle (bucket-capped, see operators/dedup),
and the final per-source aggregation. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from hadoop_app_spark.functions.text import language_id, quality_score, token_count, tokenize
from hadoop_app_spark.operators.corpus import (
    decontaminate,
    redact_pii,
    source_stats,
    stratified_sample,
)
from hadoop_app_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
)
from hadoop_app_spark.functions.metrics import observe_counts


def curate(
    docs: DataFrame,
    langs: tuple[str, ...] = ("en",),
    quality_floor: float = 0.5,
    token_bounds: tuple[int, int] = (10, 5000),
    max_dup_ratio: float = 0.5,
    sample: bool = False,
    benchmark: DataFrame | None = None,
    observations: dict[str, Observation] | None = None,
    html_col: str | None = None,
    learned_gate: tuple[list[float], float] | None = None,
    normalized_dedup: bool = False,
    embeddings: DataFrame | None = None,
    semdedup_threshold: float = 0.85,
    semdedup_clusters: int = 16,
    dsir_target: DataFrame | None = None,
    dsir_k: int = 100,
    dsir_buckets: int = 4096,
) -> DataFrame:
    """Run the full curation pipeline; returns the curated corpus with
    the original columns plus ``n_tokens`` (text already PII-scrubbed).

    Pass ``observations={}`` to receive stage counters; read them after
    an action, e.g. ``observations['scrubbed'].get['pii_rows']``.

    ``html_col``: treat that column as raw HTML and FRONT the pipeline
    with extraction + C4-style boilerplate line filtering (the
    WARC-crawl entry point); the filtered content becomes ``text``.
    ``learned_gate``: (weights, floor) from
    operators/quality_model.train_quality_lr — adds the trained
    quality classifier AFTER the heuristic gates (the CCNet shape:
    cheap heuristics first, model on what remains).
    ``normalized_dedup``: add the CCNet-class NORMALIZED exact-dedup
    rung between exact dedup and MinHash (lower/accent-fold/digit-fold
    /punct-strip — catches trivially-reformatted copies the byte hash
    misses at a fraction of MinHash's cost).
    ``embeddings``: [doc_id, embedding] frame — adds the SemDeDup rung
    (vectorized production path, operators/semdedup) AFTER MinHash:
    the full r4+r5 dedup ladder in one plan, exact -> normalized ->
    lexical near-dup -> semantic near-dup, each stage counted.
    ``dsir_target``: a target-domain corpus — adds DSIR importance
    selection (operators/dsir) as the LAST rung: keep the ``dsir_k``
    cleaned docs whose hashed-ngram profile most resembles the target
    (clean first, then select; Xie et al. 2023), counted like every
    other stage.
    """
    obs = observations if observations is not None else {}

    # 0. optional HTML -> text front stage: a pure narrow map; rows
    # whose boilerplate-filtered content is empty are dropped here so
    # downstream gates never see nav/footer-only pages
    if html_col is not None:
        from hadoop_app_spark.operators.extraction import content_lines, html_strip, text_lines

        kept_lines = content_lines(text_lines(html_strip(F.col(html_col))))
        docs = (
            docs.withColumn("text", F.array_join(kept_lines, "\n"))
            .drop(*([html_col] if html_col != "text" else []))
        )
        # null html propagates to null text and IS dropped below — the
        # counter must treat null like empty or stage accounting
        # (rows_in - empty == rows_out) stops balancing
        docs, obs["extracted"] = observe_counts(
            docs,
            empty_after_extraction=F.col("text").isNull() | (F.length("text") == 0),
        )
        docs = docs.where(F.length("text") > 0)

    meta_cols = [c for c in docs.columns if c != "text"]

    # 1. PII scrub — redacted text replaces the original; rows with any
    # hit are counted, not dropped (the scrub IS the remediation).
    # redact_pii carries the meta columns through its projection, so the
    # stage stays a narrow map — no join back to the corpus
    scrubbed = redact_pii(docs, "text", "doc_id", out_col="text").select(
        *meta_cols, "text", "n_email", "n_ipv4", "n_phone"
    )
    scrubbed, obs["scrubbed"] = observe_counts(
        scrubbed,
        pii_rows=(F.col("n_email") + F.col("n_ipv4") + F.col("n_phone")) > 0,
    )
    scrubbed = scrubbed.drop("n_email", "n_ipv4", "n_phone")

    # 2. quality gates — one scan, all JVM expressions
    toks = tokenize("text")
    gated = (
        scrubbed.withColumn("n_tokens", token_count("text"))
        .withColumn("_nu", F.size(F.array_distinct(toks)))
        .withColumn(
            "_dup_ratio",
            F.when(
                F.col("n_tokens") > 0,
                (F.col("n_tokens") - F.col("_nu")).cast("double") / F.col("n_tokens"),
            ).otherwise(F.lit(0.0)),
        )
        .where(
            language_id("text").isin(*langs)
            & (quality_score("text") >= quality_floor)
            & F.col("n_tokens").between(*token_bounds)
            & (F.col("_dup_ratio") <= max_dup_ratio)
        )
        .drop("_nu", "_dup_ratio")
    )
    gated, obs["gated"] = observe_counts(gated)

    # 2b. optional trained quality gate — scoring is a narrow map over
    # pre-trained weights (train on a sample OUTSIDE the pipeline; the
    # pipeline itself must stay one lazy plan, and training is a
    # multi-scan loop)
    if learned_gate is not None:
        from hadoop_app_spark.operators.quality_model import score_quality_lr

        weights, floor = learned_gate
        gated = (
            score_quality_lr(gated, "text", weights, out_col="_qp")
            .where(F.col("_qp") >= floor)
            .drop("_qp")
        )
        gated, obs["model_gated"] = observe_counts(gated)

    # 3. exact dedup — content hash-agg, min-id survivor
    deduped = exact_dedup(gated, ["text"], "doc_id")
    deduped, obs["exact_deduped"] = observe_counts(deduped)

    # 3b. optional normalized dedup (CCNet rung): min-id survivor per
    # normalized key via one hash-agg + a null-safe semi join — same
    # shape as exact_dedup, keyed on the folded text. The survivor
    # election keys on doc_id, so the join back is id-equi (never the
    # normalized text, which could be long)
    if normalized_dedup:
        from hadoop_app_spark.functions.text import normalize_for_dedup

        survivors = (
            deduped.select("doc_id", normalize_for_dedup(F.col("text")).alias("_norm"))
            .groupBy("_norm")
            .agg(F.min("doc_id").alias("doc_id"))
            .select("doc_id")
        )
        deduped = deduped.join(survivors, "doc_id", "left_semi")
        deduped, obs["normalized_deduped"] = observe_counts(deduped)

    # 4. near-dup removal — MinHash signatures into capped LSH banding;
    # the min-id side of each candidate pair survives
    sigs = minhash_signatures(deduped, "text", "doc_id")
    losers = (
        minhash_lsh_pairs(sigs, "doc_id")
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    # no broadcast hint: the loser set is corpus-derived and can be
    # near-corpus-sized in a boilerplate-heavy crawl — let AQE pick
    near_deduped = deduped.join(losers, "doc_id", "left_anti")
    near_deduped, obs["near_deduped"] = observe_counts(near_deduped)

    # 4b. optional semantic dedup (SemDeDup rung): embeddings are first
    # restricted to the current survivor set (semi join on id — SemDeDup
    # must not resurrect or re-judge docs earlier rungs removed), then
    # clustered + pruned;
    # the surviving vec_ids semi-join back. Centroid collection inside
    # assign_clusters is the documented bounded side-channel.
    if embeddings is not None:
        from hadoop_app_spark.operators.semdedup import semdedup_survivors

        emb_alive = embeddings.join(
            near_deduped.select(F.col("doc_id")),
            embeddings["vec_id"] == F.col("doc_id"),
            "left_semi",
        )
        sem_keep = semdedup_survivors(
            emb_alive,
            "vec_id",
            "embedding",
            n_clusters=semdedup_clusters,
            threshold=semdedup_threshold,
        ).select(F.col("vec_id").alias("doc_id"))
        near_deduped = near_deduped.join(sem_keep, "doc_id", "left_semi")
        near_deduped, obs["sem_deduped"] = observe_counts(near_deduped)

    # 5. optional benchmark decontamination — the eval-suite shingle set
    # broadcasts; the corpus never shuffles on the gram key
    if benchmark is not None:
        near_deduped = decontaminate(near_deduped, benchmark, "text", "doc_id")
        near_deduped, obs["decontaminated"] = observe_counts(near_deduped)

    # 5b. optional DSIR target-conditioned selection — the natural LAST
    # rung of the ladder (clean first, then pick what looks like the
    # target domain): top-k by hashed-ngram importance weight toward
    # ``dsir_target``, survivors semi-joined back by id so the corpus
    # columns ride through untouched.
    if dsir_target is not None:
        from hadoop_app_spark.operators.dsir import dsir_select

        picked = dsir_select(
            near_deduped,
            dsir_target,
            text_col="text",
            id_col="doc_id",
            k=dsir_k,
            n_buckets=dsir_buckets,
        ).select("doc_id")
        near_deduped = near_deduped.join(picked, "doc_id", "left_semi")
        near_deduped, obs["dsir_selected"] = observe_counts(near_deduped)

    # 6. optional deterministic per-language downsample, keyed on the
    # content fingerprint (one native crc32 call per doc)
    out = stratified_sample(near_deduped, "lang", "text") if sample else near_deduped
    out, obs["final"] = observe_counts(out)
    return out


def write_curated(curated: DataFrame, path: str, files: int = 16) -> None:
    """Persist a curated corpus Bloom-indexed on ``doc_id`` (sources/
    skipping.write_bloom_indexed): range-clustering by id makes the
    per-file filters selective, and the `_bloom_index/` sidecar makes
    every later id-list operation — contamination audits, takedown
    retractions — touch only the files that can contain those ids
    instead of re-scanning the corpus."""
    from hadoop_app_spark.sources.skipping import write_bloom_indexed

    write_bloom_indexed(curated, path, "doc_id", files=files)


def audit_contaminated(spark, path: str, doc_ids: list) -> tuple[DataFrame, dict]:
    """Point-lookup the given doc_ids in a written curated corpus —
    the post-hoc decontamination check (a benchmark suite grew AFTER
    the corpus was built; which flagged docs actually shipped?).
    Sidecar auto-discovery: Bloom-pruned when ``write_curated`` built
    the index, plain filtered scan otherwise. Returns (rows, stats)."""
    from hadoop_app_spark.sources.skipping import point_lookup

    return point_lookup(spark, path, "doc_id", doc_ids)


def retract_contaminated(spark, path: str, doc_ids: list) -> dict:
    """Remove the given doc_ids from a written curated corpus by
    rewriting ONLY the Bloom-passing files (sources/skipping.
    retract_ids) — the retraction half of the decontamination loop.
    Work is proportional to |affected files|, not corpus size."""
    from hadoop_app_spark.sources.skipping import retract_ids

    return retract_ids(spark, path, "doc_id", doc_ids)


def run_corpus_pipeline(
    spark, sf_dir: str, sample: bool = False
) -> tuple[DataFrame, dict[str, int]]:
    """Drive the pipeline over the documents table and materialize the
    per-source accounting; returns (stats, stage_counts)."""
    from hadoop_app_spark.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    observations: dict[str, Observation] = {}
    curated = curate(docs, sample=sample, observations=observations)
    stats = source_stats(curated, "text")
    rows = stats.collect()  # one action drives every counter
    counts = {stage: o.get["rows"] for stage, o in observations.items()}
    counts["pii_rows"] = observations["scrubbed"].get["pii_rows"]
    out = spark.createDataFrame(rows, stats.schema)
    return out, counts
