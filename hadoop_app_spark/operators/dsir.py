"""DSIR-class data selection: hashed n-gram importance ranking
(Xie et al. 2023, "Data Selection for Language Models via Importance
Resampling") — pick raw-corpus documents that look like a target
domain, using bag-of-hashed-ngrams unigram models.

Method, re-expressed Spark-first and oracle-exactly:
1. Features: unigrams + bigrams of the lowercased whitespace tokens,
   hashed into ``n_buckets`` buckets. The hash is md5 — native in the
   JVM and in DuckDB (same standard algorithm), so the oracle
   recomputes identical buckets at native speed.
2. Bucket models: one partial-combine hash aggregation per corpus
   gives target counts ct[b] (total T) and raw counts cr[b] (total
   R) — two B-row tables, broadcast-joined back to the features.
3. Importance weight of a doc = Σ over its feature occurrences of
   log( ((2*ct+1)/(2*T+B)) / ((2*cr+1)/(2*R+B)) )   (add-half
   smoothing). Every ln sees identical exact-integer-derived operands
   in both engines, and the per-doc sum accumulates in DECIMAL(18,6)
   (the bm25 trick) so aggregation order cannot diverge — which is
   what makes the top-k selection hash-exact cross-engine.
4. Selection: the paper resamples with probability ∝ exp(weight);
   the deterministic engine form is top-k by (weight desc, id) —
   TakeOrderedAndProject, no global sort — which is the zero-
   temperature limit and keeps the oracle exact. (For sampled
   selection, threshold the weight against a fingerprint-derived
   uniform exactly like corpus.mixture_rebalance does.)

Scale shape (100 TB): the corpus-sized work is two token explodes
feeding partial-combine aggregations; the bucket model is B rows
(bounded by the knob, not the data), broadcast; the final top-k is a
per-partition partial top-k. No Python in the row path, no window,
no collect beyond the k result rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from hadoop_app_spark.functions.text import tokenize


def _md5_long(col: Column) -> Column:
    """The first 8 hex chars of md5 as a long: ONE native JVM hash call
    per value, and DuckDB's md5 is the same standard algorithm, so the
    oracle recomputes it exactly. 32 bits, plenty for a bucket-count
    knob or a uniform."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def ngram_occurrences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """-> [id, _gram]: one row per unigram and bigram OCCURRENCE
    (counts matter — a doc repeating a target-y phrase should weigh
    more). Bigrams join their two tokens with a single space so the
    oracle concatenates the identical string.

    The tokenize() regex split is projected to a ``_toks`` column in
    its own select BEFORE the bigram lambda references it: HOF lambdas
    are exempt from subexpression elimination, so an inlined tokenize
    would re-run per array element — O(len^2) regex work per doc
    (the corpus.py ngram precedent; measured ~40x here at sf0.1).
    Bigrams come from ONE zip_with over the two shifted slices, not an
    index lambda doing element_at on the captured array — per-element
    outer-array indexing is the interpreted-HOF slow class the shingle
    kernel rebuild measured at 6-20x (functions/text.ngrams_from_tokens
    rationale)."""
    toks = F.col("_toks")
    # guard: fewer than two tokens must yield an empty bigram array
    # (slice with a negative length would throw if evaluated)
    m = F.size(toks) - 1
    bigrams = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, m),
            F.slice(toks, 2, m),
            lambda a, b: F.concat_ws(" ", a, b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    grams = F.concat(toks, bigrams)
    return df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).select(F.col(id_col), F.explode(grams).alias("_gram"))


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """-> [id, bucket]: occurrence rows with bucket =
    md5(gram) % n_buckets (``_md5_long``)."""
    occ = ngram_occurrences(df, text_col, id_col)
    return occ.select(
        id_col, (_md5_long(F.col("_gram")) % F.lit(n_buckets).cast("long")).alias("bucket")
    )


def dsir_scored(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 4096,
) -> DataFrame:
    """Importance weight of every raw doc toward *target* ->
    [id, n_features, weight] (unselected — the scoring core
    :func:`dsir_select` and :func:`dsir_resample` both consume).
    weight is the DECIMAL-accumulated log-ratio sum cast to double
    (exactly the bm25 score convention, so the oracle hash-matches).

    Plan economy: the per-doc feature stream is collapsed to
    (id, bucket, n) COUNTS before any join, and the T/R totals derive
    from the B-row bucket tables (sum of counts), never from a second
    corpus pass. The compiled plan does contain repeated explode
    subtrees for the raw-corpus feature pass (one per consumer), but
    after the _toks projection fix each pass is a cheap single-regex
    scan — recomputing beats the plan-nondeterminism a lazy
    localCheckpoint injects (a checkpoint rewrites the explained plan
    to Scan ExistingRDD after first execution, breaking deterministic
    plan reports)."""
    feats = (
        hashed_ngram_features(raw, text_col, id_col, n_buckets)
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("n"))
    )
    # rollup gives the per-bucket counts AND the grand total in ONE
    # aggregation subtree: the two consumers below share the rollup's
    # exchange (ReusedExchange dedupes identical subplans), so the
    # corpus explode behind it runs once, not once per consumer —
    # compiled raw-corpus passes drop 3 -> 2 and target passes 2 -> 1.
    # grouping() distinguishes the total row robustly (a real NULL
    # bucket cannot occur, but the indicator costs nothing).
    t_roll = (
        hashed_ngram_features(target, text_col, id_col, n_buckets)
        .rollup("bucket")
        .agg(F.count("*").alias("ct"), F.grouping("bucket").alias("_g"))
    )
    tfeats = t_roll.where(F.col("_g") == 0).select("bucket", "ct")
    tot_t = t_roll.where(F.col("_g") == 1).select(F.col("ct").alias("T"))

    r_roll = feats.rollup("bucket").agg(
        F.sum("n").alias("cr"), F.grouping("bucket").alias("_g")
    )
    cr = r_roll.where(F.col("_g") == 0).select("bucket", "cr")
    tot_r = r_roll.where(F.col("_g") == 1).select(F.col("cr").alias("R"))
    # every bucket present in raw has cr >= 1; target-absent buckets
    # smooth to ct = 0. (Buckets absent from raw never appear in any
    # raw doc, so the left join from features needs no further guard.)
    model = (
        cr.join(tfeats, "bucket", "left")
        .na.fill({"ct": 0})
        .crossJoin(F.broadcast(tot_t))
        .crossJoin(F.broadcast(tot_r))
        .select(
            "bucket",
            F.log(
                ((2 * F.col("ct") + 1).cast("double") * (2 * F.col("R") + F.lit(n_buckets)).cast("double"))
                / ((2 * F.col("cr") + 1).cast("double") * (2 * F.col("T") + F.lit(n_buckets)).cast("double"))
            ).alias("lr"),
        )
    )
    scored = (
        feats.join(F.broadcast(model), "bucket")
        .groupBy(id_col)
        .agg(
            F.sum("n").alias("n_features"),
            F.sum((F.col("n") * F.col("lr")).cast("decimal(18,6)"))
            .cast("double")
            .alias("weight"),
        )
    )
    return scored


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
    n_buckets: int = 4096,
) -> DataFrame:
    """Top-``k`` raw docs by importance weight -> [id, n_features,
    weight] ordered (weight desc, id): the zero-temperature limit of
    the paper's resampling, TakeOrderedAndProject (no global sort)."""
    scored = dsir_scored(raw, target, text_col, id_col, n_buckets)
    return scored.orderBy(F.col("weight").desc(), F.col(id_col)).limit(k)


def dsir_resample(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 100,
    n_buckets: int = 4096,
    temperature: float = 1.0,
    grain: int = 1 << 20,
) -> DataFrame:
    """The paper's actual importance RESAMPLING, made deterministic:
    sample ``k`` docs without replacement with probability
    proportional to exp(weight / temperature) via the Gumbel-top-k
    identity — top-k of weight/T + Gumbel noise IS such a sample —
    with the noise derived from a content fingerprint instead of an
    RNG (the mixture_rebalance convention): u = (fp(text) % grain
    + 0.5) / grain is exact-dyadic in (0, 1), g = -ln(-ln(u)).
    Membership is therefore re-run- and repartition-stable, and a SQL
    oracle recomputes it exactly. -> [id, n_features, weight] (the
    perturbed key is selection-internal: both engines derive it
    identically, so emitting it would only add a float column to
    hash).

    temperature -> 0 recovers :func:`dsir_select`'s argmax; large T
    approaches uniform sampling. Scale shape: one extra narrow
    projection for the fingerprint + the same TakeOrderedAndProject
    partial top-k — nothing beyond dsir_scored's passes."""
    if temperature <= 0:
        raise ValueError("temperature must be > 0; use dsir_select for the argmax limit")
    scored = dsir_scored(raw, target, text_col, id_col, n_buckets)
    u = (F.pmod(_md5_long(F.col(text_col)), F.lit(grain)) + F.lit(0.5)) / F.lit(float(grain))
    uniforms = raw.select(F.col(id_col), (-F.log(-F.log(u))).alias("_gumbel"))
    perturbed = scored.join(uniforms, id_col).withColumn(
        "_key", F.col("weight") / F.lit(float(temperature)) + F.col("_gumbel")
    )
    return (
        perturbed.orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
        .select(id_col, "n_features", "weight")
    )
