"""Corpus-curation operators for large-scale training-data pipelines.

Beyond-reference surface (north star), sitting above functions.text:
- tfidf_top_terms: distributed TF-IDF with per-document top-k terms —
  the classic relevance/keyword-extraction pass.
- repetition_stats: intra-document repetition measurement (the
  Gopher-style "fraction of duplicate words" quality gate).
- stratified_sample: deterministic per-stratum sampling by content
  hash — reproducible train/eval splits with per-language rates.
- source_stats: per-source corpus accounting (docs, chars, tokens,
  exact-duplicate counts, quality mass) — the curation dashboard query.

All four are pure Catalyst expressions/aggregations (no Python in the
hot path) and ANSI-SQL-expressible for the DuckDB oracle.

Scale shapes (100 TB):
- tfidf: two hash aggregations with map-side partial combine
  ((doc,term) then term), a sort-merge join on term (vocabulary is
  corpus-sized — never broadcast it), a 1-row broadcast for the corpus
  count, and a per-doc window that WindowGroupLimit prunes to k rows
  map-side before the shuffle.
- repetition/sample: single-scan narrow projections — no shuffle.
- source_stats: one hash aggregation keyed by source; the distinct
  fingerprint count is a partial_count(distinct) over an int64, not a
  re-scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hadoop_app_spark.functions.text import (
    doc_fingerprint,
    ngrams,
    ngrams_from_tokens,
    quality_score,
    token_count,
    tokenize,
)


def tfidf_top_terms(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Top-k terms per document by TF-IDF: [id, term, tf, dfreq, rank].

    score = tf * ln(n_docs / dfreq). The float score is internal only —
    callers project the rank, so cross-engine libm last-ulp differences
    in ln() cannot leak into comparisons (ties break by dfreq asc then
    term asc, both exact integers/strings).
    """
    terms = df.select(id_col, F.explode(tokenize(text_col)).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("dfreq"))
    n = df.select(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double") * F.log(F.col("n_docs") / F.col("dfreq")),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("dfreq").asc(), F.col("term").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ngram_repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3, 4),
    repartition_to: int | None = None,
) -> DataFrame:
    """Gopher-style intra-document n-gram repetition profile, long form:
    [id, n, n_ngrams, n_distinct, dup_frac, top_frac] — one row per doc
    per n with at least one n-gram.

    dup_frac  = (n_ngrams - n_distinct) / n_ngrams  (repeated mass)
    top_frac  = count(most frequent n-gram) / n_ngrams (loop detector)

    The Gopher paper gates docs where either fraction is high (templated
    or looping text). Scale shape: a PURE MAP — one mapInPandas pass
    computes every doc's full profile in the kernel, with no explode, no
    gram-keyed aggregation and no shuffle.

    Kernel: tokens via ``text.lower().split()`` (the engine's tokenize
    contract); a per-doc dict maps each distinct token to a small int
    id, and an n-gram is its row of n ids, counted with
    ``np.unique(axis=0)``. Gram identity is the exact token sequence,
    so distinct grams never merge.
    """
    import numpy as np
    import pandas as pd
    from numpy.lib.stride_tricks import sliding_window_view

    ns = tuple(ns)

    def run(batches):
        for pdf in batches:
            out = {c: [] for c in (id_col, "n", "n_ngrams", "n_distinct", "top_count")}
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                # null text == no tokens (an unguarded .lower() would
                # kill the job)
                toks = (text or "").lower().split()
                vocab: dict[str, int] = {}
                ids = np.fromiter(
                    (vocab.setdefault(t, len(vocab)) for t in toks),
                    dtype=np.int64,
                    count=len(toks),
                )
                for n in ns:
                    m = len(toks) - n + 1
                    if m <= 0:
                        continue
                    _, counts = np.unique(
                        sliding_window_view(ids, n), axis=0, return_counts=True
                    )
                    out[id_col].append(doc_id)
                    out["n"].append(n)
                    out["n_ngrams"].append(m)
                    out["n_distinct"].append(len(counts))
                    out["top_count"].append(int(counts.max()))
            if out[id_col]:
                yield pd.DataFrame(out)

    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    id_type = df.schema[id_col].dataType.simpleString()
    stats = base.mapInPandas(
        run,
        f"{id_col} {id_type}, n int, n_ngrams long, n_distinct long, top_count long",
    )
    return stats.select(
        id_col,
        "n",
        "n_ngrams",
        "n_distinct",
        ((F.col("n_ngrams") - F.col("n_distinct")).cast("double") / F.col("n_ngrams")).alias(
            "dup_frac"
        ),
        (F.col("top_count").cast("double") / F.col("n_ngrams")).alias("top_frac"),
    )


def contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark decontamination scan: per doc, how many of its word
    *n*-grams appear in the benchmark suite -> [id, n_ngrams,
    n_contaminated, contamination] (contamination = hit fraction; docs
    with zero n-grams report 0.0).

    The standard pre-training hygiene pass (GPT-3 used 13-gram overlap;
    n=8 is the stricter modern default): any eval example whose shingles
    leak into the corpus inflates benchmark scores, so flagged docs are
    dropped or audited. Scale shape: the benchmark side reduces to
    DISTINCT n-grams and — being eval-suite-sized, i.e. tiny vs the
    corpus — broadcasts into a map-side semi-join against the exploded
    corpus shingles; the per-doc hit count is a keyed partial-combine
    aggregation. The corpus is scanned once and never shuffles on the
    gram key (set ``broadcast_benchmark=False`` only if the benchmark
    is itself corpus-sized, which turns the overlap into a shuffle
    equi-join).
    """
    bench_grams = (
        benchmark.select(F.explode(ngrams(text_col, n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    if broadcast_benchmark:
        bench_grams = F.broadcast(bench_grams)
    # ONE corpus pass: tokenize once, carry the per-doc gram total along
    # the exploded rows (explode_outer keeps gram-less docs), mark hits
    # with a broadcast left join, and aggregate per doc — no second
    # tokenize/shingle scan for the totals
    toks = F.col("_toks")
    exploded = docs.select(F.col(id_col), tokenize(text_col).alias("_toks")).select(
        F.col(id_col),
        F.greatest(F.size(toks) - (n - 1), F.lit(0)).cast("long").alias("n_ngrams"),
        F.explode_outer(ngrams_from_tokens(toks, n)).alias("gram"),
    )
    out = (
        exploded.join(bench_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.max("n_ngrams").alias("n_ngrams"),
            F.count("_hit").alias("n_contaminated"),
        )
    )
    return out.select(
        id_col,
        "n_ngrams",
        "n_contaminated",
        F.when(
            F.col("n_ngrams") > 0,
            F.col("n_contaminated").cast("double") / F.col("n_ngrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_contamination: float = 0.0,
) -> DataFrame:
    """Drop docs whose benchmark n-gram hit fraction exceeds
    ``max_contamination`` (default 0.0: any overlap disqualifies).
    Returns the clean corpus with original columns."""
    dirty = (
        contamination_stats(docs, benchmark, text_col, id_col, n)
        .where(F.col("contamination") > max_contamination)
        .select(id_col)
    )
    return docs.join(dirty, id_col, "left_anti")


def repetition_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition: [id, n_tokens, n_unique, dup_ratio].

    dup_ratio = (n_tokens - n_unique) / n_tokens (0.0 for empty docs) —
    a single IEEE division with identical operand order in any engine,
    so the double is hash-comparable.
    """
    toks = tokenize(text_col)
    out = df.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique"),
    )
    return out.withColumn(
        "dup_ratio",
        F.when(
            F.col("n_tokens") > 0,
            (F.col("n_tokens") - F.col("n_unique")) / F.col("n_tokens"),
        ).otherwise(F.lit(0.0)),
    )


# per-mille keep rates per language stratum; unknown strata get DEFAULT
STRATA_RATES: dict[str, int] = {"en": 300, "de": 200, "fr": 100, "es": 100}
STRATA_DEFAULT = 50


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    text_col: str = "text",
    rates: dict[str, int] | None = None,
    default_rate: int = STRATA_DEFAULT,
) -> DataFrame:
    """Deterministic per-stratum sample: keep a row iff
    content_fingerprint % 1000 < rate[stratum] (per-mille rates).

    Content-hash keyed like corpus_curation's audit-sample flag, so membership is
    stable under re-runs/re-partitioning — but with per-language rates
    (the "downsample English, keep the tail languages" rebalancing every
    multilingual corpus build does). Single scan, no shuffle.
    """
    rates = STRATA_RATES if rates is None else rates
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    return (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .where(F.col("_fp") % 1000 < rate)
        .drop("_fp")
    )


def sample_k_per_group(
    df: DataFrame,
    group_col: str,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly min(k, |group|) rows per group, deterministically: rank
    rows inside each group by (content fingerprint, id) and keep the
    first ``k`` — the fixed-size counterpart of
    :func:`stratified_sample`'s rate-based membership ("give me 10
    docs per domain for eval/spot-check", not "0.3% of each").

    The fingerprint is a uniform content hash, so the kept rows are a
    pseudo-random but RE-RUN-STABLE sample (same corpus -> same rows,
    regardless of partitioning); the id tiebreak pins exact-duplicate
    content. Per-group rank is a keyed row_number window that Spark
    prunes map-side past k (WindowGroupLimit) — a hot group never
    buffers beyond the cap, unlike collect_list-then-slice."""
    w = Window.partitionBy(group_col).orderBy(F.col("_fp"), F.col(id_col))
    return (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_fp", "_rn")
    )


def bigram_lm_crossentropy(
    train: DataFrame,
    score: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_to: int | None = None,
) -> DataFrame:
    """Per-document bigram language-model cross-entropy — the
    CCNet-class "perplexity filter": train add-one-smoothed bigram
    probabilities on ``train`` (a trusted reference slice), score
    every ``score`` doc by the mean negative log-probability of its
    token transitions. Low = looks like the reference corpus; high =
    gibberish/boilerplate/wrong-language. Returns
    [id, n_transitions, cross_entropy] (nats; docs with < 2 tokens
    have no transitions and drop).

    P(cur|prev) = (c(prev,cur) + 1.0) / (c(prev) + V), with c(prev)
    summed over observed bigram starts and V the train vocabulary
    size. Scale shape: bigram/context counts are partial-combine hash
    aggregations (the model lives as DataFrames — vocabulary never
    broadcasts, unlike an in-memory KenLM); scoring is two equi-joins
    on the gram/context keys; V is a one-row broadcast. Per-transition
    log-probs accumulate in DECIMAL(18,6) so Spark's and DuckDB's
    different summation orders cannot diverge.

    Pass ``repartition_to`` when ``score`` comes from a few-split scan
    (a single parquet file locally): the interpreted bigram HOF chain
    is the dominant per-row cost and otherwise runs on one core — at
    cluster scale the scan already has many splits and the round-robin
    is a cheap narrow shuffle of (id, text). Measured 8.6s -> 1.0s at
    sf0.1 on local[32]."""
    t_grams = train.select(
        F.explode(ngrams_from_tokens(tokenize(F.col(text_col)), 2)).alias("g")
    )
    big = t_grams.groupBy("g").agg(F.count("*").alias("_cpc"))
    # c(prev) == sum over cur of c(prev,cur): aggregate the already-tiny
    # bigram table instead of re-running the interpreted tokenize/gram
    # chain (the dominant per-row cost) over train a second time
    ctx = (
        big.select(F.element_at(F.split("g", " "), 1).alias("_prev"), "_cpc")
        .groupBy("_prev")
        .agg(F.sum("_cpc").alias("_cp"))
    )
    vocab = train.select(F.explode(tokenize(F.col(text_col))).alias("t")).agg(
        F.count_distinct("t").alias("_v")
    )
    base = score.select(F.col(id_col), F.col(text_col))
    if repartition_to:
        base = base.repartition(repartition_to)
    sb = base.select(
        F.col(id_col),
        F.explode(ngrams_from_tokens(tokenize(F.col(text_col)), 2)).alias("g"),
    ).withColumn("_prev", F.element_at(F.split("g", " "), 1))
    joined = (
        sb.join(big, "g", "left")
        .join(ctx, "_prev", "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            id_col,
            F.log(
                (F.coalesce("_cpc", F.lit(0)) + F.lit(1.0))
                / (F.coalesce("_cp", F.lit(0)) + F.col("_v"))
            ).alias("_logp"),
        )
    )
    return joined.groupBy(id_col).agg(
        F.count("*").alias("n_transitions"),
        (
            F.sum((-F.col("_logp")).cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("cross_entropy"),
    )


def mixture_rebalance(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    rate_grain: int = 1_000_000,
) -> DataFrame:
    """Downsample groups so kept TOKEN totals approach target mixture
    ``weights`` (the "30% code, 50% web, 20% books" rebalance every
    multi-source corpus build ends with) while dropping nothing from
    the scarcest source: the binding group — the one whose target
    share is largest relative to its current tokens — keeps rate 1.0,
    and every other group downsamples to match. Groups absent from
    ``weights`` (or weighted 0) are dropped.

    Math: with per-group tokens t_g and weights w_g, the largest
    feasible kept total is K = min_g t_g / w_g; group g keeps rate
    r_g = w_g * K / t_g. Rates are applied as per-``rate_grain``
    content-fingerprint thresholds (keep iff fp % grain <
    floor(r_g * grain)) — membership is deterministic under re-runs
    and re-partitioning, and realized shares converge to the target
    by fingerprint uniformity.

    Scale shape: ONE aggregate for the token totals (bounded collect —
    one row per group, the same side-channel class as partition counts
    or IVF centroids), then a single-scan CASE-threshold filter; no
    join, no shuffle of the corpus.

    Contract: ``group_col`` must be a SOURCE-MIXTURE column (bounded
    cardinality — the same class as ``weights``' key set). The token
    totals are collected to the driver one row per group, so a
    high-cardinality column here would be a driver-sized collect; the
    guard below fails fast with the cause instead."""
    import math

    # the collect is keyed by group cardinality: cap it well above any
    # plausible mixture (weights carries one entry per source) so a
    # mistaken high-cardinality group_col errors here, not as an
    # opaque driver OOM — the limit bounds what can ever reach the
    # driver, and seeing max_groups+1 rows proves the overflow
    max_groups = max(len(weights) * 16, 10_000)
    counts = (
        df.groupBy(group_col)
        .agg(F.sum(token_count(F.col(text_col)).cast("long")).alias("_t"))
        .limit(max_groups + 1)
        .collect()
    )
    if len(counts) > max_groups:
        raise ValueError(
            f"mixture_rebalance: {group_col!r} has more than {max_groups} "
            "distinct values — this operator collects one token-total row "
            "per group and is meant for bounded source-mixture columns; "
            "pass the mixture column, not a document-grained key"
        )
    totals = {r[0]: r[1] for r in counts if weights.get(r[0], 0.0) > 0 and r[1]}
    if not totals:
        return df.where(F.lit(False))
    cap = min(t / weights[g] for g, t in totals.items())
    thr = {
        g: int(math.floor(weights[g] * cap / t * rate_grain)) for g, t in totals.items()
    }
    rate = F.lit(0).cast("long")
    for g, th in sorted(thr.items()):
        rate = F.when(F.col(group_col) == g, F.lit(th)).otherwise(rate)
    return (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .where(F.col("_fp") % rate_grain < rate)
        .drop("_fp")
    )


def alpha_mixture_sample(
    df: DataFrame,
    group_col: str,
    text_col: str = "text",
    alpha: float = 0.5,
    rate_grain: int = 1_000_000,
) -> DataFrame:
    """Temperature-based source re-balancing (the multilingual
    alpha-sampling recipe — Lample & Conneau 2019 §3.1, XLM-R): sample
    source g with probability q_g proportional to n_g^alpha, flattening
    the head and up-weighting the tail as alpha -> 0. Materialized as a
    same-total sampling pass: per-source keep rate
    r_g = min(1, q_g * N / n_g), applied as a content-fingerprint
    per-``rate_grain`` threshold exactly like :func:`mixture_rebalance`
    (deterministic under re-runs and re-partitioning; realized shares
    converge by fingerprint uniformity).

    Determinism device: at the default alpha = 0.5 every threshold is
    computed in EXACT integer arithmetic — n_g^0.5 is taken as the
    integer square root (floor(sqrt), which IEEE-correctly-rounded
    sqrt reproduces exactly for any count below 2^52), so
    thr_g = (isqrt(n_g) * N * grain) // (n_g * sum_j isqrt(n_j)) is a
    pure integer expression with no float summation order anywhere —
    an oracle recomputes the identical integers in SQL. Other alphas
    take the float pow path (documented best-effort cross-engine).

    Scale shape: ONE bounded count aggregate (rows = source
    cardinality, same guard as mixture_rebalance), then a broadcast
    hash join against the one-row-per-group threshold map — O(1) per
    row however many groups there are (a CASE chain would both cost
    O(groups) per row and blow the analyzer's recursion well below the
    cardinality guard), and the corpus never shuffles."""
    import math

    max_groups = 10_000
    counts = df.groupBy(group_col).count().limit(max_groups + 1).collect()
    if len(counts) > max_groups:
        raise ValueError(
            f"alpha_mixture_sample: {group_col!r} has more than "
            f"{max_groups} distinct values — pass the source-mixture "
            "column, not a document-grained key"
        )
    totals = {r[0]: r[1] for r in counts if r[0] is not None and r[1]}
    if not totals:
        return df.where(F.lit(False))
    big_n = sum(totals.values())
    if alpha == 0.5:
        s = {g: math.isqrt(n) for g, n in totals.items()}
        ssum = sum(s.values())
        thr = {
            g: min(rate_grain, (s[g] * big_n * rate_grain) // (n * ssum))
            for g, n in totals.items()
        }
    else:
        p = {g: n**alpha for g, n in totals.items()}
        psum = math.fsum(p[g] for g in sorted(p))
        thr = {
            g: min(
                rate_grain,
                int(math.floor(p[g] / psum * big_n / n * rate_grain)),
            )
            for g, n in totals.items()
        }
    from pyspark.sql import types as T

    thr_schema = T.StructType(
        [
            T.StructField(group_col, df.schema[group_col].dataType),
            T.StructField("_thr", T.LongType()),
        ]
    )
    thr_df = df.sparkSession.createDataFrame(
        sorted(thr.items()), thr_schema
    )
    return (
        df.withColumn("_fp", doc_fingerprint(text_col))
        .join(F.broadcast(thr_df), group_col)
        .where(F.col("_fp") % rate_grain < F.col("_thr"))
        .drop("_fp", "_thr")
    )


def source_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-source corpus accounting: docs, chars, tokens, exact-distinct
    content count (by content fingerprint), and quality mass — one hash
    aggregation keyed by source (the curation dashboard / per-domain
    budget query)."""
    enriched = df.select(
        "source",
        "n_chars",
        token_count(text_col).alias("n_tokens"),
        doc_fingerprint(text_col).alias("fp"),
        quality_score(text_col).alias("quality"),
    )
    return enriched.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.col("n_tokens").cast("long")).alias("total_tokens"),
        F.countDistinct("fp").alias("n_unique_docs"),
        F.sum(F.col("quality").cast("decimal(18,6)")).cast("double").alias("sum_quality"),
    )


def extract_domain(url_col) -> F.Column:
    """Registrable host from a URL: scheme/userinfo/port/path stripped,
    leading ``www.`` dropped, lowercased. Pure regexp (codegen'd; the
    pattern parses identically in Java regex and RE2 for oracles)."""
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.regexp_extract(F.lower(c), r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)", 1)
    return F.regexp_replace(host, r"^www\.", "")


# query params that never identify content — crawler-visible tracking
# noise whose presence splits one logical page into many raw URLs
TRACKING_PARAMS_RE = r"^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|igshid)="


def canonicalize_url(url_col) -> F.Column:
    """Canonical page identity for crawl dedup: lowercase host with
    scheme / userinfo / port / fragment / ``www.`` / trailing slashes
    stripped, tracking query params (``utm_*``/gclid/fbclid/...)
    dropped, and the surviving params SORTED — so every raw spelling of
    one logical page (http vs https, param order, campaign tags) folds
    to one string. Path and param case are preserved (paths are
    case-sensitive); pure regexp + array HOFs, codegen'd, and every
    pattern parses identically in Java regex and RE2 for the oracle.
    """
    c = F.col(url_col) if isinstance(url_col, str) else url_col
    host = F.regexp_replace(
        F.regexp_extract(
            F.lower(c), r"^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)", 1
        ),
        r"^www\.",
        "",
    )
    # strip scheme+userinfo, then take the path (up to ? or #), minus
    # trailing slashes; query is everything between ? and #
    rest = F.regexp_replace(
        F.regexp_replace(c, r"^[A-Za-z][A-Za-z0-9+.-]*://", ""), r"^[^/@?#]*@", ""
    )
    path = F.regexp_replace(
        F.regexp_extract(rest, r"^[^/?#]*(/[^?#]*)?", 1), r"/+$", ""
    )
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(query, "&", -1),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAMS_RE),
        )
    )
    qs = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(host, path, qs)


def url_dedup(
    df: DataFrame, url_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Collapse raw URL variants to one row per canonical page:
    [canonical_url, keeper_id, n_dups] where the keeper is the minimum
    id (deterministic). One partial-combine hash aggregation keyed by
    the canonical string — boilerplate pages with millions of raw
    spellings collapse map-side, never through a window.

    Rows with a NULL url are excluded: a missing URL is no evidence of
    duplication, and grouping NULLs would merge every url-less doc
    into one bogus "duplicate" cluster."""
    return (
        df.where(F.col(url_col).isNotNull())
        .select(canonicalize_url(url_col).alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def domain_filter(
    docs: DataFrame,
    url_col: str,
    domains: DataFrame,
    mode: str = "block",
    domain_col: str = "domain",
) -> DataFrame:
    """Block- or allow-list filtering by registrable domain — the crawl
    hygiene stage ahead of every quality gate. ``domains`` is a 1-column
    frame (eval-suite/blocklist sized); it broadcasts into a map-side
    anti-join (block) or semi-join (allow), so the corpus never
    shuffles."""
    if mode not in ("block", "allow"):
        raise ValueError(f"mode must be 'block' or 'allow', got {mode!r}")
    how = "left_anti" if mode == "block" else "left_semi"
    tagged = docs.withColumn("_dom", extract_domain(url_col))
    listed = F.broadcast(domains.select(F.col(domain_col).alias("_dom")).distinct())
    return tagged.join(listed, "_dom", how).drop("_dom")


def domain_caps(
    docs: DataFrame,
    url_col: str,
    id_col: str = "doc_id",
    max_per_domain: int = 1000,
    order_col=None,
) -> DataFrame:
    """Cap documents per domain (anti-SEO-farm measure): keep the first
    ``max_per_domain`` docs per registrable domain under a deterministic
    order (default: ascending id; pass e.g. a quality score desc to keep
    the best). One keyed window partitioned by domain — WindowGroupLimit
    prunes to the cap map-side before the exchange."""
    order = [order_col] if order_col is not None else [F.col(id_col)]
    w = Window.partitionBy("_dom").orderBy(*order)
    return (
        docs.withColumn("_dom", extract_domain(url_col))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= max_per_domain)
        .drop("_dom", "_rn")
    )


# conservative PII surface: patterns parse identically in Java regex
# (Spark) and RE2 (DuckDB oracle) — no lookarounds, no backreferences.
# Order matters: emails redact first (their digit runs would otherwise
# part-match the phone pattern), then IPs (dotted digits), then phones.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\- ]{6,}[0-9]", "<PHONE>"),
)


def redact_pii(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", out_col: str = "redacted"
) -> DataFrame:
    """Mask emails / IPv4s / phone-ish digit runs with typed placeholder
    tokens and count each type (counted on the original text, so the
    per-type counts are order-independent; overlapping matches — a phone
    inside an email — can count under both types, by design: counts are
    audit tallies, the redaction itself applies patterns in safe order).

    Pure regexp_replace/regexp_count chain — codegen'd JVM regex, one
    scan, no shuffle; the standard pre-training scrub pass.
    """
    c = F.col(text_col)
    counts = [
        F.regexp_count(c, F.lit(pat)).alias(f"n_{name}") for name, pat, _ in PII_PATTERNS
    ]
    red = c
    for _, pat, token in PII_PATTERNS:
        red = F.regexp_replace(red, pat, token)
    # carry every non-text column through the projection — the scrub is
    # a narrow map, and forcing callers to join the result back to the
    # source to recover their meta columns would re-scan the corpus
    passthrough = [col for col in df.columns if col not in (text_col, out_col)]
    return df.select(*passthrough, *counts, red.alias(out_col))


def compression_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Compressibility quality signal: [id, n_bytes, n_compressed,
    ratio] with ratio = compressed/raw bytes (0.0 for empty docs).
    Templated or looping text compresses far below natural prose, so
    low ratios flag machine-generated/boilerplate docs — the
    CCNet/Gopher-class filter the n-gram repetition profile
    approximates; this is the exact information-theoretic version.

    zlib at a fixed level is deterministic, but no SQL engine exposes
    it — this is a legitimately Python-only operator, run as an
    Arrow-batched mapInPandas PURE MAP (no shuffle, no state); the
    driver records the weaker rows-only check for it.
    """
    import pandas as pd

    def run(batches):
        import zlib

        for pdf in batches:
            enc = [(t or "").encode("utf-8") for t in pdf[text_col]]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": [len(e) for e in enc],
                    "n_compressed": [len(zlib.compress(e, level)) for e in enc],
                }
            )

    out = df.select(id_col, text_col).mapInPandas(
        run, f"{id_col} long, n_bytes long, n_compressed long"
    )
    return out.withColumn(
        "ratio",
        F.when(
            F.col("n_bytes") > 0, F.col("n_compressed").cast("double") / F.col("n_bytes")
        ).otherwise(F.lit(0.0)),
    )


def mad_profile(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 3,
) -> DataFrame:
    """Robust per-group outlier accounting via the median absolute
    deviation -> [group, n, med, mad, n_outliers]: the classic
    "median +- k*MAD" rule, immune to the very outliers it flags
    (a mean/stddev gate moves with every extreme value; the median
    pair does not).

    Exactness: values quantize to integers via floor() (the
    cross-engine convention from quantile_sketch), both medians are
    exact integer-rank type-1 quantiles via :func:`quantile_profile`'s
    mechanics, and the flag ``|x - med| > k * mad`` is pure integer
    arithmetic — an oracle reproduces every count bit-for-bit. A
    zero-MAD group (over half the values identical) flags everything
    off the median, the rule's documented degenerate case.

    Scale shape (100 TB): two (group, value) partial-combine hash
    aggregations plus cumulative windows over DISTINCT values only
    (the quantile_profile shape twice), with the bounded one-row-per-
    group medians broadcast back — the raw rows are never windowed and
    never shuffled beyond the two value-histogram aggs."""
    x = F.floor(F.col(value_col)).cast("long")
    v = df.where(F.col(value_col).isNotNull()).select(
        F.col(group_col), x.alias("_x")
    )
    med = quantile_profile(v, "_x", group_col, ps=((1, 2),)).select(
        group_col, F.col("n").alias("_n"), F.col("p50").alias("med")
    )
    dev = v.join(F.broadcast(med), group_col).select(
        group_col, "_x", "med", F.abs(F.col("_x") - F.col("med")).alias("_d")
    )
    mad = quantile_profile(dev, "_d", group_col, ps=((1, 2),)).select(
        group_col, F.col("p50").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n"),
            F.max("med").alias("med"),
            F.max("mad").alias("mad"),
            F.sum(
                (F.col("_d") > F.lit(k) * F.col("mad")).cast("long")
            ).alias("n_outliers"),
        )
    )


def quantile_profile(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: tuple[tuple[int, int], ...] = ((1, 4), (1, 2), (3, 4), (9, 10)),
) -> DataFrame:
    """Exact per-group quantiles of an integer-valued column -> one row
    per group [group, n, p25, p50, p75, p90] (default ps; column name =
    ``p{round(100*num/den)}``).

    Type-1 (discrete) quantiles: the smallest value whose cumulative
    count reaches rank ceil(p*n), with the rank computed in PURE
    INTEGER arithmetic (``(num*n + den - 1) div den`` from rational p)
    — no IEEE rounding anywhere, so any engine agrees bit-for-bit
    (interpolated quantiles differ across engines in last-ulp ways).

    Scale shape (100 TB): the corpus-sized work is ONE partial-combine
    hash aggregation on (group, value) — token-count-style columns
    have bounded distinct values, so the cumulative-sum window that
    follows runs over #distinct rows per group, thousands not
    billions. Never a per-row rank window over the raw data.

    NULL values are excluded up front: engines order NULLs
    differently (Spark first-asc, DuckDB last), so a null inside the
    cumulative ranking would make the result engine-dependent.
    """
    labels = [f"p{round(100 * num / den)}" for num, den in ps]
    if len(set(labels)) != len(labels):
        raise ValueError(f"percentile labels collide after rounding: {labels}")
    df = df.where(F.col(value_col).isNotNull())
    counts = df.groupBy(group_col, value_col).agg(F.count("*").alias("_c"))
    w = Window.partitionBy(group_col).orderBy(value_col)
    cum = counts.withColumn(
        "_cum",
        F.sum("_c").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    totals = counts.groupBy(group_col).agg(F.sum("_c").alias("_n"))
    j = cum.join(totals, group_col)
    aggs = [F.max("_n").alias("n")]
    for (num, den), label in zip(ps, labels):
        # integer div == ceil(num*n/den); no float in the rank
        rank = F.expr(f"({num} * _n + {den - 1}) div {den}")
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col(value_col))).alias(label)
        )
    return j.groupBy(group_col).agg(*aggs)


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ps: tuple[tuple[int, int], ...] = ((1, 4), (1, 2), (3, 4), (9, 10)),
    accuracy: int = 10_000,
) -> DataFrame:
    """Mergeable approximate-quantile twin of :func:`quantile_profile`
    (VERDICT r5 item 3) -> same shape: one row per group
    [group, n, p25, p50, p75, p90] (column name = ``p{...}`` from the
    rational ps, like the exact form).

    Spark-first: ``percentile_approx`` IS the one-pass mergeable
    sketch the 100 TB profile wants — a Greenwald-Khanna-class summary
    built per partition map-side, merged in the partial-aggregate
    tree, with rank error bounded by n/accuracy. Nothing to hand-roll:
    the JVM aggregate already implements partial/merge/finish, so the
    sketch state never touches Python and AQE/whole-stage-codegen
    apply as usual.

    When to use which twin (the scale trade this pair documents):
    the exact form shuffles one (group, value, count) row per DISTINCT
    value — right for bounded-cardinality columns (token counts) and
    for oracle-checked profiling runs. A 100 TB multi-column profile
    over high-cardinality values (float scores, byte lengths) would
    shuffle billions of distinct rows; the sketch shuffles one
    ~O(accuracy)-sized summary per partition per group regardless of
    cardinality — flat bytes where exact grows linearly (probe table
    in BASELINE.md). Accuracy is the knob: rank error <= n/accuracy,
    pytest-pinned against the exact form.

    No SQL oracle BY DESIGN (the bpe/PCA rows-only convention): the
    sketch's exact output depends on GK compaction internals no other
    engine reproduces; the pinned guarantee is the rank-error bound,
    not bit equality. NULLs are excluded up front like the exact twin.
    """
    labels = [f"p{round(100 * num / den)}" for num, den in ps]
    if len(set(labels)) != len(labels):
        raise ValueError(f"percentile labels collide after rounding: {labels}")
    df = df.where(F.col(value_col).isNotNull())
    aggs = [F.count("*").alias("n")]
    for (num, den), label in zip(ps, labels):
        aggs.append(
            F.percentile_approx(value_col, F.lit(num / den), F.lit(accuracy)).alias(
                label
            )
        )
    return df.groupBy(group_col).agg(*aggs)


def value_histogram(
    df: DataFrame,
    value_col: str,
    width: int,
    group_col: str | None = None,
) -> DataFrame:
    """Fixed-width histogram of a NON-NEGATIVE integer column ->
    [bucket_lo, n] (plus the group column when given); bucket_lo =
    (v div width) * width, pure integer arithmetic. One
    partial-combine hash aggregation — the corpus-profiling dashboard
    histogram at any scale.

    ``div`` truncates toward zero (identically in Spark and DuckDB),
    so a negative value would land in the bucket ABOVE its floor
    (-5 -> bucket 0, not -10); counts/lengths are never negative, so
    negative rows (and NULLs) are excluded rather than mis-bucketed."""
    if width <= 0:
        raise ValueError(f"width must be positive, got {width}")
    # truncating integer div — exact and engine-portable; no float
    bucket = (F.expr(f"`{value_col}` div {width}") * width).alias("bucket_lo")
    df = df.where(F.col(value_col) >= 0)
    keys = ([F.col(group_col)] if group_col else []) + [bucket]
    return df.groupBy(*keys).agg(F.count("*").alias("n"))


def duplicate_passage_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 6,
    repartition_to: int | None = None,
) -> DataFrame:
    """Cross-document duplicated-passage detection (substring-level
    dedup a la Lee et al. 2022, word-granular): find every maximal
    token span of a document that is covered by word *n*-grams
    occurring in MORE THAN ONE document, -> one row per merged span
    [id, span_start, span_end, span_tokens] (1-based inclusive token
    positions; overlapping/adjacent duplicated grams coalesce).

    This is the passage-granular complement to the doc-granular
    minhash/simhash dedup and the line-granular line_dedup: it locates
    boilerplate runs (licenses, navigation chrome, quoted passages)
    INSIDE otherwise-unique documents so callers can excise the span
    rather than drop the doc.

    Scale shape (100 TB): positions come from ONE tokenize +
    posexplode; "duplicated" is decided by ``GROUP BY gram`` keeping
    min/max doc id — distinct-doc-count >= 2 iff min != max, a
    partial-combine HASH aggregate, never a countDistinct and never a
    gram-keyed window (billion-copy boilerplate grams collapse
    map-side exactly as in line_dedup). Flagged grams join back on the
    gram key (AQE skew-split applies); span merging is a per-document
    window — bounded by document length, safely partitioned.

    ``repartition_to``: spread the (CPU-heavy, interpreted) tokenize +
    gram HOF chain across cores when the source is a few fat files —
    a single-file sf0.1 scan otherwise runs the whole explode on one
    core (measured 26s -> 3s at sf0.1 on local[32]). At cluster scale
    the scan already has many splits; leave None.
    """
    toks = tokenize(text_col)
    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    grams = base.select(
        F.col(id_col),
        F.posexplode(ngrams_from_tokens(toks, n)).alias("_p0", "gram"),
    ).select(F.col(id_col), (F.col("_p0") + 1).cast("long").alias("pos"), "gram")
    dup = (
        grams.groupBy("gram")
        .agg(F.min(id_col).alias("_mn"), F.max(id_col).alias("_mx"))
        .where(F.col("_mn") != F.col("_mx"))
        .select("gram")
    )
    hits = grams.join(dup, "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev = F.lag("pos").over(w)
    brk = F.when(prev.isNull() | (F.col("pos") > prev + n), 1).otherwise(0)
    islands = hits.withColumn(
        "island",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + (n - 1)).alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
        )
    )


def duplicate_passage_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 6,
    repartition_to: int | None = None,
) -> DataFrame:
    """Per-document rollup of duplicate_passage_spans: [id, n_tokens,
    n_spans, dup_tokens, dup_frac] — every input doc reports a row
    (0 spans / 0.0 fraction when nothing is duplicated), the gating
    signal for "excise or drop" curation policies."""
    spans = duplicate_passage_spans(df, text_col, id_col, n, repartition_to)
    agg = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"), F.sum("span_tokens").alias("dup_tokens")
    )
    totals = df.select(F.col(id_col), token_count(text_col).cast("long").alias("n_tokens"))
    out = totals.join(agg, id_col, "left")
    return out.select(
        id_col,
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce("dup_tokens", F.lit(0)).cast("double") / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_frac"),
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    line_tokens: int = 8,
) -> DataFrame:
    """C4-style cross-corpus line dedup: chunk each doc into fixed-width
    token "lines", keep only the corpus-wide FIRST occurrence of each
    distinct line (ordering = (doc_id, line_no)), reassemble surviving
    lines in document order -> [id, dedup_text, n_lines, n_kept_lines].

    Scale shape (100 TB): first-occurrence is found with
    ``min(doc_id<<20 | line_no) GROUP BY line`` — a partial-combine
    HASH aggregate — NOT ``row_number() OVER (PARTITION BY line)``.
    Boilerplate lines ("click here to subscribe") occur billions of
    times; a window would funnel every copy of the hottest line through
    one task, while map-side partial min() collapses them before the
    shuffle. The (doc_id, line_no) pair is bit-packed into one long
    because min over a struct falls back to the slower SortAggregate;
    the packing bounds docs at 2^20 lines (8M tokens at the default
    width — far past any sane document). Docs whose every line was
    seen earlier drop from the output (their dedup_text would be
    empty).
    """
    toks = tokenize(text_col)
    n_lines = F.ceil(F.size(toks) / F.lit(float(line_tokens))).cast("int")
    lines = F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(F.lit(1), n_lines),
            lambda i: F.concat_ws(
                " ", F.slice(toks, (i - F.lit(1)) * line_tokens + 1, line_tokens)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = df.select(
        F.col(id_col), F.posexplode(lines).alias("line_no", "line")
    )
    # cast to long BEFORE multiplying: an IntegerType id would overflow
    # int32 at doc_id >= 2048 (ANSI abort, or silent wrap with ANSI off)
    packed = F.col(id_col).cast("long") * F.lit(1 << 20).cast("long") + F.col("line_no").cast("long")
    firsts = exploded.groupBy("line").agg(F.min(packed).alias("first_packed"))
    kept = (
        exploded.join(firsts, "line")
        .where(packed == F.col("first_packed"))
        .drop("first_packed")
    )
    total = df.select(
        F.col(id_col), n_lines.alias("n_lines")
    )
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
        ).alias("dedup_text"),
        F.count("*").alias("n_kept_lines"),
    )
    return reassembled.join(total, id_col).select(
        id_col, "dedup_text", "n_lines", "n_kept_lines"
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """-> [source_a, source_b, n_shared]: for every source pair
    (a < b), how many distinct content fingerprints appear in BOTH —
    the cross-source contamination dashboard every multi-crawl corpus
    build needs before setting mixture weights (double-counting a
    shared crawl inflates its effective epoch count).

    Scale shape: ONE distinct hash-agg on (source, fp) collapses the
    corpus to its per-source content sets BEFORE any pairing; the
    self-join then matches on the fp hash key and the output is at
    most |sources|^2 rows. The join input is duplicate-free by
    construction, so a fingerprint shared k ways contributes exactly
    C(k,2) ordered pairs — never a row explosion over raw copies.
    """
    keyed = df.select(
        F.col(source_col).alias("_src"), doc_fingerprint(text_col).alias("_fp")
    ).distinct()
    a = keyed.select(F.col("_src").alias("source_a"), "_fp")
    b = keyed.select(F.col("_src").alias("source_b"), "_fp")
    return (
        a.join(b, "_fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """-> [id, change] over two corpus snapshots: 'added' (id only in
    new), 'removed' (id only in old), 'changed' (id in both, content
    fingerprint differs) — the snapshot-release diff every continuously
    refreshed corpus publishes alongside a new crawl.

    Scale shape: each side collapses to (id, fp) in one narrow
    projection; ONE full outer join on the id hash key classifies every
    row; no window, no collect. Unchanged docs drop out (the usual
    ~99% at 100 TB), so output is proportional to churn, not corpus.
    """
    # explicit presence markers: a NULL-text doc has a NULL content
    # fingerprint, so fp nullability CANNOT stand in for row absence
    # (it would classify a removed NULL-text doc as 'added')
    o = old.select(F.col(id_col), doc_fingerprint(text_col).alias("_ofp"), F.lit(1).alias("_o"))
    n = new.select(F.col(id_col), doc_fingerprint(text_col).alias("_nfp"), F.lit(1).alias("_n"))
    j = o.join(n, id_col, "full_outer")
    change = (
        F.when(F.col("_o").isNull(), F.lit("added"))
        .when(F.col("_n").isNull(), F.lit("removed"))
        # null-safe: NULL fp == NULL fp is unchanged; NULL vs value is
        # a change — matching what a content diff means
        .when(~F.col("_ofp").eqNullSafe(F.col("_nfp")), F.lit("changed"))
    )
    return (
        j.withColumn("change", change)
        .where(F.col("change").isNotNull())
        .select(id_col, "change")
    )


def gopher_quality_gates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_bounds: tuple[int, int] = (50, 100_000),
    word_len_bounds: tuple[float, float] = (3.0, 10.0),
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_required_stops: int = 2,
) -> DataFrame:
    """The full Gopher document-quality rule set (Rae et al. 2021,
    Appendix A) as one Catalyst scan -> [id, the seven per-rule
    measurements, keep]: word-count bounds, mean-word-length band,
    symbol-to-word ratio (# and ellipsis), bullet-started and
    ellipsis-ended line ratios, fraction of words containing an
    alphabetic character, and the required-stopword count ("the, be,
    to, of, and, that, have, with" — at least 2 distinct). The
    existing ``quality_score`` is a blended heuristic; this is the
    published gate battery with every measurement emitted so a
    curation run can report WHY a doc dropped, not just that it did.

    Scale shape: a single narrow projection — token/line arrays are
    built once per row, every ratio folds over them with HOFs, no
    shuffle, no UDF. All arithmetic is integer-derived IEEE division,
    SQL-expressible for the oracle."""
    toks = tokenize(F.col(text_col))
    n_words = F.size(toks).cast("long")
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_wl = F.when(n_words > 0, sum_len.cast("double") / n_words).otherwise(F.lit(0.0))
    hashes = F.length(F.col(text_col)) - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    dots = (
        F.length(F.col(text_col))
        - F.length(F.replace(F.col(text_col), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n_words > 0, (hashes + dots).cast("double") / n_words
    ).otherwise(F.lit(0.0))
    lines = F.split(F.col(text_col), "\n", -1)
    n_lines = F.size(lines).cast("long")
    bullets = F.size(
        F.filter(
            lines,
            lambda ln: F.ltrim(ln).startswith("-")
            | F.ltrim(ln).startswith("*")
            | F.ltrim(ln).startswith("•"),
        )
    ).cast("long")
    ellipses = F.size(
        F.filter(
            lines,
            lambda ln: F.rtrim(ln).endswith("...") | F.rtrim(ln).endswith("…"),
        )
    ).cast("long")
    bullet_ratio = F.when(n_lines > 0, bullets.cast("double") / n_lines).otherwise(F.lit(0.0))
    ellipsis_ratio = F.when(n_lines > 0, ellipses.cast("double") / n_lines).otherwise(
        F.lit(0.0)
    )
    alpha_words = F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("long")
    alpha_ratio = F.when(n_words > 0, alpha_words.cast("double") / n_words).otherwise(
        F.lit(0.0)
    )
    req = F.array(*[F.lit(w) for w in ("the", "be", "to", "of", "and", "that", "have", "with")])
    n_stops = F.size(F.array_intersect(F.array_distinct(toks), req)).cast("int")
    out = df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_ratio.alias("bullet_ratio"),
        ellipsis_ratio.alias("ellipsis_ratio"),
        alpha_ratio.alias("alpha_word_ratio"),
        n_stops.alias("n_required_stops"),
    )
    keep = (
        F.col("n_words").between(*word_bounds)
        & F.col("mean_word_len").between(*word_len_bounds)
        & (F.col("symbol_ratio") <= max_symbol_ratio)
        & (F.col("bullet_ratio") < max_bullet_ratio)
        & (F.col("ellipsis_ratio") < max_ellipsis_ratio)
        & (F.col("alpha_word_ratio") >= min_alpha_word_ratio)
        & (F.col("n_required_stops") >= min_required_stops)
    )
    return out.withColumn("keep", keep)


def build_bloom_filter(
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Distributed Bloom filter over the benchmark's word n-grams ->
    [word, bits]: a constant-size mergeable membership sketch.

    Why it exists next to the exact gram-set join
    (:func:`contamination_stats`): the exact path broadcasts the
    DISTINCT benchmark shingle STRINGS — fine while the eval suite is
    eval-suite-sized, but a consortium contamination list (every eval
    ever published, multi-language) can reach GBs of strings. The
    Bloom is ``m_bits/32`` int words REGARDLESS of gram count, unions
    by bitwise OR (mergeable across suites/partitions by
    construction), and trades a quantified false-positive rate
    (~(1 - e^(-k*n_grams/m_bits))^k, knob-controlled) for that
    boundedness — false positives only ever over-flag, never leak a
    real contamination.

    Determinism & oracle: the k bit positions are the k consecutive
    8-hex-char (32-bit) slices of ONE md5 of the gram (md5's 128 bits
    cover k <= 4) — one native hash call per gram instead of k, and
    the cross-engine convention means DuckDB rebuilds the IDENTICAL
    filter bit-for-bit: the false positives themselves are reproduced,
    which is what makes a bloom-based query hash-exact. 32-bit words
    (not 64) keep every mask within BIGINT in both engines with no
    signed-overflow edge at bit 63.

    Scale shape: explode grams -> k (word, mask) rows each ->
    bit_or hash-agg keyed by word: one pass over the benchmark, a
    ``m_bits/32``-row result."""
    if k > 4:
        raise ValueError("k <= 4: positions are 32-bit slices of one 128-bit md5")
    grams = benchmark.select(F.explode(ngrams(text_col, n)).alias("gram")).distinct()
    pos = F.explode(
        F.transform(
            F.sequence(F.lit(1), F.lit(k)),
            lambda j: F.conv(
                F.substring(F.md5(F.col("gram")), (j - 1) * 8 + 1, 8), 16, 10
            ).cast("long")
            % F.lit(m_bits),
        )
    ).alias("pos")
    positions = grams.select(pos)
    return (
        positions.select(
            F.floor(F.col("pos") / F.lit(32)).cast("long").alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_contamination_stats(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    m_bits: int = 1 << 20,
    k: int = 4,
) -> DataFrame:
    """Per-doc benchmark-overlap scan through the Bloom filter ->
    [id, n_ngrams, n_flagged, contamination]: same shape and
    semantics as :func:`contamination_stats` but membership is the
    k-position bit test against :func:`build_bloom_filter`'s sketch —
    n_flagged >= the exact n_contaminated (false positives only
    over-flag), with equality at low fill factors.

    Scale shape: the corpus explodes each gram to k (word, mask)
    probe rows, broadcast-joins the (m_bits/32)-row filter on word
    (the corpus never shuffles on gram strings — probe keys are
    ints), and a gram counts as flagged iff ALL k probes hit:
    two keyed partial-combine aggregations, no string broadcast."""
    bloom = F.broadcast(build_bloom_filter(benchmark, text_col, n, m_bits, k))
    toks = F.col("_toks")
    # posexplode: duplicate gram OCCURRENCES stay distinct rows so the
    # flagged count matches contamination_stats' per-occurrence
    # semantics (a doc repeating a leaked shingle is more contaminated)
    exploded = docs.select(F.col(id_col), tokenize(text_col).alias("_toks")).select(
        F.col(id_col),
        F.greatest(F.size(toks) - (n - 1), F.lit(0)).cast("long").alias("n_ngrams"),
        F.posexplode_outer(ngrams_from_tokens(toks, n)).alias("gpos", "gram"),
    )
    probes = exploded.select(
        id_col,
        "n_ngrams",
        "gpos",
        "gram",
        F.explode_outer(
            F.when(
                F.col("gram").isNotNull(),
                F.transform(
                    F.sequence(F.lit(1), F.lit(k)),
                    lambda j: F.conv(
                        F.substring(F.md5(F.col("gram")), (j - 1) * 8 + 1, 8), 16, 10
                    ).cast("long")
                    % F.lit(m_bits),
                ),
            )
        ).alias("pos"),
    ).select(
        id_col,
        "n_ngrams",
        "gpos",
        "gram",
        "pos",
        F.floor(F.col("pos") / F.lit(32)).cast("long").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
    )
    hits = (
        probes.join(bloom, "word", "left")
        .withColumn(
            "_hit",
            (F.col("bits").isNotNull())
            & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        )
        .groupBy(id_col, "n_ngrams", "gpos", "gram")
        .agg(F.count(F.when(F.col("_hit"), 1)).alias("_k_hits"))
        .withColumn(
            "_flagged",
            F.col("gram").isNotNull() & (F.col("_k_hits") == F.lit(k)),
        )
    )
    out = hits.groupBy(id_col).agg(
        F.max("n_ngrams").alias("n_ngrams"),
        F.count(F.when(F.col("_flagged"), 1)).alias("n_flagged"),
    )
    return out.select(
        id_col,
        "n_ngrams",
        "n_flagged",
        F.when(
            F.col("n_ngrams") > 0,
            F.col("n_flagged").cast("double") / F.col("n_ngrams"),
        )
        .otherwise(F.lit(0.0))
        .alias("contamination"),
    )


def build_count_min(
    df: DataFrame,
    text_col: str = "text",
    depth: int = 4,
    width: int = 1 << 14,
) -> DataFrame:
    """Count-Min sketch over the corpus' token OCCURRENCES ->
    [row, col, c]: the frequency-estimation member of the sketch
    family (Bloom = membership, GK = quantiles, HLL = distinct,
    MinHash = similarity; Cormode & Muthukrishnan 2005).

    depth x width counters (4 x 16,384 longs = 512 KB) REGARDLESS of
    vocabulary size; est(token) = min over rows of the token's
    counter, guaranteed >= the true count with the overestimate
    bounded by eps = e/width of total mass per row. Counter cells sum
    under union, so sketches merge across shards/days/streams by
    adding frames — the property that matters when the vocabulary is
    crawl-sized and a per-token exact count would shuffle every key.

    Determinism & oracle: row j's column is the j-th 8-hex-char slice
    of ONE md5 per token (the bloom-filter convention; md5's 128 bits
    cover depth <= 4), so DuckDB rebuilds the identical sketch and the
    ESTIMATES — including their deterministic collisions — reproduce
    exactly. Scale shape: explode tokens -> depth (row, col) pairs ->
    one partial-combine hash aggregation into at most depth*width
    rows."""
    if depth > 4:
        raise ValueError("depth <= 4: rows are 32-bit slices of one 128-bit md5")
    toks = df.select(F.explode(tokenize(F.col(text_col))).alias("tok"))
    cells = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(depth)),
                lambda j: F.struct(
                    (j - 1).cast("int").alias("row"),
                    (
                        F.conv(
                            F.substring(F.md5(F.col("tok")), (j - 1) * 8 + 1, 8), 16, 10
                        ).cast("long")
                        % F.lit(width)
                    ).cast("int").alias("col"),
                ),
            )
        ).alias("cell")
    )
    return (
        cells.select(F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("c"))
    )


def cms_estimate_tokens(
    df: DataFrame,
    tokens: DataFrame,
    text_col: str = "text",
    token_col: str = "tok",
    depth: int = 4,
    width: int = 1 << 14,
) -> DataFrame:
    """Estimate each token's corpus occurrence count through the
    Count-Min sketch -> [tok, est_count]: depth probe rows per token
    equi-join the broadcast sketch on (row, col) ints, est = min of
    the depth counters (a missing cell reads 0). est_count >= the true
    count always — collisions only ever inflate."""
    cms = F.broadcast(build_count_min(df, text_col, depth, width))
    # two-step select: aliasing token_col to "tok" AND hashing it in
    # the same projection would make the md5 a lateral alias reference
    # when token_col is already named "tok"
    named = tokens.select(F.col(token_col).alias("tok"))
    probes = named.select(
        "tok",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(depth)),
                lambda j: F.struct(
                    (j - 1).cast("int").alias("row"),
                    (
                        F.conv(
                            F.substring(F.md5(F.col("tok")), (j - 1) * 8 + 1, 8),
                            16,
                            10,
                        ).cast("long")
                        % F.lit(width)
                    ).cast("int").alias("col"),
                ),
            )
        ).alias("cell"),
    ).select("tok", F.col("cell.row").alias("row"), F.col("cell.col").alias("col"))
    return (
        probes.join(cms, ["row", "col"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est_count"))
    )


def build_hll(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    p: int = 12,
) -> DataFrame:
    """HyperLogLog register table over ``key_col`` ->
    [*group_cols, register, max_rho]: the DISTINCT-COUNT member of
    the sketch family (CMS = frequency, GK = quantiles, Bloom =
    membership, MinHash = similarity; Flajolet et al. 2007) — the
    same family Spark's own approx_count_distinct implements, here
    in the repo's deterministic md5-slice form so the REGISTERS
    themselves are oracle-reproducible cell-for-cell.

    m = 2^p registers per group REGARDLESS of key cardinality (p=12
    -> 4096 tiny rows where an exact count-distinct would shuffle
    every key). h = the first 32 md5 bits of the key; register =
    the top p bits, rho = 1 + leading zeros of the remaining
    (32 - p) bits (computed as (32 - p + 1) - length(bin(w)), with
    w = 0 mapping to the max rho (32 - p + 1) — bin() drops leading
    zeros in Spark and DuckDB alike). Registers MERGE by max, so
    sketches union across shards/days/groups by one max-aggregate —
    at 100 TB each executor emits at most m partial rows and the
    combine is associative; absent registers read as 0.

    Estimates come from hll_estimate(); this function returns the
    mergeable state, the part that must be exact."""
    group_cols = group_cols or []
    wbits = 32 - p
    h = F.conv(F.substring(F.md5(F.col(key_col)), 1, 8), 16, 10).cast("long")
    w = h % F.lit(1 << wbits)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        df.where(F.col(key_col).isNotNull())
        .select(
            *group_cols,
            (h / F.lit(1 << wbits)).cast("int").alias("register"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "register")
        .agg(F.max("rho").alias("max_rho"))
    )


def seed_hll_index(
    df,
    key_col: str,
    group_cols: list[str],
    table: str,
    p: int = 12,
    n_buckets: int = 8,
):
    """Persist `build_hll`'s mergeable registers as a standing SKETCH
    INDEX — the sketch family's member of the persisted-index lifecycle
    (MinHash bands, SimHash bands, IVF cells, Bloom sidecars... and now
    distinct-count state): the register table is bounded at
    |groups| x 2^p rows FOREVER, so "how many distinct shingles per
    source, across everything ever ingested" stays answerable without
    re-scanning history. Bucketed on (group, register) — the exact key
    `merge_hll_index` joins on, so the daily merge consumes the index
    side exchange-free. The precision ``p`` is pinned as a table
    property (the dedup-index self-describing convention): merging a
    batch sketched at a different p would silently corrupt every
    register."""
    from hadoop_app_spark.operators.bucketing import write_bucketed

    spark = df.sparkSession
    regs = build_hll(df, key_col, group_cols, p)
    keys = [*group_cols, "register"]
    write_bucketed(regs, table, keys, n_buckets)
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('sketch.p'='{p}')")
    return spark.table(table)


def merge_hll_index(
    new_batch,
    table: str,
    key_col: str,
    group_cols: list[str],
    p: int = 12,
) -> None:
    """Daily merge into the persisted HLL index: sketch the batch
    (O(batch) scan collapsing to <= |groups| x 2^p partial rows), then
    ONE full-outer merge on (group, register) taking the max rho per
    cell — registers merge associatively, so seed + any sequence of
    daily merges holds EXACTLY the registers a one-shot build over the
    union would (the registry oracle checks that cell-for-cell). The
    index side never exceeds |groups| x 2^p rows and the bucketed
    layout feeds the merge join exchange-free; the accumulated corpus
    is never re-read."""
    from hadoop_app_spark.operators.bucketing import _bucket_meta, write_bucketed

    spark = new_batch.sparkSession
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    if props.get("sketch.p") != str(p):
        raise ValueError(
            f"{table} was sketched at p={props.get('sketch.p')}, caller "
            f"passed p={p} — merging mismatched precisions corrupts "
            "every register; pass the build-time value or re-seed"
        )
    n_buckets = _bucket_meta(spark, table)[0]
    keys = [*group_cols, "register"]
    new_regs = build_hll(new_batch, key_col, group_cols, p).withColumnRenamed(
        "max_rho", "_new_rho"
    )
    merged = (
        spark.table(table)
        .join(new_regs, keys, "full_outer")
        .select(
            *keys,
            F.greatest(
                F.coalesce(F.col("max_rho"), F.lit(0)),
                F.coalesce(F.col("_new_rho"), F.lit(0)),
            ).alias("max_rho"),
        )
        # snapshot before overwriting the table the join reads (the
        # refresh_agg_view lazy-plan/mutation discipline); bounded by
        # |groups| x 2^p rows by construction
        .localCheckpoint(eager=True)
    )
    write_bucketed(merged, table, keys, n_buckets)
    spark.sql(f"ALTER TABLE {table} SET TBLPROPERTIES ('sketch.p'='{p}')")


def hll_estimate(
    registers: DataFrame,
    group_cols: list[str] | None = None,
    p: int = 12,
) -> DataFrame:
    """Distinct-count estimate from an HLL register table ->
    [*group_cols, est_distinct]: the harmonic-mean finisher over
    build_hll's state, with the standard small-range linear-counting
    correction (Flajolet et al. 2007 fig. 3).

    Float determinism note: every 2^-rho term is a dyadic rational
    with exponent >= -(32-p+1) and the m-term sum stays under
    ~2^p+1 significant bits of that granularity — comfortably inside
    double's 53-bit mantissa for p <= 20 — so the harmonic sum is
    EXACT in IEEE double regardless of aggregation order; only the
    single final division (and ln() on the linear-counting branch)
    involve rounding, both deterministic single operations. The
    estimate is rounded to 3 decimals to absorb any cross-engine
    libm-ulp drift on the ln branch."""
    group_cols = group_cols or []
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = registers.groupBy(*group_cols).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("max_rho"))).alias("_sum_present"),
        F.count("*").alias("_n_present"),
    )
    # absent registers contribute 2^0 = 1 each to the harmonic sum
    zeros = F.lit(m) - F.col("_n_present")
    harm = F.col("_sum_present") + zeros.cast("double")
    raw = F.lit(alpha * m * m) / harm
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 3).alias("est_distinct"))


def build_kmv(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
    k: int = 64,
    pre_buckets: int = 64,
) -> DataFrame:
    """K-minimum-values ("bottom-k" / theta) sketch per group ->
    [*group_cols, h, pos]: the SET-OPERATION member of the sketch
    family (Bayer/Beyer et al. 2007; the KMV theta sketch HLL cannot
    replace — HLL registers union but never intersect, KMV minima
    support union AND intersection/Jaccard estimates, the
    cross-source overlap questions a mixture build asks).

    The sketch is the k smallest DISTINCT 60-bit hashes of the
    group's keys (h = the first 15 hex chars of one md5 — the
    engine-reproducible slice convention, giving DuckDB the identical
    minima bit-for-bit). est_distinct = (k-1) / (kth_min / 2^60);
    when the group has fewer than k distinct keys the sketch IS the
    set and every estimate collapses to exact.

    Scale shape: one distinct hash-agg on (group, h) collapses the
    corpus to its per-group hash sets (partial-combine friendly),
    then a two-level tournament bounds the sorts — level 1 ranks
    within (group, h % pre_buckets) sub-buckets (WindowGroupLimit
    prunes map-side past k), level 2 ranks the surviving
    <= pre_buckets*k rows per group. No group ever sorts its full
    distinct set in one partition; at 100 TB raise pre_buckets with
    corpus cardinality."""
    group_cols = group_cols or []
    h = F.conv(F.substring(F.md5(F.col(key_col)), 1, 15), 16, 10).cast("long")
    dist = (
        df.where(F.col(key_col).isNotNull())
        .select(*group_cols, h.alias("h"))
        .distinct()
    )
    w1 = Window.partitionBy(
        *group_cols, F.pmod(F.col("h"), F.lit(pre_buckets))
    ).orderBy("h")
    pre = (
        dist.withColumn("_rn", F.row_number().over(w1))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
    w2 = Window.partitionBy(*group_cols).orderBy("h")
    return (
        pre.withColumn("pos", F.row_number().over(w2))
        .where(F.col("pos") <= k)
    )


KMV_RANGE = float(1 << 60)


def kmv_estimate(
    minima: DataFrame, group_cols: list[str] | None = None, k: int = 64
) -> DataFrame:
    """-> [*group_cols, est_distinct]: (k-1)/kth_min-normalized, or
    the exact count when the sketch holds the whole set. One bounded
    aggregation over <= k rows per group; the single division is the
    only float op, deterministic cross-engine."""
    group_cols = group_cols or []
    agg = minima.groupBy(*group_cols).agg(
        F.count("*").alias("_n"), F.max("h").alias("_kth")
    )
    est = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("_kth").cast("double") / F.lit(KMV_RANGE))
    )
    return agg.select(*group_cols, F.round(est, 3).alias("est_distinct"))


def kmv_pair_overlap(
    minima: DataFrame, group_col: str = "source", k: int = 64
) -> DataFrame:
    """-> [src_a, src_b, est_union, jaccard, est_intersection] for
    every group pair (a < b), from per-group KMV minima alone — the
    sketch-space set algebra (Beyer et al. 2007): the k smallest of
    H_a UNION H_b are a subset of minima_a UNION minima_b, so the
    union sketch derives from the two sketches without touching the
    corpus; jaccard = |union-sketch members in BOTH sketches| /
    |union sketch|; intersection = jaccard * union estimate.

    Every input here is sketch-sized (<= |groups| * k rows), so the
    pairing is bounded work by construction: groups pair through a
    constant-key equi-join (|groups|^2 rows, no corpus involvement),
    the flags attach by broadcast hash joins on (group, h), and each
    pair re-ranks <= 2k rows. Rounded to 3 decimals like the other
    sketch finishers."""
    m = minima.select(F.col(group_col).alias("_g"), "h")
    groups = m.select("_g").distinct().withColumn("_one", F.lit(1))
    pairs = (
        groups.select(F.col("_g").alias("src_a"), "_one")
        .join(groups.select(F.col("_g").alias("src_b"), "_one"), "_one")
        .where(F.col("src_a") < F.col("src_b"))
        .drop("_one")
    )
    rows_a = pairs.join(
        F.broadcast(m), pairs.src_a == m._g
    ).select("src_a", "src_b", "h", F.lit(1).alias("_fa"), F.lit(0).alias("_fb"))
    rows_b = pairs.join(
        F.broadcast(m), pairs.src_b == m._g
    ).select("src_a", "src_b", "h", F.lit(0).alias("_fa"), F.lit(1).alias("_fb"))
    merged = (
        rows_a.unionByName(rows_b)
        .groupBy("src_a", "src_b", "h")
        .agg(F.max("_fa").alias("_fa"), F.max("_fb").alias("_fb"))
    )
    w = Window.partitionBy("src_a", "src_b").orderBy("h")
    sk = merged.withColumn("pos", F.row_number().over(w)).where(F.col("pos") <= k)
    agg = sk.groupBy("src_a", "src_b").agg(
        F.count("*").alias("_n"),
        F.max("h").alias("_kth"),
        F.sum(F.col("_fa") * F.col("_fb")).alias("_both"),
    )
    est_union = F.when(F.col("_n") < k, F.col("_n").cast("double")).otherwise(
        F.lit(float(k - 1)) / (F.col("_kth").cast("double") / F.lit(KMV_RANGE))
    )
    jacc = F.col("_both").cast("double") / F.col("_n").cast("double")
    return agg.select(
        "src_a",
        "src_b",
        F.round(est_union, 3).alias("est_union"),
        F.round(jacc, 6).alias("jaccard"),
        F.round(jacc * est_union, 3).alias("est_intersection"),
    )


def mixture_epoch_order(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """-> [id_col, source_col, order_key]: a DETERMINISTIC training
    order whose every prefix preserves the target source mixture — the
    data-ordering half of mixture control (mixture_rebalance fixes the
    epoch's token TOTALS; this fixes the ORDER so a partial epoch, a
    resume, or a curriculum window still sees sources at their target
    rates instead of whatever the ingest order front-loaded).

    Construction: each doc draws a deterministic uniform u in [0,1)
    (its 60-bit md5 slice / 2^60 — the engine's oracle-reproducible
    randomness), stretched per source by n_s / w_s:

        order_key = u * n_s / w_s

    Uniform u makes each source's keys a uniform point process whose
    density below any threshold t is t * w_s — so sorting by
    order_key interleaves sources at rates proportional to w_s
    UNIFORMLY through the epoch (the stride-scheduling property,
    achieved statistically instead of via per-source rank windows,
    which would sort each full source in one partition).

    Scale shape: one bounded per-source count aggregation broadcast
    back onto the corpus (|sources| rows), then a narrow map — no
    windows, no per-source sort. The global order itself is realized
    by whoever consumes the keys (``orderBy(order_key)`` = Spark's
    distributed range sort; shard-local positions after a
    repartitionByRange at 100 TB). Sources with weight 0 are dropped
    (they have no place in the epoch). Ties are impossible in
    practice (60-bit hashes) and broken by id downstream anyway;
    the three float ops (div, mul, div) evaluate in fixed order, so
    keys reproduce bit-for-bit cross-engine."""
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, float(w)) for s, w in weights.items() if w > 0],
        f"{source_col} string, _w double",
    )
    counts = df.groupBy(source_col).agg(F.count("*").alias("_n"))
    u = (
        F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(float(1 << 60))
    )
    return (
        df.select(id_col, source_col)
        .join(F.broadcast(counts), source_col)
        .join(F.broadcast(wdf), source_col)
        .select(
            id_col,
            source_col,
            (u * F.col("_n").cast("double") / F.col("_w")).alias("order_key"),
        )
    )


def token_pmi_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_df: int = 2,
) -> DataFrame:
    """Document-level token co-occurrence with INTEGER-EXACT lift —
    the collocation/phrase-induction pass (word2vec's phrase pass,
    bigram-dictionary mining) run as association mining over docs:
    for token pair (a, b), lift = N * df(a,b) / (df(a) * df(b)), and
    PMI = log(lift) is monotone in it, so ranking/thresholding on the
    exact integer ``lift_milli = N * df(a,b) * 1000 div (df(a) *
    df(b))`` needs no float log anywhere (the wordpiece cross-mult
    convention).

    Scale shape: per-doc DISTINCT tokens (frequency floor ``min_df``
    applied via one broadcast join) expand to ordered pairs INSIDE the
    array with a slice/transform comprehension — the pipeline runs
    once and shuffles once on the pair key; the self-join alternative
    would re-execute the tokenize for both sides (the minhash_lsh
    lesson). Output is bounded by sum(m_i^2) over per-doc distinct
    vocab m_i — cap the vocabulary with ``min_df`` (or a top-V floor)
    before pairing, exactly as a 100 TB phrase pass does.

    Returns [tok_a, tok_b, n_ab, n_a, n_b, lift_milli], tok_a < tok_b.
    """
    from hadoop_app_spark.functions.text import tokenize

    # ONE tokenize pass, materialized: three consumers follow (the
    # document-frequency aggregate, the distinct-doc count, and the
    # pairing input) — without the checkpoint each would re-run the
    # tokenize+explode over the whole corpus
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokenize(text_col))).alias("tok")
    ).localCheckpoint(eager=True)
    df_t = toks.groupBy("tok").agg(F.count("*").alias("n_t"))
    n_docs = toks.select(id_col).distinct().count()
    kept = toks.join(
        F.broadcast(df_t.where(F.col("n_t") >= min_df)), "tok"
    )
    arrs = kept.groupBy(id_col).agg(F.sort_array(F.collect_set("tok")).alias("v"))
    pairs = arrs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("v"),
                    lambda x, i: F.transform(
                        F.slice(F.col("v"), i + 2, F.size("v")),
                        lambda y: F.struct(x.alias("tok_a"), y.alias("tok_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.tok_a", "p.tok_b")
    counts = pairs.groupBy("tok_a", "tok_b").agg(F.count("*").alias("n_ab"))
    da = F.broadcast(df_t.select(F.col("tok").alias("tok_a"), F.col("n_t").alias("n_a")))
    db = F.broadcast(df_t.select(F.col("tok").alias("tok_b"), F.col("n_t").alias("n_b")))
    return (
        counts.join(da, "tok_a")
        .join(db, "tok_b")
        .withColumn("_num", F.lit(n_docs).cast("long") * F.col("n_ab") * F.lit(1000))
        .withColumn("_den", F.col("n_a") * F.col("n_b"))
        # SQL `div`, not `/`: float division + truncation can round the
        # quotient across an integer boundary; integer div cannot
        .select(
            "tok_a",
            "tok_b",
            "n_ab",
            "n_a",
            "n_b",
            F.expr("_num div _den").alias("lift_milli"),
        )
    )
