"""Plan-level scale guards over the whole query inventory.

Walks every registry query's physical plan and rejects the scale-killer
classes found in earlier rounds, so they cannot silently reappear.
NOTE: building a registry DataFrame is not always free — some builders
run bounded side-jobs (ntile/percentile boundary extraction, IVF
centroid fetch) and q_bucketed_join writes its bucketed gate tables —
but no query's MAIN plan executes here:

- a Window/WindowGroupLimit with an EMPTY partitionSpec funnels every
  row through ONE task (r2's global ntile);
- a CartesianProduct / BroadcastNestedLoopJoin where an equi-join was
  intended explodes quadratically (r1's ngram_jaccard).

Streaming-exec queries are excluded (their builders run the stream to
completion; batch twins cover their plan shapes).
"""

from __future__ import annotations

import pytest

from hadoop_app_spark.queries import REGISTRY

SF = "/root/testdata/sf0.001"

# queries whose builders execute a FULL run in fn(): streaming execs,
# plus the BPE loop (driver-controlled per-round argmax; its returned
# frame is a LocalTableScan of the learned merges, nothing to guard)
EXECUTING = {n for n in REGISTRY if n.startswith("stream_")} | {
    "bpe_merges",
    "bpe_token_count",
}

# deliberate cross joins: J3 per-key cartesian showcase; 1-row count
# broadcasts in tfidf/corpus accounting are nested-loop by design;
# brute-force cosine IS an intentional broadcast nested-loop (every
# query x corpus pair scored, bounded query set broadcast, corpus
# never shuffles — the exact-scoring baseline the ANN paths beat)
CROSS_ALLOWED = {"cross_range_joins", "tfidf_top_terms", "corpus_curation"}
# bm25 / lm_perplexity: the corpus-stats side (N/avgdl, vocab size) is
# a ONE-ROW aggregate crossJoin-broadcast to the scored rows —
# nested-loop by design, same class as tfidf's n_docs broadcast
NLJ_ALLOWED = CROSS_ALLOWED | {
    "source_codecs",
    "cosine_topk",
    "bm25_retrieval",
    "lm_perplexity",
    # hybrid_retrieval: contains the bm25 one-row stats broadcast AND
    # bounded_rank's rank-by-count non-equi self-join over the fused
    # top-k frame (<= 40 rows by construction) — the documented
    # alternative to a global row_number window, which the guard
    # above rightly bans registry-wide
    "hybrid_retrieval",
    # dsir_select: the T/R totals are ONE-ROW aggregates crossJoin-
    # broadcast onto the B-row bucket model — the bm25/lm_perplexity
    # one-row-stats class
    "dsir_select",
    # dsir_resample: same scoring core (dsir_scored), same one-row
    # T/R broadcasts
    "dsir_resample",
    # contrastive_pairs: the negative pool is a CONSTANT-SIZE (64-row)
    # broadcast crossJoined onto the anchor frame — O(anchors x pool),
    # the documented bounded-side NLJ class
    "contrastive_pairs",
    # nation_pagerank: each power iteration crossJoin-broadcasts the
    # ONE-ROW dangling-mass share onto the |V|-row rank frame (one NLJ
    # per iteration) — the same one-row-stats class as bm25/dsir
    "nation_pagerank",
    # timeseries_gapfill / _interpolate: the shared spine crossJoin-
    # broadcasts the ONE-ROW global (min_day, max_day) bounds onto the
    # distinct-keys frame before the sequence explode — the
    # one-row-stats class
    "timeseries_gapfill",
    "timeseries_interpolate",
    # bloom_prefilter_join: the gated entry assembles three ONE-ROW
    # counts (fact / bloom-pass / true-match) via crossJoin — the
    # one-row-stats class; the operator itself is k broadcast HASH
    # joins, machine-checked by test_bloom_prefilter_plan
    "bloom_prefilter_join",
    # global_sales_opportunity: Q22's positive-balance global average
    # is a ONE-ROW aggregate crossJoin-broadcast threshold — the same
    # one-row-stats class as bm25/dsir/top_supplier
    "global_sales_opportunity",
    # important_part_value: Q11's HAVING > fraction-of-global-total is
    # the same ONE-ROW aggregate crossJoin-broadcast threshold
    "important_part_value",
    # kmv_source_overlap: the group PAIRING (src_a < src_b over the
    # DISTINCT-sources frame, <= |sources| rows by construction) is an
    # intentional bounded nested-loop — sketch-space set algebra never
    # touches the corpus, and |sources|^2 is the op's declared output
    # size; the corpus-side work is the one distinct hash-agg inside
    # build_kmv, machine-checked exact by the oracle
    "kmv_source_overlap",
    # ab_test_summary: the control arm's ONE-ROW rate crossJoin-
    # broadcasts onto the |variants|-row rollup for the lift columns —
    # the one-row-stats class
    "ab_test_summary",
    # distribution_drift: the ONE-ROW (total_old, total_new) aggregate
    # crossJoin-broadcasts onto the |bins|-row merge for the milli
    # shares — the one-row-stats class
    "distribution_drift",
    # ann_recall_ivfpq: the exact-ground-truth arm IS brute_force_topk
    # (the <=6-row query set broadcast-NLJ'd against the corpus — the
    # cosine_topk class, the documented exact baseline ANN is measured
    # against), plus its struct re-join; both NLJ sides are bounded by
    # the query-set size, never corpus x corpus
    "ann_recall_ivfpq",
    # cosine_topk_vectorized: a registry alias of cosine_topk (same
    # query function, same brute_force_topk broadcast nested-loop join)
    "cosine_topk_vectorized",
}


def _iter_nodes(jnode):
    yield jnode
    children = jnode.children()
    for i in range(children.size()):
        yield from _iter_nodes(children.apply(i))


def _plan_nodes(df):
    return list(_iter_nodes(df._jdf.queryExecution().sparkPlan()))


@pytest.fixture(scope="module")
def plans(spark):
    out = {}
    for name, qd in REGISTRY.items():
        if name in EXECUTING:
            continue
        out[name] = _plan_nodes(qd.fn(spark, SF))
    return out


def test_no_unpartitioned_window_anywhere(plans):
    bad = []
    for name, nodes in plans.items():
        for n in nodes:
            cls = n.getClass().getSimpleName()
            if cls in ("WindowExec", "WindowGroupLimitExec", "WindowInPandasExec"):
                if n.partitionSpec().isEmpty():
                    bad.append((name, cls))
    assert not bad, f"single-partition window stages: {bad}"


def test_no_bucket_keyed_window(plans):
    """r3 VERDICT: bucket-keyed stats (LSH bands, ANN cells) must come
    from groupBy-agg + join-back, never a Window partitioned by the
    bucket key — one degenerate bucket (boilerplate docs sharing a band
    signature) funnels the whole partition through a single window task,
    where the aggregate's map-side partial combine collapses it."""
    lsh_family = [
        n
        for n in plans
        if any(tag in n for tag in ("minhash", "dedup", "near_dup", "ann_topk"))
    ]
    bad = []
    for name in lsh_family:
        for n in plans[name]:
            if n.getClass().getSimpleName() == "WindowExec":
                spec = n.partitionSpec().toString()
                if "bucket" in spec:
                    bad.append((name, spec))
    assert lsh_family, "LSH/dedup family missing from registry"
    assert not bad, f"bucket-keyed window stages: {bad}"


def test_no_unintended_cartesian(plans):
    bad = []
    for name, nodes in plans.items():
        for n in nodes:
            cls = n.getClass().getSimpleName()
            if cls == "CartesianProductExec" and name not in CROSS_ALLOWED:
                bad.append((name, cls))
            if cls == "BroadcastNestedLoopJoinExec" and name not in NLJ_ALLOWED:
                bad.append((name, cls))
    assert not bad, f"unintended cartesian/nested-loop joins: {bad}"


def test_every_query_plans(plans):
    # every non-executing registry entry produced a physical plan
    assert len(plans) == len(REGISTRY) - len(EXECUTING)
