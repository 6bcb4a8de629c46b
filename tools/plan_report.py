"""Generate PLANS.md: physical plans of showcase queries with the
scale-relevant features called out. Run after plan-affecting changes:

    python tools/plan_report.py
"""

from __future__ import annotations

import contextlib
import io
import sys

sys.path.insert(0, ".")

from hadoop_app_spark import get_spark
from hadoop_app_spark.queries import REGISTRY

SF = "/root/testdata/sf0.01"

# query -> (what to look for, why it matters at scale)
SHOWCASE = {
    "recommend_flagship": (
        "one merge window over customers+prices; broadcast joins; no |C|x|P| exchange",
        "top-5-nearest runs O(|C|+|P|) through sorts — the fan-out never materializes",
    ),
    "topk_per_group": (
        "WindowGroupLimit (Partial) below the Exchange",
        "map-side partial top-k: the shuffle carries ~k rows per group per map partition",
    ),
    "minhash_signatures": (
        "one MapInPandas pass over the round-robin doc scan, no Generate, no "
        "HashAggregate",
        "tokens, crc32 shingle hashes and all k permutation minima come from one "
        "numpy pass per doc; the only exchange is the round-robin spread, so the "
        "signature carries no k-min aggregation shuffle",
    ),
    "broadcast_dim_join": (
        "BroadcastHashJoin BuildRight, no shuffle of the fact side",
        "dimension joins never repartition the fact table",
    ),
    "ivf_ann_topk": (
        "one MapInPandas/ArrowEvalPython pass over the corpus scan (cell assignment + "
        "probe-masked scoring + partial top-k in the kernel); the only exchange is the "
        "bounded partitions x m x k candidate set",
        "corpus scanned once with no shuffle; each query scores ~n_probe/n_centroids "
        "of the corpus in a BLAS matmul instead of an interpreted per-row fold",
    ),
    "tfidf_top_terms": (
        "two partial-combine HashAggregates ((doc,term) then term), SortMergeJoin on "
        "term, 1-row BroadcastExchange for the corpus count, WindowGroupLimit below "
        "the per-doc window Exchange",
        "vocabulary-sized frames never broadcast; the per-doc top-k shuffle carries "
        "~k rows per doc per map partition",
    ),
    "max_per_group": (
        "partial HashAggregate -> Exchange -> final HashAggregate",
        "map-side combine (the reference's hand-registered combiner, automatic here)",
    ),
    "pricing_summary": (
        "PushedFilters + pruned ReadSchema on the parquet scan",
        "predicate pushdown and column pruning reach the scan",
    ),
    "line_dedup": (
        "first-occurrence via a partial/final HashAggregate pair of min(packed "
        "doc_id<<20|line_no) on the line key, then a join back — no Window over "
        "the line partition, no SortAggregate (the pair is bit-packed to a long "
        "because struct min can't hash-aggregate)",
        "a billion-occurrence boilerplate line collapses map-side in the partial min; "
        "a row_number window would funnel every copy through one task",
    ),
    "upsert_snapshot": (
        "BroadcastHashJoin LeftAnti with the snapshot scan feeding it directly (no "
        "Exchange on the snapshot side), change rows unioned on top",
        "the 100 TB snapshot never shuffles; only the GB-scale change batch "
        "broadcasts — the CDC-apply pattern for every dimension/feature table",
    ),
    "repetition_ngrams": (
        "ONE MapInPandas pass computing every doc's full profile (grams keyed by "
        "exact per-doc token ids); no Generate and no gram-keyed HashAggregate — "
        "the only Exchange is the query's explicit input-leveling repartition",
        "a gram never leaves its document's task: a billion-copy boilerplate gram "
        "costs each doc one np.unique, never a shuffle key",
    ),
    "decontamination": (
        "single corpus scan; benchmark side reduced to distinct grams behind a "
        "BroadcastExchange feeding a BroadcastHashJoin; per-doc totals carried "
        "through explode_outer so no second tokenize pass",
        "the corpus never shuffles on the gram key — only the eval-suite-sized "
        "shingle set moves",
    ),
    "domain_filter_caps": (
        "broadcast anti-join on the blocklist, then a keyed window with "
        "WindowGroupLimit below the Exchange for the per-domain cap",
        "blocklist filtering is map-side; the cap shuffle carries ~cap rows per "
        "domain per map partition",
    ),
    "window_analytics": (
        "ONE hash Exchange on o_custkey shared by all three per-customer windows; "
        "price_quartile is a plain Project (CASE chain over broadcast boundary "
        "literals from operators/windows.global_ntile) — NO unpartitioned Window "
        "anywhere in the plan",
        "r2's global ntile(4) funneled every row through one task; the quartile "
        "boundaries now come from a bounded 2-pass side-job (range shuffle of 2 "
        "columns + P-row collect) and bucket assignment is shuffle-free",
    ),
    "html_extract": (
        "one Project over the scan: the whole strip/entity/line-filter chain is a "
        "single codegen'd expression tree — no Exchange, no UDF",
        "WARC-to-text at 100 TB is embarrassingly parallel only if it stays a "
        "narrow map; any shuffle or Python round-trip here taxes every byte of "
        "the crawl",
    ),
    "semdedup": (
        "MapInPandas assignment (centroids travel as a broadcast variable, NOT "
        "a plan literal) feeding ONE hash Exchange on the cluster key into a "
        "FlatMapGroupsInPandas per-cluster kernel — no self-join row explosion, "
        "no interpreted per-pair cosine (the lower Exchange is the query's "
        "explicit input-leveling repartition, not operator cost)",
        "SemDeDup's whole point is that pairwise cosine is quadratic per CLUSTER, "
        "never corpus-wide — n_clusters is the knob that holds cluster population "
        "flat as the corpus grows, and growing it grows only the broadcast",
    ),
    "sequence_packing": (
        "no unpartitioned ORDER BY window anywhere: the global token offset is a "
        "range repartition + per-partition window + broadcast per-partition "
        "offsets (two-pass prefix scan); span expansion is a tiny Generate",
        "a naive running sum over 100 TB of docs funnels everything through one "
        "task; the two-pass scan keeps the cumulative offset exact AND parallel",
    ),
    "winnow_neardup": (
        "one ArrowEvalPython/MapInPandas fingerprint pass (the numpy winnowing "
        "kernel), materialized once (Scan ExistingRDD) for its four consumers; "
        "groupBy aggs for the df cap and pair counts — no Window over the "
        "fingerprint key, no cartesian",
        "the df cap bounds self-join fanout exactly like the LSH bucket cap; "
        "boilerplate fingerprints die in a partial-combine agg before the join",
    ),
    "semdedup_fast": (
        "the semdedup plan unchanged under TRAINED centroids: MapInPandas "
        "assignment -> hash Exchange on the cluster key -> FlatMapGroupsInPandas "
        "per-cluster kernel; centroid training runs as bounded side jobs before "
        "this plan is built",
        "the production configuration costs the same plan as the oracled one — "
        "only the broadcast's contents differ; the 10x probe measured this path "
        "flat (1.1x) where the retired literal/HOF form paid 4.1x",
    ),
    "doc_chunking": (
        "scan -> Project -> ONE Generate (the stride-grid explode) -> Project; "
        "no Exchange anywhere",
        "chunking 100 TB is scan-bound only if it stays a narrow map; the "
        "chunk fan-out is the intended output growth, not a shuffle",
    ),
    "normalized_dedup": (
        "the whole normalization chain (lower/translate/regexp x3) folded into "
        "the partial HashAggregate's child Project — one scan, one exchange on "
        "the normalized key",
        "formatting-variant dedup costs exactly one hash aggregation; a "
        "billion-copy normalized form collapses map-side in the partial "
        "min/count",
    ),
    "corpus_diff": (
        "two narrow (id, fingerprint) Projects feeding ONE SortMergeJoin "
        "FullOuter on the id; the change classification is a Filter+Project "
        "above it",
        "the diff of two 100 TB snapshots moves only (id, fp) pairs through "
        "the exchange — output is proportional to churn, unchanged docs drop "
        "in the post-join filter",
    ),
    "ivf_index_topk": (
        "PartitionFilters [cell IN (...)] on the index scan — unprobed cell "
        "directories pruned at planning time; BroadcastHashJoin of the tiny "
        "(query, cell) probe pairs onto the scan",
        "the persisted index turns the n_probe/n_centroids scan fraction "
        "into files never opened — the non-probed corpus stays on disk",
    ),
    "kmv_source_overlap": (
        "ONE distinct HashAggregate on (source, h) collapsing the corpus "
        "before any pairing; everything above it operates on <= |sources|*k "
        "sketch rows (windows, the bounded pairing NLJ, flag joins)",
        "set-operation estimates across sources at sketch cost: the corpus "
        "is scanned once and exchanged once (the distinct), never re-read "
        "per pair — |sources|^2 pairs cost sketch-sized work each",
    ),
    "incremental_matview": (
        "the registry entry executes the refresh eagerly, so the returned "
        "plan is the final view's bare bucketed scan; the refresh's OWN "
        "merge plan (audited separately) shows the view side as 'FileScan "
        "... Bucketed: true' with NO Exchange above it — only the delta "
        "aggregate shuffles",
        "refresh cost O(delta)+O(|view|): the bucketed layout amortizes the "
        "view's shuffle to zero across every daily refresh — the base "
        "history is never rescanned",
    ),
    "token_pmi_topk": (
        "ONE tokenize scan feeding the in-array pair comprehension; the "
        "only corpus exchange is the (tok_a, tok_b) pair aggregate; both "
        "document-frequency joins are BroadcastHashJoin",
        "the self-join alternative would re-execute the tokenize for both "
        "sides (no ReusedExchange across non-identical subtrees — the "
        "minhash_lsh lesson); pair expansion inside the array keeps the "
        "pipeline single-pass",
    ),
}


SHOWCASE["quantile_sketch"] = (
    "partial ObjectHashAggregate (the per-partition GK summary build) -> ONE "
    "Exchange on the group key -> final ObjectHashAggregate merge; scan reads "
    "only (text, source)",
    "the sketch state is what shuffles — one O(accuracy) summary per partition "
    "per group, byte-identical at 1x and 10x in the probe where the exact "
    "twin's (group, value) rows grow linearly",
)
SHOWCASE["shipping_priority"] = (
    "BroadcastHashJoins end-to-end at this sf (orders fits the broadcast "
    "threshold too); PushedFilters on BOTH fact scans; TakeOrderedAndProject",
    "the Q3 shape at 100 TB: date predicates prune the scans, the customer "
    "dim never shuffles the facts (the orders edge grows into a shuffle "
    "join at real scale — AQE picks it by size), and the top-10 is a "
    "map-side partial — no global sort materializes",
)
SHOWCASE["local_supplier_volume"] = (
    "five BroadcastHashJoins at this sf (customer and lineitem fit the "
    "broadcast threshold; at scale the orders and lineitem edges shuffle, "
    "AQE picks by size); the c_nationkey = s_nationkey locality condition "
    "rides the supplier join as a second key, not a post-filter",
    "the Q5 six-way star: only fact-fact edges exchange; dims broadcast; "
    "the final aggregate is |nations| rows",
)
SHOWCASE["dsir_select"] = (
    "two Generate (explode) -> partial-combine HashAggregate passes building "
    "the bucket models; the B-row model comes back as a BroadcastHashJoin onto "
    "the feature stream; TakeOrderedAndProject caps the selection",
    "the corpus never shuffles on anything except the bounded bucket key "
    "aggregations; the model is knob-sized (B rows) regardless of data, and "
    "the top-k is a per-partition partial",
)


SHOWCASE["hll_shingle_registers"] = (
    "Generate (shingle explode) -> partial HashAggregate (per-partition "
    "register maxima) -> ONE Exchange carrying at most 2^p rows per map "
    "partition -> final max-merge",
    "the distinct-count sketch: raw keys never shuffle (an exact distinct "
    "would exchange every shingle); the probe shows rows-out capped at "
    "4096 and shuffle bytes ~flat at 10x data",
)
SHOWCASE["order_priority_check"] = (
    "the correlated EXISTS decorrelated into ONE LeftSemi "
    "BroadcastHashJoin with the late-shipment inequality riding the join "
    "condition; PushedFilters prune the orders scan to the quarter",
    "the Q4 shape at 100 TB: no per-row subquery, no duplicate "
    "elimination pass — the semi-join short-circuits on first match and "
    "the priority count partial-combines map-side",
)
SHOWCASE["suppliers_kept_waiting"] = (
    "the late-line subplan appears TWICE (probe + anti build) feeding one "
    "LeftSemi and one LeftAnti join, both orderkey-equi with the "
    "suppkey<> residual in the join condition; supplier broadcasts; "
    "TakeOrderedAndProject caps the output",
    "the Q21 double correlation at 100 TB: EXISTS/NOT-EXISTS never run "
    "per row — both decorrelate to orderkey-keyed hash joins that "
    "short-circuit on first match, and the <> residual is evaluated "
    "in-join, so the only exchanges are the two orderkey shuffles",
)
SHOWCASE["timeseries_downsample"] = (
    "ONE HashAggregate pair (partial -> final) over the event scan: "
    "open/close are struct-min/max aggregates, so EVERY OHLC measure "
    "partial-combines map-side; no Window, no second scan",
    "the shuffle carries |keys x weeks| partial rows per map partition "
    "— the probe measured BYTE-IDENTICAL exchange (86,710 B) at 1x and "
    "10x input: grain reduction whose network cost is grid-bound, not "
    "row-bound",
)
SHOWCASE["hll_index_increment"] = (
    "the returned plan is the index's bare bucketed scan; the merge's "
    "OWN plan (audited via the matview convention) joins the batch's "
    "<= |groups| x 2^p partial registers against 'FileScan ... "
    "Bucketed: true' with NO Exchange above the index side",
    "the persisted-sketch lifecycle: daily distinct-count maintenance "
    "costs one O(batch) scan + one bounded merge — history is never "
    "re-read, and the index is |groups| x 4096 rows forever",
)
SHOWCASE["set_similarity_join"] = (
    "the rarest-first ordered-shingle pipeline feeding four consumers "
    "(both prefix-join sides and both verify sides) as four REPLAYED "
    "subtrees; ONE equi-join on the prefix shingle and the "
    "array_intersect/union verify on candidates only. The r12 "
    "localCheckpoint cut of the shared subtree was MEASURED ~2x slower "
    "(serializing the four replicas through executor block storage beat "
    "them running concurrently inside one job) and reverted — the "
    "apparent 46 -> 8 Exchange drop was plan VISIBILITY behind the "
    "checkpoint, not removed work (OPTIMIZATION_r12.md)",
    "exact (lossless) near-dup at scale: the prefix keeps only the "
    "~(1-t)|s| RAREST shingles per doc, so candidate buckets live on the "
    "document-frequency tail — the 10x probe shows wall 10.7x while "
    "true-pair output grows ~1000x; the expensive exact verify runs on "
    "candidates, never the cross product, and the dominant tokenize/"
    "shingle pass over the corpus runs exactly once",
)


SHOWCASE["ivfpq_index_topk"] = (
    "PartitionFilters pruning on the probed cell=K/ dirs, an ADC scan "
    "whose ReadSchema carries ONLY (vec_id, codes, cell) — the stored "
    "raw vectors never leave disk — and the ADC score as a Catalyst "
    "aggregate of m element_at lookups against the broadcast per-query "
    "LUT (no Python in the scoring path)",
    "the memory-bounded ANN shape a 100 TB index ships (FAISS IVFPQ): "
    "IVF prunes WHICH partitions open, PQ prunes WHICH BYTES are read "
    "inside them (m code bytes vs dim floats per vector, ~1-2% of the "
    "embedding scan), and the exact re-rank touches only shortlist x "
    "|queries| true vectors",
)


def render(spark) -> str:
    """The full PLANS.md content — shared by main() and the CI drift
    test (tests/test_plan_drift.py regenerates this and diffs it
    against the committed file, so plan drift is reviewable)."""
    out = [
        "# PLANS — physical plans of showcase queries\n",
        f"Generated by `python tools/plan_report.py` at sf0.01 ({SF}).",
        "Each section names the plan feature that makes the query scale and shows the",
        "actual `explain('formatted')` tree (node details trimmed).\n",
    ]
    for name, (feature, why) in SHOWCASE.items():
        df = REGISTRY[name].fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        tree = buf.getvalue().split("\n\n")[0]  # tree only, drop node details
        out.append(f"## {name}\n")
        out.append(f"**Look for:** {feature}.\n")
        out.append(f"**Why it matters at 100 TB:** {why}.\n")
        out.append("```\n" + tree.strip() + "\n```\n")
    return "\n".join(out)


def main() -> None:
    spark = get_spark("plan_report")
    content = render(spark)
    with open("PLANS.md", "w") as f:
        f.write(content)
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
