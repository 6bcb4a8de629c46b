"""Generate API.md: every public function/class of the engine with its
docstring summary, grouped by module. Run after adding operators:

    python tools/api_report.py
"""

from __future__ import annotations

import importlib
import inspect
import sys

sys.path.insert(0, ".")

MODULES = [
    "hadoop_app_spark.session",
    "hadoop_app_spark.catalog",
    "hadoop_app_spark.sources.ncdc",
    "hadoop_app_spark.sources.tsv",
    "hadoop_app_spark.sources.delim001",
    "hadoop_app_spark.sources.jsonl",
    "hadoop_app_spark.sources.codecs",
    "hadoop_app_spark.sources.sinks",
    "hadoop_app_spark.sources.fs",
    "hadoop_app_spark.sources.provenance",
    "hadoop_app_spark.sources.layout",
    "hadoop_app_spark.sources.shards",
    "hadoop_app_spark.sources.skipping",
    "hadoop_app_spark.functions.dates",
    "hadoop_app_spark.functions.text",
    "hadoop_app_spark.functions.vectors",
    "hadoop_app_spark.functions.udtf",
    "hadoop_app_spark.functions.normalize",
    "hadoop_app_spark.functions.metrics",
    "hadoop_app_spark.operators.joins",
    "hadoop_app_spark.operators.topk",
    "hadoop_app_spark.operators.windows",
    "hadoop_app_spark.operators.bucketing",
    "hadoop_app_spark.operators.dedup",
    "hadoop_app_spark.operators.winnow",
    "hadoop_app_spark.operators.semdedup",
    "hadoop_app_spark.operators.extraction",
    "hadoop_app_spark.operators.quality_model",
    "hadoop_app_spark.operators.retrieval",
    "hadoop_app_spark.operators.similarity",
    "hadoop_app_spark.operators.corpus",
    "hadoop_app_spark.operators.multimodal",
    "hadoop_app_spark.operators.upsert",
    "hadoop_app_spark.operators.bpe",
    "hadoop_app_spark.operators.unigram",
    "hadoop_app_spark.operators.wordpiece",
    "hadoop_app_spark.operators.dsir",
    "hadoop_app_spark.operators.pq",
    "hadoop_app_spark.operators.ann_index",
    "hadoop_app_spark.operators.expectations",
    "hadoop_app_spark.operators.pca",
    "hadoop_app_spark.operators.chunking",
    "hadoop_app_spark.operators.funnel",
    "hadoop_app_spark.operators.graph",
    "hadoop_app_spark.operators.maintenance",
    "hadoop_app_spark.operators.matview",
    "hadoop_app_spark.operators.timeseries",
    "hadoop_app_spark.operators.skew",
    "hadoop_app_spark.plans.fingerprint",
    "hadoop_app_spark.plans.max_temperature",
    "hadoop_app_spark.plans.reduce_join",
    "hadoop_app_spark.plans.recommend",
    "hadoop_app_spark.plans.corpus_pipeline",
    "hadoop_app_spark.streaming.events",
    "hadoop_app_spark.streaming.stateful",
    "hadoop_app_spark.streaming.cdc",
    "hadoop_app_spark.streaming.similarity",
    "hadoop_app_spark.streaming.rollup",
    "hadoop_app_spark.streaming.ingest",
]


def summary(obj) -> str:
    doc = inspect.getdoc(obj) or ""
    first = doc.split("\n\n")[0].replace("\n", " ").strip()
    return first


def main() -> None:
    out = [
        "# API — public engine surface\n",
        "Generated by `python tools/api_report.py`. One line per public",
        "function (first docstring paragraph); see the module docstrings",
        "for scale notes and design rationale.\n",
    ]
    n = 0
    for modname in MODULES:
        mod = importlib.import_module(modname)
        rows = []
        for name, obj in sorted(vars(mod).items()):
            if name.startswith("_") or not callable(obj):
                continue
            if getattr(obj, "__module__", None) != modname:
                continue  # re-exports documented at their home module
            rows.append((name, summary(obj)))
        if not rows:
            continue
        out.append(f"## `{modname}`\n")
        for name, s in rows:
            out.append(f"- **`{name}`** — {s}")
            n += 1
        out.append("")
    with open("API.md", "w") as f:
        f.write("\n".join(out))
    print(f"wrote API.md ({n} entries across {len(MODULES)} modules)")


if __name__ == "__main__":
    main()
