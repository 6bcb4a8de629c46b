"""Capture `.explain("formatted")` trees for optimization-round
evidence (plans/rNN/<query>_{before,after}.txt).

Usage:
    python tools/capture_plans.py <outdir> <suffix> <name> [<name> ...]

Lazy registry entries are explained via their registry fn at sf0.1
(plan built, never executed). Exec-style entries (the incremental
dedups, whose interesting plan lives behind an eager append +
localCheckpoint) are captured through a LAZY reconstruction: the
module monkeypatches ``DataFrame.localCheckpoint`` to identity and
calls the operator with ``append=False, dropped_table=False`` so the
full probe/loser lineage stays visible in one tree — the documented
capture convention for `dedup_increment` / `simhash_increment`
(labels ``dedup_increment_probe`` / ``simhash_increment_probe``).
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame

from hadoop_app_spark import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _probe_frame(spark, family: str):
    """Lazy full-lineage probe plan of an increment operator: no
    checkpoint cut, no append — the dropped/survivor pipeline as one
    explainable tree over the memoized seed index."""
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators import dedup as dd
    from hadoop_app_spark.queries import REGISTRY, _seed_clone, _t

    cls = type(spark.range(1))  # the concrete (classic) DataFrame class
    orig = cls.localCheckpoint
    cls.localCheckpoint = lambda self, eager=True: self  # noqa: ARG005
    try:
        d = _t(spark, SF, "documents")
        par = spark.sparkContext.defaultParallelism
        if family == "dedup_increment_probe":
            _seed_clone(
                spark, "mh_incr_seed", "mh_plan_index",
                f"minhash|{SF}|mod7|crc32|n3k8b4",
                lambda t: dd.seed_minhash_index(
                    d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
                    repartition_to=par,
                ),
            )
            return dd.dedup_increment(
                d.where(F.col("doc_id") % 7 == 1), "mh_plan_index", "text",
                "doc_id", repartition_to=par,
                append=False, dropped_table=False,
            )
        if family == "simhash_increment_probe":
            _seed_clone(
                spark, "sh_incr_seed", "sh_plan_index",
                f"simhash|{SF}|mod10|hb28b4",
                lambda t: dd.seed_simhash_index(
                    d.where(F.col("doc_id") % 10 == 0), "text", "doc_id", t
                ),
            )
            return dd.simhash_increment(
                d.where(F.col("doc_id") % 10 == 1), "sh_plan_index", "text",
                "doc_id", append=False, dropped_table=False,
                hot_band_threshold=None,
            )
        raise ValueError(family)
    finally:
        cls.localCheckpoint = orig


def main() -> None:
    outdir, suffix, *names = sys.argv[1:]
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("capture_plans")
    from hadoop_app_spark.queries import REGISTRY

    for name in names:
        if name.endswith("_probe"):
            df = _probe_frame(spark, name)
        else:
            df = REGISTRY[name].fn(spark, SF)
        out = Path(outdir) / f"{name}_{suffix}.txt"
        out.write_text(_explain(df))
        print(f"wrote {out}")
    spark.stop()


if __name__ == "__main__":
    main()
