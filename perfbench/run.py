"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload in a fresh Spark session on local[<cores>], checks its
outputs, and prints as the last line of stdout one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. A readable report goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# spans whose Spark counters are reported per call
COUNTED_SPANS = ("plans.run_max_temperature", "plans.run_reduce_join", "plans.run_user_hotcar",
                 "plans.run_user_newcar", "queries.exec", "streaming.micro_batch",
                 "operators.dedup_increment", "operators.seed_minhash_index")
PER_SPAN_COUNTERS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_mb", "spill_mb")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # inputs small enough for the benchmark's own tests
    ap.add_argument("--tiny", action="store_true", help=argparse.SUPPRESS)
    return ap.parse_args(argv)


def engine_metrics(ctx) -> None:
    """Spark's task counters from the traced run's event log."""
    from spans import engine_counters

    totals, per = engine_counters(ctx.path("events"), ctx.tracer.spans)
    for k, v in totals.items():
        ctx.layer[f"engine.{k}"] = v
    calls = {}
    for s in ctx.tracer.spans:
        calls[s.name] = calls.get(s.name, 0) + 1
    if "streaming.micro_batch" in per:
        calls["streaming.micro_batch"] = ctx.layer.get("streaming.micro_batches", 1)
    for name in COUNTED_SPANS:
        if name in per:
            n = max(calls.get(name, 1), 1)
            for k in PER_SPAN_COUNTERS:
                ctx.layer[f"{name}.{k}"] = per[name][k] / n
    if "operators.dedup_increment" in per:
        ctx.layer["operators.dedup_increment_jobs"] = per["operators.dedup_increment"]["jobs"]


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hadoop_app_spark  # noqa: F401  (the library under test)
    except ImportError as e:
        print(f"perfbench: cannot import the library from {ROOT}: {e}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    os.environ["TZ"] = "UTC"
    time.tzset()
    import etl
    import star
    import stream
    from harness import Ctx

    workloads = {"etl_reference": etl, "star_sql": star, "stream_ingest": stream}
    ctx = Ctx(args.workload, args.seed, args.seconds, bool(args.trace), ROOT, tiny=args.tiny)
    try:
        workloads[args.workload].run(ctx)
        ctx.metrics["setup_s"] = ctx.setup_s
        ctx.layer["session.peak_rss_mb"] = ctx.peak_rss()
        ctx.layer["bench.cpu_steal_frac"] = ctx.steal_frac()
        ctx.report.append(f"host CPU steal during the run: {ctx.layer['bench.cpu_steal_frac']:.3f}")
        ctx.stop_spark()
        ctx.layer["bench.gen_s"] = ctx.gen_s
        if args.trace:
            engine_metrics(ctx)
            os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
            ctx.tracer.dump(os.path.join(ROOT, ".perfbench_traces",
                                         f"{ctx.tracer.run_id}.spans.jsonl"))
    finally:
        ctx.stop_spark()
        ctx.cleanup()

    got = ctx.layer if args.trace else ctx.metrics
    missing = [m["name"] for m in wanted if m["name"] not in got and not args.trace]
    if missing:
        print(f"perfbench: end-to-end metrics not measured: {missing}", file=sys.stderr)
        return 3
    # per-layer metrics of layers this workload does not use read 0
    metrics = {m["name"]: {"value": float(got.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    for line in ctx.report:
        print(f"[perfbench] {args.workload}: {line}", file=sys.stderr)
    print(f"[perfbench] {args.workload}: op_fail_frac {ctx.failed / max(ctx.attempted, 1):.4f} "
          f"({ctx.failed} of {ctx.attempted}; failed: {sorted(set(ctx.failures))})",
          file=sys.stderr)
    for name, m in metrics.items():
        print(f"[perfbench] {args.workload}: {name} = {m['value']:.6g} {m['unit']}",
              file=sys.stderr)
    print(json.dumps({"correct": ctx.failed == 0, "attempted": ctx.attempted,
                      "failed": ctx.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
