"""etl_reference: the reference's four jobs, raw text in, text out.

Closed loop, one client. A pass runs run_max_temperature, run_reduce_join,
run_user_hotcar and run_user_newcar over generated NCDC lines, employee/dept
TSV and \\x01+JSON profile and car lists (with dt= partitions and about 1%
malformed lines). Time goes to the sources readers, the plans and the text
sinks; the catalog, dedup and streaming layers are not touched.
"""

from __future__ import annotations

import glob
import json
import math
import os

import gen
from harness import median, noop

SIZE = dict(ncdc_lines=60_000, depts=100, employees=10_000, cities=30,
            cars_per_city=150, users=600, cities_per_user=2, check_users=40)
TINY = dict(ncdc_lines=2_000, depts=10, employees=500, cities=4,
            cars_per_city=120, users=40, cities_per_user=2, check_users=5)
# passes discarded before timing: on 4 cores the first pass took about 3.5x
# the steady time and the second 1.5x; later passes still speed up a little
# (the first timed pass is often 10-20% slower), which the median of the
# 3-4 timed passes absorbs
WARM_PASSES = 2
JOBS = ("plans.run_max_temperature", "plans.run_reduce_join",
        "plans.run_user_hotcar", "plans.run_user_newcar")


def _read_lines(path: str) -> tuple[list[str], int]:
    lines, nbytes = [], 0
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf-8") as fh:
            data = fh.read()
        nbytes += len(data.encode("utf-8"))
        lines.extend(data.splitlines())
    return lines, nbytes


def _dir_bytes(path: str) -> int:
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def run(ctx) -> None:
    from hadoop_app_spark.plans import (run_max_temperature, run_reduce_join,
                                        run_user_hotcar, run_user_newcar)

    size = TINY if ctx.tiny else SIZE
    inp = ctx.generate(gen.gen_etl, ctx.path("in"), ctx.rng, size)
    spark = ctx.start_spark()
    p = inp["paths"]
    out = {j: ctx.path("out", j.split(".")[1]) for j in JOBS}
    calls = {
        JOBS[0]: lambda: run_max_temperature(spark, p["ncdc"], out[JOBS[0]]),
        JOBS[1]: lambda: run_reduce_join(spark, p["employee"], p["dept"], out[JOBS[1]]),
        JOBS[2]: lambda: run_user_hotcar(spark, p["profiles"], p["hotcar"], out[JOBS[2]]),
        JOBS[3]: lambda: run_user_newcar(spark, p["profiles"], p["newcar"], gen.NEWCAR_DT,
                                         out[JOBS[3]]),
    }

    def one_pass(traced: bool) -> None:
        for name in JOBS:
            ctx.op(name, calls[name], traced)

    times, untraced = ctx.closed_loop(one_pass, WARM_PASSES)
    n_lines = sum(inp["rows"].values())
    ctx.metrics["latency_p50_s"] = median(times)
    ctx.metrics["throughput_per_s"] = n_lines / median(times)
    ctx.report.append(f"passes timed: {len(times)}; input lines per pass: {n_lines}; pass times "
                      + " ".join(f"{t:.3f}" for t in times))

    sink_bytes, sink_rows = _check(ctx, inp, out)
    if ctx.trace:
        ctx.layer["trace.overhead_frac"] = median(times) / median(untraced) - 1
        ctx.pass_layers(JOBS)
        _layer_probes(ctx, spark, inp, size)
        plans_with_sink = sum(ctx.layer[f"{j}_s"] for j in JOBS)
        plans_noop = sum(ctx.layer.pop(f"noop.{j}") for j in JOBS)
        ctx.layer["sources.sink_write_s"] = plans_with_sink - plans_noop
        ctx.layer["sources.sink_bytes_per_row"] = sink_bytes / max(sink_rows, 1)


def _check(ctx, inp, out) -> tuple[int, int]:
    """Compare the last pass's text outputs with the generator's
    expectations. Returns (bytes, rows) written by the four sinks."""
    total_bytes = total_rows = 0

    lines, nb = _read_lines(out[JOBS[0]])
    total_bytes, total_rows = total_bytes + nb, total_rows + len(lines)
    got = dict(line.split("\t") for line in lines)
    ctx.check("max_temperature", got == {y: str(t) for y, t in inp["max_temp"].items()},
              f"{len(got)} years vs {len(inp['max_temp'])} expected")

    lines, nb = _read_lines(out[JOBS[1]])
    total_bytes, total_rows = total_bytes + nb, total_rows + len(lines)
    ctx.check("reduce_join", sorted(lines) == inp["join_lines"],
              f"{len(lines)} rows vs {inp['join_rows']} expected")

    for job, key in ((JOBS[2], "hotcar"), (JOBS[3], "newcar")):
        lines, nb = _read_lines(out[job])
        total_bytes, total_rows = total_bytes + nb, total_rows + len(lines)
        recs = {}
        for line in lines:
            k, payload = line.split("\x01", 1)
            pairs = [p.rsplit("@", 1) for p in json.loads(payload)["infoids"].split(",")]
            recs[k] = ([i for i, _ in pairs], [float(s) for _, s in pairs])
        bad = [k for k, ids in inp["recs"][key].items() if k not in recs or recs[k][0] != ids]
        # scores are 1 - (dist - min) / (max - min): in [0, 1], falling with rank
        bad += [k for k, (_, sc) in recs.items()
                if not all(math.isnan(s) or 0 <= s <= 1 for s in sc)
                or any(a < b for a, b in zip(sc, sc[1:]))]
        ok = not bad and len(recs) == inp["rec_groups"]
        ctx.check(key, ok, f"{len(recs)} groups vs {inp['rec_groups']}; bad keys {bad[:3]}")
    return total_bytes, total_rows


def _layer_probes(ctx, spark, inp, size) -> None:
    """Traced run only: each reader's output alone into a noop sink, and
    each job's plan into a noop sink instead of its text sink."""
    from hadoop_app_spark.functions.metrics import observe_counts
    from hadoop_app_spark.plans import (run_max_temperature, run_reduce_join,
                                        run_user_hotcar, run_user_newcar)
    from hadoop_app_spark.plans.reduce_join import DEPT_COLS, EMPLOYEE_COLS
    from hadoop_app_spark.sources.delim001 import read_city_cars, read_user_profiles
    from hadoop_app_spark.sources.ncdc import read_ncdc
    from hadoop_app_spark.sources.tsv import read_tsv_observed

    p = inp["paths"]
    span = ctx.tracer.span
    counts = []  # (rows in, malformed dropped) per reader
    read_paths = [p["ncdc"], p["employee"], p["dept"], p["profiles"], p["hotcar"],
                  os.path.join(p["newcar"], f"dt={gen.NEWCAR_DT}")]
    with span("sources.read_ncdc") as a:
        df, obs = observe_counts(read_ncdc(spark, p["ncdc"]))
        noop(df)
    counts.append((inp["rows"]["ncdc"], inp["rows"]["ncdc"] - obs.get["rows"]))
    with span("sources.read_tsv") as b:
        for path, cols in ((p["employee"], EMPLOYEE_COLS), (p["dept"], DEPT_COLS)):
            df, obs = read_tsv_observed(spark, path, cols)
            noop(df)
            counts.append((obs.get["rows"], obs.get["malformed_dropped"]))
    obs = {}
    with span("sources.read_user_profiles") as c:
        noop(read_user_profiles(spark, p["profiles"], observations=obs))
    counts.append((obs["user_id_source"].get["rows"], obs["user_id_source"].get["malformed_dropped"]))
    with span("sources.read_city_cars") as d:
        for path, dt in ((p["hotcar"], None), (p["newcar"], gen.NEWCAR_DT)):
            obs = {}
            noop(read_city_cars(spark, path, dt=dt, observations=obs))
            counts.append((obs["city_id_source"].get["rows"],
                           obs["city_id_source"].get["malformed_dropped"]))
    for sp in (a, b, c, d):
        ctx.layer[f"{sp.name}_s"] = sp.duration
    read_mb = sum(_dir_bytes(x) for x in read_paths) / 2**20
    ctx.layer["sources.input_mb_per_s"] = read_mb / sum(sp.duration for sp in (a, b, c, d))
    rows_in = sum(r for r, _ in counts)
    dropped = sum(m for _, m in counts)
    ctx.layer["sources.rows_in"] = rows_in
    ctx.layer["sources.malformed_dropped"] = dropped
    ctx.layer["sources.kept_frac"] = 1 - dropped / rows_in

    rec_obs = {}
    noop_calls = {
        JOBS[0]: lambda: run_max_temperature(spark, p["ncdc"]),
        JOBS[1]: lambda: run_reduce_join(spark, p["employee"], p["dept"]),
        JOBS[2]: lambda: run_user_hotcar(spark, p["profiles"], p["hotcar"], observations=rec_obs),
        JOBS[3]: lambda: run_user_newcar(spark, p["profiles"], p["newcar"], gen.NEWCAR_DT),
    }
    for job in JOBS:
        with span(f"noop.{job}") as sp:
            noop(noop_calls[job]())
        ctx.layer[f"noop.{job}"] = sp.duration
    # recommendations kept per joined (user, city, car) candidate row
    joined = rec_obs["user_count"].get["rows"] * size["cars_per_city"]
    ctx.layer["plans.recommend_kept_frac"] = rec_obs["rec_count"].get["rows"] / joined
