"""stream_ingest: files of new docs land in a drop directory on a fixed
schedule and ``dedup_ingest_stream`` dedups each against a MinHash index.

Open loop. Set-up builds the seed index with ``seed_minhash_index`` and
starts the stream (``available_now=False``, one file per micro-batch); one
warm-up file is then landed and committed. A lander thread, separate from
the system, lands one file every ``PERIOD_S`` seconds whether or not the
stream keeps up; once the scheduled files are committed (or the schedule
has ended, if the stream fell behind) a burst of files lands at once to
measure capacity. Each file's latency runs from its scheduled landing time
to the commit of its micro-batch (trigger start + ``triggerExecution`` from
``recentProgress``). The micro-batch calls the same ``dedup_increment`` as
a large batch would, but on small batches, where fixed cost per micro-batch
dominates.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

import pyarrow.dataset as ds

import gen
from harness import median, noop, tail

INDEX = "perfbench_idx"
SCHEMA = "doc_id long, text string"
SEED_DOCS, FILE_DOCS, BURST_FILES = 500, 200, 2
TINY = dict(seed=200, file=30, burst=2)
# landing period: about twice the micro-batch time for one 200-doc file
# (5-5.5 s on 4 cores when this was set), so the stream runs at about half
# capacity
PERIOD_S = 10.0
COMMIT_TIMEOUT_S = 60.0


def _commit_time(p) -> tuple[float, float]:
    """(trigger start, commit) of a progress entry, as epoch seconds."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start, start + p["durationMs"]["triggerExecution"] / 1e3


def _data_batches(q) -> list:
    return sorted((p for p in q.recentProgress if p["numInputRows"] > 0),
                  key=lambda p: p["batchId"])


class Lander:
    """Moves staged files into the drop directory at their due times on
    its own thread; records when each file actually landed."""

    def __init__(self, staged: list[str], src_dir: str):
        self.staged, self.src = staged, src_dir
        self.landed: list[float] = []
        self.late: list[float] = []
        self._thread = None

    def land_now(self, i: int, k: int = 0) -> float:
        dst = os.path.join(self.src, os.path.basename(self.staged[i]))
        os.rename(self.staged[i], dst)
        t = time.time()
        # distinct, increasing mtimes: the file source admits oldest first
        os.utime(dst, (t + k * 0.01, t + k * 0.01))
        self.landed.append(t)
        return t

    def schedule(self, first: int, due: list[float]) -> None:
        def loop():
            for j, d in enumerate(due):
                time.sleep(max(0.0, d - time.time()))
                self.late.append(self.land_now(first + j) - d)

        self._thread = threading.Thread(target=loop, name="lander", daemon=True)
        self._thread.start()

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join(timeout=COMMIT_TIMEOUT_S)


def _wait(q, n: int, until: float | None = None) -> list:
    """Wait until *n* data micro-batches have committed, the stream failed,
    or the time *until* (default: a timeout) has come; returns them."""
    deadline = until if until is not None else time.time() + COMMIT_TIMEOUT_S
    while True:
        batches = _data_batches(q)
        if len(batches) >= n or q.exception() is not None or time.time() > deadline:
            return batches
        time.sleep(0.05)


def run(ctx) -> None:
    from hadoop_app_spark.operators.dedup import seed_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    seed_n, file_n, burst_n = ((TINY["seed"], TINY["file"], TINY["burst"]) if ctx.tiny
                               else (SEED_DOCS, FILE_DOCS, BURST_FILES))
    n_sched = max(2, int(ctx.seconds // PERIOD_S))
    n_files = 1 + n_sched + burst_n + (1 if ctx.trace else 0)
    corpus = ctx.generate(gen.gen_corpus, ctx.rng, seed_n + file_n * n_files)
    arrival = ctx.rng.permutation(len(corpus["ids"]))
    ids, texts = corpus["ids"], corpus["texts"]
    batches = [arrival[:seed_n]] + [arrival[seed_n + i * file_n: seed_n + (i + 1) * file_n]
                                    for i in range(n_files)]
    staged = []

    def write_inputs():
        gen.write_docs(ctx.path("seed", "seed.parquet"), ids[batches[0]],
                       [texts[i] for i in batches[0]])
        for i, b in enumerate(batches[1:]):
            path = ctx.path("stage", f"f{i:04d}.parquet")
            gen.write_docs(path, ids[b], [texts[j] for j in b])
            staged.append(path)
        gen.write_family_map(ctx.path("seed", "families.json"), corpus)

    ctx.generate(write_inputs)
    probe_file = staged.pop() if ctx.trace else None
    src, out, ck = ctx.path("src"), ctx.path("out"), ctx.path("ck")
    os.makedirs(src)

    spark = ctx.start_spark()
    seed_df = spark.read.parquet(ctx.path("seed", "seed.parquet"))
    with ctx.tracer.span("operators.seed_minhash_index") as sp:
        seed_minhash_index(seed_df, "text", "doc_id", INDEX)
    ctx.layer["operators.seed_minhash_index_s"] = sp.duration
    with ctx.tracer.span("streaming.dedup_ingest_stream"):
        q = dedup_ingest_stream(spark, src, SCHEMA, INDEX, "text", "doc_id", out, ck,
                                available_now=False)
    lander = Lander(staged, src)
    try:
        lander.land_now(0)
        _wait(q, 1)
        ctx.end_setup()

        t0 = time.time()
        due = [t0 + j * PERIOD_S for j in range(n_sched)]
        sched_end = t0 + n_sched * PERIOD_S
        lander.schedule(1, due)
        lander.join()
        # the burst lands when the scheduled files are committed or the
        # schedule ends, whichever comes first
        _wait(q, 1 + n_sched, until=sched_end)
        burst_t = time.time()
        for k in range(burst_n):
            lander.land_now(1 + n_sched + k, k)
        done = _wait(q, len(lander.landed))
        failed_stream = q.exception()
    finally:
        q.stop()
    ctx.attempted += len(lander.landed)
    if len(done) < len(lander.landed) or failed_stream is not None:
        for _ in range(len(lander.landed) - len(done)):
            ctx.fail("streaming.micro_batch", str(failed_stream or "not committed in time"))
    if len(done) < len(lander.landed):
        done += [None] * (len(lander.landed) - len(done))

    commits = [_commit_time(p) if p else (float("nan"),) * 2 for p in done]
    lat = [commits[1 + j][1] - due[j] for j in range(n_sched) if done[1 + j]]
    burst = [(c, p) for c, p in zip(commits[1 + n_sched:], done[1 + n_sched:]) if p]
    capacity_docs = file_n * len(burst)
    drain = max((c[1] for c, _ in burst), default=burst_t) - burst_t
    ctx.metrics["latency_p50_s"] = median(lat)
    ctx.metrics["throughput_per_s"] = capacity_docs / drain if drain > 0 else 0.0
    backlog = sum(1 for j in range(n_sched) if not commits[1 + j][1] <= burst_t)
    tl = tail(lat)
    ctx.report.append(
        f"scheduled files: {n_sched} every {PERIOD_S:g} s of {file_n} docs; "
        f"latency p50 {median(lat):.3f} s; "
        + (f"p{tl[0]:.0f} {tl[1]:.3f} s of {tl[2]} samples" if tl
           else f"max {max(lat, default=0):.3f} s (only {len(lat)} samples, too few for a "
                "tail percentile)")
        + f"; backlog when the burst landed {backlog} files; burst {burst_n} files drained in "
        f"{drain:.3f} s; latencies " + " ".join(f"{x:.3f}" for x in lat))

    recall, false_drop = _check(ctx, corpus, batches[: len(lander.landed) + 1], out)
    if not ctx.trace:
        return
    sched = [p for p in done[1: 1 + n_sched] if p]
    trig = [p["durationMs"]["triggerExecution"] / 1e3 for p in sched]
    add = [p["durationMs"].get("addBatch", 0) / 1e3 for p in sched]
    ctx.layer.update({
        "operators.dup_recall": recall,
        "operators.false_drop_frac": false_drop,
        "streaming.batch_s": median(trig),
        "streaming.add_batch_s": median(add),
        "streaming.overhead_s": median([t - a for t, a in zip(trig, add)]),
        "streaming.queue_wait_s": median([commits[1 + j][0] - due[j] for j in range(n_sched)
                                          if done[1 + j]]),
        "streaming.latency_tail_s": tl[1] if tl else max(lat, default=0.0),
        "streaming.backlog_files": backlog,
        "streaming.idle_frac": 1 - sum(trig) / (n_sched * PERIOD_S),
        "streaming.source_rows_per_landed_row":
            sum(p["numInputRows"] for p in done if p) / (file_n * sum(1 for p in done if p)),
        "bench.generator_late_s": max(lander.late, default=0.0),
        "streaming.micro_batches": sum(1 for p in done if p),
    })
    index_dir = os.path.join(ctx.path("warehouse"), INDEX)
    files = [f for f in os.listdir(index_dir) if f.endswith(".parquet")]
    ctx.layer["operators.index_files"] = len(files)
    ctx.layer["operators.index_rows"] = ds.dataset(index_dir, format="parquet").count_rows()
    _operator_probes(ctx, spark, seed_df, probe_file)


def _check(ctx, corpus, batches, out) -> tuple[float, float]:
    """Read the survivors and the index ids and judge them; returns
    (dup_recall, false_drop_frac)."""
    surv = ds.dataset(out, format="parquet").to_table(columns=["doc_id"])["doc_id"].to_pylist()
    index_dir = os.path.join(ctx.path("warehouse"), INDEX)
    indexed = ds.dataset(index_dir, format="parquet").to_table(columns=["id"])["id"].to_pylist()
    checks, recall, false_drop, n_planted, n_unique = judge(corpus, batches, surv, indexed)
    for name, ok, detail in checks:
        ctx.check(name, ok, detail)
    ctx.report.append(f"dup_recall {recall:.4f} of {n_planted} planted duplicates; "
                      f"false_drop_frac {false_drop:.4f} of {n_unique} unique docs")
    return recall, false_drop


def judge(corpus, batches, surv: list[int], indexed: list[int]):
    """Survivor checks against the ground-truth families.

    *batches* are corpus positions in arrival order, the seed first;
    *surv* the streamed docs kept; *indexed* the ids in the index (the
    seed's survivors and the stream's). Returns (checks, dup_recall,
    false_drop_frac, planted duplicates, unique docs), where checks is a
    list of (name, ok, detail)."""
    ids, texts, family = corpus["ids"], corpus["texts"], corpus["family"]
    text_of = {int(ids[i]): texts[i] for i in range(len(ids))}
    streamed = {int(ids[i]) for b in batches[1:] for i in b}
    kept = set(surv)
    # every planted exact copy is dropped: no two kept docs share a text
    kept_texts = [text_of[i] for i in set(indexed)]
    checks = [
        ("survivors_subset_unique", kept <= streamed and len(surv) == len(kept),
         f"{len(surv)} survivors, {len(kept - streamed)} not streamed"),
        ("survivors_indexed", kept <= set(indexed),
         f"{len(kept - set(indexed))} survivors missing from the index"),
        ("exact_copies_dropped", len(kept_texts) == len(set(kept_texts)),
         f"{len(kept_texts) - len(set(kept_texts))} exact copies kept"),
    ]
    # a streamed doc is a planted duplicate when a doc of its family arrived
    # in an earlier batch, or in the same batch with a lower id
    first_seen: dict[int, tuple[int, int]] = {}
    for bi, b in enumerate(batches):
        for i in b:
            d = int(ids[i])
            first_seen[family[d]] = min(first_seen.get(family[d], (bi, d)), (bi, d))
    planted = {d for d in streamed if first_seen[family[d]][1] != d}
    dropped = streamed - kept
    unique = streamed - planted
    recall = len(dropped & planted) / len(planted) if planted else 1.0
    false_drop = len(dropped & unique) / len(unique) if unique else 0.0
    return checks, recall, false_drop, len(planted), len(unique)


def _operator_probes(ctx, spark, seed_df, probe_file) -> None:
    """Traced run only: the shingling functions and the batch dedup
    operators over the seed corpus (noop sink), and one direct
    ``dedup_increment`` of a further file against the grown index."""
    from pyspark.sql import functions as F

    from hadoop_app_spark.functions.text import ngrams, tokenize
    from hadoop_app_spark.operators.dedup import (dedup_increment, minhash_band_rows,
                                                  minhash_dedup, minhash_signatures,
                                                  simhash_band_pairs_fast)

    probes = {
        "functions.tokenize": lambda: noop(seed_df.select(tokenize("text"))),
        "functions.ngrams": lambda: noop(seed_df.select(ngrams("text", 3))),
        "operators.minhash_signatures": lambda: noop(minhash_signatures(seed_df, "text", "doc_id")),
        "operators.minhash_dedup": lambda: noop(minhash_dedup(seed_df, "text", "doc_id")),
        "operators.simhash_band_pairs_fast":
            lambda: noop(simhash_band_pairs_fast(seed_df, "text", "doc_id")),
    }
    for name, fn in probes.items():
        with ctx.tracer.span(name) as sp:
            fn()
        ctx.layer[f"{name}_s"] = sp.duration
    ctx.layer["functions.shingles_per_doc"] = seed_df.select(
        F.avg(F.size(ngrams("text", 3)))).first()[0]

    batch = spark.read.parquet(probe_file)
    n_batch = batch.count()
    bands = minhash_band_rows(minhash_signatures(batch, "text", "doc_id"), "doc_id")
    index_buckets = spark.table(INDEX).select("bucket")
    # attempts: band rows of the batch that meet an index row or another
    # batch doc in the same bucket
    hits = bands.join(index_buckets, "bucket").count()
    intra = (bands.groupBy("bucket").count().where("count > 1")
             .select(F.sum("count")).first()[0] or 0)
    with ctx.tracer.span("operators.dedup_increment") as sp:
        kept = dedup_increment(batch, INDEX, "text", "doc_id").count()
    ctx.layer["operators.dedup_increment_s"] = sp.duration
    ctx.layer["operators.band_collisions"] = hits + intra
    ctx.layer["operators.docs_dropped"] = n_batch - kept
    ctx.layer["operators.drops_per_collision"] = (n_batch - kept) / max(hits + intra, 1)
