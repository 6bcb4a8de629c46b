"""Dedup index layout and micro-batch reads: every bucketed index write
(seed and increments, both families) adds at most one file per bucket
whatever the shuffle parallelism, with the same survivors and index
rows as a single-partition run; and the ingest stream reads each
micro-batch's files once and leaves no cache behind."""

from __future__ import annotations

import os
import random

import pytest

from hadoop_app_spark.operators.bucketing import _strip_scheme, _table_location
from hadoop_app_spark.operators.dedup import (
    build_minhash_index,
    dedup_increment,
    seed_simhash_index,
    simhash_increment,
)

N_BUCKETS = 4


def _text(i: int) -> str:
    # 16 words from a 500-word vocabulary, deterministic in i
    rng = random.Random(i)
    return " ".join(f"w{rng.randrange(500)}" for _ in range(16))


def _batches(spark):
    """Seed and two increments with exact copies across and within
    batches, spread over many input partitions."""
    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    seed = docs([(i, _text(i)) for i in range(40)])
    b1 = docs(
        [(100 + i, _text(i)) for i in range(0, 40, 4)]  # copies of seed docs
        + [(200 + i, _text(1000 + i)) for i in range(30)]
        + [(300 + i, _text(1000 + i)) for i in range(0, 30, 3)]  # intra-batch copies
    )
    b2 = docs(
        [(400 + i, _text(1000 + i)) for i in range(0, 30, 5)]  # copies of b1 survivors
        + [(500 + i, _text(2000 + i)) for i in range(30)]
    )
    return seed, b1, b2


def _data_files(spark, table: str) -> int:
    loc = _strip_scheme(_table_location(spark, table))
    return sum(1 for f in os.listdir(loc) if not f.startswith(("_", ".")))


def _run(spark, family: str, table: str, shuffle_partitions: int):
    """Seed + two appends; returns (files added per write, survivors
    per increment, final index rows)."""
    prev = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    # keep every shuffle partition a write task, as on a large input
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    seed, b1, b2 = _batches(spark)
    if shuffle_partitions == 1:
        seed, b1, b2 = (d.coalesce(1) for d in (seed, b1, b2))
    try:
        if family == "minhash":
            build_minhash_index(seed, "text", "doc_id", table, n_buckets=N_BUCKETS)
            increment = dedup_increment
        else:
            seed_simhash_index(seed, "text", "doc_id", table, n_buckets=N_BUCKETS)
            increment = simhash_increment
        added = [_data_files(spark, table)]
        survivors = []
        for gen, batch in enumerate((b1, b2), 1):
            before = _data_files(spark, table)
            out = increment(
                batch, table, "text", "doc_id", dropped_table=f"{table}_d{gen}"
            )
            survivors.append(sorted(r.doc_id for r in out.collect()))
            added.append(_data_files(spark, table) - before)
        rows = sorted(map(tuple, spark.table(table).collect()))
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)
        for t in (table, f"{table}_d1", f"{table}_d2"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    return added, survivors, rows


@pytest.mark.parametrize("family", ["minhash", "simhash"])
def test_index_writes_add_at_most_one_file_per_bucket(spark, family):
    added, survivors, rows = _run(spark, family, f"lay_{family}", 4 * N_BUCKETS)
    assert all(0 < a <= N_BUCKETS for a in added), added
    _, ref_survivors, ref_rows = _run(spark, family, f"lay_{family}_ref", 1)
    assert survivors == ref_survivors
    assert rows == ref_rows
    # the fixture exercises both policies: index hits and intra-batch drops
    assert 200 in survivors[0] and 100 not in survivors[0] and 300 not in survivors[0]
    assert 500 in survivors[1] and 400 not in survivors[1]


def test_dedup_ingest_stream_reads_each_batch_once(spark, tmp_path):
    """Each data micro-batch's numInputRows equals the rows landed (the
    files are scanned once, not once per consumer), and the sink's
    batch cache is released: the only persisted RDDs the stream leaves
    are dedup_increment's dropped-id snapshots (materialized local
    checkpoints), never a cached batch."""
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    build_minhash_index(docs([(0, _text(0))]), "text", "doc_id", "lay_ingest")
    src = str(tmp_path / "src")
    os.makedirs(src)
    landed = {1: [(10 + i, _text(10 + i)) for i in range(5)] + [(20, _text(0))],
              2: [(30 + i, _text(30 + i)) for i in range(3)]}
    for gen, rows in landed.items():
        stage = str(tmp_path / f"stage{gen}")
        docs(rows).coalesce(1).write.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"g{gen}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + gen, 1_000_000_000 + gen))

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    try:
        q = dedup_ingest_stream(
            spark, src, "doc_id long, text string", "lay_ingest", "text", "doc_id",
            str(tmp_path / "out"), str(tmp_path / "ck"),
        )
        q.awaitTermination()
        got = [p["numInputRows"] for p in q.recentProgress if p["numInputRows"] > 0]
        assert got == [len(landed[1]), len(landed[2])]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
        persisted = jsc.getPersistentRDDs()
        leftover = [persisted.get(k) for k in set(persisted.keySet()) - before]
        assert all(r.isCheckpointed() for r in leftover), [
            r.toString() for r in leftover
        ]
        out = spark.read.parquet(str(tmp_path / "out"))
        assert 20 not in {r.doc_id for r in out.collect()}  # copy of the seed doc
    finally:
        for t in spark.sql("SHOW TABLES LIKE 'lay_ingest*'").collect():
            spark.sql(f"DROP TABLE IF EXISTS {t.tableName}")
