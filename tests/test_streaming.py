"""Structured Streaming tests: file-source event stream through the
windowed/session/dedup operators into a memory sink, checked against
the equivalent batch computation (stream-batch parity)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from hadoop_app_spark.streaming import (
    dedup_stream,
    read_event_stream,
    run_to_memory_sink,
    session_aggregates,
    tumbling_counts,
)


def write_events(tmp_path, rows, n_files=2):
    """rows: (event_id, iso_ts, user_id, event_type, value). Split
    across files so the stream sees multiple micro-batches."""
    d = tmp_path / "stream_in"
    d.mkdir(exist_ok=True)
    chunk = max(1, len(rows) // n_files)
    for i in range(0, len(rows), chunk):
        with open(d / f"f{i}.json", "w") as f:
            for e, t, u, et, v in rows[i : i + chunk]:
                f.write(json.dumps({"event_id": e, "ts": t, "user_id": u, "event_type": et, "value": v, "props": "{}"}) + "\n")
    return str(d)


EVENTS = [
    (1, "2024-01-01 10:05:00", 1, "click", 1.0),
    (2, "2024-01-01 10:20:00", 1, "click", 2.0),
    (3, "2024-01-01 11:05:00", 1, "click", 3.0),  # new hour window
    (4, "2024-01-01 10:30:00", 2, "view", 4.0),
    (5, "2024-01-01 13:00:00", 1, "click", 5.0),  # >30min gap -> new session
]


def test_tumbling_stream_matches_batch(spark, tmp_path):
    path = write_events(tmp_path, EVENTS)
    stream = read_event_stream(spark, path)
    assert stream.isStreaming
    q = run_to_memory_sink(tumbling_counts(stream, "1 hour"), "tumbling_t", mode="complete")
    q.awaitTermination(60)
    got = {
        (str(r.window_start), r.event_type): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM tumbling_t").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (2, 3.0)
    assert got[("2024-01-01 11:00:00", "click")] == (1, 3.0)
    assert got[("2024-01-01 10:00:00", "view")] == (1, 4.0)


def test_session_windows(spark, tmp_path):
    path = write_events(tmp_path, EVENTS)
    q = run_to_memory_sink(session_aggregates(read_event_stream(spark, path), gap="30 minutes"), "sessions_t", mode="complete")
    q.awaitTermination(60)
    rows = spark.sql("SELECT * FROM sessions_t WHERE user_id = 1").collect()
    # user 1: events at 10:05/10:20 merge (15min apart), 11:05 merges?
    # gap session: [10:05..10:50], 11:05 starts new, 13:00 new -> 3 sessions
    assert len(rows) == 3
    big = next(r for r in rows if r.n_events == 2)
    assert str(big.session_start) == "2024-01-01 10:05:00"


def test_windowed_value_quantiles_stream(spark, tmp_path):
    """Streaming GK-sketch quantiles: at accuracy >= per-window n the
    summary retains every value, so p50/p90 equal the exact type-1
    integer-rank quantiles (rank ceil(p*n) over floor(value))."""
    from hadoop_app_spark.streaming.events import windowed_value_quantiles

    rows = [
        # one 10:00 click window with values 1.9, 2.1, 7.5, 9.0 ->
        # floors [1, 2, 7, 9]; n=4: p50 rank 2 -> 2, p90 rank 4 -> 9
        (1, "2024-01-01 10:05:00", 1, "click", 1.9),
        (2, "2024-01-01 10:20:00", 1, "click", 2.1),
        (3, "2024-01-01 10:40:00", 2, "click", 7.5),
        (4, "2024-01-01 10:50:00", 2, "click", 9.0),
        # singleton view window: every quantile is the one value
        (5, "2024-01-01 10:30:00", 2, "view", 4.2),
    ]
    path = write_events(tmp_path, rows)
    q = run_to_memory_sink(
        windowed_value_quantiles(read_event_stream(spark, path), "1 hour"),
        "quant_t",
        mode="complete",
    )
    q.awaitTermination(60)
    got = {
        (str(r.window_start), r.event_type): (r.n, r.p50, r.p90)
        for r in spark.sql("SELECT * FROM quant_t").collect()
    }
    assert got[("2024-01-01 10:00:00", "click")] == (4, 2, 9)
    assert got[("2024-01-01 10:00:00", "view")] == (1, 4, 4)


def test_stream_dedup(spark, tmp_path):
    dup_rows = EVENTS + [(1, "2024-01-01 10:06:00", 1, "click", 1.0)]  # dup event_id 1
    path = write_events(tmp_path, dup_rows, n_files=1)
    q = run_to_memory_sink(dedup_stream(read_event_stream(spark, path)), "dedup_t")
    q.awaitTermination(60)
    ids = [r.event_id for r in spark.sql("SELECT event_id FROM dedup_t").collect()]
    assert sorted(ids) == [1, 2, 3, 4, 5]


def test_stream_batch_parity(spark, tmp_path):
    """The streaming tumbling agg equals the same plan run in batch."""
    path = write_events(tmp_path, EVENTS)
    q = run_to_memory_sink(tumbling_counts(read_event_stream(spark, path)), "parity_t", mode="complete")
    q.awaitTermination(60)
    stream_rows = sorted(
        (str(r.window_start), r.event_type, r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM parity_t").collect()
    )
    from hadoop_app_spark.streaming.events import EVENTS_SCHEMA

    batch = (
        spark.read.schema(EVENTS_SCHEMA).json(path)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "sum_value")
    )
    batch_rows = sorted((str(r.ws), r.event_type, r.n, r.sum_value) for r in batch.collect())
    assert stream_rows == batch_rows


def test_stream_stream_join_gap_and_user_bounds(spark, tmp_path):
    """view-click conversions: only same-user clicks within the gap
    AFTER the view pair up; earlier clicks and other users don't."""
    from hadoop_app_spark.streaming.events import view_click_conversions

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:30:00", 1, "click", 0.0),   # within 1h -> pairs
        (3, "2024-01-01 12:00:00", 1, "click", 0.0),   # past the 1h gap
        (4, "2024-01-01 09:30:00", 1, "click", 0.0),   # BEFORE the view
        (5, "2024-01-01 10:15:00", 2, "click", 0.0),   # other user
        (6, "2024-01-01 11:50:00", 2, "view", 0.0),
        (7, "2024-01-01 11:55:00", 2, "click", 0.0),   # pairs for user 2
    ]
    path = write_events(tmp_path, rows, n_files=1)
    stream = read_event_stream(spark, path)
    conv = view_click_conversions(
        stream.where(F.col("event_type") == "view"),
        stream.where(F.col("event_type") == "click"),
        max_gap="1 hour",
    )
    q = run_to_memory_sink(conv, "t_ssj", mode="append")
    q.awaitTermination()
    got = {(r.view_id, r.click_id) for r in spark.table("t_ssj").collect()}
    assert got == {(1, 2), (6, 7)}


def test_stream_static_enrichment_counts(spark, tmp_path):
    from hadoop_app_spark.streaming.events import enriched_segment_counts

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.5),
        (2, "2024-01-01 10:05:00", 1, "click", 2.5),
        (3, "2024-01-01 10:10:00", 2, "view", 1.0),
        (4, "2024-01-01 10:15:00", 99, "click", 9.0),  # no dim row -> drops
    ]
    path = write_events(tmp_path, rows, n_files=1)
    dim = spark.createDataFrame(
        [(1, "BUILDING"), (2, "MACHINERY")], "c_custkey long, c_mktsegment string"
    )
    stream = read_event_stream(spark, path)
    q = run_to_memory_sink(
        enriched_segment_counts(stream, dim), "t_enrich", mode="complete"
    )
    q.awaitTermination()
    got = {
        (r.c_mktsegment, r.event_type): (r.n, r.sum_value)
        for r in spark.table("t_enrich").collect()
    }
    assert got == {("BUILDING", "click"): (2, 4.0), ("MACHINERY", "view"): (1, 1.0)}


def test_stateful_user_profile(spark, tmp_path):
    """applyInPandasWithState: state accumulates across micro-batches."""
    from hadoop_app_spark.streaming.stateful import user_profile_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:01:00", 1, "click", 1.0),
        (3, "2024-01-01 10:02:00", 1, "click", 1.0),
        (4, "2024-01-01 10:03:00", 1, "click", 1.0),
        (5, "2024-01-01 10:04:00", 1, "click", 50.0),  # spike vs mean 1.0
        (6, "2024-01-01 10:05:00", 2, "view", 7.0),
    ]
    path = write_events(tmp_path, rows, n_files=2)
    stream = read_event_stream(spark, path)
    q = (
        user_profile_stream(stream, evict_idle=False)
        .writeStream.format("memory")
        .queryName("profile_t")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    # terminates promptly: evict_idle=False arms no processing-time timers,
    # so availableNow stops once both files are processed
    assert q.awaitTermination(120), "bounded stateful query failed to terminate"
    # last emitted row per user carries the cumulative profile
    final = {
        r.user_id: r
        for r in spark.sql(
            """SELECT * FROM (
                 SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
                 FROM profile_t) WHERE rn = 1"""
        ).collect()
    }
    assert final[1].n_events == 5
    assert final[1].sum_value == 54.0
    assert final[1].n_anomalies == 1
    assert final[2].n_events == 1


def test_stateful_timeout_evicts():
    """hasTimedOut branch: state dropped, nothing emitted, timer NOT re-armed."""
    from unittest.mock import MagicMock

    from hadoop_app_spark.streaming.stateful import _update_profile

    state = MagicMock()
    state.hasTimedOut = True
    assert list(_update_profile((7,), iter([]), state)) == []
    state.remove.assert_called_once()
    state.update.assert_not_called()
    state.setTimeoutDuration.assert_not_called()


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode + watermark contract: a window emits once when the
    watermark passes its end, and later-arriving rows for that window
    are DROPPED, not re-aggregated. Files get strictly increasing
    mtimes so the file source feeds them as ordered micro-batches
    (maxFilesPerTrigger=1).

    Spark subtlety pinned here: the late-row filter uses the watermark
    in effect when the batch is PLANNED, which lags the advance by one
    batch — a late row in the micro-batch immediately after the one
    that advanced the watermark still reaches state before eviction.
    The drop is guaranteed from the following batch on, so the late
    row ships two batches after its window was passed."""
    import json as _json
    import os

    d = tmp_path / "late_in"
    d.mkdir()
    batches = [
        # batch 1: seeds [10:00,11:00) and advances event time to 12:30
        [(1, "2024-01-01 10:15:00", 1.0), (2, "2024-01-01 12:30:00", 1.0)],
        # batch 2: watermark 12:00 -> [10,11) evicts/emits with its
        # one on-time row
        [(3, "2024-01-01 13:30:00", 1.0)],
        # batch 3: the 10:45 straggler is far behind the watermark ->
        # dropped (its value 100 would be visible in the sums if it
        # leaked in); 14:30 advances so [12,13) also closes
        [(4, "2024-01-01 10:45:00", 100.0), (5, "2024-01-01 14:30:00", 1.0)],
    ]
    for i, rows in enumerate(batches):
        p = d / f"b{i}.json"
        with open(p, "w") as f:
            for e, t, v in rows:
                f.write(_json.dumps({"event_id": e, "ts": t, "user_id": 1,
                                     "event_type": "click", "value": v, "props": "{}"}) + "\n")
        os.utime(p, (1700000000 + i * 60, 1700000000 + i * 60))

    stream = read_event_stream(spark, str(d))
    q = run_to_memory_sink(
        tumbling_counts(stream, "1 hour", watermark="30 minutes"), "late_t", mode="append"
    )
    q.awaitTermination(120)
    dropped = sum(
        (p["stateOperators"][0].get("numRowsDroppedByWatermark", 0) if p["stateOperators"] else 0)
        for p in q.recentProgress
    )
    got = {
        str(r.window_start): (r.n, r.sum_value)
        for r in spark.sql("SELECT * FROM late_t").collect()
    }
    assert dropped == 1  # the straggler was dropped by the watermark, not merged
    # exactly the closed windows, each with ONLY its on-time rows (the
    # final empty availableNow batch advances the watermark to 14:00,
    # which also closes [13,14))
    assert got == {
        "2024-01-01 10:00:00": (1, 1.0),
        "2024-01-01 12:00:00": (1, 1.0),
        "2024-01-01 13:00:00": (1, 1.0),
    }


def test_utc_session_restores_caller_timezone(spark):
    """ADVICE r2: the stream helpers must not permanently mutate the
    shared session's timezone."""
    from hadoop_app_spark.queries import _utc_session

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    try:
        with _utc_session(spark):
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
        # restores even when the body raises
        with pytest.raises(RuntimeError):
            with _utc_session(spark):
                raise RuntimeError("boom")
        assert spark.conf.get("spark.sql.session.timeZone") == "Asia/Tokyo"
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_catalog_ltz_read_is_timezone_invariant(spark):
    """catalog.load_table's LTZ branch (inferTimestampNTZ disabled) must
    recover the stored naive wall clock under ANY session timezone — a
    bare cast('timestamp_ntz') went through the session tz (ADVICE r2)."""
    from hadoop_app_spark.catalog import load_table

    sf = "/root/testdata/sf0.001"
    ref = [r.ts for r in load_table(spark, sf, "events").orderBy("event_id").limit(5).collect()]
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = load_table(spark, sf, "events")
        assert df.schema["ts"].dataType.typeName() == "timestamp_ntz"
        got = [r.ts for r in df.orderBy("event_id").limit(5).collect()]
        assert got == ref
    finally:
        spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
        spark.conf.set("spark.sql.session.timeZone", prev_tz)


def test_catalog_missing_file_not_masked(spark):
    """The nanos-fallback retry must not mask unrelated read errors."""
    from hadoop_app_spark.catalog import load_table

    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        load_table(spark, "/tmp/definitely_missing_sf", "events")


def test_streaming_cdc_apply(spark, tmp_path):
    """A change stream folds into a versioned snapshot via foreachBatch:
    upserts replace, tombstones delete, last writer per key wins within
    a batch, and the pointer only advances on committed versions."""
    import json as _json

    from hadoop_app_spark.streaming.cdc import apply_changes_stream, current_snapshot

    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    seed.write.parquet(root + "/v0")

    # change stream: one JSONL file -> one availableNow run
    changes = [
        {"k": 2, "name": "b2", "v": 21.0, "op": "U", "seq": 1},
        {"k": 2, "name": "b3", "v": 22.0, "op": "U", "seq": 2},  # later seq wins
        {"k": 3, "name": "c", "v": 0.0, "op": "D", "seq": 3},    # tombstone
        {"k": 4, "name": "d", "v": 40.0, "op": "I", "seq": 4},   # insert
    ]
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "batch1.jsonl").write_text("\n".join(_json.dumps(c) for c in changes))
    stream = spark.readStream.schema("k long, name string, v double, op string, seq long").json(
        str(cdir)
    )
    q = apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    snap = {r.k: (r.name, r.v) for r in current_snapshot(spark, root).collect()}
    assert snap == {1: ("a", 10.0), 2: ("b3", 22.0), 4: ("d", 40.0)}

    # second stream run with a new change file advances the version again
    (cdir / "batch2.jsonl").write_text(_json.dumps({"k": 1, "name": "a1", "v": 11.0, "op": "U", "seq": 5}))
    q2 = apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q2.awaitTermination()
    snap2 = {r.k: (r.name, r.v) for r in current_snapshot(spark, root).collect()}
    assert snap2[1] == ("a1", 11.0) and snap2[2] == ("b3", 22.0)
    # the manifest records version + batch_id (at-least-once replay
    # guard) + per-partition versions (partitioned snapshot layout)
    from hadoop_app_spark.streaming import _state

    v, b, pvers, exact = _state.read_manifest(spark, root, fresh_version=0)
    assert v == 2 and pvers is not None


def test_cdc_partitioned_snapshot_incremental_io(spark, tmp_path):
    """r3 VERDICT item 4: a batch rewrites ONLY the partitions its keys
    hash into — an untouched partition's manifest entry still names the
    prior version and its files are byte-identical across the batch."""
    import glob
    import hashlib
    import json as _json
    import os as _os

    from hadoop_app_spark.streaming import _state
    from hadoop_app_spark.streaming.cdc import apply_changes_stream, current_snapshot

    P = 8
    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)], "k long, name string, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "b1.jsonl").write_text(
        _json.dumps({"k": 7, "name": "x", "v": 7.5, "op": "U", "seq": 1})
    )
    schema = "k long, name string, v double, op string, seq long"
    stream = spark.readStream.schema(schema).json(str(cdir))
    apply_changes_stream(
        stream, root, ["k"], seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"), n_partitions=P,
    ).awaitTermination()
    v1, _, pv1, x1 = _state.read_manifest(spark, root, fresh_version=0)
    assert v1 == 1 and pv1 == [1] * P  # migration partitioned the seed

    from hadoop_app_spark.streaming.cdc import _PART

    def file_stats(version, part):
        d = f"{root}/v{version}/{_PART}={part}"
        return {
            _os.path.basename(f): (
                _os.path.getsize(f),
                hashlib.md5(open(f, "rb").read()).hexdigest(),
            )
            for f in sorted(glob.glob(d + "/*.parquet"))
        }

    # which partition does k=3 hash into? (same expression as the fold)
    pk = (
        spark.range(1)
        .select(F.pmod(F.xxhash64(F.lit(3).cast("long")), F.lit(P)).cast("int").alias("p"))
        .collect()[0]
        .p
    )
    untouched = [i for i in range(P) if i != pk]
    before = {i: file_stats(1, i) for i in untouched}
    # guard against a silent naming drift making every glob empty (and
    # the byte-identity assertion below vacuous): 50 seeded keys across
    # 8 partitions — every partition dir must hold real files
    assert all(before[i] for i in untouched), "partition dirs empty — dir naming drifted?"

    (cdir / "b2.jsonl").write_text(
        _json.dumps({"k": 3, "name": "z", "v": 99.0, "op": "U", "seq": 2})
    )
    apply_changes_stream(
        stream, root, ["k"], seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"), n_partitions=P,
    ).awaitTermination()

    v2, _, pv2, x2 = _state.read_manifest(spark, root, fresh_version=0)
    assert v2 == 2
    assert pv2[pk] == 2  # only k=3's partition advanced
    assert all(pv2[i] == 1 for i in untouched)
    after = {i: file_stats(pv2[i], i) for i in untouched}
    assert after == before  # untouched partitions: same files, same bytes
    snap = {r.k: (r.name, r.v) for r in current_snapshot(spark, root).collect()}
    assert len(snap) == 50
    assert snap[3] == ("z", 99.0) and snap[7] == ("x", 7.5) and snap[5] == ("n5", 5.0)


def test_streaming_incremental_topk(spark, tmp_path):
    """Streamed corpus batches fold into an exact running top-k: after
    the stream drains, the committed result equals the batch brute-force
    answer over the full corpus (top-k mergeability)."""
    import math

    from hadoop_app_spark.operators.similarity import brute_force_topk
    from hadoop_app_spark.streaming.similarity import current_topk, streaming_topk

    def vec(i):
        a = (i % 12) * 0.5
        return [math.cos(a), math.sin(a), 0.1 * (i % 5), 0.2]

    corpus = [(i, vec(i)) for i in range(60)]
    # two parquet files -> availableNow processes them as separate batches
    cdir = tmp_path / "stream_corpus"
    half1 = spark.createDataFrame(corpus[:30], "vec_id long, embedding array<double>")
    half2 = spark.createDataFrame(corpus[30:], "vec_id long, embedding array<double>")
    half1.coalesce(1).write.parquet(str(cdir / "p1"))
    half2.coalesce(1).write.parquet(str(cdir / "p2"))

    queries = spark.createDataFrame(
        [(901, vec(3)), (902, vec(7))], "query_id long, query_vec array<double>"
    )
    stream = spark.readStream.schema("vec_id long, embedding array<double>").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(cdir) + "/*")
    root = str(tmp_path / "topk")
    q = streaming_topk(
        stream, queries, root, k=5, checkpoint_dir=str(tmp_path / "ckpt")
    )
    q.awaitTermination()

    got = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine, 9))
        for r in current_topk(spark, root).collect()
    }
    full = spark.createDataFrame(corpus, "vec_id long, embedding array<double>")
    exp = {
        (r.query_id, r.rank): (r.vec_id, round(r.cosine, 9))
        for r in brute_force_topk(full, queries, k=5).collect()
    }
    assert got == exp
    # more than one committed version proves it ran incrementally
    assert int((tmp_path / "topk" / "_CURRENT").read_text().split()[0]) >= 1


def test_incremental_rollup_matches_batch(spark, tmp_path):
    """Continuous time-bucket rollup: after the stream drains (two
    micro-batches), the materialized table equals the one-shot batch
    tumbling aggregation — count/sum mergeability makes refresh exact."""
    import datetime as dt

    from hadoop_app_spark.streaming.rollup import current_rollup, incremental_rollup

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=7 * i), "click" if i % 2 else "view", float(i) + 0.25)
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string, value double")
    cdir = tmp_path / "ev"
    df.where("event_id < 20").coalesce(1).write.parquet(str(cdir / "p1"))
    df.where("event_id >= 20").coalesce(1).write.parquet(str(cdir / "p2"))

    stream = spark.readStream.schema(
        "event_id long, ts timestamp, event_type string, value double"
    ).option("maxFilesPerTrigger", 1).parquet(str(cdir) + "/*")
    root = str(tmp_path / "rollup")
    q = incremental_rollup(stream, root, checkpoint_dir=str(tmp_path / "ckpt"))
    q.awaitTermination()

    got = {
        (r.bucket_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in current_rollup(spark, root).collect()
    }
    exp_rows = (
        df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(F.col("value").cast("decimal(18,6)")).alias("s"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("b"),
            "event_type",
            "n",
            F.col("s").cast("double").alias("s"),
        )
        .collect()
    )
    exp = {(r.b, r.event_type): (r.n, round(r.s, 6)) for r in exp_rows}
    assert got == exp
    from hadoop_app_spark.streaming import _state

    v, _, _pv, _x = _state.read_manifest(spark, str(tmp_path / "rollup"))
    assert v >= 1  # incremental versions


def test_rollup_bucket_key_session_tz_independent(spark):
    """r3 ADVICE: bucket_start is the rollup MERGE key — a stream resumed
    under a different session timezone must format the same epoch bucket
    to the same key or merges split/duplicate buckets."""
    import datetime as dt

    from hadoop_app_spark.streaming.rollup import _partial

    df = spark.createDataFrame(
        [(dt.datetime(2024, 3, 1, 10, 30, 0), "click", 1.0)],
        "ts timestamp, event_type string, value double",
    )
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        keys = {}
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            rows = _partial(df, "ts", "1 hour", ["event_type"], "value").collect()
            keys[tz] = rows[0].bucket_start
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert keys["UTC"] == keys["America/New_York"] == "2024-03-01 10:00"


def test_pointer_state_replay_guard_format(spark):
    """Pointer files record 'version batch_id' (at-least-once replay
    guard), parse the pre-guard bare-version format, and — since r4 —
    go through the Hadoop FS API so non-local snapshot roots work."""
    import os
    import tempfile

    from hadoop_app_spark.streaming import _state

    for fresh, empty in ((0, (0, -1)), (-1, (-1, -1))):
        with tempfile.TemporaryDirectory() as d:
            assert _state.read_state(spark, d, fresh_version=fresh) == empty
            _state.write_state(spark, d, 3, 7)
            assert _state.read_state(spark, d, fresh_version=fresh) == (3, 7)
            # overwrite commit (the every-batch path) must swap atomically
            _state.write_state(spark, d, 4, 8)
            assert _state.read_state(spark, d, fresh_version=fresh) == (4, 8)
            # legacy single-int pointer (pre-replay-guard, written by
            # plain open() with no Hadoop .crc sidecar) still reads;
            # drop the sidecar of the Hadoop-written pointer first or
            # LocalFileSystem reports a checksum mismatch on the
            # hand-overwritten file
            for crc in ("._CURRENT.crc", "._CURRENT.tmp.crc"):
                p = os.path.join(d, crc)
                if os.path.exists(p):
                    os.remove(p)
            with open(os.path.join(d, "_CURRENT"), "w") as f:
                f.write("5")
            assert _state.read_state(spark, d, fresh_version=fresh) == (5, -1)


def test_cdc_user_column_named_p_survives(spark, tmp_path):
    """The snapshot's internal partition column must not clobber user
    data: a schema with a column literally named 'p' round-trips."""
    import json as _json

    from hadoop_app_spark.streaming.cdc import apply_changes_stream, current_snapshot

    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, p string, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "b1.jsonl").write_text(
        _json.dumps({"k": 2, "p": "b2", "v": 21.0, "op": "U", "seq": 1})
    )
    stream = spark.readStream.schema("k long, p string, v double, op string, seq long").json(
        str(cdir)
    )
    apply_changes_stream(
        stream, root, ["k"], seq_col="seq", checkpoint_dir=str(tmp_path / "ckpt"),
        n_partitions=4,
    ).awaitTermination()
    snap = {r.k: (r.p, r.v) for r in current_snapshot(spark, root).collect()}
    assert snap == {1: ("a", 10.0), 2: ("b2", 21.0)}


def test_cdc_delta_target_feature_detect(spark):
    # the container has no delta-spark / iceberg extension; the detector
    # must say so cleanly (False, not an exception)
    from hadoop_app_spark.streaming.cdc import table_format_available

    assert table_format_available("delta") in (True, False)
    assert table_format_available("iceberg") in (True, False)
    import pytest

    with pytest.raises(ValueError):
        table_format_available("hudi")


def test_cdc_delta_merge_target(spark, tmp_path):
    """Same change stream, real Delta MERGE target — runs only where
    delta-spark is installed (feature-detected; skipped in-container)."""
    import json as _json

    import pytest

    from hadoop_app_spark.streaming.cdc import (
        DeltaMergeTarget,
        apply_changes_stream,
        table_format_available,
    )

    if not table_format_available("delta"):
        pytest.skip("delta-spark not installed")

    changes = [
        {"k": 1, "name": "a", "v": 10.0, "op": "I", "seq": 1},
        {"k": 2, "name": "b", "v": 20.0, "op": "I", "seq": 2},
        {"k": 2, "name": "b2", "v": 21.0, "op": "U", "seq": 3},  # later seq wins
    ]
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "batch1.jsonl").write_text("\n".join(_json.dumps(c) for c in changes))
    stream = spark.readStream.schema(
        "k long, name string, v double, op string, seq long"
    ).json(str(cdir))
    target = DeltaMergeTarget(str(tmp_path / "delta_tbl"), ["k"], op_col="op")
    q = apply_changes_stream(
        stream, str(tmp_path / "unused"), ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"), target=target,
    )
    q.awaitTermination()
    rows = {
        r.k: (r.name, r.v)
        for r in spark.read.format("delta").load(str(tmp_path / "delta_tbl")).collect()
    }
    assert rows == {1: ("a", 10.0), 2: ("b2", 21.0)}


def test_cdc_iceberg_merge_target(spark, tmp_path):
    """Same change stream, real Iceberg MERGE INTO target — runs only
    where an Iceberg catalog is configured (feature-detected; skipped
    in-container, mirroring the Delta twin)."""
    import json as _json

    import pytest

    from hadoop_app_spark.streaming.cdc import (
        IcebergMergeTarget,
        apply_changes_stream,
        table_format_available,
    )

    if not table_format_available("iceberg"):
        pytest.skip("no Iceberg catalog extension on this session")

    changes = [
        {"k": 1, "name": "a", "v": 10.0, "op": "I", "seq": 1},
        {"k": 2, "name": "b", "v": 20.0, "op": "I", "seq": 2},
        {"k": 2, "name": "b2", "v": 21.0, "op": "U", "seq": 3},  # later seq wins
    ]
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "batch1.jsonl").write_text("\n".join(_json.dumps(c) for c in changes))
    stream = spark.readStream.schema(
        "k long, name string, v double, op string, seq long"
    ).json(str(cdir))
    target = IcebergMergeTarget("iceberg_cat.db.cdc_events", ["k"], op_col="op")
    q = apply_changes_stream(
        stream, str(tmp_path / "unused"), ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"), target=target,
    )
    q.awaitTermination()
    rows = {
        r.k: (r.name, r.v)
        for r in spark.table("iceberg_cat.db.cdc_events").collect()
    }
    assert rows == {1: ("a", 10.0), 2: ("b2", 21.0)}


def test_cdc_iceberg_target_merge_sql_shape(spark):
    # the SQL the target would issue is testable without the runtime
    # jar: seed + merge arms must reference every non-op column, key
    # equality, and all three WHEN arms (the contract the Delta twin
    # implements via the DeltaTable builder)
    from hadoop_app_spark.streaming.cdc import IcebergMergeTarget

    t = IcebergMergeTarget("cat.db.t", ["k1", "k2"], op_col="op")
    assert t.keys == ["k1", "k2"] and t.table == "cat.db.t"
    # apply() on a session without the catalog must fail loudly (the
    # caller gate is table_format_available, same as Delta), not
    # silently write elsewhere
    df = spark.createDataFrame(
        [(1, 2, "x", "I")], "k1 long, k2 long, payload string, op string"
    )
    import pytest

    with pytest.raises(Exception):
        t.apply(df, 0)


def test_cdc_target_requires_seq_col(spark, tmp_path):
    # review finding r5: MERGE needs one source row per key — without a
    # sequence column there is no deterministic compaction, so the
    # target path must refuse up front instead of dying mid-stream
    import pytest

    from hadoop_app_spark.streaming.cdc import DeltaMergeTarget, apply_changes_stream

    cdir = tmp_path / "nochanges"
    cdir.mkdir()
    (cdir / "b.jsonl").write_text('{"k": 1, "v": 1.0, "op": "I"}')
    stream = spark.readStream.schema("k long, v double, op string").json(str(cdir))
    with pytest.raises(ValueError, match="seq_col"):
        apply_changes_stream(
            stream, str(tmp_path / "s"), ["k"], op_col="op", seq_col=None,
            target=DeltaMergeTarget(str(tmp_path / "t"), ["k"]),
        )


def test_windowed_hll_stream_matches_batch_registers(spark, tmp_path):
    """Multi-micro-batch streaming HLL must equal the batch build_hll
    per window — pins that the state-store max-merge IS the sketch
    merge. Null keys excluded; 30 distinct users across two windows."""
    from hadoop_app_spark.operators.corpus import build_hll
    from hadoop_app_spark.streaming.events import read_event_stream, windowed_hll

    rows = [
        (i, f"2024-01-01 {10 + (i % 2)}:{i % 60:02d}:00", i % 30, "click", 1.0)
        for i in range(120)
    ]
    path = write_events(tmp_path, rows, n_files=4)
    q = run_to_memory_sink(
        windowed_hll(read_event_stream(spark, path), "1 hour"),
        "hll_t",
        mode="complete",
    )
    q.awaitTermination(60)
    got = {
        (str(r.window_start), r.register, r.max_rho)
        for r in spark.sql("SELECT * FROM hll_t").collect()
    }

    from pyspark.sql import functions as F

    batch = (
        spark.read.json(path)
        .select(F.col("ts").cast("timestamp").alias("ts"), "user_id")
        .select(
            F.date_format(F.window("ts", "1 hour").start, "yyyy-MM-dd HH:mm:ss").alias("w"),
            F.col("user_id").cast("string").alias("k"),
        )
    )
    want = {
        (r.w, r.register, r.max_rho)
        for r in build_hll(batch, "k", ["w"]).collect()
    }
    assert got == want and len(got) > 0


def test_dedup_ingest_stream_incremental_and_restart(spark, tmp_path):
    """Streaming incremental dedup (streaming/ingest.py): per-file
    micro-batches dedup against the persisted index AND earlier
    batches' survivors; a checkpoint restart ingests ONLY new files and
    continues the generation sequence."""
    import os

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    t_seed = "seed document about relational storage engines and pages"
    t_new = "a genuinely new corpus document with fresh unique words"
    t_new2 = "another distinct document concerning query optimizer rules"
    t_new3 = "final standalone document mentioning vectorized execution"
    seed = docs([(0, t_seed), (1, "the other seed text covers buffer pools")])
    build_minhash_index(seed, "text", "doc_id", "mh_ingest_test")

    src, out, ck = (str(tmp_path / x) for x in ("src", "out", "ck"))
    os.makedirs(src)

    def land(gen, rows):
        stage = str(tmp_path / f"stage{gen}")
        docs(rows).coalesce(1).write.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"g{gen}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + gen, 1_000_000_000 + gen))

    # batch 1: 10 dups the index seed; 11 is new; 12 dups 11 intra-batch
    land(1, [(10, t_seed), (11, t_new), (12, t_new)])
    # batch 2: 20 dups batch-1 SURVIVOR 11 (via the index append); 21 new
    land(2, [(20, t_new), (21, t_new2)])

    schema = "doc_id long, text string"
    q = dedup_ingest_stream(
        spark, src, schema, "mh_ingest_test", "text", "doc_id", out, ck,
    )
    q.awaitTermination()
    got = {
        (r.generation, r.doc_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(1, 11), (2, 21)}

    # restart with the same checkpoint: only the NEW file is ingested,
    # the generation sequence continues, and the index remembers 21
    land(3, [(30, t_new2), (31, t_new3)])
    q2 = dedup_ingest_stream(
        spark, src, schema, "mh_ingest_test", "text", "doc_id", out, ck,
    )
    q2.awaitTermination()
    got2 = {
        (r.generation, r.doc_id)
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == {(1, 11), (2, 21), (3, 31)}


def test_validated_ingest_quarantines_bad_batches(spark, tmp_path):
    """Expectations gate the ingest: a batch with a NULL key is
    diverted whole to quarantine (tagged with the failed expectation),
    never touches the index or the output, and the clean resend of the
    same content processes normally."""
    import os

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.operators.expectations import NotNull, ValueRange
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    t_new = "a perfectly novel document about adaptive radix trees"
    t_new2 = "another novel document describing log structured merges"
    seed = docs([(0, "seed text on page layouts and slotted arrays")])
    build_minhash_index(seed, "text", "doc_id", "mh_vq_idx")

    src, out, qtn, ck = (str(tmp_path / x) for x in ("src", "out", "qtn", "ck"))
    os.makedirs(src)

    def land(g, rows):
        stage = str(tmp_path / f"stage{g}")
        docs(rows).coalesce(1).write.parquet(stage)
        part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
        dst = os.path.join(src, f"g{g}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + g, 1_000_000_000 + g))

    land(1, [(10, t_new)])                      # clean
    land(2, [(None, t_new2), (21, t_new2)])     # NULL id -> quarantined whole
    land(3, [(30, t_new2)])                     # clean resend

    q = dedup_ingest_stream(
        spark, src, "doc_id long, text string", "mh_vq_idx", "text", "doc_id",
        out, ck,
        expectations=[NotNull("doc_id"), ValueRange("doc_id", 0, 10**9)],
        quarantine_path=qtn,
    )
    q.awaitTermination()
    got = {(r.generation, r.doc_id) for r in spark.read.parquet(out).collect()}
    # 21 was in the quarantined batch, so 30 (same text) is the FIRST
    # admitted copy and survives as generation 3
    assert got == {(1, 10), (3, 30)}
    qr = spark.read.parquet(qtn).collect()
    assert {(r.generation, r.doc_id) for r in qr} == {(2, None), (2, 21)}
    # both expectations flag the NULL (ValueRange treats NULL as a
    # violation by design), joined sorted — each tag carries the
    # measured metric (one NULL row -> violation count 1) so the
    # quarantine is diagnosable without a re-run (VERDICT r10 item 8)
    assert all(
        r.quarantine_reason
        == "not_null(doc_id)=1;value_range(doc_id,0,1000000000)=1"
        for r in qr
    )
    spark.sql("DROP TABLE IF EXISTS mh_vq_idx")


def test_validated_ingest_requires_quarantine_path(spark, tmp_path):
    """Expectations without a quarantine path would silently destroy
    failing batches — refused up front."""
    import pytest as _pytest

    from hadoop_app_spark.operators.expectations import NotNull
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    with _pytest.raises(ValueError, match="quarantine_path"):
        dedup_ingest_stream(
            spark, str(tmp_path / "src"), "doc_id long, text string",
            "whatever_idx", "text", "doc_id",
            str(tmp_path / "out"), str(tmp_path / "ck"),
            expectations=[NotNull("doc_id")],
        )


def test_ingest_rejects_other_hash_index_at_start(spark, tmp_path):
    """An index recording another token hash family (here xxhash64)
    has incompatible buckets. The dedup_ingest_stream call itself must
    raise, before writeStream.start(): no query is left running and
    nothing reaches the output."""
    import os

    import pytest as _pytest

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    schema = "doc_id long, text string"
    seed = spark.createDataFrame([(0, "seed text on page layouts and slotted arrays")], schema)
    build_minhash_index(seed, "text", "doc_id", "mh_fam_idx")
    spark.sql("ALTER TABLE mh_fam_idx SET TBLPROPERTIES ('dedup.hash_fn'='xxhash64')")
    src, out, ck = (str(tmp_path / x) for x in ("src", "out", "ck"))
    spark.createDataFrame(
        [(1, "a novel document about adaptive radix trees and tries")], schema
    ).coalesce(1).write.parquet(src)
    before = {q.id for q in spark.streams.active}
    try:
        with _pytest.raises(ValueError, match="different signature parameters"):
            dedup_ingest_stream(spark, src, schema, "mh_fam_idx", "text", "doc_id", out, ck)
    finally:
        started = [q for q in spark.streams.active if q.id not in before]
        for q in started:
            q.stop()
        spark.sql("DROP TABLE IF EXISTS mh_fam_idx")
    assert started == []
    assert not os.path.exists(out)


def test_ingest_sidecar_gc_survives_fresh_checkpoint(spark, tmp_path):
    """Dropped-sidecar GC must list by prefix, not assume contiguous
    epoch ids: a restart with a FRESH checkpoint resets epoch_id to 0,
    so sidecars left by a prior incarnation (higher epochs) have to be
    collected by the new run, not orphaned forever."""
    import os

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    seed = docs([(0, "seed text about write ahead logging and checkpoints")])
    spark.sql("DROP TABLE IF EXISTS mh_gc_idx")
    build_minhash_index(seed, "text", "doc_id", "mh_gc_idx")
    # stale sidecars from a hypothetical prior incarnation (epochs 7/9)
    for e in (7, 9):
        docs([(99, "x")]).select("doc_id").write.mode("overwrite").saveAsTable(
            f"mh_gc_idx_dropped_e{e}"
        )

    src, out, ck = (str(tmp_path / x) for x in ("src", "out", "ck"))
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    docs([(10, "a brand new document on cost based optimization")]).coalesce(
        1
    ).write.parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "g1.parquet"))

    q = dedup_ingest_stream(
        spark, src, "doc_id long, text string", "mh_gc_idx", "text", "doc_id",
        out, ck,
    )
    q.awaitTermination()
    left = {
        r.tableName
        for r in spark.sql("SHOW TABLES LIKE 'mh_gc_idx_dropped_e*'").collect()
    }
    # the new incarnation runs at epoch 0: both prior-incarnation
    # sidecars are outside {epoch, epoch-1} and must be gone
    assert left == {"mh_gc_idx_dropped_e0"}
    for t in ("mh_gc_idx", "mh_gc_idx_dropped_e0"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_ingest_merge_target_replay_is_idempotent(spark, tmp_path):
    """Jar-free contract test for the exactly-once survivor sink: with
    a merge_target, survivors flow through apply(batch, epoch) carrying
    an upsert op — so a crash-replayed micro-batch (simulated by a
    fresh checkpoint over the same file, index in audit mode) rewrites
    the same keys instead of appending duplicates. The fake target
    implements the cdc.py MERGE contract (key-fold) without jars."""
    import os

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    spark.sql("DROP TABLE IF EXISTS mh_mt_idx")
    seed = docs([(0, "seed text about columnar encodings and run lengths")])
    build_minhash_index(seed, "text", "doc_id", "mh_mt_idx")

    class FoldTarget:
        """cdc.py apply(batch, batch_id) contract: keyed upsert fold."""

        def __init__(self):
            self.state = {}
            self.applies = 0

        def apply(self, batch, batch_id):
            self.applies += 1
            for r in batch.collect():
                assert r.op == "U"  # survivors arrive as upserts
                self.state[r.doc_id] = (r.generation, r.text)

    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    docs(
        [(10, "novel document on vectorized filters and selection masks"),
         (11, "novel document on vectorized filters and selection masks"),  # intra dup of 10
         (12, "second novel document about adaptive join reordering")]
    ).coalesce(1).write.parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "g1.parquet"))

    target = FoldTarget()
    for attempt, ck in enumerate(("ck_a", "ck_b")):  # ck_b = crash replay
        q = dedup_ingest_stream(
            spark, src, "doc_id long, text string", "mh_mt_idx", "text",
            "doc_id", out, str(tmp_path / ck),
            append_index=False,  # audit mode: replay sees the same index
            merge_target=target,
        )
        q.awaitTermination()
    assert target.applies == 2  # the batch really ran twice
    # zero duplicate survivors: same keys folded, not appended
    assert sorted(target.state) == [10, 12]
    # survivors never touched the parquet out_path
    assert not os.path.exists(out)
    spark.sql("DROP TABLE IF EXISTS mh_mt_idx")


def test_ingest_delta_merge_target_exactly_once(spark, tmp_path):
    """Real Delta MERGE survivor sink — runs only where delta-spark is
    installed (feature-detected; skipped in-container, the established
    CDC pattern): a fresh-checkpoint replay of the same file leaves
    the Delta table with zero duplicate survivor rows."""
    import os

    import pytest

    from hadoop_app_spark.operators.dedup import build_minhash_index
    from hadoop_app_spark.streaming.cdc import DeltaMergeTarget, table_format_available
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    if not table_format_available("delta"):
        pytest.skip("delta-spark not installed")

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    spark.sql("DROP TABLE IF EXISTS mh_dmt_idx")
    seed = docs([(0, "seed text about bloom filters and bitmap indexes")])
    build_minhash_index(seed, "text", "doc_id", "mh_dmt_idx")

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    docs([(10, "fresh document for the exactly once delta check")]).coalesce(
        1
    ).write.parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "g1.parquet"))

    tbl = str(tmp_path / "delta_surv")
    target = DeltaMergeTarget(tbl, ["doc_id"], op_col="op")
    for ck in ("ck_a", "ck_b"):  # second run = crash replay
        q = dedup_ingest_stream(
            spark, src, "doc_id long, text string", "mh_dmt_idx", "text",
            "doc_id", str(tmp_path / "unused_out"), str(tmp_path / ck),
            append_index=False, merge_target=target,
        )
        q.awaitTermination()
    rows = spark.read.format("delta").load(tbl).collect()
    assert [r.doc_id for r in rows] == [10]  # exactly once, no dup
    spark.sql("DROP TABLE IF EXISTS mh_dmt_idx")


def test_rollup_ntz_bucket_labels_are_tz_independent(spark, tmp_path):
    """TIMESTAMP_NTZ events: bucket_start formats the naive value
    DIRECTLY — the same stream processed under two session timezones
    must produce identical merge keys, or a resumed stream would
    split its own buckets (the hazard the UTC path fixes for
    instants would be re-created for naive values by routing them
    through convert_timezone)."""
    import datetime as dt
    import os

    from hadoop_app_spark.streaming.rollup import current_rollup, incremental_rollup

    rows = [
        (i, dt.datetime(2024, 3, 1, 0, 9 + i), "view", 1.0) for i in range(5)
    ]
    schema = "event_id long, ts timestamp_ntz, event_type string, value double"
    labels = {}
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        for tz in ("UTC", "America/New_York"):
            spark.conf.set("spark.sql.session.timeZone", tz)
            base = tmp_path / tz.replace("/", "_")
            src = str(base / "src")
            os.makedirs(src)
            spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
                str(base / "stage")
            )
            part = next(
                f for f in os.listdir(str(base / "stage")) if f.endswith(".parquet")
            )
            os.rename(str(base / "stage" / part), os.path.join(src, "g1.parquet"))
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
            )
            q = incremental_rollup(
                stream, str(base / "r"), checkpoint_dir=str(base / "ck")
            )
            q.awaitTermination()
            labels[tz] = sorted(
                r["bucket_start"] for r in current_rollup(spark, str(base / "r")).collect()
            )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert labels["UTC"] == labels["America/New_York"] == ["2024-03-01 00:00"]


def test_snapshot_time_travel(spark, tmp_path):
    """snapshot_at reconstructs EVERY committed version without
    historical manifests: version 0 is the seed, version 1 sees the
    first batch's upserts but not the second's deletes, the current
    version equals current_snapshot, and asking past the committed
    head raises."""
    import json as _json

    import pytest as _pytest

    from hadoop_app_spark.streaming.cdc import (
        apply_changes_stream,
        current_snapshot,
        snapshot_at,
    )

    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)], "k long, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    (cdir / "b1.jsonl").write_text(
        "\n".join(
            _json.dumps(c)
            for c in [
                {"k": 2, "v": 21.0, "op": "U", "seq": 1},
                {"k": 4, "v": 40.0, "op": "U", "seq": 2},
            ]
        )
    )
    (cdir / "b2.jsonl").write_text(
        "\n".join(
            _json.dumps(c)
            for c in [
                {"k": 1, "v": 0.0, "op": "D", "seq": 3},
                {"k": 5, "v": 50.0, "op": "U", "seq": 4},
            ]
        )
    )
    stream = (
        spark.readStream.schema("k long, v double, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    q = apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()

    def rows(df):
        return {r.k: r.v for r in df.collect()}

    assert rows(snapshot_at(spark, root, 0)) == {1: 10.0, 2: 20.0, 3: 30.0}
    assert rows(snapshot_at(spark, root, 1)) == {1: 10.0, 2: 21.0, 3: 30.0, 4: 40.0}
    assert rows(snapshot_at(spark, root, 2)) == {2: 21.0, 3: 30.0, 4: 40.0, 5: 50.0}
    assert rows(snapshot_at(spark, root, 2)) == rows(current_snapshot(spark, root))
    with _pytest.raises(ValueError, match="not committed"):
        snapshot_at(spark, root, 3)


def test_snapshot_at_probe_free_with_exact_manifest(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 6: commits record partition EMPTINESS (format-3
    manifest), so a version read costs ZERO per-partition existence
    probes — one pointer/sidecar read, no O(partitions) metadata calls.
    20+ committed versions, including full-group deletes; every version
    reconstructs correctly and snapshot_at never calls hfs.exists on a
    partition dir."""
    import json as _json
    import os as _os

    from hadoop_app_spark.sources import fs as hfs
    from hadoop_app_spark.streaming.cdc import apply_changes_stream, snapshot_at

    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "k long, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    expect = {i: float(i) for i in range(8)}
    history = {0: dict(expect)}
    for g in range(1, 22):
        if g % 5 == 0:
            # delete a key (its partition may go empty at this version)
            k = g % 8
            change = {"k": k, "v": 0.0, "op": "D", "seq": g}
            expect.pop(k, None)
        else:
            change = {"k": g % 8, "v": 100.0 + g, "op": "U", "seq": g}
            expect[g % 8] = 100.0 + g
        (cdir / f"b{g:03d}.jsonl").write_text(_json.dumps(change))
        _os.utime(cdir / f"b{g:03d}.jsonl", (1_000_000_000 + g,) * 2)
        history[g] = dict(expect)
    stream = (
        spark.readStream.schema("k long, v double, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ckpt"), n_partitions=4,
    ).awaitTermination()

    probes = []
    real_exists = hfs.exists

    def counting_exists(s, path):
        probes.append(path)
        return real_exists(s, path)

    monkeypatch.setattr(hfs, "exists", counting_exists)
    for v in (1, 5, 10, 20, 21):
        got = {r.k: r.v for r in snapshot_at(spark, root, v).collect()}
        assert got == history[v], f"version {v}"
    # pointer + per-version sidecar existence only — NO __snap_p probes
    assert not [p for p in probes if "__snap_p=" in p], probes


def test_expire_snapshots_reachability_and_loud_expired_reads(spark, tmp_path):
    """Retention for the versioned snapshot (the Iceberg
    expire_snapshots / Delta VACUUM-horizon analog): kept versions read
    IDENTICALLY after expiry — including partitions untouched since an
    EXPIRED version, whose old dirs must survive because kept manifests
    still reference them — while an expired version's read raises
    loudly and its unreachable dirs are reclaimed."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from hadoop_app_spark.sources import fs as hfs
    from hadoop_app_spark.streaming.cdc import (
        apply_changes_stream,
        current_snapshot,
        expire_snapshots,
        snapshot_at,
    )

    root = str(tmp_path / "snap")
    # key 0 is written at v1 (migration) and NEVER touched again — its
    # v1 partition dir is the reachability crux
    seed = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "k long, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    for g in range(1, 9):
        change = {"k": 1 + (g % 3), "v": 100.0 + g, "op": "U", "seq": g}
        (cdir / f"b{g:03d}.jsonl").write_text(_json.dumps(change))
        _os.utime(cdir / f"b{g:03d}.jsonl", (1_000_000_000 + g,) * 2)
    stream = (
        spark.readStream.schema("k long, v double, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ck"), n_partitions=4,
    ).awaitTermination()

    def rows(df):
        return {r.k: r.v for r in df.collect()}

    before = {v: rows(snapshot_at(spark, root, v)) for v in (6, 7, 8)}
    assert before[8][0] == 0.0  # key 0 untouched since the migration

    res = expire_snapshots(spark, root, keep_last=3)
    assert res["kept"] == [6, 7, 8] and res["expired"] == [1, 2, 3, 4, 5]
    assert res["manifests_deleted"] == 5 and res["dirs_deleted"] > 0

    # kept versions identical, including the v1-resident partitions
    for v in (6, 7, 8):
        assert rows(snapshot_at(spark, root, v)) == before[v], f"v{v}"
    assert rows(current_snapshot(spark, root)) == before[8]
    # the untouched partition's v1 dir survived (reachable from kept)
    assert hfs.exists(spark, root + "/v1")
    # expired version: loud, names retention
    with _pytest.raises(ValueError, match="expired|predates"):
        snapshot_at(spark, root, 3)
    # idempotent: a second expiry deletes nothing further
    res2 = expire_snapshots(spark, root, keep_last=3)
    assert res2["dirs_deleted"] == 0 and res2["manifests_deleted"] == 0


def test_expire_snapshots_age_horizon_mixed_cadence(spark, tmp_path):
    """VERDICT r11 item 7: the age horizon (older_than_ms) decides by
    COMMIT TIME, not version count — the rollup layout commits one
    version per micro-batch, so under a cadence change a version-count
    horizon means wildly different wall-clock retention while "N days"
    stays "N days". keep_last demotes to the retain-at-least floor, so
    a quiet table never expires to nothing; the reachability rule is
    unchanged (untouched partitions survive via kept manifests)."""
    import json as _json
    import os as _os

    import pytest as _pytest

    from hadoop_app_spark.sources import fs as hfs
    from hadoop_app_spark.streaming.cdc import (
        apply_changes_stream,
        expire_snapshots,
        snapshot_at,
    )

    root = str(tmp_path / "snap")
    seed = spark.createDataFrame(
        [(i, float(i)) for i in range(8)], "k long, v double"
    )
    seed.write.parquet(root + "/v0")
    cdir = tmp_path / "changes"
    cdir.mkdir()
    for g in range(1, 9):
        change = {"k": 1 + (g % 3), "v": 100.0 + g, "op": "U", "seq": g}
        (cdir / f"b{g:03d}.jsonl").write_text(_json.dumps(change))
        _os.utime(cdir / f"b{g:03d}.jsonl", (1_000_000_000 + g,) * 2)
    stream = (
        spark.readStream.schema("k long, v double, op string, seq long")
        .option("maxFilesPerTrigger", 1)
        .json(str(cdir))
    )
    apply_changes_stream(
        stream, root, ["k"], op_col="op", seq_col="seq",
        checkpoint_dir=str(tmp_path / "ck"), n_partitions=4,
    ).awaitTermination()

    # mixed cadence, stamped onto the commit sidecars: v1-v3 landed in
    # a burst DAYS ago (a fast trigger), v4-v8 hourly today
    day = 86_400
    old_s, recent_s = 1_700_000_000, 1_700_000_000 + 10 * day
    for v in range(1, 4):
        _os.utime(f"{root}/_MANIFEST_v{v}", (old_s + v,) * 2)
    for v in range(4, 9):
        _os.utime(f"{root}/_MANIFEST_v{v}", (recent_s + 3600 * v,) * 2)

    def rows(df):
        return {r.k: r.v for r in df.collect()}

    before = {v: rows(snapshot_at(spark, root, v)) for v in range(4, 9)}
    # cutoff = 7 days before "now": the burst expires regardless of
    # count; ALL of today's five versions survive though keep_last=2
    cutoff_ms = (recent_s - 7 * day) * 1000
    res = expire_snapshots(spark, root, keep_last=2, older_than_ms=cutoff_ms)
    assert res["kept"] == [4, 5, 6, 7, 8]
    assert res["expired"] == [1, 2, 3]
    for v in range(4, 9):
        assert rows(snapshot_at(spark, root, v)) == before[v], f"v{v}"
    with _pytest.raises(ValueError, match="expired|predates"):
        snapshot_at(spark, root, 2)
    # a cutoff in the future would expire everything — the keep_last
    # floor retains the newest two (the retain-at-least contract)
    res2 = expire_snapshots(
        spark, root, keep_last=2, older_than_ms=(recent_s + 30 * day) * 1000
    )
    assert res2["kept"] == [7, 8]
    assert rows(snapshot_at(spark, root, 8)) == before[8]
    # untouched-since-v1 partition still reachable from kept manifests
    assert hfs.exists(spark, root + "/v1")


def test_expire_snapshots_serves_the_rollup_layout(spark, tmp_path):
    """The rollup's versioned layout shares the snapshot manifest
    family, so the SAME expire_snapshots gives it retention: a
    long-running incremental rollup accumulates one version dir per
    micro-batch forever; expiry reclaims the unreachable ones while
    current_rollup reads identically."""
    import datetime as dt

    from hadoop_app_spark.streaming.cdc import expire_snapshots
    from hadoop_app_spark.streaming.rollup import current_rollup, incremental_rollup

    base = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (i, base + dt.timedelta(minutes=11 * i), "click" if i % 2 else "view",
         float(i))
        for i in range(30)
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, event_type string, value double"
    )
    cdir = tmp_path / "ev"
    for b in range(6):  # six micro-batches -> six committed versions
        df.where(f"event_id div 5 = {b}").coalesce(1).write.parquet(
            str(cdir / f"p{b}")
        )
    stream = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, value double"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(cdir) + "/*")
    )
    root = str(tmp_path / "rollup")
    incremental_rollup(
        stream, root, checkpoint_dir=str(tmp_path / "ckpt"), n_partitions=4
    ).awaitTermination()

    before = {
        (r.bucket_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in current_rollup(spark, root).collect()
    }
    res = expire_snapshots(spark, root, keep_last=2)
    assert len(res["expired"]) >= 3 and res["manifests_deleted"] >= 3
    after = {
        (r.bucket_start, r.event_type): (r.n, round(r.sum_value, 6))
        for r in current_rollup(spark, root).collect()
    }
    assert after == before
