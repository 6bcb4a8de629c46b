"""Registered Python UDTF surface (functions/udtf.py): Mapper.map
parity — 0..N fan-out, SQL lateral and direct-call forms, edge cases."""

from __future__ import annotations

from hadoop_app_spark.functions.udtf import register_udtfs


def test_chunk_spans_fanout_and_edges(spark):
    register_udtfs(spark)
    rows = [(1, "abcdefghij"), (2, ""), (3, None), (4, "xyz")]
    spark.createDataFrame(rows, "id int, text string").createOrReplaceTempView(
        "udtf_t2"
    )
    got = spark.sql(
        "SELECT id, t.chunk_id, t.start, t.chunk "
        "FROM udtf_t2, LATERAL chunk_spans(text, 4, 1) t "
        "ORDER BY id, chunk_id"
    ).collect()
    # stride = 4 - 1 = 3; short tail kept; empty/null emit nothing
    assert [(r.id, r.chunk_id, r.start, r.chunk) for r in got] == [
        (1, 0, 0, "abcd"),
        (1, 1, 3, "defg"),
        (1, 2, 6, "ghij"),
        (1, 3, 9, "j"),
        (4, 0, 0, "xyz"),
    ]


def test_chunk_spans_degenerate_overlap(spark):
    # overlap >= size must still advance (stride floor of 1)
    register_udtfs(spark)
    got = spark.sql(
        "SELECT * FROM chunk_spans('abc', 2, 5) ORDER BY chunk_id"
    ).collect()
    assert [(r.chunk_id, r.start, r.chunk) for r in got] == [
        (0, 0, "ab"),
        (1, 1, "bc"),
        (2, 2, "c"),
    ]
