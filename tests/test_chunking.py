"""Chunking / FIM / normalized-dedup / source-overlap operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_app_spark.operators.chunking import doc_chunks, fim_splits

SF = "/root/testdata/sf0.001"


def test_chunk_grid_covers_every_token(spark):
    text = " ".join(f"t{i}" for i in range(100))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = doc_chunks(df, chunk_size=32, overlap=8).collect()
    # stride 24: starts 0,24,48,72,96 -> 5 chunks; final chunk short
    assert [r.start_tok for r in rows] == [0, 24, 48, 72, 96]
    assert [r.n_tok for r in rows] == [32, 32, 32, 28, 4]
    covered = set()
    for r in rows:
        toks = r.chunk_text.split()
        assert len(toks) == r.n_tok
        assert toks[0] == f"t{r.start_tok}"
        covered.update(toks)
    assert len(covered) == 100


def test_chunk_empty_and_short_docs(spark):
    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "one two")], "doc_id long, text string"
    )
    rows = doc_chunks(df, chunk_size=32, overlap=8).collect()
    # empty docs drop; a short doc yields exactly one short chunk
    assert [(r.doc_id, r.chunk_id, r.n_tok) for r in rows] == [(3, 0, 2)]


def test_chunk_overlap_must_be_smaller(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        doc_chunks(df, chunk_size=8, overlap=8)


def test_fim_reassembles_and_is_deterministic(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = fim_splits(docs, min_len=90)
    joined = out.join(docs, "doc_id").where(
        F.concat("prefix", "middle", "suffix") != F.col("text")
    )
    assert joined.count() == 0  # splits always reassemble to the doc
    # middle third-ish: no empty pieces on real docs
    bad = out.where(
        (F.length("prefix") == 0) | (F.length("middle") == 0) | (F.length("suffix") == 0)
    )
    assert bad.count() == 0
    # deterministic across runs
    a = {r.doc_id: (r.prefix, r.spm) for r in out.collect()}
    b = {r.doc_id: (r.prefix, r.spm) for r in fim_splits(docs, min_len=90).collect()}
    assert a == b


def test_normalize_for_dedup_variants_collapse(spark):
    from hadoop_app_spark.functions.text import normalize_for_dedup

    rows = [
        (1, "Price: $1,299! Today"),
        (2, "price 1299 today"),
        (3, "  PRICE   0000   TODAY "),
        (4, "café corner"),
        (5, "cafe corner"),
        (6, "completely different"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r.n for r in df.select("doc_id", normalize_for_dedup("text").alias("n")).collect()}
    assert out[1] == out[2] == out[3] == "price 0000 today"
    assert out[4] == out[5] == "cafe corner"
    assert out[6] != out[1]


def test_source_overlap_counts_distinct_content_once(spark):
    from hadoop_app_spark.operators.corpus import source_overlap_matrix

    rows = [
        ("a", "shared one"), ("a", "shared one"),  # duplicate copy in a
        ("b", "shared one"),
        ("a", "shared two"), ("c", "shared two"),
        ("a", "only a"), ("b", "only b"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in source_overlap_matrix(df, "text", "source").collect()
    }
    # the duplicate copy inside source a must NOT double-count
    assert got == {("a", "b"): 1, ("a", "c"): 1}


def test_chunks_preserve_case(spark):
    # review finding r5: tokenize() lowercases; chunking must emit RAW
    # tokens (and match its oracle, which keys on raw text)
    df = spark.createDataFrame([(1, "Hello World This Is Mixed")], "doc_id long, text string")
    rows = doc_chunks(df, chunk_size=4, overlap=1).collect()
    assert rows[0].chunk_text == "Hello World This Is"


def test_source_overlap_query_oracle_parity_mixed_case(spark):
    # the gated-surface contract on a corpus the testdata never covers:
    # mixed-case text must produce identical Spark and oracle results
    import duckdb

    from hadoop_app_spark.queries import REGISTRY

    rows = [
        (1, "The Quick Brown Fox jumps high today", "a"),
        (2, "The Quick Brown Fox jumps high today", "b"),
        (3, "the quick brown fox jumps high today", "c"),  # case differs: NOT shared
        (4, "something else entirely different here now", "a"),
    ]
    import tempfile, os
    d = tempfile.mkdtemp()
    spark.createDataFrame(rows, "doc_id long, text string, source string").write.parquet(
        os.path.join(d, "documents.parquet")
    )
    got = {
        (r.source_a, r.source_b): r.n_shared
        for r in REGISTRY["source_overlap"].fn(spark, d).collect()
    }
    assert got == {("a", "b"): 1}
    con = duckdb.connect()
    # Spark writes a part-file directory; DuckDB needs the glob
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{d}/documents.parquet/*.parquet')"
    )
    want = {
        (a, b): n for a, b, n in con.execute(REGISTRY["source_overlap"].oracle).fetchall()
    }
    assert got == want


def test_corpus_diff_classifies_churn(spark):
    from hadoop_app_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed now"), (4, "brand new")], "doc_id long, text string"
    )
    got = {r.doc_id: r.change for r in corpus_diff(old, new).collect()}
    assert got == {2: "changed", 3: "removed", 4: "added"}


def test_corpus_diff_null_text_presence(spark):
    # review finding r5b: fp nullability must not stand in for row
    # absence — NULL-text docs classify by PRESENCE, and NULL==NULL
    # content is unchanged
    from hadoop_app_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "has text")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (3, None), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.change for r in corpus_diff(old, new).collect()}
    # 1: NULL->NULL unchanged (absent); 2: removed; 3: text->NULL changed;
    # 4: added
    assert got == {2: "removed", 3: "changed", 4: "added"}
