"""BPE merge induction vs a pure-Python reference implementation.

The reference is the textbook Sennrich et al. algorithm on a word-
frequency dict; the trainer must produce the IDENTICAL ordered merge
sequence and final segmentations (same tie-break: max count, then
lexicographic (left, right))."""

from __future__ import annotations

from collections import Counter

from hadoop_app_spark.operators.bpe import EOW, learn_bpe_merges, word_frequency_table

SF = "/root/testdata/sf0.001"


def _python_bpe(word_counts: dict[str, int], n_merges: int):
    vocab = {w: list(w) + [EOW] for w in word_counts}
    merges = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        # max count, ties -> lexicographically smallest (left, right)
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        a, b = best
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


def test_bpe_matches_python_reference_on_synthetic(spark):
    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low newer",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    counts = Counter(w for t in texts for w in t.lower().split())
    ref_merges, ref_vocab = _python_bpe(dict(counts), 12)

    merges, words = learn_bpe_merges(df, "text", n_merges=12)
    assert merges == ref_merges
    got = {r.w: list(r.symbols) for r in words.collect()}
    assert got == {w: s for w, s in ref_vocab.items()}


def test_bpe_matches_python_reference_on_corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wc = {
        r.w: r["count"]
        for r in word_frequency_table(docs, "text").select("w", "count").collect()
    }
    ref_merges, _ = _python_bpe(wc, 8)
    merges, _ = learn_bpe_merges(docs, "text", n_merges=8)
    assert merges == ref_merges


def test_bpe_token_counts_match_trained_segmentation(spark):
    from hadoop_app_spark.operators.bpe import bpe_token_counts

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    merges, vocab = learn_bpe_merges(docs, "text", n_merges=10)
    seg_len = {r.w: len(r.symbols) for r in vocab.collect()}
    wc_per_doc = {
        r.doc_id: (r.text or "").lower().split() for r in docs.select("doc_id", "text").collect()
    }
    got = {r.doc_id: (r.n_words, r.bpe_tokens) for r in bpe_token_counts(docs, merges).collect()}
    for doc_id, words in wc_per_doc.items():
        assert got[doc_id] == (len(words), sum(seg_len[w] for w in words))


def test_bpe_stops_when_fully_merged(spark):
    df = spark.createDataFrame([(0, "ab ab ab")], "id long, text string")
    # "ab</w>" needs 2 merges; beyond that no pairs remain
    merges, words = learn_bpe_merges(df, "text", n_merges=50)
    assert len(merges) == 2
    final = words.collect()
    assert len(final) == 1 and list(final[0].symbols) == ["ab" + EOW]


def test_fast_trainer_matches_reference_synthetic(spark):
    from hadoop_app_spark.operators.bpe import py_bpe_train

    texts = [
        "low lower lowest low low",
        "new newer newest new newer",
        "wide wider widest low newer",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    counts = Counter(w for t in texts for w in t.lower().split())
    ref_merges, ref_vocab = _python_bpe(dict(counts), 12)
    # driver-side incremental trainer == naive reference, exactly
    py_merges, py_vocab = py_bpe_train(dict(counts), 12)
    assert py_merges == ref_merges and py_vocab == ref_vocab
    # end-to-end trainer == reference too
    merges, words = learn_bpe_merges(df, "text", n_merges=12)
    assert merges == ref_merges
    got = {r.w: list(r.symbols) for r in words.collect()}
    assert got == ref_vocab


def test_fast_trainer_deep_merge_sequence(spark):
    # the scale claim: hundreds of merges in one bounded collect + driver
    # loop — verify deep sequences stay exact vs the naive reference
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    wc = {
        r.w: r["count"]
        for r in word_frequency_table(docs, "text").select("w", "count").collect()
    }
    from hadoop_app_spark.operators.bpe import py_bpe_train

    ref_merges, ref_vocab = _python_bpe(dict(wc), 300)
    fast_merges, fast_vocab = py_bpe_train(dict(wc), 300)
    assert fast_merges == ref_merges
    assert fast_vocab == ref_vocab


def test_fast_trainer_vocab_guard(spark):
    import pytest

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError, match="max_vocab"):
        learn_bpe_merges(docs, "text", n_merges=2, max_vocab=5)
