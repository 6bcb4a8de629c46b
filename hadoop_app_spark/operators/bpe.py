"""BPE merge induction — learn a byte-pair-encoding merge table from
the corpus (the tokenizer-training step of an LLM data pipeline).

Classic Sennrich et al. 2016 BPE over whitespace words: start from
characters (+ an end-of-word marker), repeatedly merge the most
frequent adjacent symbol pair.

:func:`learn_bpe_merges` runs one Spark scan for the word-frequency
table, one bounded vocabulary-sized collect, then driver-side
incremental merge induction (:func:`py_bpe_train`: pair->count deltas
+ lazy-deletion heap). A 32k-64k-merge vocabulary trains in seconds;
the corpus-side encode (:func:`bpe_token_counts`) stays distributed.

Correctness is pinned against a naive pure-Python reference in
tests/test_bpe.py (exact merge-sequence equality) and, end to end, by
the ``bpe_merges`` registry oracle: a DuckDB replay of the whole
training loop that reproduces the merge sequence bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_app_spark.functions.text import tokenize

EOW = "</w>"


def word_frequency_table(df: DataFrame, text_col: str = "text") -> DataFrame:
    """[word, count, symbols]: the vocabulary-sized training state —
    symbols start as characters plus the end-of-word marker."""
    chars = lambda w: F.filter(F.split(w, "", -1), lambda c: c != "")
    return (
        df.select(F.explode(tokenize(F.col(text_col))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("count"))
        .select(
            "w",
            "count",
            F.concat(chars(F.col("w")), F.array(F.lit(EOW))).alias("symbols"),
        )
    )


def bpe_token_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_to: int | None = None,
) -> DataFrame:
    """[id, n_words, bpe_tokens]: tokens per document under a LEARNED
    merge table — the encode/inference half of :func:`learn_bpe_merges`
    (the real answer to "how many tokens is this corpus", vs the
    regex estimate in functions.text.bpe_ish_token_count).

    Applies the merges in learned order to each word (all occurrences
    left-to-right per merge — exactly how training rewrote the vocab,
    so training-corpus words reproduce their trained segmentation).
    mapInPandas kernel with a per-batch word cache: corpora repeat
    words heavily (Zipf), so each distinct word is encoded once per
    batch, not once per occurrence. The merge table is a driver-side
    list (n_merges entries, broadcast with the closure) — bounded by
    construction."""
    import pandas as pd

    def run(batches):
        cache: dict[str, int] = {}

        def encode_len(word: str) -> int:
            n = cache.get(word)
            if n is not None:
                return n
            syms = list(word) + [EOW]
            for a, b in merges:
                if len(syms) < 2:
                    break
                out, i = [], 0
                while i < len(syms):
                    if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[word] = len(syms)
            return cache[word]

        for pdf in batches:
            ids, n_words, n_tokens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").lower().split()
                ids.append(doc_id)
                n_words.append(len(toks))
                n_tokens.append(sum(encode_len(w) for w in toks))
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, "n_words": n_words, "bpe_tokens": n_tokens}
                )

    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(run, f"{id_col} {id_type}, n_words long, bpe_tokens long")


def py_bpe_train(
    word_counts: dict[str, int], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, list[str]]]:
    """Exact Sennrich merge induction over a word-frequency dict —
    the driver-side trainer behind :func:`learn_bpe_merges`.

    Same semantics as the naive textbook loop (max pair count, ties to
    the lexicographically smallest (left, right); per-merge left-to-
    right non-overlapping rewrite) but with the standard fast-trainer
    structure: pair counts update INCREMENTALLY (only words containing
    the merged pair are touched, via a pair -> words index) and the
    argmax comes from a lazy-deletion heap instead of a full scan per
    round. Integer arithmetic is exact, so the merge sequence equals
    the naive reference bit-for-bit (pinned in tests/test_bpe.py)."""
    import heapq

    vocab = {w: list(w) + [EOW] for w in word_counts}
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[str]] = {}
    for w, syms in vocab.items():
        c = word_counts[w]
        for p in zip(syms, syms[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            pair_words.setdefault(p, set()).add(w)
    heap = [(-n, p) for p, n in pair_counts.items()]
    heapq.heapify(heap)
    merges: list[tuple[str, str]] = []
    while len(merges) < n_merges:
        best = None
        while heap:
            n, p = heap[0]
            cur = pair_counts.get(p, 0)
            if cur == 0 or -n != cur:
                heapq.heappop(heap)  # stale entry (count changed since push)
                continue
            best = p
            break
        if best is None:
            break
        merges.append(best)
        a, b = best
        new_sym = a + b
        # only words that contained the pair when it was last indexed;
        # the `hit` check below forgives stale index membership
        for w in list(pair_words.get(best, ())):
            syms = vocab[w]
            out: list[str] = []
            i, hit = 0, False
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(new_sym)
                    i += 2
                    hit = True
                else:
                    out.append(syms[i])
                    i += 1
            if not hit:
                continue
            c = word_counts[w]
            for p in zip(syms, syms[1:]):
                nc = pair_counts[p] - c
                pair_counts[p] = nc
                if nc > 0:
                    # decreased counts need a fresh heap entry too —
                    # the old (larger) ones are now stale and a pair
                    # with only stale entries could never be selected
                    heapq.heappush(heap, (-nc, p))
            for p in zip(out, out[1:]):
                nc = pair_counts.get(p, 0) + c
                pair_counts[p] = nc
                pair_words.setdefault(p, set()).add(w)
                heapq.heappush(heap, (-nc, p))
            vocab[w] = out
        pair_counts.pop(best, None)
    return merges, vocab


def learn_bpe_merges(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    max_vocab: int = 5_000_000,
) -> tuple[list[tuple[str, str]], DataFrame]:
    """Learn ``n_merges`` BPE merges; returns (ordered merge list,
    final [word, count, symbols] vocabulary DataFrame). Stops early
    when no adjacent pair remains (fully merged corpus).

    ONE corpus scan builds the word-frequency table, which is collected
    to the driver ONCE — it is vocabulary-sized, not corpus-sized, the
    same bounded-side-channel class as partition counts or IVF
    centroids — and merge induction runs driver-side in pure Python
    (:func:`py_bpe_train`). A 32k-64k-merge production vocabulary is
    then seconds of driver CPU instead of one Spark job per merge.

    ``max_vocab`` guards the collect (limit max_vocab+1, raise on
    overflow with the cause): 5M distinct words x ~20 bytes is ~100 MB
    of driver heap — a real web corpus's post-normalization vocabulary
    fits; if yours doesn't, cap it upstream (frequency floor) like
    every production tokenizer trainer does."""
    spark = df.sparkSession
    rows = (
        word_frequency_table(df, text_col)
        .select("w", "count")
        .limit(max_vocab + 1)
        .collect()
    )
    if len(rows) > max_vocab:
        raise ValueError(
            f"learn_bpe_merges: vocabulary exceeds max_vocab={max_vocab}; "
            "apply a frequency floor upstream or raise the bound explicitly"
        )
    wc = {r[0]: int(r[1]) for r in rows}
    merges, vocab = py_bpe_train(wc, n_merges)
    out = spark.createDataFrame(
        [(w, wc[w], vocab[w]) for w in wc],
        "w string, count long, symbols array<string>",
    )
    return merges, out
