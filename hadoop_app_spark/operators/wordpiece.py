"""WordPiece tokenizer training — the third member of the tokenizer
family alongside operators/bpe (frequency merges) and
operators/unigram (lattice EM).

Schuster & Nakajima 2012 scoring, as implemented by every public
WordPiece trainer: start from characters (word-internal symbols carry
the ``##`` continuation prefix), repeatedly merge the adjacent pair
maximizing the likelihood ratio

    score(a, b) = count(ab) / (count(a) * count(b))

— BPE picks the most FREQUENT pair; WordPiece normalizes by the parts'
own frequencies, preferring pairs that co-occur more than their parts
predict. The merged symbol is ``a + b-without-##`` (the left symbol's
continuation status survives).

Everything is integer-exact: scores are rationals compared by
cross-multiplication (count(ab1)*count(a2)*count(b2) vs
count(ab2)*count(a1)*count(b1) in arbitrary-precision ints), so the
argmax is deterministic with no float anywhere; ties break
lexicographically on (left, right). The trainer is pinned against an
independently written naive reference in tests/test_wordpiece.py —
same convention as py_bpe_train / py_unigram_train.

Same scale split as the sibling trainers: ONE Spark scan builds the
word-frequency table (bpe.word_frequency_table), the induction runs
driver-side over the vocabulary (bounded, max_vocab-guarded), and the
corpus-side encode (:func:`wordpiece_token_counts`) is a distributed
mapInPandas greedy longest-match-first segmenter with a per-batch
word cache. No SQL oracle — the per-round argmax loop has no SQL twin
(the bpe_merges rows-only convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hadoop_app_spark.operators.bpe import word_frequency_table

CONT = "##"


def _word_symbols(word: str) -> list[str]:
    """'hello' -> ['h', '##e', '##l', '##l', '##o']."""
    return [word[0]] + [CONT + c for c in word[1:]] if word else []


def _merge_symbol(a: str, b: str) -> str:
    return a + (b[len(CONT):] if b.startswith(CONT) else b)


def py_wordpiece_train(
    word_counts: dict[str, int], n_merges: int
) -> tuple[list[tuple[str, str]], dict[str, list[str]], set[str]]:
    """Exact WordPiece merge induction over a word-frequency dict ->
    (ordered merge list, final word -> symbols vocabulary, final piece
    set). Stops early when no adjacent pair remains or every remaining
    pair has a zero-count part (cannot happen while pairs exist, but
    guarded). Deterministic: integer cross-multiplied score argmax,
    ties to the lexicographically smallest (left, right)."""
    vocab = {w: _word_symbols(w) for w in word_counts}
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for w, syms in vocab.items():
            c = word_counts[w]
            for s in syms:
                sym_counts[s] = sym_counts.get(s, 0) + c
            for p in zip(syms, syms[1:]):
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        # argmax of count(ab)/(count(a)*count(b)) by cross-multiplying
        # exact ints; ties -> lexicographically smallest pair
        best, best_num, best_den = None, 0, 1
        for p in sorted(pair_counts):
            num = pair_counts[p]
            den = sym_counts[p[0]] * sym_counts[p[1]]
            if best is None or num * best_den > best_num * den:
                best, best_num, best_den = p, num, den
        merges.append(best)
        a, b = best
        merged = _merge_symbol(a, b)
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == a and syms[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    pieces = {s for syms in vocab.values() for s in syms}
    return merges, vocab, pieces


def learn_wordpiece(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 20,
    max_vocab: int = 5_000_000,
    top_words: int | None = None,
) -> tuple[list[tuple[str, str]], set[str], DataFrame]:
    """One corpus scan -> guarded vocabulary collect -> driver-side
    induction (the learn_bpe_merges contract). Returns
    (ordered merges, final piece set, [word, count, symbols] frame).

    ``top_words``: train on only the N highest-count words
    (deterministic ties by word) — the frequency-floor recipe shared
    with learn_unigram_fast that makes trainer cost independent of
    corpus scale (Zipf: the head carries the token mass). The encode
    stays full-corpus; OOV-tail words segment through the trained
    pieces with per-character fallback."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    wft = word_frequency_table(df, text_col).select("w", "count")
    if top_words is not None:
        rows = wft.orderBy(F.col("count").desc(), "w").limit(top_words).collect()
    else:
        rows = wft.limit(max_vocab + 1).collect()
        if len(rows) > max_vocab:
            raise ValueError(
                f"learn_wordpiece: vocabulary exceeds max_vocab={max_vocab}; "
                "apply a frequency floor (top_words) or raise the bound explicitly"
            )
    wc = {r[0]: int(r[1]) for r in rows}
    merges, vocab, pieces = py_wordpiece_train(wc, n_merges)
    out = spark.createDataFrame(
        [(w, wc[w], vocab[w]) for w in sorted(wc)],
        "w string, count long, symbols array<string>",
    )
    return merges, pieces, out


def greedy_segment(word: str, pieces: set[str], max_piece_len: int = 64) -> list[str]:
    """Greedy longest-match-first WordPiece segmentation (the standard
    inference rule — NOT a replay of the merges): at each position take
    the longest vocab piece (``##``-prefixed when word-internal); a
    position with no match emits that single character as an
    out-of-vocabulary piece and continues (per-character fallback
    keeps counts total instead of nuking the word to one [UNK])."""
    out: list[str] = []
    i, L = 0, len(word)
    while i < L:
        prefix = CONT if i else ""
        end = min(L, i + max_piece_len)
        piece = None
        for j in range(end, i, -1):
            cand = prefix + word[i:j]
            if cand in pieces:
                piece = cand
                break
        if piece is None:
            piece = prefix + word[i]
        out.append(piece)
        i += len(piece) - len(prefix)  # always >= 1: piece covers a char
    return out


def wordpiece_token_counts(
    df: DataFrame,
    pieces: set[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition_to: int | None = None,
) -> DataFrame:
    """[id, n_words, wp_tokens]: greedy WordPiece token counts per
    document under a LEARNED piece set — the distributed encode half,
    shaped exactly like bpe_token_counts / unigram_token_counts
    (mapInPandas, per-batch word cache, piece set riding the closure,
    bounded by the trained vocabulary)."""
    import pandas as pd

    def run(batches):
        cache: dict[str, int] = {}

        def encode_len(word: str) -> int:
            n = cache.get(word)
            if n is None:
                n = len(greedy_segment(word, pieces))
                cache[word] = n
            return n

        for pdf in batches:
            ids, n_words, n_tokens = [], [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                toks = (text or "").lower().split()
                ids.append(doc_id)
                n_words.append(len(toks))
                n_tokens.append(sum(encode_len(w) for w in toks))
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, "n_words": n_words, "wp_tokens": n_tokens}
                )

    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(
        run, f"{id_col} {id_type}, n_words long, wp_tokens long"
    )
