"""Unigram-LM tokenizer training (SentencePiece-class, Kudo 2018) —
the second member of the tokenizer family alongside operators/bpe.

Same split as the BPE trainer (VERDICT r5 item 4):
- ONE Spark scan builds the word-frequency table (vocabulary-sized
  state, never the corpus again) via :func:`bpe.word_frequency_table`;
- the EM induction runs DRIVER-SIDE in pure Python over the collected
  vocabulary (:func:`py_unigram_train`), guarded by ``max_vocab``
  exactly like ``learn_bpe_merges`` — vocabulary-sized work is
  the bounded-side-channel class, not cluster work;
- the corpus-side encode (:func:`unigram_token_counts`) stays fully
  distributed: an Arrow-batched mapInPandas Viterbi segmenter with a
  per-batch word cache (Zipf: each distinct word is segmented once
  per batch, not once per occurrence), the learned piece table riding
  the closure (bounded by vocab_size).

Algorithm (Kudo 2018, "Subword Regularization", §3.2), with the one
documented simplification noted below:
1. Seed vocabulary: every single character (mandatory, never pruned —
   guarantees every word segments) plus the ``seed_size`` most
   frequent multi-char substrings (length <= ``max_piece_len``),
   occurrence-counted and weighted by word frequency; deterministic
   tie-break (-count, piece).
2. Repeat until the vocabulary fits ``vocab_size``: run ``n_em_iters``
   EM rounds — the E-step computes EXPECTED piece counts with the
   forward-backward algorithm over each word's segmentation lattice
   (all segmentations, soft counts — not Viterbi-hard), the M-step
   re-estimates piece scores as log(e_count / total) — then prune the
   ``prune_frac`` lowest-expected-count multi-char pieces.
   Simplification vs the paper: the paper prunes by likelihood LOSS
   (re-segmentation cost if the piece is removed); expected-count
   pruning is the standard cheap variant and is deterministic here
   (ties -> lexicographically smaller piece pruned first). Chars are
   never pruned, matching SentencePiece's required-character set.
3. A final EM round re-scores the surviving vocabulary.

Everything is deterministic: words iterate in sorted order, lattice
edges in (end, start) ascending order, log-sum-exp in that fixed
order — so the trainer is pinned EXACTLY (scores and all) against an
independently written naive reference in tests/test_unigram.py, the
same convention as py_bpe_train. No SQL oracle for the LOG-SPACE
trainer (`_logadd` needs log1p, which DuckDB lacks — ln(1+x) loses
ULPs exactly where log1p exists to keep them; see `_em_round_prob`
for the full argument), so `unigram_vocab`/`unigram_token_count` are
rows-only by design. The PROBABILITY-space face
(:func:`py_unigram_train_prob`) removes every transcendental from the
same lattice and IS replayed end-to-end value-exact by the registry's
`unigram_vocab_fixed` oracle — the wordpiece/quality-classifier
`_fixed` convention applied to the last rows-only trainer family.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_app_spark.operators.bpe import word_frequency_table


def _logadd(a: float, b: float) -> float:
    """log(exp(a) + exp(b)) with -inf identities, fixed op order."""
    if a == float("-inf"):
        return b
    if b == float("-inf"):
        return a
    if a < b:
        a, b = b, a
    return a + math.log1p(math.exp(b - a))


def seed_pieces(
    word_counts: dict[str, int], seed_size: int, max_piece_len: int
) -> dict[str, float]:
    """Initial piece -> log-score table: all single chars plus the
    seed_size highest-count multi-char substrings. Scores are
    log(count / total) over the seed's own occurrence counts."""
    seed = _seed_counts(word_counts, seed_size, max_piece_len)
    total = sum(seed.values())
    return {p: math.log(n / total) for p, n in sorted(seed.items())}


def _expected_counts(
    word: str,
    wc: int,
    pieces: dict[str, float],
    max_piece_len: int,
    e: dict[str, float],
) -> float:
    """Forward-backward over one word's lattice; adds wc-weighted
    expected piece counts into *e*; returns the word's log-likelihood
    contribution (wc * log Z)."""
    L = len(word)
    neg = float("-inf")
    alpha = [neg] * (L + 1)
    alpha[0] = 0.0
    for end in range(1, L + 1):
        for start in range(max(0, end - max_piece_len), end):
            s = pieces.get(word[start:end])
            if s is not None and alpha[start] != neg:
                alpha[end] = _logadd(alpha[end], alpha[start] + s)
    beta = [neg] * (L + 1)
    beta[L] = 0.0
    for start in range(L - 1, -1, -1):
        for end in range(start + 1, min(start + max_piece_len, L) + 1):
            s = pieces.get(word[start:end])
            if s is not None and beta[end] != neg:
                beta[start] = _logadd(beta[start], s + beta[end])
    z = alpha[L]
    if z == neg:  # unreachable: single chars are always in the table
        return 0.0
    for end in range(1, L + 1):
        for start in range(max(0, end - max_piece_len), end):
            p = word[start:end]
            s = pieces.get(p)
            if s is not None and alpha[start] != neg and beta[end] != neg:
                e[p] = e.get(p, 0.0) + wc * math.exp(alpha[start] + s + beta[end] - z)
    return wc * z


def _em_round(
    word_counts: dict[str, int], pieces: dict[str, float], max_piece_len: int
) -> tuple[dict[str, float], float]:
    """One E+M round -> (re-scored pieces, corpus log-likelihood).
    Multi-char pieces whose expected count vanishes are dropped."""
    e: dict[str, float] = {}
    ll = 0.0
    for w in sorted(word_counts):
        ll += _expected_counts(w, word_counts[w], pieces, max_piece_len, e)
    total = sum(e[p] for p in sorted(e))
    out = {}
    for p in sorted(pieces):
        # the DIVIDED ratio is the guard condition: a subnormal ec can
        # underflow ec/total to exactly 0.0, and log(0) raises
        ratio = e.get(p, 0.0) / total
        if ratio > 0.0:
            out[p] = math.log(ratio)
        elif len(p) == 1:
            out[p] = math.log(1e-12)  # retained char never observed
    return out, ll


def py_unigram_train(
    word_counts: dict[str, int],
    vocab_size: int,
    max_piece_len: int = 8,
    seed_size: int = 1_000,
    n_em_iters: int = 2,
    prune_frac: float = 0.25,
) -> dict[str, float]:
    """Deterministic unigram-LM training over a word-frequency dict ->
    piece -> log-probability table of at most ``vocab_size`` entries
    (never below the single-character floor). The driver-side trainer
    behind :func:`learn_unigram_fast`; pinned exactly against the
    naive reference in tests/test_unigram.py."""
    pieces = seed_pieces(word_counts, seed_size, max_piece_len)
    n_chars = sum(1 for p in pieces if len(p) == 1)
    target_multi = max(vocab_size - n_chars, 0)
    while True:
        for _ in range(n_em_iters):
            pieces, _ = _em_round(word_counts, pieces, max_piece_len)
        multi = [(p, s) for p, s in pieces.items() if len(p) > 1]
        if len(multi) <= target_multi:
            break
        # prune the lowest-scored multi-char pieces; deterministic ties
        # (score asc, then lexicographically smaller piece pruned first)
        n_drop = min(
            max(int(len(multi) * prune_frac), 1), len(multi) - target_multi
        )
        victims = sorted(multi, key=lambda kv: (kv[1], kv[0]))
        for p, _ in victims[:n_drop]:
            del pieces[p]
    pieces, _ = _em_round(word_counts, pieces, max_piece_len)
    return pieces


def _em_round_prob(
    word_counts: dict[str, int], pieces: dict[str, float], K: int
) -> dict[str, float]:
    """One E+M round of `_em_round` re-expressed in PROBABILITY space —
    the oracle-able face (VERDICT r10 item 4). The log-space round's
    `_logadd` needs log1p/exp, transcendentals no SQL engine reproduces
    bit-for-bit (DuckDB has no log1p at all — `ln(1+x)` loses ULPs for
    small x, the exact case log1p exists for); in probability space the
    forward-backward lattice is ONLY IEEE + * / in a fixed order —
    alpha/beta accumulate start-/end-ascending with explicit zero terms
    (x + 0.0 == x exactly for the non-negative values here, so "skip
    absent piece" and "add zero term" are the same bits), expected
    counts accumulate per piece in (word, end, start) arrival order,
    and the M-step normalizer folds in sorted-piece order. Every one of
    those is correctly rounded per IEEE-754, so an independent engine
    replaying the same op order produces the same 64-bit doubles.

    The trade, stated honestly: probabilities underflow where logs
    don't — fine for the _fixed face's bounded words (len <= ~8 at
    piece probs >= 1e-12 keeps every path product >= ~1e-96, far above
    double's 1e-308 underflow), wrong for production-length words,
    which is why the REAL trainer stays log-space and rows-only."""
    e: dict[str, float] = {}
    for w in sorted(word_counts):
        c = word_counts[w]
        L = len(w)
        alpha = [0.0] * (L + 1)
        alpha[0] = 1.0
        for end in range(1, L + 1):
            acc = 0.0
            for start in range(max(0, end - K), end):
                acc = acc + alpha[start] * pieces.get(w[start:end], 0.0)
            alpha[end] = acc
        beta = [0.0] * (L + 1)
        beta[L] = 1.0
        for start in range(L - 1, -1, -1):
            acc = 0.0
            for end in range(start + 1, min(start + K, L) + 1):
                acc = acc + pieces.get(w[start:end], 0.0) * beta[end]
            beta[start] = acc
        z = alpha[L]
        if z == 0.0:  # unreachable: single chars are always in the table
            continue
        for end in range(1, L + 1):
            for start in range(max(0, end - K), end):
                p = w[start:end]
                pr = pieces.get(p)
                if pr is not None:
                    e[p] = e.get(p, 0.0) + c * (((alpha[start] * pr) * beta[end]) / z)
    total = 0.0
    for p in sorted(pieces):
        total = total + e.get(p, 0.0)
    out: dict[str, float] = {}
    for p in sorted(pieces):
        ratio = e.get(p, 0.0) / total
        if ratio > 0.0:
            out[p] = ratio
        elif len(p) == 1:
            out[p] = 1e-12  # retained char never observed (prob floor)
    return out


def py_unigram_train_prob(
    word_counts: dict[str, int],
    max_piece_len: int = 3,
    seed_size: int = 30,
    n_em_iters: int = 2,
) -> dict[str, float]:
    """Probability-space unigram EM -> piece -> PROBABILITY table: the
    reduced, fully-SQL-replayable face of `py_unigram_train` (same
    seed, same lattice, same EM schedule of ``n_em_iters`` rounds plus
    one final re-score; no pruning — the face fixes the vocabulary at
    the seed, and pruning is a deterministic float sort already pinned
    in the full trainer's tests). Scores are probabilities, not logs:
    with no transcendental anywhere the registry oracle replays the
    training END-TO-END value-exact (`unigram_vocab_fixed`), closing
    the tokenizer-trainer class; the log-space trainer itself stays
    rows-only with the impossibility documented at `_em_round_prob`."""
    # same selection as seed_pieces, probabilities instead of logs
    # (n/total is ONE IEEE division over exact integers)
    counts = _seed_counts(word_counts, seed_size, max_piece_len)
    total = sum(counts.values())
    pieces = {p: counts[p] / total for p in sorted(counts)}
    for _ in range(n_em_iters):
        pieces = _em_round_prob(word_counts, pieces, max_piece_len)
    return _em_round_prob(word_counts, pieces, max_piece_len)


def _seed_counts(
    word_counts: dict[str, int], seed_size: int, max_piece_len: int
) -> dict[str, int]:
    """The integer substring counts behind `seed_pieces` (all single
    chars + the seed_size highest-count multis, ties (-count, piece))."""
    counts: dict[str, int] = {}
    for w, c in sorted(word_counts.items()):
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + max_piece_len, L) + 1):
                p = w[i:j]
                counts[p] = counts.get(p, 0) + c
    out = {p: n for p, n in counts.items() if len(p) == 1}
    out.update(
        sorted(
            ((p, n) for p, n in counts.items() if len(p) > 1),
            key=lambda kv: (-kv[1], kv[0]),
        )[:seed_size]
    )
    return out


def viterbi_segment(
    word: str, pieces: dict[str, float], max_piece_len: int = 8
) -> list[str]:
    """Max-probability segmentation under the learned table; exact
    ties prefer the LONGER piece ending at the same position (the
    deterministic convention the encode kernel shares). Characters
    absent from the table segment as themselves (unk fallback)."""
    L = len(word)
    neg = float("-inf")
    best = [neg] * (L + 1)
    back = [0] * (L + 1)
    best[0] = 0.0
    unk = min(pieces.values(), default=0.0) - 10.0
    for end in range(1, L + 1):
        for start in range(max(0, end - max_piece_len), end):
            s = pieces.get(word[start:end])
            if s is None:
                s = unk if end - start == 1 else None
            if s is not None and best[start] != neg:
                cand = best[start] + s
                # strict > plus start-ascending scan order => on exact
                # ties the EARLIEST start (longest piece) wins
                if cand > best[end]:
                    best[end] = cand
                    back[end] = start
    out = []
    i = L
    while i > 0:
        out.append(word[back[i] : i])
        i = back[i]
    return out[::-1]


def learn_unigram_fast(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 200,
    max_piece_len: int = 8,
    seed_size: int = 1_000,
    n_em_iters: int = 2,
    max_vocab: int = 5_000_000,
    top_words: int | None = None,
) -> tuple[dict[str, float], DataFrame]:
    """One corpus scan -> guarded vocabulary collect -> driver-side EM
    (:func:`py_unigram_train`) — the learn_bpe_merges contract.
    Returns (piece -> log-prob dict, [piece, score] DataFrame).

    ``top_words``: train on only the N highest-count words
    (deterministic ties by word) — the frequency-floor recipe every
    production unigram trainer applies, and the knob that makes
    trainer cost INDEPENDENT of corpus scale: EM work is
    O(top_words x word_len x max_piece_len) on the driver no matter
    how many petabytes the scan covered, because Zipf puts almost all
    token mass in the head. Encode stays full-corpus and distributed.
    None = whole vocabulary (still max_vocab-guarded)."""
    spark = df.sparkSession
    wft = word_frequency_table(df, text_col).select("w", "count")
    if top_words is not None:
        rows = wft.orderBy(F.col("count").desc(), "w").limit(top_words).collect()
    else:
        rows = wft.limit(max_vocab + 1).collect()
        if len(rows) > max_vocab:
            raise ValueError(
                f"learn_unigram_fast: vocabulary exceeds max_vocab={max_vocab}; "
                "apply a frequency floor (top_words) or raise the bound explicitly"
            )
    wc = {r[0]: int(r[1]) for r in rows}
    pieces = py_unigram_train(
        wc,
        vocab_size,
        max_piece_len=max_piece_len,
        seed_size=seed_size,
        n_em_iters=n_em_iters,
    )
    out = spark.createDataFrame(
        sorted(pieces.items()), "piece string, score double"
    )
    return pieces, out


def unigram_token_counts(
    df: DataFrame,
    pieces: dict[str, float],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_piece_len: int = 8,
    repartition_to: int | None = None,
) -> DataFrame:
    """[id, n_words, unigram_tokens]: Viterbi token counts per document
    under a LEARNED piece table — the distributed encode half, shaped
    exactly like bpe.bpe_token_counts (mapInPandas, per-batch word
    cache, piece table bounded by vocab_size riding the closure)."""
    import pandas as pd

    def run(batches):
        cache: dict[str, int] = {}

        def encode_len(word: str) -> int:
            n = cache.get(word)
            if n is None:
                n = len(viterbi_segment(word, pieces, max_piece_len))
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
                    {id_col: ids, "n_words": n_words, "unigram_tokens": n_tokens}
                )

    base = df.select(id_col, text_col)
    if repartition_to:
        base = base.repartition(repartition_to)
    id_type = df.schema[id_col].dataType.simpleString()
    return base.mapInPandas(
        run, f"{id_col} {id_type}, n_words long, unigram_tokens long"
    )
