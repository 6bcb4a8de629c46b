"""Winnowing fingerprints (operators/winnow) vs a pure-Python
reference implementation of Schleimer et al.'s robust winnowing,
plus the algorithm's coverage guarantee and the overlap-stage
fanout/df-cap semantics.
"""

from __future__ import annotations

import re

import pytest

from hadoop_app_spark.operators.winnow import (
    winnow_fingerprints,
    winnow_neardup_pairs,
    winnow_overlap,
)

MOD = 1_000_000_007


def py_winnow(text: str, k: int = 8, w: int = 4) -> set[tuple[int, int]]:
    """Reference robust winnowing: (1-based pos, hash) pairs."""
    s = re.sub(r"[^a-z0-9]", "", text.lower())
    n = len(s) - k + 1
    if n < 1:
        return set()
    hs = []
    for i in range(n):
        acc = 0
        for ch in s[i : i + k]:
            acc = (acc * 31 + ord(ch)) % MOD
        hs.append(acc)
    sel = set()
    for j in range(max(n - w + 1, 1)):
        sl = hs[j : j + w]
        m = min(sl)
        r = len(sl) - 1 - sl[::-1].index(m)
        sel.add((j + r + 1, sl[r]))
    return sel


DOCS = [
    (1, "The quick brown fox jumps over the lazy dog near the river bank today."),
    (2, "A completely different document about engine performance tuning at scale."),
    (3, "Unrelated text; but it contains the quick brown fox jumps over the lazy dog too."),
    (4, "short"),
    (5, ""),
    (6, "aaaaaaaaaaaaaaaaaaaaaa"),
    (7, "Punct-and-CASE    edits:, The QUICK brown fox!! jumps over the lazy dog near the river bank today?"),
]


def test_fingerprints_match_python_reference(spark):
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {(r.doc_id, r.pos, r.fp) for r in winnow_fingerprints(df).collect()}
    want = {(i, p, h) for i, t in DOCS for (p, h) in py_winnow(t)}
    assert got == want


def test_normalization_invariance(spark):
    # doc 7 is doc 1 with case/punctuation/whitespace edits prepended by
    # extra words — every fingerprint of the shared normalized suffix
    # must be found in both (the MOSS robustness property)
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    fps = winnow_fingerprints(df)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    shared = by_doc[1] & by_doc[7]
    # the common run "thequickbrownfox...banktoday" is >> w+k-1 chars
    assert len(shared) >= 5


def test_coverage_guarantee(spark):
    # winnowing guarantee: any shared normalized run of >= w + k - 1
    # chars yields at least one shared fingerprint
    k, w = 8, 4
    run = "zxqwvutsrqponml"  # 15 normalized chars >= w + k - 1 = 11
    docs = [(1, f"prefix one {run} suffix alpha"), (2, f"other text {run} tail beta")]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    pairs = winnow_neardup_pairs(df, k=k, w=w, max_df=10, min_shared=1).collect()
    assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]


def test_df_cap_drops_boilerplate(spark):
    # a fingerprint shared by ALL docs (common license header) must not
    # create pairs when max_df < doc count
    header = "licensed under the apache license version two point zero"
    bodies = [
        "crimson harbors drift beneath wandering tides",
        "quartz pylons hum across the frozen ridge",
        "jovial marmots burrow under granite slopes",
        "silent zeppelins cross the amber meridian",
        "braided rivers carve through basalt canyons",
    ]
    docs = [(i + 1, f"{header} {b}") for i, b in enumerate(bodies)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    fps = winnow_fingerprints(df, k=8, w=4)
    # without the cap the header makes all 5 docs one clique (10 pairs)
    raw = winnow_overlap(fps, max_df=5, min_shared=1).collect()
    assert len(raw) == 10
    # with the cap at 4, consistently-selected header fingerprints
    # (df=5) are dropped and the clique collapses; a residual pair via a
    # header/body-BOUNDARY fingerprint selected in only 2 docs is
    # legitimate winnowing behavior, but it can only carry 1-2 shared
    # fingerprints — never the clique
    capped = winnow_overlap(fps, max_df=4, min_shared=1).collect()
    assert len(capped) < 10
    assert all(p.n_shared <= 2 for p in capped)


def test_vectorized_twin_bit_identical(spark):
    # the numpy kernel computes the SAME int64 poly fold as the
    # pure-Python reference — (id, pos, fp) sets must be exactly equal,
    # not statistically similar, at non-default k/w too
    df = spark.createDataFrame(DOCS, ["doc_id", "text"])
    got = {(r.doc_id, r.pos, r.fp) for r in winnow_fingerprints(df, k=5, w=3).collect()}
    want = {(i, p, h) for i, t in DOCS for (p, h) in py_winnow(t, k=5, w=3)}
    assert got == want
    # and for a k/w combo where windows degenerate (h <= w): one window, one pick
    small = spark.createDataFrame([(1, "abcdefghij")], ["doc_id", "text"])
    got2 = {(r.pos, r.fp) for r in winnow_fingerprints(small, k=3, w=20).collect()}
    assert got2 == py_winnow("abcdefghij", k=3, w=20) and len(got2) == 1


def test_short_and_empty_docs_silent(spark):
    df = spark.createDataFrame([(1, "ab"), (2, ""), (3, None)], ["doc_id", "text"])
    assert winnow_fingerprints(df, k=8, w=4).collect() == []


def test_bad_params_raise(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        winnow_fingerprints(df, k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(df, w=0)
