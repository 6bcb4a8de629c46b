"""Text-analysis scalar functions for large-scale corpus pipelines.

Beyond-reference surface (north star): language-ID, quality scoring,
token counting, n-gram shingling, document fingerprinting — all as
built-in Catalyst expressions (no Python UDFs) so they vectorize and
stay inside whole-stage codegen at 100 TB scale.

Each function is deliberately expressible in ANSI SQL too, so the
DuckDB oracle can verify it value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# tiny per-language stopword profiles for the n-gram/stopword heuristic
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "un", "une"),
    "es": ("el", "la", "que", "de", "los", "es", "un", "una"),
}

_FP_MOD = 1_000_000_007

# Every codepoint where Python's str.isspace() is True. Java regex \s is
# ASCII-only, so NBSP / ideographic space / NEL in multilingual web text
# would otherwise glue tokens together. The literal character class below
# parses identically in Java regex (Spark) and RE2 (DuckDB oracles);
# contract pinned by tests/test_property.py::test_token_count_matches_python_split.
UNICODE_WS = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0"
    "\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000"
)
WS_REGEX = "[" + UNICODE_WS + "]+"


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokenize(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (lowercased, empties
    dropped) matching Python ``text.lower().split()``."""
    return F.filter(F.split(F.lower(_c(col)), WS_REGEX, -1), lambda x: x != "")


def tokenize_raw(col: Column | str) -> Column:
    """Case-PRESERVING whitespace tokenization -> array<string>
    (empties dropped), matching Python ``text.split()``. Use where the
    tokens are re-emitted as text (chunking) rather than matched
    (dedup/stats) — :func:`tokenize` lowercases and would silently
    destroy case."""
    return F.filter(F.split(_c(col), WS_REGEX, -1), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    """Whitespace token count == ``len(text.split())`` (Unicode ws)."""
    return F.size(F.filter(F.split(_c(col), WS_REGEX, -1), lambda x: x != ""))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish subword estimate: count word chunks + digit runs +
    punctuation marks separately (a cheap stand-in for a real
    tokenizer's token count; deterministic and SQL-expressible)."""
    s = F.lower(_c(col))
    words = F.size(F.filter(F.split(s, "[^a-z]+", -1), lambda x: x != ""))
    digits = F.size(F.filter(F.split(s, "[^0-9]+", -1), lambda x: x != ""))
    punct = F.length(F.regexp_replace(s, "[^.,;:!?]", ""))
    return (words + digits + punct).alias("bpe_tokens")


def ngrams_from_tokens(toks: Column, n: int) -> Column:
    """Word n-gram shingles from an EXISTING token-array column.

    Guarded for short texts: fewer-than-n tokens short-circuit to an
    empty array. Callers that need several n values should tokenize
    once and slice this shared array per n — HOF lambdas are exempt
    from subexpression elimination, so per-n ``ngrams()`` calls re-run
    the whitespace regex over the full text (measured 3x slower at
    sf0.1).

    Implementation: an (n-1)-fold zip_with over n shifted slices of the
    token array, NOT transform(sequence(1, m), i -> slice(toks, i, n)).
    An index lambda re-evaluates the captured outer array per element
    (interpreted, no codegen), which measured 6-20x slower at sf0.1 —
    it was 40%+ of the whole set-similarity join; zip_with walks the
    shifted copies once. Shingle content and order are identical.
    """
    m = F.size(toks) - (n - 1)
    acc = F.slice(toks, 1, m)
    for k in range(2, n + 1):
        acc = F.zip_with(
            acc, F.slice(toks, k, m), lambda a, b: F.concat_ws(" ", a, b)
        )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) >= n, F.filter(acc, lambda g: g != "")).otherwise(empty)


def ngrams(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (for Jaccard/MinHash)."""
    return ngrams_from_tokens(tokenize(col), n)


def language_id(col: Column | str) -> Column:
    """Stopword-profile language heuristic -> 'en'|'de'|'fr'|'es'|'und'.

    Scores each language by how many of its stopwords occur as tokens;
    ties broken by fixed language order; 0 matches -> 'und'(etermined).
    """
    toks = tokenize(col)
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in ("es", "fr", "de", "en"):  # reversed priority; later wins ties -> en first
        words = LANG_STOPWORDS[lang]
        score = sum(
            (F.array_contains(toks, w).cast("int") for w in words),
            F.lit(0),
        )
        best = F.when(score >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, score)
    return best


def stopword_ratio(col: Column | str, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of *lang* (0.0 for empty
    docs). High-quality prose sits in a mid band; near-zero flags
    keyword-stuffed/boilerplate text, near-one flags degenerate filler
    — the classic quality-gate signal alongside ``quality_score``.
    Same LANG_STOPWORDS profiles as ``language_id``; pure Catalyst."""
    toks = tokenize(col)
    words = list(LANG_STOPWORDS[lang])
    hits = F.size(F.filter(toks, lambda t: t.isin(*words)))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks)
    ).otherwise(F.lit(0.0))


def quality_score(text_col: Column | str) -> Column:
    """Heuristic document quality in [0,1]: mixes length, alpha ratio,
    terminal punctuation, and mean word length sanity. Deterministic
    arithmetic only — SQL-expressible for the oracle."""
    s = _c(text_col)
    n = F.length(s).cast("double")
    alpha = F.length(F.regexp_replace(F.lower(s), "[^a-z ]", "")).cast("double")
    sentences = F.length(F.regexp_replace(s, "[^.!?]", "")).cast("double")
    toks = token_count(s).cast("double")
    len_score = F.least(n / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_score = F.least(sentences / F.lit(3.0), F.lit(1.0))
    word_len = F.when(toks > 0, n / toks).otherwise(F.lit(0.0))
    word_len_score = F.when((word_len >= 3) & (word_len <= 12), F.lit(1.0)).otherwise(F.lit(0.5))
    return (
        F.lit(0.3) * len_score + F.lit(0.3) * alpha_ratio + F.lit(0.2) * punct_score + F.lit(0.2) * word_len_score
    )


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint of the raw text: ``crc32`` of its UTF-8
    bytes mod 1e9+7, one native call per row. crc32 is public and
    fully specified (zlib's), so the DuckDB oracles recompute the
    identical value (``queries._FP_SQL``). NULL text gives NULL, empty
    text 0."""
    return F.pmod(F.crc32(F.encode(_c(col), "UTF-8")), F.lit(_FP_MOD).cast("long"))


def strip_markup(col: Column | str) -> Column:
    """Drop HTML/XML tags and entities, collapse runs of whitespace —
    the crawl-to-text preprocessing step ahead of tokenization. Pure
    regexp chain (codegen'd); entity names decode to a space rather
    than their glyph (a corpus-stats-preserving simplification; a full
    entity table is a lookup join, not a regex)."""
    s = F.regexp_replace(_c(col), "<[^>]*>", " ")
    s = F.regexp_replace(s, "&[A-Za-z]{2,8};|&#[0-9]{1,6};", " ")
    return F.trim(F.regexp_replace(s, WS_REGEX, " "))


# accent fold table for normalize_for_dedup — explicit character pairs
# (not ICU NFD: neither Spark SQL nor DuckDB exposes a shared Unicode
# normalizer, and an explicit table is oracle-reproducible)
DEDUP_ACCENTS = "áàâäãåçéèêëíìîïñóòôöõúùûüýÿ"
DEDUP_ACCENTS_PLAIN = "aaaaaaceeeeiiiinooooouuuuyy"


def nfc_normalize(col: Column | str) -> Column:
    """Unicode NFC normalization — canonical composition, the W3C-
    recommended storage form. Byte-distinct encodings of the SAME
    rendered text ('é' precomposed U+00E9 vs 'e' + U+0301 combining
    acute) hash apart in EVERY dedup family — exact, MinHash, SimHash
    — because all of them start from raw bytes; normalizing to NFC
    first makes the variants one key. Real multilingual web crawls mix
    both encodings freely (macOS filenames and some editors emit NFD),
    so a corpus pipeline runs this before any content hash.

    Unicode composition has no Catalyst builtin, so this is the
    documented Arrow-vectorized Python path: a pandas_udf (batched
    Arrow transfer, one Python call per batch), never a row-at-a-time
    UDF. The DuckDB oracle twin is its built-in nfc_normalize()."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    # no type annotations: this module's `from __future__ import
    # annotations` stringifies them and Spark cannot resolve 'pd.Series'
    # from here — the explicit Iterator-free series form with a
    # returnType argument is annotation-independent
    def _nfc(s):
        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    return pandas_udf(_nfc, "string")(_c(col))


def normalize_for_dedup(col: Column | str) -> Column:
    """CCNet-style aggressive normalization for duplicate detection:
    lowercase, fold common accents, map every digit to 0, strip all
    remaining non-[a-z0 whitespace] characters, collapse whitespace.
    Two near-identical crawls of the same page ("Price: $1,299!" vs
    "price $1299") normalize to the same key, so exact dedup over this
    form catches the formatting-variant duplicates MinHash spends
    shingles on. Pure codegen'd scalar chain; the SQL oracle applies
    the identical steps (queries._NORM_SQL)."""
    s = F.translate(F.lower(_c(col)), DEDUP_ACCENTS, DEDUP_ACCENTS_PLAIN)
    s = F.regexp_replace(s, "[0-9]", "0")
    s = F.regexp_replace(s, "[^a-z0 \\t\\n\\r\\f]", "")
    return F.trim(F.regexp_replace(s, "[ \\t\\n\\r\\f]+", " "))
