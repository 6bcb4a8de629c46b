"""Property tests (SURVEY §5.4): the micro-format codecs and the
engine-agnostic hashes hold their invariants on generated inputs, not
just goldens. Examples are kept few (each runs a Spark job); the
generators cover the risky surface — regex-split metacharacters,
empty-ish strings, float round-trips.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from hadoop_app_spark.functions.text import doc_fingerprint, token_count, tokenize
from hadoop_app_spark.operators.dedup import minhash_signatures, simhash_wide
from hadoop_app_spark.sources.delim001 import decode_at_pairs, encode_at_pairs

_FP_MOD = 1_000_000_007

# values must avoid the codec's own delimiters (@ , $ \x01) — that is the
# format's contract (the reference never escapes; SURVEY §1.1)
_safe_text = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd"), whitelist_characters="._-"),
    min_size=1,
    max_size=12,
)

_settings = settings(
    max_examples=5, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture]
)


@_settings
@given(pairs=st.lists(st.tuples(st.integers(0, 10**9), _safe_text), min_size=1, max_size=15))
def test_at_pairs_roundtrip(spark, pairs):
    df = spark.createDataFrame([(i, a, b) for i, (a, b) in enumerate(pairs)], "row int, id long, val string")
    encoded = df.groupBy().agg(
        F.concat_ws(",", F.collect_list(encode_at_pairs(F.col("id"), F.col("val")))).alias("s")
    )
    decoded = encoded.select(F.explode(decode_at_pairs("s", ",")).alias("p")).select(
        F.col("p.id").cast("long").alias("id"), F.col("p.val").alias("val")
    )
    got = sorted((r.id, r.val) for r in decoded.collect())
    assert got == sorted((i, v) for i, v in pairs)




@_settings
@given(
    texts=st.lists(
        st.text(alphabet=st.characters(whitelist_categories=("Ll", "Zs")), max_size=30),
        min_size=1,
        max_size=10,
    )
)
def test_token_count_matches_python_split(spark, texts):
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r.i: r.n for r in df.select("i", token_count("t").alias("n")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == len(t.split()), (i, repr(t))


@_settings
@given(
    n=st.integers(min_value=0, max_value=60),
    k=st.integers(min_value=2, max_value=7),
    dup_range=st.integers(min_value=1, max_value=8),
)
def test_global_ntile_property(spark, n, k, dup_range):
    """Homegrown order statistics vs built-in ntile for arbitrary sizes,
    bucket counts, and tie densities."""
    from pyspark.sql import Window

    from hadoop_app_spark.operators.windows import global_ntile

    rows = [(i % dup_range, i) for i in range(n)]
    df = spark.createDataFrame(rows, "v int, id int") if rows else spark.createDataFrame([], "v int, id int")
    got = {(r.v, r.id): r.b for r in global_ntile(df, k, ["v", "id"], "b").collect()}
    exp = {
        (r.v, r.id): r.b
        for r in df.withColumn("b", F.ntile(k).over(Window.orderBy("v", "id"))).collect()
    }
    assert got == exp


@_settings
@given(
    sizes=st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=4),
    p=st.floats(min_value=0.01, max_value=1.0),
)
def test_grouped_percentile_disc_property(spark, sizes, p):
    from hadoop_app_spark.operators.windows import grouped_percentile_disc

    rows = []
    for gi, size in enumerate(sizes):
        rows += [(f"g{gi}", float((j * 7) % 13)) for j in range(size)]
    df = spark.createDataFrame(rows, "g string, v double")
    got = grouped_percentile_disc(df, ["g"], "v", [p])
    exp = {
        (r.g,): r.pv
        for r in df.groupBy("g").agg(
            F.expr(f"percentile_disc({p}) WITHIN GROUP (ORDER BY v)").alias("pv")
        ).collect()
    }
    assert {g: d[p] for g, d in got.items()} == {g: v for g, v in exp.items()}


# URL-ish strings: scheme/userinfo/host/path/query/fragment pieces mixed
_url_piece = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Nd"), whitelist_characters="._-"),
    min_size=1,
    max_size=8,
)


@_settings
@given(
    host=_url_piece,
    path=st.lists(_url_piece, max_size=3),
    params=st.lists(st.tuples(_url_piece, _url_piece), max_size=3),
    scheme=st.sampled_from(["", "http://", "https://", "HTTPS://"]),
    www=st.booleans(),
    frag=st.booleans(),
    slash=st.booleans(),
)
def test_canonicalize_url_idempotent(spark, host, path, params, scheme, www, frag, slash):
    """canonicalize(canonicalize(u)) == canonicalize(u): the canonical
    form must be a fixed point, or dedup keys depend on how many times
    a pipeline normalized."""
    from hadoop_app_spark.operators.corpus import canonicalize_url

    url = scheme + ("www." if www else "") + host + ".example"
    if path:
        url += "/" + "/".join(path)
    if slash:
        url += "/"
    if params:
        url += "?" + "&".join(f"{k}={v}" for k, v in params)
    if frag:
        url += "#frag"
    df = spark.createDataFrame([(url,)], "url string")
    row = df.select(
        canonicalize_url("url").alias("c1"),
        canonicalize_url(canonicalize_url("url")).alias("c2"),
    ).collect()[0]
    assert row.c1 == row.c2, url


@_settings
@given(
    weights=st.lists(st.integers(0, 50), min_size=1, max_size=40),
    budget=st.integers(1, 60),
)
def test_pack_shards_invariants(spark, weights, budget):
    """Shard ids are nondecreasing in pack order; every shard except
    possibly the last reaches the budget including its final row; no
    shard's weight EXCLUDING its final row reaches the budget (rows
    never split, one-row overshoot only)."""
    from hadoop_app_spark.operators.windows import pack_shards

    df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(weights)], "doc_id long, w long"
    )
    rows = sorted(
        pack_shards(df, "w", ["doc_id"], budget, num_partitions=3).collect(),
        key=lambda r: r.doc_id,
    )
    shards = [r.shard_id for r in rows]
    assert shards == sorted(shards)
    totals: dict[int, int] = {}
    for r in rows:
        # a row starts a new shard only when the previous one is full
        assert totals.get(r.shard_id, 0) < budget
        totals[r.shard_id] = totals.get(r.shard_id, 0) + r.w


@_settings
@given(
    vals=st.lists(st.integers(0, 100), min_size=1, max_size=30),
)
def test_quantile_profile_order_and_membership(spark, vals):
    from hadoop_app_spark.operators.corpus import quantile_profile

    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    r = quantile_profile(df, "v", "g").collect()[0]
    assert r.n == len(vals)
    qs = [r.p25, r.p50, r.p75, r.p90]
    assert qs == sorted(qs)
    assert all(q in vals for q in qs)


# Text the sf* corpora never hold (all of their docs are pure ASCII):
# Greek capitals with final-sigma lowercasing, dotted capital I (lowers
# to two codepoints), NBSP / ideographic space / \x1c separators,
# multi-byte UTF-8 and emoji.
_multilingual_text = st.text(
    alphabet=st.sampled_from(
        list("abcXYZ09 \t")
        + ["\xa0", "\u3000", "\x1c", "Σ", "Ο", "Δ", "Α", "Ω", "İ", "é", "ß", "中", "ж", "😀"]
    ),
    max_size=40,
)


def _py_simhash(text: str, half_bits: int) -> int | None:
    """Plain-Python SimHash: salted crc32 of each token's UTF-8 bytes,
    masked to half_bits; bit set iff 2 * ones > n; None if token-less."""
    from zlib import crc32

    toks = text.lower().split()
    if not toks:
        return None
    mask = (1 << half_bits) - 1
    hashes = [
        [crc32(t.encode()) & mask for t in toks],
        [crc32(b"\x01" + t.encode()) & mask for t in toks],
    ]
    fp = 0
    for half, hs in enumerate(hashes):
        for i in range(half_bits):
            if 2 * sum((h >> i) & 1 for h in hs) > len(toks):
                fp |= 1 << (half * half_bits + i)
    return fp


@_settings
@given(texts=st.lists(_safe_text | _multilingual_text | st.just("") | st.none(), min_size=1, max_size=10))
def test_fingerprint_matches_python_fold(spark, texts):
    """doc_fingerprint is zlib.crc32 of the UTF-8 bytes mod 1e9+7;
    NULL text stays NULL."""
    from zlib import crc32

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i int, t string")
    got = {r.i: r.fp for r in df.select("i", doc_fingerprint("t").alias("fp")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == (None if t is None else crc32(t.encode()) % _FP_MOD), (i, repr(t))


def _py_minhash(text: str, n: int) -> list[int] | None:
    """Plain-Python MinHash: token hash crc32(utf8) % M, rolling shingle
    combine h = (h * 1000003 + t) % M over n tokens, then the minimum of
    (a * h + b) % M per permutation; None with fewer than n tokens."""
    from zlib import crc32

    from hadoop_app_spark.operators.dedup import _MINHASH_A, _MINHASH_B

    toks = text.lower().split()
    if len(toks) < n:
        return None
    th = [crc32(t.encode()) % _FP_MOD for t in toks]
    shingles = []
    for i in range(len(toks) - n + 1):
        h = th[i]
        for t in th[i + 1 : i + n]:
            h = (h * 1_000_003 + t) % _FP_MOD
        shingles.append(h)
    return [min((a * h + b) % _FP_MOD for h in shingles) for a, b in zip(_MINHASH_A, _MINHASH_B)]


@_settings
@given(
    texts=st.lists(_multilingual_text | st.just("") | st.none(), min_size=1, max_size=12),
    n=st.sampled_from([2, 3]),
)
def test_minhash_signatures_match_python(spark, texts, n):
    """The one MinHash kernel equals a plain-Python crc32 reference on
    non-ASCII text, with string ids; docs with fewer than n tokens
    (including empty and NULL text) are absent."""
    df = spark.createDataFrame([(f"d{i}", t) for i, t in enumerate(texts)], "doc_id string, text string")
    got = {r.doc_id: list(r.signature) for r in minhash_signatures(df, "text", "doc_id", n=n).collect()}
    want = {
        f"d{i}": sig for i, t in enumerate(texts) if (sig := _py_minhash(t or "", n)) is not None
    }
    assert got == want, [(i, repr(t)) for i, t in enumerate(texts)]


@_settings
@given(
    texts=st.lists(_multilingual_text | st.just("") | st.none(), min_size=1, max_size=12),
    half_bits=st.sampled_from([8, 28]),
)
def test_simhash_wide_and_tokenize_match_python(spark, texts, half_bits):
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {r.doc_id: r.simhash for r in simhash_wide(df, "text", "doc_id", half_bits).collect()}
    want = {
        i: fp for i, t in enumerate(texts) if (fp := _py_simhash(t or "", half_bits)) is not None
    }
    assert got == want, [(i, repr(t)) for i, t in enumerate(texts)]
    toks = {r.doc_id: r.toks for r in df.select("doc_id", tokenize("text").alias("toks")).collect()}
    for i, t in enumerate(texts):
        assert toks[i] == (None if t is None else t.lower().split()), (i, repr(t))
