"""Operator-level golden tests: joins (as-of/range), top-k, dedup
family, similarity search, multimodal plumbing."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from hadoop_app_spark.operators.dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from hadoop_app_spark.operators.joins import anti_join, asof_join, range_join, semi_join
from hadoop_app_spark.operators.multimodal import (
    attach_media_meta,
    extract_image_features,
    frame_sample_plan,
)
from hadoop_app_spark.operators.similarity import brute_force_topk, lsh_topk
from hadoop_app_spark.operators.topk import global_top_k, top_k_per_group

from tests.conftest import rows_set


def ts(s):
    return dt.datetime.fromisoformat(s)


# --- joins -----------------------------------------------------------------


def test_asof_backward(spark):
    quotes = spark.createDataFrame(
        [("A", ts("2024-01-01T10:00:00"), 100.0), ("A", ts("2024-01-01T10:05:00"), 101.0),
         ("B", ts("2024-01-01T10:01:00"), 50.0)],
        "sym string, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, "A", ts("2024-01-01T10:03:00")), (2, "A", ts("2024-01-01T10:10:00")),
         (3, "B", ts("2024-01-01T10:00:00")), (4, "C", ts("2024-01-01T10:00:00"))],
        "trade_id int, sym string, tts timestamp",
    )
    out = asof_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts", left_key="trade_id")
    got = {r.trade_id: r.px for r in out.collect()}
    # trade 1 sees the 10:00 quote, trade 2 the 10:05; trade 3 precedes
    # any B quote and trade 4 has no symbol match -> both absent
    assert got == {1: 100.0, 2: 101.0}


def test_asof_forward_and_tolerance(spark):
    quotes = spark.createDataFrame(
        [("A", ts("2024-01-01T10:05:00"), 101.0)], "sym string, qts timestamp, px double"
    )
    trades = spark.createDataFrame(
        [(1, "A", ts("2024-01-01T10:03:00")), (2, "A", ts("2024-01-01T09:00:00"))],
        "trade_id int, sym string, tts timestamp",
    )
    fwd = asof_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts",
                    direction="forward", left_key="trade_id")
    assert {r.trade_id for r in fwd.collect()} == {1, 2}
    tol = asof_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts",
                    direction="forward", tolerance=F.expr("INTERVAL 10 MINUTES"), left_key="trade_id")
    assert {r.trade_id for r in tol.collect()} == {1}  # trade 2 is >10min early


def test_semi_anti(spark):
    left = spark.createDataFrame([(1,), (2,), (3,)], "k int")
    right = spark.createDataFrame([(2,), (3,), (4,)], "k int")
    assert rows_set(semi_join(left, right, "k")) == [(2,), (3,)]
    assert rows_set(anti_join(left, right, "k")) == [(1,)]


def test_range_join_keeps_equi_hash_plan(spark):
    left = spark.createDataFrame([(1, 5.0), (1, 50.0), (2, 5.0)], "k int, v double")
    right = spark.createDataFrame([(1, 0.0, 10.0), (2, 40.0, 60.0)], "k int, lo double, hi double")
    out = range_join(left, right, "k", F.col("v").between(F.col("lo"), F.col("hi")))
    assert rows_set(out.select("k", "v")) == [(1, 5.0)]
    # physical plan must be a hash/sort-merge join on k, not nested-loop
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


# --- top-k -----------------------------------------------------------------


def test_topk_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", "b", 1.0), ("g", "a", 1.0), ("g", "c", 0.5)], "grp string, id string, score double"
    )
    out = top_k_per_group(df, ["grp"], [F.col("score").desc(), F.col("id")], 2)
    assert [(r.id, r.rank) for r in out.orderBy("rank").collect()] == [("a", 1), ("b", 2)]
    assert rows_set(global_top_k(df.select("score"), [F.col("score").desc()], 1)) == [(1.0,)]


# --- dedup -----------------------------------------------------------------

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again today"),
    (2, "the quick brown fox jumps over the lazy dog again and again today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog again and again tonight"),  # near dup of 1
    (4, "completely different content about spark query engines and shuffles here"),
    (5, "tiny"),  # too short for 3-gram shingles
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs_df):
    out = exact_dedup(docs_df, ["text"], "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3, 4, 5]  # 2 dropped, min-id kept


def test_minhash_identical_signatures(spark, docs_df):
    sigs = {r.doc_id: tuple(r.signature) for r in minhash_signatures(docs_df, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    assert sigs[1] != sigs[4]
    assert 5 not in sigs  # no shingles -> excluded
    # near-dup shares most minhashes
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3]))
    assert agree >= 4


def test_minhash_lsh_dedup(spark, docs_df):
    pairs = rows_set(minhash_lsh_pairs(minhash_signatures(docs_df, "text", "doc_id"), "doc_id"))
    assert (1, 2) in pairs  # exact dups always bucket together
    surviving = sorted(r.doc_id for r in minhash_dedup(docs_df, "text", "doc_id").collect())
    assert 1 in surviving and 2 not in surviving  # min-id survives
    assert 4 in surviving and 5 in surviving  # non-dups and shingle-less docs kept


def test_dedup_increment_against_persisted_index(spark, docs_df):
    """Two daily increments against a persisted index: day-1 docs
    duplicating indexed content drop ('index wins'), intra-batch dups
    resolve greedy-min-id, zero-shingle docs always survive, and the
    appended band rows make day 2 dedup against day-1 survivors."""
    from hadoop_app_spark.operators.dedup import build_minhash_index, dedup_increment

    for t in ("mh_idx_t", "mh_idx_t_dropped"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    seed = docs_df.where(F.col("doc_id").isin(1, 4))  # deduped seed
    build_minhash_index(seed, "text", "doc_id", "mh_idx_t")
    idx0 = spark.table("mh_idx_t").count()

    day1 = spark.createDataFrame(
        [
            (11, "the quick brown fox jumps over the lazy dog again and again today"),  # dup of indexed 1
            (12, "some genuinely new material never seen before in any prior batch at all"),
            (13, "some genuinely new material never seen before in any prior batch at all"),  # intra dup of 12
            (14, "x"),  # zero-shingle
        ],
        "doc_id long, text string",
    )
    s1 = sorted(r.doc_id for r in dedup_increment(day1, "mh_idx_t", "text", "doc_id").collect())
    assert s1 == [12, 14]  # 11 lost to index, 13 lost to 12, 14 shingle-less
    idx1 = spark.table("mh_idx_t").count()
    assert idx1 > idx0  # survivor 12's bands appended (14 has none)

    day2 = spark.createDataFrame(
        [
            (21, "some genuinely new material never seen before in any prior batch at all"),  # dup of day-1 survivor 12
            (22, "and here is one more fresh document unlike everything indexed so far entirely"),
        ],
        "doc_id long, text string",
    )
    s2 = sorted(r.doc_id for r in dedup_increment(day2, "mh_idx_t", "text", "doc_id").collect())
    assert s2 == [22]  # 21 drops against the APPENDED day-1 rows
    # index layout must survive appends: still one bucketed table
    assert spark.table("mh_idx_t").columns == ["bucket", "id"]
    for t in ("mh_idx_t", "mh_idx_t_dropped"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_simhash_groups(spark, docs_df):
    sh = {r.doc_id: r.simhash for r in simhash(docs_df, "text", "doc_id").collect()}
    assert sh[1] == sh[2]
    assert 0 <= sh[1] < (1 << 16)
    # near-dup is close in hamming distance
    ham = bin(sh[1] ^ sh[3]).count("1")
    assert ham <= 4
    # the fingerprint is two equal halves, so an odd width is refused
    with pytest.raises(ValueError, match="must be even"):
        simhash(docs_df, "text", "doc_id", bits=15)


def test_ngram_jaccard(spark, docs_df):
    pairs = spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    out = ngram_jaccard(docs_df, pairs, "text", "doc_id")
    j = {(r.id_a, r.id_b): r.jaccard for r in out.collect()}
    assert j[(1, 2)] == 1.0
    assert 0.5 < j[(1, 3)] < 1.0
    assert j[(1, 4)] == 0.0


def test_lsh_degenerate_bucket_bounded(spark):
    """1000 identical docs collapse to one bucket per band; the overflow
    path must star-expand (999 pairs, min id as survivor anchor) instead
    of materializing a corpus-sized array / half a million pairs."""
    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere") for i in range(1000)],
        "doc_id long, text string",
    )
    obs: dict = {}
    pairs = minhash_lsh_pairs(
        minhash_signatures(docs, "text", "doc_id"), "doc_id",
        max_bucket_size=32, observations=obs,
    )
    rows = pairs.collect()
    assert len(rows) == 999
    assert all(r.id_a == 0 for r in rows)
    assert obs["lsh_overflow"].get["rows"] == 4000  # 1000 docs x 4 bands
    # survivor semantics preserved end-to-end
    survivors = minhash_dedup(docs, "text", "doc_id").select("doc_id").collect()
    assert [r.doc_id for r in survivors] == [0]


# --- similarity ------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_df(spark):
    import math

    rows = []
    for i in range(50):
        angle = (i % 10) * 0.1
        rows.append((i, [math.cos(angle) + (i // 10) * 1e-4, math.sin(angle), 0.1, 0.2]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_self_excluded(spark, emb_df):
    queries = emb_df.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(emb_df, queries, k=3).collect()
    assert len(out) == 3
    assert all(r.vec_id != 0 for r in out)
    # nearest neighbours of vec 0 are the same-angle vectors 10,20,30,40
    assert {r.vec_id for r in out} <= {10, 20, 30, 40}


def test_lsh_recall_vs_brute_force(spark, emb_df):
    queries = emb_df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb_df, queries, k=3).collect()}
    approx = {(r.query_id, r.vec_id) for r in lsh_topk(emb_df, queries, dim=4, k=3, n_planes=2).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5  # clustered data, few planes -> decent recall


def test_null_embeddings_are_skipped(spark):
    """The embeddings column is nullable. A null vector has no cosine,
    so each similarity operator must answer as if the row were absent —
    including a null at the lowest id, where ivf_topk takes its
    centroids from."""
    import math

    from hadoop_app_spark.operators.similarity import embedding_near_dups, ivf_topk

    def vec(i):
        angle = (i % 10) * 0.1
        return [math.cos(angle) + (i // 10) * 1e-3, math.sin(angle), 0.1 * (i % 3), 0.2]

    schema = "vec_id long, embedding array<double>"
    ops = {
        "brute_force_topk": lambda c, q: brute_force_topk(c, q, k=3),
        "lsh_topk": lambda c, q: lsh_topk(c, q, dim=4, k=3, n_planes=2),
        "ivf_topk": lambda c, q: ivf_topk(c, q, k=3, n_centroids=4, n_probe=2),
        "embedding_near_dups": lambda c, q: embedding_near_dups(
            c, dim=4, threshold=0.9, n_planes=2
        ),
    }
    # (corpus with null rows, query ids, ops); in the second corpus a null
    # scored as cosine 0.0 would tie with the orthogonal row 3 and take its
    # top-2 slot on the id tiebreak, and query 2 is itself null
    inputs = [
        (
            spark.createDataFrame(
                [(i, None if i in (0, 20) else vec(i)) for i in range(41)], schema
            ),
            (1, 2, 3, 4),
            ops,
        ),
        (
            spark.createDataFrame(
                [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, None), (5, [1.0, 1.0])],
                schema,
            ),
            (1, 2),
            {"brute_force_topk": lambda c, q: brute_force_topk(c, q, k=2)},
        ),
    ]

    def as_queries(corpus, ids):
        return corpus.where(F.col("vec_id").isin(*ids)).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )

    for with_nulls, query_ids, input_ops in inputs:
        clean = with_nulls.where(F.col("embedding").isNotNull())
        for name, op in input_ops.items():
            want = rows_set(op(clean, as_queries(clean, query_ids)), round_floats=9)
            assert want, name
            got = op(with_nulls, as_queries(with_nulls, query_ids))
            assert rows_set(got, round_floats=9) == want, name


# --- multimodal ------------------------------------------------------------


def test_multimodal_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNG fake image bytes")), (2, bytearray(b"\xff\xd8JPEG other bytes"))],
        "asset_id long, payload binary",
    )
    meta = attach_media_meta(df, "payload", "image", "png")
    m = {r.asset_id: r.media_meta for r in meta.collect()}
    assert m[1].n_bytes == 21 and m[1].media_type == "image"

    feats = extract_image_features(df, "asset_id", "payload", fake=True).collect()
    assert len(feats) == 2
    f1 = next(r for r in feats if r.asset_id == 1)
    assert f1.width >= 64 and f1.height >= 64 and len(f1.feature) == 4

    frames = frame_sample_plan(df, "asset_id", "payload", every_n=10)
    assert frames.where(F.col("asset_id") == 1).count() >= 1


def test_multimodal_compressed_decode_is_stubbed(spark):
    # png/jpeg (or unknown) payloads still raise without PIL/cv2
    df = spark.createDataFrame([(1, bytearray(b"\x89PNGxxxx"))], "asset_id long, payload binary")
    with pytest.raises(Exception, match="NotImplementedError|image decode"):
        extract_image_features(df, "asset_id", "payload", fake=False).collect()


def _ppm_bytes(img):
    h, w, _ = img.shape
    return b"P6\n# test\n%d %d\n255\n" % (w, h) + img.astype("uint8").tobytes()


def _bmp_bytes(img):
    """Minimal uncompressed 24-bit BMP writer (bottom-up)."""
    import struct

    h, w, _ = img.shape
    stride = (w * 3 + 3) & ~3
    rows = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = img[y, :, ::-1].astype("uint8").tobytes()  # RGB -> BGR
        rows += row + b"\x00" * (stride - len(row))
    header = struct.pack("<2sIHHI", b"BM", 54 + len(rows), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 2835, 2835, 0, 0)
    return bytes(header + info + rows)


def test_image_real_ppm_bmp_decode(spark):
    """fake=False genuinely decodes P6 PPM and uncompressed BMP — pure
    numpy, golden-checked channel means."""
    import numpy as np

    img = np.zeros((4, 6, 3), dtype=np.uint8)
    img[:, :, 0] = 255  # pure red
    img[0, 0] = (255, 255, 255)  # one white pixel
    df = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes(img))), (2, bytearray(_bmp_bytes(img)))],
        "asset_id long, payload binary",
    )
    feats = {r.asset_id: r for r in extract_image_features(df, "asset_id", "payload", fake=False).collect()}
    exp_r = 1.0  # every pixel has R=255
    exp_g = exp_b = 255.0 / 24 / 255.0  # one white pixel in 24
    for aid in (1, 2):
        r = feats[aid]
        assert (r.width, r.height) == (6, 4)
        assert r.feature[0] == pytest.approx(exp_r)
        assert r.feature[1] == pytest.approx(exp_g)
        assert r.feature[2] == pytest.approx(exp_b)
    # PPM and BMP decodes of the same pixels must agree exactly
    assert list(feats[1].feature) == pytest.approx(list(feats[2].feature))


def test_audio_chunk_plan_and_features(spark):
    import numpy as np

    from hadoop_app_spark.operators.multimodal import (
        _audio_rms_kernel,
        audio_chunk_plan,
        extract_audio_features,
    )

    # kernel golden: 2 int16 LE samples -> one chunk, exact RMS
    chunks = _audio_rms_kernel(b"\x00\x01\x02\x03", 2, 320)
    assert chunks == [(0, 2, float(np.sqrt((256.0**2 + 770.0**2) / 2.0)))]
    # empty payload -> one sentinel chunk
    assert _audio_rms_kernel(b"", 2, 320) == [(0, 0, 0.0)]

    # 700 bytes = 350 samples -> chunks of 320 + 30 at hop 320
    df = spark.createDataFrame(
        [(1, bytearray(b"\x01\x02" * 350)), (2, bytearray(b""))], "asset_id long, payload binary"
    )
    plan = {
        (r.asset_id, r.chunk_index): (r.start_sample, r.n_in_chunk)
        for r in audio_chunk_plan(df, "asset_id", "payload").collect()
    }
    assert plan[(1, 0)] == (0, 320) and plan[(1, 1)] == (320, 30)
    assert plan[(2, 0)] == (0, 0)  # empty audio still gets a plan row

    feats = extract_audio_features(df, "asset_id", "payload").collect()
    by_key = {(r.asset_id, r.chunk_index): r for r in feats}
    assert by_key[(1, 0)].n_samples == 320 and by_key[(1, 1)].n_samples == 30
    assert by_key[(1, 0)].rms > 0 and by_key[(2, 0)].rms == 0.0

    # fake=False expects a real WAV container; raw PCM bytes are rejected
    with pytest.raises(Exception, match="RIFF|wave|Error"):
        extract_audio_features(df, "asset_id", "payload", fake=False).collect()


def _wav_bytes(samples, framerate=16000, sampwidth=2, nchannels=1):
    """Build an in-memory PCM WAV file from an int-sample numpy array."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(nchannels)
        w.setsampwidth(sampwidth)
        w.setframerate(framerate)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def test_audio_real_wav_decode(spark):
    """fake=False decodes actual PCM WAV via the stdlib wave kernel —
    the r2 verdict's de-stub item."""
    import numpy as np

    from hadoop_app_spark.operators.multimodal import extract_audio_features

    # 500 int16 mono samples: ramp 0..499 -> chunks of 320 + 180
    mono = np.arange(500, dtype="<i2")
    # stereo: L = ramp, R = -ramp -> mono mix = 0 everywhere -> rms 0
    stereo = np.zeros(2 * 300, dtype="<i2")
    stereo[0::2] = np.arange(300, dtype="<i2")
    stereo[1::2] = -np.arange(300, dtype="<i2")
    df = spark.createDataFrame(
        [
            (1, bytearray(_wav_bytes(mono))),
            (2, bytearray(_wav_bytes(stereo, nchannels=2))),
        ],
        "asset_id long, payload binary",
    )
    feats = extract_audio_features(df, "asset_id", "payload", fake=False).collect()
    by_key = {(r.asset_id, r.chunk_index): r for r in feats}
    assert by_key[(1, 0)].n_samples == 320 and by_key[(1, 1)].n_samples == 180
    expected_rms0 = float(np.sqrt(np.mean(np.arange(320, dtype=np.float64) ** 2)))
    assert by_key[(1, 0)].rms == pytest.approx(expected_rms0, rel=1e-12)
    # stereo mixed to mono: L + R cancel exactly
    assert by_key[(2, 0)].rms == 0.0

    # 8-bit unsigned WAV: constant 138 -> centered value 10 -> rms 10
    u8 = np.full(100, 138, dtype=np.uint8)
    df8 = spark.createDataFrame(
        [(3, bytearray(_wav_bytes(u8, sampwidth=1)))], "asset_id long, payload binary"
    )
    r8 = extract_audio_features(df8, "asset_id", "payload", fake=False).collect()[0]
    assert r8.n_samples == 100 and r8.rms == pytest.approx(10.0)


def test_audio_on_error_skip(spark):
    """on_error='skip' drops undecodable payloads instead of failing the
    job — corpus-scale robustness for truncated files."""
    import numpy as np

    from hadoop_app_spark.operators.multimodal import extract_audio_features

    good = _wav_bytes(np.arange(10, dtype="<i2"))
    df = spark.createDataFrame(
        [(1, bytearray(good)), (2, bytearray(b"not a wav at all"))],
        "asset_id long, payload binary",
    )
    feats = extract_audio_features(df, "asset_id", "payload", fake=False, on_error="skip").collect()
    assert {r.asset_id for r in feats} == {1}
    with pytest.raises(ValueError, match="on_error"):
        extract_audio_features(df, "asset_id", "payload", on_error="bogus")


def test_ivf_topk_recall_and_determinism(spark, emb_df):
    from hadoop_app_spark.operators.similarity import ivf_topk

    queries = emb_df.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb_df, queries, k=3).collect()}
    ivf = ivf_topk(emb_df, queries, k=3, n_centroids=8, n_probe=4)
    got = {(r.query_id, r.vec_id) for r in ivf.collect()}
    recall = len(exact & got) / len(exact)
    assert recall >= 0.5
    # deterministic: same plan, same result
    again = {(r.query_id, r.vec_id) for r in ivf_topk(emb_df, queries, k=3, n_centroids=8, n_probe=4).collect()}
    assert got == again
    # probing everything == brute force (modulo identical tiebreaks)
    full = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb_df, queries, k=3, n_centroids=8, n_probe=8).collect()
    }
    assert full == exact


def test_embedding_near_dups_finds_planted_pair(spark):
    from hadoop_app_spark.operators.similarity import embedding_near_dups

    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = {(r.id_a, r.id_b) for r in embedding_near_dups(df, dim=4, threshold=0.95, n_planes=2).collect()}
    assert (1, 2) in pairs
    assert all(a < b for a, b in pairs)


def test_salted_join_matches_plain_join(spark):
    from hadoop_app_spark.operators.joins import salted_join

    # hot key 1 carries 90% of rows
    left = spark.createDataFrame(
        [(1, f"u{i}") for i in range(90)] + [(i % 5 + 2, f"v{i}") for i in range(10)],
        "k int, payload string",
    )
    right = spark.createDataFrame([(i, f"dim{i}") for i in range(1, 7)], "k int, name string")
    plain = sorted(map(tuple, left.join(right, "k").select("k", "payload", "name").collect()))
    salted = sorted(map(tuple, salted_join(left, right, "k", n_salts=8).select("k", "payload", "name").collect()))
    assert salted == plain


def test_asof_merge_equals_rank_form(spark):
    from hadoop_app_spark.operators.joins import asof_join_merge

    trades = spark.createDataFrame(
        [(1, "A", 10), (2, "A", 25), (3, "B", 5), (4, "B", 40), (5, "C", 7)],
        "trade_id long, sym string, tts long",
    )
    quotes = spark.createDataFrame(
        [("A", 8, 1.0), ("A", 10, 1.5), ("A", 20, 2.0), ("B", 30, 9.0), ("B", 40, 8.0)],
        "sym string, qts long, px double",
    )
    rank = asof_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts", left_key="trade_id")
    merge = asof_join_merge(
        trades, quotes, on="sym", left_ts="tts", right_ts="qts", right_value_cols=["px"]
    )
    cols = ["trade_id", "sym", "tts", "qts", "px"]
    assert sorted(map(tuple, merge.select(*cols).collect())) == sorted(
        map(tuple, rank.select(*cols).collect())
    )
    # forward + tolerance parity
    for kw in ({"direction": "forward"}, {"direction": "backward", "tolerance": F.lit(10)}):
        r = asof_join(trades, quotes, on="sym", left_ts="tts", right_ts="qts",
                      left_key="trade_id", **kw)
        g = asof_join_merge(trades, quotes, on="sym", left_ts="tts", right_ts="qts",
                            right_value_cols=["px"], **kw)
        assert sorted(map(tuple, g.select(*cols).collect())) == sorted(
            map(tuple, r.select(*cols).collect())
        )


def test_fs_roundtrip(spark, tmp_path):
    from hadoop_app_spark.sources import fs

    p = f"file://{tmp_path}/marker.txt"
    assert not fs.exists(spark, p)
    fs.write_text(spark, p, "hello\nworld\n")
    assert fs.exists(spark, p)
    assert fs.read_text(spark, p) == "hello\nworld\n"
    listing = fs.list_files(spark, f"file://{tmp_path}")
    assert len(listing) == 1 and listing[0]["path"].endswith("marker.txt")
    assert listing[0]["size"] == 12
    assert fs.delete(spark, p)
    assert not fs.exists(spark, p)


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Pre-bucketed tables on the join key co-locate: the sort-merge
    join runs with NO Exchange on either side — at 100 TB this is the
    difference between a join that reshuffles both tables and one that
    streams bucket files."""
    sf = "/root/testdata/sf0.001"
    li = spark.read.parquet(f"{sf}/lineitem.parquet").select("l_orderkey", "l_quantity")
    orders = spark.read.parquet(f"{sf}/orders.parquet").select("o_orderkey", "o_totalprice")
    (li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
       .option("path", str(tmp_path / "bli")).mode("overwrite").saveAsTable("b_li"))
    (orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
       .option("path", str(tmp_path / "bord")).mode("overwrite").saveAsTable("b_ord"))
    # no default arg: conf.get(key, None) returns None when the key was
    # never explicitly set (it does NOT fall back to the SQLConf
    # default), which made the finally skip the restore and leak
    # threshold=-1 into every later test in the shared session —
    # caught by test_plan_drift when showcase joins regenerated as SMJ
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("b_li").join(
            spark.table("b_ord"), F.col("l_orderkey") == F.col("o_orderkey")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert j.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_ord")


def test_compact_parquet(spark, tmp_path):
    from hadoop_app_spark.operators.maintenance import compact_parquet, plan_compaction

    src, dst = str(tmp_path / "small"), str(tmp_path / "compacted")
    df = spark.range(0, 10000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(src)  # simulate small-file ingest
    before = plan_compaction(spark, f"file://{src}")
    assert before["n_files"] == 40
    compact_parquet(spark, src, dst, target_mb=256, sort_by=["k"])
    after = plan_compaction(spark, f"file://{dst}")
    assert after["n_files"] <= 2
    assert spark.read.parquet(dst).count() == 10000
    # sorted clustering: each output file's min/max ranges shouldn't all overlap
    got = sorted(r.k for r in spark.read.parquet(dst).collect())
    assert got == list(range(10000))


def test_connected_components_chain_and_star(spark):
    from hadoop_app_spark.operators.graph import connected_components, dedup_by_components

    # chain 1-2-3-4, star 10-(11,12,13), isolated pair 20-21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (10, 13), (21, 20)],
        "src long, dst long",
    )
    expected = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 13: 10, 20: 20, 21: 20}
    # default threshold -> driver union-find fast path
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp == expected
    # threshold=0 -> the distributed min-label loop; SAME unique fixpoint
    loop = {
        r.node: r.component
        for r in connected_components(edges, small_graph_threshold=0).collect()
    }
    assert loop == expected

    docs = spark.createDataFrame([(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]], "doc_id long, t string")
    pairs = edges.select(F.col("src").alias("id_a"), F.col("dst").alias("id_b"))
    kept = sorted(r.doc_id for r in dedup_by_components(docs, pairs, "doc_id").collect())
    assert kept == [1, 10, 20, 99]  # one survivor per component + untouched 99


# --- corpus curation (tfidf / repetition / stratified sample / source stats) ---


def test_tfidf_top_terms(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana cherry cherry cherry"),
            (3, "durian apple banana"),
        ],
        "doc_id long, text string",
    )
    from hadoop_app_spark.operators.corpus import tfidf_top_terms

    out = {
        (r.doc_id, r.term): (r.tf, r.dfreq, r.rank)
        for r in tfidf_top_terms(df, "text", "doc_id", k=2).collect()
    }
    # doc 1: apple tf=2 df=2 -> 2*ln(3/2) = 0.81; cherry tf=1 df=2 -> ln(3/2) = 0.41;
    # banana tf=1 df=3 -> ln(1) = 0
    assert out[(1, "apple")] == (2, 2, 1)
    assert out[(1, "cherry")] == (1, 2, 2)
    # doc 3: durian tf=1 df=1 -> ln(3) beats apple tf=1 df=2 -> ln(3/2)
    assert out[(3, "durian")] == (1, 1, 1)
    assert out[(3, "apple")] == (1, 2, 2)
    assert math.log(3.0) > math.log(1.5)  # sanity on the intended ordering


def test_repetition_stats(spark):
    from hadoop_app_spark.operators.corpus import repetition_stats

    df = spark.createDataFrame(
        [(1, "a a a a b"), (2, "all unique words here"), (3, "")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_stats(df, "text", "doc_id").collect()}
    assert (out[1].n_tokens, out[1].n_unique) == (5, 2) and out[1].dup_ratio == 3.0 / 5.0
    assert out[2].dup_ratio == 0.0
    assert (out[3].n_tokens, out[3].dup_ratio) == (0, 0.0)  # empty doc guarded


def test_ngram_repetition_stats(spark):
    from hadoop_app_spark.operators.corpus import ngram_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "go go go go go"),  # pure loop: every 2-gram is "go go"
            (2, "one two three four five"),  # all n-grams unique
            (3, "x"),  # too short for any n in (2,3,4)
            (4, ""),  # no tokens at all
            # crc32("w4288") == crc32("w6366") mod 1e9+7: a hashed gram
            # key would merge "x w4288" with "x w6366"
            (5, "x w4288 x w6366"),
        ],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.n): r for r in ngram_repetition_stats(df, "text", "doc_id").collect()}
    # doc 1, n=2: 4 grams, 1 distinct -> dup 3/4, top 4/4
    r = out[(1, 2)]
    assert (r.n_ngrams, r.n_distinct) == (4, 1)
    assert r.dup_frac == 3.0 / 4.0 and r.top_frac == 1.0
    # doc 1, n=4: 2 grams, 1 distinct
    assert (out[(1, 4)].n_ngrams, out[(1, 4)].n_distinct) == (2, 1)
    # doc 2: no repetition at any n
    assert all(out[(2, n)].dup_frac == 0.0 for n in (2, 3, 4))
    assert out[(2, 2)].top_frac == 1.0 / 4.0
    # docs 3 and 4 emit no rows (no n-grams at any n)
    assert not any(k[0] in (3, 4) for k in out)
    # doc 5: three distinct 2-grams, none repeated
    r = out[(5, 2)]
    assert (r.n_ngrams, r.n_distinct, r.dup_frac, r.top_frac) == (3, 3, 0.0, 1.0 / 3.0)
    assert (out[(5, 3)].n_ngrams, out[(5, 3)].n_distinct) == (2, 2)

    # the id column keeps its type (here string) instead of being forced to long
    named = spark.createDataFrame([("a", "go go go")], "doc_id string, text string")
    got = ngram_repetition_stats(named, "text", "doc_id")
    assert dict(got.dtypes)["doc_id"] == "string"
    assert {(r.doc_id, r.n, r.n_ngrams, r.n_distinct) for r in got.collect()} == {
        ("a", 2, 2, 1),
        ("a", 3, 1, 1),
    }


def test_decontamination(spark):
    from hadoop_app_spark.operators.corpus import contamination_stats, decontaminate

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains the bench 4-gram
            (2, "alpha beta gamma delta something else entirely here"),  # same leading 4-gram
            (3, "totally unrelated text about spark engines and shuffles"),
            (4, "tiny"),  # no 4-grams at all
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    stats = {r.doc_id: r for r in contamination_stats(docs, bench, n=4).collect()}
    assert stats[1].n_contaminated == 1 and stats[1].n_ngrams == 3
    assert stats[1].contamination == 1.0 / 3.0
    assert stats[2].n_contaminated == 1
    assert stats[3].n_contaminated == 0 and stats[3].contamination == 0.0
    assert stats[4].n_ngrams == 0 and stats[4].contamination == 0.0
    # zero-tolerance drop keeps only clean docs (4 has no grams -> clean)
    clean = sorted(r.doc_id for r in decontaminate(docs, bench, n=4).collect())
    assert clean == [3, 4]
    # the benchmark side must broadcast (map-side semi-join, no gram shuffle)
    plan = (
        contamination_stats(docs, bench, n=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_domain_extract_filter_caps(spark):
    from hadoop_app_spark.operators.corpus import domain_caps, domain_filter, extract_domain

    df = spark.createDataFrame(
        [
            (1, "https://www.Example.COM:8443/a/b?q=1"),
            (2, "http://user:pw@sub.example.org/x"),
            (3, "example.net/plain/path"),
            (4, "https://www.seo-farm.biz/p/1"),
            (5, "https://www.seo-farm.biz/p/2"),
            (6, "https://www.seo-farm.biz/p/3"),
        ],
        "doc_id long, url string",
    )
    doms = {r.doc_id: r.d for r in df.select("doc_id", extract_domain("url").alias("d")).collect()}
    assert doms == {
        1: "example.com",
        2: "sub.example.org",
        3: "example.net",
        4: "seo-farm.biz",
        5: "seo-farm.biz",
        6: "seo-farm.biz",
    }
    block = spark.createDataFrame([("seo-farm.biz",)], "domain string")
    assert sorted(r.doc_id for r in domain_filter(df, "url", block).collect()) == [1, 2, 3]
    allow = sorted(r.doc_id for r in domain_filter(df, "url", block, mode="allow").collect())
    assert allow == [4, 5, 6]
    capped = sorted(r.doc_id for r in domain_caps(df, "url", max_per_domain=2).collect())
    assert capped == [1, 2, 3, 4, 5]  # farm capped at 2, others untouched
    with pytest.raises(ValueError, match="mode"):
        domain_filter(df, "url", block, mode="nope")


def test_stratified_sample_deterministic(spark):
    from hadoop_app_spark.operators.corpus import stratified_sample

    df = spark.createDataFrame(
        [(i, f"document body number {i}", "en" if i % 2 else "zz") for i in range(200)],
        "doc_id long, text string, lang string",
    )
    a = sorted(r.doc_id for r in stratified_sample(df, "lang", "text").collect())
    b = sorted(r.doc_id for r in stratified_sample(df.repartition(7), "lang", "text").collect())
    assert a == b and len(a) > 0  # content-keyed: stable under repartition
    kept = {r.doc_id: r.lang for r in stratified_sample(df, "lang", "text").collect()}
    # 'zz' stratum uses the default 50/1000 rate -> strictly fewer than en's 300/1000
    n_en = sum(1 for lang in kept.values() if lang == "en")
    n_zz = len(kept) - n_en
    assert n_en > n_zz


def test_bigram_lm_crossentropy_separates_gibberish(spark):
    from hadoop_app_spark.operators.corpus import bigram_lm_crossentropy

    train = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(20)],
        "doc_id long, text string",
    )
    score = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps"),   # in-distribution
            (101, "zxq vvk jjw qqp mmz aal"),     # gibberish: all-unseen bigrams
            (102, "single"),                       # <2 tokens: no transitions
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_lm_crossentropy(train, score).collect()}
    assert 102 not in out  # no transitions -> drops
    assert out[100].n_transitions == 4 and out[101].n_transitions == 5
    assert out[101].cross_entropy > out[100].cross_entropy  # the filter signal
    assert out[100].cross_entropy > 0


def test_mixture_rebalance_shares_and_determinism(spark):
    from hadoop_app_spark.functions.text import token_count
    from hadoop_app_spark.operators.corpus import mixture_rebalance

    # big: 600 docs x 5 tokens; small: 100 docs x 5 tokens; noise: unlisted.
    # vary the text EARLY and widely — a shared long prefix would make the
    # rolling-hash fingerprints consecutive and defeat %-threshold sampling
    # (real corpora vary throughout; this is a synthetic-corpus artifact)
    rows = [(i, f"{i * 2654435761 % 10**9} doc body alpha {i % 97}", "big") for i in range(600)]
    rows += [
        (1000 + i, f"{i * 40503 % 10**6} doc body beta {i % 89}", "small")
        for i in range(100)
    ]
    rows += [(2000 + i, "tok x y z w", "unlisted") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")

    # target 50/50 -> 'small' binds (its share must RISE), keeps everything;
    # 'big' downsamples to ~small's token total
    out = mixture_rebalance(df, "source", {"big": 0.5, "small": 0.5})
    kept = out.withColumn("_n", token_count("text"))
    tok = {
        r.source: r.t
        for r in kept.groupBy("source").agg(F.sum("_n").alias("t")).collect()
    }
    assert "unlisted" not in tok  # zero-weight groups drop
    assert tok["small"] == 100 * 5  # binding group keeps rate 1.0
    # realized share within sampling noise of the 1:1 target
    assert abs(tok["big"] - tok["small"]) / tok["small"] < 0.35
    # content-keyed: stable under repartition
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in mixture_rebalance(
            df.repartition(7), "source", {"big": 0.5, "small": 0.5}
        ).collect()
    )
    assert a == b and len(a) > 0


def test_source_stats(spark):
    from hadoop_app_spark.operators.corpus import source_stats

    df = spark.createDataFrame(
        [
            (1, "one two three.", "s1", 14),
            (2, "one two three.", "s1", 14),  # exact dup of doc 1
            (3, "four five six.", "s1", 14),
            (4, "seven eight.", "s2", 12),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    out = {r.source: r for r in source_stats(df, "text").collect()}
    assert out["s1"].n_docs == 3 and out["s1"].n_unique_docs == 2  # dup collapses
    assert out["s1"].total_tokens == 9 and out["s2"].total_tokens == 2
    assert out["s2"].total_chars == 12
    assert 0.0 < out["s2"].sum_quality < 1.0


def test_minhash_signatures_vectorized(spark):
    from hadoop_app_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        minhash_signatures_vectorized,
    )

    assert minhash_signatures_vectorized is minhash_signatures  # one kernel

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
            (3, "a completely different document about spark pipelines here"),
            (4, "hi"),  # fewer than n tokens -> zero shingles -> dropped
        ],
        "doc_id long, text string",
    )
    sigs = {r.doc_id: list(r.signature) for r in
            minhash_signatures(df, "text", "doc_id", n=3, k=8).collect()}
    assert set(sigs) == {1, 2, 3}  # zero-shingle doc is absent
    assert sigs[1] == sigs[2]  # exact dups collide on every permutation
    assert sigs[1] != sigs[3]
    assert all(len(s) == 8 and all(0 <= v < 1_000_000_007 for v in s) for s in sigs.values())
    # and the banding stage pairs the exact dups
    pairs = {(r.id_a, r.id_b) for r in
             minhash_lsh_pairs(
                 minhash_signatures(df, "text", "doc_id"), "doc_id").collect()}
    assert (1, 2) in pairs and all(a < b for a, b in pairs)


def test_salted_join_spreads_hot_key(spark):
    """Skew evidence: 95% of left rows share one key. A plain shuffle
    join lands them all in one task; salting spreads the hot key over
    n_salts sub-keys. Asserted on the actual post-shuffle partition
    distribution (deterministic), not wall time."""
    from hadoop_app_spark.operators.joins import salted_join

    left = spark.range(40000).select(
        F.when(F.col("id") % 20 != 0, F.lit(1)).otherwise(F.col("id") % 100).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("name"))
    # hint("merge") forces a shuffle join on both forms: broadcast would
    # sidestep the shuffle (and the skew) entirely at this toy size
    plain = left.join(right.hint("merge"), "k")
    salted = salted_join(left, right.hint("merge"), "k", n_salts=16)
    assert sorted(map(tuple, salted.select("k", "payload", "name").collect())) == sorted(
        map(tuple, plain.select("k", "payload", "name").collect())
    )

    def max_partition_share(df):
        sizes = [r.n for r in df.groupBy(F.spark_partition_id().alias("p")).agg(F.count("*").alias("n")).collect()]
        return max(sizes) / sum(sizes)

    # AQE would coalesce these toy-sized shuffle partitions into one,
    # hiding the per-reducer distribution the assertion is about
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    def hot_key_partitions(df):
        return (
            df.where(F.col("k") == 1)
            .select(F.spark_partition_id().alias("p"))
            .distinct()
            .count()
        )

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        # plain: every hot-key row lands in ONE reducer task
        assert hot_key_partitions(plain) == 1 and max_partition_share(plain) > 0.9
        # salted: the 16 salt sub-keys occupy most of the reducer space
        # (bounded by the session's shuffle partitions; a few sub-keys may
        # murmur3-collide into the same reducer)
        assert hot_key_partitions(salted) >= max(2, min(16, n_shuffle) // 2)
        assert max_partition_share(salted) < 0.5
    finally:
        spark.conf.set(coalesce_key, prev)


def test_redact_pii_goldens(spark):
    from hadoop_app_spark.operators.corpus import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "server 192.168.1.254 and call +44 (0)20-7946-0958 ok"),
            (3, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in redact_pii(df, "text", "doc_id").collect()}
    assert out[1].n_email == 1 and out[1].redacted == "mail <EMAIL> now"
    assert out[2].n_ipv4 == 1 and out[2].n_phone == 1
    assert out[2].redacted == "server <IP> and call <PHONE> ok"
    assert out[3].redacted == "no pii here at all"
    assert (out[3].n_email, out[3].n_ipv4, out[3].n_phone) == (0, 0, 0)


def test_line_dedup_first_occurrence_wins(spark):
    from hadoop_app_spark.operators.corpus import line_dedup

    # 2-token lines: doc 1 = [a b][c d], doc 2 repeats [c d] then adds
    # [e f]; doc 3 is entirely built of already-seen lines -> dropped
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "c d e f"), (3, "a b c d")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in line_dedup(df, "text", "doc_id", line_tokens=2).collect()}
    assert set(out) == {1, 2}
    assert out[1].dedup_text == "a b c d" and out[1].n_kept_lines == 2
    assert out[2].dedup_text == "e f" and out[2].n_lines == 2 and out[2].n_kept_lines == 1


def test_duplicate_passage_spans_merge_and_cross_doc(spark):
    from hadoop_app_spark.operators.corpus import (
        duplicate_passage_spans,
        duplicate_passage_stats,
    )

    # docs 1 and 2 share the run "p q r s" (two overlapping 3-grams:
    # pos 2 and 3 in doc 1 -> ONE merged span); doc 3 repeats a gram
    # only within itself (intra-doc repeat is NOT a cross-doc dup);
    # doc 4 shares nothing
    df = spark.createDataFrame(
        [
            (1, "a p q r s b"),
            (2, "x y p q r s"),
            (3, "m n o m n o"),
            (4, "u v w z u1 v1"),
        ],
        "doc_id long, text string",
    )
    spans = {
        r.doc_id: r
        for r in duplicate_passage_spans(df, "text", "doc_id", n=3).collect()
    }
    assert set(spans) == {1, 2}
    # doc 1: grams at pos 2 ("p q r") and 3 ("q r s") merge -> [2, 5]
    assert (spans[1].span_start, spans[1].span_end, spans[1].span_tokens) == (2, 5, 4)
    assert (spans[2].span_start, spans[2].span_end) == (3, 6)

    stats = {
        r.doc_id: r
        for r in duplicate_passage_stats(df, "text", "doc_id", n=3).collect()
    }
    assert set(stats) == {1, 2, 3, 4}
    assert stats[1].n_spans == 1 and stats[1].dup_tokens == 4
    assert stats[1].dup_frac == 4 / 6
    assert stats[3].n_spans == 0 and stats[3].dup_frac == 0.0
    assert stats[4].dup_tokens == 0


def test_duplicate_passage_spans_disjoint_spans_per_doc(spark):
    from hadoop_app_spark.operators.corpus import duplicate_passage_spans

    # doc 1 shares two SEPARATED runs with doc 2 -> two disjoint spans
    # (gap "g1 g2 g3" is unique to doc 1, so the islands must not merge)
    df = spark.createDataFrame(
        [
            (1, "p q r g1 g2 g3 s t u"),
            (2, "p q r x1 x2 x3 s t u"),
        ],
        "doc_id long, text string",
    )
    out = sorted(
        duplicate_passage_spans(df, "text", "doc_id", n=3)
        .where(F.col("doc_id") == 1)
        .collect(),
        key=lambda r: r.span_start,
    )
    assert [(r.span_start, r.span_end) for r in out] == [(1, 3), (7, 9)]


def test_canonical_per_component_best_copy(spark):
    from hadoop_app_spark.operators.graph import canonical_per_component

    # component {1,2,3} (chained 1-2, 2-3): best score is doc 2;
    # component {10, 11}: tied scores -> min id 10 wins;
    # component {20, 21}: 21 has no score row -> 20 is canonical,
    # but 21 still appears in the mapping
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "id_a long, id_b long"
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.7), (11, 0.7), (20, 0.1)],
        "doc_id long, score double",
    )
    out = {
        r.doc_id: r
        for r in canonical_per_component(scores, pairs, "doc_id", "score").collect()
    }
    assert set(out) == {1, 2, 3, 10, 11, 20, 21}
    assert out[1].canonical_id == out[2].canonical_id == out[3].canonical_id == 2
    assert out[1].component == 1
    assert out[10].canonical_id == out[11].canonical_id == 10
    assert out[21].canonical_id == 20

    # a component with NO scored member keeps its nodes (null canonical)
    # rather than silently vanishing from the mapping
    out2 = {
        r.doc_id: r
        for r in canonical_per_component(
            scores.where(F.col("doc_id") < 15), pairs, "doc_id", "score"
        ).collect()
    }
    assert 20 in out2 and 21 in out2
    assert out2[20].canonical_id is None and out2[21].canonical_id is None


def test_quantile_profile_type1_ranks(spark):
    from hadoop_app_spark.operators.corpus import quantile_profile

    # group a: values 10,20,30,40 (n=4): ranks ceil(1)=1, ceil(2)=2,
    # ceil(3)=3, ceil(3.6)=4 -> p25=10 p50=20 p75=30 p90=40
    # group b: single value -> every quantile is it
    rows = [("a", v) for v in (40, 10, 30, 20)] + [("b", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.g: r for r in quantile_profile(df, "v", "g").collect()}
    assert (out["a"].n, out["a"].p25, out["a"].p50, out["a"].p75, out["a"].p90) == (
        4, 10, 20, 30, 40,
    )
    assert (out["b"].n, out["b"].p50, out["b"].p90) == (1, 7, 7)
    # nulls are excluded (engine-dependent ordering otherwise) and
    # colliding rounded labels are rejected
    import pytest as _pytest

    from hadoop_app_spark.operators.corpus import quantile_profile as qp

    withnull = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    assert qp(withnull, "v", "g").collect()[0].n == 1
    with _pytest.raises(ValueError):
        qp(df, "v", "g", ps=((1, 3), (33, 100)))


def test_quantile_sketch_rank_error_bound(spark):
    # VERDICT r5 item 3: the sketch twin's pinned guarantee — for each
    # group and percentile p, the returned value's rank in the exact
    # sorted data is within n/accuracy of the target rank ceil(p*n).
    from hadoop_app_spark.operators.corpus import quantile_profile, quantile_sketch

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    v = docs.selectExpr(
        "source", "CAST(size(split(text, ' ')) AS LONG) AS n_tokens"
    ).where("n_tokens IS NOT NULL")
    acc = 100
    sk = {r.source: r for r in quantile_sketch(v, "n_tokens", "source", accuracy=acc).collect()}
    vals = {}
    for row in v.collect():
        vals.setdefault(row.source, []).append(row.n_tokens)
    ps = {"p25": (1, 4), "p50": (1, 2), "p75": (3, 4), "p90": (9, 10)}
    for src, data in vals.items():
        data.sort()
        n = len(data)
        assert sk[src].n == n
        for label, (num, den) in ps.items():
            got = getattr(sk[src], label)
            assert got in data  # GK returns an observed value, never interpolated
            target = -(-num * n // den)  # ceil(num*n/den)
            # rank range the value occupies in the sorted data (1-based)
            lo = data.index(got) + 1
            hi = n - data[::-1].index(got)
            err_bound = n / acc + 1
            assert lo - err_bound <= target <= hi + err_bound, (
                src, label, got, lo, hi, target, n,
            )


def test_quantile_sketch_exact_when_accuracy_dominates(spark):
    # accuracy >= n: the GK summary keeps every observation, so the
    # sketch must agree with the exact type-1 form on every percentile
    from hadoop_app_spark.operators.corpus import quantile_profile, quantile_sketch

    rows = [("a", v) for v in (40, 10, 30, 20)] + [("b", 7)]
    df = spark.createDataFrame(rows, "g string, v long")
    exact = {r.g: r for r in quantile_profile(df, "v", "g").collect()}
    sk = {r.g: r for r in quantile_sketch(df, "v", "g", accuracy=10_000).collect()}
    for g in exact:
        for c in ("n", "p25", "p50", "p75", "p90"):
            assert getattr(sk[g], c) == getattr(exact[g], c), (g, c)
    # shape contract: same columns as the exact twin, nulls excluded
    withnull = spark.createDataFrame([("a", 1), ("a", None)], "g string, v long")
    assert quantile_sketch(withnull, "v", "g").collect()[0].n == 1
    with pytest.raises(ValueError):
        quantile_sketch(df, "v", "g", ps=((1, 3), (33, 100)))


def test_value_histogram_buckets(spark):
    import pytest as _pytest

    from hadoop_app_spark.operators.corpus import value_histogram

    df = spark.createDataFrame(
        [(0,), (9,), (10,), (19,), (25,), (-5,), (None,)], "v long"
    )
    # negatives and NULLs are excluded (div truncation would mis-bucket)
    out = {r.bucket_lo: r.n for r in value_histogram(df, "v", width=10).collect()}
    assert out == {0: 2, 10: 2, 20: 1}
    with _pytest.raises(ValueError):
        value_histogram(df, "v", width=0)


def test_canonicalize_url_variants_fold(spark):
    from hadoop_app_spark.operators.corpus import canonicalize_url, url_dedup

    df = spark.createDataFrame(
        [
            (1, "https://www.Example.com/Page/1"),
            (2, "http://user:pw@example.com:8080/Page/1/?utm_source=a&utm_medium=b"),
            (3, "example.com/Page/1#section"),
            (4, "https://example.com/Page/1?b=2&a=1"),
            (5, "example.com/Page/1?a=1&fbclid=XYZ&b=2"),
            (6, "https://example.com/"),
            (7, "example.com"),
            (8, "https://other.org/Page/1"),
        ],
        "doc_id long, url string",
    )
    canon = {
        r.doc_id: r.c
        for r in df.select("doc_id", canonicalize_url("url").alias("c")).collect()
    }
    # scheme/www/userinfo/port/fragment/trailing-slash all fold
    assert canon[1] == canon[2] == canon[3] == "example.com/Page/1"
    # param order + tracking params fold; params distinguish from no-param
    assert canon[4] == canon[5] == "example.com/Page/1?a=1&b=2"
    assert canon[4] != canon[1]
    # root with and without slash fold; different host does not
    assert canon[6] == canon[7] == "example.com"
    assert canon[8] == "other.org/Page/1"

    out = {r.canonical_url: r for r in url_dedup(df, "url", "doc_id").collect()}
    assert out["example.com/Page/1"].keeper_id == 1
    assert out["example.com/Page/1"].n_dups == 3
    assert out["example.com/Page/1?a=1&b=2"].n_dups == 2

    # NULL urls are no evidence of duplication: excluded, not grouped
    withnull = spark.createDataFrame(
        [(1, None), (2, None), (3, "example.com/x")], "doc_id long, url string"
    )
    nres = url_dedup(withnull, "url", "doc_id").collect()
    assert len(nres) == 1 and nres[0].canonical_url == "example.com/x"


def test_quantize_roundtrip_bounds(spark):
    import math

    from hadoop_app_spark.functions.vectors import dequantize, max_abs, quantize_int8

    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    scale = F.greatest(max_abs("embedding") / F.lit(127.0), F.lit(1e-30))
    s = df.select("vec_id", "embedding", scale.alias("scale"))
    out = s.select(
        "vec_id", "embedding", "scale",
        quantize_int8("embedding", F.col("scale")).alias("q"),
        dequantize(quantize_int8("embedding", F.col("scale")), F.col("scale")).alias("deq"),
    ).collect()
    for r in out:
        assert all(-127 <= q <= 127 for q in r.q)
        # reconstruction error bounded by scale/2 per element
        for x, d in zip(r.embedding, r.deq):
            assert math.isclose(x, d, abs_tol=r.scale / 2 + 1e-12), (x, d, r.scale)
    byid = {r.vec_id: r for r in out}
    assert byid[1].q[0] == 127  # the max element pins to full range
    assert byid[2].q == [0, 0, 0, 0]  # zero vector stays zero via the scale floor


def test_apply_changes_upsert_semantics(spark):
    from hadoop_app_spark.operators.upsert import apply_changes

    snap = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    changes = spark.createDataFrame(
        [
            (2, "b2", 25.0, "U"),   # update replaces the full row
            (3, "c", 30.0, "D"),    # tombstone removes the key
            (9, "new", 90.0, "I"),  # insert adds a key
        ],
        "k long, name string, v double, op string",
    )
    out = sorted(map(tuple, apply_changes(snap, changes, ["k"], op_col="op").collect()))
    assert out == [(1, "a", 10.0), (2, "b2", 25.0), (9, "new", 90.0)]
    # no-op batch returns the snapshot unchanged
    empty = changes.where(F.col("k") < 0)
    same = sorted(map(tuple, apply_changes(snap, empty, ["k"], op_col="op").collect()))
    assert same == sorted(map(tuple, snap.collect()))


def test_strip_markup(spark):
    from hadoop_app_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [
            (1, "<html><p>hello <b>world</b></p>&nbsp;&amp; more&#65;end</html>"),
            (2, "plain text stays"),
        ],
        "i long, t string",
    )
    got = {r.i: r.s for r in df.select("i", strip_markup("t").alias("s")).collect()}
    assert got[1] == "hello world more end"
    assert got[2] == "plain text stays"


def test_quantized_ann_recall(spark):
    """int8-quantized brute-force top-k keeps >=80% of the float top-5
    per query on the fixture embeddings — the storage/bandwidth trade
    the quantizer exists for."""
    from hadoop_app_spark.functions.vectors import dequantize, max_abs, quantize_int8
    from hadoop_app_spark.operators.similarity import brute_force_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") <= 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    scale = F.greatest(max_abs("embedding") / F.lit(127.0), F.lit(1e-30))
    s = emb.select("vec_id", "embedding", scale.alias("scale"))
    deq = s.select(
        "vec_id", dequantize(quantize_int8("embedding", F.col("scale")), F.col("scale")).alias("embedding")
    )
    top_f = brute_force_topk(emb, queries, k=5).select("query_id", "vec_id").collect()
    top_q = brute_force_topk(deq, queries, k=5).select("query_id", "vec_id").collect()
    from collections import defaultdict
    f, q = defaultdict(set), defaultdict(set)
    for r in top_f: f[r.query_id].add(r.vec_id)
    for r in top_q: q[r.query_id].add(r.vec_id)
    assert set(f) == set(q)
    for qid in f:
        assert len(f[qid] & q[qid]) >= 4, (qid, f[qid], q[qid])


# --- bucketed co-located joins ---------------------------------------------


def test_bucketed_join_eliminates_exchange(spark, tmp_path):
    """Both sides pre-bucketed by the join key at matching bucket counts
    -> SortMergeJoin with NO Exchange (the repeated fact-fact join
    pattern that amortizes the 100 TB shuffle to zero)."""
    from hadoop_app_spark.operators.bucketing import (
        bucket_count_for,
        bucketed_join,
        write_bucketed,
    )

    left = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS lv")
    right = spark.range(0, 2000).selectExpr("id AS k", "id * 3 AS rv")
    write_bucketed(left, "bkt_left", ["k"], 4)
    write_bucketed(right, "bkt_right", ["k"], 4)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a real join strategy decision (no broadcast shortcut)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "bkt_left", "bkt_right", "k")
        assert joined.count() == 2000
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # co-located: zero shuffle
        # control: the same join from unbucketed frames DOES exchange
        control = left.join(right, "k")
        control.count()
        cplan = control._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in cplan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")

    assert bucket_count_for(10 * 256 * 1024 * 1024) == 10
    assert bucket_count_for(1) == 1


def test_write_bucketed_overwrite_safety(spark, tmp_path):
    """r3 ADVICE: overwrite must (a) clear a custom-LOCATION table's OWN
    directory via the catalog-resolved path, (b) reclaim a true orphan
    managed dir, and (c) never delete a directory claimed by a DIFFERENT
    table that happens to sit at the derived managed path."""
    from hadoop_app_spark.operators.bucketing import write_bucketed
    from hadoop_app_spark.sources.fs import delete, exists

    df1 = spark.range(0, 10).selectExpr("id AS k", "id AS v")
    df2 = spark.range(0, 20).selectExpr("id AS k", "id AS v")

    # (a) custom LOCATION: overwrite resolves the real path, not {wh}/{t}
    ext_loc = str(tmp_path / "ext_tbl")
    df1.write.option("path", ext_loc).saveAsTable("bkt_ext")
    try:
        write_bucketed(df2, "bkt_ext", ["k"], 2)
        assert spark.table("bkt_ext").count() == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_ext")

    # (b) orphan managed dir (fresh-session catalog): still reclaimed
    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    spark.sql("DROP TABLE IF EXISTS bkt_orphan")
    delete(spark, f"{wh}/bkt_orphan", recursive=True)
    from hadoop_app_spark.sources.fs import write_text

    write_text(spark, f"{wh}/bkt_orphan/stale.txt", "leftover")
    try:
        write_bucketed(df1, "bkt_orphan", ["k"], 2)
        assert spark.table("bkt_orphan").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orphan")

    # (c) another table registered AT the derived managed path survives:
    # the overwrite of bkt_victim_name must fail, not delete other_tbl
    victim_loc = f"{wh}/bkt_victim_name"
    delete(spark, victim_loc, recursive=True)
    df1.write.option("path", victim_loc).saveAsTable("other_tbl")
    try:
        import pytest as _pytest

        with _pytest.raises(Exception):
            write_bucketed(df2, "bkt_victim_name", ["k"], 2)
        assert exists(spark, victim_loc)  # other_tbl's data intact
        assert spark.table("other_tbl").count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS other_tbl")
        delete(spark, victim_loc, recursive=True)


def test_register_views_sql_surface(spark):
    """SURVEY §7: every table is reachable from spark.sql after
    register_views — the full engine surface is SQL-addressable."""
    from hadoop_app_spark.catalog import TABLES, register_views

    register_views(spark, "/root/testdata/sf0.001")
    for t in TABLES:
        assert spark.sql(f"SELECT count(*) AS n FROM {t}").collect()[0].n > 0
    joined = spark.sql(
        """
        SELECT n_name, count(*) AS n
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY n DESC LIMIT 3
        """
    ).collect()
    assert len(joined) == 3 and joined[0].n >= joined[-1].n


def test_ivf_trained_centroids_improve_recall(spark):
    """Lloyd's-trained centroids recover well-separated cluster means,
    and trained IVF at n_probe=1 gets perfect recall where the
    untrained first-k seeding (all seeds inside one cluster) cannot."""
    import math

    from hadoop_app_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_ivf_centroids,
    )

    # 4 tight, well-separated clusters on orthogonal axes
    def vec(cluster, j):
        base = [0.0] * 4
        base[cluster] = 10.0
        base[(cluster + 1) % 4] += 0.01 * j  # tiny within-cluster spread
        return base

    rows = [(cluster * 100 + j, vec(cluster, j)) for cluster in range(4) for j in range(25)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    trained = train_ivf_centroids(corpus, n_centroids=4, iters=3)
    cents = {r.vec_id: r.embedding for r in trained.collect()}
    assert len(cents) == 4
    # each trained centroid points dominantly along one cluster axis,
    # and all 4 axes are covered (first-k seeding covers only cluster 0)
    axes = sorted(max(range(4), key=lambda d: c[d]) for c in cents.values())
    assert axes == [0, 1, 2, 3]

    queries = spark.createDataFrame(
        [(900 + cl, vec(cl, 12)) for cl in range(4)], "query_id long, query_vec array<double>"
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(corpus, queries, k=3).collect()}
    got = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(
            corpus, queries, k=3, n_centroids=4, n_probe=1, centroid_source=trained
        ).collect()
    }
    assert got == exact  # perfect recall with 1 probe on trained cells


def test_stopword_ratio(spark):
    from hadoop_app_spark.functions.text import stopword_ratio

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog in a house"),  # the/and/the/in = 4 of 8
            (2, "quantum chromodynamics lattice simulation"),  # none
            (3, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.sr for r in df.select("doc_id", stopword_ratio("text").alias("sr")).collect()}
    assert got[1] == pytest.approx(4.0 / 8.0)
    assert got[2] == 0.0
    assert got[3] == 0.0  # empty doc guarded


def test_resize_images(spark):
    """Nearest-neighbor resize round-trips through the library-free
    decode/encode: pixels are exact index selections of the source."""
    import numpy as np

    from hadoop_app_spark.operators.multimodal import _decode_ppm, resize_images

    # 4x6 gradient: pixel value encodes its (y, x)
    img = np.zeros((4, 6, 3), dtype=np.uint8)
    for y in range(4):
        for x in range(6):
            img[y, x] = (y * 40, x * 40, 7)
    df = spark.createDataFrame(
        [(1, bytearray(_ppm_bytes(img))), (2, bytearray(_bmp_bytes(img)))],
        "asset_id long, payload binary",
    )
    out = {r.asset_id: r for r in resize_images(df, "asset_id", "payload", 3, 2).collect()}
    for aid in (1, 2):
        w, h, small = _decode_ppm(bytes(out[aid].payload))
        assert (w, h) == (3, 2) and (out[aid].width, out[aid].height) == (3, 2)
        # nearest-neighbor: out[y,x] == src[y*4//2? -> y*2, x*2]
        for y in range(2):
            for x in range(3):
                assert tuple(small[y, x]) == tuple(img[y * 2, x * 2].astype(float))
    # upscale works too (index replication)
    up = resize_images(df.where(F.col("asset_id") == 1), "asset_id", "payload", 12, 8).collect()[0]
    w, h, big = _decode_ppm(bytes(up.payload))
    assert (w, h) == (12, 8)
    assert tuple(big[0, 0]) == tuple(img[0, 0].astype(float))
    # fake mode emits a valid solid PPM of the requested size
    fake = resize_images(df, "asset_id", "payload", 5, 5, fake=True).collect()[0]
    w, h, solid = _decode_ppm(bytes(fake.payload))
    assert (w, h) == (5, 5) and len(set(map(tuple, solid.reshape(-1, 3)))) == 1
    # skip mode drops garbage payloads
    bad = spark.createDataFrame([(9, bytearray(b"junk"))], "asset_id long, payload binary")
    assert resize_images(bad, "asset_id", "payload", 2, 2, on_error="skip").count() == 0


# --- review-found regressions (r3) -----------------------------------------


def test_lsh_banding_indivisible_signature_width(spark):
    """bands not dividing k must NOT create an empty band that collides
    the whole corpus into one bucket (r3 review finding)."""
    sigs = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6]), (2, [7, 8, 9, 10, 11, 12]), (3, [13, 14, 15, 16, 17, 18])],
        "doc_id long, signature array<long>",
    )
    pairs = minhash_lsh_pairs(sigs, "doc_id", bands=4).collect()
    assert pairs == []  # fully disjoint signatures -> no candidates
    # identical signatures still pair under the same banding
    dup = spark.createDataFrame(
        [(1, [1, 2, 3, 4, 5, 6]), (2, [1, 2, 3, 4, 5, 6])],
        "doc_id long, signature array<long>",
    )
    assert [(r.id_a, r.id_b) for r in minhash_lsh_pairs(dup, "doc_id", bands=4).collect()] == [(1, 2)]


def test_cosine_zero_norm_vector_no_crash(spark):
    """An all-zeros embedding must score 0.0, not abort the job with
    ANSI DIVIDE_BY_ZERO (r3 review finding)."""
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    queries = spark.createDataFrame([(9, [1.0, 0.0])], "query_id long, query_vec array<double>")
    got = {r.vec_id: r.cosine for r in brute_force_topk(corpus, queries, k=3).collect()}
    assert got[1] == 1.0 and got[2] == 0.0 and got[3] == 0.0


def test_exact_dedup_null_keys_keep_survivor(spark):
    """NULL keys form ONE group with a min-id survivor — the null-unsafe
    semi join silently deleted every null-keyed row (r3 review finding)."""
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, None)], "doc_id long, text string"
    )
    assert sorted(r.doc_id for r in exact_dedup(df, ["text"], "doc_id").collect()) == [1, 3]


def test_asof_merge_left_tolerance_keeps_row(spark):
    """how='left' + tolerance: an out-of-tolerance left row is KEPT with
    null matched columns, not dropped (r3 review finding)."""
    from hadoop_app_spark.operators.joins import asof_join_merge

    left = spark.createDataFrame([("A", 100.0, "x"), ("A", 200.0, "y")], "k string, ts double, lv string")
    right = spark.createDataFrame([("A", 95.0, 1.0)], "k string, rts double, rv double")
    out = asof_join_merge(
        left, right, "k", "ts", "rts", ["rv"], how="left", tolerance=F.lit(10.0)
    ).collect()
    got = {r.ts: (r.rts, r.rv) for r in out}
    assert got[100.0] == (95.0, 1.0)
    assert got[200.0] == (None, None)  # out of tolerance -> null match, row kept


def test_asof_shared_ts_name_suffixed(spark):
    """left_ts == right_ts must not emit a duplicate output column
    (r3 review finding)."""
    from hadoop_app_spark.operators.joins import asof_join_merge

    left = spark.createDataFrame([("A", 100.0)], "k string, ts double")
    right = spark.createDataFrame([("A", 95.0, 1.0)], "k string, ts double, rv double")
    out = asof_join_merge(left, right, "k", "ts", "ts", ["rv"])
    assert out.columns == ["k", "ts", "ts_right", "rv"]
    r = out.collect()[0]
    assert (r.ts, r.ts_right, r.rv) == (100.0, 95.0, 1.0)
    # join+rank form gets the same suffixing
    out2 = asof_join(left, right, on="k", left_ts="ts", right_ts="ts")
    assert sorted(out2.columns) == ["k", "rv", "ts", "ts_right"]


def test_asof_duplicate_left_rows_both_kept(spark):
    """Two IDENTICAL left rows each keep their match without left_key
    (r3 review finding: the all-columns window collapsed them)."""
    left = spark.createDataFrame([("A", 100.0), ("A", 100.0)], "k string, ts double")
    right = spark.createDataFrame([("A", 95.0, 1.0)], "k string, rts double, rv double")
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="rts").collect()
    assert len(out) == 2 and all(r.rv == 1.0 for r in out)


def test_apply_changes_null_op_is_upsert(spark):
    """op=NULL change rows are upserts, not silent deletions (r3 review:
    the != filter dropped them from live while their keys still
    anti-joined the snapshot away)."""
    from hadoop_app_spark.operators.upsert import apply_changes

    snap = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    changes = spark.createDataFrame(
        [(2, 21.0, None), (3, 30.0, "I"), (1, 0.0, "D")], "k long, v double, op string"
    )
    got = {r.k: r.v for r in apply_changes(snap, changes, ["k"], op_col="op").collect()}
    assert got == {2: 21.0, 3: 30.0}  # 2 upserted via NULL op, 1 deleted


def test_line_dedup_integer_ids_no_overflow(spark):
    """IntegerType doc ids must not overflow the bit-packed first-
    occurrence key under ANSI (r3 review finding)."""
    from hadoop_app_spark.operators.corpus import line_dedup

    df = spark.createDataFrame(
        [(5000, "alpha beta gamma delta epsilon zeta eta theta"),
         (6000, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id int, text string",
    )
    out = {r.doc_id: r.n_kept_lines for r in line_dedup(df, "text", "doc_id", line_tokens=8).collect()}
    assert out[5000] == 1  # first occurrence keeps the line
    assert 6000 not in out or out.get(6000, 0) == 0  # dup doc loses all lines


def test_compression_stats_signal(spark):
    from hadoop_app_spark.operators.corpus import compression_stats

    rep = "spam ham " * 200            # highly repetitive
    import random as _r
    rng = _r.Random(7)
    prose = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(300)
    )                                   # high-entropy words
    df = spark.createDataFrame(
        [(1, rep), (2, prose), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in compression_stats(df).collect()}
    assert out[1].n_bytes == len(rep.encode())
    # repetitive text compresses far better than random prose
    assert out[1].ratio < 0.1 < out[2].ratio
    assert out[3].ratio == 0.0 and out[3].n_bytes == 0


def test_table_format_matrix_roundtrip(spark, tmp_path):
    """S-family breadth: the engine round-trips every native table
    format bit-for-bit (parquet/orc schema-carrying; json/csv with an
    explicit read schema), and refuses unsupported formats clearly."""
    from hadoop_app_spark.sources.sinks import read_table, write_table

    df = spark.createDataFrame(
        [(1, "a b", 1.5, True), (2, "c,d", -0.25, False), (3, None, 0.0, None)],
        "id long, s string, x double, b boolean",
    )
    want = sorted(tuple(r) for r in df.collect())
    ddl = "id long, s string, x double, b boolean"
    for fmt in ("parquet", "orc", "json", "csv"):
        p = str(tmp_path / fmt)
        write_table(df, p, fmt)
        got = read_table(spark, p, fmt, schema=ddl)
        assert sorted(tuple(r) for r in got.collect()) == want, fmt
        assert got.schema == df.schema, fmt
    # header-less csv: read side must mirror the write-side flag or the
    # first data row of every file would be eaten as a header
    p = str(tmp_path / "csv_nohdr")
    write_table(df.coalesce(1), p, "csv", header=False)
    got = read_table(spark, p, "csv", schema=ddl, header=False)
    assert sorted(tuple(r) for r in got.collect()) == want
    with pytest.raises(ValueError):
        write_table(df, str(tmp_path / "x"), "avro")


def test_mixture_rebalance_group_cardinality_guard(spark):
    # a document-grained group_col must fail fast with the cause, not
    # attempt a driver-sized collect (ADVICE r4 / VERDICT item 5)
    import pytest
    from hadoop_app_spark.operators.corpus import mixture_rebalance

    n = 11_000  # past the 10k floor of max(len(weights) * 16, 10_000)
    df = spark.range(n).selectExpr("CAST(id AS STRING) AS source", "'word' AS text")
    with pytest.raises(ValueError, match="distinct"):
        mixture_rebalance(df, "source", {"a": 1.0})


def test_ivf_sampled_seeding_matches_full_when_sample_covers_corpus(spark):
    # seed_on_sample with a sample larger than the corpus must reproduce
    # the full-corpus farthest-point seeds exactly (same first vector,
    # same max-d2 argmax, same lowest-id tie-break)
    from hadoop_app_spark.operators.similarity import train_ivf_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    full = train_ivf_centroids(emb, n_centroids=6, iters=0)
    sampled = train_ivf_centroids(emb, n_centroids=6, iters=0, seed_on_sample=10**6)
    a = sorted(tuple(r[1]) for r in full.collect())
    b = sorted(tuple(r[1]) for r in sampled.collect())
    assert a == b


def test_dsir_importance_ranks_target_like_docs_first(spark):
    from hadoop_app_spark.operators.dsir import dsir_select, hashed_ngram_features

    target_phrase = "solve the differential equation boundary value problem"
    web_phrase = "click here to buy cheap shoes online free shipping deals"
    docs = spark.createDataFrame(
        [
            (1, f"{target_phrase} with spectral methods today", "raw"),
            (2, f"{web_phrase} now and save big money", "raw"),
            (3, f"we solve the equation problem with boundary value tricks", "raw"),
            (4, f"{web_phrase} {web_phrase}", "raw"),
            (100, f"{target_phrase} and prove the solution is unique", "tgt"),
            (101, "boundary value problem solve differential equation basics", "tgt"),
        ],
        "doc_id long, text string, source string",
    )
    raw = docs.where("source = 'raw'")
    tgt = docs.where("source = 'tgt'")
    out = dsir_select(raw, tgt, k=4)
    ranked = [r.doc_id for r in out.collect()]
    assert set(ranked) == {1, 2, 3, 4}
    # math-like docs (1, 3) must outrank the shopping-spam docs (2, 4)
    assert set(ranked[:2]) == {1, 3}
    weights = {r.doc_id: r.weight for r in out.collect()}
    assert min(weights[1], weights[3]) > max(weights[2], weights[4])


def test_dsir_features_occurrence_weighted_and_bigram_guard(spark):
    from hadoop_app_spark.operators.dsir import hashed_ngram_features

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "solo")], "doc_id long, text string"
    )
    feats = hashed_ngram_features(docs, n_buckets=1 << 20)
    n = {r[0]: r[1] for r in feats.groupBy("doc_id").count().collect()}
    # doc 1: 3 unigram occurrences + 2 bigrams; doc 2: 1 unigram, NO
    # bogus bigram from Spark's descending sequence(1, 0)
    assert n == {1: 5, 2: 1}
    # occurrences, not distinct: 'a' appears twice in doc 1's buckets
    from collections import Counter

    b1 = Counter(r.bucket for r in feats.where("doc_id = 1").collect())
    assert max(b1.values()) == 2


def _ppm(w, h, pixel_fn):
    header = f"P6\n{w} {h}\n255\n".encode()
    body = bytearray()
    for y in range(h):
        for x in range(w):
            r, g, b = pixel_fn(x, y)
            body += bytes((r, g, b))
    return header + bytes(body)


def test_image_phash_real_kernel_properties():
    from hadoop_app_spark.operators.multimodal import _image_phash_kernel

    # left half black / right half white -> bits set exactly on the
    # white half of the 8x7 grid (columns 4..7 of each row)
    half = _ppm(16, 14, lambda x, y: (255, 255, 255) if x >= 8 else (0, 0, 0))
    hv = _image_phash_kernel(half, fake=False)
    bits = [(hv >> i) & 1 for i in range(56)]
    grid = [bits[r * 8 : (r + 1) * 8] for r in range(7)]
    assert all(row == [0, 0, 0, 0, 1, 1, 1, 1] for row in grid)
    # uniform brightness shift leaves the hash IDENTICAL (mean moves too)
    dim = _ppm(16, 14, lambda x, y: (200, 200, 200) if x >= 8 else (40, 40, 40))
    assert _image_phash_kernel(dim, fake=False) == hv
    # flipping one grid cell's worth of pixels flips few bits
    import random

    def noisy(x, y):
        if x < 2 and y < 2:  # one 8x7-grid cell region
            return (255, 255, 255)
        return (255, 255, 255) if x >= 8 else (0, 0, 0)

    hv2 = _image_phash_kernel(_ppm(16, 14, noisy), fake=False)
    assert 1 <= bin(hv ^ hv2).count("1") <= 6


def test_image_near_dup_pairs_real_images(spark):
    from hadoop_app_spark.operators.multimodal import image_near_dup_pairs

    base = _ppm(16, 14, lambda x, y: (255, 255, 255) if x >= 8 else (0, 0, 0))
    same = _ppm(16, 14, lambda x, y: (250, 250, 250) if x >= 8 else (10, 10, 10))
    gradient = _ppm(16, 14, lambda x, y: (x * 15, y * 18, 128))
    rows = [(1, bytearray(base)), (2, bytearray(same)), (3, bytearray(gradient))]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs(
            df, "asset_id", "payload", max_hamming=6, fake=False
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert not any(3 in p for p in pairs)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Hamming 6"):
        image_near_dup_pairs(df, "asset_id", "payload", max_hamming=10)


def test_image_phash256_real_kernel_properties():
    from hadoop_app_spark.operators.multimodal import _image_phash256_kernel

    # left half black / right half white -> in each 16-cell grid row,
    # exactly columns 8..15 are set; row r is key r with bits 8..15
    half = _ppm(32, 32, lambda x, y: (255, 255, 255) if x >= 16 else (0, 0, 0))
    keys = _image_phash256_kernel(half, fake=False)
    assert len(keys) == 16 and all(0 <= k < 65536 for k in keys)
    assert all(k == 0xFF00 for k in keys)
    # uniform brightness shift leaves every key IDENTICAL (mean moves too)
    dim = _ppm(32, 32, lambda x, y: (200, 200, 200) if x >= 16 else (40, 40, 40))
    assert _image_phash256_kernel(dim, fake=False) == keys

    def noisy(x, y):
        if x < 2 and y < 2:  # one 16x16-grid cell region
            return (255, 255, 255)
        return (255, 255, 255) if x >= 16 else (0, 0, 0)

    keys2 = _image_phash256_kernel(_ppm(32, 32, noisy), fake=False)
    flipped = sum(bin(a ^ b).count("1") for a, b in zip(keys, keys2))
    assert 1 <= flipped <= 15


def test_image_near_dup_pairs_wide_real_images(spark):
    from hadoop_app_spark.operators.multimodal import image_near_dup_pairs_wide

    base = _ppm(32, 32, lambda x, y: (255, 255, 255) if x >= 16 else (0, 0, 0))
    same = _ppm(32, 32, lambda x, y: (250, 250, 250) if x >= 16 else (10, 10, 10))
    gradient = _ppm(32, 32, lambda x, y: (x * 7, y * 7, 128))
    rows = [(1, bytearray(base)), (2, bytearray(same)), (3, bytearray(gradient))]
    df = spark.createDataFrame(rows, "asset_id long, payload binary")
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in image_near_dup_pairs_wide(
            df, "asset_id", "payload", max_hamming=15, fake=False
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0
    assert not any(3 in p for p in pairs)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="Hamming 15"):
        image_near_dup_pairs_wide(df, "asset_id", "payload", max_hamming=16)


def test_dsir_resample_properties(spark):
    from hadoop_app_spark.operators.dsir import dsir_resample, dsir_select

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(120)
    tgt = docs.where("source = 'src0'")
    # tiny temperature -> the Gumbel perturbation is negligible next to
    # weight/T: selection collapses onto the argmax (dsir_select)
    cold = {r.doc_id for r in dsir_resample(docs, tgt, k=15, temperature=1e-9).collect()}
    argmax = {r.doc_id for r in dsir_select(docs, tgt, k=15).collect()}
    assert cold == argmax
    # large temperature -> the Gumbel noise dominates: the sample
    # diversifies away from the argmax, yet stays DETERMINISTIC —
    # identical membership under re-run and repartition
    hot1 = {
        r.doc_id for r in dsir_resample(docs, tgt, k=15, temperature=1e6).collect()
    }
    hot2 = {
        r.doc_id
        for r in dsir_resample(docs.repartition(7), tgt, k=15, temperature=1e6).collect()
    }
    assert hot1 == hot2
    assert hot1 != argmax
    import pytest as _pytest

    with _pytest.raises(ValueError, match="temperature"):
        dsir_resample(docs, tgt, temperature=0.0)


def test_gopher_quality_gates_rules(spark):
    from hadoop_app_spark.operators.corpus import gopher_quality_gates

    good = " ".join(
        ["the quick brown fox jumps over that lazy dog with great energy and"] * 5
    )  # 60 words, all alphabetic, plenty of required stops
    bullets = "\n".join(f"- {w}" for w in good.split())[:400]
    dots = " ".join(["see the thing that we have to handle ..."] * 9)
    symbols = good + " " + " ".join(["#tag"] * 20)
    short = "the cat sat with that dog"
    rows = [
        (1, good), (2, bullets), (3, dots), (4, symbols), (5, short),
        (6, " ".join(["zzzzzzzzzzzzzzzz"] * 60)),  # mean word len 16, no stops
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_quality_gates(df).collect()}
    assert out[1].keep
    assert not out[2].keep and out[2].bullet_ratio >= 0.9
    assert not out[3].keep and out[3].symbol_ratio > 0.1
    assert not out[4].keep and out[4].symbol_ratio > 0.1
    assert not out[5].keep and out[5].n_words < 50
    assert not out[6].keep and out[6].mean_word_len > 10
    assert out[6].n_required_stops == 0
    # every measurement is emitted, not just the verdict
    assert set(out[1].asDict()) == {
        "doc_id", "n_words", "mean_word_len", "symbol_ratio", "bullet_ratio",
        "ellipsis_ratio", "alpha_word_ratio", "n_required_stops", "keep",
    }


def test_bloom_contamination_superset_and_low_fill_equality(spark):
    from hadoop_app_spark.operators.corpus import (
        bloom_contamination_stats,
        contamination_stats,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    bench = docs.where("doc_id % 50 = 0")
    exact = {
        r.doc_id: r.n_contaminated
        for r in contamination_stats(docs, bench, "text", "doc_id", n=8).collect()
    }
    bloom = {
        r.doc_id: r.n_flagged
        for r in bloom_contamination_stats(docs, bench, "text", "doc_id", n=8).collect()
    }
    assert set(bloom) == set(exact)
    # Bloom membership can only OVER-flag (no false negatives)...
    assert all(bloom[d] >= exact[d] for d in exact)
    # ...and at the default 2^20 bits with an eval-suite-sized gram set
    # the fill factor is so low the counts coincide exactly
    assert bloom == exact


def test_bloom_filter_is_mergeable(spark):
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.corpus import build_bloom_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    a = docs.where("doc_id % 2 = 0")
    b = docs.where("doc_id % 2 = 1")
    whole = {
        r.word: r.bits for r in build_bloom_filter(docs, "text", n=8).collect()
    }
    merged = {
        r.word: r.bits
        for r in build_bloom_filter(a, "text", n=8)
        .unionByName(build_bloom_filter(b, "text", n=8))
        .groupBy("word")
        .agg(F.expr("bit_or(bits)").alias("bits"))
        .collect()
    }
    assert merged == whole  # union of corpora == bitwise OR of filters


def test_count_min_overestimate_and_mergeable(spark):
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.corpus import (
        build_count_min,
        cms_estimate_tokens,
    )
    from hadoop_app_spark.functions.text import tokenize

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    toks = docs.select(F.explode(tokenize("text")).alias("tok"))
    exact = {r.tok: r.c for r in toks.groupBy("tok").agg(F.count("*").alias("c")).collect()}
    est = {
        r.tok: r.est_count
        for r in cms_estimate_tokens(docs, toks.distinct(), "text", "tok").collect()
    }
    assert set(est) == set(exact)
    # CMS guarantee: estimates NEVER undercount
    assert all(est[t] >= exact[t] for t in exact)
    # at 4 x 16k cells over a tiny vocabulary, collisions are rare:
    # the vast majority of estimates are exact
    exact_frac = sum(est[t] == exact[t] for t in exact) / len(exact)
    assert exact_frac > 0.95

    # mergeability: sketch(A) + sketch(B) == sketch(A union B), cell-wise
    a, b = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    whole = {(r.row, r.col): r.c for r in build_count_min(docs).collect()}
    merged: dict = {}
    for part in (a, b):
        for r in build_count_min(part).collect():
            merged[(r.row, r.col)] = merged.get((r.row, r.col), 0) + r.c
    assert merged == whole


def test_edit1_pairs_blocking_complete_vs_brute_force(spark):
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.dedup import edit1_pairs

    words = [
        "spark", "spark", "spork", "sprak", "shark", "sharks", "stark",
        "quantize", "quantizes", "quantise", "merge", "marge", "margin",
        "table", "cable", "fable", "tale",
    ]
    df = spark.createDataFrame([(w,) for w in words], "tok string")
    got = {(r.a, r.b) for r in edit1_pairs(df, "tok", min_len=3).collect()}
    # brute-force oracle over the distinct vocab
    import itertools

    def lev1(a, b):
        if abs(len(a) - len(b)) > 1:
            return False
        if len(a) == len(b):
            return sum(x != y for x, y in zip(a, b)) == 1
        s, l = (a, b) if len(a) < len(b) else (b, a)
        for i in range(len(l)):
            if l[:i] + l[i + 1 :] == s:
                return True
        return False

    vocab = sorted(set(w for w in words if len(w) >= 3))
    want = {(a, b) for a, b in itertools.combinations(vocab, 2) if lev1(a, b)}
    assert got == want  # blocking recall is COMPLETE at distance 1
    assert ("shark", "stark") in got and ("spark", "spork") in got
    assert ("table", "tale") in got  # deletion pair
    assert ("quantise", "quantize") in got  # substitution pair
    # distance-2 pairs blocked by a shared variant must be verified away
    assert ("merge", "margin") not in got


def test_hll_registers_match_reference_and_merge(spark):
    import hashlib

    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.corpus import build_hll, hll_estimate

    keys = [f"key-{i}" for i in range(5000)] + ["key-0", "key-1"]  # dups no-op
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = {(r.register, r.max_rho) for r in build_hll(df, "k").collect()}

    ref: dict = {}
    for k in set(keys):
        h = int(hashlib.md5(k.encode()).hexdigest()[:8], 16)
        reg, w = h >> 20, h & ((1 << 20) - 1)
        rho = 21 if w == 0 else 21 - w.bit_length()
        ref[reg] = max(ref.get(reg, 0), rho)
    assert got == set(ref.items())

    # mergeability: max-merge of per-shard registers == whole-corpus registers
    shard_a = spark.createDataFrame([(k,) for k in keys[:2600]], "k string")
    shard_b = spark.createDataFrame([(k,) for k in keys[2600:]], "k string")
    merged = (
        build_hll(shard_a, "k")
        .unionByName(build_hll(shard_b, "k"))
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert {(r.register, r.max_rho) for r in merged.collect()} == got

    # estimate accuracy: HLL p=12 standard error is 1.04/sqrt(4096) ~ 1.6%;
    # 4 sigma is a deterministic-safe bound for this fixed key set
    est = hll_estimate(build_hll(df, "k")).collect()[0].est_distinct
    assert abs(est - 5000) / 5000 < 0.065


def test_hll_estimate_linear_counting_small_range(spark):
    from hadoop_app_spark.operators.corpus import build_hll, hll_estimate

    df = spark.createDataFrame([(f"x{i}",) for i in range(40)], "k string")
    est = hll_estimate(build_hll(df, "k")).collect()[0].est_distinct
    # with n << m the linear-counting branch is near-exact
    assert abs(est - 40) < 2


def test_kmv_minima_match_reference(spark):
    import hashlib

    from hadoop_app_spark.operators.corpus import build_kmv

    keys = [f"key-{i}" for i in range(500)] + ["key-0", "key-1"]  # dups no-op
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    got = sorted((r.h, r.pos) for r in build_kmv(df, "k", k=64).collect())
    hashes = sorted(
        int(hashlib.md5(k.encode()).hexdigest()[:15], 16) for k in set(keys)
    )
    assert got == [(h, i + 1) for i, h in enumerate(hashes[:64])]


def test_kmv_estimate_accuracy_and_exhaustive_collapse(spark):
    from hadoop_app_spark.operators.corpus import build_kmv, kmv_estimate

    big = spark.createDataFrame([(f"v{i}",) for i in range(5000)], "k string")
    est = kmv_estimate(build_kmv(big, "k", k=256), k=256).collect()[0].est_distinct
    # KMV std err ~ 1/sqrt(k-2) ~ 6.3% at k=256; fixed keys, 3-sigma
    assert abs(est - 5000) / 5000 < 0.19
    small = spark.createDataFrame([(f"v{i}",) for i in range(40)], "k string")
    est_small = kmv_estimate(build_kmv(small, "k", k=64), k=64).collect()[0]
    assert est_small.est_distinct == 40.0  # sketch holds the whole set


def test_mixture_epoch_order_prefix_preserves_mixture(spark):
    from hadoop_app_spark.operators.corpus import mixture_epoch_order

    # synthetic corpus: the prefix property is statistical (uniform
    # hashes), so it needs real per-source mass — testdata has only 25
    # docs per source. Deliberately UNEQUAL source sizes: the n_s/w_s
    # stretch must keep prefix shares at the weights regardless
    sizes = {"src0": 800, "src1": 600, "src2": 400, "src3": 200}
    rows, i = [], 0
    for s, ns in sizes.items():
        for _ in range(ns):
            rows.append((i, s))
            i += 1
    d = spark.createDataFrame(rows, "doc_id long, source string")
    w = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
    ordered = mixture_epoch_order(d, w).orderBy("order_key").collect()
    n = len(ordered)
    assert n == sum(sizes.values())
    # every prefix sees sources at ~target rates (the property the
    # operator exists for); fixed data -> deterministic assertion
    for frac in (0.2, 0.5):
        prefix = ordered[: int(n * frac)]
        for s, ws in w.items():
            share = sum(1 for r in prefix if r.source == s) / len(prefix)
            assert abs(share - ws) < 0.1, (frac, s, share)
    # determinism: same input -> identical keys
    again = mixture_epoch_order(d, w).orderBy("order_key").collect()
    assert [r.doc_id for r in again] == [r.doc_id for r in ordered]


def test_kmv_minima_merge_like_shards(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.corpus import build_kmv

    keys = [f"m{i}" for i in range(2000)]
    whole = spark.createDataFrame([(k,) for k in keys], "k string")
    shard_a = spark.createDataFrame([(k,) for k in keys[:1200]], "k string")
    shard_b = spark.createDataFrame([(k,) for k in keys[900:]], "k string")
    # mergeability: re-ranking the union of per-shard minima == whole-
    # corpus minima (the property that lets sketches roll up across
    # days/shards without re-reading the corpus)
    merged = (
        build_kmv(shard_a, "k", k=64)
        .select("h")
        .unionByName(build_kmv(shard_b, "k", k=64).select("h"))
        .distinct()
        .withColumn("pos", F.row_number().over(Window.orderBy("h")))
        .where(F.col("pos") <= 64)
    )
    assert sorted((r.h, r.pos) for r in merged.collect()) == sorted(
        (r.h, r.pos) for r in build_kmv(whole, "k", k=64).collect()
    )


def test_kmv_pair_overlap_estimates_and_exact_collapse(spark):
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.corpus import build_kmv, kmv_pair_overlap

    # A = 0..2999, B = 2000..4999 -> union 5000, intersection 1000
    rows = [("A", f"v{i}") for i in range(3000)] + [
        ("B", f"v{i}") for i in range(2000, 5000)
    ]
    df = spark.createDataFrame(rows, "g string, k string")
    minima = build_kmv(df, "k", ["g"], k=256)
    r = kmv_pair_overlap(minima, "g", k=256).collect()[0]
    assert abs(r.est_union - 5000) / 5000 < 0.19
    assert abs(r.jaccard - 0.2) < 0.08
    assert abs(r.est_intersection - 1000) / 1000 < 0.45
    # exhaustive pair (both sets fit in k): every estimate is exact
    small = [("A", f"v{i}") for i in range(30)] + [
        ("B", f"v{i}") for i in range(20, 50)
    ]
    sdf = spark.createDataFrame(small, "g string, k string")
    rs = kmv_pair_overlap(build_kmv(sdf, "k", ["g"], k=64), "g", k=64).collect()[0]
    assert (rs.est_union, rs.jaccard, rs.est_intersection) == (50.0, 0.2, 10.0)


def test_triangle_census_known_graph(spark):
    from hadoop_app_spark.operators.graph import triangle_census

    # K4 on 1-4 (4 triangles) + pendant 5-1 + disconnected edge 6-7
    edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (5, 1), (6, 7),
             (2, 1), (4, 3)]  # reversed dups must not double-count
    df = spark.createDataFrame(edges, "src int, dst int")
    r = triangle_census(df).collect()[0]
    assert r.n_nodes == 7 and r.n_edges == 8
    assert r.n_triangles == 4
    # wedge count under degree ordering: every triangle closes exactly
    # one wedge, so wedges >= triangles always
    assert r.n_wedges >= r.n_triangles
    assert r.global_clustering == 3.0 * 4 / r.n_wedges


def test_pagerank_fixedpoint_matches_python_reference(spark):
    from hadoop_app_spark.operators.graph import pagerank_fixedpoint

    edges = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5)]
    nodes = ["a", "b", "c", "d"]  # d is dangling AND isolated
    e = spark.createDataFrame(edges, "src string, dst string, cnt bigint")
    n = spark.createDataFrame([(x,) for x in nodes], "node string")
    got = {r.node: r.rank_scaled for r in pagerank_fixedpoint(e, n, iters=3).collect()}

    # independent pure-integer reference
    SCALE, WS, N = 10**12, 10**6, 4
    tot = {"a": 4, "b": 2, "c": 5}
    w = {(s, d): c * WS // tot[s] for s, d, c in edges}
    rank = {x: SCALE // N for x in nodes}
    base = (SCALE * 15 // 100) // N
    for _ in range(3):
        out_nodes = {s for s, _, _ in edges}
        dang = sum(rank[x] for x in nodes if x not in out_nodes)
        share = dang // N
        contrib = {x: 0 for x in nodes}
        for (s, d), ww in w.items():
            contrib[d] += rank[s] * ww // WS
        rank = {x: base + 85 * (contrib[x] + share) // 100 for x in nodes}
    assert got == rank
    # mass conservation up to deterministic floor losses
    assert 0 < SCALE - sum(rank.values()) < 10 * N * 100


def test_linear_fit_matches_closed_form_reference(spark):
    from hadoop_app_spark.operators.regression import linear_fit

    rows = [
        ("a", 0, 1.0), ("a", 10, 3.5), ("a", 20, 5.0), ("a", 30, 8.5),
        ("b", 5, 2.0), ("b", 5, 4.0),   # zero x-variance -> NULL fit
        ("c", 0, 7.0), ("c", 100, 7.0),  # flat line, exact slope 0
        ("a", None, 9.9), ("a", 40, None),  # excluded rows
    ]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    got = {r.g: (r.n, r.slope, r.intercept) for r in linear_fit(df, "x", "y", ["g"]).collect()}

    # independent exact-fraction reference
    from fractions import Fraction as Fr

    pts = [(x, y) for g, x, y in rows if g == "a" and x is not None and y is not None]
    n = len(pts)
    sx = sum(Fr(x) for x, _ in pts)
    sy = sum(Fr(y) for _, y in pts)
    sxx = sum(Fr(x) * x for x, _ in pts)
    sxy = sum(Fr(x) * Fr(y) for x, y in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    an, aslope, aintercept = got["a"]
    assert an == 4
    assert abs(aslope - float(slope)) < 1e-12
    assert abs(aintercept - float(intercept)) < 1e-12
    assert got["b"] == (2, None, None)
    assert got["c"] == (2, 0.0, 7.0)


def test_bloom_prefilter_join_superset_and_exact_reduction(spark):
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.joins import bloom_prefilter_join, semi_join

    fact = spark.createDataFrame([(i, i % 500) for i in range(4000)], "row_id long, k long")
    keys = spark.createDataFrame([(i,) for i in range(0, 500, 7)], "k long")
    # tiny filter so false positives exist
    passed = bloom_prefilter_join(fact, keys, "k", "k", m_bits=256, k=2)
    true = semi_join(fact, keys, "k")
    got_pass = {r.row_id for r in passed.collect()}
    got_true = {r.row_id for r in true.collect()}
    # NO false negatives: every true match passes the bloom
    assert got_true <= got_pass
    # the tiny filter must actually produce false positives here, and
    # the exact reduction removes precisely them
    assert len(got_pass) > len(got_true)
    reduced = semi_join(passed, keys, "k")
    assert {r.row_id for r in reduced.collect()} == got_true


def test_bloom_prefilter_plan(spark):
    """The probe must be broadcast HASH joins — never a nested loop of
    the fact against the word table."""
    from hadoop_app_spark.operators.joins import bloom_prefilter_join

    fact = spark.createDataFrame([(i, i % 50) for i in range(100)], "row_id long, k long")
    keys = spark.createDataFrame([(i,) for i in range(0, 50, 3)], "k long")
    df = bloom_prefilter_join(fact, keys, "k", "k", m_bits=1024, k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan


def test_scd2_apply_versions_close_and_history_passes_through(spark):
    from hadoop_app_spark.operators.upsert import scd2_apply

    snap = spark.createDataFrame(
        [
            # closed history: must pass through byte-identical
            (1, "a", "2000-01-01 00:00:00", "2001-01-01 00:00:00"),
            # open versions
            (1, "b", "2001-01-01 00:00:00", None),
            (2, "x", "2001-01-01 00:00:00", None),
            (3, "z", "2001-01-01 00:00:00", None),
        ],
        "k int, attr string, valid_from string, valid_to string",
    ).selectExpr(
        "k", "attr",
        "cast(valid_from as timestamp_ntz) valid_from",
        "cast(valid_to as timestamp_ntz) valid_to",
    )
    chg = spark.createDataFrame(
        [
            (1, "c", "2002-06-01 00:00:00", 1, None),   # update k=1
            (1, "d", "2002-06-01 00:00:00", 2, None),   # same-ts: seq breaks tie
            (2, None, "2003-01-01 00:00:00", 1, "D"),   # delete closes, emits nothing
        ],
        "k int, attr string, ts string, seq int, op string",
    ).selectExpr("k", "attr", "cast(ts as timestamp_ntz) ts", "seq", "op")
    out = scd2_apply(
        snap, chg, keys=["k"], attrs=["attr"],
        ts_col="ts", seq_col="seq", op_col="op",
    )
    got = sorted(
        (r.k, r.attr, str(r.valid_from), str(r.valid_to)) for r in out.collect()
    )
    assert got == [
        (1, "a", "2000-01-01 00:00:00", "2001-01-01 00:00:00"),  # history
        (1, "b", "2001-01-01 00:00:00", "2002-06-01 00:00:00"),  # closed by chg
        (1, "c", "2002-06-01 00:00:00", "2002-06-01 00:00:00"),  # zero-width: seq 1 < 2
        (1, "d", "2002-06-01 00:00:00", "None"),                 # new open version
        (2, "x", "2001-01-01 00:00:00", "2003-01-01 00:00:00"),  # closed by DELETE
        (3, "z", "2001-01-01 00:00:00", "None"),                 # untouched open
    ]
    # exactly one open version per surviving key
    opens = [g for g in got if g[3] == "None"]
    assert {g[0] for g in opens} == {1, 3}


def test_alpha_mixture_sample_flattens_head_keeps_tail(spark):
    import math

    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.operators.corpus import alpha_mixture_sample

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    before = {r[0]: r[1] for r in d.groupBy("lang").count().collect()}
    out = alpha_mixture_sample(d, "lang")
    after = {r[0]: r[1] for r in out.groupBy("lang").count().collect()}
    head = max(before, key=before.get)
    # exact integer thresholds: r_g = min(1, isqrt(n)*N*grain // (n*S))
    n_tot = sum(before.values())
    s_sum = sum(math.isqrt(n) for n in before.values())
    for g, n in before.items():
        thr = min(1_000_000, (math.isqrt(n) * n_tot * 1_000_000) // (n * s_sum))
        if thr == 1_000_000:
            assert after.get(g, 0) == n, f"uncapped tail lang {g} must keep all"
    # the head is strictly downsampled, and its kept share shrinks
    assert after[head] < before[head]
    assert after[head] / sum(after.values()) < before[head] / n_tot
    # deterministic: re-running yields the identical membership
    again = {r[0]: r[1] for r in alpha_mixture_sample(d, "lang").groupBy("lang").count().collect()}
    assert again == after


def test_ngrams_from_tokens_matches_python_reference(spark):
    """The zip_with shingle kernel must produce the same content and
    ORDER as the straightforward Python sliding window, across n and
    the short/empty/null edge cases the when-guard covers."""
    from hadoop_app_spark.functions.text import ngrams_from_tokens

    rows = [
        (1, ["a", "b", "c", "d", "e"]),
        (2, ["a", "b", "c"]),      # exactly n for n=3
        (3, ["a", "b"]),           # shorter than n=3 -> empty
        (4, ["a"]),
        (5, []),                   # empty array
        (6, None),                 # null array -> empty (size=null)
        (7, ["x", "x", "x", "x"]),  # repeats preserved positionally
    ]
    df = spark.createDataFrame(rows, "id int, t array<string>")
    for n in (1, 2, 3, 4):
        got = {
            r.id: r.sh
            for r in df.select(
                "id", ngrams_from_tokens(F.col("t"), n).alias("sh")
            ).collect()
        }
        for rid, toks in rows:
            ref = (
                [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
                if toks and len(toks) >= n
                else []
            )
            assert got[rid] == ref, (n, rid, got[rid], ref)


def test_mad_profile_flags_and_degenerate_group(spark):
    from hadoop_app_spark.operators.corpus import mad_profile

    rows = (
        # group "a": median 10, MAD 1 -> 100 is an outlier (|90| > 3)
        [("a", float(v)) for v in (8, 9, 10, 11, 12, 100)]
        # group "z": over half identical -> MAD 0, everything off the
        # median flags (the documented degenerate case)
        + [("z", 5.0)] * 4
        + [("z", 6.0), ("z", 7.0)]
        # NULL values are excluded up front
        + [("a", None)]
    )
    df = spark.createDataFrame(rows, "g string, value double")
    got = {r.g: (r.n, r.med, r.mad, r.n_outliers) for r in mad_profile(df, "value", "g").collect()}
    assert got["a"] == (6, 10, 1, 1)
    assert got["z"] == (6, 5, 0, 2)


def test_compact_bucketed_table_defragments_and_preserves_colocation(spark):
    """Appends fragment a bucketed table one-file-per-(task,bucket);
    compaction must collapse to ~one file per bucket, keep every row,
    keep the bucket/sort spec, and keep the exchange-free join plan."""
    from hadoop_app_spark.operators.bucketing import (
        _bucket_meta,
        bucketed_join,
        compact_bucketed_table,
        write_bucketed,
    )

    base = spark.range(0, 400).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed(base, "bkt_compact", ["k"], 4)
    for lo in (400, 500, 600):
        spark.range(lo, lo + 100).selectExpr("id AS k", "id * 2 AS v").write.mode(
            "append"
        ).format("parquet").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_compact")
    write_bucketed(
        spark.range(0, 700).selectExpr("id AS k", "id * 3 AS rv"),
        "bkt_compact_r",
        ["k"],
        4,
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        stats = compact_bucketed_table(spark, "bkt_compact")
        assert stats["rows"] == 700
        assert stats["files_after"] < stats["files_before"]
        assert stats["files_after"] <= 8  # ~one file per bucket (+noise)
        assert spark.table("bkt_compact").count() == 700
        # spec survived the swap
        n, bcols, scols, provider = _bucket_meta(spark, "bkt_compact")
        assert (n, bcols, scols, provider) == (4, ["k"], ["k"], "parquet")
        # co-location survived: the recurring join still has no Exchange
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "bkt_compact", "bkt_compact_r", "k")
        assert joined.count() == 700
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan and "Exchange" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_compact")
        spark.sql("DROP TABLE IF EXISTS bkt_compact_r")
        spark.sql("DROP TABLE IF EXISTS bkt_compact__compacting")


def test_compact_bucketed_index_keeps_dedup_semantics(spark, tmp_path):
    """Compacting the MinHash band index between increments must not
    change a single survivor — same batches, same index contents, ~one
    file per bucket after."""
    from hadoop_app_spark.operators.bucketing import compact_bucketed_table
    from hadoop_app_spark.operators.dedup import build_minhash_index, dedup_increment

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    t0 = "seed text about columnar storage formats and encodings"
    t1 = "fresh text describing adaptive query execution behavior"
    t2 = "another document on join reordering and cost models"
    seed = docs([(0, t0), (1, "a second seed about write ahead logging")])
    for tbl in ("mh_cmp_a", "mh_cmp_b"):
        build_minhash_index(seed, "text", "doc_id", tbl)
    b1 = docs([(10, t0), (11, t1)])  # 10 dups seed, 11 survives
    b2 = docs([(20, t1), (21, t2)])  # 20 dups b1 survivor, 21 survives

    def surv(tbl, batch, gen):
        out = dedup_increment(
            batch, tbl, "text", "doc_id",
            dropped_table=f"{tbl}_dropped_g{gen}",
        )
        return sorted(r.doc_id for r in out.collect())

    assert surv("mh_cmp_a", b1, 1) == surv("mh_cmp_b", b1, 1) == [11]
    stats = compact_bucketed_table(spark, "mh_cmp_a")  # between days
    assert stats["files_after"] < stats["files_before"]
    assert surv("mh_cmp_a", b2, 2) == surv("mh_cmp_b", b2, 2) == [21]
    # index contents identical post-compaction (b survivors appended too)
    a = sorted(map(tuple, spark.table("mh_cmp_a").collect()))
    b = sorted(map(tuple, spark.table("mh_cmp_b").collect()))
    assert a == b
    for tbl in ("mh_cmp_a", "mh_cmp_b"):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_seed_minhash_index_matches_two_step_form(spark, tmp_path):
    """The fused seed (one signature pass) must produce byte-identical
    index contents AND the same survivors as minhash_dedup followed by
    build_minhash_index."""
    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.operators.dedup import (
        build_minhash_index,
        minhash_dedup,
        seed_minhash_index,
    )

    d = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    surv_fused = seed_minhash_index(d, "text", "doc_id", "mh_fused")
    surv_two = minhash_dedup(d, "text", "doc_id")
    build_minhash_index(surv_two, "text", "doc_id", "mh_twostep")
    assert sorted(r.doc_id for r in surv_fused.collect()) == sorted(
        r.doc_id for r in surv_two.collect()
    )
    a = sorted(map(tuple, spark.table("mh_fused").collect()))
    b = sorted(map(tuple, spark.table("mh_twostep").collect()))
    assert a == b and a
    for t in ("mh_fused", "mh_twostep"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_compact_bucketed_table_preserves_provider(spark):
    """A non-parquet bucketed table must come back in ITS format — the
    spec is copied from the catalog, format included."""
    from hadoop_app_spark.operators.bucketing import (
        _bucket_meta,
        compact_bucketed_table,
        write_bucketed,
    )

    df = spark.range(0, 200).selectExpr("id AS k", "id * 2 AS v")
    write_bucketed(df, "bkt_orc", ["k"], 4, format="orc")
    spark.range(200, 260).selectExpr("id AS k", "id * 2 AS v").write.mode(
        "append"
    ).format("orc").bucketBy(4, "k").sortBy("k").saveAsTable("bkt_orc")
    try:
        stats = compact_bucketed_table(spark, "bkt_orc")
        assert stats["rows"] == 260
        assert _bucket_meta(spark, "bkt_orc")[3] == "orc"
        assert spark.table("bkt_orc").count() == 260
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_orc")
        spark.sql("DROP TABLE IF EXISTS bkt_orc__compacting")


def test_simhash_increment_policy_and_verify(spark):
    """The Hamming-family increment: identical text drops via the
    index, novel text survives, a later batch loses to an earlier
    batch's survivor, and a bucket hit WITHOUT the Hamming verify must
    NOT drop (max_hamming=0 keeps what max_hamming=3 drops)."""
    from pyspark.sql import functions as F

    from hadoop_app_spark.operators.dedup import (
        seed_simhash_index,
        simhash_increment,
        simhash_wide,
    )

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    t0 = (
        "storage engines keep hot pages in shared buffer pools while eviction "
        "policies track recency and frequency so sequential scans never wipe "
        "the working set and checkpoints flush dirty pages in the background"
    )
    # one token swapped (eviction -> beacon): measured hamming 2 on the
    # 56-bit crc32 fingerprint of simhash_wide, asserted below so drift
    # is loud
    t0_near = (
        "storage engines keep hot pages in shared buffer pools while beacon "
        "policies track recency and frequency so sequential scans never wipe "
        "the working set and checkpoints flush dirty pages in the background"
    )
    t1 = "vectorized execution batches tuples through operators at once"
    t2 = "cost based optimizers reorder joins using cardinality estimates"
    seed = docs([(0, t0), (1, "write ahead logging makes commits durable")])
    try:
        surv0 = seed_simhash_index(seed, "text", "doc_id", "sh_t_idx")
        assert sorted(r.doc_id for r in surv0.collect()) == [0, 1]

        # precondition: the near-dup is within hamming 1..3 of t0
        sh = {
            r.doc_id: r.simhash
            for r in simhash_wide(
                docs([(0, t0), (9, t0_near)]), "text", "doc_id"
            ).collect()
        }
        ham = bin(sh[0] ^ sh[9]).count("1")
        assert 1 <= ham <= 3, f"fixture drifted: hamming={ham}"

        b1 = docs([(10, t0), (11, t1), (12, t0_near)])
        s1 = simhash_increment(
            b1, "sh_t_idx", "text", "doc_id", dropped_table="sh_t_d1"
        )
        # 10 identical -> index hit; 12 within hamming 3 -> verified hit
        assert sorted(r.doc_id for r in s1.collect()) == [11]

        b2 = docs([(20, t1), (21, t2)])
        s2 = simhash_increment(
            b2, "sh_t_idx", "text", "doc_id", dropped_table="sh_t_d2"
        )
        # 20 dups batch-1 survivor 11 via the index append
        assert sorted(r.doc_id for r in s2.collect()) == [21]

        # verify matters: at max_hamming=0 the near-dup (hamming 1..3,
        # same band by pigeonhole) is a bucket CANDIDATE but fails the
        # verify and survives
        seed_simhash_index(seed, "text", "doc_id", "sh_t_idx0")
        s0 = simhash_increment(
            docs([(30, t0_near)]), "sh_t_idx0", "text", "doc_id",
            max_hamming=0, dropped_table="sh_t_d0", append=False,
        )
        assert sorted(r.doc_id for r in s0.collect()) == [30]
    finally:
        for t in ("sh_t_idx", "sh_t_idx0", "sh_t_d1", "sh_t_d2", "sh_t_d0"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_check_expectations_verdicts_and_metrics(spark):
    """Synthetic table with known defects: every expectation class
    measures the exact violation count and judges accordingly."""
    from hadoop_app_spark.operators.expectations import (
        AcceptedValues,
        ForeignKey,
        NotNull,
        RowCountBetween,
        UniqueKey,
        ValueRange,
        check_expectations,
    )

    df = spark.createDataFrame(
        [
            (1, 10, "A"),
            (2, 10, "B"),
            (2, 200, "A"),  # dup key, out-of-range v
            (None, 5, "C"),  # null key, foreign category
            (4, None, "A"),  # null measure
        ],
        "k int, v int, cat string",
    )
    dim = spark.createDataFrame([(1,), (2,), (4,)], "dk int")
    out = {
        r.expectation: (r.metric, r.passed)
        for r in check_expectations(
            df,
            [
                RowCountBetween(1, 4),  # fails: 5 rows
                NotNull("k"),  # fails: 1 null
                UniqueKey(("k",)),  # fails: 5 rows, 3 distinct (count_distinct
                # ignores NULL, so a null key also counts as a violation —
                # same semantics as the DuckDB oracle's count(DISTINCT))
                ValueRange("v", 0, 100),  # fails: 200 and NULL -> 2
                AcceptedValues("cat", ("A", "B")),  # fails: C -> 1
                ForeignKey("k", dim, "dk"),  # passes: nulls exempt
            ],
        ).collect()
    }
    assert out["row_count_between(1,4)"] == (5.0, False)
    assert out["not_null(k)"] == (1.0, False)
    assert out["unique_key(k)"] == (2.0, False)
    assert out["value_range(v,0,100)"] == (2.0, False)
    assert out["accepted_values(cat)"] == (1.0, False)
    assert out["foreign_key(k->dk)"] == (0.0, True)

    clean = spark.createDataFrame([(1, 5, "A"), (2, 7, "B")], "k int, v int, cat string")
    verdicts = check_expectations(
        clean,
        [
            RowCountBetween(1, 10),
            NotNull("k"),
            UniqueKey(("k",)),
            ValueRange("v", 0, 100),
            AcceptedValues("cat", ("A", "B")),
            ForeignKey("k", dim, "dk"),
        ],
    )
    assert all(r.passed for r in verdicts.collect())


def test_check_expectations_dangling_foreign_key(spark):
    from hadoop_app_spark.operators.expectations import ForeignKey, check_expectations

    df = spark.createDataFrame([(1,), (2,), (3,), (3,)], "k int")
    dim = spark.createDataFrame([(1,), (2,)], "dk int")
    [r] = check_expectations(df, [ForeignKey("k", dim, "dk")]).collect()
    assert (r.metric, r.passed) == (2.0, False)  # both 3-rows dangle


def test_leakage_safe_split_families_never_straddle(spark):
    """Every near-dup family lands in ONE split; weights route by the
    component hash; singletons follow their own id; bad weights raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.operators.dedup import leakage_safe_split, minhash_lsh_pairs, minhash_signatures

    d = load_table(spark, "/root/testdata/sf0.001", "documents")
    out = leakage_safe_split(d, "text", "doc_id")
    rows = out.collect()
    assert len(rows) == d.count()
    # one split per component — the invariant the operator exists for
    per_comp = (
        out.groupBy("component")
        .agg(F.count_distinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .count()
    )
    assert per_comp == 0
    # the split respects the family structure: both ends of every
    # candidate pair share a component AND a split
    pairs = minhash_lsh_pairs(
        minhash_signatures(d, "text", "doc_id"), "doc_id"
    )
    a = out.select(F.col("doc_id").alias("id_a"), F.col("split").alias("sa"),
                   F.col("component").alias("ca"))
    b = out.select(F.col("doc_id").alias("id_b"), F.col("split").alias("sb"),
                   F.col("component").alias("cb"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    assert j.where((F.col("sa") != F.col("sb")) | (F.col("ca") != F.col("cb"))).count() == 0
    # all three splits materialize at this corpus size
    got = {r.split for r in rows}
    assert got == {"train", "val", "test"}
    with _pytest.raises(ValueError, match="sum to 100"):
        leakage_safe_split(d, "text", "doc_id", weights=(("a", 50), ("b", 40)))


def test_check_expectations_edge_contracts(spark):
    """Empty table -> real verdicts (never NULL passed); empty spec
    list raises; single-split weights work."""
    import pytest as _pytest

    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.operators.dedup import leakage_safe_split
    from hadoop_app_spark.operators.expectations import (
        AcceptedValues,
        NotNull,
        RowCountBetween,
        ValueRange,
        check_expectations,
    )

    empty = spark.createDataFrame([], "k int, v int, cat string")
    rows = check_expectations(
        empty,
        [
            RowCountBetween(1, 10),  # fails: zero rows
            NotNull("k"),
            ValueRange("v", 0, 100),
            AcceptedValues("cat", ("A",)),
        ],
    ).collect()
    # every verdict is a real boolean (a bare sum over zero rows is
    # NULL, which would be neither alert-on-false nor require-true)
    assert all(r.passed is not None for r in rows)
    assert {r.expectation: r.passed for r in rows}["row_count_between(1,10)"] is False
    assert sum(0 if r.passed else 1 for r in rows) == 1

    with _pytest.raises(ValueError, match="no expectations"):
        check_expectations(empty, [])

    d = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    one = leakage_safe_split(d, "text", "doc_id", weights=(("train", 100),))
    assert {r.split for r in one.collect()} == {"train"}


def test_pin_split_assignments_adoption_and_conflicts(spark):
    """Pins never move; new family members adopt the smallest pinned
    member's split even when the fresh hash disagrees; merged families
    with clashing pins are reported, not silently re-routed; appended
    pins make the next run fully pinned."""
    from hadoop_app_spark.operators.dedup import pin_split_assignments

    spark.sql("DROP TABLE IF EXISTS pins_t")
    spark.sql("DROP TABLE IF EXISTS pins_t_latest")
    spark.createDataFrame(
        [(1, "train"), (2, "test")], "doc_id long, split string"
    ).write.format("parquet").saveAsTable("pins_t")

    # day 2: doc 3 bridges 1 and 2 into one family; doc 9 is new alone
    labeled = spark.createDataFrame(
        [(1, 1, "val"), (2, 1, "val"), (3, 1, "val"), (9, 9, "val")],
        "doc_id long, component long, split string",
    )
    out, conflicts = pin_split_assignments(labeled, "pins_t")
    got = {r.doc_id: (r.split, r.pinned) for r in out.collect()}
    assert got == {
        1: ("train", True),   # pin kept
        2: ("test", True),    # pin kept despite the merge
        3: ("train", False),  # adopts min pinned id (1)'s split
        9: ("val", False),    # new family: fresh hash split
    }
    assert [(r.component, r.n_splits, r.n_docs) for r in conflicts.collect()] == [
        (1, 2, 3)
    ]
    # appended: the next run sees everything pinned, splits unchanged
    out2, conflicts2 = pin_split_assignments(labeled, "pins_t", append=False)
    got2 = {r.doc_id: (r.split, r.pinned) for r in out2.collect()}
    assert got2 == {k: (v[0], True) for k, v in got.items()}
    assert conflicts2.count() == 1
    spark.sql("DROP TABLE IF EXISTS pins_t")
    spark.sql("DROP TABLE IF EXISTS pins_t_latest")


def test_increment_param_mismatch_raises(spark, docs_df):
    """An increment called with different signature parameters than
    the index was built with would probe incompatible buckets and get
    ZERO hits — silently skipping index dedup. The recorded table
    properties must turn that into a loud failure, in both families."""
    import pytest as _pytest

    from hadoop_app_spark.operators.dedup import (
        build_minhash_index,
        dedup_increment,
        seed_simhash_index,
        simhash_increment,
    )

    for t in ("mh_prm_t", "mh_prm_t_dropped", "sh_prm_t", "sh_prm_t_dropped"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    seed = docs_df.where(F.col("doc_id").isin(1, 4))
    build_minhash_index(seed, "text", "doc_id", "mh_prm_t", n=3, k=8, bands=4)
    batch = spark.createDataFrame(
        [(31, "entirely novel content for the parameter mismatch check here")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="different signature parameters"):
        dedup_increment(batch, "mh_prm_t", "text", "doc_id", n=5, k=8, bands=4)
    # matching params still work
    out = dedup_increment(batch, "mh_prm_t", "text", "doc_id", n=3, k=8, bands=4)
    assert sorted(r.doc_id for r in out.collect()) == [31]
    # an index whose properties record another token hash family has
    # incompatible buckets, whatever n/k/bands say
    for other in ("xxhash64", "poly"):
        spark.sql(f"ALTER TABLE mh_prm_t SET TBLPROPERTIES ('dedup.hash_fn'='{other}')")
        with _pytest.raises(ValueError, match="different signature parameters"):
            dedup_increment(batch, "mh_prm_t", "text", "doc_id", n=3, k=8, bands=4)

    seed_simhash_index(seed, "text", "doc_id", "sh_prm_t", bands=4, half_bits=28)
    with _pytest.raises(ValueError, match="different signature parameters"):
        simhash_increment(batch, "sh_prm_t", "text", "doc_id", half_bits=16)
    for t in ("mh_prm_t", "mh_prm_t_dropped", "sh_prm_t", "sh_prm_t_dropped"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_index_params_survive_compaction(spark, docs_df):
    """compact_bucketed_table swaps through a fresh staging table —
    the recorded dedup.* properties must be carried across or the
    mismatch guard goes blind after every defrag."""
    from hadoop_app_spark.operators.bucketing import compact_bucketed_table
    from hadoop_app_spark.operators.dedup import build_minhash_index

    for t in ("mh_cmp_t", "mh_cmp_t__compacting"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    build_minhash_index(
        docs_df.where(F.col("doc_id").isin(1, 4)), "text", "doc_id", "mh_cmp_t", n=3
    )
    compact_bucketed_table(spark, "mh_cmp_t")
    props = {
        r["key"]: r["value"]
        for r in spark.sql("SHOW TBLPROPERTIES mh_cmp_t").collect()
    }
    assert props.get("dedup.n") == "3"
    assert props.get("dedup.hash_fn") == "crc32"
    spark.sql("DROP TABLE IF EXISTS mh_cmp_t")


def test_label_propagation_deterministic_communities(spark):
    """Weighted synchronous LPA on a hand-built graph: two 3-cliques
    joined by one weak bridge stay separate communities; each
    community converges to its lexicographically-smallest seed label
    (the tie rule); an isolated node keeps its own label; a self-loop
    acts as label retention."""
    from hadoop_app_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        # clique A: a1-a2-a3 (heavy), clique B: b1-b2-b3 (heavy),
        # weak bridge a3-b1, self-loop c (isolated with self-loop),
        # d fully isolated
        [
            ("a1", "a2", 10), ("a2", "a3", 10), ("a1", "a3", 10),
            ("b1", "b2", 10), ("b2", "b3", 10), ("b1", "b3", 10),
            ("a3", "b1", 1),
            ("c", "c", 5),
        ],
        "src string, dst string, cnt long",
    )
    nodes = spark.createDataFrame(
        [("a1",), ("a2",), ("a3",), ("b1",), ("b2",), ("b3",), ("c",), ("d",)],
        "node string",
    )
    out = {r.node: r.community for r in label_propagation(edges, nodes, iters=3).collect()}
    assert out["a1"] == out["a2"] == out["a3"] == "a1"
    assert out["b1"] == out["b2"] == out["b3"] == "b1"
    assert out["a1"] != out["b1"]  # the weak bridge does not merge them
    assert out["c"] == "c"  # self-loop retains
    assert out["d"] == "d"  # no neighbors: keeps own label


def test_label_propagation_tie_breaks_to_smallest_label(spark):
    """Equal-weight two-node graph: after one synchronous round each
    node adopts the other's label; the EDGE-WEIGHT argmax ties inside
    a round go to the lexicographically smallest label."""
    from hadoop_app_spark.operators.graph import label_propagation

    # y's neighbors x and z offer labels 'x' and 'z' at EQUAL weight:
    # y must adopt 'x' (smallest), never 'z'
    edges = spark.createDataFrame(
        [("x", "y", 7), ("y", "z", 7)], "src string, dst string, cnt long"
    )
    nodes = spark.createDataFrame([("x",), ("y",), ("z",)], "node string")
    out = {r.node: r.community for r in label_propagation(edges, nodes, iters=1).collect()}
    assert out["y"] == "x"
    assert out["x"] == "y" and out["z"] == "y"  # their only neighbor


def test_hll_index_merge_equals_one_shot_and_guards_precision(spark):
    """Register merges are associative: seed + two daily merges holds
    exactly the one-shot build's registers; a merge at a different
    precision fails loudly before touching a register."""
    import pytest as _pytest

    from hadoop_app_spark.operators.corpus import (
        build_hll,
        merge_hll_index,
        seed_hll_index,
    )

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "source", F.col("text").alias("s")
    )
    seed_hll_index(d.where(F.col("doc_id") % 3 == 0), "s", ["source"], "hll_t1")
    for gen in (1, 2):
        merge_hll_index(d.where(F.col("doc_id") % 3 == gen), "hll_t1", "s", ["source"])
    got = {
        (r.source, r.register): r.max_rho for r in spark.table("hll_t1").collect()
    }
    want = {
        (r.source, r.register): r.max_rho
        for r in build_hll(d, "s", ["source"]).collect()
    }
    assert got == want
    with _pytest.raises(ValueError, match="p="):
        merge_hll_index(d.limit(5), "hll_t1", "s", ["source"], p=10)


def test_drift_bound_expectation_gates_shifted_batches(spark):
    """DriftBound admits a batch whose binned distribution matches the
    reference and fails one that shifted — with the TVD metric in the
    verdict so the quarantine reason is quantified."""
    from hadoop_app_spark.operators.expectations import (
        DriftBound,
        check_expectations,
    )

    # reference: uniform over bins 0..3 (v in 0..399, bin = v div 100)
    ref = spark.createDataFrame([(i, i % 400) for i in range(400)], "id long, v long")
    ok_batch = spark.createDataFrame(
        [(1000 + i, (i * 5) % 400) for i in range(80)], "id long, v long"
    )
    skew_batch = spark.createDataFrame(
        [(2000 + i, i % 100) for i in range(80)], "id long, v long"  # bin 0 only
    )
    spec = [DriftBound("v div 100", ref, max_tvd_milli=100)]
    ok = check_expectations(ok_batch, spec).collect()[0]
    assert ok["passed"] and ok["metric"] == 0.0
    bad = check_expectations(skew_batch, spec).collect()[0]
    # skew batch: all mass in bin 0 (1000 milli vs 250) -> TVD = 750
    assert not bad["passed"] and bad["metric"] == 750.0


def test_drift_bound_gates_streaming_ingest(spark, tmp_path):
    """The drift gate composes with the validated ingest stream: a
    distribution-shifted file quarantines whole (tagged with the
    drift_bound expectation name) while a matching file is admitted."""
    import os

    from hadoop_app_spark.operators.expectations import DriftBound
    from hadoop_app_spark.operators.dedup import seed_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", "n_chars"
    )
    ref = d.where(F.col("doc_id") % 3 == 0)
    seed_minhash_index(ref, "text", "doc_id", "drift_seed_idx")

    src = str(tmp_path / "src")
    os.makedirs(src)

    def _land(df, gen):
        stage = str(tmp_path / f"s{gen}")
        df.coalesce(1).write.parquet(stage)
        part = next(
            f for f in sorted(os.listdir(stage)) if f.endswith(".parquet")
        )
        dst = os.path.join(src, f"g{gen}.parquet")
        os.rename(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + gen, 1_000_000_000 + gen))

    # batch 1 mirrors the reference mix; batch 2 is all-short docs;
    # batch 3 is the CLEAN RESEND of batch 2's docs (true lengths)
    _land(d.where(F.col("doc_id") % 3 == 1), 1)
    _land(
        d.where(F.col("doc_id") % 3 == 2).withColumn(
            "n_chars", F.col("n_chars") % 50
        ),
        2,
    )
    _land(d.where(F.col("doc_id") % 3 == 2), 3)
    out, quar, ck = (str(tmp_path / x) for x in ("out", "quar", "ck"))
    q = dedup_ingest_stream(
        spark, src, d.schema, "drift_seed_idx", "text", "doc_id", out, ck,
        expectations=[DriftBound("n_chars div 200", ref, max_tvd_milli=400)],
        quarantine_path=quar,
    )
    q.awaitTermination()
    admitted = spark.read.parquet(out)
    quarantined = spark.read.parquet(quar)
    assert admitted.where(F.col("generation") == 1).count() > 0
    assert admitted.where(F.col("generation") == 2).count() == 0
    # the clean resend lands (and deduped against gen 1's index rows)
    assert admitted.where(F.col("generation") == 3).count() > 0
    reasons = {r.quarantine_reason for r in quarantined.select("quarantine_reason").collect()}
    assert len(reasons) == 1
    reason = next(iter(reasons))
    # the tag quantifies the diversion: name + the measured TVD milli
    assert "drift_bound" in reason
    import re

    m = re.search(r"=(\d+(\.\d+)?)$", reason)
    assert m and float(m.group(1)) > 400, reason


def test_stream_drift_ingest_registry_entry(spark):
    """The gated stream_drift_ingest_exec entry (VERDICT r11 item 3):
    three generations come back — 1 admitted, 2 quarantined whole with
    the TVD-carrying drift_bound tag on EVERY row, 3 admitted as the
    clean resend deduped against day-1's index (so gen-3 survivors
    never exceed gen-2's row count)."""
    from hadoop_app_spark.queries import REGISTRY

    out = REGISTRY["stream_drift_ingest_exec"].fn(spark, "/root/testdata/sf0.001")
    by_gen = {
        r["generation"]: r["n"]
        for r in out.groupBy("generation").agg(F.count("*").alias("n")).collect()
    }
    assert set(by_gen) == {1, 2, 3}
    q = out.where(F.col("generation") == 2)
    reasons = {r["quarantine_reason"] for r in q.select("quarantine_reason").collect()}
    assert len(reasons) == 1
    reason = next(iter(reasons))
    assert reason.startswith("drift_bound(n_chars div 200,400)=")
    assert float(reason.split("=")[1]) > 400
    # the shifted batch was quarantined WHOLE (no dedup): every mod-7==2
    # doc is present; the clean resend then deduped against the index
    assert by_gen[3] <= by_gen[2]
    assert out.where(
        (F.col("generation") != 2) & F.col("quarantine_reason").isNotNull()
    ).count() == 0


def test_matrix_lit_bit_equals_f_lit(spark):
    """r13: matrix_lit builds the centroid-matrix literal as one parsed
    expression (0.43 s of py4j per (16, 64) F.lit call removed); the
    parsed values must be BIT-identical to F.lit's, including subnormal,
    negative-zero, and max-double extremes (repr is the shortest
    round-trip form; the SQL parser converts it back exactly)."""
    import struct

    from pyspark.sql import functions as F

    from hadoop_app_spark.functions.vectors import matrix_lit

    rows = [
        [0.1, -2.5e17, 1e-308, -0.0, 5e-324, 1.7976931348623157e308],
        [3.141592653589793, -1e-05, 123456789.123456789, 7.0, -4.9e-324, 2.2250738585072014e-308],
    ]
    a = spark.range(1).select(F.lit(rows).alias("m")).collect()[0]["m"]
    b = spark.range(1).select(matrix_lit(rows).alias("m")).collect()[0]["m"]
    bits = lambda m: [struct.pack("<d", x) for r in m for x in r]  # noqa: E731
    assert bits(a) == bits(b)
