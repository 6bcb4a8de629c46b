"""Golden tests for the recommendation pipeline (UserHotcar/UserNewcar),
fixtures per FIXTURES.md A3-A5."""

from __future__ import annotations

import json
import math

import pytest

from hadoop_app_spark.plans.recommend import recommend_cars, run_user_hotcar, run_user_newcar
from hadoop_app_spark.sources.delim001 import read_city_cars, read_user_profiles

SEP = "\x01"


def profile_line(user, cityid_enc, priceid):
    doc = {"bycar_profile": {"cityid": cityid_enc, "priceid": priceid}}
    return f"{user}{SEP}{json.dumps(doc)}"


def cars_line(city, infoidlist):
    return f"{city}{SEP}{json.dumps({'infoidlist': infoidlist})}"


@pytest.fixture()
def fixture_paths(tmp_path):
    profiles = tmp_path / "profiles.txt"
    profiles.write_text(
        "\n".join(
            [
                profile_line("u1", "2@0.9$3@0.8", "150"),  # multi-city
                profile_line("u2", "2@1.0", "90"),  # single city
                profile_line("u3", "9@0.5", "100"),  # city with no cars -> dropped
                profile_line("u4", "2@0.7", "garbage"),  # bad price -> 0.0
                "malformed-no-separator",
            ]
        )
        + "\n"
    )
    cars = tmp_path / "cars.txt"
    cars.write_text(
        "\n".join(
            [
                cars_line("2", "a@100,b@200,c@140"),
                cars_line("3", "z@150"),  # single car -> NaN score group
            ]
        )
        + "\n"
    )
    return str(profiles), str(cars)


def test_profile_source(spark, fixture_paths):
    profiles, _ = fixture_paths
    rows = {(r.user_id, r.city_id): r for r in read_user_profiles(spark, profiles).collect()}
    assert set(rows) == {("u1", "2"), ("u1", "3"), ("u2", "2"), ("u3", "9"), ("u4", "2")}
    assert rows[("u1", "2")].fav_price == 150.0
    assert rows[("u1", "3")].city_score == 0.8
    assert rows[("u4", "2")].fav_price == 0.0  # garbage priceid fallback


def test_first_city_only_compat(spark, fixture_paths):
    """split("$") regex bug: u1 keeps only city 2 (SURVEY §1.3.2)."""
    profiles, _ = fixture_paths
    rows = {(r.user_id, r.city_id) for r in read_user_profiles(spark, profiles, first_city_only=True).collect()}
    assert rows == {("u1", "2"), ("u2", "2"), ("u3", "9"), ("u4", "2")}


def test_cars_source(spark, fixture_paths):
    _, cars = fixture_paths
    rows = {(r.city_id, r.info_id): r.price for r in read_city_cars(spark, cars).collect()}
    assert rows == {("2", "a"): 100.0, ("2", "b"): 200.0, ("2", "c"): 140.0, ("3", "z"): 150.0}


def test_recommend_golden(spark, fixture_paths):
    profiles_p, cars_p = fixture_paths
    recs = run_user_hotcar(spark, profiles_p, cars_p)
    by_key = {}
    for r in recs.collect():
        by_key.setdefault((r.user_id, r.city_id), []).append(r)

    # u3 (city 9, no cars) dropped by inner broadcast-join semantics (P4)
    assert ("u3", "9") not in by_key

    # u1/city2: fav 150 -> dists a=50 b=50 c=10; order (c,10),(a,50),(b,50)
    u1c2 = sorted(by_key[("u1", "2")], key=lambda r: r.rank)
    assert [r.info_id for r in u1c2] == ["c", "a", "b"]  # tie a/b broken by info_id
    # min=10 max=50: score(c)=1, score(a)=score(b)=0
    assert [round(r.score, 6) for r in u1c2] == [1.0, 0.0, 0.0]

    # u1/city3: single car -> 0/0 = NaN (nan_compat default, §1.3.5)
    assert math.isnan(by_key[("u1", "3")][0].score)

    # u4: garbage price -> fav 0.0; dists a=100 c=140 b=200
    u4 = sorted(by_key[("u4", "2")], key=lambda r: r.rank)
    assert [r.info_id for r in u4] == ["a", "c", "b"]
    assert [round(r.score, 6) for r in u4] == [1.0, 0.6, 0.0]


def test_nan_compat_off(spark, fixture_paths):
    profiles_p, cars_p = fixture_paths
    profiles = read_user_profiles(spark, profiles_p)
    cars = read_city_cars(spark, cars_p)
    recs = recommend_cars(profiles, cars, nan_compat=False)
    u1c3 = [r for r in recs.collect() if (r.user_id, r.city_id) == ("u1", "3")]
    assert u1c3[0].score == 1.0


def test_top_k_bound(spark, tmp_path):
    """K bounds output per group: 100 hotcar / 60 newcar constants."""
    profiles = tmp_path / "p.txt"
    profiles.write_text(profile_line("u", "1@1.0", "0") + "\n")
    cars = tmp_path / "c.txt"
    infoidlist = ",".join(f"i{k:03d}@{k}" for k in range(150))
    cars.write_text(cars_line("1", infoidlist) + "\n")
    recs = run_user_hotcar(spark, str(profiles), str(cars))
    assert recs.count() == 100


def test_newcar_dt_partition(spark, tmp_path):
    """UserNewcar reads the dt= partition of the side input (S7)."""
    profiles = tmp_path / "p.txt"
    profiles.write_text(profile_line("u", "1@1.0", "100") + "\n")
    base = tmp_path / "cars"
    (base / "dt=2016-07-03").mkdir(parents=True)
    (base / "dt=2016-07-04").mkdir(parents=True)
    (base / "dt=2016-07-03" / "part-0.txt").write_text(cars_line("1", "old@50") + "\n")
    (base / "dt=2016-07-04" / "part-0.txt").write_text(cars_line("1", "new@50") + "\n")
    recs = run_user_newcar(spark, str(profiles), str(base), dt="2016-07-04")
    assert [r.info_id for r in recs.collect()] == ["new"]


def test_output_assembly(spark, fixture_paths, tmp_path):
    """Output line shape: user_cityId \\x01 {"infoids": "id@score,..."}."""
    profiles_p, cars_p = fixture_paths
    out = str(tmp_path / "out")
    run_user_hotcar(spark, profiles_p, cars_p, out_path=out)
    import glob

    lines = [l for f in glob.glob(out + "/part-*") for l in open(f).read().splitlines()]
    parsed = {}
    for line in lines:
        key, payload = line.split(SEP)
        parsed[key] = json.loads(payload)["infoids"]
    assert set(parsed) == {"u1_2", "u1_3", "u2_2", "u4_2"}
    items = [p.split("@")[0] for p in parsed["u1_2"].split(",")]
    assert items == ["c", "a", "b"]


def test_corpus_pipeline_stages_and_counters(spark):
    """End-to-end curation: PII scrub -> gates -> exact dedup ->
    near-dup removal, with observe counters read after one action."""
    from hadoop_app_spark.plans.corpus_pipeline import curate

    good = (
        "the quick brown fox jumps over the lazy dog and then the dog naps "
        "in the warm sun. it is a calm day and the fox rests too."
    )
    near = good.replace("calm", "quiet")  # near-dup of good (shingle overlap)
    docs = spark.createDataFrame(
        [
            (1, good, "en", "srcA", len(good)),
            (2, good, "en", "srcA", len(good)),              # exact dup of 1
            (3, near, "en", "srcB", len(near)),              # near dup of 1
            (4, "mail me at bob@x.example.com for the offer. it is a good deal "
                "and the price of it is low. act now and see the terms today.",
                "en", "srcB", 125),  # PII but otherwise distinct -> survives scrubbed
            (5, "le chat est sur la table et le chien est la aussi near les fenetres "
                "et la porte. le jour est long et le chat dort bien la nuit.", "fr", "srcA", 120),  # lang gate
            (6, "tiny", "en", "srcB", 4),                    # token-count gate
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    observations = {}
    out = curate(docs, observations=observations)
    rows = {r.doc_id: r for r in out.collect()}

    # survivors: 1 (exact-dup winner), 4 (scrubbed). 2 exact-dupped,
    # 3 near-dupped away, 5 language-gated, 6 length-gated.
    assert set(rows) == {1, 4}
    assert "<EMAIL>" in rows[4].text and "bob@x.example.com" not in rows[4].text
    c = {k: o.get["rows"] for k, o in observations.items()}
    assert c["scrubbed"] == 6
    assert observations["scrubbed"].get["pii_rows"] == 1
    assert c["gated"] == 4          # 5 and 6 dropped by the gates
    assert c["exact_deduped"] == 3  # 2 dropped
    assert c["near_deduped"] == 2   # 3 dropped
    assert c["final"] == 2

    # optional decontamination stage: a benchmark overlapping doc 1's
    # shingles drops it; doc 4 stays
    bench = spark.createDataFrame([(99, good)], "doc_id long, text string")
    obs2: dict = {}
    out2 = curate(docs, benchmark=bench, observations=obs2)
    assert {r.doc_id for r in out2.collect()} == {4}
    assert obs2["decontaminated"].get["rows"] == 1


def test_corpus_pipeline_full_dedup_ladder(spark):
    """r6 (VERDICT r5 item 9): exact -> normalized -> lexical near-dup
    -> semantic near-dup as selectable stages of ONE plan, each stage
    counted, all counters driven by a single action."""
    from hadoop_app_spark.plans.corpus_pipeline import curate

    good = (
        "the quick brown fox jumps over the lazy dog and then the dog naps "
        "in the warm sun. it is a calm day and the fox rests too."
    )
    other = (
        "a long train rolls past the old station at noon and the crowd "
        "waits on the platform while the bell rings out over the town."
    )
    docs = spark.createDataFrame(
        [
            (1, good, "en", "srcA", len(good)),
            # normalized dup of 1: different bytes (case + punctuation),
            # same CCNet-normalized key — exact dedup must MISS it, the
            # normalized rung must catch it
            (2, good.upper() + "!!!", "en", "srcA", len(good)),
            (7, other, "en", "srcB", len(other)),  # semantic dup of 1 (vectors)
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),  # removed before the semantic rung
            (7, [0.999, 0.01, 0.0, 0.0]),  # cosine ~1 with doc 1
        ],
        "vec_id long, embedding array<double>",
    )
    obs: dict = {}
    out = curate(
        docs,
        observations=obs,
        normalized_dedup=True,
        embeddings=emb,
        semdedup_threshold=0.35,
        semdedup_clusters=1,  # one cluster: 1 and 7 must be co-clustered
    )
    survivors = {r.doc_id for r in out.collect()}
    c = {k: o.get["rows"] for k, o in obs.items()}
    assert c["exact_deduped"] == 3          # byte hashes all distinct
    assert c["normalized_deduped"] == 2     # 2 collapses onto 1
    assert c["near_deduped"] == 2           # no lexical near-dups remain
    assert c["sem_deduped"] == 1            # one of the (1, 7) pair pruned
    assert c["final"] == 1
    assert len(survivors) == 1 and survivors <= {1, 7}
    # stage counters are monotone non-increasing through the ladder
    ladder = [c["exact_deduped"], c["normalized_deduped"], c["near_deduped"],
              c["sem_deduped"], c["final"]]
    assert ladder == sorted(ladder, reverse=True)


def test_corpus_pipeline_html_front_and_learned_gate(spark):
    """The WARC-shaped entry: raw HTML pages front the pipeline via
    extraction + boilerplate filtering; a trained quality gate runs
    after the heuristic gates."""
    from hadoop_app_spark.operators.quality_model import train_quality_lr
    from hadoop_app_spark.plans.corpus_pipeline import curate

    body = (
        "the quick brown fox jumps over the lazy dog and then the dog naps "
        "in the warm sun. it is a calm day and the fox rests too."
    )
    page = (
        "<html><head><style>.m .x</style><script>var a=1;</script></head>"
        f"<body><ul><li>Home</li><li>About</li></ul><p>{body}</p>"
        '<div class="footer">Copyright 2026 - All rights reserved.</div></body></html>'
    )
    nav_only = "<html><body><ul><li>Home</li><li>About</li></ul></body></html>"
    docs = spark.createDataFrame(
        [(1, page, "en", "srcA"), (2, nav_only, "en", "srcA"), (3, None, "en", "srcA")],
        "doc_id long, html string, lang string, source string",
    )
    obs: dict = {}
    out = curate(docs, html_col="html", observations=obs)
    rows = {r.doc_id: r for r in out.collect()}
    # nav-only page dies at extraction; the real page survives with the
    # boilerplate (nav items, footer) stripped from its text
    assert set(rows) == {1}
    assert body in rows[1].text
    assert "Home" not in rows[1].text and "rights reserved" not in rows[1].text
    # null html counts as empty too — stage accounting must balance
    # (rows_in - empty == rows_out of the extraction stage)
    assert obs["extracted"].get["empty_after_extraction"] == 2
    assert obs["gated"].get["rows"] == 1

    # learned gate: train on text-shaped labels, then a floor that the
    # surviving doc clears (weights trained to accept long docs)
    train = spark.createDataFrame(
        [(i, body + " extra filler words here." * i, 1 if i > 1 else 0) for i in range(6)],
        "doc_id long, text string, y int",
    )
    w = train_quality_lr(train, "text", "y", n_iter=30, lr=2.0)
    obs2: dict = {}
    out2 = curate(docs, html_col="html", learned_gate=(w, 0.5), observations=obs2)
    assert "model_gated" in obs2
    assert {r.doc_id for r in out2.collect()} <= {1}


def test_corpus_pipeline_dsir_stage(spark):
    """r7 (VERDICT r6 item 9): DSIR target-conditioned selection as the
    selectable LAST rung of curate() — top-dsir_k cleaned docs by
    importance toward the target, counted like every other stage and
    driven by the same single action."""
    from hadoop_app_spark.plans.corpus_pipeline import curate

    # natural-English sentences (the gates must pass: stopword-based
    # language id, quality floor, repetition cap), differing only in
    # the distinctive content words dsir scores on
    t1 = (
        "the spark shuffle and the merge run in the stage and the plan "
        "is fast when the join and the scan share the same exchange."
    )
    t2 = (
        "a spark plan runs the shuffle before the merge and the stage "
        "keeps the window and the scan on the same worker node."
    )
    o3 = (
        "the garden roses bloom in the spring and the soil is wet "
        "while the tulips grow near the fence and the birds sing."
    )
    o4 = (
        "the violin and the cello open the sonata and the tempo rises "
        "while the melody moves through the chord and the hall."
    )
    docs = spark.createDataFrame(
        [
            (1, t1, "en", "srcA", len(t1)),
            (2, t2, "en", "srcA", len(t2)),
            (3, o3, "en", "srcB", len(o3)),
            (4, o4, "en", "srcB", len(o4)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    target = spark.createDataFrame(
        [
            (
                100,
                "the spark shuffle feeds the merge and the stage builds "
                "the plan for the scan and the exchange.",
            )
        ],
        "doc_id long, text string",
    )
    obs: dict = {}
    out = curate(docs, observations=obs, dsir_target=target, dsir_k=2)
    survivors = {r.doc_id for r in out.collect()}
    c = {k: o.get["rows"] for k, o in obs.items()}
    assert survivors == {1, 2}            # the target-like pair wins
    assert c["dsir_selected"] == 2        # the stage counter fires
    assert c["final"] == 2
    assert c["near_deduped"] >= c["dsir_selected"]  # monotone ladder


def _py_top_k(profile_lines, car_lines, top_k):
    """Plain-Python reference of the window semantics: per (user, city)
    row of the profiles, every car of that city; min/max dist over the
    whole group; rank by (dist, info_id) with nulls first and NaN last;
    score 1 - (d - min)/(max - min), NaN on a degenerate group."""

    def num(s):
        try:
            return float(s)
        except (TypeError, ValueError):
            return None

    cars = {}
    for line in car_lines:
        city, doc = line.split(SEP)
        for item in json.loads(doc)["infoidlist"].split(","):
            info_id, price = item.split("@")
            cars.setdefault(city, []).append((info_id, num(price)))
    groups = {}
    for line in profile_lines:
        user, doc = line.split(SEP)
        prof = json.loads(doc)["bycar_profile"]
        fav = num(prof["priceid"])
        fav = 0.0 if fav is None else fav
        for pair in prof["cityid"].split("$"):
            city = pair.split("@")[0]
            for info_id, price in cars.get(city, []):
                dist = None if price is None else abs(fav - price)
                groups.setdefault((user, city), []).append((dist, info_id))
    out = {}
    for key, cands in groups.items():
        dists = [d for d, _ in cands if d is not None]
        finite = [d for d in dists if not math.isnan(d)]
        mn = (min(finite) if finite else math.nan) if dists else None
        mx = (math.nan if len(finite) < len(dists) else max(finite)) if dists else None
        order = sorted(cands, key=lambda c: (c[0] is not None, c[0] is not None and math.isnan(c[0]),
                                             c[0] if c[0] is not None and not math.isnan(c[0]) else 0.0, c[1]))
        rows = []
        for rank, (d, info_id) in enumerate(order[:top_k], 1):
            if d is None or mn is None:
                score = None
            elif mx == mn or math.isnan(mx) or math.isnan(mn):
                score = math.nan
            else:
                score = 1.0 - (d - mn) / (mx - mn)
            rows.append((info_id, d, score, rank))
        out[key] = rows
    return out


def _norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else (round(v, 9) if isinstance(v, float) else v)


def test_top_k_matches_python_window_semantics(spark, tmp_path):
    """Rows and text output equal a plain-Python reference of the
    (user, city) window: nulls first (unparseable and empty price), NaN
    last and propagating into max, dist ties broken by info_id, a city
    listed twice by one user, a duplicated user line with another price,
    and a city spread over two car lines."""
    profile_lines = [
        profile_line("u1", "1@0.9$2@0.5$2@0.3", "50"),  # city 2 listed twice
        profile_line("u2", "2@1.0", "50"),
        profile_line("u2", "2@1.0", "80"),  # duplicated user line, other price
        profile_line("u3", "3@1.0$9@1.0", "abc"),  # fav 0.0; city 9 has no cars
    ]
    car_lines = [
        cars_line("1", "a@xyz,b@90,e@NaN,c@110"),  # unparseable + NaN price
        cars_line("2", "p@50,f@,q@70,r@30,s@70"),  # empty price; dist ties q/r/s
        cars_line("2", "t@60"),  # city 2 on a second car line
        cars_line("3", "z@10"),  # one car: degenerate group
    ]
    profiles = tmp_path / "p.txt"
    profiles.write_text("\n".join(profile_lines + ["malformed"]) + "\n")
    cars = tmp_path / "c.txt"
    cars.write_text("\n".join(car_lines) + "\n")
    out = str(tmp_path / "out")
    recs = run_user_hotcar(spark, str(profiles), str(cars), out_path=out)
    want = _py_top_k(profile_lines, car_lines, 100)
    assert set(want) == {("u1", "1"), ("u1", "2"), ("u2", "2"), ("u3", "3")}
    assert [i for i, *_ in want[("u1", "2")][:4]] == ["f", "f", "p", "p"]
    assert [i for i, *_ in want[("u1", "1")]] == ["a", "b", "c", "e"]

    got_rows = sorted(tuple(_norm(v) for v in r) for r in recs.collect())
    want_rows = sorted(
        tuple(_norm(v) for v in (u, c) + row) for (u, c), rows in want.items() for row in rows
    )
    assert got_rows == want_rows

    import glob

    lines = [l for f in glob.glob(out + "/part-*") for l in open(f, encoding="utf-8").read().splitlines()]
    got_text = {}
    for line in lines:
        key, payload = line.split(SEP)
        items = []
        for item in json.loads(payload)["infoids"].split(","):
            info_id, _, score = item.partition("@")  # a null score has no '@'
            items.append((info_id, _norm(float(score)) if score else None))
        got_text[key] = items
    want_text = {f"{u}_{c}": [(i, _norm(s)) for i, _, s, _ in rows] for (u, c), rows in want.items()}
    assert got_text == want_text


def test_hotcar_write_plan_is_one_aggregation(spark, fixture_paths, tmp_path, monkeypatch):
    """The write plan ranks each (user, city) in one aggregation: no
    Window node, and one shuffle Exchange hash-partitioned on
    (user_id, city_id) beside the side input's BroadcastExchange."""
    from hadoop_app_spark.plans import recommend

    written = []
    write = recommend.write_text_lines

    def capture(df, path):
        written.append(df)
        write(df, path)

    monkeypatch.setattr(recommend, "write_text_lines", capture)
    run_user_hotcar(spark, *fixture_paths, out_path=str(tmp_path / "out"))
    plan = written[0]._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()  # the initial plan, exchanges inserted

    def nodes(n):
        yield n
        for i in range(n.children().size()):
            yield from nodes(n.children().apply(i))

    by_class = {}
    for n in nodes(plan):
        by_class.setdefault(n.getClass().getSimpleName(), []).append(n)
    assert not [c for c in by_class if "Window" in c], sorted(by_class)
    assert len(by_class.get("BroadcastExchangeExec", [])) == 1
    shuffles = by_class.get("ShuffleExchangeExec", [])
    assert len(shuffles) == 1, sorted(by_class)
    part = shuffles[0].outputPartitioning()
    assert part.getClass().getSimpleName() == "HashPartitioning"
    keys = part.expressions()
    assert [keys.apply(i).name() for i in range(keys.size())] == ["user_id", "city_id"]


def test_pair_without_at_sign_reads_as_null_value(spark, tmp_path):
    """An ``id@val`` item with no '@' decodes to a null val instead of
    failing the whole read on an out-of-bounds array index."""
    profiles = tmp_path / "p.txt"
    profiles.write_text(profile_line("u", "1@1.0$2", "100") + "\n")
    cars = tmp_path / "c.txt"
    cars.write_text(cars_line("1", "a@90,b") + "\n")
    assert sorted((r.city_id, r.city_score) for r in read_user_profiles(spark, str(profiles)).collect()) == [
        ("1", 1.0),
        ("2", None),
    ]
    assert sorted((r.info_id, r.price) for r in read_city_cars(spark, str(cars)).collect()) == [
        ("a", 90.0),
        ("b", None),
    ]
