"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes plain files; the library under test only ever sees
those files. The same seed gives byte-identical files. The ETL and corpus
generators also return what the output checks compare against (expected
job outputs; the planted duplicate families), computed here in plain Python
without the library.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# etl_reference: NCDC fixed-width, employee/dept TSV, \x01+JSON profiles/cars
# ---------------------------------------------------------------------------

NEWCAR_DTS = ("2024-01-01", "2024-01-02", "2024-01-03")
NEWCAR_DT = NEWCAR_DTS[1]
HOTCAR_K, NEWCAR_K = 100, 60
MALFORMED_FRAC = 0.01


def _ncdc_line(station: int, year: int, temp: int) -> str:
    # year at [15,19), signed temperature at [87,92), as in the NCDC format
    head = f"{station:010d}99999{year:04d}0101120099999"
    body = head.ljust(87, "0")
    return f"{body}{'+' if temp >= 0 else '-'}{abs(temp):04d}1" + "9" * 13


def _write_lines(path: str, lines: list[str]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(("\n".join(lines) + "\n").encode("utf-8"))


def _malformed_mask(rng: np.random.Generator, n: int) -> np.ndarray:
    return rng.random(n) < MALFORMED_FRAC


def gen_etl(root: str, rng: np.random.Generator, size: dict) -> dict:
    """Write the four reference jobs' inputs under *root*; return paths,
    input line counts and the expected outputs."""
    paths = {
        "ncdc": os.path.join(root, "ncdc"),
        "employee": os.path.join(root, "employee.tsv"),
        "dept": os.path.join(root, "dept.tsv"),
        "profiles": os.path.join(root, "profiles"),
        "hotcar": os.path.join(root, "hotcar"),
        "newcar": os.path.join(root, "newcar"),
    }
    rows = {}

    # NCDC: lines spread over dt= partitions; malformed = truncated lines
    # or an unparseable temperature (both dropped by the reader)
    n = size["ncdc_lines"]
    years = rng.integers(1901, 1931, n)
    temps = rng.integers(-400, 451, n)
    stations = rng.integers(0, 10**9, n)
    bad = _malformed_mask(rng, n)
    max_by_year: dict[int, int] = {}
    lines = []
    for y, t, s, b in zip(years.tolist(), temps.tolist(), stations.tolist(), bad.tolist()):
        line = _ncdc_line(s, y, t)
        if b:
            line = line[:60] if s % 2 else line[:87] + "+X0X0" + line[92:]
        else:
            max_by_year[y] = max(t, max_by_year.get(y, t))
        lines.append(line)
    parts = np.array_split(np.arange(n), len(NEWCAR_DTS))
    for dt, idx in zip(NEWCAR_DTS, parts):
        _write_lines(
            os.path.join(paths["ncdc"], f"dt={dt}", "part-0.txt"), [lines[i] for i in idx]
        )
    rows["ncdc"] = n

    # employee/dept TSV; malformed = wrong field count; some employees
    # point at departments that do not exist (dropped by the inner join)
    n_dept = size["depts"]
    dept_names = {d: f"dept_{d:04d}" for d in range(n_dept)}
    dlines = [f"{d}\t{name}" for d, name in dept_names.items()]
    dlines.append("orphan-line-without-tab")
    _write_lines(paths["dept"], dlines)
    rows["dept"] = len(dlines)

    n = size["employees"]
    dept_ids = rng.integers(0, int(n_dept * 1.1), n)
    salaries = rng.integers(1000, 100000, n)
    bad = _malformed_mask(rng, n)
    elines, joined = [], []
    for i, (d, s, b) in enumerate(zip(dept_ids.tolist(), salaries.tolist(), bad.tolist())):
        name = f"emp_{i:07d}"
        if b:
            elines.append(f"{name}\t{s}\t{d}\textra")
            continue
        elines.append(f"{name}\t{s}\t{d}")
        if d in dept_names:
            joined.append(f"{name}\t{d}\t{dept_names[d]}\t{s}")
    _write_lines(paths["employee"], elines)
    rows["employee"] = n

    # \x01 + JSON car lists per city: hotcar undated, newcar per dt=
    n_city = size["cities"]

    def car_lists(prefix: str) -> dict[str, list[tuple[str, float]]]:
        out = {}
        for c in range(n_city):
            prices = np.round(rng.uniform(50_000, 400_000, size["cars_per_city"]), 2)
            out[str(c)] = [(f"{prefix}{c}x{j:04d}", float(p)) for j, p in enumerate(prices.tolist())]
        return out

    def write_cars(path: str, cars: dict) -> None:
        lines = [
            f"{c}\x01" + json.dumps({"infoidlist": ",".join(f"{i}@{p}" for i, p in lst)})
            for c, lst in cars.items()
        ]
        lines.append("malformed-city-line-without-separator")
        _write_lines(path, lines)

    hot = car_lists("h")
    write_cars(os.path.join(paths["hotcar"], "part-0.txt"), hot)
    newcar = {}
    for dt in NEWCAR_DTS:
        cars = car_lists(f"n{dt[-2:]}_")
        write_cars(os.path.join(paths["newcar"], f"dt={dt}", "part-0.txt"), cars)
        newcar[dt] = cars
    rows["cars"] = (n_city + 1) * (1 + len(NEWCAR_DTS))

    # profiles: userId \x01 {"bycar_profile": {"cityid": "c@s$c@s", "priceid": p}}
    n = size["users"]
    bad = _malformed_mask(rng, n)
    plines, profiles = [], {}
    for u in range(n):
        uid = f"u{u:06d}"
        if bad[u]:
            plines.append(f"{uid}-no-separator")
            continue
        cities = rng.choice(n_city, size["cities_per_user"], replace=False).tolist()
        fav = float(rng.integers(60_000, 390_000))
        doc = {
            "bycar_profile": {
                "cityid": "$".join(f"{c}@0.{k + 1}" for k, c in enumerate(cities)),
                "priceid": str(int(fav)),
            }
        }
        plines.append(f"{uid}\x01{json.dumps(doc)}")
        profiles[uid] = ([str(c) for c in cities], fav)
    _write_lines(os.path.join(paths["profiles"], "part-0.txt"), plines)
    rows["profiles"] = n

    sample = sorted(profiles)[:: max(1, len(profiles) // size["check_users"])]
    expect_recs = {
        "hotcar": _expected_recs(profiles, sample, hot, HOTCAR_K),
        "newcar": _expected_recs(profiles, sample, newcar[NEWCAR_DT], NEWCAR_K),
    }
    joined.sort()
    return {
        "paths": paths,
        "rows": rows,
        "max_temp": {str(y): t for y, t in sorted(max_by_year.items())},
        "join_rows": len(joined),
        "join_lines": joined,
        "recs": expect_recs,
        # one recommendation line per (user, preferred city)
        "rec_groups": sum(len(c) for c, _ in profiles.values()),
    }


def _expected_recs(profiles, users, cars, k) -> dict[str, list[str]]:
    """Top-k info ids per (user, city) key, ordered by (dist, info_id)."""
    out = {}
    for uid in users:
        cities, fav = profiles[uid]
        for c in cities:
            ranked = sorted(cars[c], key=lambda ip: (abs(fav - ip[1]), ip[0]))
            out[f"{uid}_{c}"] = [i for i, _ in ranked[:k]]
    return out


# ---------------------------------------------------------------------------
# corpus_dedup / stream_ingest: corpus with planted duplicate families
# ---------------------------------------------------------------------------

DOC_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])


def _vocab(rng: np.random.Generator, n: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(4, 10, n)
    words = {"".join(rng.choice(letters, L)) for L in lens.tolist()}
    return np.array(sorted(words))


def gen_corpus(rng: np.random.Generator, n_docs: int, exact_frac: float = 0.1,
               near_frac: float = 0.2, edit_frac: float = 0.05,
               doc_tokens: tuple[int, int] = (40, 80)) -> dict:
    """A corpus of *n_docs* docs in which ``exact_frac`` are verbatim
    copies and ``near_frac`` are copies with ``edit_frac`` of tokens
    replaced, of a random earlier base doc. Ids are a random permutation,
    so a copy may get a lower id than its base.

    Returns ``ids`` and ``texts`` (aligned) and ``family`` (doc id -> id
    of the base doc it was copied from; bases map to themselves) and
    ``kind`` (doc id -> 'base' | 'exact' | 'near')."""
    vocab = _vocab(rng, 20_000)
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    n_base = n_docs - n_exact - n_near
    lens = rng.integers(doc_tokens[0], doc_tokens[1] + 1, n_base)
    base_toks = [rng.integers(0, len(vocab), L) for L in lens.tolist()]
    texts = [" ".join(vocab[t]) for t in base_toks]
    src = list(range(n_base))
    kinds = ["base"] * n_base
    for kind, count in (("exact", n_exact), ("near", n_near)):
        parents = rng.integers(0, n_base, count)
        for p in parents.tolist():
            toks = base_toks[p]
            if kind == "near":
                toks = toks.copy()
                n_edit = max(1, int(round(len(toks) * edit_frac)))
                pos = rng.choice(len(toks), n_edit, replace=False)
                toks[pos] = rng.integers(0, len(vocab), n_edit)
                texts.append(" ".join(vocab[toks]))
            else:
                texts.append(texts[p])
            src.append(p)
            kinds.append(kind)
    ids = rng.permutation(n_docs).astype(np.int64)
    return {
        "ids": ids,
        "texts": texts,
        "family": {int(ids[i]): int(ids[src[i]]) for i in range(n_docs)},
        "kind": {int(ids[i]): kinds[i] for i in range(n_docs)},
    }


def write_docs(path: str, ids, texts) -> None:
    """Write docs as one parquet file (``doc_id long, text string``)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())},
                     schema=DOC_SCHEMA)
    pq.write_table(table, path, compression="zstd")


def write_family_map(path: str, corpus: dict) -> None:
    """Save the ground-truth family map next to the corpus."""
    with open(path, "w") as f:
        json.dump({"family": corpus["family"], "kind": corpus["kind"]}, f, sort_keys=True)


# ---------------------------------------------------------------------------
# star_sql: TPC-H-shaped star schema (same columns and value domains as the
# library's star-schema catalog)
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def gen_star(root: str, rng: np.random.Generator, n_lineitem: int) -> str:
    """Write ``{root}/{table}.parquet`` for the star-schema tables, scaled
    so that lineitem has *n_lineitem* rows (TPC-H ratios: orders = 1/4,
    customer = 1/40, part = 1/30, supplier = 1/600 of lineitem); returns
    *root*."""
    os.makedirs(root, exist_ok=True)
    n_ord = max(n_lineitem // 4, 10)
    n_cust = max(n_lineitem // 40, 10)
    n_part = max(n_lineitem // 30, 10)
    n_supp = max(n_lineitem // 600, 10)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    adjs = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    pnames = np.array([f"{a} {n}" for a in adjs for n in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {
            "r_regionkey": pa.array(np.arange(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        },
        "nation": {
            "n_nationkey": pa.array(np.arange(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(pnames[rng.integers(0, len(pnames), n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()]),
            "p_type": pa.array(ptypes[rng.integers(0, len(ptypes), n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, n_part) / 10, 1)),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(money(1000, 500_000, n_ord)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord)),
            "o_orderpriority": pa.array(prios[rng.integers(0, 5, n_ord)]),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_lineitem), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_lineitem), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_lineitem), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_lineitem), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_lineitem).astype(np.float64)),
            "l_extendedprice": pa.array(money(900, 105_000, n_lineitem)),
            "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lineitem)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lineitem)]),
            "l_shipdate": _ts(_EPOCH_1995 + 1 + rng.integers(0, 2500, n_lineitem)),
        },
    }
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(root, f"{name}.parquet"), compression="zstd")
    return root
