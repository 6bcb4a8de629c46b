"""Declared query inventory — the engine's public query surface.

One entry per operator family from SURVEY.md §2 (reference semantics)
plus the Spark built-in completions flagged "absent" there and the
north-star corpus operators (dedup / similarity / text analysis /
windows / sessionization). Each entry holds a query function and, where
DuckDB can express the result, an ANSI-SQL oracle string the driver runs
through DuckDB at sf0.01.

Plain relational entries (the 22 TPC-H shapes, joins, aggregates, set
operations, scalar functions) are registered with ``sql_query``: their
one SQL text is both the oracle and what Spark runs, so the DuckDB check
compares two engines on the same text. An entry keeps a DataFrame
builder when it exercises a library operator (its oracle is then the
operator's exact test), when it writes, round-trips or streams, or when
the builder's plan scales where the text's would not
(``recommend_flagship``'s as-of ladder against the oracle's fan-out).

Exactness discipline (so value-hashes match bit-for-bit):
- double SUM/AVG accumulate in DECIMAL(18,6) then cast back to double
  (decimal addition is exact and associative, so Spark's and DuckDB's
  different accumulation orders cannot diverge);
- per-row arithmetic is written with the same textual operand order in
  both dialects (IEEE doubles -> identical bits);
- engine-specific hashes are avoided: content fingerprints, MinHash and
  SimHash all use zlib.crc32, re-derived from scratch in DuckDB SQL;
- time buckets are emitted as formatted strings, not timestamps.

Queries returning data that only Spark can express (approx sketches,
LSH buckets seeded by the plan, mapInPandas stubs) omit the oracle —
the driver records a weaker rows-only check for those.
"""

from __future__ import annotations

import contextlib as _contextlib
import re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hadoop_app_spark.catalog import TABLES, load_table
from hadoop_app_spark.functions.text import (
    bpe_ish_token_count,
    doc_fingerprint,
    language_id,
    ngrams,
    ngrams_from_tokens,
    quality_score,
    token_count,
    tokenize,
)
from hadoop_app_spark.operators.dedup import minhash_signatures, simhash
from hadoop_app_spark.operators.joins import anti_join, semi_join
from hadoop_app_spark.operators.similarity import brute_force_topk, lsh_topk
from hadoop_app_spark.operators.topk import global_top_k, top_k_per_group
from hadoop_app_spark.sources.ncdc import FixedWidthField, parse_fixed_width, read_fixed_width


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, QueryDef] = {}


def query(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        REGISTRY[name] = QueryDef(fn, oracle, doc)
        return fn

    return deco


_TABLE_WORD = re.compile(r"\b(" + "|".join(TABLES) + r")\b", re.IGNORECASE)


def sql_query(name: str, text: str, doc: str = "") -> None:
    """Register an entry whose Spark query is its oracle text: ``fn``
    registers a temp view, through ``load_table``, for each catalog table
    the text names and returns ``spark.sql(text)``. Catalyst picks the
    join strategy and the combiner. ``spark.sql`` analyses eagerly, so
    once it returns, ``fn`` puts back each temp view of the caller's
    that it replaced and drops the ones it created; the returned frame
    keeps the files it was built on. No step starts a Spark job."""
    tables = sorted({t.lower() for t in _TABLE_WORD.findall(text)})

    def fn(spark, sf_dir):
        # the session catalog hands back each raw view definition, so a
        # caller's view is restored as it was; re-registering
        # spark.table(t) instead would nest it one level deeper per call
        views = spark._jsparkSession.sessionState().catalog()
        saved = {t: views.getRawTempView(t) for t in tables}
        try:
            for t in tables:
                load_table(spark, sf_dir, t).createOrReplaceTempView(t)
            return spark.sql(text)
        finally:
            for t, view in saved.items():
                if view.isDefined():
                    views.createTempView(t, view.get(), True)
                else:
                    views.dropTempView(t)

    REGISTRY[name] = QueryDef(fn, text, doc)


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


def _seed_clone(spark, seed_tbl: str, work_tbl: str, fingerprint: str, build,
                compact: bool = True):
    """Memoize a DETERMINISTIC day-0 index seed per (params, sf) and
    hand each caller a fresh CLONE to mutate.

    The index-lifecycle bench entries seed a bucketed index, run
    increments that APPEND to it, and are timed several times per
    bench — rebuilding the seed every invocation times the one-off
    day-0 build over and over instead of the operator's steady-state
    (the daily increment). The seed content is a pure function of
    (corpus slice, signature params) recorded in ``fingerprint``, so:
    build once (then COMPACT, so the clone copies ~n_buckets files,
    not tasks x buckets), stamp the fingerprint as a table property,
    and per invocation CREATE TABLE LIKE (bucket spec copied from the
    catalog) + one recursive FS-API directory copy. A fingerprint
    mismatch (params edit, different sf) rebuilds — stale memos
    cannot survive a code change."""
    from hadoop_app_spark.operators.bucketing import compact_bucketed_table
    from hadoop_app_spark.sources import fs as hfs

    def _loc(t):
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect():
            if r.col_name == "Location":
                return r.data_type
        raise ValueError(f"no location for {t}")

    props = {}
    if spark.catalog.tableExists(seed_tbl):
        props = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {seed_tbl}").collect()
        }
    if props.get("bench.fingerprint") != fingerprint:
        spark.sql(f"DROP TABLE IF EXISTS {seed_tbl}")
        build(seed_tbl)
        if compact:  # plain (non-bucketed) seeds have no spec to keep
            compact_bucketed_table(spark, seed_tbl)
        spark.sql(
            f"ALTER TABLE {seed_tbl} SET TBLPROPERTIES "
            f"('bench.fingerprint'='{fingerprint}')"
        )
    spark.sql(f"DROP TABLE IF EXISTS {work_tbl}")
    # a previous SESSION's managed location survives the in-memory
    # catalog (the save_table_recovering_orphan class): delete the
    # true orphan so CREATE TABLE LIKE can claim the spot
    from hadoop_app_spark.operators.bucketing import _location_claimed

    wh = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    orphan = f"{wh}/{work_tbl.lower()}"
    if hfs.exists(spark, orphan) and not _location_claimed(spark, orphan):
        hfs.delete(spark, orphan, recursive=True)
    spark.sql(f"CREATE TABLE {work_tbl} LIKE {seed_tbl}")
    hfs.copy_dir(spark, _loc(seed_tbl), _loc(work_tbl))
    spark.sql(f"REFRESH TABLE {work_tbl}")
    # carry the dedup.*/sketch.* signature params onto the clone so
    # the increments'/merges' mismatch guards stay armed
    _param_prefixes = ("dedup.", "sketch.")
    dd = {k: v for k, v in props.items() if k.startswith(_param_prefixes)}
    if not dd and spark.catalog.tableExists(seed_tbl):
        dd = {
            r["key"]: r["value"]
            for r in spark.sql(f"SHOW TBLPROPERTIES {seed_tbl}").collect()
            if r["key"].startswith(_param_prefixes)
        }
    if dd:
        kv = ", ".join(f"'{k}'='{v}'" for k, v in dd.items())
        spark.sql(f"ALTER TABLE {work_tbl} SET TBLPROPERTIES ({kv})")


def _scratch_dir(tag: str, sf_dir: str) -> str:
    """Deterministic per-(tag, sf) scratch path. The file-writing
    queries OVERWRITE this on every invocation instead of mkdtemp-ing a
    fresh dir — the bench times each query several times and a leak of
    one fact-table copy per timed call accumulates unboundedly."""
    import hashlib
    import os
    import tempfile

    h = hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:8]
    return os.path.join(tempfile.gettempdir(), f"spark_graft_{tag}_{h}")


# the reference mapper's fields (MaxTemperatureMapper.java:17-22) plus
# the quality digit, all parsed as int
_NCDC_INT_FIELDS = (
    FixedWidthField("year", 15, 19, "int"),
    FixedWidthField("temp", 87, 92, "int"),
    FixedWidthField("quality", 92, 93, "int"),
)


def _ncdc_line():
    """A lineitem row as a 93-byte NCDC record: year [15,19) from
    l_shipdate, temp [87,92) as l_quantity signed negative when
    l_discount > 0.05, quality [92,93) as l_linenumber % 10."""
    return F.concat(
        F.lit("H" * 15),
        F.year("l_shipdate").cast("string"),
        F.rpad(F.lit("x"), 68, "x"),
        F.when(F.col("l_discount") > 0.05, F.lit("-")).otherwise(F.lit("+")),
        F.lpad(F.col("l_quantity").cast("int").cast("string"), 4, "0"),
        (F.col("l_linenumber") % 10).cast("string"),
    )


def _memo_dir(tag: str, sf_dir: str, fingerprint: str, build) -> str:
    """Path-based sibling of `_seed_clone` for DIRECTORY fixtures (IVF
    index layouts, stream drop files): build once per (params, sf)
    under a fingerprint marker, return the memo path for callers to
    COPY from per invocation. A fingerprint mismatch rebuilds, so a
    parameter edit can never reuse a stale fixture."""
    import os
    import shutil

    root = _scratch_dir(f"memo_{tag}", sf_dir)
    marker = os.path.join(root, "_fingerprint")
    current = None
    if os.path.exists(marker):
        with open(marker) as f:
            current = f.read()
    if current != fingerprint:
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        build(root)
        with open(marker, "w") as f:
            f.write(fingerprint)
    return root


def _dsum(col):
    """Exact double sum: accumulate in decimal, return double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double")


def _land_stream_file(df, src_dir: str, gen: int) -> None:
    """Land *df* as the single parquet file ``gen{gen}.parquet`` under
    *src_dir* with a forced mtime in generation order — the ONE landing
    protocol every drop-directory stream entry uses (FileStreamSource
    admits files oldest-first, so gen N is micro-batch N-1)."""
    import os
    import shutil

    stage = os.path.join(os.path.dirname(src_dir), f"_stage_g{gen}")
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    part = next(f for f in sorted(os.listdir(stage)) if f.endswith(".parquet"))
    dst = os.path.join(src_dir, f"gen{gen}.parquet")
    os.rename(os.path.join(stage, part), dst)
    shutil.rmtree(stage, ignore_errors=True)
    os.utime(dst, (1_000_000_000 + gen, 1_000_000_000 + gen))


# NOTE (r7, found via linear_trend): DuckDB's decimal->double cast
# DOUBLE-ROUNDS (scaled int128 -> double, then /10^scale) while
# Spark's BigDecimal conversion rounds once — bit-divergence begins
# when |sum| * 10^scale exceeds 2^53 (~9.0e15, i.e. sums beyond ~9e9
# at scale 6). Every _DSUM use here stays orders of magnitude below
# that at the tested SFs; oracles whose sums could cross it must
# route the cast through VARCHAR (strtod is correctly rounded in both
# engines — see linear_trend's oracle).
_DSUM = "CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE)"

# SQL twins of functions.text.tokenize / token_count: same Unicode
# whitespace class (WS_REGEX parses identically in RE2), same
# drop-empty-tokens semantics == Python's str.split().
from hadoop_app_spark.functions.text import WS_REGEX as _WS

_TOKS = f"list_filter(string_split_regex(lower(text), '{_WS}'), x -> x <> '')"
_NTOK = f"len(list_filter(string_split_regex(text, '{_WS}'), x -> x <> ''))"

# ---------------------------------------------------------------------------
# Reference-core operators (SURVEY §2.1-2.5) over the test star schema
# ---------------------------------------------------------------------------


sql_query(
    "max_per_group",
    text="""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               max(l_quantity) AS max_qty
        FROM lineitem GROUP BY 1
    """,
    doc="A1/A2 max-per-group with automatic partial agg (MaxTemperatureReducer.java:13-20)",
)


sql_query(
    "inner_equi_join",
    text="""
        SELECT c_name, o_orderkey, o_totalprice, c_acctbal
        FROM orders JOIN customer ON o_custkey = c_custkey
    """,
    doc="J1 reduce-side equi-join + P6 column reorder (ReduceJoinJob.java:100-176)",
)


sql_query(
    "broadcast_dim_join",
    text="""
        SELECT p_brand, count(*) AS n_items, {s} AS sum_price
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
    """.format(s=_DSUM.format(c="l_extendedprice")),
    doc="J2 map-side broadcast hash join (UserHotcar.java:102-142 side-input HashMap)",
)


@query(
    "fanout_explode",
    oracle=f"""
        SELECT tok, count(*) AS n
        FROM (SELECT unnest({_TOKS}) AS tok
              FROM documents)
        WHERE tok <> '' GROUP BY tok HAVING count(*) >= 10
    """,
    doc="J4/F2 fan-out: encoded-list explode (UserHotcar.java:67-96 city/car fan-out)",
)
def q_fanout_explode(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize("text")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= 10)
    )


@query(
    "topk_per_group",
    oracle="""
        SELECT * FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rank
            FROM orders)
        WHERE rank <= 3
    """,
    doc="T1/T2 per-group sort + top-K with deterministic tiebreak (UserHotcar.java:152-192)",
)
def q_topk_per_group(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    return top_k_per_group(
        orders, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")], 3
    )


sql_query(
    "minmax_normalize",
    text="""
        SELECT o_custkey, o_orderkey,
               CASE WHEN mx = mn THEN 1.0
                    ELSE 1.0 - (o_totalprice - mn) / (mx - mn) END AS score
        FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                     min(o_totalprice) OVER (PARTITION BY o_custkey) AS mn,
                     max(o_totalprice) OVER (PARTITION BY o_custkey) AS mx
              FROM orders)
    """,
    doc="T3/A3 group min-max normalization (UserHotcar.java:166-183); degenerate -> 1.0",
)


@query(
    "recommend_flagship",
    oracle="""
        WITH joined AS (
            SELECT c_custkey, p_partkey,
                   abs(c_acctbal - p_retailprice) AS dist
            FROM customer JOIN part ON p_size % 25 = c_nationkey
        ), ranked AS (
            SELECT c_custkey, p_partkey, dist,
                   CAST(row_number() OVER (PARTITION BY c_custkey
                        ORDER BY dist, p_partkey) AS INTEGER) AS rank,
                   min(dist) OVER (PARTITION BY c_custkey) AS mn,
                   max(dist) OVER (PARTITION BY c_custkey) AS mx
            FROM joined)
        SELECT c_custkey, p_partkey, dist, rank,
               CASE WHEN mx = mn THEN 1.0
                    ELSE 1.0 - (dist - mn) / (mx - mn) END AS score
        FROM ranked WHERE rank <= 5
    """,
    doc="Flagship: the full UserHotcar pipeline shape (broadcast join -> fan-out -> "
    "group min/max -> top-K -> score) re-cast over the star schema (UserHotcar.java:42-200)",
)
def q_recommend_flagship(spark, sf_dir):
    # Scale shape — "top-5 nearest prices" WITHOUT the fan-out sort.
    # A naive plan joins every customer to its bucket's full part list
    # (|customer| x |parts/bucket| rows) and sorts that per customer.
    # Instead:
    #   1. Build the distinct-price ladder per bucket (price -> ordinal
    #      position + the partkeys at that price), ~|distinct prices|.
    #   2. Anchor each customer in the ladder with the sort-merge as-of
    #      join (one window over |customers|+|prices| rows): the
    #      position of the greatest price <= acctbal.
    #   3. The 5 nearest distinct prices are inside positions
    #      [anchor-4, anchor+5] (merge of <=5 below and <=5 above), so
    #      candidates are a 10-position explode + broadcast joins —
    #      every part at a candidate price is included, which keeps
    #      duplicate-price tiebreaks (dist, p_partkey) exact.
    #   4. Rank the ~10-20 candidate rows per customer; recover
    #      mn = min dist from the kept rows and mx from the bucket's
    #      price extremes (|bal-price| is maximized at an extreme).
    # Work: O(|customer| + |part|) rows through one merge window and
    # narrow broadcast joins — no |customer| x |parts/bucket| sort.
    from hadoop_app_spark.operators.joins import asof_join_merge

    customer = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    parts = part.select(
        (F.col("p_size") % 25).alias("bucket"), "p_retailprice", "p_partkey"
    )
    ladder = parts.groupBy("bucket", "p_retailprice").agg(
        F.sort_array(F.collect_list("p_partkey")).alias("pks")
    )
    wpos = Window.partitionBy("bucket").orderBy("p_retailprice")
    ladder = ladder.withColumn("pos", F.row_number().over(wpos))
    bucket_stats = ladder.groupBy("bucket").agg(
        F.max("pos").alias("npos"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
    )
    probes = customer.select("c_custkey", "c_acctbal", F.col("c_nationkey").alias("bucket"))
    anchored = asof_join_merge(
        probes,
        ladder.select("bucket", F.col("p_retailprice").alias("anchor_price"), "pos"),
        on="bucket",
        left_ts="c_acctbal",
        right_ts="anchor_price",
        right_value_cols=["pos"],
        how="left",
    ).select("c_custkey", "c_acctbal", "bucket", F.coalesce("pos", F.lit(0)).alias("anchor"))
    cand_pos = anchored.join(F.broadcast(bucket_stats), "bucket").select(
        "c_custkey",
        "c_acctbal",
        "bucket",
        "min_price",
        "max_price",
        F.explode(
            F.sequence(
                F.greatest(F.col("anchor") - 4, F.lit(1)),
                F.least(F.col("anchor") + 5, F.col("npos")),
            )
        ).alias("pos"),
    )
    cands = cand_pos.join(F.broadcast(ladder), ["bucket", "pos"]).select(
        "c_custkey",
        "c_acctbal",
        "min_price",
        "max_price",
        F.explode("pks").alias("p_partkey"),
        F.abs(F.col("c_acctbal") - F.col("p_retailprice")).alias("dist"),
    )
    w = Window.partitionBy("c_custkey").orderBy("dist", "p_partkey")
    top = cands.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= 5)
    grp = Window.partitionBy("c_custkey")
    scored = top.withColumn("mn", F.min("dist").over(grp)).withColumn(
        "mx",
        F.greatest(
            F.abs(F.col("c_acctbal") - F.col("min_price")),
            F.abs(F.col("c_acctbal") - F.col("max_price")),
        ),
    )
    return scored.select(
        "c_custkey",
        "p_partkey",
        "dist",
        "rank",
        F.when(F.col("mx") == F.col("mn"), F.lit(1.0))
        .otherwise(F.lit(1.0) - (F.col("dist") - F.col("mn")) / (F.col("mx") - F.col("mn")))
        .alias("score"),
    )


# ---------------------------------------------------------------------------
# Aggregation completions (SURVEY §2.4 "absent" list)
# ---------------------------------------------------------------------------


sql_query(
    "pricing_summary",
    text="""
        SELECT l_returnflag, l_linestatus,
               {q} AS sum_qty,
               {p} AS sum_base_price,
               {d} AS sum_disc_price,
               count(*) AS count_order,
               {q} / count(*) AS avg_qty
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """.format(
        q=_DSUM.format(c="l_quantity"),
        p=_DSUM.format(c="l_extendedprice"),
        d=_DSUM.format(c="l_extendedprice * (1 - l_discount)"),
    ),
    doc="TPC-H Q1-shaped pricing summary: multi-agg groupBy with filter pushdown",
)


sql_query(
    "shipping_priority",
    text="""
        SELECT l_orderkey, {rev} AS revenue, o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q3-shaped shipping priority: the classic dim-filter -> "
    "fact-join -> grouped-revenue -> top-N. Plan shape at 100 TB: the "
    "segment-filtered customer side broadcasts into orders (dim vs fact), "
    "the orders->lineitem join shuffles on orderkey only AFTER both date "
    "filters push to the scans (PushedFilters prunes most of both facts), "
    "revenue accumulates in DECIMAL(18,6) partial-combine, and the final "
    "top-10 is TakeOrderedAndProject — no global sort ever materializes",
)


sql_query(
    "local_supplier_volume",
    text="""
        SELECT n_name, {rev} AS revenue
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q5-shaped local supplier volume: the six-way star join with "
    "the c_nationkey = s_nationkey locality condition. Plan shape: region/"
    "nation/supplier/customer all broadcast (dims), so the only shuffles "
    "are the two fact-side joins (orders on custkey, lineitem on orderkey) "
    "and the final |nations|-row aggregation; the locality equality rides "
    "the supplier join as a second key rather than a post-filter",
)


sql_query(
    "promo_revenue",
    text="""
        SELECT 100.0 * {promo} / {total} AS promo_share
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """.format(
        promo=_DSUM.format(
            c="CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END"
        ),
        total=_DSUM.format(c="l_extendedprice * (1 - l_discount)"),
    ),
    doc="TPC-H Q14-shaped promo revenue share: conditional aggregation over "
    "a fact-dim join in one month. Plan shape: part broadcasts, the month "
    "filter pushes to the lineitem scan, both sums accumulate in "
    "DECIMAL(18,6) in the same partial-combine aggregate (one pass), and "
    "the share is a single exact-double division — cross-engine "
    "hash-exact because both operands derive from decimal sums",
)


sql_query(
    "top_supplier",
    text="""
        WITH rev AS (
            SELECT l_suppkey, {rev} AS total_revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey),
        m AS (SELECT max(total_revenue) AS mx FROM rev)
        SELECT s_suppkey, s_name, total_revenue
        FROM rev JOIN supplier ON l_suppkey = s_suppkey CROSS JOIN m
        WHERE total_revenue = m.mx
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q15-shaped top supplier: per-supplier quarterly revenue, then "
    "the supplier(s) attaining the maximum. Plan shape: one keyed "
    "partial-combine aggregation over the date-pruned fact, a ONE-ROW max "
    "aggregate crossJoin-broadcast back onto the |suppliers|-row revenue "
    "table (the bm25/dsir one-row-stats class — no second fact scan, no "
    "global sort), equality on exact decimal-derived doubles so ties "
    "surface every argmax supplier",
)


sql_query(
    "order_priority_check",
    # Q4's l_commitdate/l_receiptdate are absent from the synthetic
    # lineitem, so "late" is l_shipdate more than 60 days after
    # o_orderdate — the EXISTS decorrelation shape is what Q4 tests
    text="""
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
    """,
    doc="TPC-H Q4-shaped order priority check: quarter-filtered orders "
    "with at least one late lineitem (EXISTS -> left-semi join), counted "
    "per priority. Plan shape at 100 TB: the date filter pushes to the "
    "orders scan, the correlated EXISTS decorrelates into one semi-join "
    "on orderkey (never a per-row subquery), and the tiny "
    "priority-grouped count partial-combines",
)


sql_query(
    "returned_item_report",
    text="""
        SELECT c.c_custkey, c.c_name, {rev} AS revenue, c.c_acctbal, n.n_name
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN nation n   ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o.o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
          AND l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q10-shaped returned-item report: customers ranked by "
    "revenue lost to returns in a quarter. Plan shape at 100 TB: "
    "returnflag + date filters push to both fact scans, the "
    "lineitem-orders join shuffles on orderkey, customer+nation "
    "broadcast, revenue accumulates in DECIMAL partial-combine, and the "
    "top-20 is TakeOrderedAndProject with a deterministic custkey "
    "tiebreak — no global sort",
)


sql_query(
    "large_volume_customer",
    # quantity threshold tuned to the synthetic distribution so the
    # result is non-trivial at every SF (Q18's 300+ selects nothing)
    text="""
        WITH big AS (
            SELECT l_orderkey
            FROM lineitem GROUP BY l_orderkey
            HAVING sum(l_quantity) > 120)
        SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
               o.o_totalprice, {q} AS sum_qty
        FROM customer c
        JOIN orders o   ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT 100
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="TPC-H Q18-shaped large-volume customers: orders whose total "
    "quantity clears a threshold, re-joined to their lines and owners. "
    "Plan shape at 100 TB: the HAVING pre-aggregation runs once over "
    "lineitem (partial-combine on orderkey), its qualifying keyset "
    "semi-joins the fact BEFORE the wide re-aggregation (classic "
    "aggregate-then-semi-join — never aggregate the full fact twice), "
    "customer broadcasts, top-100 is TakeOrderedAndProject",
)


sql_query(
    "volume_shipping",
    text="""
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS l_year,
               {rev} AS revenue
        FROM supplier s
        JOIN lineitem l ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
        JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
        WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
            OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY 1, 2, 3
        ORDER BY 1, 2, 3
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q7-shaped volume shipping: revenue flowing between a "
    "pair of nations, by supplier-nation x customer-nation x ship "
    "year. Plan shape at 100 TB: the shipdate range pushes to the "
    "lineitem scan; supplier and the two nation copies broadcast "
    "(supplier is 10x smaller than customer, so it rides the small "
    "side); the lineitem-orders and orders-customer joins shuffle on "
    "their keys; the nation-pair disjunction prunes to two nation "
    "codes BEFORE the fact join via the broadcast filter; the final "
    "agg is 4 groups — pure partial-combine",
)


sql_query(
    "late_line_priority",
    # Q12's l_shipmode/l_receiptdate are absent from the synthetic
    # lineitem: the categorical is l_returnflag, "late" is l_shipdate
    # more than 60 days after o_orderdate — the CASE-pivot agg over a
    # fact-fact join is what Q12 tests. COUNT(FILTER)/count(when)
    # keeps both engines in BIGINT (DuckDB SUM(int) would widen to
    # HUGEINT and trip the kind check).
    text="""
        SELECT l_returnflag,
               count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
                   AS high_line_count,
               count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                   AS low_line_count
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    doc="TPC-H Q12-shaped late-shipment priority pivot: lines shipped "
    "late in a year, counted per return flag split by order priority "
    "(CASE pivot). Plan shape at 100 TB: the shipdate year-range "
    "pushes to the lineitem scan (the lateness predicate is join-level "
    "— it needs o_orderdate); one orderkey shuffle join; the "
    "conditional counts partial-combine into 3 groups",
)


sql_query(
    "customer_order_distribution",
    # Q13's o_comment NOT LIKE filter is absent from the synthetic
    # orders — the join-side predicate is o_orderpriority <> URGENT;
    # the LEFT-OUTER-with-ON-predicate + double aggregation is what
    # Q13 tests (customers with zero qualifying orders MUST appear in
    # the c_count=0 bucket, which an inner join would drop)
    text="""
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
              FROM customer c
              LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                                AND o.o_orderpriority <> '1-URGENT'
              GROUP BY c.c_custkey) t
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    doc="TPC-H Q13-shaped customer order-count distribution: histogram "
    "of per-customer qualifying-order counts, zero bucket included via "
    "left outer join with the predicate in the ON clause (WHERE would "
    "silently turn it inner). Plan shape at 100 TB: the priority "
    "filter pushes to the orders scan side of the outer join, one "
    "custkey shuffle, count(o_orderkey) skips the null-extended rows, "
    "and the second agg is over <=|distinct counts| rows — tiny",
)


sql_query(
    "small_qty_avg_yearly",
    # Q17's correlated scalar subquery (l_quantity < 0.2*avg per part)
    # is decorrelated into a per-part aggregate join; the avg threshold
    # compares via EXACT integer/decimal cross-multiplication
    # (qty*cnt*5 < sum) so both engines decide each row identically —
    # a float avg would make the row SET itself nondeterministic
    text="""
        WITH pa AS (
            SELECT l.l_partkey,
                   SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS _s,
                   count(*) AS _c
            FROM lineitem l
            JOIN part p ON p.p_partkey = l.l_partkey
            WHERE p.p_brand = 'Brand#12'
            GROUP BY l.l_partkey)
        SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
                   AS avg_yearly
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN pa    ON pa.l_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#12'
          AND CAST(l.l_quantity AS DECIMAL(18,6)) * pa._c * 5 < pa._s
    """,
    doc="TPC-H Q17-shaped small-quantity revenue: average yearly "
    "revenue lost if below-one-fifth-of-average-quantity orders for a "
    "brand stopped. Plan shape at 100 TB: the correlated scalar "
    "subquery decorrelates into ONE per-part aggregate — and because "
    "p_partkey determines p_brand, the brand filter semi-joins "
    "lineitem BEFORE that aggregate (broadcast of the filtered part "
    "keys), so the avg pass scans the brand's ~1/|brands| slice, not "
    "the whole fact; the threshold re-join is partkey-colocated with "
    "the agg output; final agg is one row",
)


sql_query(
    "disjunctive_bundle_revenue",
    # Q19's l_shipmode/l_shipinstruct clauses are absent from the
    # synthetic lineitem; the three (brand, size-range, qty-range)
    # bundles OR'd across a join are what Q19 tests
    text="""
        SELECT {rev} AS revenue
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
               AND l.l_quantity BETWEEN 1 AND 11)
           OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
               AND l.l_quantity BETWEEN 10 AND 20)
           OR (p.p_brand = 'Brand#3'  AND p.p_size BETWEEN 1 AND 15
               AND l.l_quantity BETWEEN 20 AND 30)
    """.format(rev=_DSUM.format(c="l_extendedprice * (1 - l_discount)")),
    doc="TPC-H Q19-shaped disjunctive bundle revenue: three OR'd "
    "(brand, size, quantity) predicate bundles across a part-lineitem "
    "join. Plan shape at 100 TB: the disjunction does NOT block "
    "pushdown — the part side pre-filters to the union of the three "
    "(brand AND size) envelopes and broadcasts, the lineitem side "
    "pre-filters to the overall quantity envelope [1,30] at the scan, "
    "and only the residual mixed-table disjunction evaluates "
    "post-join; one row out",
)


sql_query(
    "suppliers_kept_waiting",
    # Q21's l_receiptdate/l_commitdate are absent: "late" is
    # l_shipdate > o_orderdate + 60 days. The EXISTS(other supplier) +
    # NOT EXISTS(other LATE supplier) double correlation is what Q21
    # tests — it decorrelates into one semi- and one anti-join, both
    # orderkey-equi with a suppkey<> residual
    text="""
        WITH late AS (
            SELECT l.l_orderkey, l.l_suppkey
            FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
            WHERE o.o_orderstatus = 'F'
              AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        SELECT s.s_name, count(*) AS numwait
        FROM supplier s
        JOIN late l1 ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM late l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey)
        GROUP BY s.s_name
        ORDER BY numwait DESC, s.s_name
        LIMIT 100
    """,
    doc="TPC-H Q21-shaped suppliers who kept orders waiting: late "
    "lines of finalized multi-supplier orders where the supplier was "
    "the ONLY late one — EXISTS another supplier's line, NOT EXISTS "
    "another supplier's late line. Plan shape at 100 TB: the late-line "
    "set is computed ONCE (status filter pushed to orders, one "
    "orderkey join) and reused for both the probe side and the "
    "anti-join build side; EXISTS -> left-semi and NOT EXISTS -> "
    "left-anti, both orderkey-equi shuffles with the suppkey<> "
    "residual evaluated in-join (never a per-row subquery); supplier "
    "broadcasts; top-100 is TakeOrderedAndProject",
)


sql_query(
    "global_sales_opportunity",
    # Q22's phone-prefix country codes are absent: the group key is
    # c_nationkey, and "no orders in 7 years" (vacuous here — the
    # synthetic orders cover every customer) becomes "no URGENT
    # orders". The global-avg scalar subquery + anti-join is what Q22
    # tests; the avg threshold compares via exact cross-multiplication
    # (bal*cnt > sum) so the row set is engine-independent
    text="""
        WITH st AS (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS _s,
                           count(*) AS _c
                    FROM customer WHERE c_acctbal > 0)
        SELECT c.c_nationkey, count(*) AS numcust, {bal} AS totacctbal
        FROM customer c, st
        WHERE CAST(c.c_acctbal AS DECIMAL(18,6)) * st._c > st._s
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')
        GROUP BY c.c_nationkey
        ORDER BY c.c_nationkey
    """.format(bal=_DSUM.format(c="c_acctbal")),
    doc="TPC-H Q22-shaped sales opportunity: above-average-balance "
    "customers with no urgent orders, counted per nation. Plan shape "
    "at 100 TB: the positive-balance global avg is a ONE-ROW "
    "aggregate crossJoin-broadcast (the bm25/dsir one-row-stats "
    "class), the threshold compares in exact decimal arithmetic, the "
    "NOT EXISTS decorrelates into one custkey left-anti shuffle "
    "against the urgent-order keys (priority filter pushed to the "
    "orders scan), and the per-nation rollup partial-combines",
)


@query(
    "set_similarity_join",
    # the oracle is BRUTE FORCE — every doc pair, exact Jaccard — so
    # the driver check proves the prefix filter's recall is complete,
    # not merely self-consistent (the result is prefix-independent)
    oracle=f"""
        WITH t0 AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        t AS (SELECT doc_id,
                     list_distinct([array_to_string(toks[i:i+2], ' ')
                                    for i in range(1, greatest(len(toks) - 2, 0) + 1)])
                         AS sh
              FROM t0),
        p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                     / len(list_distinct(a.sh || b.sh)) AS jaccard
              FROM t a JOIN t b ON a.doc_id < b.doc_id
              WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.6
    """,
    doc="EXACT all-pairs set-similarity self-join via prefix filtering "
    "(Bayardo et al. 2007): rarest-first canonical ordering, "
    "|s|-floor(t|s|)+1 prefixes, pigeonhole-complete candidate recall, "
    "exact intersect/union verify — the LOSSLESS counterpart to the "
    "MinHash/SimHash approximate families, verified against a "
    "brute-force every-pair oracle; candidate buckets are the small "
    "df-distribution tails by construction, never the stopword head "
    "(operators/dedup.set_similarity_join)",
)
def q_set_similarity_join(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import set_similarity_join

    d = _t(spark, sf_dir, "documents")
    return set_similarity_join(d, "text", "doc_id", threshold=0.6)


sql_query(
    "forecast_revenue_change",
    text="""
        SELECT {rev} AS revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
    """.format(rev=_DSUM.format(c="l_extendedprice * l_discount")),
    doc="TPC-H Q6-shaped forecast revenue change: the discount-lift sum "
    "over one year of narrow-band-discount small-quantity lines. Plan "
    "shape at 100 TB: ALL THREE predicates (shipdate range, discount "
    "band, quantity cap) push to the parquet scan as min/max row-group "
    "pruning + PushedFilters, the projection reads exactly two value "
    "columns, and the single global sum partial-combines — the "
    "canonical scan-bound query; if this one shuffles anything but "
    "32 partial rows, the plan is wrong",
)


sql_query(
    "min_cost_supplier",
    # Q2's partsupp is absent from the synthetic schema: the
    # part-supplier supply relation derives from lineitem (distinct
    # (l_partkey, l_suppkey), supply cost = min extendedprice the
    # supplier ever charged for the part). The correlated scalar-min
    # subquery restricted to a region — Q2's tested shape — is intact.
    # Without statistics Catalyst sizes the supplier x nation x region
    # chain as a product of its inputs and sort-merge joins it; the two
    # hints keep it and the decorrelated min broadcast (DuckDB reads
    # them as comments)
    text="""
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   min(CAST(l_extendedprice AS DECIMAL(18,6))) AS cost
            FROM lineitem GROUP BY 1, 2),
        eu AS (
            SELECT s_suppkey, s_name, s_acctbal, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'),
        j AS (
            SELECT /*+ BROADCAST(eu) */
                   p.p_partkey, eu.s_name, eu.s_acctbal, eu.n_name, ps.cost
            FROM part p
            JOIN ps ON p.p_partkey = ps.l_partkey
            JOIN eu ON ps.l_suppkey = eu.s_suppkey
            WHERE p.p_size = 15 AND p.p_type = 'ECONOMY')
        SELECT s_acctbal, s_name, n_name, p_partkey,
               CAST(cost AS DOUBLE) AS supply_cost
        FROM j
        WHERE cost = (SELECT /*+ BROADCAST(j2) */ min(cost) FROM j j2
                      WHERE j2.p_partkey = j.p_partkey)
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
    """,
    doc="TPC-H Q2-shaped min-cost supplier: for each ECONOMY size-15 "
    "part, the EUROPE supplier(s) charging the minimum supply cost — "
    "a correlated scalar-min subquery over a region-restricted join. "
    "Plan shape at 100 TB: the correlation decorrelates into one "
    "(partkey) min re-aggregation of the SAME joined relation joined "
    "back on (partkey, cost=min) — never a per-row subquery; the "
    "part filter broadcasts so the derived part-supplier aggregation "
    "only shuffles matching parts; supplier x nation x region "
    "broadcast as one small dim chain; exact decimal min so the "
    "equality join back is engine-independent; top-100 is "
    "TakeOrderedAndProject",
)


sql_query(
    "nation_market_share",
    text="""
        WITH allrev AS (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
                       AS volume,
                   n2.n_name AS supp_nation
            FROM lineitem l
            JOIN orders o   ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
            JOIN region r   ON n1.n_regionkey = r.r_regionkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
            JOIN part p     ON l.l_partkey = p.p_partkey
            WHERE r.r_name = 'AMERICA' AND p.p_type = 'STANDARD'
              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
        SELECT o_year,
               CAST(SUM(CASE WHEN supp_nation = 'NATION_2'
                             THEN volume ELSE 0 END) AS DOUBLE)
               / CAST(SUM(volume) AS DOUBLE) AS mkt_share
        FROM allrev GROUP BY o_year ORDER BY o_year
    """,
    doc="TPC-H Q8-shaped national market share: NATION_2 suppliers' "
    "share of AMERICA-region STANDARD-part order revenue per order "
    "year — the conditional-numerator/total-denominator ratio in ONE "
    "aggregation pass. Plan shape at 100 TB: part-type and region "
    "filters broadcast-prune the fact before the two keyed shuffles "
    "(orderkey, custkey); supplier+nation+part+region all broadcast; "
    "both sums accumulate decimal in the same partial-combine agg, so "
    "the share division is exact-over-exact and engine-independent; "
    "2 rows out",
)


sql_query(
    "product_type_profit",
    # Q9's ps_supplycost is absent: unit cost proxies as the part's
    # p_retailprice (a dim attribute, exactly where ps_supplycost
    # lives in real Q9) — profit = revenue - cost*qty, negative-able,
    # accumulated in decimal so cross-engine hash-exact
    text="""
        SELECT n_name AS nation, CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {amt} AS sum_profit
        FROM lineitem l
        JOIN part p     ON l.l_partkey = p.p_partkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n   ON s.s_nationkey = n.n_nationkey
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        WHERE p.p_name LIKE '%red%'
        GROUP BY 1, 2
        ORDER BY 1, 2 DESC
    """.format(
        amt=_DSUM.format(
            c="l_extendedprice * (1 - l_discount) - p_retailprice * l_quantity"
        )
    ),
    doc="TPC-H Q9-shaped product-type profit: per supplier-nation per "
    "order-year profit (revenue minus retail-cost-times-quantity) over "
    "parts whose name matches a substring. Plan shape at 100 TB: the "
    "LIKE prunes part BEFORE it broadcasts, so the fact scan only "
    "keeps matching-part lines via the broadcast hash join; supplier "
    "and nation ride the same broadcast chain; the single orderkey "
    "shuffle joins orders for the year; profit accumulates in "
    "DECIMAL(18,6) (sign-mixed sums, so float ordering would diverge "
    "cross-engine) and partial-combines into |nations| x |years| rows",
)


sql_query(
    "important_part_value",
    # Q11's partsupp value (supplycost * availqty) is absent: a
    # part's held value is the total extendedprice NATION_0's
    # suppliers ever shipped of it. The tested shape — group-sum vs a
    # same-relation global-sum scalar subquery in HAVING — is intact;
    # the threshold compares by exact decimal cross-multiplication
    # (value * 1000 > total) so the row set is engine-independent
    text="""
        WITH v AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS value_dec
            FROM lineitem l
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            JOIN nation n   ON s.s_nationkey = n.n_nationkey
            WHERE n.n_name = 'NATION_0'
            GROUP BY l_partkey),
        t AS (SELECT SUM(value_dec) AS total FROM v)
        SELECT l_partkey AS p_partkey, CAST(value_dec AS DOUBLE) AS part_value
        FROM v, t
        WHERE value_dec * 1000 > t.total
        ORDER BY part_value DESC, p_partkey
    """,
    doc="TPC-H Q11-shaped important part value: parts whose "
    "NATION_0-supplied value exceeds 1/1000 of the nation's total — "
    "group-sum HAVING a global-scalar fraction of the SAME relation. "
    "Plan shape at 100 TB: nation filter broadcast-prunes the fact "
    "once; the per-part decimal sum is reused for the one-row total "
    "(a ONE-ROW aggregate crossJoin-broadcast, the bm25/dsir "
    "one-row-stats class — no second fact scan); the threshold is "
    "exact decimal cross-multiplication, no float fraction",
)


sql_query(
    "parts_supplier_count",
    # Q16's partsupp derives from lineitem's distinct (part, supplier)
    # pairs; the excluded-supplier NOT IN subquery (complaints in real
    # Q16) becomes negative-balance suppliers
    text="""
        SELECT p.p_brand, p.p_type, p.p_size,
               count(DISTINCT l.l_suppkey) AS supplier_cnt
        FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand <> 'Brand#12'
          AND p.p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
          AND l.l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY 1, 2, 3
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
        LIMIT 100
    """,
    doc="TPC-H Q16-shaped supplier count per part attribute: distinct "
    "suppliers per (brand, type, size) over the lineitem-derived "
    "part-supplier relation, excluding one brand, a size list, and a "
    "NOT-IN supplier subquery. Plan shape at 100 TB: brand/size "
    "filters broadcast-prune via the part join before the distinct; "
    "the NOT IN decorrelates into a left-anti broadcast (the excluded "
    "set is tiny and provably null-free, so no null-aware cross "
    "join); the (partkey, suppkey) distinct and the count-distinct "
    "re-shuffle are the two unavoidable exchanges, both partial-agg'd",
)


sql_query(
    "dominant_part_suppliers",
    # Q20's ps_availqty is absent: the "excess stock" EXISTS becomes
    # "shipped more than half a part's total 1996 volume" — supplier
    # qty vs a per-part scalar threshold, the same nested-agg semi
    # shape; qty sums compare by exact integer-valued decimal
    # cross-multiplication (2*sup > total)
    text="""
        WITH sq AS (
            SELECT l_partkey, l_suppkey,
                   SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sup_qty
            FROM lineitem l
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND l_partkey IN
                  (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
            GROUP BY 1, 2),
        tq AS (SELECT l_partkey, SUM(sup_qty) AS tot_qty
               FROM sq GROUP BY 1)
        SELECT s.s_name, n.n_name AS nation
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE s.s_suppkey IN
              (SELECT sq.l_suppkey FROM sq
               JOIN tq ON sq.l_partkey = tq.l_partkey
               WHERE sq.sup_qty * 2 > tq.tot_qty)
        ORDER BY s.s_name
    """,
    doc="TPC-H Q20-shaped dominant part suppliers: suppliers who "
    "shipped more than HALF of some bolt-part's total 1996 volume — "
    "a per-(part,supplier) aggregate compared against a per-part "
    "re-aggregate of ITSELF, semi-joined into supplier. Plan shape "
    "at 100 TB: part-name filter broadcast-prunes the fact scan; the "
    "(partkey,suppkey) sum partial-combines, its per-part rollup is "
    "a second tiny agg on the already-shuffled relation (no new fact "
    "scan); the IN decorrelates to a left-semi broadcast into the "
    "100-row supplier dim; exact decimal cross-multiply, no float "
    "halving",
)


@query(
    "bloom_prefilter_join",
    # the oracle rebuilds the key Bloom filter bit-for-bit and replays
    # the k-probe membership test per fact row, so n_bloom_pass checks
    # the sketch (deterministic false positives included) while
    # n_true_match checks the exact reduction
    oracle="""
        WITH keys AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS kk
                      FROM customer WHERE c_mktsegment = 'BUILDING'),
        bpos AS (
            SELECT CAST(concat('0x', substr(md5(kk), (j - 1) * 8 + 1, 8))
                        AS BIGINT) % 4096 AS pos
            FROM keys, unnest(range(1, 5)) AS s(j)),
        bloom AS (
            SELECT pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
            FROM bpos GROUP BY 1),
        probe AS (
            SELECT o.o_orderkey, o.o_custkey,
                   CAST(concat('0x', substr(md5(CAST(o.o_custkey AS VARCHAR)),
                        CAST((j - 1) * 8 + 1 AS INTEGER), 8))
                        AS BIGINT) % 4096 AS pos
            FROM orders o, unnest(range(1, 5)) AS s(j)),
        hit AS (
            SELECT o_orderkey, any_value(o_custkey) AS o_custkey
            FROM probe p JOIN bloom b ON (p.pos // 32) = b.word
            WHERE (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER)))
                  = (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))
            GROUP BY o_orderkey HAVING count(*) = 4)
        SELECT (SELECT count(*) FROM orders) AS n_fact,
               (SELECT count(*) FROM hit) AS n_bloom_pass,
               (SELECT count(*) FROM hit
                WHERE CAST(o_custkey AS VARCHAR) IN (SELECT kk FROM keys))
                   AS n_true_match
    """,
    doc="Bloom-prefiltered semi-join (Spark's runtime bloomFilter join "
    "pruning made explicit and engine-reproducible): a ~256 KB word "
    "table built from the BUILDING-segment customer keys probes the "
    "orders fact through k broadcast hash joins with the bit test on "
    "each join condition — the fact side never shuffles, false "
    "positives are quantified (~(1-e^(-kn/m))^k) and never false "
    "negatives, and the exact semi-join then runs on the surviving "
    "sliver; at 100 TB the bloom ships where the key set cannot "
    "(operators/joins.key_bloom / bloom_prefilter_join)",
)
def q_bloom_prefilter_join(spark, sf_dir):
    from hadoop_app_spark.operators.joins import bloom_prefilter_join, semi_join

    o = _t(spark, sf_dir, "orders")
    keys = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    # m_bits deliberately small for the gate (4096 bits vs ~300 keys)
    # so deterministic FALSE POSITIVES exist and the oracle checks them
    # (n_bloom_pass > n_true_match); production default is 2^20
    passed = bloom_prefilter_join(o, keys, "o_custkey", "c_custkey", m_bits=4096)
    true_match = semi_join(
        passed.select("o_orderkey", F.col("o_custkey").alias("c_custkey")),
        keys.select("c_custkey"),
        "c_custkey",
    )
    a = o.agg(F.count("*").alias("n_fact"))
    b = passed.agg(F.count("*").alias("n_bloom_pass"))
    c = true_match.agg(F.count("*").alias("n_true_match"))
    return a.crossJoin(F.broadcast(b)).crossJoin(F.broadcast(c))


@query(
    "linear_trend",
    # x = whole seconds since 2024-01-01 derived by INTEGER floor
    # division of exact epoch micros (unix_micros div 1e6 == epoch_us
    # // 1e6 — a double-epoch floor would round differently per
    # engine); all five sufficient statistics accumulate in DECIMAL,
    # so slope/intercept are one deterministic double expression over
    # exact sums
    oracle="""
        WITH b AS (
            SELECT event_type,
                   epoch_us(ts) // 1000000 - 1704067200 AS x,
                   value AS y
            FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        agg AS (
            SELECT event_type, count(*) AS n,
                   sum(CAST(x AS DECIMAL(38,0))) AS sx,
                   sum(CAST(y AS DECIMAL(18,6))) AS sy,
                   sum(CAST(x * x AS DECIMAL(38,0))) AS sxx,
                   sum(CAST(x * y AS DECIMAL(27,6))) AS sxy
            FROM b GROUP BY 1),
        -- decimal -> double via VARCHAR: DuckDB's direct decimal cast
        -- double-rounds through the scaled int128 (int -> double, then
        -- /10^scale) while Spark's BigDecimal conversion rounds ONCE;
        -- strtod is correctly rounded in both, restoring bit-equality
        d AS (
            SELECT event_type, n,
                   CAST(n AS DOUBLE) AS nd,
                   CAST(CAST(sx AS VARCHAR) AS DOUBLE) AS sxd,
                   CAST(CAST(sy AS VARCHAR) AS DOUBLE) AS syd,
                   CAST(CAST(sxx AS VARCHAR) AS DOUBLE) AS sxxd,
                   CAST(CAST(sxy AS VARCHAR) AS DOUBLE) AS sxyd
            FROM agg)
        SELECT event_type, n,
               CASE WHEN nd * sxxd - sxd * sxd <> 0
                    THEN (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
                    END AS slope,
               CASE WHEN nd * sxxd - sxd * sxd <> 0
                    THEN (syd - (nd * sxyd - sxd * syd)
                                / (nd * sxxd - sxd * sxd) * sxd) / nd
                    END AS intercept
        FROM d
    """,
    doc="Per-group closed-form OLS (value trend per event type): the "
    "ML-lite analytics shape — five DECIMAL sufficient statistics in ONE "
    "partial-combine aggregation (the max_per_group plan class, five "
    "decimals per group per map partition over the wire no matter the "
    "row count), then slope/intercept as a scalar double epilogue over "
    "the exact sums, so the fitted model is bit-identical across "
    "engines, partitionings, and repeats — where MLlib would run one "
    "global job per model (operators/regression.linear_fit)",
)
def q_linear_trend(spark, sf_dir):
    from hadoop_app_spark.operators.regression import linear_fit

    ev = _t(spark, sf_dir, "events")
    # ts is TIMESTAMP_NTZ: timestampdiff on the naive value is
    # session-tz-independent and floors like epoch_us // 1e6 for the
    # all-positive offsets in this data
    x = F.expr("timestampdiff(SECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)")
    return linear_fit(ev, x, F.col("value"), ["event_type"])


@query(
    "stream_topk_exec",
    oracle=None,  # assigned below: the cosine_topk brute-force oracle,
    # verbatim — top-k is MERGEABLE, so the streamed fold over two
    # micro-batches must land on the batch top-k over all vectors
    doc="incremental streaming top-k similarity (streaming/similarity."
    "streaming_topk — the EDBT'20/SIGMOD'20 incremental-top-k shape): "
    "corpus embedding files land in a drop directory, each micro-batch "
    "scores against the bounded query set with the batch brute-force "
    "kernel and MERGES into the stored q x k result behind an atomic "
    "version pointer (batch-id replay guard; state is q*k rows, never "
    "corpus-sized). The oracle is the mergeability theorem: the final "
    "committed result equals the one-shot batch top-k — the exact "
    "cosine_topk oracle, verbatim",
)
def q_stream_topk_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.streaming.similarity import current_topk, streaming_topk

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    root = _scratch_dir("stream_topk", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and emit nothing
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    for gen, pred in ((1, F.col("vec_id") % 2 == 0), (2, F.col("vec_id") % 2 == 1)):
        _land_stream_file(emb.where(pred), src, gen)
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = streaming_topk(
        stream,
        queries,
        os.path.join(root, "topk"),
        k=5,
        checkpoint_dir=os.path.join(root, "ck"),
    )
    q.awaitTermination()
    return current_topk(spark, os.path.join(root, "topk")).select(
        "query_id", "vec_id", F.col("rank").cast("int").alias("rank")
    )


@query(
    "stream_rollup_exec",
    # the mergeability oracle: whatever micro-batch path the stream
    # took (two files, one trigger each, versioned partial merges),
    # the committed rollup must equal the one-shot batch aggregation
    # over all events — count/sum partials merge exactly, DECIMAL
    # accumulation keeps the merge order-free, and bucket labels
    # format the NAIVE timestamp directly (tz-free in both engines)
    oracle="""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M')
                   AS bucket_start,
               event_type,
               count(*) AS n,
               {v} AS sum_value
        FROM events
        GROUP BY 1, 2
    """.format(v=_DSUM.format(c="value")),
    doc="continuous time-bucket rollup run as a REAL stream (streaming/"
    "rollup.incremental_rollup — the TimescaleDB-cagg/Druid-rollup "
    "analogue): event files land in a drop directory, each micro-batch "
    "folds its PARTIAL (bucket, key) count/decimal-sum aggregates into "
    "the stored rollup behind an atomic version pointer, rewriting only "
    "the hash partitions its buckets touch; batch-id replay guard makes "
    "crash-redelivery a no-op. The oracle is the mergeability theorem "
    "itself: the committed table equals the one-shot aggregation over "
    "everything seen",
)
def q_stream_rollup_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.streaming.rollup import current_rollup, incremental_rollup

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    root = _scratch_dir("stream_rollup", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and emit nothing
    shutil.rmtree(root, ignore_errors=True)
    src = os.path.join(root, "src")
    os.makedirs(src)
    for gen, pred in ((1, F.col("event_id") % 2 == 0), (2, F.col("event_id") % 2 == 1)):
        _land_stream_file(ev.where(pred), src, gen)
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_rollup(
        stream,
        os.path.join(root, "rollup"),
        checkpoint_dir=os.path.join(root, "ck"),
    )
    q.awaitTermination()
    return current_rollup(spark, os.path.join(root, "rollup")).select(
        "bucket_start", "event_type", "n", "sum_value"
    )


@query(
    "dynamic_partition_overwrite",
    # the oracle is the EXPECTED FINAL STATE: day 6's rows carry the
    # corrected (doubled) values, every other day keeps the original
    # ones — a static overwrite would have emptied the other 29 days,
    # and a blind append would double-count day 6, so both classic
    # backfill failure modes shift the per-day accounting and fail the
    # value hash. value*2 is an exponent bump: float-exact in any
    # engine; per-day sums accumulate in DECIMAL (the _DSUM rule).
    oracle="""
        SELECT CAST(ts AS DATE) AS day, count(*) AS n,
               {v} AS value_sum
        FROM (SELECT ts,
                     CASE WHEN CAST(ts AS DATE) = DATE '2024-01-06'
                          THEN value * 2 ELSE value END AS value
              FROM events)
        GROUP BY 1 ORDER BY 1
    """.format(v=_DSUM.format(c="value")),
    doc="dynamic partition overwrite — the BACKFILL contract "
    "(sources/sinks.overwrite_partitions): events land day-partitioned, "
    "then ONE day's corrected rows (values doubled) rewrite ONLY that "
    "day via partitionOverwriteMode=dynamic pinned on the write itself "
    "— never session config, never the static mode whose overwrite "
    "deletes the whole table; the per-day accounting over the final "
    "table proves the other 29 partitions stayed byte-untouched and "
    "day 6 carries exactly the corrected content",
)
def q_dynamic_partition_overwrite(spark, sf_dir):
    from hadoop_app_spark.sources.sinks import overwrite_partitions

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "value", F.to_date("ts").alias("day")
    )
    path = _scratch_dir("dyn_overwrite", sf_dir)
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    fixed = ev.where(F.col("day") == F.lit("2024-01-06").cast("date")).withColumn(
        "value", F.col("value") * 2
    )
    overwrite_partitions(fixed, path, ["day"])
    return (
        spark.read.parquet(path)
        .groupBy("day")
        .agg(F.count("*").alias("n"), _dsum("value").alias("value_sum"))
        .orderBy("day")
    )


@query(
    "conversion_attribution",
    # per-user carry of the first/last preceding click's campaign via
    # IGNORE NULLS windows on the deterministic (ts, event_id) key;
    # revenue sums in DECIMAL (the _DSUM rule); purchases with no
    # preceding click are reported under campaign -1, never dropped
    oracle="""
        WITH e AS (SELECT user_id, ts, event_id, event_type, value,
                          CASE WHEN event_type = 'click'
                               THEN CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                          END AS camp
                   FROM events),
        touched AS (SELECT *,
                        first_value(camp IGNORE NULLS) OVER w AS first_touch,
                        last_value(camp IGNORE NULLS) OVER w AS last_touch
                    FROM e
                    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        p AS (SELECT * FROM touched WHERE event_type = 'purchase'),
        m AS (SELECT 'first_touch' AS model, coalesce(first_touch, -1) AS campaign,
                     value FROM p
              UNION ALL
              SELECT 'last_touch', coalesce(last_touch, -1), value FROM p)
        SELECT model, campaign, count(*) AS n_purchases, {v} AS revenue
        FROM m GROUP BY 1, 2
    """.format(v=_DSUM.format(c="value")),
    doc="multi-touch conversion attribution (operators/funnel."
    "attribute_conversions — the marketing-analytics sibling of funnel/"
    "transitions): each purchase credits the FIRST and the LAST preceding "
    "click's campaign (parsed from the event's JSON props) via per-user "
    "IGNORE-NULLS carry windows on the deterministic (ts, event_id) key — "
    "partitioned, never a global sort — then one hash agg per model; "
    "orphan purchases (no preceding click) land under campaign -1, "
    "counted and visible, never silently dropped; revenue accumulates in "
    "DECIMAL so the totals are bit-stable",
)
def q_conversion_attribution(spark, sf_dir):
    from hadoop_app_spark.operators.funnel import attribute_conversions

    ev = _t(spark, sf_dir, "events")
    return attribute_conversions(
        ev,
        user_col="user_id",
        ts_col="ts",
        type_col="event_type",
        id_col="event_id",
        value_col="value",
        touch_type="click",
        campaign_col=(
            F.get_json_object("props", "$.k").cast("long") % 10
        ),
    )


@query(
    "ab_test_summary",
    # deterministic assignment (user_id % 2), conversion = any
    # 'purchase' event; every output is exact integer arithmetic
    # (counts + milli-unit integer div), so the experiment readout is
    # bit-identical in any engine
    oracle="""
        WITH pu AS (SELECT user_id % 2 AS variant, user_id,
                           max(CASE WHEN event_type = 'purchase'
                               THEN 1 ELSE 0 END) AS c
                    FROM events GROUP BY 1, 2),
        pv AS (SELECT variant,
                      CAST(count(*) AS BIGINT) AS n_users,
                      CAST(sum(c) AS BIGINT) AS n_converted
               FROM pu GROUP BY 1),
        r AS (SELECT *, CAST(n_converted * 1000 // n_users AS BIGINT)
                        AS cr_milli FROM pv),
        ctrl AS (SELECT cr_milli AS cr0 FROM r WHERE variant = 0)
        SELECT variant, n_users, n_converted, cr_milli,
               CAST(cr_milli - cr0 AS BIGINT) AS diff_milli,
               CAST((cr_milli - cr0) * 1000 // cr0 AS BIGINT) AS lift_milli
        FROM r CROSS JOIN ctrl
    """,
    doc="A/B experiment readout (operators/funnel.ab_test_summary — the "
    "event-analytics family's experiment face beside funnel/attribution/"
    "transitions): per deterministically assigned variant (user_id % 2), "
    "distinct-user and converted-user counts, conversion rate, and the "
    "absolute/relative deltas vs the control arm, all in exact integer "
    "milli-units; one (variant, user) map-side-combined pre-aggregate is "
    "the only event-volume shuffle, then a |variants|-row rollup and a "
    "one-row control broadcast — significance testing is downstream, "
    "every exact count it needs is in the row",
)
def q_ab_test_summary(spark, sf_dir):
    from hadoop_app_spark.operators.funnel import ab_test_summary

    ev = _t(spark, sf_dir, "events").withColumn(
        "variant", F.col("user_id") % 2
    )
    return ab_test_summary(
        ev, "user_id", "variant", F.col("event_type") == "purchase"
    )


@query(
    "event_transitions",
    # deterministic (ts, event_id) ordering inside each user's lag
    # window; probabilities ship integer-exact (n*1000 div n_from) —
    # no float division anywhere
    oracle="""
        WITH s AS (SELECT user_id, event_type,
                          lag(event_type) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id
                          ) AS from_type
                   FROM events),
        c AS (SELECT from_type, event_type AS to_type, count(*) AS n
              FROM s WHERE from_type IS NOT NULL GROUP BY 1, 2),
        o AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from
              FROM c GROUP BY 1)
        SELECT from_type, to_type, n, n_from,
               CAST(n * 1000 // n_from AS BIGINT) AS prob_milli
        FROM c JOIN o USING (from_type)
    """,
    doc="per-user event-type transition matrix (operators/funnel."
    "event_transitions — the Markov-chain feature pass behind next-event "
    "models and journey dashboards, the sequence-mining sibling of "
    "funnel/cohort): each user's events pair with their predecessor via "
    "a PER-USER lag window on the deterministic (ts, event_id) key — "
    "partitioned, never a global sort — then one partial-combine hash "
    "agg counts (from, to) globally; transition probability ships as "
    "integer-exact prob_milli so the whole matrix value-reproduces",
)
def q_event_transitions(spark, sf_dir):
    from hadoop_app_spark.operators.funnel import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev, "user_id", "ts", "event_type", "event_id")


@query(
    "key_skew_profile",
    # type-1 quantile of per-key counts: smallest count value whose
    # cumulative key-rank reaches ceil(p * n_keys) — the cum window in
    # the oracle runs over DISTINCT count values; the engine side uses
    # the bounded 2-pass order-statistic extraction instead
    oracle="""
        WITH c AS (SELECT l_suppkey, count(*) AS c FROM lineitem GROUP BY 1),
        t AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
                     CAST(count(*) AS BIGINT) AS n_keys,
                     CAST(max(c) AS BIGINT) AS max_rows FROM c),
        tk AS (SELECT CAST(sum(c) AS BIGINT) AS topk_rows
               FROM (SELECT c FROM c ORDER BY c DESC, l_suppkey LIMIT 10)),
        d AS (SELECT c, count(*) AS k FROM c GROUP BY 1),
        cum AS (SELECT c, sum(k) OVER (ORDER BY c) AS cum FROM d),
        qs AS (SELECT
                 CAST(min(CASE WHEN cum >= (1*n_keys + 1) // 2 THEN c END) AS BIGINT) AS p50_rows,
                 CAST(min(CASE WHEN cum >= (9*n_keys + 9) // 10 THEN c END) AS BIGINT) AS p90_rows,
                 CAST(min(CASE WHEN cum >= (99*n_keys + 99) // 100 THEN c END) AS BIGINT) AS p99_rows
               FROM cum CROSS JOIN t)
        SELECT n_rows, n_keys, max_rows,
               CAST(max_rows * 1000 // n_rows AS BIGINT) AS max_share_milli,
               CAST(topk_rows * 1000 // n_rows AS BIGINT) AS topk_share_milli,
               p50_rows, p90_rows, p99_rows
        FROM t CROSS JOIN tk CROSS JOIN qs
    """,
    doc="key-skew diagnostics (operators/skew.key_skew_profile — the "
    "measurement that picks between plain shuffle, broadcast, AQE skew "
    "split, and salted_join BEFORE a 100 TB job discovers its hot key "
    "the slow way): one grouped count is the only corpus-sized work; "
    "exact per-key-count quantiles come from the repo's bounded 2-pass "
    "order-statistic extraction (grouped_percentile_disc — NO "
    "unpartitioned window, no single-task buffer), and every share is "
    "integer-exact milli-units",
)
def q_key_skew_profile(spark, sf_dir):
    from hadoop_app_spark.operators.skew import key_skew_profile

    li = _t(spark, sf_dir, "lineitem")
    return key_skew_profile(li, "l_suppkey", top_k=10)


@query(
    "token_pmi_topk",
    # lift in exact integers end to end (the wordpiece cross-mult
    # convention): PMI = log(lift) is monotone in lift, so the ranked
    # integer lift_milli carries the full ordering with no float log
    oracle="""
        WITH t AS (SELECT doc_id, unnest(list_distinct({toks})) AS tok
                   FROM documents),
        n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS nd FROM t),
        dft AS (SELECT tok, count(*) AS n_t FROM t GROUP BY 1),
        kept AS (SELECT doc_id, tok FROM t JOIN dft USING (tok) WHERE n_t >= 2),
        p AS (SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_ab
              FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.tok < b.tok
              GROUP BY 1, 2)
        SELECT tok_a, tok_b, n_ab,
               da.n_t AS n_a, db.n_t AS n_b,
               CAST((SELECT nd FROM n) * n_ab * 1000 // (da.n_t * db.n_t)
                    AS BIGINT) AS lift_milli
        FROM p JOIN dft da ON p.tok_a = da.tok
               JOIN dft db ON p.tok_b = db.tok
    """.format(toks=_TOKS),
    doc="collocation mining by exact-integer PMI lift (operators/corpus."
    "token_pmi_pairs — the word2vec phrase-pass / bigram-dictionary "
    "induction shape as association mining over documents): per-doc "
    "DISTINCT tokens (frequency floor via one broadcast join) expand to "
    "ordered pairs INSIDE the array with a slice/transform comprehension "
    "— tokenize runs once, one shuffle on the pair key, never a tokenize-"
    "twice self-join — then lift_milli = N*df(ab)*1000 div (df(a)*df(b)) "
    "ranks pairs with no float log anywhere; output bounded by the "
    "floored vocabulary's pair count, the knob a 100 TB phrase pass turns",
)
def q_token_pmi_topk(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import token_pmi_pairs

    d = _t(spark, sf_dir, "documents")
    return token_pmi_pairs(d, "text", "doc_id", min_df=2)


@query(
    "frequent_item_pairs",
    # support/confidence/lift all in exact integer micro/milli units
    # (integer div — the token_pmi cross-mult convention): the oracle
    # replays the distinct-items set, the A-Priori-equivalent pair
    # counting, the basket total and every metric from scratch
    oracle="""
        WITH it AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
                    FROM lineitem),
        nb AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n FROM it),
        ic AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
               FROM it GROUP BY 1),
        p AS (SELECT a.item AS item_a, b.item AS item_b,
                     CAST(count(*) AS BIGINT) AS n_pair
              FROM it a JOIN it b
                ON a.basket = b.basket AND a.item < b.item
              GROUP BY 1, 2
              HAVING count(*) >= 2)
        SELECT item_a, item_b, n_pair,
               ca.n_item AS n_a, cb.n_item AS n_b,
               CAST(n_pair * 1000000 // (SELECT n FROM nb) AS BIGINT)
                   AS support_micro,
               CAST(n_pair * 1000 // ca.n_item AS BIGINT) AS conf_ab_milli,
               CAST(n_pair * 1000 // cb.n_item AS BIGINT) AS conf_ba_milli,
               CAST(n_pair * (SELECT n FROM nb) * 1000
                    // (ca.n_item * cb.n_item) AS BIGINT) AS lift_milli
        FROM p JOIN ic ca ON p.item_a = ca.item
               JOIN ic cb ON p.item_b = cb.item
    """,
    doc="association mining: frequent co-occurring item pairs with "
    "A-Priori pruning (operators/itemsets.frequent_item_pairs — the "
    "market-basket classic, Agrawal/Srikant VLDB'94 class; "
    "token_pmi_topk's sibling one level up: item pairs within a basket "
    "instead of token pairs within a document). Baskets are orders, "
    "items are parts; candidate generation is the within-basket "
    "self-join — O(sum basket^2), never |items|^2 — with infrequent "
    "items pruned FIRST via broadcast semi-join (lossless at the pair "
    "threshold by the A-Priori property); support/confidence/lift in "
    "exact integer micro/milli units, no float anywhere",
)
def q_frequent_item_pairs(spark, sf_dir):
    from hadoop_app_spark.operators.itemsets import frequent_item_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return frequent_item_pairs(li, "l_orderkey", "l_partkey", min_pair_count=2)


@query(
    "timeseries_gapfill",
    # the carried reading is SELECTED (struct-max by (ts, event_id)),
    # never recomputed, so the float passes through bit-identical;
    # to_date on the naive TIMESTAMP_NTZ is session-tz-independent in
    # both engines (the linear_trend convention)
    oracle="""
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value
                   FROM events),
        obs AS (SELECT user_id, day, count(*) AS n_events,
                       (max({'ts': ts, 'eid': event_id, 'v': value})).v AS lastv
                FROM e GROUP BY 1, 2),
        b AS (SELECT min(day) AS mind, max(day) AS maxd FROM e),
        spine AS (SELECT u.user_id,
                         CAST(unnest(generate_series(b.mind, b.maxd,
                                                     INTERVAL 1 DAY)) AS DATE) AS day
                  FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN b),
        j AS (SELECT s.user_id, s.day,
                     CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events, o.lastv
              FROM spine s LEFT JOIN obs o USING (user_id, day))
        SELECT user_id, day, n_events,
               last_value(lastv IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_value
        FROM j
    """,
    doc="time-series gap-fill with last-observation-carried-forward "
    "(operators/timeseries.gapfill_locf — the event-analytics family's "
    "completion member: missing periods become EXPLICIT rows before any "
    "per-period model): per-user daily spine over the observed range "
    "(|keys| x |days| grid rows, bounded by the calendar, never event "
    "volume), zero-filled counts via a spine left join, the day's last "
    "reading by deterministic (ts, event_id) struct-max, carried across "
    "gap days by a PER-KEY ordered window over the dense spine — no "
    "unpartitioned WindowExec, the raw events shuffle once",
)
def q_timeseries_gapfill(spark, sf_dir):
    from hadoop_app_spark.operators.timeseries import gapfill_locf

    ev = _t(spark, sf_dir, "events")
    return gapfill_locf(ev, "ts", ["user_id"], "value", "event_id")


@query(
    "timeseries_interpolate",
    # same spine/struct-max machinery as timeseries_gapfill; the
    # interpolation is ONE fixed-shape IEEE expression over SELECTED
    # endpoint readings and integer day distances, so the filled
    # values are bit-identical in both engines
    oracle="""
        WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id, value
                   FROM events),
        obs AS (SELECT user_id, day, count(*) AS n_events,
                       (max({'ts': ts, 'eid': event_id, 'v': value})).v AS lastv
                FROM e GROUP BY 1, 2),
        b AS (SELECT min(day) AS mind, max(day) AS maxd FROM e),
        spine AS (SELECT u.user_id,
                         CAST(unnest(generate_series(b.mind, b.maxd,
                                                     INTERVAL 1 DAY)) AS DATE) AS day
                  FROM (SELECT DISTINCT user_id FROM e) u CROSS JOIN b),
        j AS (SELECT s.user_id, s.day,
                     CAST(coalesce(o.n_events, 0) AS BIGINT) AS n_events, o.lastv
              FROM spine s LEFT JOIN obs o USING (user_id, day)),
        t AS (SELECT *,
                last_value(CASE WHEN lastv IS NOT NULL
                                THEN {'d': day, 'v': lastv} END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY day
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
                first_value(CASE WHEN lastv IS NOT NULL
                                 THEN {'d': day, 'v': lastv} END IGNORE NULLS)
                    OVER (PARTITION BY user_id ORDER BY day
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n
              FROM j)
        SELECT user_id, day, n_events,
               CASE
                 WHEN p IS NOT NULL AND n IS NOT NULL AND n.d <> p.d
                   THEN p.v + (n.v - p.v)
                        * (CAST(day - p.d AS DOUBLE) / CAST(n.d - p.d AS DOUBLE))
                 WHEN p IS NOT NULL THEN p.v
                 ELSE n.v
               END AS lin_value
        FROM t
    """,
    doc="time-series gap-fill by linear interpolation (operators/"
    "timeseries.gapfill_interpolate — timeseries_gapfill's straight-line "
    "sibling): gap days take the line between the surrounding observed "
    "readings, range edges take the nearest one, observed days reproduce "
    "their own reading exactly; endpoints are SELECTED (ts, event_id) "
    "struct-max readings carried by one forward and one backward per-key "
    "IGNORE-NULLS window over the dense spine, and the interpolation is "
    "a fixed-shape IEEE expression over them — bit-identical across "
    "engines, grid-bounded cost",
)
def q_timeseries_interpolate(spark, sf_dir):
    from hadoop_app_spark.operators.timeseries import gapfill_interpolate

    ev = _t(spark, sf_dir, "events")
    return gapfill_interpolate(ev, "ts", ["user_id"], "value", "event_id")


@query(
    "timeseries_downsample",
    # open/close are SELECTED readings (struct-min/max by (ts,
    # event_id) — the gapfill convention), high/low plain extremes,
    # the sum decimal-exact; date_trunc('week') is Monday-based and
    # session-tz-independent over the naive TIMESTAMP_NTZ in BOTH
    # engines. The oracle replays open/close via per-bucket rank-1
    # rows under the same (ts, event_id) order
    oracle=f"""
        WITH e AS (SELECT event_type,
                          CAST(date_trunc('week', ts) AS DATE) AS bucket,
                          ts, event_id, value
                   FROM events),
        w AS (SELECT *,
                     row_number() OVER (PARTITION BY event_type, bucket
                                        ORDER BY ts, event_id) AS rn_a,
                     row_number() OVER (PARTITION BY event_type, bucket
                                        ORDER BY ts DESC, event_id DESC) AS rn_d
              FROM e)
        SELECT event_type, bucket,
               count(*) AS n_events,
               max(CASE WHEN rn_a = 1 THEN value END) AS v_open,
               max(value) AS v_high,
               min(value) AS v_low,
               max(CASE WHEN rn_d = 1 THEN value END) AS v_close,
               {_DSUM.format(c="value")} AS v_sum
        FROM w GROUP BY 1, 2
    """,
    doc="time-series OHLC downsampling (operators/timeseries."
    "downsample_ohlc — the grain-reduction member beside gapfill/"
    "interpolate: raw events age out under a retention policy, weekly "
    "candles stay): per (event_type, Monday-week) bucket, open/close = "
    "the bucket's first/last reading by deterministic (ts, event_id) "
    "struct-min/max, high/low plain extremes, volume decimal-exact — "
    "ONE groupBy with full map-side partial combine (open/close are "
    "ordinary struct aggregates, no window over raw events, no second "
    "scan), output |keys| x |weeks|",
)
def q_timeseries_downsample(spark, sf_dir):
    from hadoop_app_spark.operators.timeseries import downsample_ohlc

    ev = _t(spark, sf_dir, "events")
    return downsample_ohlc(ev, "ts", ["event_type"], "value", "event_id")


@query(
    "winsorize_features",
    # type-1 percentile clamp at the 1/16 tails — EXACT binary
    # fractions, so the extraction's float ceil(p*n) rank equals the
    # oracle's integer (n+15) div 16 / (15n+15) div 16 at ANY n; the
    # clamped doubles are SELECTED order statistics, bit-identical
    # cross-engine
    oracle="""
        WITH c AS (SELECT value AS v, count(*) AS cnt FROM events GROUP BY 1),
        cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c),
        tot AS (SELECT count(*) AS n FROM events),
        b AS (SELECT min(CASE WHEN cum >= (n + 15) // 16 THEN v END) AS lo,
                     min(CASE WHEN cum >= (15 * n + 15) // 16 THEN v END) AS hi
              FROM cum CROSS JOIN tot)
        SELECT event_id, value,
               least(greatest(value, lo), hi) AS value_wins
        FROM events CROSS JOIN b
    """,
    doc="winsorization — robust feature clamping at exact type-1 "
    "percentiles (operators/skew.winsorize, the outlier-taming step "
    "before quality scoring or min-max normalization): the 1/16 and "
    "15/16 tail cuts come from the engine's bounded 2-pass "
    "order-statistic extraction (range-repartition + partition-local "
    "windows — never percentile()'s single-task value buffer), and the "
    "clamp itself is one narrow whole-stage-codegen map; binary-"
    "fraction tails keep the float rank ceil integer-exact at any n",
)
def q_winsorize_features(spark, sf_dir):
    from hadoop_app_spark.operators.skew import winsorize

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out, _bounds = winsorize(ev, "value", out_col="value_wins")
    return out


@query(
    "robust_scale_features",
    # the three quartile cuts are exact type-1 order statistics at
    # EXACT-binary probabilities (1/4, 1/2, 3/4 — float rank ceil ==
    # integer rank arithmetic at any n), and the scaling is one
    # subtraction + one correctly-rounded IEEE division of SELECTED
    # values per row — the scaled doubles value-hash cross-engine
    oracle="""
        WITH c AS (SELECT value AS v, count(*) AS cnt FROM events GROUP BY 1),
        cum AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM c),
        tot AS (SELECT count(*) AS n FROM events),
        b AS (SELECT min(CASE WHEN cum >= (n + 3) // 4 THEN v END) AS q1,
                     min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS med,
                     min(CASE WHEN cum >= (3 * n + 3) // 4 THEN v END) AS q3
              FROM cum CROSS JOIN tot)
        SELECT event_id, value,
               (value - med) / (q3 - q1) AS value_scaled
        FROM events CROSS JOIN b
    """,
    doc="robust feature scaling by median/IQR (operators/skew."
    "robust_scale — winsorize's scaling sibling, the feature-prep trio's "
    "third member beside min-max and clamping: quartiles barely move "
    "under the outliers that drag a mean/stddev z-score arbitrarily): "
    "the three cuts come from the bounded 2-pass order-statistic "
    "extraction at exact-binary quartile probabilities, the per-row "
    "scaling is one narrow codegen map, and degenerate IQR-0 "
    "distributions raise instead of dividing by zero",
)
def q_robust_scale_features(spark, sf_dir):
    from hadoop_app_spark.operators.skew import robust_scale

    ev = _t(spark, sf_dir, "events").select("event_id", "value")
    out, _cuts = robust_scale(ev, "value", out_col="value_scaled")
    return out


@query(
    "snapshot_column_diff",
    # deterministic snapshot views of orders (drop %11 from old, drop
    # %13 from new, flip status at %7, bump price at %5 — +1.0 on a
    # double is exact) so the oracle rebuilds both sides and the same
    # full-outer accounting exactly; NULL-safe inequality == IS
    # DISTINCT FROM in both engines
    oracle="""
        WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
                   FROM orders WHERE o_orderkey % 11 <> 0),
        n AS (SELECT o_orderkey,
                     CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                          ELSE o_orderstatus END AS o_orderstatus,
                     CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                          ELSE o_totalprice END AS o_totalprice,
                     o_orderpriority
              FROM orders WHERE o_orderkey % 13 <> 0),
        j AS (SELECT o.o_orderkey AS ok, n.o_orderkey AS nk,
                     o.o_orderstatus AS os, n.o_orderstatus AS ns,
                     o.o_totalprice AS op, n.o_totalprice AS np,
                     o.o_orderpriority AS opr, n.o_orderpriority AS npr
              FROM o FULL OUTER JOIN n ON o.o_orderkey = n.o_orderkey),
        t AS (SELECT
                CAST(sum(CASE WHEN ok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
                CAST(sum(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
                CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
                CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                               AND os IS DISTINCT FROM ns
                          THEN 1 ELSE 0 END) AS BIGINT) AS chg_status,
                CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                               AND op IS DISTINCT FROM np
                          THEN 1 ELSE 0 END) AS BIGINT) AS chg_price,
                CAST(sum(CASE WHEN ok IS NOT NULL AND nk IS NOT NULL
                               AND opr IS DISTINCT FROM npr
                          THEN 1 ELSE 0 END) AS BIGINT) AS chg_prio
              FROM j)
        SELECT 'o_orderstatus' AS column_name, n_added, n_removed, n_common,
               chg_status AS n_changed FROM t
        UNION ALL
        SELECT 'o_totalprice', n_added, n_removed, n_common, chg_price FROM t
        UNION ALL
        SELECT 'o_orderpriority', n_added, n_removed, n_common, chg_prio FROM t
    """,
    doc="column-level snapshot change profile (operators/upsert."
    "column_change_profile — corpus_diff's per-COLUMN companion, the "
    "release dashboard a refreshed dimension publishes per version): "
    "keys present in both versions are checked column-by-column with "
    "NULL-safe inequality, added/removed keys counted once — ONE "
    "full-outer join on the key feeding ONE wide map-side-combined "
    "aggregate (per-column counts are expressions over the same pass, "
    "never extra scans), melted to |columns| rows driver-side",
)
def q_snapshot_column_diff(spark, sf_dir):
    from hadoop_app_spark.operators.upsert import column_change_profile

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    old = o.where(F.col("o_orderkey") % 11 != 0)
    new = o.where(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + F.lit(1.0))
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderpriority",
    )
    return column_change_profile(old, new, ["o_orderkey"])


@query(
    "snapshot_time_travel",
    # three deterministic states (seed, +batch1 upserts, +batch2
    # deletes/inserts) rebuilt modularly by the oracle; the Spark side
    # reconstructs v1 WITHOUT historical manifests (partition i at
    # version v = the largest n <= v whose v{n} dir holds it) — a
    # wrong reconstruction (reading v2 partitions at v1, missing an
    # untouched partition) changes that row's counts and value-fails
    oracle="""
        WITH v0 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        v1 AS (
            SELECT doc_id,
                   n_chars + CASE WHEN doc_id % 9 = 0 THEN 1000 ELSE 0 END
                       AS n_chars
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
        v2 AS (
            SELECT * FROM v1 WHERE NOT (doc_id % 3 = 0 AND doc_id % 5 = 0)
            UNION ALL
            SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 2)
        SELECT 0 AS version, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM v0
        UNION ALL
        SELECT 1, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM v1
        UNION ALL
        SELECT 2, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM v2
    """,
    doc="snapshot time travel (streaming/cdc.snapshot_at — the "
    "read-at-version face of the versioned CDC snapshot, what a table "
    "format's VERSION AS OF gives for free re-expressed over the "
    "plain-parquet version dance): a seeded snapshot takes two CDC "
    "micro-batches (upserts, then deletes + inserts), and every "
    "committed version is then readable — partition i's content at "
    "version v is the largest n <= v whose v{n}/__snap_p={i} dir "
    "exists, recovered PROBE-FREE from the commit's format-3 emptiness "
    "manifest (VERDICT r10 item 6 — one sidecar read, zero per-"
    "partition existence calls); the entry returns per-version "
    "accounting for ALL THREE states read back through snapshot_at / "
    "the seed. The versioned layout is a deterministic fixture "
    "(memoized via _memo_dir, never mutated by reads), so the timed "
    "work is the OPERATOR — three version reads — not a stream-fixture "
    "rebuild per bench sample",
)
def q_snapshot_time_travel(spark, sf_dir):
    import os

    from hadoop_app_spark.streaming.cdc import snapshot_at

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _build(root):
        from hadoop_app_spark.streaming.cdc import apply_changes_stream

        snap, src, ck = (os.path.join(root, x) for x in ("snap", "src", "ck"))
        os.makedirs(src)
        d.where(F.col("doc_id") % 3 == 0).write.parquet(os.path.join(snap, "v0"))
        batch1 = (
            d.where(F.col("doc_id") % 3 == 1)
            .unionByName(
                d.where(F.col("doc_id") % 9 == 0).withColumn(
                    "n_chars", F.col("n_chars") + 1000
                )
            )
            .select(
                "doc_id", "n_chars", F.lit("U").alias("op"),
                F.col("doc_id").alias("seq"),
            )
        )
        batch2 = (
            d.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0))
            .select("doc_id", "n_chars", F.lit("D").alias("op"))
            .unionByName(
                d.where(F.col("doc_id") % 3 == 2).select(
                    "doc_id", "n_chars", F.lit("U").alias("op")
                )
            )
            .select("doc_id", "n_chars", "op", F.col("doc_id").alias("seq"))
        )
        for gen, df in ((1, batch1), (2, batch2)):
            _land_stream_file(df, src, gen)
        stream = (
            spark.readStream.schema("doc_id long, n_chars long, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = apply_changes_stream(
            stream, snap, ["doc_id"], op_col="op", seq_col="seq", checkpoint_dir=ck
        )
        q.awaitTermination()

    memo = _memo_dir("timetravel", sf_dir, "mod3|u9|d3x5|v3|fmt3", _build)
    snap = os.path.join(memo, "snap")
    parts = []
    for v in (0, 1, 2):
        parts.append(
            snapshot_at(spark, snap, v)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(F.lit(v).alias("version"), "n_docs", "sum_chars")
        )
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


def _snapexpire_memo(spark, sf_dir) -> str:
    """The memoized 3-commit CDC snapshot fixture shared by
    snapshot_expire and snapshot_expire_age (identical fingerprint —
    reads don't mutate it; each entry copies it fresh)."""
    import os

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def _build(root):
        from hadoop_app_spark.streaming.cdc import apply_changes_stream

        snap, src, ck = (os.path.join(root, x) for x in ("snap", "src", "ck"))
        os.makedirs(src)
        d.where(F.col("doc_id") % 3 == 0).write.parquet(os.path.join(snap, "v0"))
        batch1 = (
            d.where(F.col("doc_id") % 3 == 1)
            .unionByName(
                d.where(F.col("doc_id") % 9 == 0).withColumn(
                    "n_chars", F.col("n_chars") + 1000
                )
            )
            .select(
                "doc_id", "n_chars", F.lit("U").alias("op"),
                F.col("doc_id").alias("seq"),
            )
        )
        batch2 = (
            d.where((F.col("doc_id") % 3 == 0) & (F.col("doc_id") % 5 == 0))
            .select("doc_id", "n_chars", F.lit("D").alias("op"))
            .unionByName(
                d.where(F.col("doc_id") % 3 == 2).select(
                    "doc_id", "n_chars", F.lit("U").alias("op")
                )
            )
            .select("doc_id", "n_chars", "op", F.col("doc_id").alias("seq"))
        )
        batch3 = (
            d.where((F.col("doc_id") % 3 == 1) & (F.col("doc_id") % 7 == 0))
            .select("doc_id", "n_chars", F.lit("D").alias("op"))
            .unionByName(
                d.where(F.col("doc_id") % 9 == 0)
                .withColumn("n_chars", F.col("n_chars") + 2000)
                .select("doc_id", "n_chars", F.lit("U").alias("op"))
            )
            .select("doc_id", "n_chars", "op", F.col("doc_id").alias("seq"))
        )
        for gen, df in ((1, batch1), (2, batch2), (3, batch3)):
            _land_stream_file(df, src, gen)
        stream = (
            spark.readStream.schema("doc_id long, n_chars long, op string, seq long")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = apply_changes_stream(
            stream, snap, ["doc_id"], op_col="op", seq_col="seq", checkpoint_dir=ck
        )
        q.awaitTermination()

    return _memo_dir("snapexpire", sf_dir, "mod3|u9|d3x5|b3d7u9|v4", _build)



@query(
    "snapshot_expire",
    # four deterministic states; after expire(keep_last=2) the KEPT
    # versions (2, 3) must read exactly their modular reconstructions —
    # an expiry that deleted a still-reachable directory (e.g. a v1 dir
    # an untouched partition still lives in) changes a kept version's
    # counts and value-fails; the expired version's loud failure is
    # asserted in-entry
    oracle="""
        WITH v0 AS (SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 0),
        v1 AS (
            SELECT doc_id,
                   n_chars + CASE WHEN doc_id % 9 = 0 THEN 1000 ELSE 0 END
                       AS n_chars
            FROM documents WHERE doc_id % 3 = 0
            UNION ALL
            SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 1),
        v2 AS (
            SELECT * FROM v1 WHERE NOT (doc_id % 3 = 0 AND doc_id % 5 = 0)
            UNION ALL
            SELECT doc_id, n_chars FROM documents WHERE doc_id % 3 = 2),
        v3 AS (
            SELECT * FROM v2
            WHERE NOT (doc_id % 3 = 1 AND doc_id % 7 = 0)
              AND doc_id % 9 <> 0
            UNION ALL
            SELECT doc_id, n_chars + 2000 AS n_chars FROM documents
            WHERE doc_id % 9 = 0)
        SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS sum_chars FROM v2
        UNION ALL
        SELECT 3, CAST(count(*) AS BIGINT), CAST(sum(n_chars) AS BIGINT) FROM v3
    """,
    doc="snapshot retention (streaming/cdc.expire_snapshots — the Iceberg "
    "expire_snapshots / Delta VACUUM-horizon analog over the versioned "
    "CDC layout, closing the retention caveat snapshot_at documents): "
    "keep_last versions stay travelable, every directory no kept "
    "manifest references is reclaimed, and REACHABILITY (not age) "
    "decides — a partition untouched since an expired version keeps its "
    "old directory because kept manifests still point there. The entry "
    "expires a 3-commit history to keep_last=2 and returns the kept "
    "versions' accounting read back through snapshot_at; the expired "
    "version must raise loudly (asserted in-entry) and the fixture is "
    "memoized + copied per invocation, so the timed work is the "
    "metadata-only expiry + the two version reads",
)
def q_snapshot_expire(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.streaming.cdc import expire_snapshots, snapshot_at

    memo = _snapexpire_memo(spark, sf_dir)
    snap = _scratch_dir("snapexpire_work", sf_dir)
    shutil.rmtree(snap, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "snap"), snap)
    res = expire_snapshots(spark, snap, keep_last=2)
    if res["expired"] != [1] or res["manifests_deleted"] != 1:
        raise RuntimeError(f"snapshot_expire: unexpected expiry result {res}")
    try:
        snapshot_at(spark, snap, 1).count()
    except ValueError:
        pass  # the expired version MUST be loudly unreadable
    else:
        raise RuntimeError("snapshot_expire: expired version 1 still readable")
    parts = []
    for v in (2, 3):
        parts.append(
            snapshot_at(spark, snap, v)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(F.lit(v).alias("version"), "n_docs", "sum_chars")
        )
    return parts[0].unionByName(parts[1])


@query(
    "snapshot_expire_age",
    # the same four deterministic states and the same kept-version
    # value check as snapshot_expire: the AGE policy must land on the
    # identical kept set {2, 3} (v2 by age, v3 by the retain floor),
    # and reachability still decides which directories survive — an
    # age expiry that reclaimed a still-referenced dir value-fails
    oracle=None,  # assigned below: snapshot_expire's oracle verbatim
    doc="AGE-horizon snapshot retention (streaming/cdc.expire_snapshots "
    "older_than_ms, r12 — VERDICT r11 item 7): real retention policies "
    "are 'N days', not 'N versions', and the rollup layout's one-"
    "version-per-micro-batch cadence makes version counts meaningless "
    "across trigger changes. The entry stamps the commit sidecars with "
    "a mixed cadence (v1 days-old, v2/v3 recent), expires with a "
    "7-day cutoff and keep_last demoted to the retain-at-least floor "
    "of 1 — v2 survives by AGE where the count horizon alone would "
    "have expired it, v1 expires, and the kept versions' accounting "
    "reads back exactly (same oracle as snapshot_expire: reachability "
    "still decides which directories survive)",
)
def q_snapshot_expire_age(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.streaming.cdc import expire_snapshots, snapshot_at

    # same memoized 3-commit fixture as snapshot_expire (shared
    # builder, identical fingerprint), copied fresh per invocation
    memo = _snapexpire_memo(spark, sf_dir)
    snap = _scratch_dir("snapexpire_age", sf_dir)
    shutil.rmtree(snap, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "snap"), snap)
    # mixed cadence stamped onto the commit sidecars: v1 landed 10 days
    # before the (fixed, deterministic) reference instant; v2/v3 hours
    day = 86_400
    now_s = 1_700_000_000 + 10 * day
    os.utime(os.path.join(snap, "_MANIFEST_v1"), (now_s - 10 * day,) * 2)
    for v in (2, 3):
        os.utime(os.path.join(snap, f"_MANIFEST_v{v}"), (now_s - 3600 * (4 - v),) * 2)
    res = expire_snapshots(
        spark, snap, keep_last=1, older_than_ms=(now_s - 7 * day) * 1000
    )
    if res["kept"] != [2, 3] or res["expired"] != [1]:
        raise RuntimeError(f"snapshot_expire_age: unexpected expiry {res}")
    try:
        snapshot_at(spark, snap, 1).count()
    except ValueError:
        pass  # the expired version MUST be loudly unreadable
    else:
        raise RuntimeError("snapshot_expire_age: expired version 1 still readable")
    parts = []
    for v in (2, 3):
        parts.append(
            snapshot_at(spark, snap, v)
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_chars").cast("long").alias("sum_chars"),
            )
            .select(F.lit(v).alias("version"), "n_docs", "sum_chars")
        )
    return parts[0].unionByName(parts[1])


REGISTRY["snapshot_expire_age"] = QueryDef(
    REGISTRY["snapshot_expire_age"].fn,
    REGISTRY["snapshot_expire"].oracle,
    REGISTRY["snapshot_expire_age"].doc,
)


@query(
    "count_distinct",
    oracle="""
        SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_customers,
               count(*) AS n_orders,
               true AS within_band
        FROM orders GROUP BY o_orderpriority
    """,
    doc="exact + approximate distinct aggregation (absent in reference; SURVEY "
    "§2.4). The HLL sketch value is engine-seeded, so the gated contract for the "
    "approx path is the error band: within_band = |approx - exact|/exact <= 0.05 "
    "(rsd=0.02, a 2.5-sigma bound), asserted true per group by the oracle — the "
    "scale path for 100 TB cardinalities where exact distinct shuffles every "
    "key. Plan shape: pre-aggregate on (group, key) first — exact distinct "
    "becomes a plain count and the HLL merges pre-deduped keys, avoiding the "
    "Expand that mixing countDistinct with other aggregates triggers (measured "
    "3.7x faster at sf0.1)",
)
def q_count_distinct(spark, sf_dir):
    pre = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority", "o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    agg = pre.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_customers"),
        F.sum("cnt").alias("n_orders"),
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("approx_customers"),
    )
    band = (
        F.abs(F.col("approx_customers") - F.col("n_customers"))
        / F.col("n_customers").cast("double")
        <= 0.05
    )
    return agg.select("o_orderpriority", "n_customers", "n_orders", band.alias("within_band"))


@query(
    "grouping_analytics",
    oracle="""
        SELECT 'cube' AS op, l_returnflag AS k1, l_linestatus AS k2,
               count(*) AS n, {q} AS sum_qty
        FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        UNION ALL
        SELECT 'rollup', CAST(year(o_orderdate) AS VARCHAR), o_orderpriority,
               count(*), NULL
        FROM orders GROUP BY ROLLUP (CAST(year(o_orderdate) AS VARCHAR), o_orderpriority)
        UNION ALL
        SELECT 'gsets', l_returnflag, l_linestatus, count(*), NULL
        FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="CUBE + ROLLUP + GROUPING SETS in one tagged result (SURVEY §2.4 'absent' "
    "trio; merged so each multi-dimensional grouping strategy gets a driver row)",
)
def q_grouping_analytics(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cube = (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .select(
            F.lit("cube").alias("op"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            "n",
            "sum_qty",
        )
    )
    rollup = (
        _t(spark, sf_dir, "orders")
        .withColumn("order_year", F.year("o_orderdate").cast("string"))
        .rollup("order_year", "o_orderpriority")
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("rollup").alias("op"),
            F.col("order_year").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            "n",
            F.lit(None).cast("double").alias("sum_qty"),
        )
    )
    li.createOrReplaceTempView("_gs_lineitem")
    gsets = spark.sql(
        """
        SELECT 'gsets' AS op, l_returnflag AS k1, l_linestatus AS k2,
               count(*) AS n, CAST(NULL AS DOUBLE) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )
    return cube.unionByName(rollup).unionByName(gsets)


sql_query(
    "pivot_wide",
    text="""
        SELECT l_returnflag,
               {o} AS qty_o, {f} AS qty_f
        FROM lineitem GROUP BY l_returnflag
    """.format(
        o=_DSUM.format(c="CASE WHEN l_linestatus = 'O' THEN l_quantity END"),
        f=_DSUM.format(c="CASE WHEN l_linestatus = 'F' THEN l_quantity END"),
    ),
    doc="pivot to wide columns (conditional aggregation form for oracle parity)",
)


# ---------------------------------------------------------------------------
# Join completions (SURVEY §2.3 "absent" list) + as-of / range
# ---------------------------------------------------------------------------


@query(
    "semi_anti_join",
    oracle="""
        SELECT 'semi' AS op, c_custkey, c_name FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        UNION ALL
        SELECT 'anti', c_custkey, c_name FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    doc="left-semi (P4 null-lookup filter as first-class op) + left-anti "
    "(absent in reference; SURVEY §2.3), one tagged result per join type",
)
def q_semi_anti_join(spark, sf_dir):
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    semi = semi_join(customer, orders, "c_custkey").select(
        F.lit("semi").alias("op"), "c_custkey", "c_name"
    )
    anti = anti_join(customer, orders, "c_custkey").select(
        F.lit("anti").alias("op"), "c_custkey", "c_name"
    )
    return semi.unionByName(anti)


sql_query(
    "outer_joins",
    text="""
        SELECT 'left' AS op, CAST(c_custkey AS BIGINT) AS key,
               count(o_orderkey) AS cnt_a, CAST(NULL AS BIGINT) AS cnt_b
        FROM customer LEFT JOIN orders ON o_custkey = c_custkey
        GROUP BY c_custkey
        UNION ALL
        SELECT 'full', CAST(coalesce(cn.n_nationkey, sn.n_nationkey) AS BIGINT),
               cn.n_customers, sn.n_suppliers
        FROM (SELECT c_nationkey AS n_nationkey, count(*) AS n_customers
              FROM customer GROUP BY 1) cn
        FULL OUTER JOIN
             (SELECT s_nationkey AS n_nationkey, count(*) AS n_suppliers
              FROM supplier GROUP BY 1) sn
        USING (n_nationkey)
    """,
    doc="LEFT OUTER (the join the reference documents but fails to implement, "
    "SURVEY §1.3.1) + FULL OUTER (absent; SURVEY §2.3), one tagged result",
)


sql_query(
    "cross_range_joins",
    text="""
        SELECT 'cross_pairs' AS join_kind, a.r_name AS k1, b.r_name AS k2,
               CAST(1 AS BIGINT) AS n
        FROM region a CROSS JOIN region b WHERE a.r_regionkey < b.r_regionkey
        UNION ALL
        SELECT 'range_band', p_brand, '', count(*)
        FROM lineitem JOIN part ON l_partkey = p_partkey
             AND l_extendedprice BETWEEN p_retailprice * 0.5 AND p_retailprice * 2.0
        GROUP BY p_brand
    """,
    doc="non-equi join shapes in one suite: cross join / per-key cartesian (J3, "
    "ReduceJoinJob.java:163-173) and equi+range theta join where the theta "
    "predicate rides the hash join (no cartesian) — tag-unioned to one schema",
)


@query(
    "asof_join_latest_click",
    oracle="""
        WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
             c AS (SELECT * FROM events WHERE event_type = 'click'),
             j AS (SELECT p.event_id, p.user_id, p.ts,
                          c.event_id AS click_event_id, c.ts AS click_ts,
                          row_number() OVER (PARTITION BY p.event_id
                               ORDER BY c.ts DESC, c.event_id DESC) AS rn
                   FROM p JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts)
        SELECT event_id, user_id, click_event_id
        FROM j WHERE rn = 1
    """,
    doc="as-of join (backward): latest prior click per purchase — custom operator the "
    "reference lacks, built as range-join + rank-1 (operators/joins.py:asof_join)",
)
def q_asof_join(spark, sf_dir):
    # merge form: one shuffle over |purchases|+|clicks|; the join+rank
    # form would fan each purchase out by its full prior-click history
    from hadoop_app_spark.operators.joins import asof_join_merge

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("click_ts"), F.col("event_id").alias("click_event_id")
    )
    out = asof_join_merge(
        purchases,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="click_ts",
        right_value_cols=["click_event_id"],
        right_tiebreak=["click_event_id"],
    )
    return out.select("event_id", "user_id", "click_event_id")


# ---------------------------------------------------------------------------
# Window-function completions (SURVEY §2.8 — all absent in reference)
# ---------------------------------------------------------------------------


@query(
    "window_analytics",
    oracle="""
        SELECT o_custkey, o_orderkey,
               CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS INTEGER) AS price_rank,
               CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS INTEGER) AS prio_rank,
               lag(o_totalprice) OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                    OVER ws AS DOUBLE) / count(*) OVER ws AS sliding_avg,
               CAST(ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS INTEGER) AS price_quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               ws AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    doc="SURVEY §2.8 analytic-window family in one pass: rank/dense_rank, lag/lead "
    "with deterministic order, running total + 3-row sliding avg with explicit ROWS "
    "frames (decimal-exact accumulation), and global ntile quartiles with "
    "deterministic tiebreak. The three o_custkey windows share one shuffle; the "
    "quartiles come from operators.windows.global_ntile (broadcast boundary CASE "
    "chain), NOT an unpartitioned WindowExec — no single-partition stage anywhere.",
)
def q_window_analytics(spark, sf_dir):
    from hadoop_app_spark.operators.windows import global_ntile

    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_slide = wo.rowsBetween(-2, Window.currentRow)
    dec_price = F.col("o_totalprice").cast("decimal(18,6)")
    orders = global_ntile(
        _t(spark, sf_dir, "orders"), 4, ["o_totalprice", "o_orderkey"], "price_quartile"
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank()
        .over(Window.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc()))
        .cast("int")
        .alias("price_rank"),
        F.dense_rank()
        .over(Window.partitionBy("o_custkey").orderBy("o_orderpriority"))
        .cast("int")
        .alias("prio_rank"),
        F.lag("o_totalprice").over(wo).alias("prev_price"),
        F.lead("o_totalprice").over(wo).alias("next_price"),
        F.sum(dec_price).over(w_run).cast("double").alias("running_spend"),
        (F.sum(dec_price).over(w_slide).cast("double") / F.count("*").over(w_slide)).alias("sliding_avg"),
        "price_quartile",
    )


# ---------------------------------------------------------------------------
# Set operations / sort / limit (SURVEY §2.6, §2.5 "absent")
# ---------------------------------------------------------------------------


sql_query(
    "set_operations",
    text="""
        SELECT 'union' AS op, n_name FROM (
            SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
            UNION
            SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey)
        UNION ALL
        SELECT 'intersect', n_name FROM (
            SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
            INTERSECT
            SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey)
        UNION ALL
        SELECT 'except', n_name FROM (
            SELECT n_name FROM nation JOIN customer ON c_nationkey = n_nationkey
            EXCEPT
            SELECT n_name FROM nation JOIN supplier ON s_nationkey = n_nationkey)
    """,
    doc="UNION distinct (S2 multi-path scan generalized) + INTERSECT + EXCEPT "
    "(both absent in reference; SURVEY §2.6), one tagged result per set op",
)


@query(
    "global_topn",
    oracle="""
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    doc="global top-N -> TakeOrderedAndProject (no full sort; SURVEY §4 T2 note)",
)
def q_global_topn(spark, sf_dir):
    return global_top_k(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        10,
    )


# ---------------------------------------------------------------------------
# Scalar-function surface (SURVEY §2.7): dates, JSON, strings, arrays
# ---------------------------------------------------------------------------


@query(
    "date_functions",
    oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
               count(*) AS n,
               strftime(min(o_orderdate + INTERVAL 1 DAY), '%Y-%m-%d') AS min_next_day,
               strftime(max(o_orderdate + INTERVAL 1 MONTH), '%Y-%m-%d') AS max_next_month,
               min(strftime(date_trunc('day', o_orderdate), '%Y-%m-%d %H:%M:%S')) AS min_day_start,
               max(strftime(date_trunc('day', o_orderdate) + INTERVAL 1 DAY - INTERVAL 1 SECOND,
                            '%Y-%m-%d %H:%M:%S')) AS max_day_end,
               min(epoch_ms(o_orderdate)) AS min_epoch_ms
        FROM orders GROUP BY 1
    """,
    doc="F10-F14 date lib: format/offset/day-start/day-end/epoch-millis "
    "(DateHelper.java:17-98)",
)
def q_date_functions(spark, sf_dir):
    from hadoop_app_spark.functions.dates import (
        date_str,
        day_end,
        day_start,
        epoch_millis,
        offset_days,
        offset_months,
    )

    full = "yyyy-MM-dd HH:mm:ss"
    return (
        _t(spark, sf_dir, "orders")
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(
            F.count("*").alias("n"),
            F.min(date_str(offset_days("o_orderdate", 1))).alias("min_next_day"),
            F.max(date_str(offset_months("o_orderdate", 1))).alias("max_next_month"),
            F.min(F.date_format(day_start("o_orderdate"), full)).alias("min_day_start"),
            F.max(F.date_format(day_end("o_orderdate"), full)).alias("max_day_end"),
            F.min(epoch_millis("o_orderdate")).alias("min_epoch_ms"),
        )
    )


@query(
    "json_functions",
    oracle="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               count(*) AS n,
               '{"type":"' || event_type
                   || '","sum_k":' || CAST(coalesce(CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT), 0) AS VARCHAR)
                   || ',"n":' || CAST(count(*) AS VARCHAR) || '}' AS payload
        FROM events GROUP BY event_type
    """,
    doc="F8 JSON parse + F9 JSON serialize in one pass (JsonHelper.java:14-22): "
    "get_json_object over events.props, aggregate, re-serialize the result row "
    "with to_json(struct(...)) — the parse->compute->emit round-trip the "
    "reference's JsonHelper exists for",
)
def q_json_functions(spark, sf_dir):
    agg = (
        _t(spark, sf_dir, "events")
        .select("event_type", F.get_json_object("props", "$.k").cast("bigint").alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").cast("bigint").alias("sum_k"), F.count("*").alias("n"))
    )
    return agg.select(
        "event_type",
        "sum_k",
        "n",
        F.to_json(
            F.struct(
                F.col("event_type").alias("type"),
                F.coalesce(F.col("sum_k"), F.lit(0)).alias("sum_k"),
                F.col("n").alias("n"),
            )
        ).alias("payload"),
    )


sql_query(
    "string_functions",
    text="""
        SELECT c_custkey,
               upper(c_mktsegment) AS seg_upper,
               substring(c_name, 1, 8) AS name_prefix,
               c_name || '/' || c_mktsegment AS name_seg,
               CAST(length(c_name) AS INTEGER) AS name_len,
               CASE WHEN lower(c_mktsegment) = 'building' THEN 1 ELSE 0 END AS is_building
        FROM customer
    """,
    doc="F1/F3/F7 string lib: substring/concat/case-insensitive compare",
)


@query(
    "safe_cast_defaults",
    oracle="""
        SELECT doc_id,
               coalesce(TRY_CAST(lang AS DOUBLE), 0.0) AS lang_as_num,
               abs(n_chars - 500) AS dist_from_500
        FROM documents
    """,
    doc="P5/F4 safe-parse-with-default (UserHotcar.java:57-62) + F5 abs distance",
)
def q_safe_cast(spark, sf_dir):
    from hadoop_app_spark.functions.normalize import safe_cast

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        safe_cast(F.col("lang"), "double", 0.0).alias("lang_as_num"),
        F.abs(F.col("n_chars") - 500).alias("dist_from_500"),
    )


@query(
    "array_hof_functions",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks
                   FROM documents)
        SELECT doc_id,
               CAST(len(toks) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INTEGER) AS n_unique,
               array_to_string(list_sort(toks)[1:3], ',') AS first3_sorted,
               CAST(list_contains(toks, 'spark') AS INTEGER) AS has_spark,
               CAST(list_reduce(list_prepend(0, list_transform(toks, x -> length(x))),
                                (acc, x) -> acc + x) AS BIGINT) AS total_chars,
               CAST(len(list_filter(toks, x -> length(x) > 5)) AS INTEGER) AS n_long_tokens
        FROM t
    """,
    doc="array + higher-order functions over tokenized text in one scan (F2 split "
    "generalized; UDF-free row logic at scale): size/distinct/sort/contains plus "
    "transform/filter/aggregate — one tokenize, all columns side by side",
)
def q_array_hof_functions(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").select("doc_id", tokenize("text").alias("toks"))
    return d.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.size(F.array_distinct("toks")).alias("n_unique"),
        F.concat_ws(",", F.slice(F.array_sort("toks"), 1, 3)).alias("first3_sorted"),
        F.array_contains("toks", "spark").cast("int").alias("has_spark"),
        F.aggregate(
            F.transform("toks", lambda x: F.length(x).cast("long")), F.lit(0).cast("long"), lambda a, x: a + x
        ).alias("total_chars"),
        F.size(F.filter("toks", lambda x: F.length(x) > 5)).alias("n_long_tokens"),
    )


# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity (north-star corpus operators)
# ---------------------------------------------------------------------------


# --- CRC-32 derived from scratch in DuckDB SQL -----------------------------
#
# The numpy kernels (operators/dedup.minhash_signatures, simhash_wide)
# hash tokens with zlib.crc32, and functions/text.doc_fingerprint hashes
# the whole text with Spark's crc32 — a PUBLIC, fully-specified
# algorithm (reflected polynomial 0xEDB88320): the
# 256-entry table is 8 shift-xor rounds per byte value, and the
# running CRC folds one byte per step. Both are expressible in SQL —
# the table as a recursive CTE, the fold as list_reduce — so the
# crc32 hash family has a from-scratch DuckDB twin and those kernels
# and every content-fingerprint entry are value-checked oracles.
# Cost note: the CRCs are computed once per DISTINCT token (the
# corpus vocabulary), never per occurrence.

_CRC32_CTES = """crcgen(i, c, s) AS (
            SELECT i, CAST(i AS BIGINT), 0 FROM range(256) gen(i)
            UNION ALL
            SELECT i, CASE WHEN c % 2 = 1 THEN xor(c // 2, 3988292384)
                           ELSE c // 2 END, s + 1
            FROM crcgen WHERE s < 8),
        crctab AS (SELECT list(c ORDER BY i) AS tab FROM crcgen WHERE s = 8)"""


def _utf8_bytes(expr: str) -> str:
    """UTF-8 bytes of a VARCHAR expression as a BIGINT list (codepoint
    -> 1-4 byte expansion); string_split(x, '') is per-character,
    unicode() the codepoint."""
    return f"""flatten(list_transform(string_split({expr}, ''), ch ->
             CASE
               WHEN unicode(ch) < 128 THEN [unicode(ch)]
               WHEN unicode(ch) < 2048
                 THEN [192 + unicode(ch) // 64, 128 + unicode(ch) % 64]
               WHEN unicode(ch) < 65536
                 THEN [224 + unicode(ch) // 4096, 128 + (unicode(ch) // 64) % 64,
                       128 + unicode(ch) % 64]
               ELSE [240 + unicode(ch) // 262144, 128 + (unicode(ch) // 4096) % 64,
                     128 + (unicode(ch) // 64) % 64, 128 + unicode(ch) % 64]
             END))"""


def _crc32_of(bytes_expr: str) -> str:
    """zlib.crc32 over a BIGINT byte-list expression: init 0xFFFFFFFF,
    per byte crc = (crc >> 8) XOR tab[(crc XOR byte) & 0xFF], final
    complement. Requires ``crctab`` (one row, column ``tab``) in scope."""
    return (
        f"xor(list_reduce(list_prepend(CAST(4294967295 AS BIGINT), {bytes_expr}), "
        f"(acc, byt) -> xor(acc // 256, tab[xor(acc, byt) % 256 + 1])), 4294967295)"
    )


def _fp_sql(expr: str) -> str:
    """functions/text.doc_fingerprint of a VARCHAR expression:
    crc32(utf8) % 1e9+7. A self-contained scalar subquery (it carries
    its own crc32 table), so it drops into any projection."""
    return (
        f"((WITH RECURSIVE {_CRC32_CTES} "
        f"SELECT {_crc32_of(_utf8_bytes(expr))} FROM crctab) % 1000000007)"
    )


_FP_SQL = _fp_sql("text")

_QUALITY_SQL = f"""0.3 * least(length(text) / 500.0, 1.0)
             + 0.3 * (CASE WHEN length(text) > 0
                           THEN length(regexp_replace(lower(text), '[^a-z ]', '', 'g')) / CAST(length(text) AS DOUBLE)
                           ELSE 0.0 END)
             + 0.2 * least(length(regexp_replace(text, '[^.!?]', '', 'g')) / 3.0, 1.0)
             + 0.2 * (CASE WHEN ({_NTOK}) > 0
                           AND length(text) / CAST(greatest({_NTOK}, 1) AS DOUBLE) BETWEEN 3 AND 12
                           THEN 1.0 ELSE 0.5 END)"""


def _en_stops_sql() -> str:
    """DuckDB list literal of the English stopword profile (the same
    list stopword_ratio uses engine-side)."""
    from hadoop_app_spark.functions.text import LANG_STOPWORDS

    return "[" + ", ".join(f"'{w}'" for w in LANG_STOPWORDS["en"]) + "]"


_EN_STOPS_SQL = _en_stops_sql()


def _lang_cascade_sql() -> str:
    """DuckDB twin of functions.text.language_id over a ``toks`` column:
    same stopword profiles, same reversed-priority tie-break cascade."""
    from hadoop_app_spark.functions.text import LANG_STOPWORDS

    score = {
        lang: " + ".join(f"CASE WHEN list_contains(toks, '{w}') THEN 1 ELSE 0 END" for w in ws)
        for lang, ws in LANG_STOPWORDS.items()
    }
    # mirror the engine's fold: start ('und', 0); for each lang in
    # reversed priority, lang wins if score >= max(best_score, 1)
    best, best_score = "'und'", "0"
    for lang in ("es", "fr", "de", "en"):
        s = f"({score[lang]})"
        best = f"CASE WHEN {s} >= greatest({best_score}, 1) THEN '{lang}' ELSE {best} END"
        best_score = f"greatest({best_score}, {s})"
    return best


def _language_id_oracle() -> str:
    return f"""
        SELECT doc_id, {_lang_cascade_sql()} AS lang_guess
        FROM (SELECT doc_id,
                     {_TOKS} AS toks
              FROM documents)
    """


@query(
    "text_metrics",
    oracle=f"""
        SELECT doc_id,
               CAST({_NTOK} AS INTEGER) AS n_tokens,
               CAST(len(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> ''))
                    + len(list_filter(string_split_regex(lower(text), '[^0-9]+'), x -> x <> ''))
                    + length(regexp_replace(lower(text), '[^.,;:!?]', '', 'g')) AS INTEGER) AS bpe_tokens,
               {_QUALITY_SQL} AS quality,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, t -> list_contains({_EN_STOPS_SQL}, t))) AS DOUBLE)
                         / len(toks)
                    ELSE 0.0 END AS stop_ratio,
               {_lang_cascade_sql()} AS lang_guess,
               {_FP_SQL} AS fingerprint
        FROM (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
    """,
    doc="text-analysis scalar family in one scan (north star: text analysis): "
    "whitespace + BPE-ish token counts, quality heuristic, English stopword "
    "ratio, stopword-profile language ID (oracle regenerates the same tie-break "
    "cascade in SQL), and the crc32 content fingerprint (which the oracle "
    "re-derives from scratch) — all pure Catalyst expressions, one pass over "
    "the corpus",
)
def q_text_metrics(spark, sf_dir):
    # CPU-bound expression chain over a (locally) single-file scan:
    # repartition first so the per-row work spreads across cores — at
    # cluster scale the scan already has many splits and this is a
    # cheap round-robin of the narrow (id, text) projection
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    from hadoop_app_spark.functions.text import stopword_ratio

    return d.select(
        "doc_id",
        token_count("text").alias("n_tokens"),
        bpe_ish_token_count("text").cast("int").alias("bpe_tokens"),
        quality_score("text").alias("quality"),
        stopword_ratio("text").alias("stop_ratio"),
        language_id("text").alias("lang_guess"),
        doc_fingerprint("text").alias("fingerprint"),
    )


@query(
    "gopher_gates",
    oracle=f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents),
        m AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CASE WHEN len(toks) > 0
                        THEN CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS DOUBLE)
                             / len(toks)
                        ELSE 0.0 END AS mean_word_len,
                   CASE WHEN len(toks) > 0
                        THEN ((length(text) - length(replace(text, '#', '')))
                              + (length(text) - length(replace(text, '...', ''))) / 3)
                             / len(toks)
                        ELSE 0.0 END AS symbol_ratio,
                   CASE WHEN len(string_split(text, chr(10))) > 0
                        THEN CAST(len(list_filter(string_split(text, chr(10)),
                                 l -> starts_with(ltrim(l), '-') OR starts_with(ltrim(l), '*')
                                      OR starts_with(ltrim(l), '•'))) AS DOUBLE)
                             / len(string_split(text, chr(10)))
                        ELSE 0.0 END AS bullet_ratio,
                   CASE WHEN len(string_split(text, chr(10))) > 0
                        THEN CAST(len(list_filter(string_split(text, chr(10)),
                                 l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS DOUBLE)
                             / len(string_split(text, chr(10)))
                        ELSE 0.0 END AS ellipsis_ratio,
                   CASE WHEN len(toks) > 0
                        THEN CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS DOUBLE)
                             / len(toks)
                        ELSE 0.0 END AS alpha_word_ratio,
                   CAST(len(list_intersect(list_distinct(toks),
                        ['the','be','to','of','and','that','have','with'])) AS INTEGER)
                       AS n_required_stops
            FROM t)
        SELECT *,
               (n_words BETWEEN 50 AND 100000
                AND mean_word_len BETWEEN 3.0 AND 10.0
                AND symbol_ratio <= 0.1
                AND bullet_ratio < 0.9
                AND ellipsis_ratio < 0.3
                AND alpha_word_ratio >= 0.8
                AND n_required_stops >= 2) AS keep
        FROM m
    """,
    doc="the full Gopher document-quality rule battery (Rae et al. 2021 "
    "Appendix A) in one Catalyst scan: word-count bounds, mean-word-length "
    "band, #/ellipsis symbol ratio, bullet-started and ellipsis-ended line "
    "ratios, alphabetic-word fraction, required-stopword count — every "
    "measurement emitted alongside the keep verdict so curation reports WHY "
    "a doc dropped; all HOF folds over arrays built once per row, zero "
    "shuffle (operators/corpus.gopher_quality_gates)",
)
def q_gopher_gates(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import gopher_quality_gates

    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return gopher_quality_gates(d, "text", "doc_id")


def _simhash_sh_cte(half_bits: int = 28) -> str:
    """CTE chain reproducing operators/dedup.simhash_wide, ending in
    ``sh(doc_id, s)``: per distinct token h1 = crc32(utf8) and h2 =
    crc32(0x01 || utf8), each mod 2^half_bits; bit i of each half is
    set iff 2 * ones > n over the doc's n tokens. Token-less docs have
    no row. Opens with the recursive crc32 table, so the caller writes
    ``WITH RECURSIVE``."""
    ones = ",\n                   ".join(
        f"sum((h{1 + i // half_bits} // {1 << (i % half_bits)}) % 2) AS o{i}"
        for i in range(2 * half_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN 2 * o{i} > n THEN {1 << i} ELSE 0 END)" for i in range(2 * half_bits)
    )
    return f"""{_CRC32_CTES},
        toks AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        dtok AS (SELECT DISTINCT tok FROM toks),
        bts AS (SELECT tok, {_utf8_bytes("tok")} AS bts FROM dtok),
        tokcrc AS (SELECT tok,
                          {_crc32_of("bts")} % {1 << half_bits} AS h1,
                          {_crc32_of("list_prepend(CAST(1 AS BIGINT), bts)")} % {1 << half_bits} AS h2
                   FROM bts CROSS JOIN crctab),
        hashed AS (SELECT doc_id, h1, h2 FROM toks JOIN tokcrc USING (tok)),
        bits AS (SELECT doc_id, count(*) AS n,
                   {ones}
                 FROM hashed GROUP BY doc_id),
        sh AS (SELECT doc_id, CAST({fp} AS BIGINT) AS s FROM bits)"""


@query(
    "exact_dedup_simhash",
    oracle=f"""
        WITH RECURSIVE {_simhash_sh_cte(8)},
        surv AS (
            SELECT doc_id, n_chars FROM documents
            WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY text))
        SELECT surv.doc_id, surv.n_chars, sh.s AS simhash
        FROM surv JOIN sh ON surv.doc_id = sh.doc_id
    """,
    doc="exact dedup + 16-bit SimHash in one pipeline (north star): one hash-agg "
    "on content with min-id survivor policy, then each surviving doc tagged with "
    "its SimHash (one mapInPandas pass: salted crc32 token hashes, numpy "
    "bit-sums, no shuffle) — the exact-dedup-then-near-dup-fingerprint "
    "sequencing every corpus pipeline runs",
)
def q_exact_dedup_simhash(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import exact_dedup

    d = _t(spark, sf_dir, "documents")
    survivors = exact_dedup(d, ["text"], "doc_id").select("doc_id", "n_chars")
    sims = simhash(d, "text", "doc_id", bits=16)
    return survivors.join(sims, "doc_id")


def _crc_minhash_cte() -> str:
    """CTE chain reproducing operators/dedup.minhash_signatures, ending
    in ``sig(doc_id, sig)``: tokens in document order, token hash =
    crc32(utf8) % 1e9+7 (computed per DISTINCT token, joined back by
    position), shingle hash = rolling polynomial (P=1000003) over n=3
    consecutive token hashes with mod after each step, then the 8
    permutation minima. Docs with fewer than 3 tokens have no row.
    Opens with the recursive crc32 table, so the caller writes
    ``WITH RECURSIVE``."""
    from hadoop_app_spark.operators.dedup import _MINHASH_A, _MINHASH_B

    mins = ",\n                       ".join(
        f"list_min(list_transform(hs, x -> ({a} * x + {b}) % 1000000007))"
        for a, b in zip(_MINHASH_A, _MINHASH_B)
    )
    return f"""{_CRC32_CTES},
        t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        tokpos AS (SELECT doc_id, unnest(toks) AS tok,
                          unnest(range(1, len(toks) + 1)) AS pos FROM t),
        dtok AS (SELECT DISTINCT tok FROM tokpos),
        tokcrc AS (SELECT tok, {_crc32_of(_utf8_bytes("tok"))} % 1000000007 AS h
                   FROM dtok CROSS JOIN crctab),
        th AS (SELECT doc_id, list(h ORDER BY pos) AS ths
               FROM tokpos JOIN tokcrc USING (tok) GROUP BY doc_id),
        hs AS (SELECT doc_id,
                      [(((ths[i] * 1000003 + ths[i+1]) % 1000000007) * 1000003
                        + ths[i+2]) % 1000000007
                       for i in range(1, greatest(len(ths) - 2, 0) + 1)] AS hs
               FROM th WHERE len(ths) >= 3),
        sig AS (SELECT doc_id,
                       [{mins}] AS sig
                FROM hs)"""


@query(
    "minhash_signatures",
    oracle=f"""
        WITH RECURSIVE {_crc_minhash_cte()}
        SELECT doc_id, sig[1] AS mh0, sig[8] AS mh7 FROM sig
    """,
    doc="MinHash signatures over 3-gram shingles (north star: near-dup "
    "candidates): one mapInPandas pass (crc32 token hashes + numpy rolling "
    "shingle combine + broadcasted k-way minima) — no explode, no k-min "
    "aggregation, no shuffle. Oracled: the oracle derives zlib.crc32 from "
    "scratch in SQL (recursive-CTE table + list_reduce byte fold) and "
    "replays the whole kernel bit-for-bit",
)
def q_minhash_signatures(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    # spread the (few-file, small) doc scan across cores
    sigs = minhash_signatures(
        d, "text", "doc_id", n=3, k=8, repartition_to=spark.sparkContext.defaultParallelism
    )
    return sigs.select("doc_id", F.col("signature").getItem(0).alias("mh0"), F.col("signature").getItem(7).alias("mh7"))


@query(
    "ngram_jaccard_adjacent",
    oracle="""
        WITH sh AS (
            SELECT doc_id,
                   list_distinct([array_to_string(toks[i:i+2], ' ')
                                  for i in range(1, greatest(len(toks) - 2, 0) + 1)]) AS shingles
            FROM (SELECT doc_id, {toks} AS toks
                  FROM documents))
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CASE WHEN len(list_distinct(a.shingles || b.shingles)) > 0
                    THEN CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                         / len(list_distinct(a.shingles || b.shingles))
                    ELSE 0.0 END AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1
    """.format(toks=_TOKS),
    doc="n-gram Jaccard similarity on adjacent-id pairs (north star: near-dup scoring)",
)
def q_ngram_jaccard_adjacent(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", F.array_distinct(ngrams(F.col("text"), 3)).alias("shingles")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sb"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 1)
    inter = F.size(F.array_intersect("sa", "sb")).cast("double")
    union = F.size(F.array_union("sa", "sb"))
    return pairs.select(
        "id_a",
        "id_b",
        F.when(union > 0, inter / union).otherwise(F.lit(0.0)).alias("jaccard"),
    )


@query(
    "cosine_topk",
    oracle="""
        WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
                   FROM embeddings WHERE vec_id <= 5),
             c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
             scored AS (
                 SELECT q.query_id, c.vec_id,
                        list_reduce(list_prepend(0.0, [cv[i] * qv[i] for i in range(1, len(cv) + 1)]),
                                    (a, x) -> a + x)
                        / (sqrt(list_reduce(list_prepend(0.0, [cv[i] * cv[i] for i in range(1, len(cv) + 1)]), (a, x) -> a + x))
                           * sqrt(list_reduce(list_prepend(0.0, [qv[i] * qv[i] for i in range(1, len(qv) + 1)]), (a, x) -> a + x)))
                        AS cosine
                 FROM c CROSS JOIN q WHERE c.vec_id <> q.query_id),
             ranked AS (
                 SELECT query_id, vec_id, cosine,
                        CAST(row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
                 FROM scored)
        SELECT query_id, vec_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="brute-force cosine top-k ANN baseline (north star: similarity search). "
    "Catalyst HOF kernel — at dim=64 the JVM fold beats the Arrow round trip "
    "of a numpy kernel (cosine_topk_vectorized is an alias of this entry). "
    "Oracle compares rank sets; cosine floats stay engine-side.",
)
def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # corpus-side scoring is CPU-bound; don't let one small parquet file pin it to one core
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return brute_force_topk(corpus, queries, k=5).select("query_id", "vec_id", "rank")


def _lsh_ann_topk_oracle(dim: int = 64, n_planes: int = 6, k: int = 5) -> str:
    """DuckDB oracle for lsh_ann_topk with the engine's deterministic
    hyperplanes inlined as double literals — the same sign tests produce
    the same buckets, so the approximate candidate set (not just the
    final ranking) is verified. Same technique as _lsh_near_dup_oracle."""
    from hadoop_app_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    bucket = " + ".join(
        "(CASE WHEN "
        + " + ".join(f"CAST(embedding[{j + 1}] AS DOUBLE)*({p[j]!r})" for j in range(dim))
        + f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    dot = (
        "list_reduce(list_prepend(0.0, [{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]),"
        " (acc, x) -> acc + x)"
    )
    return f"""
        WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS cv, ({bucket}) AS bucket
                   FROM embeddings),
             q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, ({bucket}) AS bucket
                   FROM embeddings WHERE vec_id <= 5),
             scored AS (
                 SELECT q.query_id, c.vec_id,
                        {dot.format(a="cv", b="qv")}
                        / (sqrt({dot.format(a="cv", b="cv")}) * sqrt({dot.format(a="qv", b="qv")}))
                        AS cosine
                 FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id <> q.query_id),
             ranked AS (
                 SELECT query_id, vec_id,
                        CAST(row_number() OVER (PARTITION BY query_id
                             ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
                 FROM scored)
        SELECT query_id, vec_id, rank FROM ranked WHERE rank <= {k}
    """


@query(
    "lsh_ann_topk",
    oracle=_lsh_ann_topk_oracle(),
    doc="sign-LSH bucketed approximate top-k (north star: ANN scale path), "
    "numpy kernel (lsh_ann_topk_hof is an alias of this entry); oracle "
    "inlines the deterministic hyperplanes so DuckDB reproduces the exact buckets",
)
def q_lsh_ann_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return lsh_topk(corpus, queries, dim=64, k=5, n_planes=6).select("query_id", "vec_id", "rank")


@query(
    "embedding_avg_by_label",
    oracle="""
        SELECT label,
               count(*) AS n,
               CAST(SUM(CAST(CAST(embedding[1] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) AS sum_dim0,
               CAST(SUM(CAST(CAST(embedding[2] AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) AS sum_dim1
        FROM embeddings GROUP BY label
    """,
    doc="embedding column aggregation (centroid building block for IVF clustering)",
)
def q_embedding_avg_by_label(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return emb.groupBy("label").agg(
        F.count("*").alias("n"),
        F.sum(F.col("embedding").getItem(0).cast("double").cast("decimal(18,9)")).cast("double").alias("sum_dim0"),
        F.sum(F.col("embedding").getItem(1).cast("double").cast("decimal(18,9)")).cast("double").alias("sum_dim1"),
    )


# ---------------------------------------------------------------------------
# Event-time windows & sessionization (batch forms; streaming variants in
# hadoop_app_spark.streaming run the same logic incrementally)
# ---------------------------------------------------------------------------


@query(
    "tumbling_window",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M') AS window_start,
               event_type, count(*) AS n, {v} AS sum_value
        FROM events GROUP BY 1, 2
    """.format(v=_DSUM.format(c="value")),
    doc="tumbling event-time window (batch form of the streaming windowed agg)",
)
def q_tumbling_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum("value").alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "sliding_window",
    oracle="""
        WITH b AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS half, event_type, value FROM events),
        expanded AS (
            SELECT half AS wstart, event_type, value FROM b
            UNION ALL
            SELECT half - INTERVAL 30 MINUTE AS wstart, event_type, value FROM b)
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
               event_type, count(*) AS n
        FROM expanded GROUP BY 1, 2
    """,
    doc="sliding window (1h width, 30m hop): each event lands in 2 windows",
)
def q_sliding_window(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
        )
    )


@query(
    "funnel_conversion",
    oracle="""
        WITH v AS (SELECT user_id, min(ts) AS t FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN v ON e.user_id = v.user_id AND e.ts > v.t
              WHERE e.event_type = 'click' GROUP BY 1),
        p AS (SELECT e.user_id, min(e.ts) AS t FROM events e
              JOIN c ON e.user_id = c.user_id AND e.ts > c.t
              WHERE e.event_type = 'purchase' GROUP BY 1),
        u AS (SELECT DISTINCT user_id FROM events)
        SELECT u.user_id,
               CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                         WHEN c.user_id IS NOT NULL THEN 2
                         WHEN v.user_id IS NOT NULL THEN 1
                         ELSE 0 END AS INTEGER) AS stage
        FROM u LEFT JOIN v USING (user_id)
               LEFT JOIN c USING (user_id)
               LEFT JOIN p USING (user_id)
    """,
    doc="ordered funnel conversion view->click->purchase (event analytics): "
    "each stage = first qualifying event strictly after the previous stage's "
    "first — per-user min-aggregates joined stage-to-stage (one row per user "
    "per stage ships between stages; never a per-user full-history window) "
    "(operators/funnel.funnel_stages)",
)
def q_funnel_conversion(spark, sf_dir):
    from hadoop_app_spark.operators.funnel import funnel_stages

    return funnel_stages(_t(spark, sf_dir, "events"))


@query(
    "cohort_retention",
    oracle="""
        WITH first_seen AS (SELECT user_id, min(ts) AS f FROM events GROUP BY 1),
        cohort AS (SELECT user_id,
                          CAST(date_diff('day', DATE '1970-01-05', CAST(f AS DATE)) // 7
                               AS INTEGER) AS cohort_week
                   FROM first_seen),
        active AS (SELECT DISTINCT user_id,
                          CAST(date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) // 7
                               AS INTEGER) AS week
                   FROM events)
        SELECT cohort.cohort_week,
               active.week - cohort.cohort_week AS week_offset,
               count(*) AS n_users
        FROM active JOIN cohort USING (user_id)
        GROUP BY 1, 2
    """,
    doc="weekly cohort retention (event analytics): users bucketed by "
    "first-seen week, activity counted per (cohort_week, week_offset); weeks "
    "are integer Monday-based indexes since 1970-01-05 via pure DATE "
    "arithmetic — session-timezone-independent in both engines "
    "(operators/funnel.cohort_retention)",
)
def q_cohort_retention(spark, sf_dir):
    from hadoop_app_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events")).select(
        "cohort_week", F.col("week_offset").cast("int").alias("week_offset"), "n_users"
    )


@query(
    "sessionize",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL THEN 1
                        WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000 THEN 1
                        ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
            SELECT user_id,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
            FROM marked)
        SELECT user_id, CAST(count(DISTINCT session_id) AS BIGINT) AS n_sessions,
               count(*) AS n_events
        FROM sessions GROUP BY user_id
    """,
    doc="sessionization with a 30-min inactivity gap (batch form of the "
    "streaming session-window / applyInPandasWithState operator)",
)
def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        # interval comparison instead of unix_millis: valid for both
        # TIMESTAMP and TIMESTAMP_NTZ (the events ts is NTZ — catalog.py).
        # >= : a gap of EXACTLY 30min starts a new session, matching
        # F.session_window (window end exclusive) so the batch and
        # streaming sessionizations agree on the boundary
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(F.col("ts") >= F.lag("ts").over(w) + F.expr("INTERVAL 30 MINUTES"), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = marked.select(
        "user_id",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    return sessions.groupBy("user_id").agg(
        F.countDistinct("session_id").alias("n_sessions"), F.count("*").alias("n_events")
    )


sql_query(
    "event_dedup",
    text="""
        SELECT user_id, event_type, count(*) AS n_combos
        FROM (SELECT DISTINCT user_id, event_type, value FROM events)
        GROUP BY user_id, event_type
    """,
    doc="distinct-based dedup (batch form of streaming dropDuplicates)",
)


# ---------------------------------------------------------------------------
# North-star completions: full dedup pipelines, ANN variants, multimodal
# ---------------------------------------------------------------------------


def _minhash_banded_cte(n_bands: int = 4, band_w: int = 2) -> str:
    """``_crc_minhash_cte`` extended with ``banded(doc_id, b, bs)``: the
    8-wide signature cut into 4 band slices of width 2, the engine's
    ``minhash_band_rows``. Callers write ``WITH RECURSIVE``."""
    return f"""{_crc_minhash_cte()},
        banded AS (SELECT doc_id, b, sig[b*{band_w}+1 : b*{band_w}+{band_w}] AS bs
                   FROM sig CROSS JOIN (SELECT unnest(range(0, {n_bands})) AS b))"""


@query(
    "minhash_dedup",
    oracle=f"""
        WITH RECURSIVE {_minhash_banded_cte()},
        losers AS (SELECT DISTINCT x.doc_id AS id_b
                   FROM banded a JOIN banded x
                     ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id_b FROM losers)
    """,
    doc="full MinHash+LSH dedup: shingle -> signature -> band bucket-join -> "
    "drop higher-id member of each candidate pair (north star). The oracle "
    "replays the whole pipeline (crc32 signatures, band buckets, candidate "
    "pairs, survivors); zero-shingle docs survive in both engines.",
)
def q_minhash_dedup(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import minhash_dedup

    d = _t(spark, sf_dir, "documents")
    survivors = minhash_dedup(
        d, "text", "doc_id", repartition_to=spark.sparkContext.defaultParallelism
    )
    return survivors.select("doc_id", "n_chars")


@query(
    "minhash_dedup_decisions",
    # the DECISION AUDIT for every dropped doc: the same banded CTE as
    # minhash_dedup derives, per loser, the smallest-id winner it lost
    # to and how many distinct candidates implicated it — the record a
    # takedown/appeal workflow needs ('why is my doc gone, and to
    # whom') that a bare survivor set cannot answer.
    # Precondition (ADVICE r9, the simhash_band_neardup convention):
    # winner/n_candidates are exact only while no LSH band bucket
    # exceeds the engine's max_bucket_size=1000 star-expansion cap —
    # past it the engine pairs overflow members against the bucket min
    # only. Measured max bucket: 3 at sf0.01,
    # 10 at sf0.1 — two orders of magnitude of headroom.
    oracle="""
        WITH RECURSIVE {banded},
        e AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
              FROM banded a JOIN banded x
                ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id)
        SELECT id_b AS doc_id,
               min(id_a) AS winner,
               CAST(count(DISTINCT id_a) AS BIGINT) AS n_candidates
        FROM e GROUP BY 1
    """.format(banded=_minhash_banded_cte()),
    doc="dedup decision audit (the explainability face of minhash_dedup — "
    "north star dedup family): every doc the min-id survivor policy drops "
    "is reported with the smallest-id winner it lost to and its distinct "
    "candidate count, from the SAME banding pipeline the dedup runs (one "
    "signature pass, one bucket shuffle, one grouped pass over the pair "
    "set) — the record takedown/appeal and quality-audit workflows "
    "consult; the oracle recomputes signatures, buckets, pairs and the "
    "per-loser argmin from scratch",
)
def q_minhash_dedup_decisions(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        d, "text", "doc_id", n=3, k=8,
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    pairs = minhash_lsh_pairs(sigs, "doc_id")
    return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("winner"),
        F.countDistinct("id_a").alias("n_candidates"),
    )


@query(
    "distribution_drift",
    # the two snapshots are deterministic halves of documents (doc_id
    # parity), bins = n_chars div 200; every output is exact integer
    # arithmetic (grouped counts + milli integer div + abs), so the
    # drift readout is bit-identical in any engine — per-bin
    # attribution ships WITH the metric (total variation distance =
    # sum(diff_milli)/2, left to the caller)
    oracle="""
        WITH o AS (SELECT n_chars // 200 AS bin, count(*) AS n_old
                   FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        n AS (SELECT n_chars // 200 AS bin, count(*) AS n_new
              FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        m AS (SELECT coalesce(o.bin, n.bin) AS bin,
                     CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
                     CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
              FROM o FULL OUTER JOIN n ON o.bin = n.bin),
        t AS (SELECT CAST(sum(n_old) AS BIGINT) AS to_,
                     CAST(sum(n_new) AS BIGINT) AS tn FROM m)
        SELECT bin, n_old, n_new,
               CAST(n_old * 1000 // to_ AS BIGINT) AS old_milli,
               CAST(n_new * 1000 // tn AS BIGINT) AS new_milli,
               CAST(abs(n_old * 1000 // to_ - n_new * 1000 // tn) AS BIGINT)
                   AS diff_milli
        FROM m CROSS JOIN t
    """,
    doc="binned distribution drift between snapshots (operators/"
    "expectations.distribution_drift — the drift gate beside the value "
    "expectations: 'did this crawl shift the length distribution, and "
    "WHICH bins moved'): per-bin counts and shares for both snapshots "
    "plus the absolute share difference, all exact integer milli-units "
    "(the PSI/KL alternatives need ln — engine-divergent; total "
    "variation distance = sum(diff_milli)/2 falls out of the rows); one "
    "map-side-combined grouped count per snapshot, one full-outer merge "
    "on the bin key, output |bins|",
)
def q_distribution_drift(spark, sf_dir):
    from hadoop_app_spark.operators.expectations import distribution_drift

    d = _t(spark, sf_dir, "documents")
    return distribution_drift(
        d.where(F.col("doc_id") % 2 == 0),
        d.where(F.col("doc_id") % 2 == 1),
        F.expr("n_chars div 200"),
    )


@query(
    "simhash_dedup_decisions",
    # the Hamming family's decision audit (minhash_dedup_decisions'
    # sibling): banding recall is EXACT for max_hamming < bands
    # (pigeonhole), so the brute-force all-pairs oracle derives the
    # SAME verified pair set and the same per-loser winner/count/
    # distance accounting the banded plan reports — the hamming of the
    # winning pair (the evidence a takedown appeal cites) rides along
    oracle=f"""
        WITH RECURSIVE {_simhash_sh_cte()},
        e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE bit_count(xor(a.s, b.s)) <= 3)
        SELECT id_b AS doc_id,
               min(id_a) AS winner,
               CAST(count(DISTINCT id_a) AS BIGINT) AS n_candidates,
               CAST(arg_min(hamming, id_a) AS INTEGER) AS win_hamming
        FROM e GROUP BY 1
    """,
    doc="SimHash dedup decision audit (the Hamming family's "
    "explainability face, minhash_dedup_decisions' sibling — together "
    "the two dedup families both answer 'why is my doc gone, to whom, "
    "and how close was it'): every doc the greedy min-id policy drops "
    "reports the smallest-id verified winner, its distinct verified-"
    "candidate count, and the Hamming distance to that winner (the "
    "numeric evidence an appeal cites), from the SAME banded pipeline "
    "the dedup runs — one fingerprint pass, one bucket shuffle, one "
    "grouped pass over the verified pair set "
    "(operators/dedup.simhash_band_pairs)",
)
def q_simhash_dedup_decisions(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import simhash_band_pairs

    d = _t(spark, sf_dir, "documents")
    pairs = simhash_band_pairs(d, "text", "doc_id")
    return pairs.groupBy(F.col("id_b").alias("doc_id")).agg(
        F.min("id_a").alias("winner"),
        F.countDistinct("id_a").alias("n_candidates"),
        F.min_by("hamming", "id_a").alias("win_hamming"),
    )


@query(
    "minhash_cluster_canonical",
    oracle="""
        WITH RECURSIVE {banded},
        e AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
              FROM banded a JOIN banded x
                ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        sym AS (SELECT id_a AS a, id_b AS b FROM e
                UNION SELECT id_b, id_a FROM e),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(a, b) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
        q AS (SELECT doc_id, {quality} AS s FROM documents),
        scored AS (SELECT comp.node, comp.component, q.s
                   FROM comp JOIN q ON comp.node = q.doc_id),
        canon AS (
            SELECT component, node AS canonical_id,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY s DESC, node ASC) AS rn
            FROM scored)
        SELECT comp.node AS doc_id, comp.component, canon.canonical_id
        FROM comp JOIN canon
          ON comp.component = canon.component AND canon.rn = 1
    """.format(banded=_minhash_banded_cte(), quality=_QUALITY_SQL),
    doc="text-minhash variant of the keep-the-best-copy policy: LSH band "
    "pairs -> connected components -> per-cluster canonical by max quality "
    "(tie: min id). Components are invariant under the pair generator's "
    "audited star expansion for overflow buckets (a star keeps exactly the "
    "bucket's connectivity), so the full-pairwise SQL oracle checks the "
    "scale-safe plan (operators/dedup.minhash_lsh_pairs + "
    "operators/graph.canonical_per_component)",
)
def q_minhash_cluster_canonical(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures
    from hadoop_app_spark.operators.graph import canonical_per_component

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        d, "text", "doc_id",
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    pairs = minhash_lsh_pairs(sigs, "doc_id", bands=4).select("id_a", "id_b")
    scores = d.select("doc_id", quality_score("text").alias("score"))
    return canonical_per_component(scores, pairs, "doc_id", "score")


@query(
    "contrastive_pairs",
    oracle=f"""
        WITH RECURSIVE {_minhash_banded_cte()},
        prs AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
                FROM banded a JOIN banded x
                  ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        nbrs AS (SELECT id_a AS a, id_b AS n FROM prs
                 UNION SELECT id_b, id_a FROM prs),
        pos AS (SELECT a, min(n) AS positive FROM nbrs GROUP BY a),
        pool AS (SELECT doc_id FROM (
                     SELECT doc_id, row_number() OVER (
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
                     FROM documents) WHERE rn <= 64),
        cand AS (SELECT p.a, p.positive, d.doc_id AS neg
                 FROM pos p CROSS JOIN pool d
                 WHERE d.doc_id <> p.a
                   AND NOT EXISTS (SELECT 1 FROM nbrs nb
                                   WHERE nb.a = p.a AND nb.n = d.doc_id)),
        ranked AS (SELECT a, positive, neg,
                          CAST(row_number() OVER (PARTITION BY a
                              ORDER BY md5(CAST(a AS VARCHAR) || '#'
                                           || CAST(neg AS VARCHAR)), neg)
                          AS INTEGER) AS neg_rank
                   FROM cand)
        SELECT a AS anchor, positive, neg AS negative, neg_rank
        FROM ranked WHERE neg_rank <= 2
    """,
    doc="contrastive training-pair mining over the near-dup graph (the "
    "dataset op behind embedding/retrieval model training — mined "
    "paraphrase positives + uniform negatives): every doc in a MinHash "
    "band pair becomes an ANCHOR, its smallest-id LSH partner the "
    "POSITIVE, and its NEGATIVES the 2 smallest-md5(anchor#cand) picks "
    "from a BOUNDED 64-doc pool (itself the smallest-md5 corpus sample) "
    "minus the anchor's neighborhood — deterministic uniform sampling "
    "with no RNG, so the oracle replays pair mining, pool, exclusion, "
    "and pick order exactly. Scale shape: the pool is broadcast and "
    "CONSTANT-SIZE, so negative mining is O(anchors x pool) — never "
    "O(anchors x corpus) — and the only corpus-scale work is the LSH "
    "pair join the dedup family already pays "
    "(operators/dedup.minhash_lsh_pairs)",
)
def q_contrastive_pairs(spark, sf_dir):
    from pyspark.sql import Window

    from hadoop_app_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    sigs = minhash_signatures(
        d, "text", "doc_id",
        repartition_to=spark.sparkContext.defaultParallelism,
    )
    pairs = minhash_lsh_pairs(sigs, "doc_id", bands=4).select("id_a", "id_b")
    nbrs = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("n")).union(
        pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("n"))
    )
    pos = nbrs.groupBy("a").agg(F.min("n").alias("positive"))
    # TakeOrderedAndProject (partial top-k), never a global window
    pool = (
        d.select("doc_id", F.md5(F.col("doc_id").cast("string")).alias("_h"))
        .orderBy("_h", "doc_id")
        .limit(64)
        .select(F.col("doc_id").alias("neg"))
    )
    cand = (
        pos.crossJoin(F.broadcast(pool))
        .where(F.col("neg") != F.col("a"))
        .join(
            nbrs.select("a", F.col("n").alias("neg")),
            ["a", "neg"],
            "left_anti",
        )
    )
    pick = Window.partitionBy("a").orderBy(
        F.md5(F.concat_ws("#", F.col("a"), F.col("neg"))), F.col("neg")
    )
    return (
        cand.withColumn("neg_rank", F.row_number().over(pick))
        .where(F.col("neg_rank") <= 2)
        .select(
            F.col("a").alias("anchor"), "positive",
            F.col("neg").alias("negative"), "neg_rank",
        )
    )


@query(
    "dedup_increment",
    oracle=None,  # assigned below: reuses _minhash_banded_cte
    doc="incremental dedup against a PERSISTED MinHash band index (the "
    "daily-ingest operator): a deduped day-0 seed builds a bucketed index "
    "table; two daily batches then each dedup against the accumulated index "
    "plus themselves and append their survivors' band rows, so day 2 dedups "
    "against day 0 AND day 1. Work per day is O(batch) shuffle + one "
    "narrow exchange-free bucketed index scan — never a corpus re-shingle. "
    "Oracle replays both generations (index contents included) in SQL.",
)
def q_dedup_increment(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import dedup_increment, seed_minhash_index

    d = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # memoized deterministic day-0 seed + per-invocation clone: the
    # timed work is the DAILY increments (the operator's steady state),
    # not a day-0 rebuild per bench sample. seed_minhash_index = dedup
    # + index build in ONE signature pass.
    _seed_clone(
        spark, "mh_incr_seed", "mh_incr_index",
        f"minhash|{sf_dir}|mod7|crc32|n3k8b4",
        lambda t: seed_minhash_index(
            d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
            repartition_to=par,
        ),
    )
    gens = []
    for gen in (1, 2):
        surv = dedup_increment(
            d.where(F.col("doc_id") % 7 == gen),
            "mh_incr_index",
            "text",
            "doc_id",
            repartition_to=par,
            dropped_table=False,  # localCheckpoint snapshot: no sidecar
        )
        gens.append(surv.select(F.lit(gen).alias("generation"), "doc_id", "n_chars"))
    return gens[0].unionAll(gens[1])


def _dedup_increment_ctes() -> str:
    """The two-generation increment-replay CTE chain (``sb`` ..
    ``surv2``), shared by `_dedup_increment_oracle` and the
    drift-ingest oracle (which adds a quarantine block beside it).
    Callers write ``WITH RECURSIVE``."""
    return f"""{_minhash_banded_cte()},
        sb AS (SELECT * FROM banded WHERE doc_id % 7 = 0),
        seed_losers AS (SELECT DISTINCT x.doc_id FROM sb a JOIN sb x
                        ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        idx0 AS (SELECT b, bs FROM sb
                 WHERE doc_id NOT IN (SELECT doc_id FROM seed_losers)),
        b1 AS (SELECT * FROM banded WHERE doc_id % 7 = 1),
        drop1 AS (
            SELECT DISTINCT b1.doc_id FROM b1 JOIN idx0
              ON b1.b = idx0.b AND b1.bs = idx0.bs
            UNION
            SELECT x.doc_id FROM b1 a JOIN b1 x
              ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        surv1 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 1
                  AND doc_id NOT IN (SELECT doc_id FROM drop1)),
        idx1 AS (SELECT b, bs FROM idx0
                 UNION ALL
                 SELECT b, bs FROM banded
                 WHERE doc_id IN (SELECT doc_id FROM surv1)),
        b2 AS (SELECT * FROM banded WHERE doc_id % 7 = 2),
        drop2 AS (
            SELECT DISTINCT b2.doc_id FROM b2 JOIN idx1
              ON b2.b = idx1.b AND b2.bs = idx1.bs
            UNION
            SELECT x.doc_id FROM b2 a JOIN b2 x
              ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        surv2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 2
                  AND doc_id NOT IN (SELECT doc_id FROM drop2))"""


def _dedup_increment_oracle() -> str:
    """DuckDB replay of both index generations: seed dedup -> index0,
    day-1 drops (index hit OR lower-id intra pair) -> surv1 -> index1 =
    index0 + surv1 bands, day-2 drops vs index1 -> surv2. Zero-shingle
    docs have no band rows, so they survive in both engines."""
    return f"""
        WITH RECURSIVE {_dedup_increment_ctes()}
        SELECT 1 AS generation, d.doc_id, d.n_chars
        FROM documents d JOIN surv1 USING (doc_id)
        UNION ALL
        SELECT 2 AS generation, d.doc_id, d.n_chars
        FROM documents d JOIN surv2 USING (doc_id)
    """


REGISTRY["dedup_increment"] = QueryDef(
    REGISTRY["dedup_increment"].fn, _dedup_increment_oracle(), REGISTRY["dedup_increment"].doc
)


@query(
    "stream_dedup_ingest_exec",
    oracle=None,  # assigned below: the dedup_increment replay, verbatim
    doc="the daily-ingest dedup loop run as a REAL stream (streaming/"
    "ingest.dedup_ingest_stream): corpus files land in a drop directory, "
    "FileStreamSource feeds them oldest-first one micro-batch per file "
    "(maxFilesPerTrigger=1, availableNow), and each batch runs "
    "dedup_increment inside foreachBatch — dedup against the persisted "
    "bucketed MinHash index + itself, survivors appended with the batch "
    "sequence as generation, band rows appended to the index. Same seed/"
    "generation split as dedup_increment, so the SAME DuckDB two-"
    "generation replay is the oracle: batch operator, streaming "
    "execution, one ground truth.",
)
def q_stream_dedup_ingest_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.dedup import seed_minhash_index
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    par = spark.sparkContext.defaultParallelism
    # same memoized day-0 seed as dedup_increment (identical slice and
    # params => identical band rows), cloned fresh per invocation
    _seed_clone(
        spark, "mh_incr_seed", "mh_stream_index",
        f"minhash|{sf_dir}|mod7|crc32|n3k8b4",
        lambda t: seed_minhash_index(
            d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
            repartition_to=par,
        ),
    )
    root = _scratch_dir("dedup_ingest", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and emit nothing
    shutil.rmtree(root, ignore_errors=True)
    src, out, ck = (os.path.join(root, x) for x in ("src", "out", "ck"))
    os.makedirs(src)
    # one file per generation with forced mtime order: FileStreamSource
    # admits files oldest-first, so gen1 is micro-batch 0, gen2 batch 1
    for gen in (1, 2):
        _land_stream_file(d.where(F.col("doc_id") % 7 == gen), src, gen)
    q = dedup_ingest_stream(
        spark,
        src,
        d.schema,
        "mh_stream_index",
        "text",
        "doc_id",
        out,
        ck,
        repartition_to=par,
    )
    q.awaitTermination()
    return spark.read.parquet(out).select("generation", "doc_id", "n_chars")


REGISTRY["stream_dedup_ingest_exec"] = QueryDef(
    REGISTRY["stream_dedup_ingest_exec"].fn,
    _dedup_increment_oracle(),
    REGISTRY["stream_dedup_ingest_exec"].doc,
)


@query(
    "index_compaction",
    oracle=None,  # assigned below: the dedup_increment replay, verbatim
    doc="bucketed-index COMPACTION is semantics-free (operators/"
    "bucketing.compact_bucketed_table): the dedup_increment pipeline "
    "with a compaction between day 1 and day 2 — every append adds up "
    "to one file per bucket, so the index fragments linearly with "
    "days; compaction re-distributes by the bucket-id "
    "expression and swaps via staging + catalog rename, PRESERVING the "
    "bucket/sort spec so the increment's exchange-free index scan "
    "survives. Same two-generation oracle as dedup_increment: identical "
    "survivors prove the rewrite changed layout only (the fn raises if "
    "the file count does not drop).",
)
def q_index_compaction(spark, sf_dir):
    from hadoop_app_spark.operators.bucketing import compact_bucketed_table
    from hadoop_app_spark.operators.dedup import dedup_increment, seed_minhash_index

    d = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # same memoized day-0 seed as dedup_increment, cloned fresh; the
    # clone arrives compacted (~n_buckets files), gen-1's append then
    # fragments it, so the compaction-under-test still has real work
    _seed_clone(
        spark, "mh_incr_seed", "mh_cmpq_index",
        f"minhash|{sf_dir}|mod7|crc32|n3k8b4",
        lambda t: seed_minhash_index(
            d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
            repartition_to=par,
        ),
    )
    gens = []
    for gen in (1, 2):
        surv = dedup_increment(
            d.where(F.col("doc_id") % 7 == gen),
            "mh_cmpq_index",
            "text",
            "doc_id",
            repartition_to=par,
            dropped_table=False,  # localCheckpoint snapshot: no sidecar
        )
        gens.append(surv.select(F.lit(gen).alias("generation"), "doc_id", "n_chars"))
        if gen == 1:
            # materialize day 1 BEFORE compaction mutates the index
            # location its lazy plan reads from — localCheckpoint keeps
            # the materialized partitions on the EXECUTORS (no driver
            # collect: survivor sets are corpus-scale at the target)
            gens[0] = gens[0].localCheckpoint()
            stats = compact_bucketed_table(spark, "mh_cmpq_index")
            if stats["files_after"] >= stats["files_before"]:
                raise RuntimeError(f"compaction did not reduce files: {stats}")
    return gens[0].unionAll(gens[1])


REGISTRY["index_compaction"] = QueryDef(
    REGISTRY["index_compaction"].fn,
    _dedup_increment_oracle(),
    REGISTRY["index_compaction"].doc,
)


@query(
    "stream_validated_ingest_exec",
    oracle=None,  # assigned below: the dedup replay with labels 1 and 3
    doc="the VALIDATED ingest loop: expectations judge each micro-batch "
    "BEFORE it touches the index or the output (streaming/ingest."
    "dedup_ingest_stream with expectations + quarantine_path) — a "
    "corrupted day-2 feed (one NULL doc_id) is diverted whole to "
    "quarantine with its failed-expectation tag, day 3's clean resend "
    "of the same docs processes normally against the day-1-updated "
    "index. Output generations are {1, 3}; the oracle is the "
    "dedup_increment two-generation replay with the second label "
    "rewritten to 3, and the fn RAISES if the quarantine is empty.",
)
def q_stream_validated_ingest_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.dedup import seed_minhash_index
    from hadoop_app_spark.operators.expectations import NotNull
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    par = spark.sparkContext.defaultParallelism
    # same memoized day-0 seed as dedup_increment, cloned fresh
    _seed_clone(
        spark, "mh_incr_seed", "mh_vstream_index",
        f"minhash|{sf_dir}|mod7|crc32|n3k8b4",
        lambda t: seed_minhash_index(
            d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
            repartition_to=par,
        ),
    )
    root = _scratch_dir("validated_ingest", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    src_dir, out, qtn, ck = (os.path.join(root, x) for x in ("src", "out", "qtn", "ck"))
    os.makedirs(src_dir)
    gen2 = d.where(F.col("doc_id") % 7 == 2)
    batches = [
        d.where(F.col("doc_id") % 7 == 1),  # day 1: clean
        gen2.unionAll(  # day 2: the corrupted feed (one NULL id)
            spark.createDataFrame(
                [(None, "corrupt row", None)], "doc_id long, text string, n_chars long"
            )
        ),
        gen2,  # day 3: the clean resend of day 2's docs
    ]
    for g, b in enumerate(batches, start=1):
        _land_stream_file(b, src_dir, g)
    q = dedup_ingest_stream(
        spark, src_dir, d.schema, "mh_vstream_index", "text", "doc_id",
        out, ck, repartition_to=par,
        expectations=[NotNull("doc_id")], quarantine_path=qtn,
    )
    q.awaitTermination()
    qrows = spark.read.parquet(qtn)
    n_q = qrows.count()
    if n_q == 0 or qrows.where(F.col("quarantine_reason").isNull()).count():
        raise RuntimeError("corrupted batch was not quarantined")
    return spark.read.parquet(out).select("generation", "doc_id", "n_chars")


REGISTRY["stream_validated_ingest_exec"] = QueryDef(
    REGISTRY["stream_validated_ingest_exec"].fn,
    _dedup_increment_oracle().replace("SELECT 2 AS generation", "SELECT 3 AS generation"),
    REGISTRY["stream_validated_ingest_exec"].doc,
)


def _drift_ingest_oracle() -> str:
    """The validated-ingest replay EXTENDED with the drift verdict:
    gens 1/3 are the dedup_increment two-generation replay (labels 1
    and 3 — the quarantined day never touches the index), and gen 2 is
    the shifted feed verbatim, every row tagged with the EXACT
    quarantine reason the stream writes — the DriftBound name plus the
    measured TVD, recomputed from scratch (integer milli shares over
    the div-200 bins, full-outer merged, summed |diff| halved,
    %g-formatted). A drift-metric regression of even one milli breaks
    the string equality."""
    return f"""
        WITH RECURSIVE {_dedup_increment_ctes()},
        ref_bins AS (SELECT n_chars // 200 AS bin, count(*) AS n_old
                     FROM documents WHERE doc_id % 7 = 0 GROUP BY 1),
        new_bins AS (SELECT (n_chars % 50) // 200 AS bin, count(*) AS n_new
                     FROM documents WHERE doc_id % 7 = 2 GROUP BY 1),
        bins AS (SELECT COALESCE(r.bin, w.bin) AS bin,
                        COALESCE(n_old, 0) AS n_old,
                        COALESCE(n_new, 0) AS n_new
                 FROM ref_bins r FULL OUTER JOIN new_bins w ON r.bin = w.bin),
        tot AS (SELECT sum(n_old) AS t_o, sum(n_new) AS t_n FROM bins),
        tvd AS (SELECT sum(abs(n_old * 1000 // t_o - n_new * 1000 // t_n)) / 2.0 AS v
                FROM bins, tot)
        SELECT 1 AS generation, d.doc_id, d.n_chars,
               CAST(NULL AS VARCHAR) AS quarantine_reason
        FROM documents d JOIN surv1 USING (doc_id)
        UNION ALL
        SELECT 3 AS generation, d.doc_id, d.n_chars,
               CAST(NULL AS VARCHAR) AS quarantine_reason
        FROM documents d JOIN surv2 USING (doc_id)
        UNION ALL
        SELECT 2 AS generation, d.doc_id, d.n_chars % 50 AS n_chars,
               'drift_bound(n_chars div 200,400)=' || printf('%g', tvd.v)
                 AS quarantine_reason
        FROM documents d, tvd WHERE d.doc_id % 7 = 2
    """


@query(
    "stream_drift_ingest_exec",
    oracle=None,  # assigned below: the increment replay + drift verdict
    doc="the DRIFT-validated ingest loop (VERDICT r11 item 3): a "
    "DriftBound expectation judges each micro-batch's binned n_chars "
    "distribution against a reference snapshot BEFORE it touches the "
    "index or the output — day 1's in-distribution feed lands (gen 1), "
    "day 2's shifted feed (all lengths collapsed mod 50 -> one bin) "
    "quarantines WHOLE with the TVD-carrying drift_bound tag, day 3's "
    "clean resend of the same docs dedups normally against day-1's "
    "index (gen 3). Returns admitted AND quarantined rows; the oracle "
    "replays the two-generation dedup AND recomputes the drift verdict "
    "string (name + %g TVD) from scratch, so the gate's metric is "
    "value-checked, not just its routing.",
)
def q_stream_drift_ingest_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.dedup import seed_minhash_index
    from hadoop_app_spark.operators.expectations import DriftBound
    from hadoop_app_spark.streaming.ingest import dedup_ingest_stream

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    par = spark.sparkContext.defaultParallelism
    # same memoized day-0 seed as dedup_increment, cloned fresh
    _seed_clone(
        spark, "mh_incr_seed", "mh_dstream_index",
        f"minhash|{sf_dir}|mod7|crc32|n3k8b4",
        lambda t: seed_minhash_index(
            d.where(F.col("doc_id") % 7 == 0), "text", "doc_id", t,
            repartition_to=par,
        ),
    )
    root = _scratch_dir("drift_ingest", sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    src_dir, out, qtn, ck = (os.path.join(root, x) for x in ("src", "out", "qtn", "ck"))
    os.makedirs(src_dir)
    gen2 = d.where(F.col("doc_id") % 7 == 2)
    batches = [
        d.where(F.col("doc_id") % 7 == 1),  # day 1: in-distribution
        # day 2: every length collapsed below 50 — the whole batch's
        # bin mass lands in bin 0, TVD vs the reference blows the bound
        gen2.withColumn("n_chars", F.col("n_chars") % 50),
        gen2,  # day 3: the clean resend of day 2's docs
    ]
    for g, b in enumerate(batches, start=1):
        _land_stream_file(b, src_dir, g)
    q = dedup_ingest_stream(
        spark, src_dir, d.schema, "mh_dstream_index", "text", "doc_id",
        out, ck, repartition_to=par,
        expectations=[
            DriftBound("n_chars div 200", d.where(F.col("doc_id") % 7 == 0),
                       max_tvd_milli=400)
        ],
        quarantine_path=qtn,
    )
    q.awaitTermination()
    qrows = spark.read.parquet(qtn)
    bad_tag = qrows.where(
        ~F.coalesce(F.col("quarantine_reason"), F.lit("")).startswith("drift_bound")
    ).count()
    if qrows.isEmpty() or bad_tag:
        raise RuntimeError("shifted batch was not drift-quarantined")
    admitted = spark.read.parquet(out).select(
        "generation", "doc_id", "n_chars",
        F.lit(None).cast("string").alias("quarantine_reason"),
    )
    return admitted.unionAll(
        qrows.select("generation", "doc_id", "n_chars", "quarantine_reason")
    )


REGISTRY["stream_drift_ingest_exec"] = QueryDef(
    REGISTRY["stream_drift_ingest_exec"].fn,
    _drift_ingest_oracle(),
    REGISTRY["stream_drift_ingest_exec"].doc,
)


@query(
    "split_assignment_pinning",
    oracle="""
        WITH RECURSIVE {banded},
        e1 AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
               FROM banded a JOIN banded x
               ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id
               WHERE a.doc_id % 2 = 0 AND x.doc_id % 2 = 0),
        sym1 AS (SELECT id_a AS a, id_b AS b FROM e1
                 UNION SELECT id_b, id_a FROM e1),
        n1 AS (SELECT DISTINCT a AS node FROM sym1),
        reach1(a, b) AS (
            SELECT node, node FROM n1
            UNION
            SELECT r.a, s.b FROM reach1 r JOIN sym1 s ON r.b = s.a),
        comp1 AS (SELECT a AS node, min(b) AS component FROM reach1 GROUP BY a),
        a1 AS (SELECT d.doc_id,
                      CASE WHEN CAST(concat('0x', substr(md5(CAST(
                                COALESCE(comp1.component, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                           THEN 'train'
                           WHEN CAST(concat('0x', substr(md5(CAST(
                                COALESCE(comp1.component, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95
                           THEN 'val' ELSE 'test' END AS split
               FROM documents d LEFT JOIN comp1 ON d.doc_id = comp1.node
               WHERE d.doc_id % 2 = 0),
        e2 AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
               FROM banded a JOIN banded x
               ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        sym2 AS (SELECT id_a AS a, id_b AS b FROM e2
                 UNION SELECT id_b, id_a FROM e2),
        n2 AS (SELECT DISTINCT a AS node FROM sym2),
        reach2(a, b) AS (
            SELECT node, node FROM n2
            UNION
            SELECT r.a, s.b FROM reach2 r JOIN sym2 s ON r.b = s.a),
        comp2 AS (SELECT a AS node, min(b) AS component FROM reach2 GROUP BY a),
        lab2 AS (SELECT d.doc_id,
                        COALESCE(comp2.component, d.doc_id) AS component
                 FROM documents d LEFT JOIN comp2 ON d.doc_id = comp2.node),
        fam AS (SELECT x.component, min(a1.doc_id) AS mid
                FROM a1 JOIN lab2 x ON a1.doc_id = x.doc_id
                GROUP BY x.component),
        fam_pin AS (SELECT fam.component, a1.split AS fp
                    FROM fam JOIN a1 ON a1.doc_id = fam.mid)
        SELECT l.doc_id, l.component,
               COALESCE(p.split, fam_pin.fp,
                        CASE WHEN CAST(concat('0x', substr(md5(CAST(l.component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                             THEN 'train'
                             WHEN CAST(concat('0x', substr(md5(CAST(l.component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 95
                             THEN 'val' ELSE 'test' END) AS split,
               p.doc_id IS NOT NULL AS pinned
        FROM lab2 l
        LEFT JOIN a1 p ON l.doc_id = p.doc_id
        LEFT JOIN fam_pin ON l.component = fam_pin.component
    """.format(banded=_minhash_banded_cte()),
    doc="split-assignment PINNING across corpus snapshots (operators/"
    "dedup.pin_split_assignments — the growing-corpus half of "
    "leakage_safe_split): day 1 assigns half the corpus and persists "
    "(id, split) pins; day 2 re-splits the FULL corpus and pins against "
    "them — previously assigned docs keep their pin unconditionally, "
    "new docs in families containing pinned members adopt the smallest "
    "pinned id's split (even where the fresh hash disagrees — min-id "
    "relabels re-route nothing), brand-new families take the fresh "
    "hash; families merging differently-pinned members are REPORTED as "
    "conflicts rather than silently re-routed. Oracle replays both "
    "snapshots' components (two recursive reaches), the day-1 hashes, "
    "and the adoption policy.",
)
def q_split_assignment_pinning(spark, sf_dir):
    from hadoop_app_spark.operators.bucketing import save_table_recovering_orphan
    from hadoop_app_spark.operators.dedup import (
        leakage_safe_split,
        pin_split_assignments,
    )

    d = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # the day-1 bootstrap pin table is a pure function of (corpus
    # slice, params): memoized + cloned per invocation (the index-
    # lifecycle convention), so the timed work is day 2's split + the
    # pinning pass — the operator's daily steady state. The clone is
    # required (not just a reuse): pin_split_assignments APPENDS the
    # newly assigned rows to the table it reads.
    def _bootstrap(t):
        day1 = leakage_safe_split(
            d.where(F.col("doc_id") % 2 == 0), "text", "doc_id",
            repartition_to=par,
        )
        save_table_recovering_orphan(
            spark,
            day1.select("doc_id", "split").write.mode("overwrite").format("parquet"),
            t,
        )

    _seed_clone(
        spark, "split_pins_seed", "split_pins",
        f"splitpins|{sf_dir}|mod2|crc32", _bootstrap, compact=False,
    )
    day2 = leakage_safe_split(
        d, "text", "doc_id", repartition_to=par
    )
    out, _conflicts = pin_split_assignments(day2, "split_pins", "doc_id")
    return out.select("doc_id", "component", "split", "pinned")


def _simhash_increment_oracle(generations: int = 2) -> str:
    """Replay of the SimHash index policy over ``generations`` daily
    batches (doc_id % 10 = 1, 2, ...): seed greedy dedup -> index0 =
    survivors' (bucket, fingerprint); each day drops on (band bucket
    match AND hamming <= 3 vs the index) OR a verified lower-id intra
    pair; survivors' bands extend the index. Zero-token docs have no
    fingerprint, hence no bands, hence survive — in both engines."""
    days, outs = [], []
    for g in range(1, generations + 1):
        days.append(f"""
        b{g} AS (SELECT * FROM bnd WHERE doc_id % 10 = {g}),
        drop{g} AS (
            SELECT DISTINCT b{g}.doc_id FROM b{g} JOIN idx{g - 1}
              ON b{g}.bucket = idx{g - 1}.bucket AND bit_count(xor(b{g}.s, idx{g - 1}.s)) <= 3
            UNION
            SELECT x.doc_id FROM b{g} a JOIN b{g} x
              ON a.bucket = x.bucket AND a.doc_id < x.doc_id
              AND bit_count(xor(a.s, x.s)) <= 3),
        surv{g} AS (SELECT doc_id FROM documents WHERE doc_id % 10 = {g}
                  AND doc_id NOT IN (SELECT doc_id FROM drop{g}))""")
        if g < generations:
            days.append(f"""
        idx{g} AS (SELECT bucket, s FROM idx{g - 1}
                 UNION ALL
                 SELECT bucket, s FROM bnd
                 WHERE doc_id IN (SELECT doc_id FROM surv{g}))""")
        outs.append(
            f"SELECT {g} AS generation, d.doc_id, d.n_chars\n"
            f"        FROM documents d JOIN surv{g} USING (doc_id)"
        )
    union_all = "\n        UNION ALL\n        "
    return f"""
        WITH RECURSIVE {_simhash_sh_cte()},
        bnd AS (
            SELECT doc_id, s, bv.b * 16384 + (s // bv.p) % 16384 AS bucket
            FROM sh, (VALUES (0, CAST(1 AS BIGINT)),
                             (1, CAST(16384 AS BIGINT)),
                             (2, CAST(268435456 AS BIGINT)),
                             (3, CAST(4398046511104 AS BIGINT))) AS bv(b, p)),
        sb AS (SELECT * FROM bnd WHERE doc_id % 10 = 0),
        seed_losers AS (SELECT DISTINCT x.doc_id FROM sb a JOIN sb x
                        ON a.bucket = x.bucket AND a.doc_id < x.doc_id
                        AND bit_count(xor(a.s, x.s)) <= 3),
        idx0 AS (SELECT bucket, s FROM sb
                 WHERE doc_id NOT IN (SELECT doc_id FROM seed_losers)),{",".join(days)}
        {union_all.join(outs)}
    """


@query(
    "simhash_increment",
    oracle=_simhash_increment_oracle(),
    doc="incremental dedup against a persisted SIMHASH band index — "
    "dedup_increment's Hamming-distance sibling, so the daily-ingest "
    "pattern covers both dedup families: a greedy-deduped day-0 seed "
    "persists its survivors' (bucket, id, fingerprint) rows bucketed by "
    "band bucket; two daily batches then each dedup against the "
    "accumulated index (bucket hit is only a CANDIDATE — the drop "
    "requires bit_count(xor) <= 3 against the indexed fingerprint, the "
    "verify MinHash doesn't need) plus themselves, appending survivors. "
    "Work per day is O(batch) shuffle + the exchange-free bucketed index "
    "scan. Oracle replays both generations fingerprint-for-fingerprint "
    "(operators/dedup.seed_simhash_index/simhash_increment).",
)
def q_simhash_increment(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import seed_simhash_index, simhash_increment

    d = _t(spark, sf_dir, "documents")
    # memoized day-0 seed + per-invocation clone (the dedup_increment
    # convention): the timed work is the daily increments
    _seed_clone(
        spark, "sh_incr_seed", "sh_incr_index",
        f"simhash|{sf_dir}|mod10|hb28b4",
        lambda t: seed_simhash_index(
            d.where(F.col("doc_id") % 10 == 0), "text", "doc_id", t
        ),
    )
    gens = []
    for gen in (1, 2):
        surv = simhash_increment(
            d.where(F.col("doc_id") % 10 == gen),
            "sh_incr_index",
            "text",
            "doc_id",
            dropped_table=False,  # localCheckpoint snapshot: no sidecar
        )
        gens.append(surv.select(F.lit(gen).alias("generation"), "doc_id", "n_chars"))
    return gens[0].unionAll(gens[1])


@query(
    "simhash_reseed_increment",
    # gen-1 slice of the plain-geometry replay, which the
    # permuted-geometry increment must match verbatim
    oracle=_simhash_increment_oracle(generations=1),
    doc="SimHash hot-band re-seeding (operators/dedup."
    "reseed_simhash_bands, VERDICT r9 item 5): a band value that "
    "accumulates verify-failing members skews every future batch's "
    "candidate join, and hot_simhash_bands (one grouped count over the "
    "index) detects it — the remedy re-bands the stored fingerprints "
    "under a deterministically PERMUTED bit geometry, spreading the hot "
    "value across buckets. This entry is the invariance proof run "
    "end-to-end: the day-0 index is re-banded under seed 7 (inside the "
    "memoized seed build — re-seeding is one-time maintenance like "
    "compaction, its wall cost is the stress probe's job; the timed "
    "work here is the daily steady state, and the double-reseed "
    "composition is pytest-pinned in tests/test_simhash_reseed.py), "
    "and the day-1 increment against the PERMUTED-geometry index "
    "still matches the plain-geometry oracle VERBATIM — banding is only "
    "candidate "
    "generation, the Hamming verify runs on true fingerprints, and "
    "pigeonhole (hamming <= bands-1 forces an identical band under ANY "
    "permutation) makes recall geometry-independent. ONE timed "
    "generation (VERDICT r10 item 2: the invariance claim needs one "
    "post-reseed increment; the multi-generation/double-reseed "
    "compositions are pinned in tests/test_simhash_reseed.py). "
    "Candidate-volume spreading + warning automation are pinned in "
    "tests/test_operators.py::test_simhash_hot_band_*",
)
def q_simhash_reseed_increment(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import (
        reseed_simhash_bands,
        simhash_increment,
        seed_simhash_index,
    )

    d = _t(spark, sf_dir, "documents")

    # day-0 seed + the one-time re-band, memoized together and cloned
    # to a separate work table per invocation (both simhash entries
    # can run in one session): the timed work is ONE daily increment
    # under the permuted geometry — the steady state
    def _build(t):
        seed_simhash_index(d.where(F.col("doc_id") % 10 == 0), "text", "doc_id", t)
        reseed_simhash_bands(spark, t, new_seed=7)

    _seed_clone(
        spark, "sh_reseed_seed", "sh_reseed_index",
        f"simhash|{sf_dir}|mod10|hb28b4|perm7", _build,
    )
    surv = simhash_increment(
        d.where(F.col("doc_id") % 10 == 1),
        "sh_reseed_index",
        "text",
        "doc_id",
        dropped_table=False,
    )
    return surv.select(F.lit(1).alias("generation"), "doc_id", "n_chars")


@query(
    "data_expectations",
    oracle="""
        SELECT 'row_count_between(1,1000000000)' AS expectation,
               CAST(count(*) AS DOUBLE) AS metric,
               count(*) BETWEEN 1 AND 1000000000 AS passed FROM lineitem
        UNION ALL
        SELECT 'not_null(l_orderkey)',
               CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS DOUBLE),
               sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'unique_key(l_orderkey,l_linenumber)',
               CAST(count(*) - count(DISTINCT (l_orderkey, l_linenumber)) AS DOUBLE),
               count(*) = count(DISTINCT (l_orderkey, l_linenumber))
        FROM lineitem
        UNION ALL
        SELECT 'value_range(l_quantity,1,50)',
               CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                              OR l_quantity > 50 THEN 1 ELSE 0 END) AS DOUBLE),
               sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
                         OR l_quantity > 50 THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'value_range(l_discount,0.0,0.05)',
               CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                              OR l_discount > 0.05 THEN 1 ELSE 0 END) AS DOUBLE),
               sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
                         OR l_discount > 0.05 THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'accepted_values(l_returnflag)',
               CAST(sum(CASE WHEN l_returnflag IS NULL
                              OR l_returnflag NOT IN ('A','N','R')
                         THEN 1 ELSE 0 END) AS DOUBLE),
               sum(CASE WHEN l_returnflag IS NULL
                         OR l_returnflag NOT IN ('A','N','R')
                    THEN 1 ELSE 0 END) = 0
        FROM lineitem
        UNION ALL
        SELECT 'foreign_key(l_orderkey->o_orderkey)',
               CAST((SELECT count(*) FROM lineitem l LEFT JOIN orders o
                     ON l.l_orderkey = o.o_orderkey
                     WHERE o.o_orderkey IS NULL
                       AND l.l_orderkey IS NOT NULL) AS DOUBLE),
               (SELECT count(*) FROM lineitem l LEFT JOIN orders o
                ON l.l_orderkey = o.o_orderkey
                WHERE o.o_orderkey IS NULL
                  AND l.l_orderkey IS NOT NULL) = 0
    """,
    doc="declarative data-quality expectations evaluated as a publish "
    "gate (operators/expectations.check_expectations, Deequ class): "
    "row-count window, key not-null + uniqueness, measure domains, "
    "categorical dictionary, and an orders foreign key over lineitem — "
    "ALL scan-local checks in ONE wide aggregate pass, the FK as one "
    "broadcast-eligible anti join; verdicts are data ([expectation, "
    "metric, passed], violation counts so failures are diagnosable "
    "without a re-run). One expectation (discount <= 0.05) FAILS by "
    "design so the oracle value-checks both verdict paths.",
)
def q_data_expectations(spark, sf_dir):
    from hadoop_app_spark.operators.expectations import (
        AcceptedValues,
        ForeignKey,
        NotNull,
        RowCountBetween,
        UniqueKey,
        ValueRange,
        check_expectations,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return check_expectations(
        li,
        [
            RowCountBetween(1, 10**9),
            NotNull("l_orderkey"),
            UniqueKey(("l_orderkey", "l_linenumber")),
            ValueRange("l_quantity", 1, 50),
            ValueRange("l_discount", 0.0, 0.05),  # fails by design
            AcceptedValues("l_returnflag", ("A", "N", "R")),
            ForeignKey("l_orderkey", orders, "o_orderkey"),
        ],
    )


@query(
    "leakage_safe_split",
    oracle="""
        WITH RECURSIVE {banded},
        e AS (SELECT DISTINCT a.doc_id AS id_a, x.doc_id AS id_b
              FROM banded a JOIN banded x
              ON a.b = x.b AND a.bs = x.bs AND a.doc_id < x.doc_id),
        sym AS (SELECT id_a AS a, id_b AS b FROM e
                UNION SELECT id_b, id_a FROM e),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(a, b) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
        lab AS (SELECT d.doc_id,
                       COALESCE(comp.component, d.doc_id) AS component
                FROM documents d LEFT JOIN comp ON d.doc_id = comp.node),
        hashed AS (SELECT doc_id, component,
                          CAST(concat('0x', substr(md5(CAST(component AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS hh
                   FROM lab)
        SELECT doc_id, component,
               CASE WHEN hh < 90 THEN 'train'
                    WHEN hh < 95 THEN 'val'
                    ELSE 'test' END AS split
        FROM hashed
    """.format(banded=_minhash_banded_cte()),
    doc="leakage-safe train/val/test split (the eval-contamination guard: "
    "a random per-doc split leaks test content into train through every "
    "near-dup pair): MinHash-LSH pairs -> connected components -> the "
    "split is a deterministic md5-slice function of the COMPONENT id, so "
    "near-dup families never straddle splits, assignment is reproducible, "
    "reproducible for a given corpus snapshot (across snapshots a min-id "
    "relabel or family merge can re-route — persist assignments to pin). "
    "Oracle replays pairs, components (recursive reach + min), and the "
    "md5 thresholds (operators/dedup.leakage_safe_split).",
)
def q_leakage_safe_split(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import leakage_safe_split

    d = _t(spark, sf_dir, "documents")
    return leakage_safe_split(
        d, "text", "doc_id",
        repartition_to=spark.sparkContext.defaultParallelism,
    )


@query(
    "udtf_ncdc_parse",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INT) AS year,
               max(CASE WHEN l_discount > 0.05 THEN -CAST(l_quantity AS INT)
                        ELSE CAST(l_quantity AS INT) END) AS max_temp,
               count(*) AS n
        FROM lineitem
        WHERE l_orderkey % 7 = 0
        GROUP BY 1
        ORDER BY 1
    """,
    doc="the reference MaxTemperature job over malformed input: NCDC lines "
    "encoded from lineitem plus a short line, a non-numeric year and a null "
    "are parsed by sources/ncdc.parse_fixed_width, which drops every line "
    "whose int fields do not parse (the null-drop decision, FIXTURES.md A1), "
    "then aggregated per year. The oracle computes the same aggregate "
    "directly from the lineitem columns the builder encoded, so it is "
    "independent of the string round-trip.",
)
def q_udtf_ncdc_parse(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 7 == 0)
    lines = li.select(_ncdc_line().alias("line")).unionAll(
        spark.createDataFrame(
            [("GARBAGE",), ("H" * 15 + "YYYY" + "x" * 74,), (None,)],
            "line string",
        )
    )
    return (
        parse_fixed_width(lines, _NCDC_INT_FIELDS, "line")
        .groupBy("year")
        .agg(F.max("temp").alias("max_temp"), F.count("*").alias("n"))
        .orderBy("year")
    )


@query(
    "udtf_chunk_spans",
    oracle="""
        SELECT d.doc_id, CAST(s / 30 AS INT) AS chunk_id,
               CAST(s AS INT) AS start,
               substr(d.text, CAST(s AS INT) + 1, 40) AS chunk
        FROM documents d,
             unnest(range(0, greatest(length(d.text), 0), 30)) AS t(s)
        ORDER BY d.doc_id, chunk_id
    """,
    doc="row fan-out through the registered UDTF surface (functions/"
    "udtf.ChunkSpansUDTF, the UserHotcar 0..N-rows-per-input shape): "
    "`LATERAL chunk_spans(text, 40, 10)` emits overlapping fixed-size "
    "character windows (stride = size - overlap, short tail kept, "
    "empty/null text emits nothing); pure arithmetic, so a DuckDB "
    "generate_series/range replay is exact per chunk including content.",
)
def q_udtf_chunk_spans(spark, sf_dir):
    from hadoop_app_spark.functions.udtf import register_udtfs

    register_udtfs(spark)
    d = _t(spark, sf_dir, "documents")
    d.select("doc_id", "text").createOrReplaceTempView("udtf_chunk_docs")
    return spark.sql(
        """
        SELECT d.doc_id, t.chunk_id, t.start, t.chunk
        FROM udtf_chunk_docs d, LATERAL chunk_spans(d.text, 40, 10) t
        ORDER BY d.doc_id, t.chunk_id
        """
    )


@query(
    "schema_evolution_read",
    oracle="""
        SELECT CASE WHEN doc_id % 2 = 0 THEN NULL ELSE lang END AS lang,
               source, count(*) AS n
        FROM documents
        GROUP BY 1, 2
        ORDER BY 1 NULLS FIRST, 2
    """,
    doc="schema-evolution read (the lakehouse add-a-column lifecycle): "
    "half the corpus is written under the v1 schema (doc_id, source), "
    "half under v2 which ADDS lang; one mergeSchema=true read unions "
    "the generations with NULL backfill for pre-evolution files — no "
    "rewrite of old data, the schema is the union of file footers. "
    "Oracle recomputes the NULL backfill from the split rule directly.",
)
def q_schema_evolution_read(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    out = _scratch_dir("schema_evo", sf_dir)
    # v1 files lack lang; v2 files (written later, same directory) add it
    d.where(F.col("doc_id") % 2 == 0).select("doc_id", "source").write.mode(
        "overwrite"
    ).parquet(out)
    d.where(F.col("doc_id") % 2 == 1).select("doc_id", "source", "lang").write.mode(
        "append"
    ).parquet(out)
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return (
        merged.groupBy("lang", "source")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("lang").asc_nulls_first(), "source")
    )


@query(
    "csv_malformed_quarantine",
    oracle="""
        SELECT 'parsed' AS bucket, count(*) AS rows,
               CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS qty_sum
        FROM lineitem WHERE l_orderkey % 11 = 0
        UNION ALL
        SELECT 'quarantined', 2, 42, 7
        ORDER BY 1
    """,
    doc="malformed-record quarantine at the CSV source (S4's TSV arity "
    "validation lifted to the reader contract): a pipe-delimited feed "
    "with injected type-garbage rows ('abc|7', '42|notanumber') is read "
    "PERMISSIVE with columnNameOfCorruptRecord, splitting every line "
    "into parsed rows (aggregated) or a quarantine bucket — bad data is "
    "counted and kept, never silently dropped and never fatal. Two "
    "measured reader semantics are baked into the oracle: a corrupt row "
    "RETAINS the fields that did parse (so the quarantine sums are 42 "
    "and 7, the salvageable halves of the two garbage rows), and "
    "corruption is judged against the REQUIRED schema only — an "
    "aggregate that pruned l_orderkey would never flag 'abc|7' — so the "
    "query references every data column to make parsing total.",
)
def q_csv_malformed_quarantine(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 11 == 0)
    lines = li.select(
        F.concat_ws(
            "|", F.col("l_orderkey"), F.col("l_quantity").cast("int")
        ).alias("value")
    ).unionAll(
        spark.createDataFrame(
            [("abc|7",), ("42|notanumber",)], "value string"
        )
    )
    out = _scratch_dir("csv_quarantine", sf_dir)
    lines.write.mode("overwrite").text(out)
    parsed = (
        spark.read.schema(
            "l_orderkey long, l_quantity int, _corrupt string"
        )
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    # ONE grouped pass referencing EVERY data column: Spark forbids a
    # plan whose pruned schema is the corrupt column alone
    # (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and —
    # measured — corruption is judged against the REQUIRED schema, so
    # pruning a column would silently unflag rows whose garbage lives
    # in the pruned field.
    return (
        parsed.groupBy(F.col("_corrupt").isNotNull().alias("is_bad"))
        .agg(
            F.count("*").alias("rows"),
            F.sum("l_orderkey").alias("key_sum"),
            F.sum("l_quantity").cast("long").alias("qty_sum"),
        )
        .select(
            F.when(F.col("is_bad"), F.lit("quarantined"))
            .otherwise(F.lit("parsed"))
            .alias("bucket"),
            "rows",
            "key_sum",
            "qty_sum",
        )
        .orderBy("bucket")
    )


def _lsh_near_dup_oracle(dim: int = 64, n_planes: int = 6, threshold: float = 0.3) -> str:
    """Generate the DuckDB oracle for embedding_near_dup with the
    engine's deterministic hyperplanes inlined as literals, so the
    oracle reproduces the exact LSH buckets (same doubles, same sign
    tests) — the candidate set is verified, not just the final filter."""
    from hadoop_app_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, n_planes)
    bucket = " + ".join(
        "(CASE WHEN "
        + " + ".join(f"CAST(embedding[{j + 1}] AS DOUBLE)*({p[j]!r})" for j in range(dim))
        + f" > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )
    dot = (
        "list_reduce(list_prepend(0.0, [{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]),"
        " (acc, x) -> acc + x)"
    )
    return f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v, ({bucket}) AS bucket
            FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {dot.format(a="a.v", b="b.v")}
              / (sqrt({dot.format(a="a.v", b="a.v")}) * sqrt({dot.format(a="b.v", b="b.v")}))
              >= {threshold}
    """


@query(
    "embedding_near_dup",
    oracle=_lsh_near_dup_oracle(),
    doc="embedding-cosine near-dup pairs, LSH-bucket candidate limited (north star); "
    "numpy kernel: sign-matmul bucketing, one shuffle on bucket, blocked "
    "per-bucket pairwise matmul (embedding_near_dup_vectorized is an alias of "
    "this entry); "
    "oracle regenerates the sign-LSH buckets from inlined hyperplane literals",
)
def q_embedding_near_dup(spark, sf_dir):
    from hadoop_app_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").repartition(spark.sparkContext.defaultParallelism)
    return embedding_near_dups(emb, threshold=0.3, n_planes=6).select("id_a", "id_b")


_IVF_DOT = (
    "list_reduce(list_prepend(0.0, [{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]),"
    " (acc, x) -> acc + x)"
)

_IVF_ORACLE = f"""
    WITH cent AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS c_idx,
               embedding::DOUBLE[] AS cv
        FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
    corp AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
        SELECT vec_id, v, c_idx,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c_idx) AS rn
        FROM (SELECT corp.vec_id, corp.v, cent.c_idx,
                     {_IVF_DOT.format(a="corp.v", b="cent.cv")} AS d
              FROM corp CROSS JOIN cent)),
    cells AS (SELECT vec_id, v, c_idx AS cell FROM assign WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
          FROM embeddings WHERE vec_id <= 5),
    probes AS (
        SELECT query_id, qv, c_idx AS cell,
               row_number() OVER (PARTITION BY query_id ORDER BY d DESC, c_idx) AS rn
        FROM (SELECT q.query_id, q.qv, cent.c_idx,
                     {_IVF_DOT.format(a="q.qv", b="cent.cv")} AS d
              FROM q CROSS JOIN cent)),
    cand AS (
        SELECT p.query_id, c.vec_id, p.qv, c.v
        FROM (SELECT * FROM probes WHERE rn <= 4) p
        JOIN cells c USING (cell)
        WHERE c.vec_id <> p.query_id),
    scored AS (
        SELECT query_id, vec_id,
               {_IVF_DOT.format(a="v", b="qv")}
               / (sqrt({_IVF_DOT.format(a="v", b="v")}) * sqrt({_IVF_DOT.format(a="qv", b="qv")}))
               AS cosine
        FROM cand)
    SELECT query_id, vec_id, rank
    FROM (SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= 5
"""


@query(
    "ivf_ann_topk",
    oracle=_IVF_ORACLE,
    doc="IVF-style ANN: per-batch argmax cell assignment (no shuffle), n_probe=4 of 16 "
    "cells probed per query (north star: ANN scale path beside sign-LSH), vectorized "
    "numpy kernel (ivf_ann_topk_hof is an alias of this entry)",
)
def q_ivf_ann_topk(spark, sf_dir):
    from hadoop_app_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return ivf_topk(
        corpus, queries, k=5, n_centroids=16, n_probe=4, centroid_source=emb
    ).select("query_id", "vec_id", "rank")


@query(
    "pq_ann_topk",
    oracle=None,  # float-mean codebooks are engine-seeded (the
    # semdedup/pca rows-only convention); exactness is pinned in
    # tests/test_pq.py instead — full-shortlist output EQUALS brute
    # force, codebooks/encodes repartition-invariant, recall@5 >= 0.9
    # on clustered data at a 64/400 shortlist
    doc="product-quantization ANN (Jégou et al. 2011 — the MEMORY scale "
    "path of the ANN family): per-subspace codebooks trained driver-side "
    "on a hash-ordered sample, one mapInPandas encode to m small ints per "
    "vector (384x smaller than 768-dim float32), asymmetric-distance "
    "scoring via broadcast m x n_codes lookup tables with a map-side "
    "partial shortlist, then an EXACT re-rank of the shortlist's true "
    "vectors — the scoring scan reads the codes column only, ~1% of the "
    "raw embedding bytes (operators/pq)",
)
def q_pq_ann_topk(spark, sf_dir):
    from hadoop_app_spark.operators.pq import pq_adc_topk, train_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    books = train_pq_codebooks(emb, m=8, n_codes=16, sample=2048)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    return pq_adc_topk(corpus, queries, books, k=5, shortlist=64).select(
        "query_id", "vec_id", "rank"
    )


@query(
    "ivf_index_topk",
    # identical semantics to ivf_ann_topk (same centroids, assignment,
    # probe order, scoring), so the same oracle replays it — what the
    # persisted form changes is the ACCESS PATH (cell-partitioned
    # parquet + partition pruning), which an oracle over values cannot
    # and need not see; pruning is pinned in tests/test_ann_index.py
    oracle=_IVF_ORACLE,
    doc="PERSISTED IVF ANN index (operators/ann_index — the index-as-a-"
    "table sibling of dedup_increment's MinHash band index): the corpus "
    "is written ONCE as cell-partitioned parquet (cell=K/ directories + "
    "a _ivf_centroids sidecar), and each query batch scans ONLY its "
    "n_probe cells via Catalyst partition pruning — unprobed cells are "
    "never opened; daily growth is append_ivf_index (assign vs sidecar "
    "centroids, append files — work ~ batch, never the index)",
)
def q_ivf_index_topk(spark, sf_dir):
    from hadoop_app_spark.operators.ann_index import build_ivf_index, query_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    path = _scratch_dir("ivf_index", sf_dir) + "/emb"
    build_ivf_index(emb, path, n_centroids=16, centroid_source=emb)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivf_index(spark, path, queries, k=5, n_probe=4).select(
        "query_id", "vec_id", "rank"
    )


@query(
    "ivf_index_increment",
    # the IVF cell structure is immutable once built (the standard IVF
    # contract), so seed(A) + append(B) holds EXACTLY the rows of
    # build(A ∪ B) — the same _IVF_ORACLE replays the incremental form
    # verbatim, value-checking the append path end-to-end: a mis-
    # assigned cell or a dropped batch row changes some query's top-k
    oracle=_IVF_ORACLE,
    doc="incremental IVF index maintenance — the ANN sibling of "
    "dedup_increment's daily loop (operators/ann_index.append_ivf_index): "
    "the index is SEEDED from two thirds of the corpus (centroids drawn "
    "from the full corpus — the sidecar fixes the cell structure for the "
    "index's lifetime), the remaining third arrives as a daily batch and "
    "is assigned against the SIDECAR centroids + appended into the "
    "cell-partitioned layout (work ~ batch, the accumulated index is "
    "never re-read), and the probe then answers from seed+append "
    "together; at 100 TB the append is the only daily cost and the probe "
    "still partition-prunes to n_probe cells",
)
def q_ivf_index_increment(spark, sf_dir):
    from hadoop_app_spark.operators.ann_index import (
        append_ivf_index,
        build_ivf_index,
        query_ivf_index,
    )

    import os
    import shutil

    emb = _t(spark, sf_dir, "embeddings")

    # memoized day-0 seed layout (pure function of corpus + params),
    # copied per invocation — the timed work is the APPEND + the probe,
    # the operator's steady state (the ivfpq_index_increment convention)
    def _build(root):
        build_ivf_index(
            emb.where(F.col("vec_id") % 3 != 2), os.path.join(root, "idx"),
            n_centroids=16, centroid_source=emb,
        )

    memo = _memo_dir("ivf_incr_seed", sf_dir, "c16|mod3seed2", _build)
    path = _scratch_dir("ivf_incr", sf_dir) + "/emb"
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "idx"), path)
    append_ivf_index(emb.where(F.col("vec_id") % 3 == 2), path)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivf_index(spark, path, queries, k=5, n_probe=4).select(
        "query_id", "vec_id", "rank"
    )


@query(
    "stream_ann_ingest_exec",
    # same immutable-cell argument as ivf_index_increment: streaming the
    # appends file-by-file lands exactly the rows a full build would,
    # so the probe shares _IVF_ORACLE verbatim
    oracle=_IVF_ORACLE,
    doc="the IVF append loop run as a REAL stream (streaming/ingest."
    "ann_ingest_stream — dedup_ingest_exec's sibling for the similarity "
    "index): embedding files land in a drop directory, FileStreamSource "
    "feeds them oldest-first one micro-batch per file, and each batch is "
    "assigned against the persisted sidecar centroids and appended into "
    "the cell-partitioned index inside foreachBatch; the probe then "
    "answers from everything that ever landed. Batch operator, streaming "
    "execution, one ground truth — the two-generation convention the "
    "dedup family established",
)
def q_stream_ann_ingest_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.ann_index import build_ivf_index, query_ivf_index
    from hadoop_app_spark.streaming.ingest import ann_ingest_stream

    emb = _t(spark, sf_dir, "embeddings")

    # day-0 fixtures (seed index layout + the two drop files) are pure
    # functions of (corpus, params): memoized once, copied per
    # invocation — the timed work is the STREAM (assign + append per
    # micro-batch) and the probe, the operator's steady state
    def _fixtures(memo_root):
        build_ivf_index(
            emb.where(F.col("vec_id") % 3 == 0).select("vec_id", "embedding"),
            os.path.join(memo_root, "idx"), n_centroids=16, centroid_source=emb,
        )
        msrc = os.path.join(memo_root, "src")
        os.makedirs(msrc)
        # one file per daily batch with forced mtime order (oldest-
        # first admission), the dedup-ingest fixture convention
        for gen in (1, 2):
            _land_stream_file(
                emb.where(F.col("vec_id") % 3 == gen).select("vec_id", "embedding"),
                msrc,
                gen,
            )

    memo = _memo_dir("ann_ingest", sf_dir, "mod3|c16|probe4", _fixtures)
    root = _scratch_dir("ann_ingest", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and append nothing
    shutil.rmtree(root, ignore_errors=True)
    src, idx, ck = (os.path.join(root, x) for x in ("src", "idx", "ck"))
    shutil.copytree(os.path.join(memo, "idx"), idx)
    shutil.copytree(os.path.join(memo, "src"), src, copy_function=shutil.copy2)
    q = ann_ingest_stream(
        spark, src, "vec_id long, embedding array<float>", idx, ck
    )
    q.awaitTermination()
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivf_index(spark, idx, queries, k=5, n_probe=4).select(
        "query_id", "vec_id", "rank"
    )


@query(
    "ivf_index_rebuild",
    # rebuild re-trains centroids from the CURRENT corpus under the
    # engine's deterministic convention (n_centroids lowest-id
    # vectors), so seed -> drifted-append -> rebuild holds EXACTLY the
    # rows build-from-scratch over the same corpus would — the same
    # _IVF_ORACLE replays it verbatim; a rebuild that lost a row,
    # mis-assigned a cell, or kept the stale centroids changes some
    # query's top-k and value-fails
    oracle=_IVF_ORACLE,
    doc="IVF index rebuild — centroid maintenance for the persisted ANN "
    "index (operators/ann_index.rebuild_ivf_index, VERDICT r9 item 4): "
    "the cell structure is immutable under appends (the standard IVF "
    "contract), so sustained DRIFTED appends skew cell occupancy and "
    "degrade both recall and pruning; cell_occupancy_profile (the "
    "key_skew_profile shape over the partition column — metadata-cheap) "
    "is the trigger, and the rebuild re-trains centroids from the "
    "current corpus and re-partitions via a staged build + swap (the "
    "live index is never read-and-overwritten). Here the index is "
    "seeded with centroids drawn ONLY from the seed third (a drifted "
    "structure by construction), grows by the other two thirds, then "
    "rebuilds — after which the probe answers exactly as a from-scratch "
    "build; occupancy-restoration and pruning are pinned in "
    "tests/test_ann_index.py",
)
def q_ivf_index_rebuild(spark, sf_dir):
    from hadoop_app_spark.operators.ann_index import (
        append_ivf_index,
        build_ivf_index,
        query_ivf_index,
        rebuild_ivf_index,
    )

    import os
    import shutil

    emb = _t(spark, sf_dir, "embeddings")

    # memoized DRIFTED fixture (seed from a third — centroid_source
    # defaults to the seed, so the cell structure is born from a third
    # of the corpus — plus the appended rest), copied per invocation:
    # the timed work is the REBUILD + the probe, the op's steady state
    # (the ivfpq_index_rebuild convention, applied to the plain layout)
    def _build(root):
        p = os.path.join(root, "idx")
        build_ivf_index(emb.where(F.col("vec_id") % 3 == 0), p, n_centroids=16)
        append_ivf_index(emb.where(F.col("vec_id") % 3 != 0), p)

    memo = _memo_dir("ivf_drifted", sf_dir, "c16|mod3seed", _build)
    path = _scratch_dir("ivf_rebuild", sf_dir) + "/emb"
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "idx"), path)
    rebuild_ivf_index(spark, path, n_centroids=16)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivf_index(spark, path, queries, k=5, n_probe=4).select(
        "query_id", "vec_id", "rank"
    )


_PQ_FIXED_ORACLE = f"""
    WITH corp AS (
        SELECT vec_id, [floor(x * 256) for x in embedding::DOUBLE[]] AS v
        FROM embeddings),
    books AS (
        SELECT s, c, j, CAST(((c*7 + j*3 + s*5) % 31) - 15 AS DOUBLE) AS w
        FROM unnest(range(0, 8)) AS ss(s),
             unnest(range(0, 16)) AS cc(c),
             unnest(range(0, 8)) AS jj(j)),
    enc AS (
        SELECT vec_id, s, c,
               sum((v[s*8 + j + 1] - w) * (v[s*8 + j + 1] - w)) AS d2
        FROM corp CROSS JOIN books
        GROUP BY vec_id, s, c),
    codes AS (
        SELECT vec_id, s, c
        FROM (SELECT vec_id, s, c,
                     row_number() OVER (PARTITION BY vec_id, s
                                        ORDER BY d2, c) AS rn
              FROM enc)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id <= 5),
    adc AS (
        SELECT q.query_id, codes.vec_id,
               sum(q.qv[b.s*8 + b.j + 1] * b.w) AS score
        FROM q CROSS JOIN codes
        JOIN books b ON b.s = codes.s AND b.c = codes.c
        WHERE codes.vec_id <> q.query_id
        GROUP BY q.query_id, codes.vec_id),
    short AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id) AS rn
              FROM adc)
        WHERE rn <= 64),
    scored AS (
        SELECT s.query_id, s.vec_id,
               CASE WHEN sqrt({_IVF_DOT.format(a="corp.v", b="corp.v")})
                         * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}) <> 0
                    THEN {_IVF_DOT.format(a="corp.v", b="q.qv")}
                         / (sqrt({_IVF_DOT.format(a="corp.v", b="corp.v")})
                            * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}))
                    ELSE 0 END AS cosine
        FROM short s
        JOIN corp ON corp.vec_id = s.vec_id
        JOIN q ON q.query_id = s.query_id)
    SELECT query_id, vec_id, rank
    FROM (SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= 5
"""


@query(
    "pq_ann_topk_fixed",
    oracle=_PQ_FIXED_ORACLE,
    doc="ORACLED twin of pq_ann_topk (VERDICT r7 item 8, the "
    "wordpiece_encode_fixed convention): the SAME encode -> ADC -> "
    "shortlist -> exact-re-rank pipeline (operators/pq.pq_adc_topk) run "
    "over integer-quantized vectors (floor(x*256)) with formula-generated "
    "integer codebooks both engines regenerate — every distance, LUT entry "
    "and shortlist score is an integer carried exactly in float64, so "
    "summation order can't flip the 64-candidate boundary and DuckDB "
    "replays the whole pipeline including the final exact-cosine ranks. "
    "The trained-codebook arm stays rows-only (engine-seeded float means) "
    "with its pytest pins.",
)
def q_pq_ann_topk_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks, pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )
    queries_df = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = qd.repartition(spark.sparkContext.defaultParallelism)
    return pq_adc_topk(corpus, queries_df, fixed_pq_codebooks(), k=5, shortlist=64).select(
        "query_id", "vec_id", "rank"
    )


def _ivfpq_fixed_oracle(
    n_probe: int = 4, shortlist: int = 64, k: int = 5, q_max: int = 5
) -> str:
    """The IVF×PQ pipeline replay, parameterized so the ANN-recall
    evaluation entry can re-derive a deliberately lossier configuration
    (fewer probes, tighter shortlist) and the batch-serving entry a
    LARGER query set (``q_max``) from the same CTE chain."""
    return f"""
    WITH corp AS (
        SELECT vec_id, [floor(x * 256) for x in embedding::DOUBLE[]] AS v
        FROM embeddings),
    cent AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) AS INTEGER) - 1 AS c_idx,
               v AS cv
        FROM (SELECT * FROM corp ORDER BY vec_id LIMIT 16)),
    assign AS (
        SELECT vec_id, v, c_idx,
               row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c_idx) AS rn
        FROM (SELECT corp.vec_id, corp.v, cent.c_idx,
                     {_IVF_DOT.format(a="corp.v", b="cent.cv")} AS d
              FROM corp CROSS JOIN cent)),
    cells AS (SELECT vec_id, v, c_idx AS cell FROM assign WHERE rn = 1),
    books AS (
        SELECT s, c, j, CAST(((c*7 + j*3 + s*5) % 31) - 15 AS DOUBLE) AS w
        FROM unnest(range(0, 8)) AS ss(s),
             unnest(range(0, 16)) AS cc(c),
             unnest(range(0, 8)) AS jj(j)),
    enc AS (
        SELECT vec_id, s, c,
               sum((v[s*8 + j + 1] - w) * (v[s*8 + j + 1] - w)) AS d2
        FROM corp CROSS JOIN books
        GROUP BY vec_id, s, c),
    codes AS (
        SELECT vec_id, s, c
        FROM (SELECT vec_id, s, c,
                     row_number() OVER (PARTITION BY vec_id, s
                                        ORDER BY d2, c) AS rn
              FROM enc)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id <= {q_max}),
    probes AS (
        SELECT query_id, qv, c_idx AS cell,
               row_number() OVER (PARTITION BY query_id ORDER BY d DESC, c_idx) AS rn
        FROM (SELECT q.query_id, q.qv, cent.c_idx,
                     {_IVF_DOT.format(a="q.qv", b="cent.cv")} AS d
              FROM q CROSS JOIN cent)),
    cand AS (
        SELECT p.query_id, p.qv, cl.vec_id
        FROM (SELECT * FROM probes WHERE rn <= {n_probe}) p
        JOIN cells cl USING (cell)
        WHERE cl.vec_id <> p.query_id),
    adc AS (
        SELECT cand.query_id, cand.vec_id,
               sum(cand.qv[b.s*8 + b.j + 1] * b.w) AS score
        FROM cand
        JOIN codes ON codes.vec_id = cand.vec_id
        JOIN books b ON b.s = codes.s AND b.c = codes.c
        GROUP BY cand.query_id, cand.vec_id),
    short AS (
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                                        ORDER BY score DESC, vec_id) AS rn
              FROM adc)
        WHERE rn <= {shortlist}),
    scored AS (
        SELECT s.query_id, s.vec_id,
               CASE WHEN sqrt({_IVF_DOT.format(a="cl.v", b="cl.v")})
                         * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}) <> 0
                    THEN {_IVF_DOT.format(a="cl.v", b="q.qv")}
                         / (sqrt({_IVF_DOT.format(a="cl.v", b="cl.v")})
                            * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}))
                    ELSE 0 END AS cosine
        FROM short s
        JOIN cells cl ON cl.vec_id = s.vec_id
        JOIN q ON q.query_id = s.query_id)
    SELECT query_id, vec_id, rank
    FROM (SELECT query_id, vec_id,
                 CAST(row_number() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, vec_id) AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= {k}
"""


_IVFPQ_FIXED_ORACLE = _ivfpq_fixed_oracle()


@query(
    "ivfpq_index_topk",
    # the composed pipeline is oracle-able end-to-end under the
    # fixed_pq_codebooks exactness lever (integer-quantized vectors +
    # formula-generated integer codebooks): cell assignment, probe
    # order, every PQ encode distance, every ADC lookup sum and the
    # 64-candidate shortlist boundary are integers carried exactly in
    # float64, and the final exact-cosine re-rank reuses the proven
    # _PQ_FIXED_ORACLE float convention — so DuckDB replays the whole
    # composition: a mis-assigned cell, a wrong code, a lost shortlist
    # candidate or a pruning bug all value-fail
    oracle=_IVFPQ_FIXED_ORACLE,
    doc="composed IVF×PQ ANN index (operators/ann_index.build_ivfpq_index"
    "/query_ivfpq_index, VERDICT r10 item 5 — the memory-bounded shape a "
    "100 TB ANN index actually ships, FAISS IVFPQ): IVF cells prune WHICH "
    "partitions a probe opens (Catalyst partition pruning on cell=K/ "
    "dirs), and inside a probed cell each vector is m=8 PQ code bytes "
    "scored by a per-query lookup table — the ADC scan selects only "
    "(id, codes), so parquet column pruning keeps the stored raw vectors "
    "unread until the exact re-rank of the 64-candidate shortlist. Built "
    "in ONE pass (cell assignment + PQ encode share the Arrow batch, no "
    "join); the ADC score is a Catalyst aggregate of m element_at "
    "lookups — no Python in the scoring path. Pruning + in-cell ADC "
    "pinned in tests/test_ann_index.py",
)
def q_ivfpq_index_topk(spark, sf_dir):
    import os

    from hadoop_app_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )

    # memoized build (the lifecycle-entry convention): the timed work
    # is the SERVING path — probe pruning + in-cell ADC + re-rank
    def _build(root):
        build_ivfpq_index(
            qd, os.path.join(root, "idx"), fixed_pq_codebooks(), n_centroids=16
        )

    memo = _memo_dir("ivfpq_index", sf_dir, "q256|c16|m8n16", _build)
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, os.path.join(memo, "idx"), queries, k=5, n_probe=4, shortlist=64
    ).select("query_id", "vec_id", "rank")


_ANN_RECALL_ORACLE = f"""
    WITH ann AS ({_ivfpq_fixed_oracle(n_probe=2, shortlist=8, k=5)}),
    exact AS (
        WITH corp AS (
            SELECT vec_id, [floor(x * 256) for x in embedding::DOUBLE[]] AS v
            FROM embeddings),
        q AS (SELECT vec_id AS query_id, v AS qv FROM corp WHERE vec_id <= 5),
        scored AS (
            SELECT q.query_id, c.vec_id,
                   CASE WHEN sqrt({_IVF_DOT.format(a="c.v", b="c.v")})
                             * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}) <> 0
                        THEN {_IVF_DOT.format(a="c.v", b="q.qv")}
                             / (sqrt({_IVF_DOT.format(a="c.v", b="c.v")})
                                * sqrt({_IVF_DOT.format(a="q.qv", b="q.qv")}))
                        ELSE 0 END AS cosine
            FROM corp c CROSS JOIN q WHERE c.vec_id <> q.query_id)
        SELECT query_id, vec_id
        FROM (SELECT query_id, vec_id,
                     row_number() OVER (PARTITION BY query_id
                          ORDER BY cosine DESC, vec_id) AS rank
              FROM scored)
        WHERE rank <= 5),
    hits AS (
        SELECT ann.query_id, count(*) AS h
        FROM ann JOIN exact
          ON ann.query_id = exact.query_id AND ann.vec_id = exact.vec_id
        GROUP BY 1)
    SELECT e.query_id, CAST(coalesce(h.h, 0) AS BIGINT) AS n_hits,
           CAST(coalesce(h.h, 0) * 1000 // 5 AS BIGINT) AS recall_milli
    FROM (SELECT DISTINCT query_id FROM exact) e
    LEFT JOIN hits h USING (query_id)
"""


@query(
    "ann_recall_ivfpq",
    # the oracle re-derives BOTH sides — the IVF×PQ pipeline at a
    # deliberately lossy configuration (n_probe=2, shortlist=8) and
    # the exact brute-force top-5 — then counts the overlap, so it
    # value-checks the ANN ranking, the ground truth, AND the recall
    # accounting in one pass; everything is integer-exact under the
    # quantized-vector/fixed-codebook lever
    oracle=_ANN_RECALL_ORACLE,
    doc="ANN recall@k evaluation (operators/retrieval.ann_recall — the "
    "ANN family's evaluation face beside retrieval_ndcg): recall@5 per "
    "query of the composed IVF×PQ index run at a deliberately LOSSY "
    "configuration (n_probe=2 of 16 cells, shortlist=8) against exact "
    "brute-force ground truth — the number every recall/latency knob "
    "(n_probe, shortlist, band count) is tuned against, in exact "
    "integer milli-units. Both eval inputs are |queries| x k rows, so "
    "the metric join is corpus-scale-independent; the corpus work "
    "already happened inside the rankers",
)
def q_ann_recall_ivfpq(spark, sf_dir):
    import os

    from hadoop_app_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks
    from hadoop_app_spark.operators.retrieval import ann_recall
    from hadoop_app_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )

    def _build(root):
        build_ivfpq_index(
            qd, os.path.join(root, "idx"), fixed_pq_codebooks(), n_centroids=16
        )

    # the SAME memoized index ivfpq_index_topk serves from (identical
    # params/fingerprint) — reads don't mutate it
    memo = _memo_dir("ivfpq_index", sf_dir, "q256|c16|m8n16", _build)
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = query_ivfpq_index(
        spark, os.path.join(memo, "idx"), queries, k=5, n_probe=2, shortlist=8
    )
    exact = brute_force_topk(
        qd.repartition(spark.sparkContext.defaultParallelism), queries, k=5
    )
    return ann_recall(ann, exact, k=5)


@query(
    "ivfpq_index_increment",
    # cell structure AND codebooks are immutable under appends (the
    # standard IVF contract + the codebook sidecar), so seed(A) +
    # append(B) holds EXACTLY the rows of build(A ∪ B) — the same
    # _IVFPQ_FIXED_ORACLE replays the incremental form verbatim: a
    # mis-assigned cell, a wrong code, or a dropped batch row changes
    # some query's top-k and value-fails
    oracle=_IVFPQ_FIXED_ORACLE,
    doc="incremental IVF×PQ index maintenance — the composed index's "
    "daily-append path (operators/ann_index.append_ivfpq_index, the "
    "ivf_index_increment shape for the memory-bounded layout): the index "
    "is seeded from two thirds of the corpus (centroids from the full "
    "corpus — sidecar-pinned for the index's lifetime, codebooks "
    "formula-fixed), the remaining third is assigned + PQ-encoded "
    "against the SIDECARS and appended into the cell-partitioned layout "
    "(work ~ batch, the accumulated index never re-read), and the probe "
    "answers from seed+append with partition pruning + in-cell ADC + "
    "exact shortlist re-rank",
)
def q_ivfpq_index_increment(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.ann_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )

    # memoized day-0 seed, copied fresh per invocation (appends mutate
    # it): the timed work is the daily append + the probe — the
    # operator's steady state, never a seed rebuild per bench sample
    def _build(root):
        build_ivfpq_index(
            qd.where(F.col("vec_id") % 3 == 0), os.path.join(root, "idx"),
            fixed_pq_codebooks(), n_centroids=16, centroid_source=qd,
        )

    memo = _memo_dir("ivfpq_seed", sf_dir, "q256|c16|m8n16|mod3", _build)
    path = _scratch_dir("ivfpq_incr", sf_dir) + "/idx"
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "idx"), path)
    append_ivfpq_index(qd.where(F.col("vec_id") % 3 != 0), path)
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, path, queries, k=5, n_probe=4, shortlist=64
    ).select("query_id", "vec_id", "rank")


@query(
    "ivfpq_index_rebuild",
    # rebuild re-derives centroids from the CURRENT corpus under the
    # deterministic lowest-id convention and re-encodes under the
    # sidecar-pinned codebooks (codes are a pure function of the
    # books), so seed -> drifted-append -> rebuild holds EXACTLY the
    # rows build-from-scratch over the same corpus would — the same
    # _IVFPQ_FIXED_ORACLE replays the probe verbatim; a rebuild that
    # lost a row, a cell, or a code value-fails the top-k
    oracle=_IVFPQ_FIXED_ORACLE,
    doc="IVF×PQ centroid REBUILD (operators/ann_index."
    "rebuild_ivfpq_index — ivf_index_rebuild for the memory-bounded "
    "composed layout, completing its lifecycle: build / append / "
    "stream-ingest / query / recall-eval / rebuild): the index is "
    "seeded from a third of the corpus so its cell structure is born "
    "drifted, the rest lands via the sidecar append path, and the "
    "rebuild re-trains cells from the full current corpus + re-encodes "
    "under the pinned codebooks behind the crash-safe three-rename "
    "swap (a complete index readable under SOME name at every "
    "instant); the probe then answers from the refreshed layout with "
    "partition pruning + in-cell ADC + exact re-rank",
)
def q_ivfpq_index_rebuild(spark, sf_dir):
    from hadoop_app_spark.operators.ann_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        query_ivfpq_index,
        rebuild_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )
    import os
    import shutil

    # memoized DRIFTED fixture (seed from a third — centroid_source
    # defaults to the seed, so the cell structure is born from a third
    # of the corpus — plus the appended rest), copied per invocation:
    # the timed work is the REBUILD + the probe, the op's steady state
    def _build(root):
        p = os.path.join(root, "idx")
        build_ivfpq_index(
            qd.where(F.col("vec_id") % 3 == 0), p, fixed_pq_codebooks(),
            n_centroids=16,
        )
        append_ivfpq_index(qd.where(F.col("vec_id") % 3 != 0), p)

    memo = _memo_dir("ivfpq_drifted", sf_dir, "q256|c16|m8n16|mod3seed", _build)
    path = _scratch_dir("ivfpq_rebuild", sf_dir) + "/idx"
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "idx"), path)
    rebuild_ivfpq_index(spark, path, n_centroids=16)
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, path, queries, k=5, n_probe=4, shortlist=64
    ).select("query_id", "vec_id", "rank")


@query(
    "ivfpq_index_topk_batch",
    # the SAME pipeline replay widened to a 64-query batch (q_max=63)
    # — every LUT entry and ADC sum is still an integer exact in
    # float64 REGARDLESS of summation path, so the executor-side
    # (numpy-matmul) lookup-table build must land bit-identical to
    # the driver loop, and DuckDB replays the whole batch
    oracle=None,  # assigned below (built from _ivfpq_fixed_oracle)
    doc="BATCH serving through the composed IVF×PQ index with the "
    "DISTRIBUTED lookup-table build (VERDICT r11 item 5 — "
    "operators/ann_index.query_ivfpq_index past its "
    "distribute_luts_from threshold, forced here): a 64-query "
    "evaluation batch computes its per-query ADC tables and probe "
    "assignments ON THE EXECUTORS (one Arrow pass over the queries "
    "frame, codebooks broadcast once, stable-argsort probe ties "
    "matching the driver loop), so no |queries|-proportional work "
    "runs on the driver; the scoring/rerank pipeline is unchanged. "
    "The oracle replays all 64 queries end-to-end — a tie broken "
    "differently or an off-by-one LUT index value-fails",
)
def q_ivfpq_index_topk_batch(spark, sf_dir):
    import os

    from hadoop_app_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )

    # the SAME memoized index ivfpq_index_topk serves from
    def _build(root):
        build_ivfpq_index(
            qd, os.path.join(root, "idx"), fixed_pq_codebooks(), n_centroids=16
        )

    memo = _memo_dir("ivfpq_index", sf_dir, "q256|c16|m8n16", _build)
    queries = qd.where(F.col("vec_id") <= 63).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, os.path.join(memo, "idx"), queries, k=5, n_probe=4,
        shortlist=64, distribute_luts_from=1,
    ).select("query_id", "vec_id", "rank")


REGISTRY["ivfpq_index_topk_batch"] = QueryDef(
    REGISTRY["ivfpq_index_topk_batch"].fn,
    _ivfpq_fixed_oracle(q_max=63),
    REGISTRY["ivfpq_index_topk_batch"].doc,
)


@query(
    "ivfpq_index_compaction",
    # compaction is semantics-free: the rewrite repartitions on the
    # cell key and carries the sidecars unchanged, so cell structure,
    # codes and the probe's top-k are IDENTICAL — the same
    # _IVFPQ_FIXED_ORACLE replays the probe verbatim, and the fn
    # raises if the file count does not drop (layout-only change,
    # value-checked; the index_compaction convention for the
    # partition-dir layouts)
    oracle=_IVFPQ_FIXED_ORACLE,
    doc="cell-directory COMPACTION for the composed IVF×PQ layout "
    "(operators/ann_index.compact_index_partitions — "
    "compact_bucketed_table for partition-dir ANN layouts): every "
    "append/streamed micro-batch writes ~one file per touched cell, so "
    "daily ingest leaves O(days) files per cell and probes pay "
    "per-file opens inside the cells they pruned down to; the "
    "maintenance op rewrites to ~one file per cell behind the shared "
    "crash-safe three-rename swap, sidecars carried over, probe "
    "answers identical. The entry fragments the index with two appends "
    "before compacting, asserts the file count drops, then probes",
)
def q_ivfpq_index_compaction(spark, sf_dir):
    import shutil

    from hadoop_app_spark.operators.ann_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_index_partitions,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )
    import os

    # memoized FRAGMENTED fixture (seed + two daily appends — each
    # write leaves ~one file per cell, the steady state a year of
    # ingest produces), copied per invocation: the timed work is the
    # COMPACTION + the probe, not the fixture build
    def _build(root):
        p = os.path.join(root, "idx")
        build_ivfpq_index(
            qd.where(F.col("vec_id") % 3 == 0), p, fixed_pq_codebooks(),
            n_centroids=16, centroid_source=qd,
        )
        for gen in (1, 2):
            append_ivfpq_index(qd.where(F.col("vec_id") % 3 == gen), p)

    memo = _memo_dir("ivfpq_frag", sf_dir, "q256|c16|m8n16|mod3full", _build)
    path = _scratch_dir("ivfpq_compact", sf_dir) + "/idx"
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(os.path.join(memo, "idx"), path)
    stats = compact_index_partitions(spark, path)
    if stats["files_after"] >= stats["files_before"]:
        raise RuntimeError(f"compaction did not reduce files: {stats}")
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, path, queries, k=5, n_probe=4, shortlist=64
    ).select("query_id", "vec_id", "rank")


@query(
    "stream_ivfpq_ingest_exec",
    # the append-immutability contract transfers to streamed appends
    # verbatim (cell structure AND codebooks pinned in the sidecars),
    # so seed + two streamed micro-batches hold EXACTLY the rows of
    # build(corpus) and _IVFPQ_FIXED_ORACLE replays the probe unchanged
    # — a dropped batch row, a mis-assigned cell or a wrong code
    # value-fails the top-k
    oracle=_IVFPQ_FIXED_ORACLE,
    doc="streaming ingest into the composed IVF×PQ index (streaming/"
    "ingest.ann_ingest_stream, layout-aware as of r12): the index is "
    "self-describing, so the stream sink detects the _pq_codebooks "
    "sidecar and routes each micro-batch through append_ivfpq_index — "
    "cell-assign AND PQ-encode against the pinned sidecars in one "
    "Arrow pass, appends into the cell-partitioned layout, the "
    "accumulated index never re-read. Two daily embedding files land "
    "as micro-batches over a mod-3 seed; the probe then answers from "
    "everything landed with partition pruning + in-cell ADC + exact "
    "shortlist re-rank (the stream_ann_ingest_exec shape for the "
    "memory-bounded composed layout)",
)
def q_stream_ivfpq_ingest_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.ann_index import (
        build_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.pq import fixed_pq_codebooks
    from hadoop_app_spark.streaming.ingest import ann_ingest_stream

    emb = _t(spark, sf_dir, "embeddings")
    qd = emb.select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * F.lit(256.0)).cast("double")
        ).alias("embedding"),
    )

    # day-0 fixtures (the ivfpq seed layout + the two drop files) are
    # pure functions of (corpus, params): memoized once, copied per
    # invocation — the timed work is the STREAM (assign + encode +
    # append per micro-batch) and the probe
    def _fixtures(memo_root):
        build_ivfpq_index(
            qd.where(F.col("vec_id") % 3 == 0), os.path.join(memo_root, "idx"),
            fixed_pq_codebooks(), n_centroids=16, centroid_source=qd,
        )
        msrc = os.path.join(memo_root, "src")
        os.makedirs(msrc)
        for gen in (1, 2):
            _land_stream_file(
                qd.where(F.col("vec_id") % 3 == gen), msrc, gen
            )

    memo = _memo_dir("ivfpq_stream", sf_dir, "q256|c16|m8n16|mod3", _fixtures)
    root = _scratch_dir("ivfpq_stream", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and append nothing
    shutil.rmtree(root, ignore_errors=True)
    src, idx, ck = (os.path.join(root, x) for x in ("src", "idx", "ck"))
    shutil.copytree(os.path.join(memo, "idx"), idx)
    shutil.copytree(os.path.join(memo, "src"), src, copy_function=shutil.copy2)
    q = ann_ingest_stream(
        spark, src, "vec_id long, embedding array<double>", idx, ck
    )
    q.awaitTermination()
    queries = qd.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return query_ivfpq_index(
        spark, idx, queries, k=5, n_probe=4, shortlist=64
    ).select("query_id", "vec_id", "rank")


@query(
    "ivfpq_trained_recall",
    # rows-only BY DESIGN (the semdedup_fast/pq_ann_topk convention):
    # trained float-mean codebooks are engine-seeded floats with no
    # cross-engine replay; the check that matters for a lossy trained
    # index is its measured recall vs exact ground truth, which the fn
    # SELF-ASSERTS at a stated floor (raises below it) and the oracled
    # fixed-codebook twins (ivfpq_index_topk / ann_recall_ivfpq) pin
    # the identical pipeline's mechanics value-exactly
    oracle=None,
    doc="the PRODUCTION IVF×PQ path end-to-end (VERDICT r11 item 4 — "
    "operators/ann_index.build_trained_ivfpq_index): PQ codebooks "
    "TRAINED on a deterministic hash-ordered sample (farthest-point "
    "seeded per-subspace k-means, cost bounded by the sample), index "
    "built in one corpus pass with the trained books pinned in the "
    "sidecar, served at the standard config (n_probe=4/16, "
    "shortlist=64), and recall@5 measured against exact brute-force "
    "ground truth per query (operators/retrieval.ann_recall). The fn "
    "raises if mean recall@5 drops below the 600-milli floor (measured "
    "means: 866/900/700 at sf0.001/0.01/0.1) — the quality gate a "
    "trained ANN config ships behind",
)
def q_ivfpq_trained_recall(spark, sf_dir):
    import os

    from hadoop_app_spark.operators.ann_index import (
        build_trained_ivfpq_index,
        query_ivfpq_index,
    )
    from hadoop_app_spark.operators.retrieval import ann_recall
    from hadoop_app_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )

    # memoized day-0 train+build (deterministic: hash-ordered sample,
    # lowest-code ties): the timed work is the SERVING + eval path
    def _build(root):
        build_trained_ivfpq_index(
            emb, os.path.join(root, "idx"),
            n_centroids=16, m=8, n_codes=16, iters=5, sample=2048,
        )

    memo = _memo_dir("ivfpq_trained", sf_dir, "c16|m8n16|i5|s2048", _build)
    queries = emb.where(F.col("vec_id") <= 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann = query_ivfpq_index(
        spark, os.path.join(memo, "idx"), queries, k=5, n_probe=4, shortlist=64
    )
    exact = brute_force_topk(
        emb.repartition(spark.sparkContext.defaultParallelism), queries, k=5
    )
    rec = ann_recall(ann, exact, k=5).localCheckpoint(eager=True)
    mean = rec.agg(F.avg("recall_milli").alias("m")).collect()[0]["m"]
    if mean is None or mean < 600:
        raise RuntimeError(
            f"trained IVF×PQ recall@5 mean {mean} below the 600-milli "
            "floor — the trained-codebook config regressed"
        )
    return rec


@query(
    "multimodal_meta",
    oracle="""
        SELECT doc_id, 'image' AS media_type, 'raw' AS format,
               octet_length(encode(text)) AS n_bytes
        FROM documents
    """,
    doc="multimodal column plumbing: opaque binary payload + typed metadata struct "
    "(north star); payload synthesized from text bytes, metadata is pure Catalyst",
)
def q_multimodal_meta(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import attach_media_meta

    d = _t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    m = attach_media_meta(d, "payload", "image", "raw")
    return m.select(
        "doc_id",
        F.col("media_meta.media_type").alias("media_type"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
    )


@query(
    "image_features",
    # The fake decode is a 31-poly fold over the first 64 payload bytes —
    # DuckDB reproduces it by folding hex pairs of the UTF-8 blob, so even
    # the stubbed kernel's outputs (width/height) are oracle-checked.
    oracle="""
        WITH hx AS (
            SELECT doc_id, octet_length(encode(text)) AS n_bytes,
                   substr(hex(encode(text)), 1, 128) AS h
            FROM documents),
        folded AS (
            SELECT doc_id, n_bytes,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           [CAST((strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
                                 + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS BIGINT)
                            for i in range(1, length(h) // 2 + 1)]),
                       (acc, b) -> (acc * 31 + b) % 1000000007) AS hv
            FROM hx)
        SELECT doc_id AS asset_id, n_bytes,
               CAST(64 + hv % 512 AS INTEGER) AS width,
               CAST(64 + (hv // 512) % 512 AS INTEGER) AS height
        FROM folded
    """,
    doc="mapInPandas image feature extraction over Arrow batches (north star multimodal); "
    "decode kernel stubbed (deterministic byte-fold fake), Spark plumbing "
    "(schema/batching/partitioning) real; the fold is reproduced in the oracle",
)
def q_image_features(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import extract_image_features

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return extract_image_features(d, "doc_id", "payload", fake=True).select(
        "asset_id", "n_bytes", "width", "height"
    )


@query(
    "image_near_dup",
    # fake-hash arm: the 56-bit poly fold is reproduced in SQL via the
    # image_features hex-fold convention, then the SAME 7x8-bit banding
    # + exact bit_count(xor) verify — so the driver value-checks the
    # entire candidate-generation + verify pipeline; only the pixel
    # decode is stubbed (the real aHash kernel is pytest-pinned on
    # hand-built PPM/BMP images)
    oracle="""
        WITH hx AS (
            SELECT doc_id, substr(hex(encode(text)), 1, 128) AS h FROM documents),
        ph AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           [CAST((strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
                                 + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS BIGINT)
                            for i in range(1, length(h) // 2 + 1)]),
                       (acc, b) -> (acc * 31 + b) % 72057594037927936) AS phash
            FROM hx),
        bands AS (
            SELECT doc_id, phash, band, (phash >> (8 * CAST(band AS INTEGER))) & 255 AS key
            FROM ph, unnest(range(0, 7)) AS t(band)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.phash AS ph_a, b.phash AS ph_b
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
        FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= 6
    """,
    doc="perceptual-hash image near-dup (north star multimodal dedup): "
    "Arrow-batched 56-bit aHash kernel (REAL for P6 PPM / uncompressed BMP "
    "— grayscale, 8x7 nearest-neighbor grid, mean threshold; byte-fold fake "
    "for stubbed formats), then pure-Catalyst 7x8-bit Hamming banding with "
    "pigeonhole-guaranteed recall to distance 6 and an exact bit_count(xor) "
    "verify — the text SimHash machinery applied to images "
    "(operators/multimodal.image_near_dup_pairs)",
)
def q_image_near_dup(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import image_near_dup_pairs

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return image_near_dup_pairs(d, "doc_id", "payload", max_hamming=6, fake=True)


@query(
    "image_near_dup_wide",
    # fake-hash arm: 16 seeded 31-poly folds mod 2^16 — every key is a
    # small integer, so DuckDB reproduces the whole 256-bit fingerprint
    # with plain BIGINT arithmetic, then the SAME 16x16-bit banding +
    # exact summed bit_count(xor) verify. The wide form is the SCALE
    # path (65,536-key buckets vs the 56-bit arm's 256); the real
    # 16x16-grid aHash kernel is pytest-pinned on hand-built PPMs.
    oracle="""
        WITH hx AS (
            SELECT doc_id, substr(hex(encode(text)), 1, 128) AS h FROM documents),
        by AS (
            SELECT doc_id,
                   [CAST((strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
                         + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS BIGINT)
                    for i in range(1, length(h) // 2 + 1)] AS bs
            FROM hx),
        ph AS (
            SELECT doc_id,
                   [list_reduce(list_prepend(CAST(s AS BIGINT), bs),
                                (acc, b) -> (acc * 31 + b) % 65536)
                    for s in range(0, 16)] AS keys
            FROM by),
        bands AS (
            SELECT doc_id, keys, band, keys[CAST(band AS INTEGER) + 1] AS key
            FROM ph, unnest(range(0, 16)) AS t(band)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                            a.keys AS ka, b.keys AS kb
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
        ham AS (
            SELECT id_a, id_b,
                   CAST(list_sum([bit_count(xor(ka[i], kb[i]))
                                  for i in range(1, 17)]) AS INTEGER) AS hamming
            FROM cand)
        SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 15
    """,
    doc="crawl-scale perceptual-hash image near-dup: 256-bit aHash (16x16 "
    "grid, REAL for PPM/BMP; seeded byte-fold fake for stubbed formats) "
    "banded 16 x 16-bit — 65,536-key buckets keep the candidate join "
    "linear ~256x further up the corpus-size curve than the 56-bit/8-bit "
    "compat arm, with pigeonhole recall guaranteed to Hamming 15 "
    "(operators/multimodal.image_near_dup_pairs_wide)",
)
def q_image_near_dup_wide(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import image_near_dup_pairs_wide

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return image_near_dup_pairs_wide(
        d, "doc_id", "payload", max_hamming=15, fake=True
    )


@query(
    "frame_sample",
    oracle="""
        SELECT asset_id, CAST(frame_index AS INTEGER) AS frame_index
        FROM (SELECT doc_id AS asset_id,
                     unnest(range(0, octet_length(encode(text)) % 300 + 1, 30)) AS frame_index
              FROM documents)
    """,
    doc="video frame-sample plan fan-out (north star multimodal): explode of a "
    "sequence per asset; real Spark fan-out, decode stubbed",
)
def q_frame_sample(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import frame_sample_plan

    d = _t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    return frame_sample_plan(d, "doc_id", "payload", every_n=30).select("asset_id", "frame_index")


@query(
    "audio_chunks",
    oracle="""
        SELECT asset_id,
               CAST(chunk_index AS INTEGER) AS chunk_index,
               CAST(chunk_index * 64 AS BIGINT) AS start_sample,
               CAST(least(64, n_samples - chunk_index * 64) AS BIGINT) AS n_in_chunk
        FROM (
            SELECT doc_id AS asset_id,
                   octet_length(encode(text)) // 2 AS n_samples,
                   unnest(range(0, greatest(
                       CAST(ceil((octet_length(encode(text)) // 2) / 64.0) AS BIGINT),
                       1))) AS chunk_index
            FROM documents)
    """,
    doc="audio-column chunking plan (north star multimodal): PCM sample count "
    "derived from payload bytes, sequence+explode hop windows — pure Catalyst "
    "fan-out mirroring a resampler's consumption shape; byte decode stays in "
    "the stubbed kernel",
)
def q_audio_chunks(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import audio_chunk_plan

    d = _t(spark, sf_dir, "documents").withColumn("payload", F.encode("text", "UTF-8"))
    return audio_chunk_plan(d, "doc_id", "payload", sample_width=2, samples_per_chunk=64)


@query(
    "audio_features",
    oracle="""
        SELECT asset_id, CAST(chunk_index AS INTEGER) AS chunk_index,
               CAST(n_in_chunk AS BIGINT) AS n_samples
        FROM (
            SELECT asset_id, chunk_index,
                   least(64, n_samples - chunk_index * 64) AS n_in_chunk
            FROM (
                SELECT doc_id AS asset_id,
                       octet_length(encode(text)) // 2 AS n_samples,
                       unnest(range(0, greatest(
                           CAST(ceil((octet_length(encode(text)) // 2) / 64.0) AS BIGINT),
                           1))) AS chunk_index
                FROM documents))
    """,
    doc="mapInPandas per-chunk audio feature extraction (north star multimodal): "
    "Arrow batches in, one RMS row per hop window out; the chunk structure "
    "(asset, index, sample count) is oracle-checked, the RMS value itself is "
    "kernel-faked and golden-tested in pytest",
)
def q_audio_features(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import extract_audio_features

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    return extract_audio_features(d, "doc_id", "payload", samples_per_chunk=64).select(
        "asset_id", "chunk_index", "n_samples"
    )


def _event_stream(spark, sf_dir: str):
    """Streaming twin of catalog.load_table('events'): file stream
    sources read directories, so the single parquet is exposed through
    a temp-dir symlink. Watermarks demand TIMESTAMP (with-local-tz), so
    unlike the batch path's TIMESTAMP_NTZ the stream declares ts as
    TIMESTAMP (the file stores TIMESTAMP(MICROS, isAdjustedToUTC=false);
    an explicit timestamp schema reads the stored micros as instant
    micros). Callers run the stream inside ``_utc_session`` so nothing
    tz-sensitive executes under a non-UTC caller session."""
    import os
    import tempfile

    import atexit
    import shutil

    d = tempfile.mkdtemp(prefix="events_stream_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    # abspath: a RELATIVE sf_dir (tools/oracle_check.py takes it from the
    # CLI) would otherwise be stored relative to the tmpdir — a dangling
    # symlink that fails only the stream queries
    os.symlink(
        os.path.abspath(os.path.join(sf_dir, "events.parquet")),
        os.path.join(d, "events.parquet"),
    )
    return spark.readStream.schema(
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).parquet(d)


@_contextlib.contextmanager
def _utc_session(spark):
    """Pin spark.sql.session.timeZone to UTC for a streaming execution,
    restoring the caller's setting afterwards. The r2 version pinned
    permanently, silently changing any tz-sensitive query run later on
    the same shared session (ADVICE r2)."""
    prev = spark.conf.get("spark.sql.session.timeZone", None)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.session.timeZone")
        else:
            spark.conf.set("spark.sql.session.timeZone", prev)


def _fmt_utc(col: str, fmt: str):
    """Session-tz-independent date_format for memory-sink instants.

    The sink's TIMESTAMP columns hold instants whose UTC wall clock is
    the oracle's naive value. The returned DataFrame is collected by the
    driver AFTER ``_utc_session`` restored the caller's timezone, so a
    bare date_format would shift under a non-UTC caller; converting to
    TIMESTAMP_NTZ at UTC first makes the lazy formatting invariant."""
    return F.date_format(F.expr(f"convert_timezone('UTC', {col})"), fmt)


@query(
    "stream_static_join_exec",
    oracle="""
        SELECT c_mktsegment, event_type, count(*) AS n, {v} AS sum_value
        FROM events JOIN customer ON user_id = c_custkey
        GROUP BY 1, 2
    """.format(v=_DSUM.format(c="value")),
    doc="REAL stream-static enrichment join under the gate: availableNow "
    "event stream joins a BROADCAST static customer dim (stateless — no join "
    "state store) then aggregates per (segment, event_type); oracle is the "
    "equivalent batch join-aggregate (streaming/events.enriched_segment_counts)",
)
def q_stream_static_join_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import enriched_segment_counts

    name = "stream_enrich_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        stream = _event_stream(spark, sf_dir)
        dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
        q = (
            enriched_segment_counts(stream, dim)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "stream_stream_join_exec",
    oracle="""
        SELECT a.event_id AS view_id, b.event_id AS click_id, a.user_id
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'view' AND b.event_type = 'click'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
    """,
    doc="REAL stream-stream inner join under the gate: the view and click "
    "branches of one availableNow event stream join on user within a 4h "
    "event-time range; watermark + range condition bound both state stores "
    "(the attribution-funnel shape); oracle is the equivalent batch "
    "self-join (streaming/events.view_click_conversions)",
)
def q_stream_stream_join_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import view_click_conversions

    name = "stream_ssj_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        stream = _event_stream(spark, sf_dir)
        views = stream.where(F.col("event_type") == "view")
        clicks = stream.where(F.col("event_type") == "click")
        q = (
            view_click_conversions(views, clicks, max_gap="4 hours")
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


@query(
    "stream_quantile_exec",
    oracle="""
        WITH b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type,
                          CAST(floor(value) AS BIGINT) AS v
                   FROM events WHERE value IS NOT NULL),
        c AS (SELECT wstart, event_type, v, count(*) AS c FROM b GROUP BY 1, 2, 3),
        cum AS (SELECT wstart, event_type, v, c,
                       sum(c) OVER (PARTITION BY wstart, event_type ORDER BY v) AS cum
                FROM c),
        tot AS (SELECT wstart, event_type, sum(c) AS n FROM c GROUP BY 1, 2),
        j AS (SELECT cum.*, tot.n FROM cum JOIN tot USING (wstart, event_type))
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start, event_type,
               CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN cum >= (1*n + 1) // 2 THEN v END) AS p50,
               min(CASE WHEN cum >= (9*n + 9) // 10 THEN v END) AS p90
        FROM j GROUP BY wstart, event_type
    """,
    doc="REAL streaming execution of the mergeable quantile sketch: "
    "availableNow parquet stream -> watermarked tumbling window -> "
    "percentile_approx (GK summary: the partial/merge/finish contract IS "
    "what the streaming state store needs, so per-window state is one "
    "O(accuracy) summary, never the raw values). With per-window counts "
    "below the accuracy knob the sketch retains every observation and "
    "equals the exact type-1 integer-rank quantile, so THIS streaming "
    "entry is oracle-exact; production drops accuracy for bounded state, "
    "same plan (streaming/events.windowed_value_quantiles)",
)
def q_stream_quantile_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import windowed_value_quantiles

    name = "stream_quant_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        ev = _event_stream(spark, sf_dir).where(F.col("value").isNotNull())
        q = (
            windowed_value_quantiles(ev)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        _fmt_utc("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        "p50",
        "p90",
    )


@query(
    "stream_cms_exec",
    oracle="""
        WITH b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, event_type
                   FROM events WHERE event_type IS NOT NULL),
        cells AS (
            SELECT wstart, CAST(j - 1 AS INTEGER) AS row,
                   CAST(CAST(concat('0x', substr(md5(event_type),
                        CAST((j - 1) * 8 + 1 AS INTEGER), 8)) AS BIGINT)
                        % 16384 AS INTEGER) AS col
            FROM b, unnest(range(1, 5)) AS s(j))
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
               row, col, count(*) AS c
        FROM cells GROUP BY 1, 2, 3
    """,
    doc="REAL streaming execution of the Count-Min sketch: availableNow "
    "stream -> watermarked tumbling window -> per-window (row, col) "
    "counter cells from the k md5 slices per key. Per-window state is "
    "depth x width cells NO MATTER the key cardinality — the bounded-"
    "state answer for crawl-scale token/URL streams where per-key exact "
    "counts grow without bound — and the deterministic cells make THIS "
    "streaming entry oracle-exact, collisions included "
    "(streaming/events.windowed_cms)",
)
def q_stream_cms_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import windowed_cms

    name = "stream_cms_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        ev = _event_stream(spark, sf_dir)
        q = (
            windowed_cms(ev)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        _fmt_utc("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "row",
        "col",
        "c",
    )


@query(
    "stream_hll_exec",
    oracle="""
        WITH b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS wstart, user_id
                   FROM events WHERE user_id IS NOT NULL),
        h AS (SELECT wstart,
                     CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                          AS BIGINT) AS h
              FROM b)
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start,
               CAST(h // 1048576 AS INT) AS register,
               CAST(max(CASE WHEN h % 1048576 = 0 THEN 21
                             ELSE 21 - length(bin(h % 1048576)) END) AS INT) AS max_rho
        FROM h GROUP BY 1, 2
    """,
    doc="REAL streaming execution of the HyperLogLog sketch: availableNow "
    "stream -> watermarked tumbling window -> per-window max-merged "
    "registers from the md5-slice hash per visitor. Completes the "
    "streaming sketch triple (GK quantiles, Count-Min, HLL): per-window "
    "state is at most 4096 register rows NO MATTER the visitor "
    "cardinality — the bounded-state distinct-count for crawl-scale "
    "traffic — and the deterministic cells make the streaming entry "
    "oracle-exact (streaming/events.windowed_hll)",
)
def q_stream_hll_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import windowed_hll

    name = "stream_hll_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        ev = _event_stream(spark, sf_dir)
        q = (
            windowed_hll(ev)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        _fmt_utc("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "register",
        "max_rho",
    )


@query(
    "stream_tumbling_exec",
    oracle="""
        SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M') AS window_start,
               event_type, count(*) AS n, {v} AS sum_value
        FROM events GROUP BY 1, 2
    """.format(v=_DSUM.format(c="value")),
    doc="REAL Structured Streaming execution under the correctness gate: "
    "availableNow parquet stream -> watermarked tumbling window -> complete-mode "
    "memory sink; the oracle is the equivalent batch SQL (stream-batch parity)",
)
def q_stream_tumbling_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import tumbling_counts

    name = "stream_tumbling_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        stream = _event_stream(spark, sf_dir)
        q = (
            tumbling_counts(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        _fmt_utc("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "stream_dedup_exec",
    oracle="""
        SELECT event_type, count(DISTINCT event_id) AS n_unique
        FROM events GROUP BY event_type
    """,
    doc="Structured Streaming dropDuplicatesWithinWatermark executed end-to-end "
    "(bounded dedup state); result aggregated batch-side from the memory sink",
)
def q_stream_dedup_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import dedup_stream

    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        stream = _event_stream(spark, sf_dir)
        q = (
            dedup_stream(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).groupBy("event_type").agg(F.count("*").alias("n_unique"))


@query(
    "stream_session_exec",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sess AS (
            SELECT user_id, ts, value,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
               count(*) AS n_events,
               {v} AS session_value
        FROM sess GROUP BY user_id, sid
    """.format(v=_DSUM.format(c="value")),
    doc="Structured Streaming session_window executed end-to-end (gap-merge "
    "stateful operator); oracle rebuilds the merged sessions with lag/cumsum SQL",
)
def q_stream_session_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import session_aggregates

    name = "stream_session_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        q = (
            session_aggregates(_event_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        _fmt_utc("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        _fmt_utc("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "session_value",
    )


@query(
    "stream_stateful_exec",
    oracle="""
        WITH ordered AS (
            SELECT user_id, value,
                   count(*) OVER w AS ns,
                   COALESCE(sum(value) OVER w, 0.0) AS ss
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        SELECT user_id,
               count(*) AS n_events,
               CAST(sum(CASE WHEN ns >= 3 AND value > 3.0 * greatest(ss / ns, 1e-9)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
        FROM ordered GROUP BY user_id
    """,
    doc="custom stateful streaming operator (applyInPandasWithState running "
    "per-user profile with spike detection) executed end-to-end under the "
    "gate; the oracle replays the same stream-order running mean with a "
    "1-PRECEDING window. sum_value is intentionally not compared (float64 "
    "accumulation-order sensitivity); the integer anomaly counter depends on "
    "every intermediate running sum, so it transitively verifies them",
)
def q_stream_stateful_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.stateful import user_profile_stream

    name = "stream_stateful_" + uuid.uuid4().hex[:8]
    # evict_idle=False: pending processing-time timers would keep the
    # availableNow query alive forever (see user_profile_stream docstring)
    with _utc_session(spark):
        q = (
            user_profile_stream(_event_stream(spark, sf_dir), evict_idle=False)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    # update mode emits one row per user per micro-batch; both counters are
    # monotone in stream order, so max() selects the final profile per user
    return (
        spark.table(name)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("n_anomalies").alias("n_anomalies"))
    )


@query(
    "source_codecs",
    oracle="""
        WITH lines AS (
            SELECT repeat('H', 15) || CAST(year(l_shipdate) AS VARCHAR)
                   || rpad('x', 68, 'x')
                   || (CASE WHEN l_discount > 0.05 THEN '-' ELSE '+' END)
                   || lpad(CAST(CAST(l_quantity AS INTEGER) AS VARCHAR), 4, '0') AS line
            FROM lineitem)
        SELECT 'fixed_width' AS codec,
               CAST(CAST(substring(line, 16, 4) AS INTEGER) AS VARCHAR) AS grp,
               count(*) AS n,
               CAST(max(CAST(substring(line, 88, 5) AS INTEGER)) AS DOUBLE) AS v1,
               CAST(min(CAST(substring(line, 88, 5) AS INTEGER)) AS DOUBLE) AS v2
        FROM lines GROUP BY 2
        UNION ALL
        SELECT 'micro_format', p_brand, count(*), {s}, 0.0
        FROM part GROUP BY p_brand
        UNION ALL
        SELECT 'provenance', src, count(*), CAST(sum(entity_key) AS DOUBLE), 0.0
        FROM (SELECT 'customer' AS src, c_custkey AS entity_key FROM customer
              UNION ALL
              SELECT 'supplier', s_suppkey FROM supplier)
        GROUP BY src
        UNION ALL
        SELECT 'jsonl', lang, count(*), CAST(sum(n_chars) AS DOUBLE), 0.0
        FROM documents GROUP BY lang
    """.format(s=_DSUM.format(c="p_retailprice")),
    doc="the reference's source codecs under one gate row, tag-unioned to a "
    "common schema: (1) S3 fixed-width NCDC codec — lines synthesized from "
    "lineitem, parsed back with FixedWidthField (signed ints, 1-based substring; "
    "MaxTemperatureMapper.java:17-22); (2) S5/F2 micro-format round-trip — part "
    "rows encoded as the reference's 'id@price,id@price' string "
    "(UserHotcar.java:128), decoded via split/explode, re-aggregated; (3) S2/P3 "
    "provenance-tagged multi-path scan — customer+supplier through ONE FileScan, "
    "F.input_file_name() tags each row, rows route by path substring "
    "(ReduceJoinJob.java:66-67,106-135; one scan stage, codegen'd CASE); "
    "(4) JSONL encode/decode round-trip — documents rows serialized with "
    "encode_jsonl, parsed back with decode_jsonl against a declared schema "
    "(sources/jsonl.py; no inference scan), re-aggregated — must equal direct "
    "aggregation",
)
def q_source_codecs(spark, sf_dir):
    from hadoop_app_spark.sources.delim001 import decode_at_pairs
    from hadoop_app_spark.sources.provenance import dispatch_by_path, read_tagged_parquet

    lines = _t(spark, sf_dir, "lineitem").select(_ncdc_line().alias("value"))
    fixed = (
        parse_fixed_width(lines, _NCDC_INT_FIELDS)
        .groupBy("year")
        .agg(F.max("temp").alias("vmax"), F.min("temp").alias("vmin"), F.count("*").alias("n"))
        .select(
            F.lit("fixed_width").alias("codec"),
            F.col("year").cast("string").alias("grp"),
            "n",
            F.col("vmax").cast("double").alias("v1"),
            F.col("vmin").cast("double").alias("v2"),
        )
    )

    part = _t(spark, sf_dir, "part")
    encoded = part.groupBy("p_brand").agg(
        F.concat_ws(
            ",", F.collect_list(F.concat_ws("@", F.col("p_partkey"), F.col("p_retailprice")))
        ).alias("infoidlist")
    )
    micro = (
        encoded.select("p_brand", F.explode(decode_at_pairs("infoidlist", ",")).alias("pair"))
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("pair.val").cast("double").cast("decimal(18,6)")).cast("double").alias("v1"),
        )
        .select(
            F.lit("micro_format").alias("codec"),
            F.col("p_brand").alias("grp"),
            "n",
            "v1",
            F.lit(0.0).alias("v2"),
        )
    )

    tagged = read_tagged_parquet(
        spark, [f"{sf_dir}/customer.parquet", f"{sf_dir}/supplier.parquet"]
    )
    routed = dispatch_by_path(tagged, [("customer", "customer"), ("supplier", "supplier")])
    prov = (
        routed.select("source", F.coalesce("c_custkey", "s_suppkey").alias("entity_key"))
        .groupBy("source")
        .agg(F.count("*").alias("n"), F.sum("entity_key").cast("double").alias("v1"))
        .select(
            F.lit("provenance").alias("codec"),
            F.col("source").alias("grp"),
            "n",
            "v1",
            F.lit(0.0).alias("v2"),
        )
    )

    from hadoop_app_spark.sources.jsonl import decode_jsonl, encode_jsonl

    docs = _t(spark, sf_dir, "documents")
    lines = docs.select(encode_jsonl("doc_id", "lang", "n_chars").alias("line"))
    parsed = lines.select(
        decode_jsonl("line", "doc_id long, lang string, n_chars int").alias("r")
    )
    jsonl = (
        parsed.select("r.lang", "r.n_chars")
        .groupBy("lang")
        .agg(F.count("*").alias("n"), F.sum("n_chars").cast("double").alias("v1"))
        .select(
            F.lit("jsonl").alias("codec"),
            F.col("lang").alias("grp"),
            "n",
            "v1",
            F.lit(0.0).alias("v2"),
        )
    )
    return fixed.unionByName(micro).unionByName(prov).unionByName(jsonl)


@query(
    "pyds_ncdc_scan",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
               count(*) AS n,
               max(CASE WHEN l_discount > 0.05
                        THEN -CAST(l_quantity AS INTEGER)
                        ELSE CAST(l_quantity AS INTEGER) END) AS max_temp,
               min(CASE WHEN l_discount > 0.05
                        THEN -CAST(l_quantity AS INTEGER)
                        ELSE CAST(l_quantity AS INTEGER) END) AS min_temp
        FROM lineitem
        WHERE year(l_shipdate) >= 1996 AND (l_linenumber % 10) IN (1, 4, 7)
        GROUP BY 1 ORDER BY 1
    """,
    doc="fixed-width file round-trip: lineitem rows are encoded as 93-byte "
    "NCDC records, written as text files and scanned back through "
    "sources/ncdc.read_fixed_width (JVM line scan plus substring projections, "
    "sign-aware int parse), then filtered on year and quality and aggregated; "
    "the oracle recomputes the aggregate from the source rows, so encode, "
    "write, scan and parse must compose losslessly "
    "(MaxTemperatureMapper.java:17-22 offsets)",
)
def q_pyds_ncdc_scan(spark, sf_dir):
    out = _scratch_dir("pyds_ncdc", sf_dir)
    lines = _t(spark, sf_dir, "lineitem").select(_ncdc_line().alias("value"))
    lines.write.mode("overwrite").text(out)
    return (
        read_fixed_width(spark, out, _NCDC_INT_FIELDS)
        .where((F.col("year") >= 1996) & F.col("quality").isin(1, 4, 7))
        .groupBy("year")
        .agg(
            F.count("*").alias("n"),
            F.max("temp").alias("max_temp"),
            F.min("temp").alias("min_temp"),
        )
        .orderBy("year")
    )


@query(
    "stream_pyds_exec",
    oracle="""
        SELECT CAST(year(l_shipdate) AS INTEGER) AS year,
               count(*) AS n,
               max(CASE WHEN l_discount > 0.05
                        THEN -CAST(l_quantity AS INTEGER)
                        ELSE CAST(l_quantity AS INTEGER) END) AS max_temp
        FROM lineitem
        GROUP BY 1 ORDER BY 1
    """,
    doc="fixed-width files as a stream: the same lineitem-derived NCDC "
    "records as pyds_ncdc_scan, written as 4 text files, are read by Spark's "
    "file source with maxFilesPerTrigger=2 and parsed by sources/"
    "ncdc.parse_fixed_width. availableNow drains the directory in 2 "
    "micro-batches, with offsets in a per-call checkpoint, into a "
    "complete-mode memory sink. The oracle is the batch aggregate over the "
    "source rows (stream-batch parity, the stream_tumbling_exec contract)",
)
def q_stream_pyds_exec(spark, sf_dir):
    import shutil
    import uuid

    out = _scratch_dir("pyds_stream_src", sf_dir)
    lines = _t(spark, sf_dir, "lineitem").select(_ncdc_line().alias("value"))
    lines.repartition(4).write.mode("overwrite").text(out)
    # a fresh stream per call: a kept checkpoint would restore the last
    # call's aggregate state and count its rows twice
    ckpt = _scratch_dir("pyds_stream_ckpt", sf_dir)
    shutil.rmtree(ckpt, ignore_errors=True)
    name = "stream_pyds_" + uuid.uuid4().hex[:8]
    q = (
        parse_fixed_width(
            spark.readStream.option("maxFilesPerTrigger", 2).text(out), _NCDC_INT_FIELDS
        )
        .groupBy("year")
        .agg(F.count("*").alias("n"), F.max("temp").alias("max_temp"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    data_batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
    if data_batches < 2:
        raise RuntimeError(f"expected >=2 micro-batches, saw {data_batches}")
    return spark.table(name).orderBy("year")


@query(
    "metric_profile",
    oracle="""
        SELECT 'l_quantity' AS metric, count(*) AS n, {q} AS total,
               quantile_disc(l_quantity, 0.25) AS p25,
               quantile_disc(l_quantity, 0.5) AS p50,
               quantile_disc(l_quantity, 0.75) AS p75
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice', count(*), {e},
               quantile_disc(l_extendedprice, 0.25),
               quantile_disc(l_extendedprice, 0.5),
               quantile_disc(l_extendedprice, 0.75)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount', count(*), {d},
               quantile_disc(l_discount, 0.25),
               quantile_disc(l_discount, 0.5),
               quantile_disc(l_discount, 0.75)
        FROM lineitem
    """.format(
        q=_DSUM.format(c="l_quantity"),
        e=_DSUM.format(c="l_extendedprice"),
        d=_DSUM.format(c="l_discount"),
    ),
    doc="unpivot/melt (wide -> long) + per-metric profile: count, decimal-exact "
    "total, and exact discrete percentiles (order-statistic selection — "
    "engine-agnostic values, unlike interpolated/approx percentiles) — the "
    "one-pass numeric-profiling query a curation dashboard runs per column",
)
def q_metric_profile(spark, sf_dir):
    from hadoop_app_spark.operators.windows import grouped_percentile_disc

    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ids=[], values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric", valueColumnName="v",
    )
    # exact order-statistic percentiles WITHOUT the built-in
    # percentile_disc, whose imperative aggregate buffers each group's
    # n/3 values in one task — the bounded 2-pass side-job instead
    # (operators/windows.grouped_percentile_disc)
    pcts = grouped_percentile_disc(long, ["metric"], "v", [0.25, 0.5, 0.75])

    def pct_col(p: float):
        c = F.lit(None).cast("double")
        for (metric,), by_p in pcts.items():
            c = F.when(F.col("metric") == metric, F.lit(by_p[p])).otherwise(c)
        return c

    return long.groupBy("metric").agg(F.count("*").alias("n"), _dsum("v").alias("total")).select(
        "metric",
        "n",
        "total",
        pct_col(0.25).alias("p25"),
        pct_col(0.5).alias("p50"),
        pct_col(0.75).alias("p75"),
    )


@query(
    "regex_case_functions",
    oracle="""
        SELECT c_custkey,
               regexp_extract(c_name, '([0-9]+)', 1) AS digits,
               regexp_replace(c_name, '[^0-9]', '', 'g') AS name_digits,
               CASE WHEN regexp_matches(c_mktsegment, '^(BUILD|MACH)') THEN 1 ELSE 0 END AS seg_match,
               CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 5000 THEN 'low'
                    ELSE 'high' END AS balance_bucket
        FROM customer
    """,
    doc="regex scalar functions + CASE WHEN bucketing (absent in the reference — "
    "SURVEY §2.7 completion): extract group, strip non-digits, anchored match, "
    "multi-branch conditional labeling — per-row, one scan, all codegen'd",
)
def q_regex_case_functions(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("digits"),
        F.regexp_replace("c_name", "[^0-9]", "").alias("name_digits"),
        F.when(F.col("c_mktsegment").rlike("^(BUILD|MACH)"), 1).otherwise(0).alias("seg_match"),
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("balance_bucket"),
    )


sql_query(
    "math_functions",
    text="""
        SELECT l_orderkey, l_linenumber,
               sqrt(l_extendedprice) AS price_sqrt,
               abs(l_discount - 0.05) AS disc_dist,
               CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(l_orderkey % 7 AS BIGINT) AS key_mod
        FROM lineitem
    """,
    doc="math scalar functions (SURVEY §2.7 completion), restricted to IEEE-exact "
    "ops (sqrt/abs/floor/ceil/mod) so both engines produce identical bits — "
    "transcendentals (exp/log/trig) are exposed but not hash-compared: libm "
    "implementations legitimately differ in the last ulp",
)


@query(
    "corpus_curation",
    oracle=None,  # assembled below from the language/quality/token/fingerprint oracles
    doc="the canonical pretraining corpus curation pass in ONE scan (north star: "
    "the filter stage every training-data pipeline runs first): language "
    "allowlist + quality floor + token-count bounds + Gopher-style intra-doc "
    "repetition gate (duplicate-word-fraction <= 0.5), THEN the TRAINED "
    "quality gate (CCNet shape: cheap heuristics first, model on what "
    "remains) — logistic scoring under pinned decimal-exact-trained weights "
    "(operators/quality_model.PINNED_QUALITY_LR_WEIGHTS; the oracle "
    "recomputes the algebraic-sigmoid score in IEEE-exact SQL) — and each "
    "surviving doc flagged with a deterministic content-hash 20% audit-"
    "sample membership (doc_fingerprint mod 100 — reproducible under "
    "re-runs/re-partitioning, unlike rand()/sampleBy) — all JVM "
    "expressions, no shuffle; the composable pipeline form is "
    "plans/corpus_pipeline.curate(learned_gate=...)",
)
def q_corpus_curation(spark, sf_dir):
    from hadoop_app_spark.operators.quality_model import (
        PINNED_QUALITY_LR_WEIGHTS,
        score_quality_lr,
    )

    d = _t(spark, sf_dir, "documents")
    d = score_quality_lr(d, "text", list(PINNED_QUALITY_LR_WEIGHTS), out_col="model_p")
    scored = d.select(
        "doc_id",
        "n_chars",
        language_id("text").alias("lang_guess"),
        quality_score("text").alias("quality"),
        token_count("text").alias("n_tokens"),
        F.size(F.array_distinct(tokenize("text"))).alias("n_unique"),
        doc_fingerprint("text").alias("fp"),
        "model_p",
    )
    dup_ratio = (
        F.when(
            F.col("n_tokens") > 0,
            (F.col("n_tokens") - F.col("n_unique")).cast("double") / F.col("n_tokens"),
        ).otherwise(F.lit(0.0))
    )
    return (
        scored.withColumn("dup_ratio", dup_ratio)
        .where(
            (F.col("lang_guess") == "en")
            & (F.col("quality") >= 0.5)
            & (F.col("n_tokens").between(10, 5000))
            & (F.col("dup_ratio") <= 0.5)
            & (F.col("model_p") >= 0.5)
        )
        .select(
            "doc_id",
            "n_chars",
            "n_tokens",
            "dup_ratio",
            "model_p",
            (F.col("fp") % 100 < 20).cast("int").alias("in_sample"),
        )
    )


def _quality_lr_z_sql(weights) -> str:
    """DuckDB twin of operators/quality_model.score_quality_lr's w.x
    margin under FIXED weights: same feature expressions, same
    left-associative accumulation order — every op is IEEE-exact
    (mul/add/div/least/greatest), so the value hashes identically.
    Generated from the pinned weight constants, so oracle and
    implementation cannot drift. Apply the algebraic sigmoid
    ``0.5 + 0.5 * z / (1.0 + abs(z))`` to the result."""
    feats = _quality_feats_sql()
    # weights go in as CAST('<repr>' AS DOUBLE) STRING literals: DuckDB
    # parses a bare 17-significant-digit numeric literal as DECIMAL
    # first, and the decimal->double conversion can land one ulp off
    # the nearest double that repr/Spark/Java all round-trip to
    # (measured: CAST(0.9466421140454269 AS DOUBLE) ends ...268) —
    # the string cast parses directly to the exact double
    return " + ".join(
        f"({f}) * CAST('{w!r}' AS DOUBLE)" for f, w in zip(feats, weights)
    )


def _quality_feats_sql() -> list[str]:
    """The five quality_feature_cols as DuckDB expressions — same
    coalesce (NULL text is the empty document Spark-side, so NULL must
    never propagate into z), same IEEE-exact mul/div/least/greatest
    chain. Shared by the fixed-weight scorers and the trainer replay."""
    t = "coalesce(text, '')"
    ntok = f"len(list_filter(string_split_regex({t}, '{_WS}'), x -> x <> ''))"
    ln = f"CAST(length({t}) AS DOUBLE)"
    return [
        "CAST(1.0 AS DOUBLE)",
        f"least({ln} / 500.0, 1.0)",
        f"(CAST(length(regexp_replace(lower({t}), '[^a-z ]', '', 'g')) AS DOUBLE)"
        f" / greatest({ln}, 1.0))",
        f"least(CAST(length(regexp_replace({t}, '[^.!?]', '', 'g')) AS DOUBLE)"
        " / 3.0, 1.0)",
        f"least(CAST({ntok} AS DOUBLE) * 5.0 / greatest({ln}, 1.0), 1.0)",
    ]


# the language/quality/token oracles already exist on text_metrics; reuse the
# same SQL fragments so the curation oracle stays in lockstep with them.
def _corpus_curation_oracle() -> str:
    from hadoop_app_spark.operators.quality_model import PINNED_QUALITY_LR_WEIGHTS

    return """
        WITH lang AS ({lang_sql}),
        m AS (
            SELECT doc_id, n_chars,
                   ({ntok}) AS n_tokens,
                   len(list_distinct({toks})) AS n_unique,
                   {quality} AS quality,
                   {fp} AS fp,
                   ({z}) AS _z
            FROM documents),
        s AS (
            SELECT m.doc_id, m.n_chars, m.n_tokens, m.fp, m.quality, lang.lang_guess,
                   CASE WHEN m.n_tokens > 0
                        THEN CAST(m.n_tokens - m.n_unique AS DOUBLE) / m.n_tokens
                        ELSE 0.0 END AS dup_ratio,
                   CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * m._z
                       / (CAST(1.0 AS DOUBLE) + abs(m._z)) AS model_p
            FROM m JOIN lang ON m.doc_id = lang.doc_id)
        SELECT doc_id, n_chars, CAST(n_tokens AS INTEGER) AS n_tokens, dup_ratio,
               model_p,
               CAST(fp % 100 < 20 AS INTEGER) AS in_sample
        FROM s
        WHERE lang_guess = 'en' AND quality >= 0.5
          AND n_tokens BETWEEN 10 AND 5000 AND dup_ratio <= 0.5
          AND model_p >= 0.5
    """.format(
        lang_sql=_language_id_oracle().strip(),
        ntok=_NTOK,
        toks=_TOKS,
        quality=_QUALITY_SQL,
        fp=_FP_SQL,
        z=_quality_lr_z_sql(PINNED_QUALITY_LR_WEIGHTS),
    )


REGISTRY["corpus_curation"] = QueryDef(
    REGISTRY["corpus_curation"].fn,
    oracle=_corpus_curation_oracle(),
    doc=REGISTRY["corpus_curation"].doc,
)


# _FP_SQL / _QUALITY_SQL (defined once, above the text-analysis section)
# feed every fingerprint/quality oracle — a second local copy here once
# let the two oracle families drift independently


@query(
    "tfidf_top_terms",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        ranked AS (
            SELECT doc_id, term, tf.tf, dfreq.dfreq,
                   CAST(row_number() OVER (PARTITION BY doc_id
                        ORDER BY CAST(tf.tf AS DOUBLE)
                                 * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfreq) DESC,
                                 dfreq.dfreq, term) AS INTEGER) AS rank
            FROM tf JOIN dfreq USING (term) CROSS JOIN n)
        SELECT doc_id, term, tf, dfreq, rank FROM ranked WHERE rank <= 3
    """,
    doc="distributed TF-IDF with per-doc top-3 terms (north star: corpus keyword/"
    "relevance pass): two partial-combine aggregations, sort-merge join on term "
    "(vocabulary never broadcasts), WindowGroupLimit-pruned per-doc top-k; the "
    "ln() score stays internal — rank ties break on exact ints so libm ulps "
    "can't leak into the comparison",
)
def q_tfidf_top_terms(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import tfidf_top_terms

    d = _t(spark, sf_dir, "documents")
    return tfidf_top_terms(d, "text", "doc_id", k=3).select(
        "doc_id", "term", "tf", "dfreq", "rank"
    )


@query(
    "stratified_sample",
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM (SELECT doc_id, lang, n_chars, {_FP_SQL} AS fp FROM documents)
        WHERE fp % 1000 < (CASE lang WHEN 'en' THEN 300 WHEN 'de' THEN 200
                                     WHEN 'fr' THEN 100 WHEN 'es' THEN 100
                                     ELSE 50 END)
    """,
    doc="deterministic per-language stratified sample (north star: the 'downsample "
    "English, keep tail languages' rebalance): content-hash keyed per-mille rates, "
    "reproducible under re-runs/re-partitioning, single scan, no shuffle",
)
def q_stratified_sample(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import stratified_sample

    d = _t(spark, sf_dir, "documents")
    return stratified_sample(d, "lang", "text").select("doc_id", "lang", "n_chars")


@query(
    "source_stats",
    oracle=f"""
        WITH enriched AS (
            SELECT source, n_chars,
                   ({_NTOK}) AS n_tokens,
                   {_FP_SQL} AS fp,
                   {_QUALITY_SQL} AS quality
            FROM documents)
        SELECT source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_unique_docs,
               CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) AS sum_quality
        FROM enriched GROUP BY source
    """,
    doc="per-source corpus accounting (north star: the curation dashboard / per-"
    "domain budget query): one hash aggregation keyed by source — docs, chars, "
    "tokens, exact-distinct content count, decimal-exact quality mass",
)
def q_source_stats(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import source_stats

    d = _t(spark, sf_dir, "documents")
    return source_stats(d, "text")


@query(
    "stream_sliding_exec",
    oracle="""
        WITH b AS (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) AS half, event_type FROM events),
        expanded AS (
            SELECT half AS wstart, event_type FROM b
            UNION ALL
            SELECT half - INTERVAL 30 MINUTE AS wstart, event_type FROM b)
        SELECT strftime(wstart, '%Y-%m-%d %H:%M') AS window_start, event_type,
               count(*) AS n
        FROM expanded GROUP BY 1, 2
    """,
    doc="Structured Streaming sliding window (1h window, 30m slide) executed "
    "end-to-end; oracle expands each event into its two covering windows",
)
def q_stream_sliding_exec(spark, sf_dir):
    import uuid

    from hadoop_app_spark.streaming.events import sliding_counts

    name = "stream_sliding_" + uuid.uuid4().hex[:8]
    with _utc_session(spark):
        q = (
            sliding_counts(_event_stream(spark, sf_dir))
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name).select(
        _fmt_utc("window_start", "yyyy-MM-dd HH:mm").alias("window_start"),
        "event_type",
        "n",
    )


# streaming top-k: the mergeability theorem makes the batch brute-force
# oracle the ground truth for the streamed fold, verbatim
REGISTRY["stream_topk_exec"] = QueryDef(
    REGISTRY["stream_topk_exec"].fn,
    REGISTRY["cosine_topk"].oracle,
    REGISTRY["stream_topk_exec"].doc,
)


@query(
    "near_dup_components",
    oracle="""
        WITH RECURSIVE e AS ({pairs}),
        sym AS (SELECT id_a AS a, id_b AS b FROM e
                UNION SELECT id_b, id_a FROM e),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(a, b) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a)
        SELECT a AS vec_id, min(b) AS component
        FROM reach GROUP BY a
    """.format(pairs=_lsh_near_dup_oracle().strip()),
    doc="connected components over the (oracled) embedding near-dup pairs — "
    "iterative min-label propagation with per-round lineage checkpoints vs a "
    "recursive-CTE transitive closure in the oracle; the principled dedup "
    "grouping where greedy pair-drop over-keeps chained duplicates",
)
def q_near_dup_components(spark, sf_dir):
    from hadoop_app_spark.operators.graph import connected_components
    from hadoop_app_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").repartition(spark.sparkContext.defaultParallelism)
    pairs = embedding_near_dups(emb, threshold=0.3, n_planes=6).select("id_a", "id_b")
    comp = connected_components(pairs, src="id_a", dst="id_b")
    return comp.select(F.col("node").alias("vec_id"), "component")


@query(
    "cluster_canonical",
    oracle="""
        WITH RECURSIVE e AS ({pairs}),
        sym AS (SELECT id_a AS a, id_b AS b FROM e
                UNION SELECT id_b, id_a FROM e),
        nodes AS (SELECT DISTINCT a AS node FROM sym),
        reach(a, b) AS (
            SELECT node, node FROM nodes
            UNION
            SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        comp AS (SELECT a AS node, min(b) AS component FROM reach GROUP BY a),
        q AS (SELECT doc_id, {quality} AS s FROM documents),
        scored AS (SELECT comp.node, comp.component, q.s
                   FROM comp JOIN q ON comp.node = q.doc_id),
        canon AS (
            SELECT component, node AS canonical_id,
                   row_number() OVER (PARTITION BY component
                                      ORDER BY s DESC, node ASC) AS rn
            FROM scored)
        SELECT comp.node AS doc_id, comp.component, canon.canonical_id
        FROM comp JOIN canon
          ON comp.component = canon.component AND canon.rn = 1
    """.format(pairs=_lsh_near_dup_oracle().strip(), quality=_QUALITY_SQL),
    doc="keep-the-best-copy dedup policy (north star): connected components "
    "over embedding near-dup pairs, then elect each cluster's canonical doc "
    "by max quality_score (tie: min id) via a max_by(node, struct(score, "
    "-node)) partial-combine hash agg — never a per-component row_number "
    "window (operators/graph.canonical_per_component)",
)
def q_cluster_canonical(spark, sf_dir):
    from hadoop_app_spark.operators.graph import canonical_per_component
    from hadoop_app_spark.operators.similarity import embedding_near_dups

    emb = _t(spark, sf_dir, "embeddings").repartition(spark.sparkContext.defaultParallelism)
    pairs = embedding_near_dups(emb, threshold=0.3, n_planes=6).select("id_a", "id_b")
    scores = _t(spark, sf_dir, "documents").select(
        "doc_id", quality_score("text").alias("score")
    )
    return canonical_per_component(scores, pairs, "doc_id", "score")


@query(
    "pii_redaction",
    oracle="""
        WITH synth AS (
            SELECT c_custkey,
                   'reach ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
                   || '@mail.example.com or +1 555-000-'
                   || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                   || ' from 10.0.' || CAST(c_custkey % 256 AS VARCHAR)
                   || '.' || CAST(c_custkey % 100 AS VARCHAR) || ' thanks' AS text
            FROM customer)
        SELECT c_custkey,
               CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
               CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INTEGER) AS n_ipv4,
               CAST(len(regexp_extract_all(text, '\\+?[0-9][0-9()\\- ]{6,}[0-9]')) AS INTEGER) AS n_phone,
               regexp_replace(
                   regexp_replace(
                       regexp_replace(text,
                           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                       '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g'),
                   '\\+?[0-9][0-9()\\- ]{6,}[0-9]', '<PHONE>', 'g') AS redacted
        FROM synth
    """,
    doc="PII scrub (north star: the pre-training redaction pass): emails, IPv4s, "
    "and phone-ish digit runs masked with typed placeholders + per-type counts — "
    "pure codegen'd regexp chain, one scan, no shuffle. PII-bearing text is "
    "synthesized from customer (the test corpus is PII-free word soup), so both "
    "engines construct AND scrub identical strings (operators/corpus.redact_pii)",
)
def q_pii_redaction(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import redact_pii

    c = _t(spark, sf_dir, "customer")
    synth = c.select(
        "c_custkey",
        F.concat(
            F.lit("reach "),
            F.col("c_name"),
            F.lit(" at user"),
            F.col("c_custkey").cast("string"),
            F.lit("@mail.example.com or +1 555-000-"),
            F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
            F.lit(" from 10.0."),
            (F.col("c_custkey") % 256).cast("string"),
            F.lit("."),
            (F.col("c_custkey") % 100).cast("string"),
            F.lit(" thanks"),
        ).alias("text"),
    )
    return redact_pii(synth, "text", "c_custkey")


@query(
    "line_dedup",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        l AS (
            SELECT doc_id,
                   unnest([{{'line_no': i,
                            'line': array_to_string(toks[(i-1)*8+1:(i-1)*8+8], ' ')}}
                           for i in range(1, CAST(ceil(len(toks)/8.0) AS BIGINT) + 1)],
                          recursive := true)
            FROM t WHERE len(toks) > 0),
        r AS (
            SELECT doc_id, line_no, line,
                   row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
            FROM l),
        k AS (SELECT doc_id, line_no, line FROM r WHERE rn = 1),
        agg AS (
            SELECT doc_id, string_agg(line, ' ' ORDER BY line_no) AS dedup_text,
                   count(*) AS n_kept_lines
            FROM k GROUP BY doc_id),
        tot AS (SELECT doc_id, CAST(ceil(len(toks)/8.0) AS INTEGER) AS n_lines FROM t)
        SELECT agg.doc_id, dedup_text, tot.n_lines, n_kept_lines
        FROM agg JOIN tot ON agg.doc_id = tot.doc_id
    """,
    doc="C4-style cross-corpus line dedup (north star): docs chunked into 8-token "
    "lines, only the corpus-wide first occurrence of each distinct line survives, "
    "docs reassembled in order. First-occurrence via partial-combine "
    "min(struct(doc_id,line_no)) GROUP BY line — not a window over the line key, "
    "which would funnel every copy of a billion-occurrence boilerplate line "
    "through one task (operators/corpus.line_dedup; oracle uses the equivalent "
    "row_number form, fine single-node)",
)
def q_line_dedup(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import line_dedup

    d = _t(spark, sf_dir, "documents")
    return line_dedup(d, "text", "doc_id", line_tokens=8)


@query(
    "embedding_quantize",
    oracle="""
        WITH e AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
        s AS (
            SELECT vec_id, v,
                   greatest(list_reduce(list_prepend(0.0, v),
                                        (acc, x) -> greatest(acc, abs(x))) / 127.0,
                            1e-30) AS scale
            FROM e),
        q AS (
            SELECT vec_id, scale,
                   list_transform(v, x -> CAST(floor(x / scale + 0.5) AS INTEGER)) AS qv
            FROM s)
        SELECT vec_id, scale,
               qv[1] AS q0,
               CAST(list_reduce(list_prepend(0, qv), (acc, x) -> acc + x) AS BIGINT) AS q_sum,
               list_min(qv) AS q_min,
               list_max(qv) AS q_max
        FROM q
    """,
    doc="symmetric int8 embedding quantization (north star: 4x smaller vectors "
    "for 100 TB ANN corpora): per-vector scale = max|x|/127, q = floor(x/scale "
    "+ 0.5) — half-up via floor, which every engine computes identically, unlike "
    "round()'s half-even/half-up split; checked on exact integer projections "
    "(q0/sum/min/max) so no float drift can hide (functions/vectors.quantize_int8)",
)
def q_embedding_quantize(spark, sf_dir):
    from hadoop_app_spark.functions.vectors import max_abs, quantize_int8

    emb = _t(spark, sf_dir, "embeddings")
    scale = F.greatest(max_abs("embedding") / F.lit(127.0), F.lit(1e-30))
    scaled = emb.select("vec_id", "embedding", scale.alias("scale"))
    with_q = scaled.select(
        "vec_id", "scale", quantize_int8("embedding", F.col("scale")).alias("qv")
    )
    return with_q.select(
        "vec_id",
        "scale",
        F.col("qv").getItem(0).alias("q0"),
        F.aggregate(F.col("qv"), F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


@query(
    "upsert_snapshot",
    oracle="""
        WITH changes AS (
            SELECT c_custkey, c_name, c_nationkey, c_acctbal + 100.0 AS c_acctbal,
                   c_mktsegment, 'U' AS op
            FROM customer WHERE c_custkey % 10 = 0 AND c_custkey % 97 <> 0
            UNION ALL
            SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment, 'D'
            FROM customer WHERE c_custkey % 97 = 0
            UNION ALL
            SELECT c_custkey + 1000000, 'Customer#new' || CAST(c_custkey AS VARCHAR),
                   c_nationkey, 0.0, 'MACHINERY', 'I'
            FROM customer WHERE c_custkey % 500 = 0),
        untouched AS (
            SELECT c_custkey, c_acctbal, c_mktsegment FROM customer
            WHERE c_custkey NOT IN (SELECT c_custkey FROM changes)),
        live AS (
            SELECT c_custkey, c_acctbal, c_mktsegment FROM changes WHERE op <> 'D')
        SELECT * FROM untouched UNION ALL SELECT * FROM live
    """,
    doc="batch upsert / CDC apply (the Spark-first answer to the reference's "
    "HBase CRUD stub, CURDSample.java:6-13): a synthesized change batch "
    "(updates, tombstone deletes, inserts) applied to the customer snapshot via "
    "broadcast anti-join + union — the snapshot never shuffles "
    "(operators/upsert.apply_changes)",
)
def q_upsert_snapshot(spark, sf_dir):
    from hadoop_app_spark.operators.upsert import apply_changes

    c = _t(spark, sf_dir, "customer")
    updates = (
        c.where((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 97 != 0))
        .withColumn("c_acctbal", F.col("c_acctbal") + 100.0)
        .withColumn("op", F.lit("U"))
    )
    deletes = c.where(F.col("c_custkey") % 97 == 0).withColumn("op", F.lit("D"))
    inserts = c.where(F.col("c_custkey") % 500 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("Customer#new"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(0.0).alias("c_acctbal"),
        F.lit("MACHINERY").alias("c_mktsegment"),
        F.lit("I").alias("op"),
    )
    changes = updates.unionByName(deletes).unionByName(inserts)
    merged = apply_changes(c, changes, ["c_custkey"], op_col="op")
    return merged.select("c_custkey", "c_acctbal", "c_mktsegment")


@query(
    "scd2_dimension",
    oracle="""
        WITH snap AS (
            -- open version per customer, plus deterministic CLOSED
            -- history for every 5th key (pass-through coverage)
            SELECT c_custkey, c_mktsegment AS segment, c_acctbal AS bal,
                   TIMESTAMP '1990-01-01 00:00:00' AS valid_from,
                   TIMESTAMP '1992-01-01 00:00:00' AS valid_to
            FROM customer WHERE c_custkey % 5 = 0
            UNION ALL
            SELECT c_custkey, c_mktsegment, c_acctbal,
                   TIMESTAMP '1992-01-01 00:00:00', NULL
            FROM customer),
        chg AS (
            SELECT o_custkey AS c_custkey, o_orderpriority AS segment,
                   o_totalprice AS bal, o_orderdate AS _ts,
                   o_orderkey AS _seq,
                   (o_orderstatus = 'F' AND o_orderkey % 17 = 0) AS _del
            FROM orders),
        ev AS (
            SELECT c_custkey, segment, bal, valid_from AS _ts,
                   CAST(NULL AS BIGINT) AS _seq, FALSE AS _del
            FROM snap WHERE valid_to IS NULL
            UNION ALL
            SELECT * FROM chg),
        v AS (
            SELECT c_custkey, segment, bal, _ts AS valid_from, _del,
                   lead(_ts) OVER (PARTITION BY c_custkey
                                   ORDER BY _ts, _seq ASC NULLS FIRST)
                       AS valid_to
            FROM ev)
        SELECT c_custkey, segment, bal, valid_from, valid_to
        FROM snap WHERE valid_to IS NOT NULL
        UNION ALL
        SELECT c_custkey, segment, bal, valid_from, valid_to
        FROM v WHERE NOT _del
        ORDER BY c_custkey, valid_from
    """,
    doc="slowly-changing-dimension TYPE 2 maintenance (the "
    "history-preserving sibling of upsert_snapshot): the customer "
    "dimension becomes a versioned snapshot (open rows + synthesized "
    "closed history), orders replay as its change stream (priority/"
    "totalprice as the tracked attributes, a deterministic subset as "
    "tombstones), and scd2_apply closes superseded versions with ONE "
    "key-partitioned lead() window over open+changes while closed "
    "history passes through untouched — work scales with "
    "|open|+|changes|, never |history| (operators/upsert.scd2_apply)",
)
def q_scd2_dimension(spark, sf_dir):
    from hadoop_app_spark.operators.upsert import scd2_apply

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    closed = c.where(F.col("c_custkey") % 5 == 0).select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
        F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.lit("1992-01-01 00:00:00").cast("timestamp_ntz").alias("valid_to"),
    )
    open_ = c.select(
        "c_custkey",
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
        F.lit("1992-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        F.lit(None).cast("timestamp_ntz").alias("valid_to"),
    )
    snapshot = closed.unionByName(open_)
    changes = o.select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_orderpriority").alias("segment"),
        F.col("o_totalprice").alias("bal"),
        F.col("o_orderdate").alias("ts"),
        F.col("o_orderkey").alias("seq"),
        F.when(
            (F.col("o_orderstatus") == "F") & (F.col("o_orderkey") % 17 == 0),
            F.lit("D"),
        ).alias("op"),
    )
    return scd2_apply(
        snapshot,
        changes,
        keys=["c_custkey"],
        attrs=["segment", "bal"],
        ts_col="ts",
        seq_col="seq",
        op_col="op",
    ).orderBy("c_custkey", "valid_from")


@query(
    "repetition_ngrams",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        ns AS (SELECT unnest([2, 3, 4]) AS n),
        g AS (
            SELECT doc_id, n,
                   unnest([array_to_string(toks[i:i+n-1], ' ')
                           for i in range(1, greatest(len(toks) - (n-1), 0) + 1)]) AS gram
            FROM t CROSS JOIN ns),
        c AS (SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram),
        s AS (SELECT doc_id, n,
                     CAST(sum(c) AS BIGINT) AS n_ngrams,
                     CAST(count(*) AS BIGINT) AS n_distinct,
                     CAST(max(c) AS BIGINT) AS top_count
              FROM c GROUP BY doc_id, n)
        SELECT doc_id, n, n_ngrams, n_distinct,
               CAST(n_ngrams - n_distinct AS DOUBLE) / n_ngrams AS dup_frac,
               CAST(top_count AS DOUBLE) / n_ngrams AS top_frac
        FROM s
    """,
    doc="Gopher-style intra-doc n-gram repetition profile (north star: the "
    "templated/looping-text gate): per (doc, n in 2..4) duplicate-ngram and "
    "top-ngram fractions from one mapInPandas kernel that keys each gram by "
    "its exact per-doc token ids and counts them with np.unique — a PURE "
    "MAP, no gram exchange (operators/corpus.ngram_repetition_stats)",
)
def q_repetition_ngrams(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import ngram_repetition_stats

    d = _t(spark, sf_dir, "documents")
    return ngram_repetition_stats(
        d, "text", "doc_id", repartition_to=spark.sparkContext.defaultParallelism
    )


@query(
    "decontamination",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (
            SELECT doc_id,
                   unnest([array_to_string(toks[i:i+7], ' ')
                           for i in range(1, greatest(len(toks) - 7, 0) + 1)]) AS gram
            FROM t),
        bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        hits AS (
            SELECT doc_id, count(*) AS n_contaminated
            FROM g WHERE gram IN (SELECT gram FROM bg) GROUP BY doc_id),
        tot AS (SELECT doc_id,
                       CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_ngrams
                FROM t)
        SELECT tot.doc_id, n_ngrams,
               CAST(COALESCE(hits.n_contaminated, 0) AS BIGINT) AS n_contaminated,
               CASE WHEN n_ngrams > 0
                    THEN CAST(COALESCE(hits.n_contaminated, 0) AS DOUBLE) / n_ngrams
                    ELSE 0.0 END AS contamination
        FROM tot LEFT JOIN hits ON tot.doc_id = hits.doc_id
    """,
    doc="benchmark decontamination scan (north star: pre-training hygiene — "
    "GPT-3-style n-gram overlap vs the eval suite, n=8 here): every doc's hit "
    "fraction against the benchmark shingle set (docs with doc_id%50=0 stand in "
    "as the eval suite, so overlap is guaranteed non-trivial). The benchmark "
    "side reduces to distinct grams and BROADCASTS into a map-side semi-join "
    "against the exploded corpus — the corpus never shuffles on the gram key "
    "(operators/corpus.contamination_stats / decontaminate)",
)
def q_decontamination(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import contamination_stats

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    return contamination_stats(d, bench, "text", "doc_id", n=8)


@query(
    "bloom_decontamination",
    # the oracle REBUILDS the Bloom filter bit-for-bit (the k 32-bit
    # slices of one md5 per gram, 32-bit words, bit_or) and replays the
    # k-probe test per gram OCCURRENCE — so the driver value-checks the
    # sketch itself, including its deterministic false positives
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g0 AS (
            SELECT doc_id,
                   unnest([struct_pack(i := i, g := array_to_string(toks[i:i+7], ' '))
                           for i in range(1, greatest(len(toks) - 7, 0) + 1)]) AS u
            FROM t),
        g AS (SELECT doc_id, u.i AS gpos, u.g AS gram FROM g0),
        bg AS (SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
        bpos AS (
            SELECT CAST(concat('0x', substr(md5(gram), (j - 1) * 8 + 1, 8))
                        AS BIGINT) % 1048576 AS pos
            FROM bg, unnest(range(1, 5)) AS s(j)),
        bloom AS (
            SELECT pos // 32 AS word,
                   bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
            FROM bpos GROUP BY 1),
        probe AS (
            SELECT doc_id, gpos,
                   CAST(concat('0x', substr(md5(gram), (j - 1) * 8 + 1, 8))
                        AS BIGINT) % 1048576 AS pos
            FROM g, unnest(range(1, 5)) AS s(j)),
        kh AS (
            SELECT p.doc_id, p.gpos,
                   count(*) FILTER (WHERE b.bits IS NOT NULL
                       AND (b.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER)))
                           = (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))) AS k_hits
            FROM probe p LEFT JOIN bloom b ON (p.pos // 32) = b.word
            GROUP BY 1, 2),
        f AS (SELECT doc_id, count(*) FILTER (WHERE k_hits = 4) AS n_flagged
              FROM kh GROUP BY 1),
        tot AS (SELECT doc_id, CAST(greatest(len(toks) - 7, 0) AS BIGINT) AS n_ngrams
                FROM t)
        SELECT tot.doc_id, n_ngrams,
               CAST(coalesce(f.n_flagged, 0) AS BIGINT) AS n_flagged,
               CASE WHEN n_ngrams > 0
                    THEN CAST(coalesce(f.n_flagged, 0) AS DOUBLE) / n_ngrams
                    ELSE 0.0 END AS contamination
        FROM tot LEFT JOIN f ON tot.doc_id = f.doc_id
    """,
    doc="Bloom-filter benchmark decontamination (the CONSTANT-SIZE scale "
    "path next to the exact gram-set broadcast): the eval suite's 8-gram "
    "shingles fold into an m_bits/32-word mergeable bitmask (md5 positions "
    "— cross-engine, so false positives are deterministic and "
    "oracle-reproduced), the corpus probes it with k=4 integer keys per "
    "gram occurrence, and a gram counts as flagged iff all k bits hit; a "
    "GB-scale contamination list becomes a 128 KB broadcast at the cost of "
    "a quantified over-flag rate "
    "(operators/corpus.bloom_contamination_stats)",
)
def q_bloom_decontamination(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import bloom_contamination_stats

    d = _t(spark, sf_dir, "documents")
    bench = d.where(F.col("doc_id") % 50 == 0)
    return bloom_contamination_stats(d, bench, "text", "doc_id", n=8)


@query(
    "cms_heavy_hitters",
    # the oracle REBUILDS the Count-Min sketch cell-for-cell and
    # replays every probe, so the driver value-checks the estimates
    # including their deterministic collisions; emitting exact_count
    # alongside makes the overestimate guarantee (est >= exact)
    # visible in the gated values themselves
    oracle=f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS tok FROM documents),
        cells AS (
            SELECT tok, CAST(j - 1 AS INTEGER) AS row,
                   CAST(CAST(concat('0x', substr(md5(tok), CAST((j - 1) * 8 + 1 AS INTEGER), 8))
                        AS BIGINT) % 16384 AS INTEGER) AS col
            FROM toks, unnest(range(1, 5)) AS s(j)),
        cms AS (SELECT row, col, count(*) AS c FROM cells GROUP BY 1, 2),
        exact AS (SELECT tok, count(*) AS exact_count FROM toks GROUP BY 1),
        probe AS (SELECT DISTINCT tok, row, col FROM cells),
        est AS (
            SELECT p.tok, min(coalesce(c.c, 0)) AS est_count
            FROM probe p LEFT JOIN cms c ON p.row = c.row AND p.col = c.col
            GROUP BY 1)
        SELECT e.tok, e.est_count, x.exact_count
        FROM est e JOIN exact x ON e.tok = x.tok
        WHERE e.est_count >= 200
    """,
    doc="Count-Min heavy hitters (the frequency member of the sketch "
    "family — Cormode & Muthukrishnan 2005): depth x width counters "
    "(4 x 16,384 = 512 KB regardless of vocabulary), est(token) = min of "
    "its 4 md5-sliced counters, mergeable by cell addition across shards/"
    "streams; tokens whose estimate clears the threshold emit est + exact "
    "side by side, est >= exact always "
    "(operators/corpus.build_count_min / cms_estimate_tokens)",
)
def q_cms_heavy_hitters(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import cms_estimate_tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(F.explode(tokenize("text")).alias("tok"))
    distinct_toks = toks.distinct()
    est = cms_estimate_tokens(d, distinct_toks, "text", "tok")
    exact = toks.groupBy("tok").agg(F.count("*").alias("exact_count"))
    return (
        est.where(F.col("est_count") >= 200)
        .join(exact, "tok")
        .select("tok", "est_count", "exact_count")
    )


@query(
    "typo_pairs",
    # the synthetic vocabulary contains no natural edit-1 pairs, so
    # docs with doc_id % 20 = 0 contribute a last-char-dropped variant
    # of each long-enough token (the decontamination %50-standin
    # convention) — overlap is guaranteed non-trivial and every pair
    # still flows through blocking + verify
    oracle=f"""
        WITH raw AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        toks AS (
            SELECT tok FROM raw
            UNION ALL
            SELECT tok[1:length(tok)-1] AS tok FROM raw
            WHERE doc_id % 20 = 0 AND length(tok) >= 5),
        tc AS (SELECT tok, count(*) AS c FROM toks GROUP BY 1),
        base AS (SELECT tok AS s FROM tc WHERE length(tok) >= 4),
        vars0 AS (
            SELECT s,
                   unnest(list_distinct(list_append(
                       [s[1:i-1] || s[i+1:length(s)] for i in range(1, length(s) + 1)],
                       s))) AS v
            FROM base),
        cand AS (
            SELECT DISTINCT a.s AS a, b.s AS b
            FROM vars0 a JOIN vars0 b ON a.v = b.v AND a.s < b.s),
        p AS (SELECT a, b FROM cand WHERE levenshtein(a, b) = 1)
        SELECT p.a, p.b, ca.c AS count_a, cb.c AS count_b
        FROM p JOIN tc ca ON p.a = ca.tok JOIN tc cb ON p.b = cb.tok
    """,
    doc="edit-distance-1 fuzzy self-join over the corpus vocabulary "
    "(SymSpell deletion-neighborhood blocking): each token emits itself + "
    "its single-deletion variants, candidates equi-join on the variant "
    "key with pigeonhole-COMPLETE recall at distance 1, the built-in "
    "levenshtein verifies — typo/variant mining with candidate pairs "
    "bounded by variant-bucket populations, never |V|^2; both sides' "
    "occurrence counts ride along so normalization can keep the majority "
    "spelling (operators/dedup.edit1_pairs)",
)
def q_typo_pairs(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import edit1_pairs

    d = _t(spark, sf_dir, "documents")
    raw = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    typos = raw.where(
        (F.col("doc_id") % 20 == 0) & (F.length("tok") >= 5)
    ).select(F.expr("substring(tok, 1, length(tok) - 1)").alias("tok"))
    toks = raw.select("tok").unionByName(typos)
    tc = toks.groupBy("tok").agg(F.count("*").alias("c"))
    pairs = edit1_pairs(toks, "tok", min_len=4)
    ca, cb = tc.alias("ca"), tc.alias("cb")
    return (
        pairs.join(ca, pairs.a == F.col("ca.tok"))
        .join(cb, pairs.b == F.col("cb.tok"))
        .select("a", "b", F.col("ca.c").alias("count_a"), F.col("cb.c").alias("count_b"))
    )


# DuckDB twin of build_hll's register derivation over a string key
# column named s: the same first-32-md5-bits hash, top-12-bit register,
# 21 - length(bin(w)) leading-zero rank (bin drops leading zeros in
# both engines; w = 0 takes the max rank 21)
_HLL_REGS = """
        SELECT h // 1048576 AS register,
               max(CASE WHEN h % 1048576 = 0 THEN 21
                        ELSE 21 - length(bin(h % 1048576)) END) AS max_rho
        FROM (SELECT CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
              FROM keys)
        GROUP BY 1
"""

# 3-gram word shingles per document -> one row per shingle, column s
_SHINGLES = """
        SELECT array_to_string(toks[i:i+2], ' ') AS s
        FROM (SELECT {toks} AS toks FROM documents) t,
             unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS u(i)
"""


@query(
    "hll_shingle_registers",
    # the oracle REBUILDS every HyperLogLog register from the same
    # md5-slice hash, so the driver value-checks the sketch state
    # itself — the part that must be exact for merges to be exact
    oracle=f"""
        WITH keys AS ({_SHINGLES.format(toks=_TOKS)}),
        r AS ({_HLL_REGS})
        SELECT CAST(register AS INT) AS register,
               CAST(max_rho AS INT) AS max_rho
        FROM r
    """,
    doc="HyperLogLog register table over the corpus' 3-gram shingles "
    "(the distinct-count member of the sketch family — Flajolet et al. "
    "2007, the algorithm behind Spark's own approx_count_distinct): "
    "4096 max-mergeable registers REGARDLESS of shingle cardinality, "
    "in the deterministic md5-slice form so every register is oracle-"
    "reproducible; at crawl scale the raw-key shuffle an exact "
    "count-distinct needs simply disappears — each executor emits at "
    "most 4096 partial rows (operators/corpus.build_hll)",
)
def q_hll_shingle_registers(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import build_hll

    d = _t(spark, sf_dir, "documents")
    sh = d.select(F.explode(ngrams_from_tokens(tokenize("text"), 3)).alias("s"))
    return build_hll(sh, "s")


@query(
    "hll_distinct_shingles",
    # per-source estimate next to the exact distinct count: the oracle
    # recomputes the harmonic-mean finisher (and the small-range
    # linear-counting branch) from its own rebuilt registers, so the
    # accuracy claim is checked in the values, not just asserted. The
    # 2^-rho harmonic sum is EXACT in IEEE double (every term dyadic
    # with exponent >= -21, total < 2^33 of that granularity), so the
    # only rounding is the single final division / ln — round(3)
    # absorbs any cross-engine libm ulp
    oracle=f"""
        WITH sh AS (
            SELECT source, array_to_string(toks[i:i+2], ' ') AS s
            FROM (SELECT source, {_TOKS} AS toks FROM documents) t,
                 unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS u(i)),
        r AS (
            SELECT source, h // 1048576 AS register,
                   max(CASE WHEN h % 1048576 = 0 THEN 21
                            ELSE 21 - length(bin(h % 1048576)) END) AS max_rho
            FROM (SELECT source,
                         CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
                  FROM sh)
            GROUP BY 1, 2),
        agg AS (
            SELECT source,
                   sum(power(2.0, -max_rho)) + (4096 - count(*)) AS harm,
                   4096 - count(*) AS zeros
            FROM r GROUP BY 1),
        est AS (
            SELECT source,
                   CASE WHEN 0.7213 / (1.0 + 1.079 / 4096) * 4096 * 4096 / harm
                             <= 10240.0 AND zeros > 0
                        THEN round(4096.0 * ln(4096.0 / zeros), 3)
                        ELSE round(0.7213 / (1.0 + 1.079 / 4096) * 4096 * 4096
                                   / harm, 3) END AS est_distinct
            FROM agg),
        exact AS (SELECT source, count(DISTINCT s) AS exact_distinct
                  FROM sh GROUP BY 1)
        SELECT e.source, e.est_distinct, x.exact_distinct
        FROM est e JOIN exact x ON e.source = x.source
    """,
    doc="Per-source distinct-shingle estimate through the HyperLogLog "
    "sketch, exact count alongside — the finisher over build_hll's "
    "mergeable state (harmonic mean + Flajolet's small-range linear-"
    "counting correction), with the float-determinism argument in the "
    "operator docstring: the register sum is exactly representable, so "
    "the estimate is reproducible bit-for-bit across engines "
    "(operators/corpus.hll_estimate)",
)
def q_hll_distinct_shingles(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import build_hll, hll_estimate

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(ngrams_from_tokens(tokenize("text"), 3)).alias("s")
    )
    regs = build_hll(sh, "s", ["source"])
    return _hll_shingle_finish(regs, sh)


@query(
    "hll_index_increment",
    # register merges are associative max-per-cell, so seed(day 0) +
    # merge(day 1) + merge(day 2) must hold EXACTLY the registers a
    # one-shot build over the whole corpus holds — the oracle rebuilds
    # every cell from scratch over the union and compares
    # register-for-register (a dropped batch, a mismatched precision,
    # or a lost cell all change some register's max rho)
    oracle="""
        WITH sh AS (
            SELECT source, array_to_string(toks[i:i+2], ' ') AS s
            FROM (SELECT source, {toks} AS toks FROM documents) t,
                 unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS u(i))
        SELECT source, CAST(h // 1048576 AS INTEGER) AS register,
               CAST(max(CASE WHEN h % 1048576 = 0 THEN 21
                        ELSE 21 - length(bin(h % 1048576)) END) AS INTEGER)
                   AS max_rho
        FROM (SELECT source,
                     CAST(concat('0x', substr(md5(s), 1, 8)) AS BIGINT) AS h
              FROM sh)
        GROUP BY 1, 2
    """.format(toks=_TOKS),
    doc="persisted HLL sketch index with daily merges (operators/corpus."
    "seed_hll_index/merge_hll_index — the sketch family's member of the "
    "persisted-index lifecycle beside the MinHash/SimHash band indexes "
    "and the IVF cells): 'distinct shingles per source across everything "
    "ever ingested' stays answerable from a table bounded at |groups| x "
    "2^p rows FOREVER — the index is seeded from a third of the corpus "
    "and two daily batches merge in by one exchange-free bucketed "
    "full-outer max-per-cell join each (O(batch) scan + O(index) merge, "
    "history never re-read); precision p is pinned as a table property "
    "so a mismatched merge fails loudly. Registers merge associatively, "
    "so the final state equals a one-shot build — checked CELL-FOR-CELL "
    "by the oracle, the strongest form the sketch admits",
)
def q_hll_index_increment(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import merge_hll_index, seed_hll_index

    d = _t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id", "source",
        F.explode(ngrams_from_tokens(tokenize("text"), 3)).alias("s"),
    )
    tbl = "hll_shingle_index"
    # memoized day-0 seed + per-invocation clone (the lifecycle-entry
    # convention, VERDICT r10 item 7): the timed work is the two daily
    # merges — the index's steady state — never the seed build
    _seed_clone(
        spark, "hll_idx_seed", tbl, f"hll|{sf_dir}|mod3|p12",
        lambda t: seed_hll_index(
            sh.where(F.col("doc_id") % 3 == 0), "s", ["source"], t
        ),
    )
    for gen in (1, 2):
        merge_hll_index(
            sh.where(F.col("doc_id") % 3 == gen), tbl, "s", ["source"]
        )
    return spark.table(tbl).select("source", "register", "max_rho")


def _hll_shingle_finish(regs, sh):
    from hadoop_app_spark.operators.corpus import hll_estimate

    est = hll_estimate(regs, ["source"])
    exact = sh.groupBy("source").agg(
        F.countDistinct("s").alias("exact_distinct")
    )
    return est.join(exact, "source").select("source", "est_distinct", "exact_distinct")


@query(
    "kmv_source_overlap",
    # the oracle rebuilds the per-source KMV minima from the same
    # 60-bit md5 slices, derives each pair's union sketch, and
    # recomputes the (k-1)/kth estimator + Jaccard + intersection
    # with the identical float operand order — exact side computed
    # from the corpus in both engines as the in-values accuracy check
    oracle=f"""
        WITH sh AS (
            SELECT source, array_to_string(toks[i:i+2], ' ') AS s
            FROM (SELECT source, {{toks}} AS toks FROM documents
                  WHERE source IN ('src0','src1','src2','src3','src4','src5')) t,
                 unnest(range(1, greatest(len(toks) - 2, 0) + 1)) AS u(i)),
        hs AS (
            SELECT DISTINCT source AS g,
                   CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) AS h
            FROM sh),
        mins AS (
            SELECT g, h FROM (
                SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS pos
                FROM hs) WHERE pos <= 64),
        pairs AS (
            SELECT a.g AS src_a, b.g AS src_b
            FROM (SELECT DISTINCT g FROM hs) a, (SELECT DISTINCT g FROM hs) b
            WHERE a.g < b.g),
        uni AS (
            SELECT p.src_a, p.src_b, m.h,
                   max(CASE WHEN m.g = p.src_a THEN 1 ELSE 0 END) AS fa,
                   max(CASE WHEN m.g = p.src_b THEN 1 ELSE 0 END) AS fb
            FROM pairs p JOIN mins m ON m.g IN (p.src_a, p.src_b)
            GROUP BY 1, 2, 3),
        sk AS (
            SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY src_a, src_b
                                             ORDER BY h) AS pos
                FROM uni) WHERE pos <= 64),
        agg AS (
            SELECT src_a, src_b, count(*) AS n, max(h) AS kth,
                   sum(fa * fb) AS nboth
            FROM sk GROUP BY 1, 2),
        ds AS (SELECT DISTINCT source AS g, s FROM sh),
        exu AS (
            SELECT p.src_a, p.src_b, d.s,
                   max(CASE WHEN d.g = p.src_a THEN 1 ELSE 0 END) AS fa,
                   max(CASE WHEN d.g = p.src_b THEN 1 ELSE 0 END) AS fb
            FROM pairs p JOIN ds d ON d.g IN (p.src_a, p.src_b)
            GROUP BY 1, 2, 3),
        ex AS (
            SELECT src_a, src_b, count(*) AS exact_union,
                   sum(fa * fb) AS exact_intersection
            FROM exu GROUP BY 1, 2)
        SELECT a.src_a, a.src_b,
               round(CASE WHEN a.n < 64 THEN CAST(a.n AS DOUBLE)
                          ELSE 63.0 / (CAST(a.kth AS DOUBLE)
                                       / 1152921504606846976.0) END, 3)
                   AS est_union,
               round(CAST(a.nboth AS DOUBLE) / CAST(a.n AS DOUBLE), 6)
                   AS jaccard,
               round((CAST(a.nboth AS DOUBLE) / CAST(a.n AS DOUBLE))
                     * CASE WHEN a.n < 64 THEN CAST(a.n AS DOUBLE)
                            ELSE 63.0 / (CAST(a.kth AS DOUBLE)
                                         / 1152921504606846976.0) END, 3)
                   AS est_intersection,
               e.exact_union,
               CAST(e.exact_intersection AS BIGINT) AS exact_intersection
        FROM agg a JOIN ex e USING (src_a, src_b)
        ORDER BY src_a, src_b
    """.format(toks=_TOKS),
    doc="KMV (k-minimum-values / bottom-k theta) sketch set algebra "
    "across sources: per-source 64-minima over 3-gram shingles, then "
    "pairwise UNION + JACCARD + INTERSECTION estimates derived from "
    "the sketches alone (Beyer et al. 2007) with the exact counts "
    "alongside as the in-values accuracy check — the set-operation "
    "capability HLL lacks (registers union but never intersect), i.e. "
    "the cross-source contamination questions a mixture build asks at "
    "sketch cost (operators/corpus.build_kmv/kmv_pair_overlap); "
    "deterministic 60-bit md5-slice hashes make the minima and every "
    "estimate oracle-reproducible bit-for-bit",
)
def q_kmv_source_overlap(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import build_kmv, kmv_pair_overlap

    # fixed 6-source slice (15 pairs): the EXACT-side accuracy check
    # replicates each source's distinct-shingle set once per pair it
    # appears in, so pair count is the entry's cost knob — at the full
    # 20 sources (190 pairs) the exact check alone measured ~7s at
    # sf0.1 while the sketch side stays sketch-sized regardless. The
    # operator itself is unrestricted; the registry entry pins a
    # bounded showcase (the sketch-vs-exact contract is per-pair, so
    # 15 pairs exercise it as fully as 190)
    d = _t(spark, sf_dir, "documents").where(
        F.col("source").isin([f"src{i}" for i in range(6)])
    )
    sh = d.select(
        "source", F.explode(ngrams_from_tokens(tokenize("text"), 3)).alias("s")
    )
    minima = build_kmv(sh, "s", ["source"], k=64)
    est = kmv_pair_overlap(minima, "source", k=64)
    ds = sh.select(F.col("source").alias("_g"), "s").distinct()
    groups = ds.select("_g").distinct().withColumn("_one", F.lit(1))
    pairs = (
        groups.select(F.col("_g").alias("src_a"), "_one")
        .join(groups.select(F.col("_g").alias("src_b"), "_one"), "_one")
        .where(F.col("src_a") < F.col("src_b"))
        .drop("_one")
    )
    ra = pairs.join(F.broadcast(ds), pairs.src_a == ds._g).select(
        "src_a", "src_b", "s", F.lit(1).alias("_fa"), F.lit(0).alias("_fb")
    )
    rb = pairs.join(F.broadcast(ds), pairs.src_b == ds._g).select(
        "src_a", "src_b", "s", F.lit(0).alias("_fa"), F.lit(1).alias("_fb")
    )
    ex = (
        ra.unionByName(rb)
        .groupBy("src_a", "src_b", "s")
        .agg(F.max("_fa").alias("_fa"), F.max("_fb").alias("_fb"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count("*").alias("exact_union"),
            F.sum(F.col("_fa") * F.col("_fb")).alias("exact_intersection"),
        )
    )
    return est.join(ex, ["src_a", "src_b"]).orderBy("src_a", "src_b")


@query(
    "triangle_census",
    # the oracle replays the same degree-ordered orientation, wedge
    # join, and closing-edge semi-join — every figure is an exact
    # integer, so the census (and the single-division clustering
    # coefficient) is deterministic in both engines
    oracle="""
        WITH li AS (
            SELECT l.l_orderkey AS ok, l.l_partkey AS pk
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE o.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1995-04-01 00:00:00'),
        e AS (SELECT DISTINCT a.pk AS a, b.pk AS b
              FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        deg AS (SELECT node, count(*) AS deg
                FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
                GROUP BY 1),
        o AS (SELECT CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                          THEN e.a ELSE e.b END AS u,
                     CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                          THEN e.b ELSE e.a END AS v,
                     CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e.a < e.b)
                          THEN db.deg ELSE da.deg END AS dv
              FROM e JOIN deg da ON e.a = da.node JOIN deg db ON e.b = db.node),
        wedges AS (SELECT w1.v AS b, w2.v AS c
                   FROM o w1 JOIN o w2 ON w1.u = w2.u
                   WHERE w1.dv < w2.dv OR (w1.dv = w2.dv AND w1.v < w2.v)),
        tri AS (SELECT count(*) AS t FROM wedges w
                WHERE EXISTS (SELECT 1 FROM o WHERE o.u = w.b AND o.v = w.c))
        SELECT (SELECT count(*) FROM deg) AS n_nodes,
               (SELECT count(*) FROM e) AS n_edges,
               (SELECT count(*) FROM wedges) AS n_wedges,
               t AS n_triangles,
               CASE WHEN (SELECT count(*) FROM wedges) > 0
                    THEN 3.0 * t / (SELECT count(*) FROM wedges)
                    ELSE 0.0 END AS global_clustering
        FROM tri
    """,
    doc="Global triangle census of the part co-purchase graph (parts "
    "sharing an order in 1995Q1): degree-ordered wedge counting (Schank "
    "& Wagner) where hubs receive and never emit, bounding the wedge "
    "shuffle by O(m^1.5) on any degree distribution — the classic "
    "distributed graph-analytics shape where the 100 TB lives in the "
    "fact-table edge derivation, all-integer and oracle-exact including "
    "the 3T/W clustering coefficient (operators/graph.triangle_census)",
)
def q_triangle_census(spark, sf_dir):
    from hadoop_app_spark.operators.graph import triangle_census

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1995-01-01") & (F.col("o_orderdate") < "1995-04-01")
    )
    a = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    )
    b = a.alias("b")
    edges = (
        a.alias("a")
        .join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
        .select(F.col("a.pk").alias("src"), F.col("b.pk").alias("dst"))
    )
    return triangle_census(edges)


def _pagerank_oracle(iters: int = 3) -> str:
    """DuckDB twin of pagerank_fixedpoint over the nation trade graph:
    the same integer fixed-point trajectory, iterations unrolled as
    CTEs (// and Spark's div agree on nonnegative integers)."""
    parts = [
        """
        WITH raw AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS cnt
            FROM lineitem l
            JOIN orders o    ON l.l_orderkey = o.o_orderkey
            JOIN customer c  ON o.o_custkey = c.c_custkey
            JOIN supplier s  ON l.l_suppkey = s.s_suppkey
            JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2),
        nodes AS (SELECT n_name AS node FROM nation),
        nn AS (SELECT count(*) AS n FROM nodes),
        w AS (SELECT r.src, r.dst, r.cnt * 1000000 // t.tot AS w
              FROM raw r JOIN (SELECT src, sum(cnt) AS tot FROM raw GROUP BY 1) t
              USING (src)),
        r0 AS (SELECT node, 1000000000000 // (SELECT n FROM nn) AS rank_scaled
               FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        d{k} AS (SELECT coalesce(sum(rank_scaled), 0) // (SELECT n FROM nn) AS share
                 FROM r{k - 1}
                 WHERE node NOT IN (SELECT DISTINCT src FROM w)),
        c{k} AS (SELECT w.dst AS node, sum(r.rank_scaled * w.w // 1000000) AS s
                 FROM w JOIN r{k - 1} r ON w.src = r.node GROUP BY 1),
        r{k} AS (SELECT n.node,
                        (150000000000 // (SELECT n FROM nn))
                        + 85 * (coalesce(c.s, 0) + (SELECT share FROM d{k})) // 100
                        AS rank_scaled
                 FROM nodes n LEFT JOIN c{k} c USING (node))"""
        )
    parts.append(
        f"""
        SELECT node AS nation, CAST(rank_scaled AS BIGINT) AS rank_scaled
        FROM r{iters}"""
    )
    return "".join(parts)


def _lpa_oracle(iters: int = 3) -> str:
    """DuckDB twin of label_propagation over the nation trade graph:
    the same deterministic synchronous trajectory, iterations unrolled
    as CTEs (integer weight sums order identically in both engines;
    ties go to the lexicographically smallest label in both)."""
    parts = [
        """
        WITH raw AS (
            SELECT cn.n_name AS src, sn.n_name AS dst, count(*) AS cnt
            FROM lineitem l
            JOIN orders o    ON l.l_orderkey = o.o_orderkey
            JOIN customer c  ON o.o_custkey = c.c_custkey
            JOIN supplier s  ON l.l_suppkey = s.s_suppkey
            JOIN nation cn   ON c.c_nationkey = cn.n_nationkey
            JOIN nation sn   ON s.s_nationkey = sn.n_nationkey
            GROUP BY 1, 2),
        und AS (SELECT src AS u, dst AS v, cnt AS w FROM raw
                UNION ALL
                SELECT dst AS u, src AS v, cnt AS w FROM raw),
        nodes AS (SELECT n_name AS node FROM nation),
        l0 AS (SELECT node, node AS lbl FROM nodes)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
        c{k} AS (SELECT e.v AS node, l.lbl, sum(e.w) AS s
                 FROM und e JOIN l{k - 1} l ON e.u = l.node GROUP BY 1, 2),
        p{k} AS (SELECT node, lbl FROM (
                     SELECT node, lbl,
                            row_number() OVER (PARTITION BY node
                                               ORDER BY s DESC, lbl) AS rn
                     FROM c{k}) WHERE rn = 1),
        l{k} AS (SELECT l.node, coalesce(p.lbl, l.lbl) AS lbl
                 FROM l{k - 1} l LEFT JOIN p{k} p USING (node))"""
        )
    parts.append(
        f"""
        SELECT l{iters}.node AS nation, l1.lbl AS community_r1,
               l{iters}.lbl AS community
        FROM l{iters} JOIN l1 USING (node)"""
    )
    return "".join(parts)


@query(
    "nation_communities",
    oracle=_lpa_oracle(3),
    doc="weighted label-propagation communities over the nation trade "
    "graph (operators/graph.label_propagation — the graph family's "
    "community detector beside components/triangles/PageRank): classic "
    "LPA is randomized and asynchronous, useless for a differential "
    "gate, so this is the DETERMINISTIC form — synchronous supersteps "
    "from the previous round's labels, winner = max integer edge-weight "
    "sum, ties to the lexicographically smallest label — a fixed "
    "trajectory the oracle unrolls as CTEs; the 100 TB lives in the "
    "five-way fact-to-graph aggregation (same as nation_pagerank), the "
    "supersteps run on the projected graph; for near-dup families this "
    "is the bounded-rounds alternative to full transitive closure. The "
    "output carries BOTH the round-1 label (where the dense trade graph "
    "still has 3 communities, every per-node argmax/tie visible) and "
    "the converged round-3 label, so the value hash checks the "
    "trajectory, not just the collapsed fixpoint",
)
def q_nation_communities(spark, sf_dir):
    from hadoop_app_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn, sn = n.alias("cn"), n.alias("sn")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("cn.n_name").alias("src"), F.col("sn.n_name").alias("dst")
        )
        .agg(F.count("*").alias("cnt"))
    )
    nodes = n.select(F.col("n_name").alias("node"))
    r1 = label_propagation(edges, nodes, iters=1).withColumnRenamed(
        "community", "community_r1"
    )
    r3 = label_propagation(edges, nodes, iters=3)
    return r3.join(r1, "node").select(
        F.col("node").alias("nation"), "community_r1", "community"
    )


@query(
    "nation_pagerank",
    oracle=_pagerank_oracle(3),
    doc="Weighted PageRank over the nation trade graph (customer nation "
    "-> supplier nation, weighted by lineitem count) in FIXED-POINT "
    "integer arithmetic: float PageRank is order-dependent and engine-"
    "dependent, so ranks are 10^12-scaled BIGINTs, transition weights "
    "pre-quantized to 10^6 (overflow headroom designed in at any data "
    "scale), dangling mass redistributed uniformly — a bit-exact, "
    "oracle-replayable power-iteration trajectory; the 100 TB lives in "
    "the five-way fact-to-graph aggregation, the Pregel-style iteration "
    "runs on the projected graph (operators/graph.pagerank_fixedpoint)",
)
def q_nation_pagerank(spark, sf_dir):
    from hadoop_app_spark.operators.graph import pagerank_fixedpoint

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    cn, sn = n.alias("cn"), n.alias("sn")
    edges = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn.n_nationkey"))
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn.n_nationkey"))
        .groupBy(
            F.col("cn.n_name").alias("src"), F.col("sn.n_name").alias("dst")
        )
        .agg(F.count("*").alias("cnt"))
    )
    nodes = n.select(F.col("n_name").alias("node"))
    ranks = pagerank_fixedpoint(edges, nodes, iters=3)
    return ranks.select(F.col("node").alias("nation"), "rank_scaled")


@query(
    "domain_filter_caps",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   CASE doc_id % 3
                        WHEN 0 THEN 'https://www.' || source || '.example.com:8080/p/' || CAST(doc_id AS VARCHAR)
                        WHEN 1 THEN 'http://bot@sub.' || source || '.example.org/p/' || CAST(doc_id AS VARCHAR) || '?q=1'
                        ELSE source || '.example.net/p/' || CAST(doc_id AS VARCHAR)
                   END AS url
            FROM documents),
        d AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_extract(lower(url),
                           '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@]*@)?([^/:?#]+)', 1),
                       '^www\\.', '') AS domain
            FROM u),
        blocked AS (
            SELECT doc_id, domain FROM d
            WHERE domain NOT IN ('src0.example.com', 'sub.src1.example.org')),
        capped AS (
            SELECT doc_id, domain,
                   row_number() OVER (PARTITION BY domain ORDER BY doc_id) AS rn
            FROM blocked)
        SELECT doc_id, domain FROM capped WHERE rn <= 20
    """,
    doc="crawl-hygiene pair (north star): registrable-domain extraction "
    "(scheme/userinfo/port/path stripped, www. dropped) -> broadcast blocklist "
    "anti-join -> per-domain doc cap (anti-SEO-farm, WindowGroupLimit prunes "
    "map-side). URLs synthesized deterministically from documents so both "
    "engines build and parse identical strings "
    "(operators/corpus.extract_domain/domain_filter/domain_caps)",
)
def q_domain_filter_caps(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import domain_caps, domain_filter, extract_domain

    d = _t(spark, sf_dir, "documents")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("https://www."), F.col("source"), F.lit(".example.com:8080/p/"),
                F.col("doc_id").cast("string"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://bot@sub."), F.col("source"), F.lit(".example.org/p/"),
                F.col("doc_id").cast("string"), F.lit("?q=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.col("source"), F.lit(".example.net/p/"), F.col("doc_id").cast("string")
            )
        )
    )
    docs = d.select("doc_id", url.alias("url"))
    blocklist = spark.createDataFrame(
        [("src0.example.com",), ("sub.src1.example.org",)], "domain string"
    )
    kept = domain_filter(docs, "url", blocklist, mode="block")
    capped = domain_caps(kept, "url", "doc_id", max_per_domain=20)
    return capped.select("doc_id", extract_domain("url").alias("domain"))


@query(
    "mad_outliers",
    oracle="""
        WITH v AS (SELECT event_type, CAST(floor(value) AS BIGINT) AS x
                   FROM events WHERE value IS NOT NULL),
        c AS (SELECT event_type, x, count(*) AS c FROM v GROUP BY 1, 2),
        cum AS (SELECT event_type, x, c,
                       sum(c) OVER (PARTITION BY event_type ORDER BY x) AS cum
                FROM c),
        tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
        med AS (SELECT cum.event_type,
                       min(CASE WHEN cum >= (tot.n + 1) // 2 THEN x END) AS med
                FROM cum JOIN tot USING (event_type) GROUP BY 1),
        d AS (SELECT v.event_type, abs(v.x - med.med) AS dv
              FROM v JOIN med USING (event_type)),
        dc AS (SELECT event_type, dv, count(*) AS c FROM d GROUP BY 1, 2),
        dcum AS (SELECT event_type, dv, c,
                        sum(c) OVER (PARTITION BY event_type ORDER BY dv) AS cum
                 FROM dc),
        mad AS (SELECT dcum.event_type,
                       min(CASE WHEN cum >= (tot.n + 1) // 2 THEN dv END) AS mad
                FROM dcum JOIN tot USING (event_type) GROUP BY 1)
        SELECT v.event_type,
               CAST(count(*) AS BIGINT) AS n,
               max(m.med) AS med,
               max(md.mad) AS mad,
               CAST(sum(CASE WHEN abs(v.x - m.med) > 3 * md.mad
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        FROM v JOIN med m USING (event_type) JOIN mad md USING (event_type)
        GROUP BY 1 ORDER BY 1
    """,
    doc="robust per-event-type outlier accounting via median absolute "
    "deviation (median +- 3*MAD — the estimator the outliers themselves "
    "cannot move, unlike mean/stddev gates): values floor-quantized, both "
    "medians exact integer-rank type-1 quantiles over DISTINCT-value "
    "histograms (the quantile_profile mechanics twice), flag arithmetic "
    "pure integer — bit-exact cross-engine; raw rows are never windowed, "
    "only two (group, value) partial-combine aggs shuffle "
    "(operators/corpus.mad_profile)",
)
def q_mad_outliers(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import mad_profile

    e = _t(spark, sf_dir, "events")
    return mad_profile(e, "value", "event_type", k=3).orderBy("event_type")


@query(
    "quantile_profile",
    oracle=f"""
        WITH v AS (SELECT source, {_NTOK} AS n_tokens FROM documents),
        c AS (SELECT source, n_tokens, count(*) AS c FROM v GROUP BY source, n_tokens),
        cum AS (
            SELECT source, n_tokens, c,
                   sum(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum
            FROM c),
        tot AS (SELECT source, sum(c) AS n FROM c GROUP BY source),
        j AS (SELECT cum.*, tot.n FROM cum JOIN tot USING (source))
        SELECT source,
               CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN cum >= (1*n + 3) // 4 THEN n_tokens END) AS p25,
               min(CASE WHEN cum >= (1*n + 1) // 2 THEN n_tokens END) AS p50,
               min(CASE WHEN cum >= (3*n + 3) // 4 THEN n_tokens END) AS p75,
               min(CASE WHEN cum >= (9*n + 9) // 10 THEN n_tokens END) AS p90
        FROM j GROUP BY source
    """,
    doc="per-source exact token-count quantiles (north star: the corpus "
    "length-distribution dashboard): type-1 discrete quantiles with pure "
    "integer rank arithmetic — the corpus-sized work is ONE (source, value) "
    "partial-combine hash agg; the cumulative window runs over distinct "
    "values only, never the raw rows (operators/corpus.quantile_profile)",
)
def q_quantile_profile(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import quantile_profile

    d = _t(spark, sf_dir, "documents")
    v = d.select("source", token_count("text").cast("long").alias("n_tokens"))
    return quantile_profile(v, "n_tokens", "source")


@query(
    "quantile_sketch",
    # ORACLED as of r8 (VERDICT r7 item 8): at accuracy >= n the GK
    # summary retains every observation and percentile_approx IS the
    # exact type-1 integer-rank quantile (the convention the gated
    # stream_quantile_exec row already proves per window), so the
    # oracle is quantile_profile's exact SQL verbatim. The registry
    # entry's accuracy (10,000) exceeds n at every test SF; production
    # drops accuracy for bounded state — THAT regime's guarantee stays
    # the pytest-pinned rank-error bound (test_quantile_sketch_rank_
    # error_bound), not bit equality.
    oracle=f"""
        WITH v AS (SELECT source, {_NTOK} AS n_tokens FROM documents),
        c AS (SELECT source, n_tokens, count(*) AS c FROM v GROUP BY source, n_tokens),
        cum AS (
            SELECT source, n_tokens, c,
                   sum(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum
            FROM c),
        tot AS (SELECT source, sum(c) AS n FROM c GROUP BY source),
        j AS (SELECT cum.*, tot.n FROM cum JOIN tot USING (source))
        SELECT source,
               CAST(max(n) AS BIGINT) AS n,
               min(CASE WHEN cum >= (1*n + 3) // 4 THEN n_tokens END) AS p25,
               min(CASE WHEN cum >= (1*n + 1) // 2 THEN n_tokens END) AS p50,
               min(CASE WHEN cum >= (3*n + 3) // 4 THEN n_tokens END) AS p75,
               min(CASE WHEN cum >= (9*n + 9) // 10 THEN n_tokens END) AS p90
        FROM j GROUP BY source
    """,
    doc="mergeable approximate-quantile twin of quantile_profile (VERDICT "
    "r5 item 3): percentile_approx's GK-class summary built map-side per "
    "partition and merged in the partial-aggregate tree — one "
    "~O(accuracy)-sized sketch per partition per group crosses the wire "
    "regardless of value cardinality, where the exact form shuffles one row "
    "per distinct value (flat-vs-linear probe in BASELINE.md). The 100 TB "
    "multi-column profile path; rank error <= n/accuracy, pytest-pinned "
    "(operators/corpus.quantile_sketch)",
)
def q_quantile_sketch(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import quantile_sketch

    d = _t(spark, sf_dir, "documents")
    v = d.select("source", token_count("text").cast("long").alias("n_tokens"))
    return quantile_sketch(v, "n_tokens", "source")


@query(
    "token_histogram",
    oracle=f"""
        WITH v AS (SELECT source, {_NTOK} AS n_tokens FROM documents)
        SELECT source, (n_tokens // 10) * 10 AS bucket_lo,
               count(*) AS n
        FROM v GROUP BY source, bucket_lo
    """,
    doc="fixed-width per-source token-count histogram (corpus profiling): "
    "bucket_lo = (v div w)*w in integer arithmetic, one partial-combine hash "
    "agg (operators/corpus.value_histogram)",
)
def q_token_histogram(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import value_histogram

    d = _t(spark, sf_dir, "documents")
    v = d.select("source", token_count("text").cast("long").alias("n_tokens"))
    return value_histogram(v, "n_tokens", width=10, group_col="source")


@query(
    "compression_quality",
    oracle=None,  # zlib has no SQL twin — legitimately rows-only
    doc="compressibility quality signal (north star): per-doc zlib "
    "compressed/raw byte ratio — the information-theoretic repetition "
    "filter (templated text compresses far below prose); Arrow-batched "
    "mapInPandas pure map, zero shuffle "
    "(operators/corpus.compression_stats)",
)
def q_compression_quality(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import compression_stats

    d = _t(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    return compression_stats(d, "text", "doc_id")


@query(
    "shard_packing",
    oracle=f"""
        WITH v AS (SELECT doc_id, CAST({_NTOK} AS BIGINT) AS n_tokens FROM documents)
        SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    // 2000 AS BIGINT) AS shard_id
        FROM v
    """,
    doc="training-shard packing (north star: corpus export): rows packed "
    "into ~2000-token shards in doc_id order via the scale-safe two-pass "
    "prefix scan — per-partition totals + broadcast offsets + a window "
    "PARTITIONED by partition id; the oracle's global running-sum window "
    "is exactly what the operator refuses to run as one task "
    "(operators/windows.pack_shards)",
)
def q_shard_packing(spark, sf_dir):
    from hadoop_app_spark.operators.windows import pack_shards

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").cast("long").alias("n_tokens")
    )
    return pack_shards(d, "n_tokens", ["doc_id"], budget=2000).select(
        "doc_id", "n_tokens", "shard_id"
    )


@query(
    "url_canonical_dedup",
    oracle="""
        WITH u AS (
            SELECT doc_id,
                   CASE doc_id % 4
                        WHEN 0 THEN 'https://www.example.com/page/' || CAST(doc_id % 97 AS VARCHAR)
                        WHEN 1 THEN 'http://u@example.com:8080/page/' || CAST(doc_id % 97 AS VARCHAR) || '/?utm_source=x&b=2&a=1#top'
                        WHEN 2 THEN 'example.com/page/' || CAST(doc_id % 97 AS VARCHAR) || '?b=2&a=1'
                        ELSE 'HTTPS://User@Example.COM/page/' || CAST(doc_id % 97 AS VARCHAR) || '/#frag'
                   END AS url
            FROM documents),
        parts AS (
            SELECT doc_id,
                   regexp_replace(
                       regexp_extract(lower(url),
                           '^(?:[a-z][a-z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)', 1),
                       '^www\\.', '') AS host,
                   regexp_replace(
                       regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                       '^[^/@?#]*@', '') AS rest
            FROM u),
        pq AS (
            SELECT doc_id, host,
                   regexp_replace(
                       regexp_extract(rest, '^[^/?#]*(/[^?#]*)?', 1), '/+$', '') AS path,
                   list_sort(list_filter(
                       string_split(regexp_extract(rest, '\\?([^#]*)', 1), '&'),
                       p -> p <> '' AND NOT regexp_matches(p,
                           '^(utm_[^=]*|gclid|fbclid|mc_cid|mc_eid|igshid)='))) AS params
            FROM parts),
        canon AS (
            SELECT doc_id,
                   host || path ||
                   CASE WHEN len(params) > 0
                        THEN '?' || array_to_string(params, '&') ELSE '' END AS canonical_url
            FROM pq)
        SELECT canonical_url, min(doc_id) AS keeper_id,
               count(*) AS n_dups
        FROM canon GROUP BY canonical_url
    """,
    doc="canonical-URL crawl dedup (north star: one logical page, many raw "
    "spellings): scheme/userinfo/port/fragment/www/trailing-slash stripped, "
    "tracking params dropped, surviving params sorted; variants fold via ONE "
    "partial-combine hash agg on the canonical string — hot pages collapse "
    "map-side, no window. URL variants synthesized deterministically from "
    "documents so both engines build and fold identical strings "
    "(operators/corpus.canonicalize_url / url_dedup)",
)
def q_url_canonical_dedup(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import url_dedup

    d = _t(spark, sf_dir, "documents")
    pid = (F.col("doc_id") % 97).cast("string")
    url = (
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("https://www.example.com/page/"), pid))
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("http://u@example.com:8080/page/"), pid, F.lit("/?utm_source=x&b=2&a=1#top")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("example.com/page/"), pid, F.lit("?b=2&a=1")),
        )
        .otherwise(F.concat(F.lit("HTTPS://User@Example.COM/page/"), pid, F.lit("/#frag")))
    )
    docs = d.select("doc_id", url.alias("url"))
    return url_dedup(docs, "url", "doc_id")


@query(
    "duplicate_passages",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (
            SELECT doc_id,
                   CAST(unnest(range(1, greatest(len(toks) - 5, 0) + 1)) AS BIGINT) AS pos,
                   toks
            FROM t),
        g2 AS (SELECT doc_id, pos,
                      array_to_string(toks[pos:pos+5], ' ') AS gram
               FROM g),
        dup AS (SELECT gram FROM g2 GROUP BY gram HAVING min(doc_id) <> max(doc_id)),
        h AS (SELECT doc_id, pos FROM g2 WHERE gram IN (SELECT gram FROM dup)),
        isl AS (
            SELECT doc_id, pos,
                   CASE WHEN lag(pos) OVER w IS NULL
                             OR pos > lag(pos) OVER w + 6
                        THEN 1 ELSE 0 END AS brk
            FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        isl2 AS (SELECT doc_id, pos,
                        sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
                 FROM isl)
        SELECT doc_id, min(pos) AS span_start,
               max(pos) + 5 AS span_end,
               max(pos) + 5 - min(pos) + 1 AS span_tokens
        FROM isl2 GROUP BY doc_id, island
    """,
    doc="cross-document duplicated-passage spans (north star: substring-level "
    "dedup, Lee et al. 2022 style at word granularity, n=6): maximal token "
    "runs covered by grams occurring in >1 document, merged "
    "gaps-and-islands per doc. Dup grams via GROUP-BY min/max-doc partial "
    "aggregate (never a gram window); span merge is a per-doc window "
    "(operators/corpus.duplicate_passage_spans)",
)
def q_duplicate_passages(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import duplicate_passage_spans

    d = _t(spark, sf_dir, "documents")
    return duplicate_passage_spans(
        d, "text", "doc_id", n=6,
        repartition_to=spark.sparkContext.defaultParallelism,
    )


@query(
    "image_resize",
    # fake-mode resize emits a solid (h%256, h>>8%256, h>>16%256) image;
    # the oracle refolds the payload bytes (hex-pair fold, as
    # image_features) and reconstructs the first pixel's 3 bytes + the
    # exact P6 payload size, so the re-encode is value-checked too
    oracle="""
        WITH hx AS (
            SELECT doc_id, substr(hex(encode(text)), 1, 128) AS h FROM documents),
        folded AS (
            SELECT doc_id,
                   list_reduce(
                       list_prepend(CAST(0 AS BIGINT),
                           [CAST((strpos('0123456789ABCDEF', substr(h, 2*i - 1, 1)) - 1) * 16
                                 + strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1 AS BIGINT)
                            for i in range(1, length(h) // 2 + 1)]),
                       (acc, b) -> (acc * 31 + b) % 1000000007) AS hv
            FROM hx)
        SELECT doc_id AS asset_id,
               CAST(8 AS INTEGER) AS width,
               CAST(6 AS INTEGER) AS height,
               CAST(155 AS INTEGER) AS n_bytes,
               lpad(upper(to_hex(hv % 256)), 2, '0')
                 || lpad(upper(to_hex((hv // 256) % 256)), 2, '0')
                 || lpad(upper(to_hex((hv // 65536) % 256)), 2, '0') AS first_pixel
        FROM folded
    """,
    doc="mapInPandas image resize to 8x6 PPM (north star multimodal: the "
    "decode/extract/resize/frame-sample quartet); fake solid-color kernel "
    "(deterministic byte-fold), REAL re-encode — the oracle reconstructs the "
    "payload size and first-pixel bytes (operators/multimodal.resize_images; "
    "real nearest-neighbor decode path pytest-covered on PPM/BMP fixtures)",
)
def q_image_resize(spark, sf_dir):
    from hadoop_app_spark.operators.multimodal import resize_images

    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("payload", F.encode("text", "UTF-8"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    out = resize_images(d, "doc_id", "payload", 8, 6, fake=True)
    return out.select(
        "asset_id",
        "width",
        "height",
        F.length("payload").alias("n_bytes"),
        F.hex(F.expr("substring(payload, 12, 3)")).alias("first_pixel"),
    )


@query(
    "bucketed_join",
    oracle="""
        SELECT c_mktsegment,
               count(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total_price
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    doc="co-located bucketed join (the repeated fact-fact join scale strategy): "
    "both sides written bucketBy+sortBy(custkey) via saveAsTable, then joined "
    "exchange-free — SortMergeJoin consumes the bucket layout directly; the "
    "exchange-free plan property is pinned in pytest, this query gates the "
    "VALUES produced through the bucketed read path "
    "(operators/bucketing.write_bucketed/bucketed_join)",
)
def q_bucketed_join(spark, sf_dir):
    from hadoop_app_spark.operators.bucketing import bucketed_join, write_bucketed

    # fixed names + overwrite: idempotent across runs, no warehouse growth
    lt, rt = "bkt_orders_gate", "bkt_customer_gate"
    write_bucketed(_t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"), lt, ["o_custkey"], 8)
    write_bucketed(_t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"), rt, ["c_custkey"], 8)
    joined = bucketed_join(spark, lt, rt, F.expr("o_custkey = c_custkey"))
    return joined.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"), _dsum("o_totalprice").alias("total_price")
    )


@query(
    "simhash_band_neardup",
    # Brute-force all-pairs oracle: banding recall is EXACT for
    # max_hamming < bands (pigeonhole — a pair within Hamming 3 of a
    # 4-band fingerprint must agree on one band), so the O(n^2) DuckDB
    # scan and the bucketed plan must produce the SAME pair set; the
    # oracle thereby value-checks the recall guarantee itself.
    # Precondition: exact recall also needs NO band bucket past the
    # engine's max_bucket_size=1000 star-expansion threshold (an
    # overflowing bucket pairs its members with the bucket min only).
    # Measured max band bucket: 52 at sf0.01, 384 at sf0.1 (~7x per
    # 10x, so it would cross the cap around sf1; re-measure before
    # oracling larger SFs).
    oracle=f"""
        WITH RECURSIVE {_simhash_sh_cte()}
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(bit_count(xor(a.s, b.s)) AS INTEGER) AS hamming
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.s, b.s)) <= 3
    """,
    doc="SimHash Hamming-banded near-dup pairs (north star dedup family, Manku "
    "et al. WWW'07 class): 56-bit fingerprint from two salted crc32 token "
    "hashes in one mapInPandas pass, 4x14-bit band bucket join, "
    "bit_count(xor) verify; recall is EXACT for hamming<=3 by pigeonhole and the oracle proves it against a "
    "brute-force all-pairs scan. Fingerprint computed ONCE (rides into the "
    "pair structs), bucket stats via groupBy-agg join-back (never a bucket "
    "window), degenerate buckets star-expanded with observed counts "
    "(operators/dedup.simhash_band_pairs)",
)
def q_simhash_band_neardup(spark, sf_dir):
    from hadoop_app_spark.operators.dedup import simhash_band_pairs

    d = _t(spark, sf_dir, "documents")
    return simhash_band_pairs(d, "text", "doc_id", bands=4, max_hamming=3)


@query(
    "bm25_retrieval",
    oracle=f"""
        WITH dl AS (SELECT doc_id, CAST({_NTOK} AS BIGINT) AS dl FROM documents),
        st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t
               WHERE term IN ('vector', 'stream', 'merge', 'filter') GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (st.n - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                        / (CAST(st.sumdl AS DOUBLE) / st.n))) AS s
            FROM tf JOIN dfreq USING (term)
                    JOIN dl ON tf.doc_id = dl.doc_id
                    CROSS JOIN st),
        agg AS (SELECT doc_id,
                       CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score,
                       count(*) AS n_terms
                FROM scored GROUP BY 1)
        SELECT doc_id, score, n_terms FROM agg
        ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="BM25 top-10 keyword retrieval (north star retrieval: decontamination "
    "lookups / eval-set mining over a curated dump): term filter lands right "
    "after the explode so only query-matching rows shuffle, df+N/avgdl are "
    "broadcast-size side aggregates, per-term scores sum in DECIMAL(18,6) so "
    "accumulation order cannot diverge across engines (the ln stays inside one "
    "per-row expression with identical operands), final stage is the same "
    "TakeOrderedAndProject partial top-k that global_topn gated — with id "
    "tiebreak for a deterministic k-boundary "
    "(operators/retrieval.bm25_topk)",
)
def q_bm25_retrieval(spark, sf_dir):
    from hadoop_app_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, "text", "doc_id", ["vector", "stream", "merge", "filter"], k=10)


@query(
    "retrieval_ndcg",
    # the discount table is TEN INTEGER LITERALS (floor(1000/log2(p+1))
    # baked as engine constants — no float log in either engine), so
    # DCG/IDCG/nDCG/MRR are exact integer arithmetic end to end;
    # rankings use the same (tf desc, id) / (rel desc, tf desc, id)
    # deterministic orders in both engines
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT term, doc_id, count(*) AS tf FROM t
               WHERE term IN ('vector', 'stream', 'merge', 'filter')
               GROUP BY 1, 2),
        g AS (SELECT term, least(tf, 3) AS rel,
                     row_number() OVER (PARTITION BY term
                                        ORDER BY tf DESC, doc_id) AS rank,
                     row_number() OVER (PARTITION BY term
                                        ORDER BY least(tf, 3) DESC, tf DESC,
                                                 doc_id) AS irank
              FROM tf),
        w(pos, wm) AS (VALUES (1, 1000), (2, 630), (3, 500), (4, 430),
                              (5, 386), (6, 356), (7, 333), (8, 315),
                              (9, 301), (10, 289)),
        sysg AS (SELECT term, CAST(sum(rel * wm) AS BIGINT) AS dcg_milli
                 FROM g JOIN w ON w.pos = g.rank GROUP BY 1),
        idealg AS (SELECT term, CAST(sum(rel * wm) AS BIGINT) AS idcg_milli
                   FROM g JOIN w ON w.pos = g.irank GROUP BY 1),
        mrr AS (SELECT term, min(rank) AS fr FROM g
                WHERE rel >= 3 AND rank <= 10 GROUP BY 1),
        cnt AS (SELECT term, CAST(count(*) AS BIGINT) AS n_ranked FROM g
                WHERE rank <= 10 GROUP BY 1)
        SELECT term, n_ranked, dcg_milli, idcg_milli,
               CAST(dcg_milli * 1000 // idcg_milli AS BIGINT) AS ndcg_milli,
               CAST(coalesce(1000 // fr, 0) AS BIGINT) AS mrr_milli
        FROM cnt JOIN sysg USING (term) JOIN idealg USING (term)
                 LEFT JOIN mrr USING (term)
    """,
    doc="retrieval ranking-quality metrics — nDCG@10 and MRR in exact "
    "integer milli-units (operators/retrieval.retrieval_eval, the "
    "EVALUATION face of the retrieval family: bm25/inverted/hybrid rank "
    "documents, this scores the ranking): graded relevance = capped "
    "term frequency, system order (tf desc, id), ideal order (rel desc, "
    "tf desc, id), position discounts from a ten-entry integer literal "
    "table (floor(1000/log2(pos+1)) baked as engine constants — no "
    "float log anywhere, the token_pmi convention); term filter lands "
    "at the explode so only query-matching rows shuffle, both rankings "
    "are per-term windows over filter-bounded candidates, output "
    "|terms| rows",
)
def q_retrieval_ndcg(spark, sf_dir):
    from hadoop_app_spark.operators.retrieval import retrieval_eval

    d = _t(spark, sf_dir, "documents")
    return retrieval_eval(
        d, "text", "doc_id", ["vector", "stream", "merge", "filter"], k=10
    )


@query(
    "hybrid_retrieval",
    # integer-rank-only output: the RRF doubles exist only inside the
    # ORDER BY, computed from identical integers in both engines, so
    # the oracle is bit-exact (VERDICT r5 item 5)
    oracle=f"""
        WITH dl AS (SELECT doc_id, CAST({_NTOK} AS BIGINT) AS dl FROM documents),
        st AS (SELECT count(*) AS n, sum(dl) AS sumdl FROM dl),
        t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM t
               WHERE term IN ('vector', 'stream', 'merge', 'filter') GROUP BY 1, 2),
        dfreq AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   ln(1.0 + (st.n - dfreq.dfreq + 0.5) / (dfreq.dfreq + 0.5))
                   * (tf.tf * 2.2)
                   / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl
                        / (CAST(st.sumdl AS DOUBLE) / st.n))) AS s
            FROM tf JOIN dfreq USING (term)
                    JOIN dl ON tf.doc_id = dl.doc_id
                    CROSS JOIN st),
        agg AS (SELECT doc_id,
                       CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS score
                FROM scored GROUP BY 1),
        kw AS (SELECT doc_id, kw_rank FROM (
                 SELECT doc_id,
                        CAST(row_number() OVER (ORDER BY score DESC, doc_id)
                             AS INTEGER) AS kw_rank
                 FROM agg) WHERE kw_rank <= 20),
        qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings),
        vscored AS (
            SELECT c.vec_id,
                   list_reduce(list_prepend(0.0, [cv[i] * qv[i] for i in range(1, len(cv) + 1)]),
                               (a, x) -> a + x)
                   / (sqrt(list_reduce(list_prepend(0.0, [cv[i] * cv[i] for i in range(1, len(cv) + 1)]), (a, x) -> a + x))
                      * sqrt(list_reduce(list_prepend(0.0, [qv[i] * qv[i] for i in range(1, len(qv) + 1)]), (a, x) -> a + x)))
                   AS cosine
            FROM c CROSS JOIN qv WHERE c.vec_id <> 0),
        vec AS (SELECT doc_id, vec_rank FROM (
                  SELECT vec_id AS doc_id,
                         CAST(row_number() OVER (ORDER BY cosine DESC, vec_id)
                              AS INTEGER) AS vec_rank
                  FROM vscored) WHERE vec_rank <= 20),
        fused AS (
            SELECT COALESCE(kw.doc_id, vec.doc_id) AS doc_id, kw_rank, vec_rank,
                   COALESCE(CAST(1 AS DOUBLE) / (60 + kw_rank), 0)
                   + COALESCE(CAST(1 AS DOUBLE) / (60 + vec_rank), 0) AS s
            FROM kw FULL OUTER JOIN vec ON kw.doc_id = vec.doc_id)
        SELECT doc_id, kw_rank, vec_rank, fused_rank FROM (
            SELECT doc_id, kw_rank, vec_rank,
                   CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INTEGER)
                        AS fused_rank
            FROM fused) WHERE fused_rank <= 10
    """,
    doc="hybrid retrieval via reciprocal-rank fusion (VERDICT r5 item 5): "
    "the BM25 keyword arm (top-20, the gated bm25_retrieval pipeline) and "
    "the embedding cosine arm (top-20 for the vec_id=0 query, the gated ANN "
    "kernel) full-outer-join on doc id and fuse as sum(1/(60+rank)) — the "
    "standard RAG retrieval stack in one query. All corpus-sized work "
    "happens inside the arms; fusion + the rank-by-count self-join touch "
    "O(k) rows (operators/retrieval.rrf_fuse / bounded_rank)",
)
def q_hybrid_retrieval(spark, sf_dir):
    from hadoop_app_spark.operators.retrieval import bm25_topk, bounded_rank, rrf_fuse
    from hadoop_app_spark.operators.similarity import brute_force_topk

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    kw20 = bm25_topk(
        docs, "text", "doc_id", ["vector", "stream", "merge", "filter"], k=20
    ).select("doc_id", "score")
    kw = bounded_rank(kw20, "score", "doc_id", rank_col="kw_rank").select(
        "doc_id", "kw_rank"
    )
    queries = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.repartition(spark.sparkContext.defaultParallelism)
    vec = (
        brute_force_topk(corpus, queries, k=20)
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("vec_rank"))
    )
    return rrf_fuse(kw, vec, id_col="doc_id", k_rrf=60, k=10)


@query(
    "dsir_select",
    # the oracle rebuilds the ENTIRE method — hashed features, smoothed
    # bucket models, decimal-accumulated log-ratio weights, top-k — so
    # the driver value-checks the selection math, not just the shape.
    # Every ln sees identical exact-integer-derived double operands in
    # both engines; the per-doc sum uses the bm25 DECIMAL(18,6) trick.
    oracle=f"""
        WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, source, unnest(t) AS g FROM toks
            UNION ALL
            SELECT doc_id, source,
                   unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
            FROM toks WHERE len(t) >= 2),
        feats AS (
            SELECT doc_id, source,
                   CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bucket
            FROM grams),
        fcnt AS (SELECT doc_id, bucket, count(*) AS n FROM feats GROUP BY 1, 2),
        cr AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS cr FROM fcnt GROUP BY 1),
        ct AS (SELECT bucket, count(*) AS ct FROM feats
               WHERE source = 'src0' GROUP BY 1),
        tr AS (SELECT CAST(sum(cr) AS BIGINT) AS R FROM cr),
        tt AS (SELECT CAST(sum(ct) AS BIGINT) AS T FROM ct),
        model AS (
            SELECT cr.bucket,
                   ln((CAST(2 * coalesce(ct.ct, 0) + 1 AS DOUBLE)
                       * CAST(2 * tr.R + 4096 AS DOUBLE))
                      / (CAST(2 * cr.cr + 1 AS DOUBLE)
                         * CAST(2 * tt.T + 4096 AS DOUBLE))) AS lr
            FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tr CROSS JOIN tt),
        scored AS (
            SELECT f.doc_id, CAST(sum(f.n) AS BIGINT) AS n_features,
                   CAST(SUM(CAST(f.n * m.lr AS DECIMAL(18,6))) AS DOUBLE) AS weight
            FROM fcnt f JOIN model m USING (bucket) GROUP BY 1)
        SELECT doc_id, n_features, weight FROM scored
        ORDER BY weight DESC, doc_id LIMIT 100
    """,
    doc="DSIR-class data selection (Xie et al. 2023): md5-hashed unigram+"
    "bigram bucket models for the target domain (source='src0') vs the raw "
    "add-half-smoothed log-ratio importance weights accumulated per doc in "
    "DECIMAL(18,6), deterministic top-k selection (the zero-temperature "
    "resampling limit) via TakeOrderedAndProject. Corpus-sized work = two "
    "explode->partial-agg passes; the bucket model is B=4096 rows broadcast "
    "(operators/dsir.dsir_select)",
)
def q_dsir_select(spark, sf_dir):
    from hadoop_app_spark.operators.dsir import dsir_select

    d = _t(spark, sf_dir, "documents")
    return dsir_select(
        d, d.where(F.col("source") == "src0"), "text", "doc_id",
        k=100, n_buckets=4096,
    )


@query(
    "dsir_resample",
    # the SAME scoring CTEs as dsir_select, then the paper's actual
    # importance resampling via deterministic Gumbel-top-k: u is an
    # exact dyadic in (0,1) from the md5 content fingerprint, so both
    # engines feed ln identical doubles and the sampled MEMBERSHIP is
    # reproduced exactly (the perturbed key stays selection-internal)
    oracle=f"""
        WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
        grams AS (
            SELECT doc_id, source, unnest(t) AS g FROM toks
            UNION ALL
            SELECT doc_id, source,
                   unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS g
            FROM toks WHERE len(t) >= 2),
        feats AS (
            SELECT doc_id, source,
                   CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 4096 AS bucket
            FROM grams),
        fcnt AS (SELECT doc_id, bucket, count(*) AS n FROM feats GROUP BY 1, 2),
        cr AS (SELECT bucket, CAST(sum(n) AS BIGINT) AS cr FROM fcnt GROUP BY 1),
        ct AS (SELECT bucket, count(*) AS ct FROM feats
               WHERE source = 'src0' GROUP BY 1),
        tr AS (SELECT CAST(sum(cr) AS BIGINT) AS R FROM cr),
        tt AS (SELECT CAST(sum(ct) AS BIGINT) AS T FROM ct),
        model AS (
            SELECT cr.bucket,
                   ln((CAST(2 * coalesce(ct.ct, 0) + 1 AS DOUBLE)
                       * CAST(2 * tr.R + 4096 AS DOUBLE))
                      / (CAST(2 * cr.cr + 1 AS DOUBLE)
                         * CAST(2 * tt.T + 4096 AS DOUBLE))) AS lr
            FROM cr LEFT JOIN ct USING (bucket) CROSS JOIN tr CROSS JOIN tt),
        scored AS (
            SELECT f.doc_id, CAST(sum(f.n) AS BIGINT) AS n_features,
                   CAST(SUM(CAST(f.n * m.lr AS DECIMAL(18,6))) AS DOUBLE) AS weight
            FROM fcnt f JOIN model m USING (bucket) GROUP BY 1),
        gumb AS (
            SELECT doc_id,
                   -ln(-ln((CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT)
                            % 1048576 + 0.5) / 1048576.0)) AS g
            FROM documents)
        SELECT s.doc_id, s.n_features, s.weight
        FROM scored s JOIN gumb USING (doc_id)
        ORDER BY s.weight / 1.0 + gumb.g DESC, s.doc_id LIMIT 100
    """,
    doc="DSIR importance RESAMPLING (the Xie et al. 2023 paper's sampled "
    "form, vs dsir_select's zero-temperature argmax): k docs without "
    "replacement with probability proportional to exp(weight/T) via the "
    "Gumbel-top-k identity, with the Gumbel noise derived from the md5 "
    "content fingerprint instead of an RNG — membership is re-run- and "
    "repartition-stable and the oracle recomputes it exactly. Same "
    "corpus-sized passes as dsir_select plus one narrow fingerprint "
    "projection (operators/dsir.dsir_resample)",
)
def q_dsir_resample(spark, sf_dir):
    from hadoop_app_spark.operators.dsir import dsir_resample

    d = _t(spark, sf_dir, "documents")
    return dsir_resample(
        d, d.where(F.col("source") == "src0"), "text", "doc_id",
        k=100, n_buckets=4096,
    )


@query(
    "sample_per_group",
    oracle=f"""
        SELECT doc_id, source, n_chars
        FROM (SELECT doc_id, source, n_chars,
                     row_number() OVER (PARTITION BY source
                                        ORDER BY fp, doc_id) AS rn
              FROM (SELECT doc_id, source, n_chars, {_FP_SQL} AS fp
                    FROM documents))
        WHERE rn <= 10
    """,
    doc="fixed-size per-group sample (north star: 'k docs per source for "
    "eval/spot-check'): exactly min(k, |group|) rows, ranked by (content "
    "fingerprint, id) so membership is pseudo-random yet re-run-stable; the "
    "keyed row_number window is WindowGroupLimit-pruned past k map-side "
    "(operators/corpus.sample_k_per_group)",
)
def q_sample_per_group(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import sample_k_per_group

    d = _t(spark, sf_dir, "documents")
    return sample_k_per_group(d, "source", 10).select("doc_id", "source", "n_chars")


@query(
    "lm_perplexity",
    oracle=f"""
        WITH t AS (SELECT doc_id, source, {_TOKS} AS toks FROM documents),
        tg AS (SELECT doc_id, source,
                      unnest([array_to_string(toks[i:i+1], ' ')
                              for i in range(1, greatest(len(toks) - 1, 0) + 1)]) AS g
               FROM t WHERE len(toks) >= 2),
        big AS (SELECT g, count(*) AS cpc FROM tg WHERE source = 'src0' GROUP BY g),
        ctx AS (SELECT string_split(g, ' ')[1] AS prev, count(*) AS cp
                FROM tg WHERE source = 'src0' GROUP BY 1),
        voc AS (SELECT count(DISTINCT tok) AS v
                FROM (SELECT unnest(toks) AS tok FROM t WHERE source = 'src0')),
        scored AS (
            SELECT tg.doc_id,
                   ln((coalesce(big.cpc, 0) + 1.0)
                      / (coalesce(ctx.cp, 0) + voc.v)) AS logp
            FROM tg LEFT JOIN big USING (g)
                    LEFT JOIN ctx ON string_split(tg.g, ' ')[1] = ctx.prev
                    CROSS JOIN voc)
        SELECT doc_id,
               count(*) AS n_transitions,
               CAST(SUM(CAST(-logp AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                   AS cross_entropy
        FROM scored GROUP BY doc_id
    """,
    doc="bigram LM cross-entropy scoring (north star: the CCNet-class "
    "perplexity quality filter): add-one-smoothed bigram model trained on the "
    "src0 reference slice as DataFrame count tables (vocabulary never "
    "broadcasts, unlike an in-memory LM), every doc scored by mean -ln "
    "P(cur|prev) via two keyed equi-joins + a one-row vocab broadcast; "
    "per-transition log-probs sum in DECIMAL(18,6) so accumulation order "
    "cannot diverge across engines (operators/corpus.bigram_lm_crossentropy)",
)
def q_lm_perplexity(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import bigram_lm_crossentropy

    d = _t(spark, sf_dir, "documents")
    train = d.where(F.col("source") == "src0")
    return bigram_lm_crossentropy(
        train, d, repartition_to=spark.sparkContext.defaultParallelism
    ).select("doc_id", "n_transitions", "cross_entropy")


@query(
    "wordpiece_merges",
    oracle=None,  # assigned below: _wordpiece_trainer_oracle (needs
    # the builder defined after this block). Until r9 this was
    # rows-only ('per-round argmax loop has no SQL twin'); the
    # bpe_merges technique closes it, with the RATIONAL score argmax
    # done exactly via NOT-EXISTS cross-multiplication in HUGEINT
    # (comparison-only — never an output column, so the driver's
    # pandas canonicalizer never sees a HUGEINT). The independent
    # Fraction-scored reference stays pinned in tests/test_wordpiece.py
    # (a THIRD exactness mechanism, so a scoring bug cannot hide).
    doc="WordPiece merge induction (Schuster & Nakajima 2012 — the third "
    "tokenizer family member): merges the adjacent pair maximizing "
    "count(ab)/(count(a)*count(b)) — cohesion, not raw frequency — with "
    "word-internal symbols carrying the ## continuation prefix. Scores are "
    "exact rationals compared by integer cross-multiplication, argmax fully "
    "deterministic; one corpus scan -> guarded vocabulary collect -> "
    "driver-side induction, the learn_bpe_merges shape; and — new in "
    "r9 — the WHOLE 64-round loop is ORACLED by a from-scratch DuckDB "
    "replay whose argmax cross-multiplies in HUGEINT inside a NOT EXISTS "
    "(operators/wordpiece.learn_wordpiece)",
)
def q_wordpiece_merges(spark, sf_dir):
    from hadoop_app_spark.operators.wordpiece import learn_wordpiece

    d = _t(spark, sf_dir, "documents")
    merges, _, _ = learn_wordpiece(d, "text", n_merges=64, top_words=2_500)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


def _wordpiece_trainer_oracle(n_merges: int = 64, top_words: int = 2_500) -> str:
    """DuckDB replay of the entire WordPiece induction loop — the
    bpe_merges technique with one twist: the score is a RATIONAL
    (count(ab)/(count(a)*count(b))), so the argmax cannot be an ORDER
    BY key; instead each round's best pair is the one NO other pair
    beats under exact integer cross-multiplication (NOT EXISTS over
    the vocab-bounded scored-pair frame, products in HUGEINT so
    count*count*count cannot overflow BIGINT — HUGEINT stays inside
    the comparison and never reaches an output column). top_words
    replays learn_wordpiece's (count desc, word) frequency floor. AS
    MATERIALIZED is load-bearing, as in _bpe_trainer_oracle."""
    parts = [
        f"""
        WITH RECURSIVE
        wf AS MATERIALIZED (
            SELECT w, c FROM (
                SELECT w, c, row_number() OVER (ORDER BY c DESC, w) AS rn
                FROM (SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                          SELECT unnest(string_split(lower(text), ' ')) AS w
                          FROM documents)
                      WHERE w <> '' GROUP BY w))
            WHERE rn <= {top_words}),
        s0 AS MATERIALIZED (
            SELECT w, [CASE WHEN j = 1 THEN w[j] ELSE '##' || w[j] END
                       for j in range(1, length(w)+1)] AS syms, c
            FROM wf)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f""",
        sc{k} AS MATERIALIZED (
            SELECT t.s AS sym, sum(x.c) AS n
            FROM s{p} x, unnest(x.syms) AS t(s) GROUP BY 1),
        sp{k} AS MATERIALIZED (
            SELECT pr.l, pr.r, pr.n AS num, la.n * rb.n AS den
            FROM (SELECT u.p.l AS l, u.p.r AS r, sum(x.c) AS n
                  FROM s{p} x,
                       unnest([{{'l': x.syms[i], 'r': x.syms[i+1]}}
                               for i in range(1, len(x.syms))]) AS u(p)
                  WHERE len(x.syms) >= 2 GROUP BY 1, 2) pr
            JOIN sc{k} la ON la.sym = pr.l
            JOIN sc{k} rb ON rb.sym = pr.r),
        b{k} AS MATERIALIZED (
            SELECT x.l, x.r,
                   x.l || CASE WHEN starts_with(x.r, '##')
                               THEN substr(x.r, 3) ELSE x.r END AS m
            FROM sp{k} x
            WHERE NOT EXISTS (
                SELECT 1 FROM sp{k} y
                WHERE CAST(y.num AS HUGEINT) * x.den
                      > CAST(x.num AS HUGEINT) * y.den
                   OR (CAST(y.num AS HUGEINT) * x.den
                       = CAST(x.num AS HUGEINT) * y.den
                       AND (y.l < x.l OR (y.l = x.l AND y.r < x.r))))),
        rw{k}(w, syms, i, acc, c) AS (
            SELECT w, syms, 1, CAST([] AS TEXT[]), c FROM s{p}
            UNION ALL
            SELECT w, syms,
                   CASE WHEN i < len(syms)
                             AND syms[i] = (SELECT l FROM b{k})
                             AND syms[i+1] = (SELECT r FROM b{k})
                        THEN i + 2 ELSE i + 1 END,
                   CASE WHEN i < len(syms)
                             AND syms[i] = (SELECT l FROM b{k})
                             AND syms[i+1] = (SELECT r FROM b{k})
                        THEN acc || [(SELECT m FROM b{k})]
                        ELSE acc || [syms[i]] END,
                   c
            FROM rw{k} WHERE i <= len(syms)),
        s{k} AS MATERIALIZED (
            SELECT w, acc AS syms, c FROM rw{k} WHERE i = len(syms) + 1)"""
        )
    sel = "\n        UNION ALL\n".join(
        f'        SELECT {k - 1} AS rank, l AS "left", r AS "right" FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


REGISTRY["wordpiece_merges"] = QueryDef(
    REGISTRY["wordpiece_merges"].fn,
    _wordpiece_trainer_oracle(64, 2_500),
    REGISTRY["wordpiece_merges"].doc,
)


def _wordpiece_token_count_oracle(
    n_merges: int = 64, top_words: int = 2_500
) -> str:
    """Oracle for WordPiece token counting under the LEARNED piece
    set: the trainer replay's final vocabulary state s{n} yields the
    piece set (distinct trained symbols), and the greedy longest-
    match walker from _wordpiece_fixed_oracle runs against that CTE
    instead of an inlined VALUES list — trainer and encoder both
    derived from scratch in SQL, the bpe_token_count composition for
    the third tokenizer family."""
    trainer = _wordpiece_trainer_oracle(n_merges, top_words)
    body = trainer[: trainer.rindex("\n        SELECT 0 AS rank")]
    return f"""{body},
        pcs AS MATERIALIZED (
            SELECT DISTINCT t.s AS sym FROM s{n_merges} x, unnest(x.syms) AS t(s)),
        pieces AS MATERIALIZED (
            SELECT starts_with(sym, '##') AS cont,
                   CASE WHEN starts_with(sym, '##') THEN substr(sym, 3)
                        ELSE sym END AS body
            FROM pcs),
        dw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
        words AS (SELECT DISTINCT word FROM dw),
        pos AS (SELECT word, unnest(generate_series(1, length(word))) AS p
                FROM words),
        step AS (
          SELECT pos.word, pos.p, coalesce(max(length(pc.body)), 1) AS s
          FROM pos LEFT JOIN pieces pc
            ON pc.cont = (pos.p > 1)
           AND pc.body = substr(pos.word, pos.p, length(pc.body))
          GROUP BY pos.word, pos.p
        ),
        walk(word, p, k) AS (
          SELECT word, 1, 0 FROM words
          UNION ALL
          SELECT w.word, w.p + st.s, w.k + 1
          FROM walk w JOIN step st ON st.word = w.word AND st.p = w.p
          WHERE w.p <= length(w.word)
        ),
        wtok AS (SELECT word, k FROM walk WHERE p = length(word) + 1),
        agg AS (
          SELECT dw.doc_id, count(*) AS n_words, sum(wtok.k) AS wp_tokens
          FROM dw JOIN wtok USING (word) GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.wp_tokens, 0) AS BIGINT) AS wp_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
    """


@query(
    "wordpiece_token_count",
    oracle=_wordpiece_token_count_oracle(64, 2_500),  # rows-only until
    # r9 ('a STATIC SQL string cannot reproduce the corpus-learned
    # piece set'): the trainer replay now DERIVES the piece set in SQL
    # and the greedy walker encodes against it — sf-independent. The
    # cross-implementation pin (duckdb load + naive Fraction trainer +
    # independently coded segmenter) stays in tests/test_wordpiece.py
    # as the third exactness mechanism.
    doc="WordPiece token counting under the corpus-learned piece set: greedy "
    "longest-match-first segmentation (the standard inference rule, with "
    "per-character OOV fallback so counts stay total) as a distributed "
    "mapInPandas kernel with a per-batch word cache — the bpe_token_count / "
    "unigram_token_count shape completing the tokenizer-family encode "
    "surface (operators/wordpiece.wordpiece_token_counts)",
)
def q_wordpiece_token_count(spark, sf_dir):
    from hadoop_app_spark.operators.wordpiece import (
        learn_wordpiece,
        wordpiece_token_counts,
    )

    d = _t(spark, sf_dir, "documents")
    _, pieces, _ = learn_wordpiece(d, "text", n_merges=64, top_words=2_500)
    return wordpiece_token_counts(
        d, pieces, repartition_to=spark.sparkContext.defaultParallelism
    )


@query(
    "unigram_vocab",
    oracle=None,  # lattice EM has no SQL twin — rows-only; the trainer
    # is pinned EXACTLY (keys + bit-identical float scores) against an
    # independently written naive reference in tests/test_unigram.py
    doc="unigram-LM (SentencePiece-class, Kudo 2018) tokenizer training "
    "(VERDICT r5 item 4): ONE corpus scan -> word-frequency table -> "
    "top_words frequency-floored collect -> driver-side forward-backward EM "
    "with expected-count pruning, exactly the learn_bpe_merges shape — "
    "trainer cost is O(top_words), independent of corpus scale; returns the "
    "[piece, score] vocabulary (operators/unigram.learn_unigram_fast)",
)
def q_unigram_vocab(spark, sf_dir):
    from hadoop_app_spark.operators.unigram import learn_unigram_fast

    d = _t(spark, sf_dir, "documents")
    _, table = learn_unigram_fast(
        d, vocab_size=300, seed_size=1_500, top_words=2_500
    )
    return table


@query(
    "unigram_token_count",
    oracle=None,  # the piece table is corpus-learned, so a STATIC SQL
    # string cannot reproduce it sf-independently — rows-only at the
    # driver; instead the WHOLE pipeline (frequency floor, lattice-EM
    # trainer, distributed Viterbi encode) is pinned EXACTLY per-doc on
    # real sf0.01 data against a second implementation sharing no code
    # with it (duckdb load + naive log-add EM + independently coded
    # Viterbi counter): tests/test_unigram.py::
    # test_unigram_token_count_cross_implementation_real_corpus
    # (VERDICT r6 item 7's sanctioned fallback)
    doc="unigram-LM token counting under the corpus-learned piece table (the "
    "distributed encode half of unigram_vocab): mapInPandas Viterbi kernel "
    "with a per-batch word cache (Zipf: each distinct word segments once), "
    "piece table bounded by vocab_size riding the closure — the "
    "bpe_token_count shape for the second tokenizer family "
    "(operators/unigram.unigram_token_counts)",
)
def q_unigram_token_count(spark, sf_dir):
    from hadoop_app_spark.operators.unigram import (
        learn_unigram_fast,
        unigram_token_counts,
    )

    d = _t(spark, sf_dir, "documents")
    pieces, _ = learn_unigram_fast(
        d, vocab_size=300, seed_size=1_500, top_words=2_500
    )
    return unigram_token_counts(
        d, pieces, repartition_to=spark.sparkContext.defaultParallelism
    )


def _unigram_fixed_oracle(
    top_words: int = 40, max_len: int = 8, K: int = 3,
    seed_multi: int = 30, rounds: int = 3,
) -> str:
    """SQL replay of the PROBABILITY-space unigram EM
    (operators/unigram.py_unigram_train_prob, VERDICT r10 item 4): the
    log-space trainer's `_logadd` needs log1p (absent in DuckDB —
    ln(1+x) loses ULPs exactly where log1p exists), but in probability
    space the forward-backward lattice is ONLY IEEE + * / in a fixed
    order, all correctly rounded, so the whole training replays
    value-exact. Per EM round: the alpha/beta recurrences unroll into
    nested selects over a 24-slot per-word prob list (qf[s*K + (e-s)]),
    accumulating start-/end-ascending with explicit coalesce-0 terms
    (x + 0.0 == x bit-exact for these non-negative values — the same
    zero-term trick the Python twin uses); expected counts fold per
    piece in (word, end, start) order and the normalizer folds in
    sorted-piece order via list_reduce — the quality_classifier
    unrolled-replay technique extended to a lattice."""
    qv = lambda idx: f"coalesce(list_extract(qf, {idx}), 0.0)"

    def alpha_sel():
        # a{k} = ((0 + a_{k-3}*qf[..]) + a_{k-2}*qf[..]) + a_{k-1}*qf[..]
        out = []
        for k in range(1, max_len + 1):
            acc = "0.0"
            for s in range(max(0, k - K), k):
                a = "1.0" if s == 0 else f"a{s}"
                acc = f"({acc} + {a} * {qv(s * K + (k - s))})"
            out.append(f"SELECT *, {acc} AS a{k} FROM")
        return out

    def beta_sel():
        # bd{k} = beta at start L-k, distance-from-end form; j ascending
        out = []
        for k in range(1, max_len):
            acc = "0.0"
            for j in range(1, min(K, k) + 1):
                b = "1.0" if k - j == 0 else f"bd{k - j}"
                q = (
                    f"CASE WHEN L - {k} >= 0 THEN "
                    f"coalesce(list_extract(qf, (L - {k}) * {K} + {j}), 0.0) "
                    f"ELSE 0.0 END"
                )
                acc = f"({acc} + {q} * {b})"
            out.append(f"SELECT *, {acc} AS bd{k} FROM")
        return out

    # nested selects: list[0] is OUTERMOST, so reverse — a1 innermost,
    # each a{k}/bd{k} sees everything computed beneath it
    chain = list(reversed(alpha_sel() + beta_sel()))
    lat_inner = " (".join(chain)
    lat_close = ")" * (len(chain) - 1)
    aarr = "[" + ", ".join(f"a{k}" for k in range(1, max_len + 1)) + "]"
    barr = "[1.0, " + ", ".join(f"bd{k}" for k in range(1, max_len)) + "]"

    fold = "list_reduce(list_prepend(0.0, {l}), (acc, x) -> acc + x)"
    round_ctes = []
    for r in range(1, rounds + 1):
        round_ctes.append(f"""
        g{r} AS MATERIALIZED (
            SELECT subs.w, subs.c, subs.s, subs.e, subs.p, pp.pr
            FROM subs JOIN p{r - 1} pp USING (p)),
        qg{r} AS MATERIALIZED (
            SELECT wc.w, max(wc.c) AS c, max(length(wc.w)) AS L,
                   list(coalesce(g.pr, 0.0) ORDER BY sl.idx) AS qf
            FROM wc CROSS JOIN slots sl
            LEFT JOIN g{r} g ON g.w = wc.w AND g.s = sl.s AND g.e = sl.s + sl.j
            GROUP BY wc.w),
        lat{r} AS MATERIALIZED (
            SELECT w, c, L, {aarr} AS aarr, {barr} AS barr
            FROM ({lat_inner} qg{r}{lat_close})),
        ei{r} AS (
            SELECT p, {fold.format(l="ts")} AS ec
            FROM (SELECT g.p,
                         list(g.c * ((((CASE WHEN g.s = 0 THEN 1.0
                                        ELSE list_extract(l.aarr, g.s) END)
                                       * g.pr)
                                      * list_extract(l.barr, l.L - g.e + 1))
                                     / list_extract(l.aarr, l.L))
                              ORDER BY g.w, g.e, g.s) AS ts
                  FROM g{r} g JOIN lat{r} l USING (w)
                  GROUP BY g.p)),
        pe{r} AS (
            SELECT pp.p, coalesce(ei.ec, 0.0) AS ec
            FROM p{r - 1} pp LEFT JOIN ei{r} ei USING (p)),
        tt{r} AS (
            SELECT {fold.format(l="list(ec ORDER BY p)")} AS t FROM pe{r}),
        p{r} AS MATERIALIZED (
            SELECT p, CASE WHEN ratio > 0.0 THEN ratio ELSE 1e-12 END AS pr
            FROM (SELECT p, ec / (SELECT t FROM tt{r}) AS ratio FROM pe{r})
            WHERE ratio > 0.0 OR length(p) = 1)""")

    return f"""
        WITH dw AS (SELECT unnest({_TOKS}) AS w
                    FROM documents WHERE doc_id % 20 = 0),
        wc AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM dw
            WHERE length(w) <= {max_len}
            GROUP BY w ORDER BY c DESC, w LIMIT {top_words}),
        slots AS (SELECT s, j, s * {K} + j AS idx
                  FROM unnest(range(0, {max_len})) ss(s),
                       unnest(range(1, {K} + 1)) jj(j)),
        subs AS MATERIALIZED (
            SELECT wc.w, wc.c, ss.s, ee.e,
                   substr(wc.w, ss.s + 1, ee.e - ss.s) AS p
            FROM wc, unnest(range(0, {max_len})) ss(s),
                 unnest(range(1, {max_len} + 1)) ee(e)
            WHERE ss.s < length(wc.w) AND ee.e <= length(wc.w)
              AND ee.e > ss.s AND ee.e - ss.s <= {K}),
        scnt AS (SELECT p, sum(c) AS n FROM subs GROUP BY p),
        seedsel AS (
            SELECT p, n FROM scnt WHERE length(p) = 1
            UNION ALL
            SELECT p, n FROM (SELECT p, n,
                                     row_number() OVER (ORDER BY n DESC, p) AS rn
                              FROM scnt WHERE length(p) > 1)
            WHERE rn <= {seed_multi}),
        p0 AS MATERIALIZED (
            SELECT p, CAST(n AS DOUBLE) / CAST(t AS DOUBLE) AS pr
            FROM seedsel, (SELECT sum(n) AS t FROM seedsel) tot),{",".join(round_ctes)}
        SELECT p AS piece, pr AS prob FROM p{rounds}
    """


@query(
    "unigram_vocab_fixed",
    oracle=None,  # assigned below (the builder needs _TOKS above)
    doc="the ORACLED face of the unigram-LM trainer (VERDICT r10 item 4, "
    "closing the last rows-only trainer class): the SAME forward-backward "
    "EM lattice run in PROBABILITY space (operators/unigram."
    "py_unigram_train_prob — no log-sum-exp, so no transcendental "
    "anywhere; every alpha/beta/expected-count/normalizer operation is "
    "IEEE + * / in a fixed documented order) over a deterministic "
    "40-word frequency-floored slice, 2 EM rounds + the final re-score, "
    "no pruning (vocabulary fixed at the seed — pruning is a float sort "
    "pinned in the full trainer's tests). DuckDB replays the TRAINING "
    "end-to-end — seed counts, three unrolled lattice rounds, M-step "
    "renormalizations — and the [piece, prob] table value-hashes exactly; "
    "the log-space production trainer stays rows-only with the log1p "
    "impossibility documented at operators/unigram._em_round_prob",
)
def q_unigram_vocab_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.bpe import word_frequency_table
    from hadoop_app_spark.operators.unigram import py_unigram_train_prob

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 20 == 0)
    rows = (
        word_frequency_table(d, "text")
        .where(F.length("w") <= 8)
        .orderBy(F.col("count").desc(), "w")
        .limit(40)
        .select("w", "count")
        .collect()
    )
    wc = {r[0]: int(r[1]) for r in rows}
    pieces = py_unigram_train_prob(wc, max_piece_len=3, seed_size=30, n_em_iters=2)
    return spark.createDataFrame(
        sorted(pieces.items()), "piece string, prob double"
    )


REGISTRY["unigram_vocab_fixed"] = QueryDef(
    REGISTRY["unigram_vocab_fixed"].fn,
    _unigram_fixed_oracle(),
    REGISTRY["unigram_vocab_fixed"].doc,
)


# Fixed exemplar vocabularies for the ORACLED encode twins below: the
# corpus-LEARNED piece sets above cannot ride a static SQL string
# sf-independently (the r6 fallback: cross-implementation pytest pins),
# but the ENCODE algorithms themselves are deterministic given any
# piece table — so these twins run the identical kernels under
# hard-coded, data-independent tables (the LSH-hyperplane convention)
# and carry EXACT DuckDB oracles: greedy longest-match as a
# precomputed-step recursive walk, Viterbi as a recursive-CTE DP with
# a carried sliding window of the last max_piece_len best scores.
# Scores are integer-valued doubles so every sum/compare is exact in
# both engines; ties are engineered in (jo+in == join) to pin the
# longest-piece tie rule cross-engine.
_WP_FIXED_VOCAB = [
    # heads
    "jo", "join", "ha", "hash", "ro", "row", "ba", "bat", "sca", "scan",
    "cus", "custom", "col", "fil", "filt", "mer", "or", "ord", "vec",
    "li", "line", "da", "data", "tab", "table", "agg", "val", "key",
    "str", "stream", "win", "wind", "spark", "gro", "par", "part",
    "big", "sor", "sort", "que", "fas", "the", "dup", "sl", "sm",
    "qu", "wi", "va", "ve", "ta", "st", "sc", "cu", "co", "fi", "me",
    "du", "a", "b", "t", "s", "q", "k", "f",
    # continuations
    "##in", "##n", "##sh", "##w", "##tch", "##ch", "##an", "##tomer",
    "##omer", "##er", "##r", "##umn", "##mn", "##ter", "##ge", "##der",
    "##ctor", "##tor", "##or", "##ne", "##ta", "##ble", "##le", "##g",
    "##ue", "##e", "##ey", "##y", "##eam", "##am", "##dow", "##ow",
    "##oup", "##up", "##t", "##ig", "##rt", "##ry", "##st", "##ast",
    "##he", "##p", "##l", "##o", "##a", "##s", "##m", "##d", "##u",
    "##i", "##c", "##k", "##b", "##v", "##h",
]

_UNIGRAM_FIXED_TABLE = {
    # singles (x, z intentionally absent -> unk fallback exercised)
    **{c: -9.0 for c in "aeiourstnlcdghkmpwybfjqv"},
    "jo": -4.0, "in": -4.0, "join": -8.0,  # engineered exact tie
    "ha": -4.0, "sh": -5.0, "hash": -7.0,
    "row": -5.0, "ba": -4.0, "tch": -6.0, "batch": -9.0,
    "sca": -5.0, "an": -3.0, "scan": -7.0,
    "cust": -6.0, "omer": -7.0, "custom": -9.0, "er": -3.0,
    "col": -5.0, "umn": -7.0, "fil": -5.0, "ter": -4.0,
    "sma": -5.0, "ll": -4.0, "slo": -5.0,
    "mer": -4.0, "ge": -3.0, "or": -3.0, "der": -4.0, "order": -8.0,
    "vec": -5.0, "tor": -4.0, "li": -3.0, "ne": -3.0, "line": -7.0,
    "da": -3.0, "ta": -3.0, "data": -5.0, "ble": -4.0, "table": -8.0,
    "agg": -5.0, "va": -3.0, "lue": -4.0, "key": -5.0,
    "str": -4.0, "eam": -5.0, "stream": -8.0,
    "win": -4.0, "dow": -4.0, "window": -9.0, "spark": -7.0,
    "gro": -4.0, "up": -3.0, "par": -4.0, "part": -6.0,
    "big": -5.0, "sort": -6.0, "que": -4.0, "ry": -3.0, "query": -8.0,
    "fast": -6.0, "the": -4.0, "dup": -5.0,
}


def _wordpiece_fixed_oracle() -> str:
    """Greedy longest-match-first segmentation in pure SQL: the greedy
    rule has exactly ONE successor per (word, position), so the step
    function precomputes as a positions x pieces prefix-match join
    (coalesce 1 = per-character OOV fallback) and the walk is a linear
    recursive CTE whose terminal row's depth IS the token count."""
    vals = ", ".join(
        "({}, '{}')".format(
            "TRUE" if p.startswith("##") else "FALSE",
            p[2:] if p.startswith("##") else p,
        )
        for p in _WP_FIXED_VOCAB
    )
    return f"""
        WITH RECURSIVE
        dw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
        words AS (SELECT DISTINCT word FROM dw),
        pieces(cont, body) AS (VALUES {vals}),
        pos AS (SELECT word, unnest(generate_series(1, length(word))) AS p
                FROM words),
        step AS (
          SELECT pos.word, pos.p, coalesce(max(length(pc.body)), 1) AS s
          FROM pos LEFT JOIN pieces pc
            ON pc.cont = (pos.p > 1)
           AND pc.body = substr(pos.word, pos.p, length(pc.body))
          GROUP BY pos.word, pos.p
        ),
        walk(word, p, k) AS (
          SELECT word, 1, 0 FROM words
          UNION ALL
          SELECT w.word, w.p + st.s, w.k + 1
          FROM walk w JOIN step st ON st.word = w.word AND st.p = w.p
          WHERE w.p <= length(w.word)
        ),
        wtok AS (SELECT word, k FROM walk WHERE p = length(word) + 1),
        agg AS (
          SELECT dw.doc_id, count(*) AS n_words, sum(wtok.k) AS wp_tokens
          FROM dw JOIN wtok USING (word) GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.wp_tokens, 0) AS BIGINT) AS wp_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id
    """


def _unigram_fixed_oracle() -> str:
    """Viterbi in pure SQL: a recursive-CTE DP over positions. Each
    round advances every word one character; the state carries the
    last-8 best scores/counts as lists (a sliding window — the only
    lookback max_piece_len=8 permits), and the per-round argmax is
    max() over a [score, piece_len, count] list, whose lexicographic
    order encodes the kernel's exact tie rule (equal score -> longest
    piece). -1e9 sentinels mark pre-origin indexes; integer-valued
    scores keep every sum exact, so equality ties resolve identically
    in both engines."""
    unk = min(_UNIGRAM_FIXED_TABLE.values()) - 10.0
    vals = ", ".join(
        f"('{p}', {s!r})" for p, s in sorted(_UNIGRAM_FIXED_TABLE.items())
    )
    s7 = ", ".join(["-1e9"] * 7)
    return f"""
        WITH RECURSIVE
        dw AS (SELECT doc_id, unnest({_TOKS}) AS word FROM documents),
        words AS (SELECT DISTINCT word FROM dw),
        pieces(piece, sc) AS (VALUES {vals}),
        lens(l) AS (SELECT unnest(generate_series(1, 8))),
        dp(word, e, bs, bc) AS (
          SELECT word, 0, [{s7}, 0.0]::DOUBLE[], [{s7}, 0.0]::DOUBLE[]
          FROM words
          UNION ALL
          SELECT word, ne, obs[2:8] || [best[1]], obc[2:8] || [best[3]]
          FROM (
            SELECT d.word AS word, d.e + 1 AS ne, d.bs AS obs,
                   d.bc AS obc,
                   max([d.bs[9 - l.l] + coalesce(p.sc, {unk!r}),
                        l.l * 1.0,
                        d.bc[9 - l.l] + 1.0]) AS best
            FROM dp d
            JOIN lens l ON l.l <= d.e + 1
            LEFT JOIN pieces p
              ON p.piece = substr(d.word, d.e + 2 - l.l, l.l)
            WHERE d.e < length(d.word)
              AND (p.piece IS NOT NULL OR l.l = 1)
            GROUP BY d.word, d.e, d.bs, d.bc
          )
        ),
        wtok AS (SELECT word, bc[8] AS k FROM dp WHERE e = length(word)),
        agg AS (
          SELECT dw.doc_id, count(*) AS n_words,
                 sum(wtok.k) AS unigram_tokens
          FROM dw JOIN wtok USING (word) GROUP BY dw.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(a.unigram_tokens, 0) AS BIGINT)
                   AS unigram_tokens
        FROM documents d LEFT JOIN agg a USING (doc_id)
        ORDER BY doc_id
    """


@query(
    "wordpiece_encode_fixed",
    oracle=_wordpiece_fixed_oracle(),
    doc="the ORACLED twin of wordpiece_token_count: the identical greedy "
    "longest-match mapInPandas kernel (operators/wordpiece."
    "wordpiece_token_counts) under a hard-coded data-independent piece "
    "vocabulary, so the full encode algorithm — continuation prefixes, "
    "per-character OOV fallback, per-batch word cache — is checked "
    "EXACTLY against a from-scratch SQL reimplementation (precomputed "
    "greedy-step table + linear recursive walk) instead of rows-only "
    "(VERDICT r6 item 7)",
)
def q_wordpiece_encode_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.wordpiece import wordpiece_token_counts

    d = _t(spark, sf_dir, "documents")
    return wordpiece_token_counts(
        d, set(_WP_FIXED_VOCAB),
        repartition_to=spark.sparkContext.defaultParallelism,
    ).orderBy("doc_id")


@query(
    "unigram_encode_fixed",
    oracle=_unigram_fixed_oracle(),
    doc="the ORACLED twin of unigram_token_count: the identical Viterbi "
    "mapInPandas kernel (operators/unigram.unigram_token_counts) under a "
    "hard-coded integer-scored piece table, checked EXACTLY against a "
    "from-scratch SQL Viterbi (recursive-CTE DP with a sliding last-8 "
    "window and lexicographic-list argmax encoding the longest-piece tie "
    "rule); the table engineers an exact tie (jo+in == join) so the tie "
    "convention itself is cross-engine-pinned (VERDICT r6 item 7)",
)
def q_unigram_encode_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.unigram import unigram_token_counts

    d = _t(spark, sf_dir, "documents")
    return unigram_token_counts(
        d, dict(_UNIGRAM_FIXED_TABLE),
        repartition_to=spark.sparkContext.defaultParallelism,
    ).orderBy("doc_id")


def _bpe_trainer_oracle(n_merges: int = 64) -> str:
    """DuckDB replay of the ENTIRE BPE merge-induction loop — the
    r8 verdict's 'per-round argmax loop has no SQL twin' class,
    closed: each round is three MATERIALIZED CTEs (adjacent-pair
    weighted counts, the (count desc, l, r) argmax, and the same
    recursive left-to-right rewrite walker bpe_encode_fixed uses),
    unrolled n_merges times. AS MATERIALIZED is load-bearing: DuckDB
    inlines plain CTEs, and each round references the previous state
    ~6 times, so un-materialized the expansion is 6^64 parquet scans
    (measured as an fd-exhaustion crash); materialized it is one
    bounded vocab-sized frame per round, ~3s total at every tested
    SF. Early-stop parity: a fully-merged vocabulary yields an empty
    argmax (LIMIT 1 over nothing), which drops that round's output
    row exactly like the trainer's break."""
    parts = [
        """
        WITH RECURSIVE
        wf AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS w
                FROM documents)
            WHERE w <> '' GROUP BY w),
        s0 AS MATERIALIZED (
            SELECT w, [w[j] for j in range(1, length(w)+1)] || ['</w>'] AS syms, c
            FROM wf)"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f""",
        pc{k} AS MATERIALIZED (
            SELECT u.p.l AS l, u.p.r AS r, sum(s.c) AS n
            FROM s{p} s,
                 unnest([{{'l': s.syms[i], 'r': s.syms[i+1]}}
                         for i in range(1, len(s.syms))]) AS u(p)
            WHERE len(s.syms) >= 2 GROUP BY 1, 2),
        b{k} AS MATERIALIZED (SELECT l, r FROM pc{k} ORDER BY n DESC, l, r LIMIT 1),
        rw{k}(w, syms, i, acc, c) AS (
            SELECT w, syms, 1, CAST([] AS TEXT[]), c FROM s{p}
            UNION ALL
            SELECT w, syms,
                   CASE WHEN i < len(syms)
                             AND syms[i] = (SELECT l FROM b{k})
                             AND syms[i+1] = (SELECT r FROM b{k})
                        THEN i + 2 ELSE i + 1 END,
                   CASE WHEN i < len(syms)
                             AND syms[i] = (SELECT l FROM b{k})
                             AND syms[i+1] = (SELECT r FROM b{k})
                        THEN acc || [syms[i] || syms[i+1]]
                        ELSE acc || [syms[i]] END,
                   c
            FROM rw{k} WHERE i <= len(syms)),
        s{k} AS MATERIALIZED (
            SELECT w, acc AS syms, c FROM rw{k} WHERE i = len(syms) + 1)"""
        )
    sel = "\n        UNION ALL\n".join(
        f'        SELECT {k - 1} AS rank, l AS "left", r AS "right" FROM b{k}'
        for k in range(1, n_merges + 1)
    )
    parts.append("\n" + sel)
    return "".join(parts)


def _bpe_token_count_oracle(n_merges: int = 12) -> str:
    """Oracle for BPE token counting under the LEARNED merge table —
    the trainer replay composed with the per-doc tail: training
    rewrote every vocabulary word with the same left-to-right walker
    the encoder applies (the bpe_token_counts invariant 'training-
    corpus words reproduce their trained segmentation'), so the
    trainer CTEs' final state s{n} IS each word's encoded symbol
    list and per-doc token counts are one join away. Closes the
    'depends on the learned merge table' rows-only gap by deriving
    the merge table in SQL too."""
    trainer = _bpe_trainer_oracle(n_merges)
    # cut the merges SELECT tail off the trainer; keep the CTE chain
    body = trainer[: trainer.rindex("\n        SELECT 0 AS rank")]
    return f"""{body},
        tok AS (SELECT doc_id, w FROM (
                    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                    FROM documents) WHERE w <> ''),
        cnts AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        per_doc AS (SELECT c.doc_id, sum(c.c) AS n_words,
                           sum(c.c * len(f.syms)) AS bpe_tokens
                    FROM cnts c JOIN s{n_merges} f USING (w) GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@query(
    "bpe_merges",
    oracle=_bpe_trainer_oracle(64),
    doc="BPE merge induction (north star: tokenizer training on the corpus, "
    "Sennrich et al. 2016), vocabulary-scale form: ONE corpus pass builds the "
    "word-frequency table, the table is collected once (vocabulary-sized, "
    "guarded bounded side channel), and merge induction runs driver-side with "
    "incremental pair counts + a lazy-deletion heap — a 32k-merge production "
    "vocabulary is seconds of driver CPU instead of one Spark job per merge; "
    "exact merge-sequence equality vs the naive reference is pinned in "
    "tests/test_bpe.py, and the WHOLE 64-round training loop is ORACLED: a "
    "from-scratch DuckDB replay (materialized per-round pair-count/argmax/"
    "rewrite CTEs) reproduces the merge sequence bit-for-bit "
    "(operators/bpe.learn_bpe_merges)",
)
def q_bpe_merges(spark, sf_dir):
    from hadoop_app_spark.operators.bpe import learn_bpe_merges

    d = _t(spark, sf_dir, "documents")
    merges, _ = learn_bpe_merges(d, "text", n_merges=64)
    return spark.createDataFrame(
        [(i, l, r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string",
    )


@query(
    "bpe_token_count",
    oracle=_bpe_token_count_oracle(12),  # rows-only until r9: the
    # learned merge table is now DERIVED IN SQL by the trainer replay,
    # and its final vocabulary state doubles as the encode answer
    doc="BPE token counting under the corpus-learned merge table (the encode "
    "half of bpe_merges — the real 'how many tokens is this corpus' number): "
    "mapInPandas kernel with a per-batch word cache (Zipf repetition means "
    "each distinct word encodes once), merge table is a bounded driver-side "
    "list; oracled end-to-end since r9 — the DuckDB replay TRAINS the same "
    "12 merges then reads each word's token count off the trainer's final "
    "vocabulary state (operators/bpe.bpe_token_counts)",
)
def q_bpe_token_count(spark, sf_dir):
    from hadoop_app_spark.operators.bpe import bpe_token_counts, learn_bpe_merges

    d = _t(spark, sf_dir, "documents")
    merges, _ = learn_bpe_merges(d, "text", n_merges=12)
    return bpe_token_counts(
        d, merges, repartition_to=spark.sparkContext.defaultParallelism
    )


# hard-coded data-independent merge table for the oracled BPE-encode
# twin: exercises chained merges (e+r then er+</w>, o+w then ow+</w>),
# an EOW-sentinel merge, a double-letter pair (g,g), and merge-order
# precedence ((s,t) consumes the 't' of 'fast' before (a,t) can)
_BPE_FIXED_MERGES = [
    ("s", "t"), ("e", "r"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("g", "g"), ("a", "t"), ("h", "a"),
]


def _bpe_fixed_oracle() -> str:
    """DuckDB twin of the BPE encode kernel under _BPE_FIXED_MERGES:
    one recursive CTE walks every distinct word through the 8 merge
    passes — state (word, step, syms, i, acc) replays the kernel's
    left-to-right adjacent-pair scan symbol by symbol (i skips 2 on a
    merge, so overlap handling is replayed too), and finishing a pass
    rolls acc into the next step's symbol list. Bounded by
    |vocab| x total merge-pass symbol steps, never corpus size."""
    vals = ",".join(
        f"({i},'{a}','{b}')" for i, (a, b) in enumerate(_BPE_FIXED_MERGES)
    )
    k = len(_BPE_FIXED_MERGES)
    return f"""
        WITH RECURSIVE m(rank, a, b) AS (VALUES {vals}),
        tok AS (SELECT doc_id, w FROM (
                    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
                    FROM documents) WHERE w <> ''),
        words AS (SELECT DISTINCT w FROM tok),
        enc(w, step, syms, i, acc) AS (
            SELECT w, 0, [w[j] for j in range(1, length(w) + 1)] || ['</w>'],
                   1, CAST([] AS TEXT[])
            FROM words
            UNION ALL
            SELECT w,
                   CASE WHEN i > len(syms) THEN step + 1 ELSE step END,
                   CASE WHEN i > len(syms) THEN acc ELSE syms END,
                   CASE WHEN i > len(syms) THEN 1
                        WHEN i < len(syms)
                             AND syms[i] = (SELECT a FROM m WHERE rank = step)
                             AND syms[i+1] = (SELECT b FROM m WHERE rank = step)
                        THEN i + 2
                        ELSE i + 1 END,
                   CASE WHEN i > len(syms) THEN CAST([] AS TEXT[])
                        WHEN i < len(syms)
                             AND syms[i] = (SELECT a FROM m WHERE rank = step)
                             AND syms[i+1] = (SELECT b FROM m WHERE rank = step)
                        THEN acc || [syms[i] || syms[i+1]]
                        ELSE acc || [syms[i]] END
            FROM enc WHERE step < {k}),
        final AS (SELECT w, len(syms) AS n_tok FROM enc WHERE step = {k}),
        counts AS (SELECT doc_id, w, count(*) AS c FROM tok GROUP BY 1, 2),
        per_doc AS (SELECT c.doc_id, sum(c.c) AS n_words,
                           sum(c.c * f.n_tok) AS bpe_tokens
                    FROM counts c JOIN final f USING (w) GROUP BY 1)
        SELECT d.doc_id,
               CAST(coalesce(p.n_words, 0) AS BIGINT) AS n_words,
               CAST(coalesce(p.bpe_tokens, 0) AS BIGINT) AS bpe_tokens
        FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """


@query(
    "bpe_encode_fixed",
    oracle=_bpe_fixed_oracle(),
    doc="the ORACLED twin of bpe_token_count (the wordpiece_encode_fixed "
    "convention, VERDICT r8 item 7): the identical merge-application "
    "mapInPandas kernel (operators/bpe.bpe_token_counts) under a "
    "hard-coded data-independent merge table, so the full encode "
    "algorithm — learned-order merge passes, left-to-right adjacent-pair "
    "scanning with skip-2 overlap handling, EOW sentinel, per-batch word "
    "cache — is checked EXACTLY against a from-scratch SQL recursive-CTE "
    "replay instead of rows-only; the table engineers chained merges and "
    "an (s,t)-before-(a,t) precedence case so merge ORDER itself is "
    "cross-engine-pinned",
)
def q_bpe_encode_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.bpe import bpe_token_counts

    d = _t(spark, sf_dir, "documents")
    return bpe_token_counts(
        d, list(_BPE_FIXED_MERGES),
        repartition_to=spark.sparkContext.defaultParallelism,
    ).orderBy("doc_id")


@query(
    "mixture_rebalance",
    # the oracle RECOMPUTES the rate derivation (totals -> binding
    # group -> per-group thresholds) in SQL with the identical operand
    # order, so the driver gate checks the math, not just the filter
    oracle=f"""
        WITH nt AS (SELECT doc_id, source, {_NTOK} AS ntok, {_FP_SQL} AS fp
                    FROM documents),
        tt AS (SELECT source, sum(ntok) AS t FROM nt GROUP BY source),
        wt AS (SELECT source, t,
                      CASE source WHEN 'src0' THEN 0.3 WHEN 'src1' THEN 0.3
                                  WHEN 'src2' THEN 0.2 WHEN 'src3' THEN 0.2
                                  ELSE 0.0 END AS w
               FROM tt),
        kk AS (SELECT min(t / w) AS k FROM wt WHERE w > 0 AND t > 0),
        thr AS (SELECT source, CAST(floor(w * k / t * 1000000) AS BIGINT) AS th
                FROM wt CROSS JOIN kk WHERE w > 0 AND t > 0)
        SELECT nt.doc_id, nt.source, CAST(nt.ntok AS INTEGER) AS n_tokens
        FROM nt JOIN thr USING (source)
        WHERE fp % 1000000 < th
    """,
    doc="target-mixture token rebalance (north star: the '30% code, 50% web' "
    "final corpus composition pass): per-source token totals -> binding "
    "source keeps rate 1.0, others downsample via content-fingerprint "
    "per-million thresholds (re-run/partitioning-stable); one bounded-collect "
    "aggregate + a single-scan CASE filter, corpus never shuffles "
    "(operators/corpus.mixture_rebalance)",
)
def q_mixture_rebalance(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import mixture_rebalance

    d = _t(spark, sf_dir, "documents")
    out = mixture_rebalance(
        d, "source", {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.2}
    )
    return out.select("doc_id", "source", token_count("text").alias("n_tokens"))


@query(
    "orc_roundtrip",
    # content preservation is the oracle (DuckDB cannot read ORC; the
    # aggregate over the round-tripped table must equal the direct
    # scan — same contract as compaction_roundtrip)
    oracle="""
        SELECT l_linestatus, count(*) AS n, {q} AS sum_price
        FROM lineitem
        GROUP BY 1 ORDER BY 1
    """.format(q=_DSUM.format(c="l_extendedprice")),
    doc="ORC columnar round-trip (sources side of SURVEY S14: the "
    "reference stores its columnar tables as RCFile, pom.xml's "
    "hive-exec dep — ORC is RCFile's direct successor and Spark reads/"
    "writes it natively; this engine's default store stays "
    "parquet+zstd, and this entry proves the ORC interchange path for "
    "tables arriving from Hive-lineage warehouses): lineitem written "
    "as zstd ORC with per-column bloom filters + dictionary encoding, "
    "read back and aggregated — byte-identical content is the "
    "contract, and the ORC scan supports the same pushdown surface "
    "(PushedFilters) as parquet",
)
def q_orc_roundtrip(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus", "l_extendedprice"
    )
    path = _scratch_dir("orc_rt", sf_dir) + "/lineitem"
    (
        li.write.mode("overwrite")
        .format("orc")
        .option("compression", "zstd")
        .option("orc.bloom.filter.columns", "l_orderkey")
        .option("orc.dictionary.key.threshold", "1.0")
        .save(path)
    )
    return (
        spark.read.format("orc")
        .load(path)
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"), _dsum("l_extendedprice").alias("sum_price"))
        .orderBy("l_linestatus")
    )


@query(
    "mixture_epoch_order",
    # the oracle recomputes u = md5-slice/2^60 and the (u * n_s / w_s)
    # stretch with identical operand order — bit-exact doubles
    oracle="""
        WITH w AS (SELECT * FROM (VALUES ('src0', 0.3), ('src1', 0.3),
                                         ('src2', 0.2), ('src3', 0.2))
                   t(source, w)),
        n AS (SELECT source, count(*) AS n FROM documents GROUP BY 1)
        SELECT d.doc_id, d.source,
               (CAST(CAST(concat('0x', substr(md5(CAST(d.doc_id AS VARCHAR)),
                                              1, 15)) AS BIGINT) AS DOUBLE)
                / 1152921504606846976.0)
               * CAST(n.n AS DOUBLE) / w.w AS order_key
        FROM documents d JOIN n USING (source) JOIN w USING (source)
    """,
    doc="mixture-preserving deterministic epoch ordering (operators/"
    "corpus.mixture_epoch_order — the data-ORDERING half of mixture "
    "control next to mixture_rebalance's token totals): each doc's "
    "60-bit md5 uniform is stretched by n_source/weight, so sorting by "
    "order_key interleaves sources at their target rates uniformly "
    "through the epoch — any prefix (partial epoch, resume, curriculum "
    "window) still sees the target mixture; one bounded per-source "
    "count broadcast + a narrow map, NO per-source rank windows (which "
    "would sort each full source in one partition); prefix-mixture "
    "property pinned in pytest",
)
def q_mixture_epoch_order(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import mixture_epoch_order

    d = _t(spark, sf_dir, "documents")
    return mixture_epoch_order(
        d, {"src0": 0.3, "src1": 0.3, "src2": 0.2, "src3": 0.2}
    )


@query(
    "bloom_skip_lookup",
    oracle="""
        SELECT l_partkey, count(*) AS n, {q} AS sum_qty
        FROM lineitem
        WHERE l_partkey IN (1, 500, 999)
        GROUP BY 1 ORDER BY 1
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="file-level Bloom-index data skipping (the lakehouse point-lookup "
    "primitive next to layout.py's min/max range pruning): lineitem is "
    "range-clustered on l_partkey into real parquet files with a per-file "
    "md5-slice Bloom sidecar (sources/skipping.py), and the probe reads "
    "ONLY Bloom-passing files before the exact IN filter — false "
    "positives cost I/O, false negatives are impossible, so the result "
    "must equal the direct scan the oracle computes; pruning itself is "
    "pinned in tests/test_skipping.py (files_read < files_total)",
)
def q_bloom_skip_lookup(spark, sf_dir):
    from hadoop_app_spark.sources.skipping import (
        read_bloom_skip,
        write_bloom_indexed,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    path = _scratch_dir("bloom_skip", sf_dir) + "/lineitem"
    write_bloom_indexed(li, path, "l_partkey", files=16)
    df, _stats = read_bloom_skip(spark, path, "l_partkey", [1, 500, 999])
    return (
        df.groupBy("l_partkey")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_partkey")
    )


@query(
    "bloom_retraction",
    # the oracle is simply the corpus minus the retracted ids: if
    # retraction left any victim row behind (false negative — designed
    # impossible) or dropped a bystander (rewrite bug), the per-flag
    # counts/sums diverge
    oracle="""
        SELECT l_returnflag, count(*) AS n, {q} AS sum_qty
        FROM lineitem
        WHERE l_partkey NOT IN (1, 500, 999)
        GROUP BY 1 ORDER BY 1
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="Bloom-indexed takedown retraction (the decontamination/right-to-"
    "be-forgotten loop, sources/skipping.retract_ids + plans/"
    "corpus_pipeline.retract_contaminated): lineitem is written "
    "range-clustered with a per-file Bloom sidecar, a 3-id takedown "
    "list deletes by REWRITING ONLY the Bloom-passing files (work "
    "proportional to affected files, never the corpus — at 100 TB a "
    "k-id list touches O(k) files), the sidecar refreshes in the same "
    "pass, and the query returns the post-retraction per-flag "
    "accounting; file-proportionality and sidecar consistency are "
    "pinned in tests/test_skipping.py",
)
def q_bloom_retraction(spark, sf_dir):
    from hadoop_app_spark.sources.skipping import retract_ids, write_bloom_indexed

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    path = _scratch_dir("bloom_retract", sf_dir) + "/lineitem"
    write_bloom_indexed(li, path, "l_partkey", files=16)
    retract_ids(spark, path, "l_partkey", [1, 500, 999])
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "vacuum_roundtrip",
    # the oracle checks BOTH failure modes by value: an orphan part
    # file left behind is READ by the post-vacuum scan and inflates
    # the per-flag counts (orphans planted from real duplicate rows);
    # a live file wrongly deleted deflates them — only remove-exactly-
    # the-orphans reproduces the direct aggregate
    oracle="""
        SELECT l_returnflag, count(*) AS n, {q} AS sum_qty
        FROM lineitem
        GROUP BY 1 ORDER BY 1
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="orphan-file VACUUM round-trip (sources/skipping."
    "vacuum_indexed_table — the third maintenance op of the indexed-"
    "table lifecycle beside retraction and compaction, Delta VACUUM's "
    "shape on the plain layout): failure windows strand files a plain "
    "scan silently READS (a writer dead mid-commit leaves part files "
    "no sidecar references — duplicate rows, not just wasted bytes; a "
    "pre-manifest retraction crash leaves a _retract_* scratch dir), "
    "so the entry plants BOTH orphan kinds from real duplicate data, "
    "vacuums against the sidecar's live-file manifest via the Hadoop "
    "FS API, RAISES if the stats do not show both removed, and returns "
    "the per-flag accounting — equal to the direct aggregate only if "
    "vacuum removed exactly the orphans",
)
def q_vacuum_roundtrip(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.sources.skipping import (
        vacuum_indexed_table,
        write_bloom_indexed,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_returnflag", "l_quantity"
    )
    path = _scratch_dir("vacuum", sf_dir) + "/lineitem"
    shutil.rmtree(_scratch_dir("vacuum", sf_dir), ignore_errors=True)
    write_bloom_indexed(li, path, "l_partkey", files=16)
    # plant orphans carrying REAL duplicate rows (local-fixture os ops;
    # the operator itself goes through the Hadoop FS API)
    part = next(
        f for f in sorted(os.listdir(path)) if f.endswith(".parquet")
    )
    shutil.copy(
        os.path.join(path, part), os.path.join(path, "part-orphan-dead.parquet")
    )
    scratch = os.path.join(path, "_retract_deadbeef")
    os.makedirs(scratch, exist_ok=True)
    shutil.copy(os.path.join(path, part), os.path.join(scratch, "part-0.parquet"))
    stats = vacuum_indexed_table(spark, path)
    if stats["orphans_removed"] != 1 or stats["scratch_dirs_removed"] != 1:
        raise RuntimeError(f"vacuum missed planted orphans: {stats}")
    return (
        spark.read.parquet(path)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "compaction_roundtrip",
    # content preservation is the oracle: compaction must be a pure
    # layout rewrite, so the per-flag accounting over the compacted
    # table equals the direct aggregate; file-count mechanics (64
    # small files -> size-targeted output, sort_by clustering) are
    # pinned in tests/test_operators.py::test_compact_parquet
    oracle="""
        SELECT l_returnflag, count(*) AS n, {q} AS sum_qty
        FROM lineitem
        GROUP BY 1 ORDER BY 1
    """.format(q=_DSUM.format(c="l_quantity")),
    doc="small-file compaction round-trip (operators/maintenance."
    "compact_parquet — the OPTIMIZE maintenance op an ingest-heavy "
    "100 TB pipeline runs continuously: micro-batch landings fragment "
    "into per-trigger files, compaction rewrites to size-targeted "
    "files with optional range-clustering so parquet min/max stats "
    "prune again): lineitem is fragmented into 64 small files, "
    "compacted with sort_by=l_orderkey, and the entry returns the "
    "post-compaction accounting — byte-identical content is the "
    "contract",
)
def q_compaction_roundtrip(spark, sf_dir):
    from hadoop_app_spark.operators.maintenance import compact_parquet

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_quantity"
    )
    root = _scratch_dir("compaction", sf_dir)
    src, dst = root + "/small", root + "/compacted"
    li.repartition(64).write.mode("overwrite").parquet(src)
    compact_parquet(spark, src, dst, target_mb=64, sort_by=["l_orderkey"])
    return (
        spark.read.parquet(dst)
        .groupBy("l_returnflag")
        .agg(F.count("*").alias("n"), _dsum("l_quantity").alias("sum_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "incremental_matview",
    # the oracle is the VIEW DEFINITION over the final base state —
    # the incremental path (build from gen1, merge an insert delta,
    # retract a batch, recompute only MIN-dirty groups from the
    # current base) must land on exactly the state a from-scratch
    # rebuild would produce; groups whose rows all retracted leave
    # the view (count>0 is implicit: a group matching the WHERE has
    # at least one surviving row)
    oracle="""
        SELECT l_suppkey,
               count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
               min(CAST(l_quantity AS INT)) AS min_qty,
               max(CAST(l_quantity AS INT)) AS max_qty,
               CAST(sum(CAST(l_quantity AS INT)) AS DOUBLE)
                   / CAST(count(*) AS DOUBLE) AS avg_qty
        FROM lineitem
        WHERE l_orderkey % 7 <= 5
          AND NOT (l_orderkey % 7 < 5 AND l_orderkey % 11 = 0)
        GROUP BY l_suppkey
    """,
    doc="incrementally-maintained materialized aggregate view "
    "(operators/matview — the recurring-rollup answer: refresh cost "
    "O(delta)+O(|view|), never O(base history)): a per-supplier "
    "count/sum/min/MAX rollup materializes as a bucketed table from the "
    "first five sevenths of lineitem, then ONE refresh merges an "
    "insert delta (the sixth seventh) and a retraction batch (gen1's "
    "%11 rows) — counts and sums maintain algebraically, and only the "
    "groups whose retracted MIN or MAX reached the candidate extreme "
    "are recomputed, via a broadcast semi-join on the dirty keys "
    "against the current base; MAX makes the reference's own flagship "
    "aggregate (max-per-group, MaxTemperatureReducer.java:13-20) "
    "incrementally maintainable, and AVG is derived at read time from "
    "SUM/COUNT (read_agg_view — no stored state, one IEEE division "
    "both engines perform identically); the view-definition oracle "
    "checks the merged state equals a from-scratch rebuild",
)
def q_incremental_matview(spark, sf_dir):
    from hadoop_app_spark.operators.matview import (
        build_agg_view,
        read_agg_view,
        refresh_agg_view,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_quantity").cast("int").alias("qty")
    )
    gen1 = li.where(F.col("l_orderkey") % 7 < 5)
    inserts = li.where(F.col("l_orderkey") % 7 == 5)
    retractions = gen1.where(F.col("l_orderkey") % 11 == 0)
    current = gen1.where(F.col("l_orderkey") % 11 != 0).unionByName(inserts)

    tbl = "mv_supplier_rollup"  # fixed name + overwrite: idempotent
    build_agg_view(
        gen1, tbl, ["l_suppkey"], sums={"sum_qty": "qty"},
        mins={"min_qty": "qty"}, maxs={"max_qty": "qty"},
    )
    refresh_agg_view(
        spark, tbl, inserts=inserts, retractions=retractions, current_base=current
    )
    return read_agg_view(spark, tbl, avgs={"avg_qty": "sum_qty"}).select(
        "l_suppkey",
        F.col("mv_count").alias("n_items"),
        "sum_qty",
        "min_qty",
        "max_qty",
        "avg_qty",
    )


@query(
    "stream_matview_exec",
    # the view-definition oracle over the FINAL base state: whatever
    # path the deltas took (two micro-batches, an in-batch mix of
    # inserts and retractions), the maintained view must equal a
    # from-scratch rebuild — groups fully retracted leave the view
    oracle="""
        SELECT l_suppkey,
               count(*) AS n_items,
               CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS sum_qty,
               min(CAST(l_quantity AS INT)) AS min_qty
        FROM lineitem
        WHERE l_orderkey % 7 <= 4
          AND NOT (l_orderkey % 7 <= 1 AND l_orderkey % 11 = 0)
        GROUP BY l_suppkey
    """,
    doc="the materialized-view refresh run as a REAL CDC stream "
    "(streaming/ingest.matview_refresh_stream): change files land in a "
    "drop directory with op = 'I'/'D' rows, FileStreamSource feeds them "
    "oldest-first one micro-batch per file (maxFilesPerTrigger=1, "
    "availableNow), and each batch refreshes the bucketed count/sum/MIN "
    "view via refresh_agg_view inside foreachBatch — O(batch)+O(|view|) "
    "per trigger, never O(base history); an applied-epoch ledger in the "
    "view's table properties makes crash-replayed batches no-ops. The "
    "delete batch RETRACTS current group minima mid-stream: the sink "
    "resolves the caller-named base table per batch (VERDICT r9 item 3) "
    "and recomputes exactly the dirty groups — a MIN/MAX view under a "
    "CDC feed with deletes no longer crashes by design. Same "
    "view-definition ground truth as incremental_matview: batch "
    "operator, streaming execution, one oracle",
)
def q_stream_matview_exec(spark, sf_dir):
    import os
    import shutil

    from hadoop_app_spark.operators.matview import build_agg_view
    from hadoop_app_spark.streaming.ingest import matview_refresh_stream

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", F.col("l_quantity").cast("int").alias("qty")
    )
    tbl = "mv_stream_rollup"  # fixed name + overwrite: idempotent
    build_agg_view(
        li.where(F.col("l_orderkey") % 7 == 0), tbl, ["l_suppkey"],
        sums={"sum_qty": "qty"}, mins={"min_qty": "qty"},
    )
    # the base the sink resolves per batch for MIN-dirty recompute.
    # Registered as the POST-stream state: batch 1 is insert-only
    # (min-monotone, base never read), so the only base access happens
    # at batch 2, whose post-state this is — the caller keeps the base
    # in lockstep with the feed, the sink just names it
    li.where(
        (F.col("l_orderkey") % 7 <= 4)
        & ~((F.col("l_orderkey") % 7 <= 1) & (F.col("l_orderkey") % 11 == 0))
    ).createOrReplaceTempView("mv_stream_rollup_base")
    root = _scratch_dir("stream_matview", sf_dir)
    # fresh per invocation: a reused checkpoint would mark the
    # regenerated files as already-ingested and emit nothing
    shutil.rmtree(root, ignore_errors=True)
    src, ck = os.path.join(root, "src"), os.path.join(root, "ck")
    os.makedirs(src)
    batches = {
        # batch 1: pure inserts
        1: li.where((F.col("l_orderkey") % 7 == 1) | (F.col("l_orderkey") % 7 == 2))
        .withColumn("op", F.lit("I")),
        # batch 2: more inserts PLUS retractions of already-inserted rows
        2: li.where((F.col("l_orderkey") % 7 == 3) | (F.col("l_orderkey") % 7 == 4))
        .withColumn("op", F.lit("I"))
        .unionByName(
            li.where(
                (F.col("l_orderkey") % 7 <= 1) & (F.col("l_orderkey") % 11 == 0)
            ).withColumn("op", F.lit("D"))
        ),
    }
    for gen, df in batches.items():
        _land_stream_file(df, src, gen)
    q = matview_refresh_stream(
        spark, src, batches[1].schema, tbl, ck,
        base_table="mv_stream_rollup_base",
    )
    q.awaitTermination()
    return spark.table(tbl).select(
        "l_suppkey", F.col("mv_count").alias("n_items"), "sum_qty", "min_qty"
    )


@query(
    "zorder_point_lookup",
    # content preservation is the value check (layout rewrites must
    # never change results); the PRUNING payoff — the reason z-order
    # exists — is measured in tests/test_layout.py::
    # test_zorder_layout_prunes_both_dimensions, which pins that the
    # same box predicate's scan output collapses on the clustered
    # layout vs a shuffled one, on BOTH dimensions
    oracle="""
        SELECT l_returnflag, count(*) AS n,
               CAST(sum(l_orderkey) AS BIGINT) AS key_sum,
               CAST(sum(CAST(l_quantity AS INT)) AS BIGINT) AS qty_sum
        FROM lineitem
        WHERE l_orderkey < 1000 AND l_partkey < 150
        GROUP BY 1 ORDER BY 1
    """,
    doc="Z-order (Morton-curve) clustered layout + multi-dimensional box "
    "lookup (sources/layout.write_zorder_layout — the Delta/Iceberg "
    "OPTIMIZE ZORDER use-case re-expressed on plain parquet): lineitem is "
    "rewritten range-partitioned + sorted on the bit-interleaved "
    "(l_orderkey, l_partkey) key, each column pre-scaled to fill the bits "
    "budget, so footer min/max stats prune a predicate on EITHER column — "
    "where a lexicographic sort prunes only its leading column; the entry "
    "runs a 2-D box predicate over the clustered files and value-checks "
    "the accounting against the raw table",
)
def q_zorder_point_lookup(spark, sf_dir):
    from hadoop_app_spark.sources.layout import write_zorder_layout

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_returnflag", "l_quantity"
    )
    path = _scratch_dir("zorder_lookup", sf_dir)
    write_zorder_layout(li, path, ["l_orderkey", "l_partkey"], bits=14, n_files=16)
    return (
        spark.read.parquet(path)
        .where((F.col("l_orderkey") < 1000) & (F.col("l_partkey") < 150))
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("key_sum"),
            F.sum(F.col("l_quantity").cast("int")).alias("qty_sum"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "alpha_mixture_sample",
    # the oracle RECOMPUTES the whole derivation — counts -> integer
    # sqrt -> integer-division thresholds -> fingerprint membership —
    # in EXACT integer arithmetic (the alpha=0.5 determinism device:
    # floor(sqrt(n)) == isqrt(n) for every count below 2^52 under
    # IEEE-correctly-rounded sqrt, and everything after is // )
    oracle=f"""
        WITH nt AS (SELECT doc_id, lang, {_FP_SQL} AS fp FROM documents),
        cnt AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM nt GROUP BY 1),
        sq AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS s FROM cnt),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn,
                       CAST(sum(s) AS BIGINT) AS ss FROM sq),
        thr AS (SELECT lang,
                       least(1000000, (s * nn * 1000000) // (n * ss)) AS th
                FROM sq CROSS JOIN tot)
        SELECT nt.doc_id, nt.lang
        FROM nt JOIN thr USING (lang)
        WHERE fp % 1000000 < th
        ORDER BY doc_id
    """,
    doc="temperature-based (alpha=0.5) source re-balancing — the "
    "multilingual alpha-sampling recipe (Lample & Conneau 2019, XLM-R): "
    "keep rate per source = min(1, n^alpha-normalized share * N / n), "
    "flattening the size head (en) and keeping the tail languages whole; "
    "applied "
    "as integer-exact per-million content-fingerprint thresholds (isqrt "
    "makes every threshold a pure integer expression, so the oracle is "
    "bit-exact), one bounded count aggregate + a single-scan CASE "
    "filter — the corpus never shuffles "
    "(operators/corpus.alpha_mixture_sample)",
)
def q_alpha_mixture_sample(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import alpha_mixture_sample

    d = _t(spark, sf_dir, "documents")
    return alpha_mixture_sample(d, "lang").select("doc_id", "lang").orderBy(
        "doc_id"
    )


@query(
    "inverted_index",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest(list_distinct({_TOKS})) AS term FROM documents),
        d AS (SELECT term, count(*) AS doc_freq FROM t GROUP BY 1),
        r AS (SELECT term, doc_id,
                     row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
              FROM t),
        p AS (SELECT term, array_to_string(list_sort(list(doc_id)), ',') AS postings
              FROM r WHERE rn <= 32 GROUP BY term)
        SELECT p.term, p.postings, d.doc_freq FROM p JOIN d USING (term)
    """,
    doc="inverted index build (north star retrieval): term -> first-32 sorted "
    "posting list + EXACT total doc_freq; the cap is a per-term row_number "
    "window pruned map-side (WindowGroupLimit) so a stopword's postings never "
    "materialize corpus-sized, while doc_freq comes from a separate "
    "partial-combine hash agg that sees every row. The gated row emits "
    "postings as a comma-joined STRING: the driver's canonicalizer hashes "
    "str-formatted scalar cells and cannot sort array columns (the r6 ERR), "
    "so no gated query may emit a complex type — the array-returning "
    "operator stays for library use (operators/retrieval.inverted_index)",
)
def q_inverted_index(spark, sf_dir):
    from hadoop_app_spark.operators.retrieval import inverted_index

    d = _t(spark, sf_dir, "documents")
    out = inverted_index(d, "text", "doc_id", max_postings=32)
    return out.select(
        "term", F.array_join("postings", ",").alias("postings"), "doc_freq"
    )


def _html_extract_oracle() -> str:
    """Oracle for html_extract, GENERATED from the same pattern tables
    that drive the Spark chain (operators/extraction.*_sql helpers) so
    implementation and oracle cannot drift."""
    from hadoop_app_spark.operators.extraction import (
        content_lines_sql,
        html_strip_sql,
        text_lines_sql,
    )

    esc = (
        "replace(replace(replace({c}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
    )
    html = (
        "'<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || "
        "'</title><style>.nav .m</style>"
        "<script type=\"text/javascript\">if(a<b&&c>d)alert(\"x\");</script>"
        "</head><body><h1>' || " + esc.format(c="source") + " || '</h1><p>' || "
        + esc.format(c="text")
        + " || '</p><ul><li>Home</li><li>About us</li></ul><!-- nav -->"
        "<div class=\"footer\">Copyright 2026 - All rights reserved.</div>"
        "</body></html>'"
    )
    lines = text_lines_sql(html_strip_sql("html"))
    kept = content_lines_sql(lines, 3)
    return f"""
        WITH h AS (SELECT doc_id, {html} AS html FROM documents),
        ext AS (SELECT doc_id, {lines} AS lines, {kept} AS kept FROM h)
        SELECT doc_id,
               coalesce(array_to_string(lines, chr(10)), '') AS text,
               CAST(len(lines) AS INTEGER) AS n_lines,
               CAST(len(kept) AS INTEGER) AS n_content_lines,
               coalesce(array_to_string(kept, chr(10)), '') AS content
        FROM ext
    """


@query(
    "html_extract",
    oracle=_html_extract_oracle(),
    doc="HTML -> text extraction + C4-style boilerplate line filter (north "
    "star: the WARC-to-clean-text stage ahead of every quality gate): drop "
    "script/style/comments, block tags -> newlines, strip tags, decode "
    "entities, then keep lines with >=3 words ending in terminal punctuation "
    "and free of javascript/cookie/rights-reserved cues. HTML is synthesized "
    "deterministically from documents (entity-escaped text embedded in a "
    "full page with nav/footer/script boilerplate) so both engines parse "
    "identical strings; the oracle expression is GENERATED from the same "
    "pattern tables as the Spark chain. Pure narrow map — zero shuffle "
    "(operators/extraction.extract_text)",
)
def q_html_extract(spark, sf_dir):
    from hadoop_app_spark.operators.extraction import extract_text

    d = _t(spark, sf_dir, "documents")

    def esc(c):
        return F.replace(
            F.replace(
                F.replace(c, F.lit("&"), F.lit("&amp;")), F.lit("<"), F.lit("&lt;")
            ),
            F.lit(">"),
            F.lit("&gt;"),
        )

    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit(
            "</title><style>.nav .m</style>"
            '<script type="text/javascript">if(a<b&&c>d)alert("x");</script>'
            "</head><body><h1>"
        ),
        esc(F.col("source")),
        F.lit("</h1><p>"),
        esc(F.col("text")),
        F.lit(
            "</p><ul><li>Home</li><li>About us</li></ul><!-- nav -->"
            '<div class="footer">Copyright 2026 - All rights reserved.</div>'
            "</body></html>"
        ),
    )
    return extract_text(d.select("doc_id", html.alias("html")), "html", "doc_id")


def _winnow_oracle(k: int, w: int, max_df: int, min_shared: int) -> str:
    """Winnowing oracle: the same normalize -> k-gram poly-hash ->
    robust (rightmost-min) window selection -> df-capped set join,
    in DuckDB list comprehensions. range() is end-exclusive and list
    slices are 1-based inclusive, hence the +1 / k-1 offsets."""
    return f"""
        WITH nm AS (SELECT doc_id, regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
                    FROM documents),
        cs AS (SELECT doc_id,
                      list_transform(string_split(s, ''), c -> CAST(ascii(c) AS BIGINT)) AS codes,
                      greatest(length(s) - {k - 1}, 0) AS h
               FROM nm),
        hs AS (SELECT doc_id, h,
                      list_transform(range(1, h + 1), i ->
                          list_reduce(list_prepend(CAST(0 AS BIGINT), codes[i:i+{k - 1}]),
                                      (acc, c) -> (acc * 31 + c) % 1000000007)) AS hashes
               FROM cs WHERE h >= 1),
        ps AS (SELECT doc_id, hashes,
                      list_distinct(list_transform(range(1, greatest(h - {w - 1}, 1) + 1), j ->
                          j + len(hashes[j:j+{w - 1}])
                            - list_position(list_reverse(hashes[j:j+{w - 1}]),
                                            list_min(hashes[j:j+{w - 1}])))) AS poss
               FROM hs),
        fps AS (SELECT DISTINCT doc_id, hashes[p] AS fp
                FROM (SELECT doc_id, hashes, unnest(poss) AS p FROM ps)),
        rare AS (SELECT fp FROM (SELECT fp, count(*) AS dfr FROM fps GROUP BY fp)
                 WHERE dfr <= {max_df}),
        kept AS (SELECT doc_id, fps.fp FROM fps JOIN rare USING (fp)),
        sizes AS (SELECT doc_id, count(*) AS nf FROM kept GROUP BY doc_id),
        pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
               FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
               GROUP BY 1, 2)
        SELECT id_a, id_b, CAST(n_shared AS BIGINT) AS n_shared,
               CAST(n_shared AS DOUBLE) / (sa.nf + sb.nf - n_shared) AS jaccard
        FROM pr JOIN sizes sa ON pr.id_a = sa.doc_id
                JOIN sizes sb ON pr.id_b = sb.doc_id
        WHERE n_shared >= {min_shared}
    """


@query(
    "winnow_neardup",
    oracle=_winnow_oracle(k=8, w=4, max_df=16, min_shared=2),
    doc="winnowing fingerprint near-dup pairs (Schleimer et al. 2003, the "
    "MOSS algorithm — north star dedup family's substring-robust member): "
    "normalize -> all 8-gram poly hashes -> rightmost-min selection per "
    "4-window (guaranteed to catch any shared run of >= 11 normalized chars "
    "at ~2/(w+1) density) -> document-frequency-capped fingerprint set join. "
    "Fingerprinting is a pure narrow map; the df cap is a groupBy agg (not a "
    "window) that bounds self-join fanout before the pair stage "
    "(operators/winnow.winnow_neardup_pairs)",
)
def q_winnow_neardup(spark, sf_dir):
    from hadoop_app_spark.operators.winnow import winnow_neardup_pairs

    d = _t(spark, sf_dir, "documents")
    # repartition spreads the kernel off the single-file scan (the
    # minhash_fast / repetition_fast playbook: one parquet file would
    # otherwise pin the whole per-doc fingerprint pass to a few cores)
    return winnow_neardup_pairs(
        d, "text", "doc_id", k=8, w=4, max_df=16, min_shared=2,
        repartition_to=spark.sparkContext.defaultParallelism,
    )


def _semdedup_oracle(n_clusters: int = 16, threshold: float = 0.85) -> str:
    """SemDeDup oracle: centroids are recomputable in SQL (lowest-id
    rows), so DuckDB re-derives assignment, within-cluster pairs, and
    the keep-hardest rule with no literal inlining. The cosine chain
    matches functions/vectors.cosine_similarity term-for-term,
    including the zero-norm guard."""
    dot = (
        "list_reduce(list_prepend(0.0, [{a}[i] * {b}[i] for i in range(1, len({a}) + 1)]),"
        " (acc, x) -> acc + x)"
    )

    def cos(a: str, b: str) -> str:
        np_ = f"(sqrt({dot.format(a=a, b=a)}) * sqrt({dot.format(a=b, b=b)}))"
        return f"(CASE WHEN {np_} <> 0.0 THEN {dot.format(a=a, b=b)} / {np_} ELSE 0.0 END)"

    return f"""
        WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        cents AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT {n_clusters}),
        sims AS (SELECT e.vec_id, cents.cid, {cos("e.v", "cents.cv")} AS s
                 FROM e CROSS JOIN cents),
        assign AS (SELECT vec_id, cid AS cluster, s AS csim FROM (
                       SELECT vec_id, cid, s,
                              row_number() OVER (PARTITION BY vec_id
                                                 ORDER BY s DESC, cid) AS rn
                       FROM sims) WHERE rn = 1),
        m AS (SELECT a.vec_id, a.cluster, a.csim, e.v
              FROM assign a JOIN e USING (vec_id)),
        dropped AS (SELECT DISTINCT x.vec_id
                    FROM m x JOIN m y ON x.cluster = y.cluster
                         AND x.vec_id <> y.vec_id
                         AND (y.csim < x.csim
                              OR (y.csim = x.csim AND y.vec_id < x.vec_id))
                         AND {cos("x.v", "y.v")} >= {threshold})
        SELECT vec_id, cluster FROM m
        WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
    """


@query(
    "semdedup",
    oracle=_semdedup_oracle(n_clusters=16, threshold=0.35),
    doc="SemDeDup semantic deduplication (Abbas et al. 2023 — north star "
    "dedup family, the embedding-cluster-scoped member): nearest-centroid "
    "cosine assignment (mapInPandas BLAS argmax against ONE broadcast (k, d) "
    "centroid ndarray), pairwise cosine WITHIN clusters only as a blocked-"
    "matmul applyInPandas kernel per cluster, keep the lowest-centroid-"
    "similarity member of every duplicate group (retain hard examples). "
    "threshold=0.35 because the synthetic corpus tops out at cosine ~0.51 — "
    "the published ~0.9 settings are vacuous here; the knob is data-dependent. "
    "Centroids here are the n lowest-id vectors so the oracle recomputes "
    "them in SQL; at deployment scale pass trained IVF centroids "
    "(semdedup_fast) — same plan. The only exchange is the cluster key "
    "(operators/semdedup.semdedup_survivors)",
)
def q_semdedup(spark, sf_dir):
    from hadoop_app_spark.operators.semdedup import semdedup_survivors

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    return semdedup_survivors(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.35
    )


@query(
    "semdedup_fast",
    # no SQL oracle BY DESIGN: centroids are TRAINED (spherical k-means,
    # engine-seeded float means — the same rows-only convention as the
    # other trained/engine-seeded structures). tests/test_semdedup.py
    # pins the survivor set with these trained centroids against a
    # Catalyst higher-order-function reference fed the same centroids.
    oracle=None,
    doc="production SemDeDup configuration: TRAINED spherical k-means "
    "centroids (operators/similarity.train_ivf_centroids) feed the same "
    "assignment and duplicate kernels as semdedup — centroids broadcast as "
    "ONE (k, d) float64 ndarray, so growing n_clusters with the corpus (the "
    "knob that bounds the per-cluster quadratic) grows only the broadcast, "
    "never the plan (operators/semdedup.semdedup_survivors)",
)
def q_semdedup_fast(spark, sf_dir):
    from hadoop_app_spark.operators.semdedup import semdedup_survivors
    from hadoop_app_spark.operators.similarity import train_ivf_centroids

    emb = _t(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    # sampled farthest-point seeding: one job, not k-1 sequential scans
    cents = train_ivf_centroids(
        emb, "vec_id", "embedding", n_centroids=16, iters=2, seed_on_sample=4096
    )
    return semdedup_survivors(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.35,
        centroid_source=cents,
    )


def _quality_trainer_oracle(n_iter: int = 10) -> str:
    """From-scratch DuckDB replay of train_quality_lr's WHOLE gradient-
    descent loop (the bpe_merges 'iterative trainer has no SQL twin'
    class, closed for gradient descent): n_iter unrolled rounds, each
    one MATERIALIZED gradient CTE + a one-row weight CTE.

    Why this replays bit-for-bit:
    - the five features and the left-fold z = x.w are the same
      IEEE-exact expressions the fixed-weight scorers already hash
      identically (shared _quality_feats_sql);
    - Spark's double->DECIMAL(38,18) cast goes through Java's SHORTEST
      roundtrip string then HALF_UP quantization; DuckDB's direct cast
      rounds the BINARY expansion instead (measured: 1/3 lands on
      ...312 vs ...300) — but DuckDB's double->VARCHAR is the same
      shortest repr, and VARCHAR->DECIMAL quantizes HALF_UP (measured
      incl. ties: 5e-19 -> 1E-18, -5e-19 -> -1E-18), so
      CAST(CAST(term AS VARCHAR) AS DECIMAL(38,18)) IS Spark's cast;
    - decimal sums are exact and order-free; the weight update reads
      the sum back to double via VARCHAR (strtod is correctly rounded
      in both engines — the linear_trend rule), then w - (g / n) in
      plain IEEE (lr = 1.0 multiplies away);
    - AS MATERIALIZED on the feature frame and every gradient CTE is
      load-bearing: inlined CTEs re-expand the whole prefix per round
      (the bpe_merges 6^rounds lesson).
    """
    feats = _quality_feats_sql()
    d = len(feats)
    sig = "(0.5 + (0.5 * z) / (1.0 + abs(z)))"
    x_cols = ", ".join(f"({f}) AS x{j}" for j, f in enumerate(feats))
    z = " + ".join(f"x{j} * w{j}" for j in range(d))
    parts = [
        f"""feat AS MATERIALIZED (
            SELECT {x_cols},
                   CAST(CAST(length(coalesce(text, '')) >= 300 AS INT) AS DOUBLE) AS y,
                   doc_id
            FROM documents),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
        w_0 AS (SELECT {', '.join(f'CAST(0.0 AS DOUBLE) AS w{j}' for j in range(d))})"""
    ]
    for r in range(1, n_iter + 1):
        gsums = ", ".join(
            f"sum(CAST(CAST(({sig} - y) * x{j} AS VARCHAR) AS DECIMAL(38,18))) AS g{j}"
            for j in range(d)
        )
        wnew = ", ".join(
            f"w{j} - (CAST(CAST(g{j} AS VARCHAR) AS DOUBLE) / n) AS w{j}"
            for j in range(d)
        )
        parts.append(
            f"""g_{r} AS MATERIALIZED (
            SELECT {gsums}
            FROM (SELECT feat.*, {z} AS z FROM feat CROSS JOIN w_{r - 1})),
        w_{r} AS (SELECT {wnew} FROM g_{r} CROSS JOIN w_{r - 1} CROSS JOIN st)"""
        )
    sep = ",\n        "
    body = sep.join(parts)
    return f"""
        WITH {body}
        SELECT doc_id, CAST(y AS INT) AS y,
               CAST({sig} >= 0.5 AS INT) AS pred
        FROM (SELECT doc_id, y, {z} AS z FROM feat CROSS JOIN w_{n_iter})
    """


@query(
    "quality_classifier",
    # the WHOLE training loop replayed in SQL (10 unrolled gradient-
    # descent rounds; see _quality_trainer_oracle) — plus the harder
    # pin that predates it: tests/test_quality_model.py asserts the
    # trained weights EQUAL a pure-Python decimal-exact reference
    # bit-for-bit and are invariant under repartitioning
    oracle=_quality_trainer_oracle(),
    doc="trained quality classifier (north star: the CCNet/fastText-class "
    "LEARNED quality gate): distributed logistic regression over cheap text "
    "features — per iteration one scan, d map-side-combined DECIMAL gradient "
    "sums, a d-element collect, weights re-broadcast as literals. Decimal "
    "accumulation makes training deterministic to the bit under any "
    "partitioning; the algebraic sigmoid avoids Math.exp's last-ulp "
    "platform variance. Labels here: long-document proxy (len >= 300) so "
    "the fit is verifiable; scoring is a pure narrow map. ORACLED end to "
    "end: the DuckDB replay re-runs all 10 gradient-descent rounds from "
    "scratch (shortest-repr VARCHAR casts reproduce Spark's double->"
    "decimal HALF_UP quantization exactly), so training AND scoring are "
    "value-checked (operators/quality_model.train_quality_lr/"
    "score_quality_lr)",
)
def q_quality_classifier(spark, sf_dir):
    from hadoop_app_spark.operators.quality_model import (
        score_quality_lr,
        train_quality_lr,
    )

    d = _t(spark, sf_dir, "documents").withColumn(
        # coalesce: the feature expressions NULL-proof themselves, so
        # the label must too — else a NULL-text doc raises in Spark
        # while the DuckDB replay silently propagates NULL gradients
        # (divergent failure modes, ADVICE r9)
        "y", (F.length(F.coalesce(F.col("text"), F.lit(""))) >= 300).cast("int")
    )
    w = train_quality_lr(d, "text", "y", n_iter=10, lr=1.0)
    scored = score_quality_lr(d, "text", w, out_col="p")
    return scored.select(
        "doc_id",
        "y",
        (F.col("p") >= 0.5).cast("int").alias("pred"),
    )


@query(
    "sequence_packing",
    oracle=f"""
        WITH t AS (SELECT doc_id, CAST({_NTOK} AS BIGINT) AS ntok FROM documents),
        o AS (SELECT doc_id, ntok,
                     CAST(coalesce(sum(ntok) OVER (ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          AS BIGINT) AS b
              FROM t),
        s AS (SELECT doc_id, ntok, b,
                     unnest(range(b // 512, (b + ntok - 1) // 512 + 1)) AS seq_id
              FROM o WHERE ntok > 0)
        SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
               CAST(greatest(b - seq_id * 512, 0) AS BIGINT) AS seq_pos,
               CAST(greatest(seq_id * 512 - b, 0) AS BIGINT) AS doc_tok_offset,
               CAST(least(ntok, (seq_id + 1) * 512 - b)
                    - greatest(seq_id * 512 - b, 0) AS BIGINT) AS n_in_seq
        FROM s
    """,
    doc="GPT-style sample packing (north star: the final pretraining layout "
    "step): concatenate documents in global order, cut fixed 512-token "
    "training sequences, docs spanning boundaries with no padding. The "
    "global token offset is the bounded two-pass prefix scan (range "
    "repartition + P-row collect + per-partition window — never an "
    "unpartitioned ORDER BY window); span expansion is a 1-2 row explode "
    "per doc. The oracle's plain windowed prefix sum verifies the two-pass "
    "scan end-to-end (operators/windows.pack_sequences)",
)
def q_sequence_packing(spark, sf_dir):
    from hadoop_app_spark.operators.windows import pack_sequences

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count("text").alias("ntok")
    )
    return pack_sequences(d, "ntok", ["doc_id"], seq_len=512).select(
        "doc_id", "seq_id", "seq_pos", "doc_tok_offset", "n_in_seq"
    )


# raw-text whitespace tokens (no lower) — the doc_chunks contract
_RAW_TOKS = f"list_filter(string_split_regex(text, '{_WS}'), x -> x <> '')"


@query(
    "doc_chunking",
    oracle=f"""
        WITH t AS (SELECT doc_id, {_RAW_TOKS} AS toks FROM documents),
        b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        g AS (SELECT doc_id, toks,
                     unnest(range(0, CAST(floor((n - 1) / 24.0) AS BIGINT) + 1)) AS i
              FROM b)
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_id,
               CAST(i * 24 AS BIGINT) AS start_tok,
               CAST(len(list_slice(toks, i * 24 + 1, i * 24 + 32)) AS BIGINT) AS n_tok,
               array_to_string(list_slice(toks, i * 24 + 1, i * 24 + 32), ' ')
                   AS chunk_text
        FROM g
    """,
    doc="sliding-window token chunking (north star: the RAG / long-context "
    "ingestion splitter that runs after curation): chunk i covers tokens "
    "[i*stride, i*stride+size) on a fixed stride grid (size=32, overlap=8), "
    "every token in at least one chunk, final chunks may run short — one "
    "explode, zero shuffles, all Catalyst, so chunk-metadata filters push "
    "to the scan (operators/chunking.doc_chunks)",
)
def q_doc_chunking(spark, sf_dir):
    from hadoop_app_spark.operators.chunking import doc_chunks

    d = _t(spark, sf_dir, "documents")
    return doc_chunks(d, "text", "doc_id", chunk_size=32, overlap=8)


@query(
    "fim_splits",
    oracle=f"""
        WITH m AS (
            SELECT doc_id, text, length(text) AS L, {_FP_SQL} AS fp,
                   CAST(floor(length(text) / 6) AS BIGINT) AS j
            FROM documents WHERE length(text) >= 90),
        s AS (
            SELECT doc_id, text, L, fp,
                   CAST(floor(L / 3) AS BIGINT) + fp % (j + 1) AS m1,
                   CAST(floor(L * 2 / 3) AS BIGINT)
                       + CAST(floor(fp / 31) AS BIGINT) % (j + 1) AS m2
            FROM m)
        SELECT doc_id,
               substr(text, 1, CAST(m1 AS INTEGER)) AS prefix,
               substr(text, CAST(m1 AS INTEGER) + 1, CAST(m2 - m1 AS INTEGER)) AS middle,
               substr(text, CAST(m2 AS INTEGER) + 1, CAST(L - m2 AS INTEGER)) AS suffix,
               CAST(fp % 2 AS INTEGER) AS spm
        FROM s
    """,
    doc="deterministic fill-in-the-middle splits (north star: the FIM "
    "transform, Bavarian et al. 2022, applied to a fraction of pretraining "
    "docs): split points derive from the content fingerprint — jittered "
    "around the thirds, reproducible under re-runs/repartitioning and "
    "recomputable by the oracle, where a rand() split never could be; spm "
    "flags the PSM/SPM serialization half. Pure narrow map "
    "(operators/chunking.fim_splits)",
)
def q_fim_splits(spark, sf_dir):
    from hadoop_app_spark.operators.chunking import fim_splits

    d = _t(spark, sf_dir, "documents")
    return fim_splits(d, "text", "doc_id", min_len=90)


# DuckDB twin of functions/text.normalize_for_dedup; the non-printing
# whitespace class members go in via chr() because SQL string literals
# do not process backslash escapes
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(regexp_replace("
    "translate(lower(text), 'áàâäãåçéèêëíìîïñóòôöõúùûüýÿ',"
    " 'aaaaaaceeeeiiiinooooouuuuyy'),"
    " '[0-9]', '0', 'g'),"
    " '[^a-z0 ' || chr(9) || chr(10) || chr(13) || chr(12) || ']', '', 'g'),"
    " '[ ' || chr(9) || chr(10) || chr(13) || chr(12) || ']+', ' ', 'g'))"
)


@query(
    "normalized_dedup",
    oracle=f"""
        WITH n AS (SELECT doc_id, {_NORM_SQL} AS norm FROM documents)
        SELECT min(doc_id) AS doc_id, count(*) AS n_variants
        FROM n GROUP BY norm
    """,
    doc="CCNet-style normalized exact dedup (north star dedup family — the "
    "formatting-variant member): lowercase + accent fold + digit->0 + "
    "punctuation strip + whitespace collapse, then ONE hash aggregation on "
    "the normalized form (min-id survivor, variant count). Catches the "
    "'Price: $1,299!' vs 'price $1299' duplicates exact dedup misses and "
    "MinHash spends shingles on; the normalization chain is a codegen'd "
    "scalar map, so the whole operator is scan -> hash-agg "
    "(functions/text.normalize_for_dedup)",
)
def q_normalized_dedup(spark, sf_dir):
    from hadoop_app_spark.functions.text import normalize_for_dedup

    d = _t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", normalize_for_dedup(F.col("text")).alias("_norm"))
        .groupBy("_norm")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_variants"))
        .select("doc_id", "n_variants")
    )


@query(
    "unicode_nfc_dedup",
    # the corpus is ASCII-only (normalization is identity there), so
    # the entry INJECTS the interesting rows itself — the
    # csv_malformed_quarantine convention: each base doc gains a
    # precomposed-é variant (+100000) and a decomposed e+U+0301
    # variant (+200000); NFC makes those two (and only those two)
    # byte-identical, so the dedup must collapse exactly that pair
    # while every ASCII base doc survives alone
    oracle="""
        WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id <= 50),
        inj AS (
            SELECT doc_id, text FROM base
            UNION ALL
            SELECT doc_id + 100000, replace(text, 'e', chr(233)) FROM base
            UNION ALL
            SELECT doc_id + 200000, replace(text, 'e', 'e' || chr(769)) FROM base),
        n AS (SELECT doc_id, nfc_normalize(text) AS norm FROM inj)
        SELECT min(doc_id) AS doc_id, count(*) AS n_variants,
               CAST(min(length(norm)) AS BIGINT) AS n_norm_chars
        FROM n GROUP BY norm
    """,
    doc="Unicode NFC normalization before dedup (north star dedup family — "
    "the encoding-variant member): precomposed vs combining-mark encodings "
    "of the same rendered text hash apart in every byte-level dedup, so the "
    "pipeline normalizes to NFC first (functions/text.nfc_normalize, the "
    "documented Arrow-vectorized pandas_udf path — composition has no "
    "Catalyst builtin) and then runs the one-hash-agg min-id dedup; the "
    "oracle replays the injection and DuckDB's built-in nfc_normalize "
    "value-checks survivors, variant counts and normalized lengths",
)
def q_unicode_nfc_dedup(spark, sf_dir):
    from hadoop_app_spark.functions.text import nfc_normalize

    base = (
        _t(spark, sf_dir, "documents")
        .where(F.col("doc_id") <= 50)
        .select("doc_id", "text")
    )
    composed = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.regexp_replace("text", "e", "\u00e9").alias("text"),  # precomposed
    )
    decomposed = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.regexp_replace("text", "e", "e\u0301").alias("text"),  # e + combining acute
    )
    inj = base.unionByName(composed).unionByName(decomposed)
    return (
        inj.select("doc_id", nfc_normalize(F.col("text")).alias("_norm"))
        .groupBy("_norm")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("n_variants"),
            F.min(F.length("_norm")).cast("long").alias("n_norm_chars"),
        )
        .select("doc_id", "n_variants", "n_norm_chars")
    )


@query(
    "source_overlap",
    oracle=f"""
        WITH p AS (SELECT source,
                          array_to_string(list_slice({_RAW_TOKS}, 1, 8), ' ') AS text
                   FROM documents),
        k AS (SELECT DISTINCT source, {_FP_SQL} AS fp FROM p)
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS n_shared
        FROM k a JOIN k b ON a.fp = b.fp AND a.source < b.source
        GROUP BY 1, 2
    """,
    doc="cross-source contamination matrix (north star: the shared-content "
    "dashboard a multi-crawl corpus build consults before setting mixture "
    "weights — double-counted crawls inflate effective epochs): distinct "
    "(source, content-fingerprint) pairs FIRST (one hash agg collapses all "
    "copies), then a fingerprint-keyed self-join whose output is at most "
    "|sources|^2 rows. Keyed here at the 8-token-prefix grain so shared "
    "boilerplate openings across sources surface "
    "(operators/corpus.source_overlap_matrix)",
)
def q_source_overlap(spark, sf_dir):
    from hadoop_app_spark.functions.text import tokenize_raw
    from hadoop_app_spark.operators.corpus import source_overlap_matrix

    # raw (case-preserving) prefix tokens — must match the oracle's
    # _RAW_TOKS key; tokenize() lowercases and would diverge on any
    # mixed-case corpus
    d = _t(spark, sf_dir, "documents").select(
        "source",
        F.array_join(F.slice(tokenize_raw("text"), 1, 8), " ").alias("key"),
    )
    return source_overlap_matrix(d, "key", "source")


@query(
    "corpus_diff",
    oracle=f"""
        WITH o AS (SELECT doc_id, {_FP_SQL} AS fp FROM documents
                   WHERE doc_id % 11 <> 0),
        n AS (SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN {_fp_sql("text || ' updated'")}
                     ELSE {_FP_SQL} END AS fp
              FROM documents WHERE doc_id % 13 <> 0)
        SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN o.fp <> n.fp THEN 'changed' END AS change
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.fp <> n.fp)
    """,
    doc="corpus snapshot diff (north star: the release delta a continuously "
    "refreshed corpus publishes with every crawl): each snapshot collapses "
    "to (id, content-fingerprint) in one narrow projection, ONE full outer "
    "join on the id classifies added/removed/changed, unchanged docs (the "
    "~99% at 100 TB) drop out so output is proportional to CHURN. The two "
    "snapshots here are deterministic views of the documents table (drop "
    "id%11==0 from old, drop id%13==0 from new, append ' updated' to "
    "id%7==0 in new) so the oracle rebuilds both sides exactly "
    "(operators/corpus.corpus_diff)",
)
def q_corpus_diff(spark, sf_dir):
    from hadoop_app_spark.operators.corpus import corpus_diff

    d = _t(spark, sf_dir, "documents")
    old = d.where(F.col("doc_id") % 11 != 0)
    new = d.where(F.col("doc_id") % 13 != 0).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" updated"))
        ).otherwise(F.col("text")),
    )
    return corpus_diff(old, new, "text", "doc_id")


@query(
    "embedding_pca",
    # no SQL oracle BY DESIGN: eigenvectors are engine-seeded state
    # (sign/rotation ambiguity + aggregation-order float means — the
    # trained-structure convention); the invariants that matter are
    # pytest-pinned in tests/test_pca.py: orthonormal components,
    # descending explained variance, whitened covariance == identity,
    # reconstruction error bounded by the trailing eigenmass
    oracle=None,
    doc="distributed PCA + whitening over the embedding column (north star "
    "similarity family: the rotation/decorrelation pass ahead of IVF/PQ "
    "indexes and SemDeDup): mean and the d x d covariance via TWO bounded "
    "aggregations (a posexplode mean and a d*(d+1)/2 upper-triangle "
    "product hash-agg, map-side combined — only O(d^2) numbers reach the "
    "driver), eigendecomposition driver-side on the d x d matrix, "
    "projection a single narrow map with the rotation as plan literals "
    "(operators/pca.train_pca/project_pca)",
)
def q_embedding_pca(spark, sf_dir):
    from hadoop_app_spark.operators.pca import project_pca, train_pca

    emb = _t(spark, sf_dir, "embeddings")
    mean, comps, eigs = train_pca(emb, "embedding", k=8)
    return project_pca(
        emb, mean, comps, eigs, "embedding", out_col="pca", whiten=True
    ).select("vec_id", "pca")


def _pca_fixed_oracle(k: int = 8, d: int = 64, scale: int = 1000) -> str:
    """From-scratch replay of project_fixed_basis: same half-up-via-
    floor quantization (the embedding_quantize convention), the same
    Walsh rows inlined as +-1 list literals, per-dimension BIGINT sums
    from one grouped pass, and the n-scaled centered projection
    p_j = n*(q.h_j) - (S.h_j) — pure integer arithmetic end to end."""
    from hadoop_app_spark.operators.pca import walsh_rows

    rows = walsh_rows(k, d)
    hdefs = ",\n                     ".join(
        f"[{', '.join(str(v) for v in row)}] AS h{j}" for j, row in enumerate(rows)
    )

    def dot(vec: str, j: int) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"[{vec}[i] * h{j}[i] for i in range(1, {d} + 1)]), (a, b) -> a + b)"
        )

    projs = ",\n               ".join(
        f"CAST(n * ({dot('q', j)}) - ({dot('sv', j)}) AS BIGINT) AS p{j}"
        for j in range(k)
    )
    return f"""
        WITH e AS (SELECT vec_id,
                          list_transform(embedding, x ->
                              CAST(floor(CAST(x AS DOUBLE) * {scale} + 0.5) AS BIGINT)) AS q
                   FROM embeddings),
        st AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
        sums AS (SELECT i, CAST(sum(q[i]) AS BIGINT) AS s
                 FROM e CROSS JOIN (SELECT unnest(range(1, {d} + 1)) AS i)
                 GROUP BY i),
        sl AS (SELECT list(s ORDER BY i) AS sv FROM sums),
        h AS (SELECT {hdefs})
        SELECT vec_id,
               {projs}
        FROM e CROSS JOIN st CROSS JOIN sl CROSS JOIN h
    """


@query(
    "embedding_pca_fixed",
    oracle=_pca_fixed_oracle(),
    doc="the PCA family's oracle-exact face (the pq_ann_topk_fixed "
    "convention): integer-quantized embeddings "
    "projected onto the first 8 Walsh-Hadamard rows — a FORMULA rotation "
    "with exactly orthogonal +-1 entries, none of the eigenvector sign/"
    "order/float ambiguity — with n-scaled exact centering so no float "
    "mean ever exists (p_j = n*(q.h_j) - S.h_j, all BIGINT); same plan "
    "shape as trained PCA (one bounded per-dim moment aggregate, rotation "
    "as plan literals, one narrow map), every projection value-checked; "
    "trained-eigenvector PCA stays the production path "
    "(operators/pca.project_fixed_basis)",
)
def q_embedding_pca_fixed(spark, sf_dir):
    from hadoop_app_spark.operators.pca import project_fixed_basis

    emb = _t(spark, sf_dir, "embeddings")
    return project_fixed_basis(emb, "embedding", "vec_id", k=8, scale=1000)


def _quality_calibration_oracle() -> str:
    from hadoop_app_spark.operators.quality_model import PINNED_QUALITY_LR_WEIGHTS

    z = _quality_lr_z_sql(PINNED_QUALITY_LR_WEIGHTS)
    return f"""
        WITH s AS (SELECT length(text) >= 300 AS y, ({z}) AS _z FROM documents),
        p AS (SELECT y, CAST(0.5 AS DOUBLE) + CAST(0.5 AS DOUBLE) * _z
                            / (CAST(1.0 AS DOUBLE) + abs(_z)) AS p
              FROM s)
        SELECT CAST(least(floor(p * 10), 9) AS INTEGER) AS bin,
               count(*) AS n,
               CAST(sum(CAST(y AS INTEGER)) AS BIGINT) AS n_pos
        FROM p GROUP BY 1
    """


@query(
    "quality_calibration",
    oracle=_quality_calibration_oracle(),
    doc="calibration table for the trained quality classifier (the "
    "reliability diagram every learned gate ships with — is p=0.7 actually "
    "70% positive?): score under the pinned decimal-exact-trained weights, "
    "decile-bin the probability, count positives per bin. Output is "
    "INTEGER-only (bin, n, n_pos) so the driver hash cannot trip on "
    "float-mean aggregation order; one scan, one 10-key hash agg "
    "(operators/quality_model.score_quality_lr)",
)
def q_quality_calibration(spark, sf_dir):
    from hadoop_app_spark.operators.quality_model import (
        PINNED_QUALITY_LR_WEIGHTS,
        score_quality_lr,
    )

    d = _t(spark, sf_dir, "documents")
    scored = score_quality_lr(d, "text", list(PINNED_QUALITY_LR_WEIGHTS), out_col="p")
    return (
        scored.select(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("int").alias("bin"),
            (F.length("text") >= 300).cast("int").alias("y"),
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("y").cast("long").alias("n_pos"))
    )


@query(
    "oov_rate",
    oracle=f"""
        WITH t AS (SELECT doc_id, unnest({_TOKS}) AS tok FROM documents),
        freq AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
        vocab AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT 500),
        oov AS (SELECT doc_id, count(*) AS n_oov
                FROM t WHERE tok NOT IN (SELECT tok FROM vocab)
                GROUP BY doc_id),
        tot AS (SELECT doc_id, count(*) AS n_tokens FROM t GROUP BY doc_id)
        SELECT tot.doc_id, tot.n_tokens,
               CAST(coalesce(oov.n_oov, 0) AS BIGINT) AS n_oov
        FROM tot LEFT JOIN oov ON tot.doc_id = oov.doc_id
    """,
    doc="out-of-vocabulary rate against the corpus' own top-500 token "
    "vocabulary (the tokenizer-budget diagnostic: how much of the corpus a "
    "fixed vocab covers, the first number checked before sizing BPE merges). "
    "TWO corpus passes total: one explode -> frequency aggregation derives "
    "the vocabulary (TakeOrderedAndProject with a deterministic count-desc, "
    "token-asc tie-break), then ONE scoring pass — a broadcast LEFT "
    "membership join whose per-doc aggregate emits n_tokens and n_oov "
    "together, so the corpus is never tokenized twice for the two counts "
    "and never shuffles on the token key. Integer-only output (doc, "
    "n_tokens, n_oov) so the value hash cannot trip on float aggregation "
    "order",
)
def q_oov_rate(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokenize("text")).alias("tok"))
    vocab = (
        toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), F.col("tok").asc())
        .limit(500)
        .select("tok", F.lit(1).alias("_v"))
    )
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    return marked.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("_v").isNull(), 1).otherwise(0)).cast("long").alias("n_oov"),
    )


def names() -> list[str]:
    return list(REGISTRY)


# ---------------------------------------------------------------------------
# Registry ordering. The driver's correctness gate checks entries in
# insertion order with a bounded budget (round 1 stopped at 50 of 73), so
# order = priority: reference-core operators and the north-star corpus
# pipeline first, then pytest-covered variants (no-oracle perf twins,
# batch/stream duplicates) whose absence from the gate loses least signal.
# ---------------------------------------------------------------------------

# The driver's correctness gate compares the FIRST this-many registry
# queries against their oracles; its canonicalizer hashes str-formatted
# scalar cells and pandas-sorts rows, so a gated query's schema must be
# scalar-only (an array/map/struct column crashes it — the r6
# inverted_index ERR). tools/oracle_check.py and
# tests/test_registry.py enforce this for every gated entry.
DRIVER_GATE_SIZE = 50

# Names that once ran a second kernel of the same operator (a Catalyst
# form vs a numpy kernel). Each operator now has one kernel, so the old
# name runs its primary's query function and oracle; the names stay so
# that __spark_entry__.queries() keeps every entry it lists.
_ALIASES = {
    "cosine_topk_vectorized": "cosine_topk",
    "lsh_ann_topk_hof": "lsh_ann_topk",
    "ivf_ann_topk_hof": "ivf_ann_topk",
    "embedding_near_dup_vectorized": "embedding_near_dup",
    "winnow_neardup_hof": "winnow_neardup",
    "semdedup_fast_fixed": "semdedup",
    "repetition_ngrams_fast": "repetition_ngrams",
    "simhash_band_neardup_fast": "simhash_band_neardup",
    "minhash_signatures_fast": "minhash_signatures",
    "minhash_dedup_fast": "minhash_dedup",
}
REGISTRY.update({alias: REGISTRY[primary] for alias, primary in _ALIASES.items()})


# Gate rotations and the reasons for them are recorded per round in
# BASELINE.md, which `tools/oracle_check.py --rotation-age` reads.
_PRIORITY = [
    "recommend_flagship",
    "pricing_summary",
    "suppliers_kept_waiting",
    "stream_session_exec",
    "stream_stateful_exec",
    "source_codecs",
    "compaction_roundtrip",
    "stream_dedup_ingest_exec",
    "stream_drift_ingest_exec",
    "ivfpq_index_topk",
    "ivfpq_index_increment",
    "bloom_retraction",
    "udtf_ncdc_parse",
    "split_assignment_pinning",
    "csv_malformed_quarantine",
    "incremental_matview",
    "stream_matview_exec",
    "vacuum_roundtrip",
    "nation_communities",
    "contrastive_pairs",
    "timeseries_gapfill",
    "key_skew_profile",
    "conversion_attribution",
    "dynamic_partition_overwrite",
    "quality_classifier",
    "wordpiece_merges",
    "simhash_reseed_increment",
    "ivf_index_rebuild",
    "hll_index_increment",
    "snapshot_time_travel",
    "snapshot_column_diff",
    "simhash_dedup_decisions",
    "retrieval_ndcg",
    "ab_test_summary",
    "distribution_drift",
    "timeseries_downsample",
    "winsorize_features",
    "robust_scale_features",
    "unigram_vocab_fixed",
    "snapshot_expire",
    "ann_recall_ivfpq",
    "zorder_point_lookup",
    "embedding_pca_fixed",
    "minhash_dedup_decisions",
    "token_pmi_topk",
    "event_transitions",
    "stream_rollup_exec",
    "stream_topk_exec",
    "bpe_encode_fixed",
    "semdedup_fast_fixed",
    "dedup_increment",
    "simhash_increment",
    "stream_validated_ingest_exec",
    "ivf_index_topk",
    "ivf_index_increment",
    "stream_ann_ingest_exec",
    "udtf_chunk_spans",
    "data_expectations",
    "leakage_safe_split",
    "schema_evolution_read",
    "mixture_epoch_order",
    "orc_roundtrip",
    "timeseries_interpolate",
    "unicode_nfc_dedup",
    "bpe_merges",
    "max_per_group",
    "inner_equi_join",
    "broadcast_dim_join",
    "topk_per_group",
    "window_analytics",
    "stream_sliding_exec",
    "multimodal_meta",
    "upsert_snapshot",
    "nation_pagerank",
    "corpus_curation",
    "kmv_source_overlap",
    "index_compaction",
    "count_distinct",
    "grouping_analytics",
    "semi_anti_join",
    "cross_range_joins",
    "json_functions",
    "safe_cast_defaults",
    "exact_dedup_simhash",
    "quantile_profile",
    "doc_chunking",
    "fim_splits",
    "oov_rate",
    "cohort_retention",
    "image_near_dup",
    "minhash_dedup",
    "simhash_band_neardup",
    "ivf_ann_topk",
    "cluster_canonical",
    "source_overlap",
    "corpus_diff",
    "quality_calibration",
    "typo_pairs",
    "bloom_decontamination",
    "stream_dedup_exec",
    "stream_static_join_exec",
    "winnow_neardup",
    "semdedup",
    "sequence_packing",
    "lm_perplexity",
    "mixture_rebalance",
    "html_extract",
    "hybrid_retrieval",
    "near_dup_components",
    "embedding_quantize",
    "fanout_explode",
    "minmax_normalize",
    "pivot_wide",
    "embedding_avg_by_label",
    "repetition_ngrams_fast",
    "shard_packing",
    "compression_quality",
    "token_histogram",
    "minhash_cluster_canonical",
    "outer_joins",
    "set_operations",
    "metric_profile",
    "array_hof_functions",
    "regex_case_functions",
    "math_functions",
    "ngram_jaccard_adjacent",
    "lsh_ann_topk",
    "source_stats",
    "decontamination",
    "domain_filter_caps",
    "winnow_neardup_hof",
    "sample_per_group",
    "date_functions",
    "string_functions",
    "text_metrics",
    "line_dedup",
    "repetition_ngrams",
    "cosine_topk",
    "embedding_near_dup",
    "tfidf_top_terms",
    "pii_redaction",
    "bpe_token_count",
    "asof_join_latest_click",
    "bucketed_join",
    "funnel_conversion",
    "url_canonical_dedup",
    "dsir_resample",
    "gopher_gates",
    "shipping_priority",
    "local_supplier_volume",
    "promo_revenue",
    "top_supplier",
    "stream_cms_exec",
    "hll_shingle_registers",
    "stream_hll_exec",
    "order_priority_check",
    "returned_item_report",
    "large_volume_customer",
    "linear_trend",
    "bloom_prefilter_join",
    "volume_shipping",
    "late_line_priority",
    "disjunctive_bundle_revenue",
    "global_sales_opportunity",
    "forecast_revenue_change",
    "min_cost_supplier",
    "nation_market_share",
    "product_type_profit",
    "important_part_value",
    "parts_supplier_count",
    "dominant_part_suppliers",
    "unigram_vocab",
    "unigram_token_count",
    "wordpiece_token_count",
    "wordpiece_encode_fixed",
    "unigram_encode_fixed",
    "stream_pyds_exec",
    "alpha_mixture_sample",
    "bloom_skip_lookup",
    "mad_outliers",
    "small_qty_avg_yearly",
    "customer_order_distribution",
    "cms_heavy_hitters",
    "hll_distinct_shingles",
    "triangle_census",
    "set_similarity_join",
    "scd2_dimension",
    "pyds_ncdc_scan",
    "bm25_retrieval",
    "duplicate_passages",
    "dsir_select",
    "stream_quantile_exec",
    "image_near_dup_wide",
    "normalized_dedup",
    "inverted_index",
    "stream_stream_join_exec",
    "global_topn",
    "stream_tumbling_exec",
    "minhash_signatures",
    "tumbling_window",
    "sessionize",
    "stratified_sample",
    "sliding_window",
    "event_dedup",
    "cosine_topk_vectorized",
    "lsh_ann_topk_hof",
    "ivf_ann_topk_hof",
    "embedding_near_dup_vectorized",
    "minhash_signatures_fast",
    "minhash_dedup_fast",
    "simhash_band_neardup_fast",
    "semdedup_fast",
    "embedding_pca",
    "pq_ann_topk",
    "pq_ann_topk_fixed",
    "ivfpq_trained_recall",
    "stream_ivfpq_ingest_exec",
    "ivfpq_index_rebuild",
    "ivfpq_index_compaction",
    "snapshot_expire_age",
    "frequent_item_pairs",
    "ivfpq_index_topk_batch",
    "quantile_sketch",
    "image_features",
    "image_resize",
    "frame_sample",
    "audio_chunks",
    "audio_features",
]


def _reorder_registry() -> None:
    missing = [n for n in _PRIORITY if n not in REGISTRY]
    extra = [n for n in REGISTRY if n not in _PRIORITY]
    if missing or extra:
        raise RuntimeError(f"registry/priority drift: missing={missing} extra={extra}")
    ordered = {n: REGISTRY[n] for n in _PRIORITY}
    REGISTRY.clear()
    REGISTRY.update(ordered)


_reorder_registry()
