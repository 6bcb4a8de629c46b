"""Unit tests for the oracle-check type-drift guard.

Round-2 postmortem: `math_functions` and `source_stats` were value-exact
(Python ``68423 == 68423.0``) yet hash-red in the driver, because the
driver hashes *formatted* cells and DuckDB's floor()/ceil() return DOUBLE
while Spark's return BIGINT (and DuckDB sum(int) returns HUGEINT).  The
guard must flag any int/float/decimal/bool class drift per column so the
next dialect divergence fails locally before a round lands.
"""

import datetime
import decimal

import pytest

from tools.oracle_check import _kind, type_drift


def test_uncast_floor_is_flagged():
    # Spark floor() -> BIGINT (int), DuckDB floor() -> DOUBLE (float).
    spark_rows = [(1, 68423), (2, 901)]
    duck_rows = [(1, 68423.0), (2, 901.0)]
    drift = type_drift(spark_rows, ["k", "price_floor"], duck_rows, ["k", "price_floor"])
    assert drift == [("price_floor", ["int"], ["float"])]


def test_matching_types_pass():
    assert type_drift([(1, 1.5)], ["k", "v"], [(1, 1.5)], ["k", "v"]) == []


def test_decimal_vs_float_is_flagged():
    drift = type_drift([(1.5,)], ["v"], [(decimal.Decimal("1.5"),)], ["v"])
    assert drift == [("v", ["float"], ["decimal"])]


def test_nulls_are_ignored_but_values_still_compared():
    # None cells carry no type signal; the remaining ints must agree.
    assert type_drift([(None,), (3,)], ["v"], [(3,), (None,)], ["v"]) == []
    assert type_drift([(None,), (3,)], ["v"], [(3.0,), (None,)], ["v"]) == [
        ("v", ["int"], ["float"])
    ]


def test_column_order_independent():
    # Same columns in different physical order must align by name.
    assert type_drift([(1, "x")], ["n", "s"], [("x", 1)], ["s", "n"]) == []


@pytest.mark.parametrize(
    "value,kind",
    [
        (True, "bool"),
        (3, "int"),
        (3.0, "float"),
        (decimal.Decimal("3"), "decimal"),
        (datetime.date(2024, 1, 1), "date"),
        (datetime.datetime(2024, 1, 1), "datetime"),
        ([1, 2], "list"),
        ("s", "str"),
    ],
)
def test_kind_classes(value, kind):
    # bool is an int subclass — must classify before int.
    assert _kind(value) == kind


def test_uncast_hugeint_sum_is_flagged():
    """r8 postmortem: `nation_pagerank` shipped an oracle whose final
    column was un-cast HUGEINT (`sum(BIGINT)` widens, `85 * s // 100`
    stays HUGEINT). `fetchall()` hands HUGEINT back as a Python int —
    so `type_drift` was structurally blind — but the DRIVER fetches
    via `.df()`, where pandas converts HUGEINT to float64 and the
    formatted-value hash diverges. The guard must catch the un-cast
    form and pass the CAST convention every other oracle follows."""
    import duckdb

    from tools.oracle_check import hugeint_cols

    con = duckdb.connect()
    uncast = "SELECT 85 * sum(x) // 100 AS rank_scaled FROM (VALUES (1),(2)) v(x)"
    assert hugeint_cols(con, uncast) == ["rank_scaled"]
    cast = (
        "SELECT CAST(85 * sum(x) // 100 AS BIGINT) AS rank_scaled "
        "FROM (VALUES (1),(2)) v(x)"
    )
    assert hugeint_cols(con, cast) == []


def test_no_registry_oracle_emits_hugeint():
    """Registry-wide sweep: DESCRIBE every oracle against the sf0.001
    views and assert no result column is HUGEINT/UHUGEINT — the class
    the driver's pandas canonicalizer silently floats (r8
    nation_pagerank). Pure-DuckDB, no Spark session needed."""
    import duckdb

    from hadoop_app_spark.catalog import TABLES
    from hadoop_app_spark.queries import REGISTRY
    from tools.oracle_check import hugeint_cols

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    bad = {}
    for name, qd in REGISTRY.items():
        if qd.oracle is None:
            continue
        cols = hugeint_cols(con, qd.oracle)
        if cols:
            bad[name] = cols
    assert bad == {}, f"oracles with HUGEINT result columns (driver hash WILL differ): {bad}"


def test_gated_queries_emit_scalar_schemas_only(spark):
    """No first-DRIVER_GATE_SIZE registry query may output an array/
    map/struct column: the DRIVER's canonicalizer pandas-sorts and
    str-hashes cells and crashes on complex types ('unhashable type:
    list' — the r6 inverted_index ERR). tools/oracle_check.py enforces
    the same at check time; this pins it at test time so a rotation
    can never ship a complex-typed gated row again.

    Streaming-exec builders run their stream to completion at
    sf0.001 — bounded and already exercised by the streaming tests,
    so including them here keeps the stream rows (which DO sit in the
    gate) covered rather than a blind spot."""
    from hadoop_app_spark.queries import DRIVER_GATE_SIZE, REGISTRY
    from tools.oracle_check import complex_cols

    bad = {}
    for name, qd in list(REGISTRY.items())[:DRIVER_GATE_SIZE]:
        df = qd.fn(spark, "/root/testdata/sf0.001")
        cols = complex_cols(df.schema)
        if cols:
            bad[name] = cols
    assert bad == {}, f"gated queries with driver-crashing complex columns: {bad}"


def test_rotation_age_report_runs_and_is_complete(capsys):
    """--rotation-age (VERDICT r10 item 9): the report parses
    BASELINE.md's rotation history, covers EVERY registry entry exactly
    once, and puts never-driver-checked entries at the head of the
    swap-in section."""
    import re

    from tools.oracle_check import rotation_age

    rc = rotation_age()
    assert rc == 0
    out = capsys.readouterr().out
    from hadoop_app_spark.queries import DRIVER_GATE_SIZE, REGISTRY

    listed = re.findall(r"^ +(?:\d+ rounds|never) +([a-z0-9_]+)", out, re.M)
    assert sorted(listed) == sorted(REGISTRY), (
        set(REGISTRY) ^ set(listed)
    )
    gated_section = out.split("## ungated")[0]
    assert len(re.findall(r"^  ", gated_section, re.M)) == DRIVER_GATE_SIZE
    # the never-checked block leads the ungated section
    ungated = out.split("## ungated")[1].strip().splitlines()
    first_aged = next(
        i for i, line in enumerate(ungated) if not line.startswith("  never")
    )
    assert all(line.startswith("  never") for line in ungated[:first_aged])


# each similarity operator's registry entry -> the name that once ran its
# second kernel and is now an alias of the same entry
SIMILARITY_ALIASES = {
    "cosine_topk": "cosine_topk_vectorized",
    "lsh_ann_topk": "lsh_ann_topk_hof",
    "ivf_ann_topk": "ivf_ann_topk_hof",
    "embedding_near_dup": "embedding_near_dup_vectorized",
    "winnow_neardup": "winnow_neardup_hof",
}


def _assert_matches_oracle(spark, name, sf_dir):
    """REGISTRY[name] on Spark reproduces its DuckDB oracle exactly on
    the parquet under sf_dir (the views tools/oracle_check.py creates):
    same columns, no per-column type drift, equal rows."""
    import duckdb

    from hadoop_app_spark.catalog import TABLES
    from hadoop_app_spark.queries import REGISTRY
    from tools.oracle_check import hugeint_cols, rows_key

    qd = REGISTRY[name]
    df = qd.fn(spark, sf_dir)
    srows, scols = [tuple(r) for r in df.collect()], df.columns
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    res = con.execute(qd.oracle)
    dcols, drows = [d[0] for d in res.description], res.fetchall()
    assert srows, name
    assert sorted(scols) == sorted(dcols)
    assert hugeint_cols(con, qd.oracle) == []
    assert type_drift(srows, scols, drows, dcols) == []
    assert rows_key(srows, scols, None) == rows_key(drows, dcols, None)


@pytest.mark.parametrize("name", sorted(SIMILARITY_ALIASES))
def test_similarity_entries_match_oracle(spark, name):
    """The one kernel behind each similarity operator reproduces its
    DuckDB oracle exactly at sf0.01, and the alias runs that same entry."""
    from hadoop_app_spark.queries import REGISTRY
    from tests.test_recall import SF as sf_dir

    qd = REGISTRY[name]
    assert REGISTRY[SIMILARITY_ALIASES[name]].fn is qd.fn
    assert REGISTRY[SIMILARITY_ALIASES[name]].oracle == qd.oracle
    _assert_matches_oracle(spark, name, sf_dir)


# registry entries registered with queries.sql_query: Spark runs the
# oracle text itself, so DuckDB checks the same SQL on a second engine
SQL_TEXT_ENTRIES = (
    # the 22 TPC-H shapes
    "pricing_summary", "min_cost_supplier", "shipping_priority",
    "order_priority_check", "local_supplier_volume", "forecast_revenue_change",
    "volume_shipping", "nation_market_share", "product_type_profit",
    "returned_item_report", "important_part_value", "late_line_priority",
    "customer_order_distribution", "promo_revenue", "top_supplier",
    "parts_supplier_count", "small_qty_avg_yearly", "large_volume_customer",
    "disjunctive_bundle_revenue", "dominant_part_suppliers",
    "suppliers_kept_waiting", "global_sales_opportunity",
    # plain joins, aggregates, windows, set operations and scalar functions
    "max_per_group", "inner_equi_join", "broadcast_dim_join", "minmax_normalize",
    "pivot_wide", "outer_joins", "set_operations", "math_functions",
    "string_functions", "cross_range_joins", "event_dedup",
)


class _SqlRecorder:
    """A SparkSession stand-in that records the text of each spark.sql."""

    def __init__(self, spark):
        self._spark = spark
        self.texts = []

    def __getattr__(self, attr):
        return getattr(self._spark, attr)

    def sql(self, text):
        self.texts.append(text)
        return self._spark.sql(text)


@pytest.mark.parametrize("name", SQL_TEXT_ENTRIES)
def test_sql_text_entries_match_oracle(spark, name):
    """The entry's fn runs exactly its oracle text on Spark, no
    DataFrame builder is left beside it, and Spark's rows equal
    DuckDB's at sf0.01."""
    from hadoop_app_spark import queries
    from tests.test_recall import SF as sf_dir

    rec = _SqlRecorder(spark)
    queries.REGISTRY[name].fn(rec, sf_dir)
    assert rec.texts == [queries.REGISTRY[name].oracle]
    assert not hasattr(queries, f"q_{name}")
    _assert_matches_oracle(spark, name, sf_dir)


def test_sql_text_frame_keeps_its_sf_dir(spark):
    """Each call re-registers the table views on its own sf_dir. A frame
    built earlier on another sf_dir still reads its own files, because
    spark.sql analyses its text when it is called."""
    import duckdb

    from hadoop_app_spark.queries import REGISTRY

    qd = REGISTRY["math_functions"]  # one row per lineitem row
    sf_dirs = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    want = [
        duckdb.sql(f"SELECT count(*) FROM '{sf}/lineitem.parquet'").fetchone()[0]
        for sf in sf_dirs
    ]
    assert want[0] != want[1]
    frames = [qd.fn(spark, sf) for sf in sf_dirs]
    assert len(frames[1].collect()) == want[1]
    assert len(frames[0].collect()) == want[0]


def test_sql_text_entry_restores_caller_views(spark):
    """Running a SQL-text entry leaves the session's temp views as it
    found them: a caller's view under a catalog table name comes back,
    a view the call created is dropped, and no step starts a Spark job."""
    import duckdb

    from hadoop_app_spark.catalog import load_table
    from hadoop_app_spark.queries import REGISTRY
    from tests.test_catalog import SF_DIRS, _group_jobs

    small, big = SF_DIRS[:2]  # sf0.001, sf0.01
    want = duckdb.sql(f"SELECT count(*) FROM '{small}/lineitem.parquet'").fetchone()[0]
    load_table(spark, small, "lineitem").createOrReplaceTempView("lineitem")
    spark.catalog.dropTempView("orders")
    sc = spark.sparkContext
    try:
        sc.setJobGroup("sql-text-views", "one SQL-text entry")
        REGISTRY["shipping_priority"].fn(spark, big)  # customer, orders, lineitem
        jobs = _group_jobs(sc, "sql-text-views")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert jobs == []
    assert spark.sql("SELECT count(*) FROM lineitem").collect()[0][0] == want
    assert not spark.catalog.tableExists("orders")
    spark.catalog.dropTempView("lineitem")


# entries that run the one fixed-width parser, sources/ncdc.parse_fixed_width
NCDC_ENTRIES = ("pyds_ncdc_scan", "stream_pyds_exec", "udtf_ncdc_parse")


def test_ncdc_entries_leave_session_conf_unchanged(spark):
    """Running the NCDC entries changes no session conf: a caller's
    streaming progress interval and Python-source pushdown setting are
    what they were before the calls."""
    from hadoop_app_spark.queries import REGISTRY
    from tests.test_catalog import SF_DIRS

    pinned = {
        "spark.sql.streaming.noDataProgressEventInterval": "10s",
        "spark.sql.python.filterPushdown.enabled": "false",
    }
    for k, v in pinned.items():
        spark.conf.set(k, v)
    try:
        for name in NCDC_ENTRIES:
            assert REGISTRY[name].fn(spark, SF_DIRS[0]).collect(), name
        assert {k: spark.conf.get(k) for k in pinned} == pinned
    finally:
        for k in pinned:
            spark.conf.unset(k)


@pytest.mark.parametrize("name", NCDC_ENTRIES + ("source_codecs",))
def test_ncdc_entries_match_oracle(spark, name):
    """Each entry that encodes lineitem as NCDC lines and parses them
    back reproduces its DuckDB oracle exactly at sf0.01."""
    from tests.test_recall import SF as sf_dir

    _assert_matches_oracle(spark, name, sf_dir)


# entries whose operator had two kernels and now has one, plus the names
# of the dropped twins, which are aliases of the same entry
FOLDED_KERNEL_ENTRIES = (
    "semdedup",
    "semdedup_fast_fixed",
    "repetition_ngrams",
    "repetition_ngrams_fast",
    "bpe_merges",
    "bpe_token_count",
    "exact_dedup_simhash",
    "simhash_band_neardup",
    "simhash_band_neardup_fast",
    "simhash_dedup_decisions",
    "simhash_increment",
    "simhash_reseed_increment",
    "minhash_signatures",
    "minhash_signatures_fast",
    "minhash_dedup",
    "minhash_dedup_fast",
    "minhash_dedup_decisions",
    "minhash_cluster_canonical",
    "contrastive_pairs",
    "dedup_increment",
    "index_compaction",
    "leakage_safe_split",
    "split_assignment_pinning",
    "stream_dedup_ingest_exec",
    "stream_validated_ingest_exec",
    "stream_drift_ingest_exec",
)


@pytest.mark.parametrize("name", FOLDED_KERNEL_ENTRIES)
def test_folded_kernel_entries_match_oracle(spark, name):
    """Each folded operator's one kernel reproduces its DuckDB oracle
    exactly at sf0.01."""
    from tests.test_recall import SF as sf_dir

    _assert_matches_oracle(spark, name, sf_dir)
