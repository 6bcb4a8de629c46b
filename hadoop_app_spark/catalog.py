"""Table catalog over the driver's parquet star schema.

The reference has no catalog — schema lives implicitly in each mapper's
parsing code (SURVEY §1.1). Here every table's schema is declared once,
in ``SCHEMAS``, and every read goes through ``load_table``, so column
pruning / predicate pushdown hit the parquet scan and no read pays a
schema-inference job.

Contract: the files under ``sf_dir`` match the declared schemas — same
column names, order and types as ``spark.read.parquet`` infers. A column
the files lack would read as nulls, not fail, so
``tests/test_catalog.py`` compares the declarations with the inferred
schema of every table at each test scale factor and on perfbench's
generated star data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The three timestamps are TIMESTAMP_NTZ (the files store
# TIMESTAMP(MICROS, isAdjustedToUTC=false)): wall-clock-naive values whose
# formatting and windowing do not depend on the session timezone, matching
# the oracle's naive-timestamp semantics under any SparkSession.
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": (
        "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE,"
        " c_mktsegment STRING"
    ),
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": (
        "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING,"
        " p_size INT, p_retailprice DOUBLE"
    ),
    "orders": (
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,"
        " o_totalprice DOUBLE, o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING"
    ),
    "lineitem": (
        "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT,"
        " l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE,"
        " l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ"
    ),
    "events": (
        "event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, event_type STRING,"
        " value DOUBLE, props STRING"
    ),
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

TABLES = tuple(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one star-schema table from ``{sf_dir}/{name}.parquet`` with its
    declared schema: no footer is read and no Spark job runs until the
    frame is used. A missing path still raises ``PATH_NOT_FOUND`` here."""
    if name not in SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return spark.read.schema(SCHEMAS[name]).parquet(f"{sf_dir}/{name}.parquet")


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so the whole engine surface
    is reachable from ``spark.sql`` (SURVEY §7 design note)."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
