"""Delimiter-separated text sources with arity validation.

Reference behavior (ReduceJoinJob.java:109-133): split each line on
\\t, DROP rows whose column count differs from the declared arity
(3 for employee, 2 for dept), cast numerics with parse.

Spark-first: ``spark.read.csv`` with an explicit schema and
mode=DROPMALFORMED covers the common case; ``read_tsv`` keeps the
arity-exact semantics (a 4-column line is dropped even if the first
3 parse) via an explicit size filter, matching the reference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hadoop_app_spark.functions.metrics import observe_counts


def read_tsv(
    spark: SparkSession,
    path: str | list[str],
    columns: list[tuple[str, str]],
    sep: str = "\t",
    strict_arity: bool = True,
) -> DataFrame:
    """Read a delimited text file into typed columns.

    columns: list of (name, spark_type) in file order.
    strict_arity: drop lines whose field count != len(columns)
    (reference semantics, SURVEY §2.2 P2).
    """
    df, _ = _read_tsv(spark, path, columns, sep, strict_arity, observe=False)
    return df


def read_tsv_observed(
    spark: SparkSession,
    path: str | list[str],
    columns: list[tuple[str, str]],
    sep: str = "\t",
    strict_arity: bool = True,
) -> tuple[DataFrame, Observation]:
    """read_tsv plus A4 counters: the silent malformed-row drop becomes
    an observed metric (``rows`` in, ``malformed_dropped``) mirroring
    the reference's data-quality counters (UserNewcar.java:36)."""
    df, obs = _read_tsv(spark, path, columns, sep, strict_arity, observe=True)
    assert obs is not None
    return df, obs


def _read_tsv(
    spark: SparkSession,
    path: str | list[str],
    columns: list[tuple[str, str]],
    sep: str,
    strict_arity: bool,
    observe: bool,
) -> tuple[DataFrame, Observation | None]:
    n = len(columns)
    df = spark.read.text(path).selectExpr(f"{_split_sql('value', sep)} AS _parts")
    obs = None
    if observe:
        df, obs = observe_counts(df, malformed_dropped=F.expr(f"size(_parts) != {n}"))
    if strict_arity:
        df = df.where(f"size(_parts) = {n}")
    typed = (
        # try_cast: null on unparseable (ANSI-safe)
        f"_parts[{i}] AS `{name}`" if dtype == "string" else f"try_cast(_parts[{i}] AS {dtype}) AS `{name}`"
        for i, (name, dtype) in enumerate(columns)
    )
    return df.selectExpr(*typed), obs


def _split_sql(src: str, sep: str) -> str:
    """SQL text of ``split(src, sep, -1)`` for a LITERAL separator.
    split() takes a Java regex (same pitfall as the reference's
    String.split — SURVEY §1.3.2), so metacharacters are escaped before
    the pattern is quoted as a SQL string literal."""
    regex = "".join("\\" + ch if ch in "\\^$.|?*+()[]{}" else ch for ch in sep)
    return "split({}, '{}', -1)".format(src, regex.replace("\\", "\\\\").replace("'", "\\'"))
