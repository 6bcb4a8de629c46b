"""Fixed-width text sources (NCDC weather records).

Reference behavior (MaxTemperatureMapper.java:16-23): each line is a
fixed-width NCDC record; year = chars [15,19), air temperature =
chars [87,92) parsed sign-aware ("+0011" -> 11, "-0011" -> -11).
No missing-value (+9999) or quality filtering exists in the reference
(SURVEY §1.3.3) — we match that by default and expose it as an option.

Spark-first design: a tiny fixed-width spec over ``spark.read.text``;
every field is an ``F.substring`` projection (JVM-side, codegen'd), so
the scan stays a single narrow stage with column pruning intact.
``parse_fixed_width`` is the engine's one fixed-width parser: it takes
any DataFrame with a line column, so batch files (``read_fixed_width``),
a ``readStream.text`` stream and in-memory lines share it.
Note Spark ``substring`` is 1-based vs Java's 0-based (SURVEY §2.7 F1).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass(frozen=True)
class FixedWidthField:
    """A [start, end) char span (0-based, Java-style) with a target type."""

    name: str
    start: int  # 0-based inclusive
    end: int  # 0-based exclusive
    dtype: str = "string"


NCDC_FIELDS = (
    FixedWidthField("year", 15, 19, "string"),
    FixedWidthField("temp", 87, 92, "int"),  # sign-aware; cast('int') accepts '+'
)


def parse_fixed_width(df: DataFrame, fields: tuple[FixedWidthField, ...], line_col: str = "value") -> DataFrame:
    """Project fixed-width fields out of a line column.

    Lines shorter than a field's span yield empty substrings -> null
    after cast, which we drop (the reference would throw on short lines;
    dropping is the documented decision, FIXTURES.md A1).
    """
    cols = []
    for f in fields:
        c = F.substring(F.col(line_col), f.start + 1, f.end - f.start)
        if f.dtype != "string":
            # try_cast: lenient null-on-garbage even under ANSI mode
            c = c.try_cast(f.dtype)
        cols.append(c.alias(f.name))
    out = df.select(*cols)
    # drop rows where any non-string cast failed (short/garbled line)
    for f in fields:
        if f.dtype != "string":
            out = out.where(F.col(f.name).isNotNull())
    return out


def read_fixed_width(
    spark: SparkSession, path: str | list[str], fields: tuple[FixedWidthField, ...]
) -> DataFrame:
    """Line scan + fixed-width projection in one call (S1+S3)."""
    return parse_fixed_width(spark.read.text(path), fields)


def read_ncdc(spark: SparkSession, path: str | list[str], quality_filter: bool = False) -> DataFrame:
    """NCDC weather scan -> DataFrame[year: string, temp: int].

    ``quality_filter=True`` additionally drops the +9999 missing
    sentinel (the canonical Tom White behavior the reference omits).
    """
    df = read_fixed_width(spark, path, NCDC_FIELDS)
    if quality_filter:
        df = df.where(F.col("temp") != 9999)
    return df
