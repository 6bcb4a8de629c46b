"""Golden tests for the MaxTemperature plan, mirroring the reference's
MRUnit cases (TemperatureTest.java:19-30) and the input/micro dataset
(FIXTURES.md A1)."""

from __future__ import annotations

from pathlib import Path

import pytest
from pyspark.sql import Row

from hadoop_app_spark.plans.max_temperature import max_temperature, run_max_temperature
from hadoop_app_spark.sources.ncdc import (
    FixedWidthField,
    parse_fixed_width,
    read_fixed_width,
    read_ncdc,
)

from tests.conftest import rows_set

# the reference's 4-line input/micro, committed: NCDC_LINE with years
# 1950-1953 and temperatures -11..-14 at the FIXTURES.md A1 positions
MICRO = str(Path(__file__).parent / "fixtures" / "ncdc_micro.txt")

# the canonical MRUnit mapper input line (TemperatureTest.java:20-21)
NCDC_LINE = (
    "0043011990999991950051518004+68750+023550FM-12+038299999V0203201N00261220001CN9999999N9-00111+99999999999"
)

# year, signed temp and the quality digit after it, all as int
INT_FIELDS = (
    FixedWidthField("year", 15, 19, "int"),
    FixedWidthField("temp", 87, 92, "int"),
    FixedWidthField("quality", 92, 93, "int"),
)


def _mkline(year: int, temp: int, quality: int) -> str:
    t = f"{'-' if temp < 0 else '+'}{abs(temp):04d}"
    return NCDC_LINE[:15] + str(year) + NCDC_LINE[19:87] + t + str(quality) + NCDC_LINE[93:]


def _write_lines(path, lines) -> str:
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_mapper_golden(spark, tmp_path):
    """NCDC line -> ("1950", -11), the MRUnit MapDriver case."""
    p = tmp_path / "one.txt"
    p.write_text(NCDC_LINE + "\n")
    df = read_ncdc(spark, str(p))
    assert df.collect() == [Row(year="1950", temp=-11)]


def test_reducer_golden(spark):
    """("1950", [10, 5]) -> ("1950", 10), the MRUnit ReduceDriver case."""
    df = spark.createDataFrame([("1950", 10), ("1950", 5)], "year string, temp int")
    assert max_temperature(df).collect() == [Row(year="1950", max_temp=10)]


def test_positive_temperature(spark, tmp_path):
    """'+0011' parses to 11 (sign-aware cast, SURVEY §1.3.3)."""
    line = NCDC_LINE[:87] + "+0011" + NCDC_LINE[92:]
    p = tmp_path / "pos.txt"
    p.write_text(line + "\n")
    assert read_ncdc(spark, str(p)).collect() == [Row(year="1950", temp=11)]


def test_short_line_dropped(spark, tmp_path):
    p = tmp_path / "short.txt"
    p.write_text("too short\n" + NCDC_LINE + "\n")
    assert read_ncdc(spark, str(p)).count() == 1


def test_micro_end_to_end(spark, tmp_path):
    """Full job on input/micro: {1950:-11, 1951:-12, 1952:-13, 1953:-14}."""
    out = str(tmp_path / "out")
    result = run_max_temperature(spark, MICRO, out)
    assert rows_set(result) == [("1950", -11), ("1951", -12), ("1952", -13), ("1953", -14)]
    # sink shape: year\tmax lines (S8)
    import glob

    lines = sorted(
        line
        for f in glob.glob(out + "/part-*")
        for line in open(f).read().splitlines()
    )
    assert lines == ["1950\t-11", "1951\t-12", "1952\t-13", "1953\t-14"]


def test_reference_micro_golden(spark):
    """The reference's own input/micro through the int-field parser:
    the year -> temp pairs run_max_temperature aggregates."""
    got = {r.year: r.temp for r in read_fixed_width(spark, MICRO, INT_FIELDS).collect()}
    assert got == {1950: -11, 1951: -12, 1952: -13, 1953: -14}


def test_int_fields_parity_with_reference_mapper(spark, tmp_path):
    """600 lines parse to what MaxTemperatureMapper.java:16-23 computes
    in Python, and to read_ncdc's (year, temp) with the year as a string."""
    lines = [_mkline(1950 + i % 8, (i % 300) * (-1 if i % 3 else 1), i % 10) for i in range(600)]
    path = _write_lines(tmp_path / "u.txt", lines)
    got = sorted(map(tuple, read_fixed_width(spark, path, INT_FIELDS).collect()))
    assert got == sorted((int(ln[15:19]), int(ln[87:92]), int(ln[92])) for ln in lines)
    assert sorted(map(tuple, read_ncdc(spark, path).collect())) == sorted(
        (str(y), t) for y, t, _ in got
    )


GOOD = _mkline(1950, -11, 5)


@pytest.mark.parametrize(
    "lines, expected",
    [
        ([GOOD, "short"], [(1950, -11, 5)]),
        ([GOOD, None], [(1950, -11, 5)]),
        ([NCDC_LINE[:15] + "YYYY" + "x" * 74], []),
        ([_mkline(1960, 42, 5), "short", _mkline(1961, -7, 3)], [(1960, 42, 5), (1961, -7, 3)]),
        (["GARBAGE", NCDC_LINE[:15] + "YYYY" + "x" * 74, None, GOOD], [(1950, -11, 5)]),
        ([], []),
    ],
    ids=["short_line", "null", "non_numeric_year", "ragged", "garbage_rows", "empty"],
)
def test_malformed_lines_dropped(spark, tmp_path, lines, expected):
    """Lines whose int fields do not parse are dropped, both from an
    in-memory line column and from a text file (FIXTURES.md A1)."""
    df = spark.createDataFrame([(ln,) for ln in lines], "line string")
    assert sorted(map(tuple, parse_fixed_width(df, INT_FIELDS, "line").collect())) == expected
    if None not in lines:
        path = _write_lines(tmp_path / "f.txt", lines)
        assert sorted(map(tuple, read_fixed_width(spark, path, INT_FIELDS).collect())) == expected


def test_compressed_text_read_gz(spark, tmp_path):
    """S13: compressed-text ingest decompresses transparently by
    extension through the Hadoop codec factory (.gz exercises the same
    path the reference's LZO classpath entry did)."""
    import gzip

    from hadoop_app_spark.sources.codecs import is_splittable, read_text
    from hadoop_app_spark.sources.ncdc import NCDC_FIELDS, parse_fixed_width

    line = "0" * 15 + "1950" + "x" * 68 + "+0011" + "0" * 10
    p = tmp_path / "ncdc.txt.gz"
    p.write_bytes(gzip.compress((line + "\n" + line + "\n").encode()))

    df = read_text(spark, str(p))
    assert df.count() == 2
    parsed = parse_fixed_width(df, NCDC_FIELDS).collect()
    assert [(r.year, r.temp) for r in parsed] == [("1950", 11), ("1950", 11)]

    # plain text through the same entry point
    q = tmp_path / "plain.txt"
    q.write_text(line + "\n")
    assert read_text(spark, str(q)).count() == 1

    assert not is_splittable("part-0.gz")
    assert is_splittable("part-0.bz2") and is_splittable("part-0.txt")


def test_compressed_text_nonsplittable_warning(spark, tmp_path):
    import gzip
    import warnings as _warnings

    from hadoop_app_spark.sources import codecs

    p = tmp_path / "big.txt.gz"
    p.write_bytes(gzip.compress(b"line\n" * 100))
    old = codecs._NON_SPLITTABLE_WARN_BYTES
    codecs._NON_SPLITTABLE_WARN_BYTES = 10  # force the threshold
    try:
        with _warnings.catch_warnings(record=True) as caught:
            _warnings.simplefilter("always")
            codecs.read_text(spark, str(p)).count()
        assert any("ONE task" in str(w.message) for w in caught)
    finally:
        codecs._NON_SPLITTABLE_WARN_BYTES = old
