"""Golden tests for the MaxTemperature plan, mirroring the reference's
MRUnit cases (TemperatureTest.java:19-30) and the input/micro dataset
(FIXTURES.md A1)."""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import Row

from hadoop_app_spark.plans.max_temperature import max_temperature, run_max_temperature
from hadoop_app_spark.sources.ncdc import read_ncdc

from tests.conftest import rows_set

# the reference's 4-line input/micro, committed: NCDC_LINE with years
# 1950-1953 and temperatures -11..-14 at the FIXTURES.md A1 positions
MICRO = str(Path(__file__).parent / "fixtures" / "ncdc_micro.txt")

# the canonical MRUnit mapper input line (TemperatureTest.java:20-21)
NCDC_LINE = (
    "0043011990999991950051518004+68750+023550FM-12+038299999V0203201N00261220001CN9999999N9-00111+99999999999"
)


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
