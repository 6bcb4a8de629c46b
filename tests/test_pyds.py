"""The NCDC stream path that the `stream_pyds_exec` entry runs:
Spark's text file source (`readStream.text`) parsed by
`parse_fixed_width`, with offsets kept in the checkpoint and intake
paced by `maxFilesPerTrigger` under `availableNow`."""

from __future__ import annotations

import os

from hadoop_app_spark.sources.ncdc import FixedWidthField, parse_fixed_width

TEMPLATE = (
    "0043011990999991950051518004+68750+023550FM-12+038299999V0203201N0026"
    "1220001CN9999999N9-00111+99999999999"
)

INT_FIELDS = (
    FixedWidthField("year", 15, 19, "int"),
    FixedWidthField("temp", 87, 92, "int"),
    FixedWidthField("quality", 92, 93, "int"),
)


def _mkline(year: int, temp: int, quality: int) -> str:
    t = f"{'-' if temp < 0 else '+'}{abs(temp):04d}"
    return TEMPLATE[:15] + str(year) + TEMPLATE[19:87] + t + str(quality) + TEMPLATE[93:]


def _write_lines(path, lines) -> None:
    path.write_text("\n".join(lines) + "\n")


def _drain(spark, src, ck, qname, max_files):
    """Run one availableNow query over `src` counting rows per year;
    return the sink's counts and the row count of each data micro-batch
    in batch order."""
    stream = spark.readStream.option("maxFilesPerTrigger", max_files).text(str(src))
    q = (
        parse_fixed_width(stream, INT_FIELDS)
        .groupBy("year")
        .count()
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = sorted(q.recentProgress, key=lambda p: p["batchId"])
    batches = [p["numInputRows"] for p in progress if p["numInputRows"]]
    got = {r.year: r["count"] for r in spark.table(qname).collect()}
    spark.catalog.dropTempView(qname)
    return got, batches


def test_stream_reads_and_resumes_from_checkpoint(spark, tmp_path):
    """A file added after the first availableNow drain folds in only its
    own rows on restart from the same checkpoint."""
    src, ck = tmp_path / "src", str(tmp_path / "ck")
    src.mkdir()
    _write_lines(src / "f000.txt", [_mkline(1950 + i % 3, i, i % 10) for i in range(90)])
    _write_lines(src / "f001.txt", [_mkline(1960, -i, 5) for i in range(30)])

    got, _ = _drain(spark, src, ck, "ncdc_s1", 2)
    assert got == {1950: 30, 1951: 30, 1952: 30, 1960: 30}
    _write_lines(src / "f002.txt", [_mkline(1970, i, 1) for i in range(12)])
    got, batches = _drain(spark, src, ck, "ncdc_s2", 2)
    assert got == {1950: 30, 1951: 30, 1952: 30, 1960: 30, 1970: 12}
    assert batches == [12]


def test_stream_paced_intake_runs_multiple_microbatches(spark, tmp_path):
    """maxFilesPerTrigger=1 over a 2-file backlog drains in two data
    micro-batches, one per file, rather than one drain-everything batch."""
    src = tmp_path / "src"
    src.mkdir()
    _write_lines(src / "f000.txt", [_mkline(1950, i, 1) for i in range(40)])
    _write_lines(src / "f001.txt", [_mkline(1960, i, 1) for i in range(20)])
    # the file source admits files oldest first; set the order explicitly
    mtime = os.stat(src / "f001.txt").st_mtime
    os.utime(src / "f000.txt", (mtime - 10, mtime - 10))

    got, batches = _drain(spark, src, str(tmp_path / "ck"), "ncdc_paced", 1)
    assert got == {1950: 40, 1960: 20}
    assert batches == [40, 20]
