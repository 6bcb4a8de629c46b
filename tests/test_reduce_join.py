"""Golden tests for the reduce-join plan, from the reference docstring
sample (ReduceJoinJob.java:36-46, FIXTURES.md A2)."""

from __future__ import annotations

import pytest

from hadoop_app_spark.plans.reduce_join import DEPT_COLS, EMPLOYEE_COLS, reduce_join, run_reduce_join
from hadoop_app_spark.sources.tsv import read_tsv

from tests.conftest import rows_set

EMPLOYEES = "Bob\t70000\t5\nAlice\t72000\t2\nAmar\t60000\t5\nJoe\t55000\t5\n"
DEPTS = "2\tMarking\n3\tFinance\n5\tSales\n"

GOLDEN = [
    ("Alice", 2, "Marking", 72000),
    ("Amar", 5, "Sales", 60000),
    ("Bob", 5, "Sales", 70000),
    ("Joe", 5, "Sales", 55000),
]


@pytest.fixture()
def paths(tmp_path):
    e = tmp_path / "employee.tsv"
    d = tmp_path / "dept.tsv"
    e.write_text(EMPLOYEES)
    d.write_text(DEPTS)
    return str(e), str(d)


def test_docstring_golden(spark, paths):
    e, d = paths
    result = run_reduce_join(spark, e, d)
    assert result.columns == ["name", "dept_id", "dept_name", "salary"]
    assert rows_set(result) == GOLDEN


def test_inner_drops_dangling_left(spark, paths, tmp_path):
    """Employee in dept 4 (absent on the right) is dropped under the
    reference's actual (inner) semantics (SURVEY §1.3.1)."""
    e, d = paths
    with open(e, "a") as f:
        f.write("Zed\t50000\t4\n")
    assert rows_set(run_reduce_join(spark, e, d)) == GOLDEN


def test_left_compat_flag(spark, paths):
    """how='left' restores the documented LEFT JOIN intent."""
    e, d = paths
    with open(e, "a") as f:
        f.write("Zed\t50000\t4\n")
    result = run_reduce_join(spark, e, d, how="left")
    assert rows_set(result) == GOLDEN + [("Zed", 4, None, 50000)]


def test_malformed_rows_dropped(spark, paths):
    e, d = paths
    with open(e, "a") as f:
        f.write("broken\t123\n\nname\t1\t2\t3\n")  # 2 cols, 0 cols, 4 cols
    assert rows_set(run_reduce_join(spark, e, d)) == GOLDEN


def test_many_to_many(spark, tmp_path):
    """Duplicate dept_id on the right -> per-key cartesian (J3)."""
    e = tmp_path / "e.tsv"
    d = tmp_path / "d.tsv"
    e.write_text("A\t1\t5\nB\t2\t5\n")
    d.write_text("5\tX\n5\tY\n")
    result = run_reduce_join(spark, str(e), str(d))
    assert len(rows_set(result)) == 4


def test_scan_provenance_dispatch(spark, tmp_path):
    """S2/P3: one multi-path scan, rows routed by path substring, rows
    from unmatched paths dropped (ReduceJoinJob.java:106-135)."""
    import pandas as pd

    from hadoop_app_spark.sources.provenance import dispatch_by_path, read_tagged_parquet

    emp = tmp_path / "employee_dir" / "part.parquet"
    dept = tmp_path / "dept_dir" / "part.parquet"
    other = tmp_path / "other_dir" / "part.parquet"
    emp.parent.mkdir()
    dept.parent.mkdir()
    other.parent.mkdir()
    pd.DataFrame({"name": ["A", "B"], "deptno": [5, 6]}).to_parquet(emp)
    pd.DataFrame({"deptno": [5, 6], "dname": ["X", "Y"]}).to_parquet(dept)
    pd.DataFrame({"deptno": [7], "dname": ["Z"]}).to_parquet(other)

    df = read_tagged_parquet(spark, [str(emp), str(dept), str(other)])
    routed = dispatch_by_path(df, [("employee", "employee"), ("dept_dir", "dept")])
    got = rows_set(routed.select("source", "deptno"))
    assert got == [("dept", 5), ("dept", 6), ("employee", 5), ("employee", 6)]
    # unmatched path ("other_dir") dropped, and the scan is a single stage:
    # input_file_name is scan-local metadata, no shuffle in the plan
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_jsonl_roundtrip_and_corrupt_handling(spark, tmp_path):
    """JSONL source: write -> declared-schema read is lossless; a
    malformed line is dropped by default and surfaced under
    keep_corrupt=True instead of killing the job (PERMISSIVE)."""
    import pyspark.sql.functions as F

    from hadoop_app_spark.sources.jsonl import read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "en", "hello"), (2, "de", "hallo")], "doc_id long, lang string, text string"
    )
    path = str(tmp_path / "docs.jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, "doc_id long, lang string, text string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))

    # inject a malformed line next to the good ones
    bad = str(tmp_path / "mixed")
    spark.createDataFrame(
        [('{"doc_id": 3, "lang": "fr", "text": "ok"}',), ("{not json",)], "value string"
    ).coalesce(1).write.mode("overwrite").text(bad)
    clean = read_jsonl(spark, bad, "doc_id long, lang string, text string")
    assert [r.doc_id for r in clean.collect()] == [3]
    kept = read_jsonl(spark, bad, "doc_id long, lang string, text string", keep_corrupt=True)
    corrupt = kept.where(F.col("_corrupt_record").isNotNull()).collect()
    assert len(corrupt) == 1 and corrupt[0]._corrupt_record == "{not json"


def test_read_tsv_metacharacter_separators(spark, tmp_path):
    """A separator is split on literally: regex metacharacters, a
    backslash and a quote survive the SQL text the reader is built from."""
    for i, sep in enumerate(["|", ".", "$", "\\", "'", "\x01"]):
        p = tmp_path / f"sep{i}.txt"
        p.write_text(f"1{sep}a{sep}25\n3{sep}b\n")
        df = read_tsv(spark, str(p), [("id", "int"), ("name", "string"), ("x", "long")], sep=sep)
        assert [tuple(r) for r in df.collect()] == [(1, "a", 25)], repr(sep)
