"""The catalog's declared schemas against the files they describe.

``load_table`` reads with a declared schema, so a column that the files
renamed or dropped would read as nulls instead of failing. These tests
compare every declaration with what ``spark.read.parquet`` infers from
the files, and check that a declared load starts no Spark job.
"""

from __future__ import annotations

import glob
import importlib.util
import os
import time

import numpy as np
import pytest

from hadoop_app_spark.catalog import TABLES, load_table

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))
GEN_PY = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "gen.py")


def _drift(spark, sf_dir, tables):
    """{table: (declared, inferred)} for every table whose declared schema
    differs from the one inferred from its file."""
    out = {}
    for t in tables:
        declared = load_table(spark, sf_dir, t).schema
        inferred = spark.read.parquet(f"{sf_dir}/{t}.parquet").schema
        if declared != inferred:
            out[t] = (declared.simpleString(), inferred.simpleString())
    return out


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_declared_schemas_match_testdata(spark, sf_dir):
    assert _drift(spark, sf_dir, TABLES) == {}


def test_declared_schemas_match_perfbench_star(spark, tmp_path):
    spec = importlib.util.spec_from_file_location("perfbench_gen", GEN_PY)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    root = gen.gen_star(str(tmp_path), np.random.default_rng(0), 2000)
    star = sorted(p[: -len(".parquet")] for p in os.listdir(root))
    assert len(star) == 7
    assert _drift(spark, root, star) == {}


def _group_jobs(sc, group, timeout_s=30.0):
    """Job ids recorded for *group* once the status store has caught up:
    listener events arrive in order, so when a sentinel job started after
    *group*'s work is visible, every earlier job of *group* is too."""
    sentinel = f"{group}-sentinel"
    sc.setJobGroup(sentinel, "status-store barrier")
    sc.parallelize([0], 1).count()
    deadline = time.monotonic() + timeout_s
    while not sc.statusTracker().getJobIdsForGroup(sentinel):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_load_table_starts_no_job(spark):
    sc = spark.sparkContext
    sf_dir = SF_DIRS[0]
    try:
        sc.setJobGroup("catalog-declared", "load every table")
        for t in TABLES:
            load_table(spark, sf_dir, t).schema
        declared_jobs = _group_jobs(sc, "catalog-declared")
        # control: the tracker does see the job an inferring read starts
        sc.setJobGroup("catalog-inferred", "infer one schema")
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        inferred_jobs = _group_jobs(sc, "catalog-inferred")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert declared_jobs == []
    assert inferred_jobs != []
