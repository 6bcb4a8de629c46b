"""Tests of the benchmark itself.

    python3 -m pytest perfbench/tests -q

The tiny-run tests start Spark once per workload and trace mode (about
five minutes on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import stream  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run([sys.executable, "perfbench/run.py", *args], cwd=cwd,
                          capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_prints_every_metric_with_its_unit(workload, trace):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", str(trace), "--tiny"])
    assert p.returncode == 0, p.stderr[-4000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-4000:]
    assert result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_work"))


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", WORKLOADS[0], "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path, timeout=60)
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _same_tree(a, b) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def _generate_all(root, seed):
    size = dict(ncdc_lines=500, depts=5, employees=200, cities=3, cars_per_city=20,
                users=30, cities_per_user=2, check_users=3)
    gen.gen_etl(os.path.join(root, "etl"), np.random.default_rng(seed), size)
    gen.gen_star(os.path.join(root, "star"), np.random.default_rng(seed), 500)
    corpus = gen.gen_corpus(np.random.default_rng(seed), 200)
    gen.write_docs(os.path.join(root, "corpus", "docs.parquet"), corpus["ids"], corpus["texts"])
    gen.write_family_map(os.path.join(root, "corpus", "families.json"), corpus)


def test_generators_give_identical_bytes_for_a_seed(tmp_path):
    for d in ("a", "b", "c"):
        _generate_all(str(tmp_path / d), 5 if d != "c" else 6)
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def _corpus_with_exact_copies():
    corpus = gen.gen_corpus(np.random.default_rng(9), 100, exact_frac=0.3, near_frac=0.0)
    exact = [d for d, k in corpus["kind"].items() if k == "exact"]
    assert exact
    return corpus, exact


def test_kept_exact_copy_is_reported():
    corpus, exact = _corpus_with_exact_copies()
    pos = np.arange(len(corpus["ids"]))
    batches = [pos[:50], pos[50:]]
    streamed = [int(corpus["ids"][i]) for i in pos[50:]]
    # keep the whole stream and the seed: every exact copy survives
    checks, recall, *_ = stream.judge(corpus, batches, streamed,
                                      streamed + [int(corpus["ids"][i]) for i in pos[:50]])
    assert dict((n, ok) for n, ok, _ in checks)["exact_copies_dropped"] is False
    assert recall == 0.0


def test_dropped_exact_copies_pass():
    corpus, exact = _corpus_with_exact_copies()
    family, ids = corpus["family"], corpus["ids"]
    pos = np.arange(len(ids))
    batches = [pos[:50], pos[50:]]
    # keep only the first arrival of each family
    seen, kept_seed, kept_stream = set(), [], []
    for bi, b in enumerate(batches):
        for i in sorted(b, key=lambda i: int(ids[i])):
            d = int(ids[i])
            if family[d] not in seen:
                seen.add(family[d])
                (kept_seed if bi == 0 else kept_stream).append(d)
    checks, recall, false_drop, planted, _ = stream.judge(
        corpus, batches, kept_stream, kept_seed + kept_stream)
    assert all(ok for _, ok, _ in checks), checks
    assert planted > 0 and recall == 1.0 and false_drop == 0.0
