"""Tests of the benchmark itself (not of the package it measures).

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke runs start Spark, so the whole file takes a few minutes.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def run_bench(*args: str, work: str, cwd: str = ROOT, timeout: int = 400):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args, "--work", work]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=timeout)


def result_of(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_checksum_matches_spark_values():
    # values Spark 4 returns for the same expressions
    seed = np.full(1, 42, dtype=np.uint64)
    signed = lambda h: int(h.view(np.int64)[0])  # noqa: E731
    with np.errstate(over="ignore"):
        assert signed(gen.xxh64_int(np.array([5]), seed)) == 504019808641096632
        assert signed(gen.xxh64_int(np.array([-1]), seed)) == 2017008487422258757
        assert signed(gen.xxh64_long(np.array([5]), seed)) == 6251837290343458373
    assert signed(gen.row_hashes([(1, "abc")], ("int", "str"))) == -4526512323350539697
    assert gen.crc32("é") == 235179326


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_identical_inputs(workload, tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.generate(workload, 7, a, tiny=True)
    gen.generate(workload, 7, b, tiny=True)
    gen.generate(workload, 8, c, tiny=True)
    cmp = filecmp.dircmp(a, b)

    def identical(d) -> bool:
        _, mismatch, errors = filecmp.cmpfiles(d.left, d.right, d.common_files, shallow=False)
        return (not d.left_only and not d.right_only and not mismatch and not errors
                and all(identical(s) for s in d.subdirs.values()))

    assert identical(cmp)
    with open(os.path.join(a, "truth.json")) as fa, open(os.path.join(c, "truth.json")) as fc:
        assert json.load(fa) != json.load(fc)


@pytest.mark.parametrize("trace", (0, 1))
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_tiny_run_emits_every_metric_with_its_unit(workload, trace, tmp_path):
    proc = run_bench("--workload", workload, "--seed", "3", "--seconds", "1",
                     "--trace", str(trace), "--tiny", work=str(tmp_path))
    out = result_of(proc)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    listed = BENCH["per_layer" if trace else "end_to_end"]
    assert list(out["metrics"]) == [m["name"] for m in listed]
    for m in listed:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        assert f"{workload} {m['name']} = " in proc.stdout
    if not trace:
        assert f"{workload} fail_ratio = 0 1" in proc.stdout


def test_corrupted_truth_makes_fail_ratio_positive(tmp_path):
    work = str(tmp_path)
    import run

    path, truth = run.inputs_for("log_scan", 5, True, work)
    truth["partitions"][0]["h"] ^= 1
    with open(os.path.join(path, "truth.json"), "w") as fh:
        json.dump(truth, fh)
    proc = run_bench("--workload", "log_scan", "--seed", "5", "--seconds", "1",
                     "--trace", "0", "--tiny", work=work)
    out = result_of(proc)
    assert out["failed"] > 0 and not out["correct"]
    ratio = [ln for ln in proc.stdout.splitlines() if ln.startswith("log_scan fail_ratio = ")]
    assert ratio and float(ratio[0].split()[3]) > 0


def test_fails_without_the_package(tmp_path):
    bare = tmp_path / "bare"
    bare.mkdir()
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, bare / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    proc = run_bench("--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                     "--seconds", "1", "--trace", "0", work=str(tmp_path / "w"),
                     cwd=str(bare), timeout=180)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
