"""The benchmark's own tests: every workload in ``--smoke`` mode, traced
and untraced, prints a correct result carrying exactly the metric set
of BENCHMARK.json; inputs are a pure function of the seed; outside a
full checkout the benchmark exits non-zero without a result.

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=400,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_run(workload: str, trace: str) -> None:
    p = bench(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1",
              "--trace", trace, "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, p.stdout[-3000:]
    assert result["attempted"] >= 1
    spec = SPEC["end_to_end" if trace == "0" else "per_layer"]
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
        if trace == "0":
            assert got["value"] > 0, m["name"]
    if workload == "batch" and trace == "1":
        # q71's mapInPandas crosses the Python/Arrow boundary
        assert result["metrics"]["arrow.bytes_to_python"]["value"] > 0


def test_inputs_follow_the_seed(tmp_path) -> None:
    sys.path.insert(0, HERE)
    import datagen

    def digest(d: str) -> str:
        h = hashlib.sha256()
        for f in sorted(os.listdir(d)):
            with open(os.path.join(d, f), "rb") as fh:
                h.update(fh.read())
        return h.hexdigest()

    a, b, c = (str(tmp_path / x) for x in "abc")
    datagen.star_schema(a, 0.001, 1)
    datagen.star_schema(b, 0.001, 1)
    datagen.star_schema(c, 0.001, 2)
    assert digest(a) == digest(b) != digest(c)


def test_refuses_without_engine(tmp_path) -> None:
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = bench(str(tmp_path), "--workload", "batch", "--seed", "1",
              "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
